package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.canon.ConnectedComponents
import graft.extract.Extract
import graft.learn.{GenMSA, PatternStats}
import graft.link.EntityLink
import graft.mention.Sentences
import graft.model.{Annotation, Page, Pattern, SentenceAnnots, Triple}
import graft.nlp.{Annotate, Gazetteer}
import graft.sink.Materialize

/**
 * End-to-end knowledge-graph construction: the Spark-native equivalent of the
 * reference's IEDriver loop (/root/reference/src/msa/IEDriver.java:527-1363), with each
 * stage a declarative Dataset transformation instead of a JDBC status machine:
 *
 *   pages ─ annotate + sentence-group (html→text, tokens, gazetteer Lookups, grid
 *           grouping — ONE fused narrow stage, zero shuffle: a page's annotations are
 *           born co-located, so the url re-shuffle of the annotation set is gone)
 *         ─ learn: blocked all-pairs MSA on the gold slice → patterns (tiny)
 *         ─ stats: match + precision gates → final patterns (broadcast)
 *         ─ extract: mentions on ALL pages (narrow; patterns broadcast)
 *         ─ triples: sentence-local subject resolution (window argmin)
 *         ─ link + CC: exact Jaccard edges, large-star/small-star canonicalization
 *         ─ materialize: dedup, subject-bucketed partitioned write + checkpoints
 *
 * Total shuffle budget on the big (all-pages) path: one cogroup of the (small)
 * mention/subject rows for subject resolution, one groupBy for dedup — the
 * learning path only ever touches the validated slice (exactly the reference's design:
 * learning on status-1 docs, extraction on status-0, SURVEY.md §7.4.2).
 */
object KGPipeline {

  final case class Result(
      patterns: Dataset[Pattern],
      finalPatterns: Seq[Pattern],
      triples: Dataset[Triple],
      canonical: Dataset[Triple])

  /**
   * @param pages      full corpus
   * @param goldAnnots gold target-span annotations for the training slice
   * @param gaz        gazetteer for Lookup annotations (broadcast)
   */
  def run(pages: Dataset[Page], goldAnnots: Dataset[Annotation], gaz: Gazetteer,
      msaCfg: GenMSA.Config = GenMSA.Config(),
      statsCfg: PatternStats.Config = PatternStats.Config(),
      priorsCfg: graft.learn.ValueProbs.Config = graft.learn.ValueProbs.Config(),
      // which provenances count as training gold: human-validated plus spans
      // propagated onto near-duplicate docs by propagateGold (ref dupFlag pipeline)
      goldProvenances: Set[String] = Set("gold", "dup-propagated"))(
      implicit spark: SparkSession): Result = {
    import spark.implicits._

    // 1+2. fused annotate→sentence pass: tokenize + gazetteer + sentence grouping in
    // ONE narrow stage per slice — a page's annotations are born co-located, so no
    // url shuffle of the (10× text-sized) annotation set ever happens. The training
    // slice = pages having gold annotations, with the gold spans (small,
    // broadcastable by design — the reference trains on the validated sample only)
    // merged in per page before grouping.
    val goldByUrl: Map[String, Seq[Annotation]] =
      goldAnnots.collect().toSeq.groupBy(_.url)
    val goldUrls = goldAnnots.select($"url").distinct()
    val trainPages = pages.join(goldUrls, Seq("url"), "left_semi").as[Page]
    val trainSents = Annotate.annotateSentences(trainPages, gaz, goldByUrl)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 3. learn patterns on the gold slice: context profiles (profileType 0) AND target
    // profiles (profileType 1) — the reference's pair model
    val patterns = GenMSA.learn(trainSents, goldProvenances, msaCfg)
    val learned = patterns.collect().toSeq // small by construction (post minRows gate)
    // subsumption filter (ref BestPatterns.readProfiles): drop context profiles whose
    // token sequence contains a shorter surviving profile - redundant at match time
    val ctxPatterns = GenMSA.subsumptionFilter(
      learned.filter(p => p.profileType == 0 || p.profileType == 3))
    val tgtPatterns = learned.filter(_.profileType == 1)

    // 4. per-PAIR precision gates against the gold slice (ref `final` table +
    // ProfileReader per-pair gates + A3 active check)
    val matches = PatternStats.applyPatternsPaired(trainSents, ctxPatterns, tgtPatterns,
      statsCfg)
    // J5: snap ragged human-validated boundaries outward to token extents first
    val tokenSpans = trainSents.flatMap(s =>
        s.annots.filter(_.annotType == "Token").map(a => (a.url, a.begin, a.end)))
      .toDF("url", "begin", "end")
    val gold = PatternStats.snapGoldToTokens(
      goldAnnots.toDF().select($"url", $"annotType", $"begin", $"end"), tokenSpans)
    val pairStats = PatternStats.scorePairs(matches, gold, patterns, statsCfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val allowedPairs = PatternStats.keptPairs(pairStats, statsCfg)
      .join(PatternStats.activeProfiles(pairStats, statsCfg), Seq("profileId"), "left_semi")
      .select($"profileId", $"targetId", $"prec")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairStats.unpersist()
    val keptCtxIds = allowedPairs.keySet.map(_._1)
    val finalPatterns = ctxPatterns.filter(p => keptCtxIds.contains(p.profileId)).map { p =>
      val pairPrecs = allowedPairs.collect { case ((c, _), prec) if c == p.profileId => prec }
      p.copy(score = pairPrecs.max)
    }

    // 5. extract on ALL pages via pair matching. Patterns whose learned context
    // contains an entity literal before the target upgrade to two-slot relation
    // patterns — their subject is bound by the match itself (exact Lookup extent); the
    // rest go through mention extraction + sentence-local nearest-entity resolution.
    // allSents feeds both the matcher and the subject resolution join; rawTriples feeds
    // both the CC edge derivation and the final canonical output — persist both or
    // every downstream action recomputes the whole extraction (observed 7× wall-clock
    // without these. The corpus-wide pass chunks only when a surviving pattern can
    // actually match syntax labels — learning always chunks (trainSents), extraction
    // pays the per-page chunk scan only when it buys recall.
    val needSyntax = (finalPatterns ++ tgtPatterns)
      .exists(_.toks.exists(_.startsWith(":syntaxtreenode")))
    val allSents = Annotate.annotateSentences(pages, gaz, withChunks = needSyntax)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val upgraded = finalPatterns.map(p => p -> Extract.toRelationPattern(p))
    val relPatterns = upgraded.collect { case (_, Some(rel)) => rel }
    val plainPatterns = upgraded.collect { case (p, None) => p }
    val relTriples = Extract.relationTriplesPaired(allSents, relPatterns, tgtPatterns,
      allowedPairs, statsCfg.matcher)
    // value-probability priors (A6): veto mentions the validated corpus distrusts, and
    // run the dictionary single-entity pass for values it trusts
    val priorRows = graft.learn.ValueProbs.compute(trainSents, goldAnnots.toDF(), priorsCfg)
      .collect()
    val priorVeto = priorRows.map(r => ((r.getString(0), r.getString(1)), r.getLong(4))).toMap
    val dictEntries = priorRows.toSeq
      .filter(_.getLong(4) >= math.round(priorsCfg.dictThreshold * 10000))
      .map(r => (r.getString(0), r.getString(1), r.getLong(4)))
    val patMentions = Extract.applyPriors(
      Extract.mentionsPaired(allSents, plainPatterns, tgtPatterns, allowedPairs,
        statsCfg.matcher), priorVeto)
    val mentions = Extract.mergeAdjacent(Extract.dedupMentions(
      patMentions.unionByName(Extract.dictionaryMentions(allSents, dictEntries))))
    // validated gold spans ALSO materialize triples (ref PopulateFrame scans
    // validated + auto annotations, /root/reference/src/msa/PopulateFrame.java:144-192);
    // their provenance outranks auto rows at the same site in Materialize's
    // precedence dedup. One small cogroup per provenance class over the train slice.
    val goldTriples = goldTriplesOf(trainSents, goldAnnots, goldProvenances)
    val rawTriples = Extract.triples(allSents, mentions).unionByName(relTriples)
      .unionByName(goldTriples)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 6. canonicalize subjects: exact Jaccard edges + connected components
    val forms = rawTriples.select($"subj".as("form"))
    val edges = EntityLink.candidateEdges(forms, minJaccard = 0.6)
      .select($"src", $"dst")
    val comp = ConnectedComponents.runAdaptive(edges)
    val canonical = rawTriples.toDF()
      .join(comp, rawTriples("subj") === comp("node"), "left")
      .withColumn("subj2", coalesce(col("component"), col("subj")))
      .select(col("subj2").as("subj"), col("pred"), col("obj"), col("url"),
        col("begin"), col("end"), col("profileId"), col("score"), col("provenance"))
      .as[Triple]

    Result(patterns, finalPatterns, rawTriples, canonical)
  }

  /** Triples from the validated gold spans themselves (ref PopulateFrame's
    * targetProvenance scan): each gold annotation becomes a mention, subject-resolved
    * sentence-locally like any extraction, stamped with its provenance class so the
    * materialization precedence rule can rank it above auto evidence. */
  private def goldTriplesOf(trainSents: Dataset[graft.model.SentenceAnnots],
      goldAnnots: Dataset[Annotation], goldProvenances: Set[String])(
      implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val provClasses = Seq(
      "gold" -> graft.model.Provenance.Gold,
      "dup-propagated" -> graft.model.Provenance.Propagated)
    provClasses
      .filter { case (src, _) => goldProvenances.contains(src) }
      .map { case (src, prov) =>
        val ms = goldAnnots.filter(_.provenance == src).map(a =>
          graft.model.Mention(a.url, a.annotType, a.begin, a.end, a.value, -1L, a.score))
        Extract.triples(trainSents, ms, provenance = prov)
      }
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[Triple])
  }

  /**
   * Optional pre-learning stage (the reference's dupFlag → AnnotateDuplicate,
   * /root/reference/src/msa/IEDriver.java:1015-1019): augment the gold slice by
   * propagating validated spans onto near-duplicate documents. Near-dups come from
   * MinHash-LSH blocking over the page text (never all-pairs); span mapping runs in
   * [[graft.learn.Propagate]]. Returns gold ∪ propagated — feed the result to run().
   */
  def propagateGold(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer, minJaccardBp: Long = 7000L)(
      implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val texts = Annotate.extractText(pages).toDF("url", "text")
    val p0 = graft.dedup.Dedup.minhashLshPairs(texts, "url", "text",
      minJaccardBp = minJaccardBp)
    // symmetric propagation: validated spans flow both directions of each pair
    val pairs = p0.select(col("id_a").as("url_a"), col("id_b").as("url_b"))
      .unionByName(p0.select(col("id_b").as("url_a"), col("id_a").as("url_b")))
    // Propagate aligns plain TOKEN streams (K6) — chunk labels are unused here,
    // so the corpus-wide pass skips the per-page chunk scan
    val sents = Annotate.annotateSentences(pages, gaz, withChunks = false)
    goldAnnots.unionByName(
      graft.learn.Propagate.propagate(sents, goldAnnots, pairs))
  }

  /** Observed-metric name of the canonical-triple counters attached by the write
    * paths (post-dedup — counts what lands in the output table); read it back
    * through a [[graft.runtime.MetricsCollector]]. */
  val CanonicalMetric = "graft.kg.canonical"

  /** Run + materialize to a subject-bucketed parquet table with checkpoints. */
  def runAndWrite(pages: Dataset[Page], goldAnnots: Dataset[Annotation], gaz: Gazetteer,
      outPath: String, nBuckets: Int = 16)(implicit spark: SparkSession): DataFrame = {
    val r = run(pages, goldAnnots, gaz)
    Materialize.write(r.canonical, outPath, nBuckets, Some(CanonicalMetric))
  }

  /**
   * Fully resumable variant: every stage (annotations → patterns → raw triples →
   * canonical triples) is materialized through [[graft.runtime.StageCheckpoint]] with
   * per-partition lineage, keyed by the caller's `fingerprint` (input + config
   * identity). A restarted run resumes at its first incomplete stage; the final write
   * goes through [[Materialize.writeResumable]] (per-bucket checkpoints). This is the
   * production `spark-submit` path for long corpus runs (north rule: resumable from
   * checkpoint with per-partition lineage + metrics).
   */
  def runCheckpointed(pages: Dataset[Page], goldAnnots: Dataset[Annotation],
      gaz: Gazetteer, stageDir: String, fingerprint: String, outPath: String,
      nBuckets: Int = 16,
      msaCfg: GenMSA.Config = GenMSA.Config(),
      statsCfg: PatternStats.Config = PatternStats.Config(),
      priorsCfg: graft.learn.ValueProbs.Config = graft.learn.ValueProbs.Config(),
      goldProvenances: Set[String] = Set("gold", "dup-propagated"),
      // whether the MATERIALIZED corpus sentence table carries chunk labels. It is
      // written before patterns exist (it is the resume anchor), so the caller
      // decides: true (default) keeps syntax-anchored patterns matchable on resume;
      // false skips the per-page chunk scan when the pattern space is known not to
      // need it (run() decides this automatically from the surviving pattern set)
      chunkCorpus: Boolean = true)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cp = graft.runtime.StageCheckpoint(stageDir)

    // fused annotate→sentence stage (see run()): one narrow pass, no annotation
    // shuffle; the materialized sentence table is the resume point
    val allSentsDF = cp.materialize("sentences", fingerprint) {
      Annotate.annotateSentences(pages, gaz, withChunks = chunkCorpus).toDF()
    }
    val goldByUrl: Map[String, Seq[Annotation]] =
      goldAnnots.collect().toSeq.groupBy(_.url)
    val goldUrls = goldAnnots.select($"url").distinct()
    def trainSents = Annotate.annotateSentences(
      pages.join(goldUrls, Seq("url"), "left_semi").as[Page], gaz, goldByUrl)

    val learned = cp.materialize("patterns", fingerprint) {
      GenMSA.learn(trainSents, goldProvenances, msaCfg).toDF()
    }.as[graft.model.Pattern].collect().toSeq
    val ctxPatterns = GenMSA.subsumptionFilter(
      learned.filter(p => p.profileType == 0 || p.profileType == 3))
    val tgtPatterns = learned.filter(_.profileType == 1)

    // per-pair gate table (the reference's `final` read, per-pair + A3 active check)
    val allowedPairs = cp.materialize("pair_stats", fingerprint) {
      val ts = trainSents.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val matches = PatternStats.applyPatternsPaired(ts, ctxPatterns,
        tgtPatterns, statsCfg)
      val tokenSpans = ts.flatMap(s =>
          s.annots.filter(_.annotType == "Token").map(a => (a.url, a.begin, a.end)))
        .toDF("url", "begin", "end")
      val gold = PatternStats.snapGoldToTokens(
        goldAnnots.toDF().select($"url", $"annotType", $"begin", $"end"), tokenSpans)
      val pairStats = PatternStats.scorePairs(matches, gold,
        spark.createDataset(learned), statsCfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = PatternStats.keptPairs(pairStats, statsCfg)
        .join(PatternStats.activeProfiles(pairStats, statsCfg),
          Seq("profileId"), "left_semi")
        .select($"profileId", $"targetId", $"prec")
      ts.unpersist()
      out
    }.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

    val keptCtxIds = allowedPairs.keySet.map(_._1)
    val finalPatterns = ctxPatterns.filter(p => keptCtxIds.contains(p.profileId)).map { p =>
      val pairPrecs = allowedPairs.collect { case ((c, _), prec) if c == p.profileId => prec }
      p.copy(score = pairPrecs.max)
    }

    val rawTriples = cp.materialize("raw_triples", fingerprint) {
      val allSents = allSentsDF.as[graft.model.SentenceAnnots]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val upgraded = finalPatterns.map(p => p -> Extract.toRelationPattern(p))
      val relPatterns = upgraded.collect { case (_, Some(rel)) => rel }
      val plainPatterns = upgraded.collect { case (p, None) => p }
      val relTriples = Extract.relationTriplesPaired(allSents, relPatterns, tgtPatterns,
        allowedPairs, statsCfg.matcher)
      val priorRows = graft.learn.ValueProbs.compute(trainSents, goldAnnots.toDF(),
        priorsCfg).collect()
      val priorVeto = priorRows.map(r =>
        ((r.getString(0), r.getString(1)), r.getLong(4))).toMap
      val dictEntries = priorRows.toSeq
        .filter(_.getLong(4) >= math.round(priorsCfg.dictThreshold * 10000))
        .map(r => (r.getString(0), r.getString(1), r.getLong(4)))
      val patMentions = Extract.applyPriors(
        Extract.mentionsPaired(allSents, plainPatterns, tgtPatterns, allowedPairs,
          statsCfg.matcher), priorVeto)
      val mentions = Extract.mergeAdjacent(Extract.dedupMentions(
        patMentions.unionByName(Extract.dictionaryMentions(allSents, dictEntries))))
      Extract.triples(allSents, mentions).unionByName(relTriples)
        .unionByName(goldTriplesOf(trainSents, goldAnnots, goldProvenances)).toDF()
    }.as[Triple]

    val forms = rawTriples.select($"subj".as("form"))
    val edges = EntityLink.candidateEdges(forms, minJaccard = 0.6).select($"src", $"dst")
    val comp = ConnectedComponents.runAdaptive(edges)
    val canonical = rawTriples.toDF()
      .join(comp, rawTriples("subj") === comp("node"), "left")
      .withColumn("subj2", coalesce(col("component"), col("subj")))
      .select(col("subj2").as("subj"), col("pred"), col("obj"), col("url"),
        col("begin"), col("end"), col("profileId"), col("score"), col("provenance"))
      .as[Triple]
    Materialize.writeResumable(canonical, outPath, nBuckets, Some(CanonicalMetric))
  }
}
