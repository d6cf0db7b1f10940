package kgbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.canon.ConnectedComponents
import graft.ingest.{HtmlText, Normalize}
import graft.align.Grid
import graft.extract.PatternMatcher
import graft.learn.{GenMSA, PatternStats}
import graft.link.EntityLink
import graft.mention.Sentences
import graft.model.{Page, Pattern}
import graft.nlp.{Annotate, Gazetteer}
import graft.streaming.StreamExtract

/**
 * KGPipeline.run's learning steps (annotate the gold slice, MSA, pair gates, final
 * patterns), through the same entry points and arguments. Set-up of
 * `extract_corpus` learns with it; the traced run's probes time it, one span per step.
 */
object Learn {

  private def step[T](t: Option[Tracer], name: String)(body: => (T, Long)): T =
    t.fold(body._1)(_.span(name)(body))

  /** @param corpusChunks when set, the annotate step also annotates the whole corpus
    *        (chunking as given), as the job's corpus-wide pass does. */
  def patterns(in: Inputs, corpusChunks: Option[Boolean], t: Option[Tracer])(
      implicit spark: SparkSession): Seq[Pattern] = {
    import spark.implicits._
    val goldByUrl = in.goldAnnots.collect().toSeq.groupBy(_.url)
    val trainSents = step(t, "nlp.annotate_sentences") {
      val ts = Annotate.annotateSentences(in.trainPages, in.gaz, goldByUrl)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val corpusRows = corpusChunks.fold(0L)(chunks =>
        Annotate.annotateSentences(in.pages, in.gaz, withChunks = chunks).count())
      (ts, ts.count() + corpusRows)
    }
    val learned = step(t, "learn.msa") {
      val ps = GenMSA.learn(trainSents, Set("gold", "dup-propagated")).collect().toSeq
      (ps, ps.size.toLong)
    }
    val kept = step(t, "learn.gate") {
      val cfg = PatternStats.Config()
      val ctx = GenMSA.subsumptionFilter(
        learned.filter(p => p.profileType == 0 || p.profileType == 3))
      val tgt = learned.filter(_.profileType == 1)
      val matches = PatternStats.applyPatternsPaired(trainSents, ctx, tgt, cfg)
      val tokenSpans = trainSents.flatMap(s =>
          s.annots.filter(_.annotType == "Token").map(a => (a.url, a.begin, a.end)))
        .toDF("url", "begin", "end")
      val gold = PatternStats.snapGoldToTokens(
        in.goldAnnots.toDF().select($"url", $"annotType", $"begin", $"end"), tokenSpans)
      val stats = PatternStats.scorePairs(matches, gold, spark.createDataset(learned), cfg)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val pairs = PatternStats.keptPairs(stats, cfg)
        .join(PatternStats.activeProfiles(stats, cfg), Seq("profileId"), "left_semi")
        .select($"profileId", $"prec").as[(Long, Double)].collect().toSeq
      stats.unpersist()
      val best = pairs.groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).max }
      (ctx.filter(p => best.contains(p.profileId)).map(p => p.copy(score = best(p.profileId))),
        pairs.size.toLong)
    }
    trainSents.unpersist()
    kept
  }
}

/**
 * Layer probes of the traced run. After the traced pass has committed its output,
 * each layer the job runs is called again through its public entry point, on this
 * workload's inputs, one span each, so its Spark work is attributed to it alone.
 */
object Probes {

  /** Runs the probes; returns the number of form slots EntityLink's block cap drops
    * (0 when the workload does not link). */
  def run(in: Inputs, pass: TracedPass, t: Tracer)(implicit spark: SparkSession): Long = {
    import spark.implicits._
    val needSyntax = pass.patterns.exists(_.toks.exists(_.startsWith(":syntaxtreenode")))
    Learn.patterns(in, Some(needSyntax), Some(t))
    pass.rawTriples.fold(0L) { raw =>
      val forms = raw.select($"subj".as("form"))
      val edges = t.span("link.edges") {
        val e = EntityLink.candidateEdges(forms, minJaccard = 0.6).select($"src", $"dst")
          .persist(StorageLevel.MEMORY_AND_DISK)
        (e, e.count())
      }
      t.span("canon.cc") {
        ((), ConnectedComponents.runAdaptive(edges).count())
      }
      edges.unpersist()
      EntityLink.blockAudit(forms).agg(coalesce(sum("n_dropped"), lit(0L))).head().getLong(0)
    }
  }
}

/**
 * Per-page kernel, one thread, over a fixed page sample: each layer is timed on the
 * previous layer's precomputed output, as ns per page of the sample.
 */
object Kernel {

  /** Median ns per page of `f` over repeated passes (after two warm passes). */
  private def perPage(pages: Int)(f: => Int): Double = {
    var sink = 0
    sink += f; sink += f
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (times.size < 5 || System.nanoTime() - t0 < 200000000L) {
      val s = System.nanoTime()
      sink += f
      times += (System.nanoTime() - s).toDouble / pages
    }
    if (sink == Int.MinValue) println("") // keeps the results live
    Stats.median(times.toSeq)
  }

  def measure(sample: Vector[Page], gaz: Gazetteer, patterns: Seq[Pattern]): Map[String, Double] = {
    val idx = PatternMatcher.buildIndex(patterns)
    val withChunks = idx.needsSyntax
    val n = sample.size
    val raws = sample.map(p => HtmlText.extract(p.html))
    val texts = sample.zip(raws).flatMap { case (p, r) => Normalize.normalize(r).map(p.url -> _) }
    val annots = texts.map { case (u, t) => u -> Annotate.annotateOne(u, t, gaz, withChunks) }
    val sents = annots.map { case (u, as) => Sentences.group(u, as) }
    val grids = sents.flatten.map(s => Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots))
    val time = perPage(n) _
    Map(
      "ingest.html_ns" -> time(sample.foldLeft(0)((a, p) => a + HtmlText.extract(p.html).length)),
      "ingest.normalize_ns" ->
        time(raws.foldLeft(0)((a, r) => a + Normalize.normalize(r).fold(0)(_.length))),
      "nlp.annotate_ns" -> time(texts.foldLeft(0) { case (a, (u, t)) =>
        a + Annotate.annotateOne(u, t, gaz, withChunks).size }),
      "mention.sentences_ns" -> time(annots.foldLeft(0) { case (a, (u, as)) =>
        a + Sentences.group(u, as).size }),
      "align.grid_ns" -> time(sents.flatten.foldLeft(0)((a, s) =>
        a + Grid.build(s.url, s.sentBegin, s.sentEnd, s.annots).size)),
      "extract.match_ns" -> time(grids.foldLeft(0)((a, g) =>
        a + PatternMatcher.matchAll(g, idx).size)),
      "extract.page_ns" -> time(texts.foldLeft(0) { case (a, (u, t)) =>
        a + StreamExtract.extractPage(u, t, gaz, idx).size }),
      "nlp.lookups_per_page" ->
        annots.map(_._2.count(_.annotType == "Lookup")).sum.toDouble / n,
      "mention.sentences_per_page" -> sents.map(_.size).sum.toDouble / n,
      "extract.hits_per_page" ->
        grids.map(g => PatternMatcher.matchAll(g, idx).size).sum.toDouble / n)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
