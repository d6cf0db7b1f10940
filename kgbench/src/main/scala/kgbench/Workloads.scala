package kgbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Annotation, Page, Pattern, Triple}
import graft.nlp.Gazetteer
import graft.pipeline.{ExtractJob, KGPipeline}
import graft.sink.Materialize
import graft.testgen.CorpusGen

/** What one set-up produces: the corpus (checkpointed, so clearing the pipeline's
  * caches between passes never drops it), the gold slice, the gazetteer, the gold
  * (subj, pred, obj) set, a driver-side page sample for the kernel probes, and, for
  * `extract_corpus`, the patterns learned from the gold slice. */
final case class Inputs(
    pages: Dataset[Page],
    nPages: Int,
    trainPages: Dataset[Page],
    goldAnnots: Dataset[Annotation],
    gaz: Gazetteer,
    goldFacts: DataFrame,
    nGoldFacts: Long,
    sample: Vector[Page],
    patterns: Seq[Pattern])

/** The output of a traced pass: what the probes after it need. */
final case class TracedPass(critical: Seq[String], rawTriples: Option[Dataset[Triple]],
    patterns: Seq[Pattern])

/** A corpus generator: pages, gold and gazetteer as pure functions of the seed. */
trait Corpus extends Serializable {
  def gen1(i: Int): CorpusGen.GenPage
  def pagesDS(n: Int, partitions: Int)(implicit spark: SparkSession): Dataset[Page]
  def gazetteer: Gazetteer
}

/** CorpusGen seeds page i with `seed + i`, so consecutive seeds would share all but one
  * page; spacing the benchmark's seeds 2^20 apart gives each seed its own pages. */
final class CorpusGenCorpus(seed: Long) extends Corpus {
  private val base = seed << 20
  def gen1(i: Int): CorpusGen.GenPage = CorpusGen.gen1(i, base)
  def pagesDS(n: Int, partitions: Int)(implicit spark: SparkSession): Dataset[Page] =
    CorpusGen.pagesDS(n, partitions, base)
  def gazetteer: Gazetteer = CorpusGen.gazetteer
}

/** WideGen pages from `seed` over the vocabulary of `vocabSeed`. */
final class WideCorpus(seed: Long, nEntities: Int, vocabSeed: Long) extends Corpus {
  val entities: Vector[WideGen.Entity] = WideGen.vocabulary(nEntities, vocabSeed)
  def gen1(i: Int): CorpusGen.GenPage = WideGen.gen1(i, seed, entities)
  def pagesDS(n: Int, partitions: Int)(implicit spark: SparkSession): Dataset[Page] =
    WideGen.pagesDS(n, partitions, seed, entities)
  @transient lazy val gazetteer: Gazetteer = WideGen.gazetteer(entities)
}

sealed trait Workload {
  def name: String
  def nPages: Int
  def corpus(seed: Long): Corpus

  /** The untraced job: one call to a public entry point, pages to committed output. */
  def job(in: Inputs, out: String)(implicit spark: SparkSession): Unit

  /** The same job composed from layer calls, one span each; its output must hash
    * identically to [[job]]'s. */
  def tracedJob(in: Inputs, out: String, t: Tracer)(implicit spark: SparkSession): TracedPass

  /** What a row of the committed output is: `facts` (deduped rows in the store) or
    * `mentions` (rows ExtractJob writes). */
  def outputRows: String

  /** The committed output, as rows with subj/pred/obj columns. */
  def output(out: String)(implicit spark: SparkSession): DataFrame = spark.read.parquet(out)

  /** The generator of the 200-page gold slice: by default the corpus's own. */
  def goldSlice(seed: Long): Corpus = corpus(seed)

  /** Set-up work done once per run after the inputs exist (none by default). */
  def learn(in: Inputs)(implicit spark: SparkSession): Inputs = in

  /** The warm-up pass of set-up: the job itself unless a cheaper pass warms the same
    * code. */
  def warmup(in: Inputs, out: String)(implicit spark: SparkSession): Unit = job(in, out)

  def prepare(seed: Long, cores: Int)(implicit spark: SparkSession): Inputs = {
    import spark.implicits._
    val c = corpus(seed)
    val parts = cores * 4
    val pages = c.pagesDS(nPages, parts).localCheckpoint()
    val slice = goldSlice(seed)
    val train = (0 until Workload.GoldSlice).map(slice.gen1)
    val trainPages = spark.createDataset(train.map(_.page)).localCheckpoint()
    val goldAnnots = spark.createDataset(train.flatMap(CorpusGen.goldAnnotations))
      .localCheckpoint()
    val goldFacts = spark.range(0, nPages, 1, parts).as[Long]
      .mapPartitions(_.flatMap(i => c.gen1(i.toInt).gold.map(t => (t.subj, t.pred, t.obj))))
      .toDF("subj", "pred", "obj").distinct().localCheckpoint()
    Inputs(pages, nPages, trainPages, goldAnnots, c.gazetteer, goldFacts, goldFacts.count(),
      (0 until Workload.KernelSample).map(i => c.gen1(i).page).toVector, Nil)
  }
}

object Workload {
  /** Pages carrying gold annotations (the validated slice). */
  val GoldSlice = 200
  /** Pages in the single-thread kernel sample. */
  val KernelSample = 256

  val all: Vector[Workload] = Vector(KgBuild, ExtractCorpus, KgWide)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Shared by the two KGPipeline workloads. */
sealed abstract class KgWorkload extends Workload {
  val outputRows = "facts"

  def job(in: Inputs, out: String)(implicit spark: SparkSession): Unit =
    KGPipeline.runAndWrite(in.pages, in.goldAnnots, in.gaz, out)

  /** The same job on the gold slice alone: its cost is mostly the job's fixed part
    * (code generation, JIT), which is what a warm-up is for. */
  override def warmup(in: Inputs, out: String)(implicit spark: SparkSession): Unit =
    KGPipeline.runAndWrite(in.trainPages, in.goldAnnots, in.gaz, out)

  def tracedJob(in: Inputs, out: String, t: Tracer)(
      implicit spark: SparkSession): TracedPass = {
    val r = t.span("pipeline.stages") {
      (KGPipeline.run(in.pages, in.goldAnnots, in.gaz), -1L)
    }
    t.span("sink.write") {
      val cps = Materialize.write(r.canonical, out, 16, Some(KGPipeline.CanonicalMetric))
      ((), cps.agg(coalesce(sum("rows_out"), lit(0L))).head().getLong(0))
    }
    TracedPass(Seq("pipeline.stages", "sink.write"), Some(r.triples), r.finalPatterns)
  }
}

/** The production job on CorpusGen's 20 entities. */
object KgBuild extends KgWorkload {
  val name = "kg_build"
  val nPages = 10000
  def corpus(seed: Long): Corpus = new CorpusGenCorpus(seed)
}

/** The production job on a wide vocabulary: linking and CC do real work. */
object KgWide extends KgWorkload {
  val name = "kg_wide"
  val nPages = 6000
  val nEntities = 5000

  /** One vocabulary for every seed, so the seed varies only the pages. The vocabulary
    * sets the sizes of EntityLink's blocks, and with a vocabulary per seed the job's
    * time moved with the seed by up to 15%. */
  val VocabSeed = 0L
  def corpus(seed: Long): Corpus = new WideCorpus(seed, nEntities, VocabSeed)
}

/** The fused per-page kernel alone, with patterns learned in set-up. */
object ExtractCorpus extends Workload {
  val name = "extract_corpus"
  val nPages = 30000
  val outputRows = "mentions"
  def corpus(seed: Long): Corpus = new CorpusGenCorpus(seed)

  /** One validated slice for every seed, so every run extracts with the same patterns
    * and the seed varies only the pages the kernel reads. (Slices of other seeds learn
    * 52 or 53 patterns, and the kernel's per-page work moved with them by up to 20%.) */
  override def goldSlice(seed: Long): Corpus = corpus(0L)

  /** KGPipeline.run's learning steps on the gold slice; its final patterns. */
  override def learn(in: Inputs)(implicit spark: SparkSession): Inputs =
    in.copy(patterns = Learn.patterns(in, corpusChunks = None, t = None))

  def job(in: Inputs, out: String)(implicit spark: SparkSession): Unit =
    ExtractJob.run(in.pages, in.patterns, in.gaz, out)

  def tracedJob(in: Inputs, out: String, t: Tracer)(
      implicit spark: SparkSession): TracedPass = {
    t.span("extract.job") {
      val r = ExtractJob.run(in.pages, in.patterns, in.gaz, out)
      ((), r.nTriples)
    }
    TracedPass(Seq("extract.job"), None, in.patterns)
  }
}
