package kgbench

/** Every metric the benchmark prints, by name and unit. BENCHMARK.json lists the same
  * names in the same order (a self-test pins that). */
object Catalog {

  final case class Metric(name: String, unit: String)

  val endToEnd: Vector[Metric] = Vector(
    Metric("setup_s", "s"),
    Metric("job_s", "s"),
    Metric("docs_per_s", "1/s"),
    Metric("task_cpu_s", "s"),
    Metric("peak_rss_mb", "MB"),
    Metric("triple_precision", "ratio"),
    Metric("triple_recall", "ratio"))

  /** Layers timed as Spark work: one span each in the traced run. */
  val stageLayers: Vector[String] = Vector(
    "nlp.annotate_sentences", "learn.msa", "learn.gate", "extract.job", "link.edges",
    "canon.cc", "sink.write")

  val kernel: Vector[Metric] = Vector(
    Metric("ingest.html_ns", "ns"),
    Metric("ingest.normalize_ns", "ns"),
    Metric("nlp.annotate_ns", "ns"),
    Metric("mention.sentences_ns", "ns"),
    Metric("align.grid_ns", "ns"),
    Metric("extract.match_ns", "ns"),
    Metric("extract.page_ns", "ns"),
    Metric("nlp.lookups_per_page", "count"),
    Metric("mention.sentences_per_page", "count"),
    Metric("extract.hits_per_page", "count"))

  val perLayer: Vector[Metric] = kernel ++
    stageLayers.flatMap(l => Vector(
      Metric(s"$l.wall_s", "s"), Metric(s"$l.cpu_s", "s"), Metric(s"$l.gc_s", "s"),
      Metric(s"$l.shuffle_mb", "MB"), Metric(s"$l.rows_out", "count"),
      Metric(s"$l.tasks_failed", "count"))) ++
    Vector(
      Metric("link.forms_dropped", "count"),
      Metric("sink.bytes_mb", "MB"),
      Metric("sink.files", "count"),
      Metric("pipeline.gc_s", "s"),
      Metric("pipeline.shuffle_mb", "MB"),
      Metric("pipeline.tasks", "count"),
      Metric("pipeline.tasks_failed", "count"),
      Metric("pipeline.traced_s", "s"),
      Metric("pipeline.untraced_s", "s"),
      Metric("pipeline.trace_overhead_s", "s"))

  /** The result line: exactly the metrics of `set`, each once, with its unit. */
  def render(correct: Boolean, attempted: Int, failed: Int, set: Vector[Metric],
      values: Map[String, Double]): String = {
    val missing = set.map(_.name).filterNot(values.contains)
    val extra = values.keySet -- set.map(_.name)
    require(missing.isEmpty && extra.isEmpty,
      s"metric set mismatch: missing=${missing.mkString(",")} extra=${extra.mkString(",")}")
    val ms = set.map { m =>
      val v = values(m.name)
      require(!v.isNaN && !v.isInfinite, s"${m.name} is not a finite number: $v")
      s""""${m.name}":{"value":${fmt(v)},"unit":"${m.unit}"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }

  /** All digits of the value; whole numbers print without a fraction. */
  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
}
