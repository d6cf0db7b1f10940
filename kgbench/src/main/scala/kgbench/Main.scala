package kgbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Benchmark driver, one workload per JVM.
 *
 *   kgbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                --cores <k> --work <dir>
 *
 * Untraced (`--trace 0`): prepare the inputs three times (the median counts), learn
 * once where the workload needs it, warm up, then run job passes in a closed loop, one
 * in flight, for `seconds` (at least one pass; none starts that would, at the last
 * pass's length, end after the window); prints the end-to-end metrics. Traced
 * (`--trace 1`): set up once, the same warm-up, an untraced pass, a traced pass, the
 * layer probes and the kernel probe; prints the per-layer table and
 * metrics, and writes the spans to `<work>/trace.jsonl`. Every job pass's output is
 * checked; the last stdout line is the result JSON.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: String)

  /** Output check of one pass over the distinct (subj, pred, obj) set. */
  final case class Check(rows: Long, distinct: Long, hash: Long, truePos: Long, gold: Long) {
    def precision: Double = if (distinct == 0) 0.0 else truePos.toDouble / distinct
    def recall: Double = if (gold == 0) 0.0 else truePos.toDouble / gold
    def meetsGate: Boolean = precision >= Gate && recall >= Gate
    override def toString: String =
      f"rows=$rows distinct=$distinct P=$precision%.4f R=$recall%.4f hash=$hash%016x"
  }

  final case class Pass(jobS: Double, cpuS: Double, check: Option[Check],
      error: Option[String])

  /** The north-rule quality gate on triple precision and recall. */
  val Gate = 0.95

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, need("work"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workload.byName(a.workload)
    implicit val spark: SparkSession = graft.util.Sessions.local(a.cores, s"kgbench-${w.name}")
    val sessionS = Host.sinceJvmStartS
    val ledger = new TaskLedger
    spark.sparkContext.addSparkListener(ledger)
    println(Host.describe(a.cores))
    val ok =
      try {
        val line = if (a.trace) traced(a, w, ledger) else timed(a, w, ledger, sessionS)
        println(line)
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"kgbench: ${w.name} failed: $e")
          e.printStackTrace()
          false
      } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def check(out: DataFrame, in: Inputs): Check = {
    val spo = out.select("subj", "pred", "obj")
    val rows = spo.count()
    val d = spo.distinct().localCheckpoint()
    val r = d.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(subj, pred, obj))"), lit(0L)))
      .head()
    val tp = d.join(in.goldFacts, Seq("subj", "pred", "obj"), "left_semi").count()
    Check(rows, r.getLong(0), r.getLong(1), tp, in.nGoldFacts)
  }

  private def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  /** One untraced job pass, timed from the call to the committed output. */
  private def pass(label: String, w: Workload, in: Inputs, a: Args, ledger: TaskLedger)(
      implicit spark: SparkSession): Pass = {
    val out = s"${a.work}/$label"
    val sc = spark.sparkContext
    try {
      org.apache.spark.kgbench.Bus.drain(sc)
      val u0 = ledger.total
      val t0 = System.nanoTime()
      w.job(in, out)
      val jobS = (System.nanoTime() - t0) / 1e9
      org.apache.spark.kgbench.Bus.drain(sc)
      val cpuS = (ledger.total - u0).cpuNs / 1e9
      val c = check(w.output(out), in)
      println(f"pass $label: job_s=$jobS%.3f task_cpu_s=$cpuS%.2f $c")
      Pass(jobS, cpuS, Some(c), None)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"pass $label failed: $e")
        Pass(0.0, 0.0, None, Some(e.toString))
    } finally {
      spark.catalog.clearCache()
      delete(out)
    }
  }

  /** Input preparations per untraced run; their median is the set-up's share. */
  val SetupReps = 3

  /** The set-up's warm-up: passes until `WarmupS` have elapsed, so that a cheap job
    * reaches the same JIT state as an expensive one. Timed, not checked. */
  val WarmupS = 10.0

  private def warmup(w: Workload, in: Inputs, a: Args)(implicit spark: SparkSession): Double = {
    val out = s"${a.work}/warmup"
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < WarmupS) {
      try w.warmup(in, out) finally { spark.catalog.clearCache(); delete(out) }
      n += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    println(f"warm-up: $n passes, $s%.3f s")
    s
  }

  /** A pass fails when it threw, misses the P/R gate, or its output hash differs from
    * the first checked pass of the run. */
  private def failures(passes: Seq[Pass]): Seq[Pass] = {
    val ref = passes.flatMap(_.check).headOption.map(c => (c.distinct, c.hash))
    passes.filter(p => p.check.forall(c => !c.meetsGate || !ref.contains((c.distinct, c.hash))))
  }

  /** Prepares the inputs `reps` times, then learns once. Returns the inputs, the
    * median preparation time and the learning time. */
  private def setup(w: Workload, a: Args, reps: Int)(
      implicit spark: SparkSession): (Inputs, Double, Double) = {
    var in: Option[Inputs] = None
    val times = (1 to reps).map { _ =>
      in.foreach(_ => spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist()))
      val t0 = System.nanoTime()
      in = Some(w.prepare(a.seed, a.cores))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val learned = w.learn(in.get)
    val learnS = (System.nanoTime() - t0) / 1e9
    println(f"setup: prepare_s=${times.map(t => f"$t%.2f").mkString(",")} learn_s=$learnS%.2f " +
      f"pages=${w.nPages} gold_facts=${learned.nGoldFacts} patterns=${learned.patterns.size}")
    (learned, Stats.median(times), learnS)
  }

  private def timed(a: Args, w: Workload, ledger: TaskLedger, sessionS: Double)(
      implicit spark: SparkSession): String = {
    val (in, prepareS, learnS) = setup(w, a, SetupReps)
    val setupS = sessionS + prepareS + learnS + warmup(w, in, a)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    var last = 0.0
    // another pass starts only if one as long as the last still ends inside the window
    while (i == 0 || elapsed + last <= a.seconds) {
      val s0 = elapsed
      i += 1
      passes += pass(s"pass$i", w, in, a, ledger)
      last = elapsed - s0
    }
    val measured = passes.filter(_.error.isEmpty)
    require(measured.nonEmpty, "no timed pass completed")
    val bad = failures(passes.toSeq)
    val c = measured.flatMap(_.check).last
    val jobS = Stats.median(measured.map(_.jobS).toSeq)
    println(f"summary: ${w.name} passes=${measured.size} ${w.outputRows}=${c.rows} " +
      f"distinct_spo=${c.distinct} hash=${c.hash}%016x")
    Catalog.render(bad.isEmpty, passes.size, bad.size, Catalog.endToEnd, Map(
      "setup_s" -> setupS,
      "job_s" -> jobS,
      "docs_per_s" -> in.nPages / jobS,
      "task_cpu_s" -> Stats.median(measured.map(_.cpuS).toSeq),
      "peak_rss_mb" -> Host.peakRssMb,
      "triple_precision" -> c.precision,
      "triple_recall" -> c.recall))
  }

  private def traced(a: Args, w: Workload, ledger: TaskLedger)(
      implicit spark: SparkSession): String = {
    val (in, _, _) = setup(w, a, 1)
    // the untraced run's warm-up, so the untraced pass is as warm as a timed one
    warmup(w, in, a)
    val plain = pass("untraced", w, in, a, ledger)

    val runId = s"${w.name}-s${a.seed}-${ProcessHandle.current().pid()}"
    val t = new Tracer(spark, ledger, runId, root = s"kgbench.${w.name}")
    val out = s"${a.work}/traced"
    val tracedRun =
      try {
        val tp = w.tracedJob(in, out, t)
        val c = check(w.output(out), in)
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith("_") && !p.getFileName.toString.startsWith("."))
        println(f"pass traced: job_s=${tp.critical.flatMap(t.find).map(_.wallS).sum}%.3f $c")
        Right((tp, c, files.length.toDouble,
          files.map(f => java.nio.file.Files.size(f)).sum / (1024.0 * 1024.0)))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"pass traced failed: $e")
          Left(e.toString)
      } finally {
        delete(out)
      }
    val tracedPass = Pass(0.0, 0.0, tracedRun.toOption.map(_._2),
      tracedRun.left.toOption)
    val all = Seq(plain, tracedPass)
    val bad = failures(all)
    val (tp, _, nFiles, mb) = tracedRun.fold(e => sys.error(s"traced pass failed: $e"), identity)
    require(plain.error.isEmpty, s"untraced pass failed: ${plain.error.get}")

    val dropped = Probes.run(in, tp, t)
    spark.catalog.clearCache()
    val kernel = Kernel.measure(in.sample, in.gaz, tp.patterns)
    t.write(s"${a.work}/trace.jsonl")

    val layer = Catalog.stageLayers.flatMap { l =>
      val s = t.find(l)
      Seq(
        s"$l.wall_s" -> s.fold(0.0)(_.wallS),
        s"$l.cpu_s" -> s.fold(0.0)(_.usage.cpuNs / 1e9),
        s"$l.gc_s" -> s.fold(0.0)(_.gcMs / 1e3),
        s"$l.shuffle_mb" -> s.fold(0.0)(_.usage.shuffleBytes / (1024.0 * 1024.0)),
        s"$l.rows_out" -> s.fold(0.0)(_.rowsOut.toDouble),
        s"$l.tasks_failed" -> s.fold(0.0)(_.usage.failed.toDouble))
    }.toMap
    val critical = tp.critical.flatMap(t.find)
    val tracedS = critical.map(_.wallS).sum
    val pipeline = Map(
      "link.forms_dropped" -> dropped.toDouble,
      "sink.bytes_mb" -> mb,
      "sink.files" -> nFiles,
      "pipeline.gc_s" -> critical.map(_.gcMs).sum / 1e3,
      "pipeline.shuffle_mb" -> critical.map(_.usage.shuffleBytes).sum / (1024.0 * 1024.0),
      "pipeline.tasks" -> critical.map(_.usage.tasks).sum.toDouble,
      "pipeline.tasks_failed" -> critical.map(_.usage.failed).sum.toDouble,
      "pipeline.traced_s" -> tracedS,
      "pipeline.untraced_s" -> plain.jobS,
      "pipeline.trace_overhead_s" -> (tracedS - plain.jobS))
    printTable(w, t, tracedS, plain.jobS, kernel)
    Catalog.render(bad.isEmpty, all.size, bad.size, Catalog.perLayer, kernel ++ layer ++ pipeline)
  }

  private def printTable(w: Workload, t: Tracer, tracedS: Double, untracedS: Double,
      kernel: Map[String, Double]): Unit = {
    println(s"per-layer spans (${w.name}, run ${t.runId}):")
    println(f"  ${"span"}%-24s ${"wall_s"}%9s ${"cpu_s"}%9s ${"gc_s"}%7s ${"shuffle_mb"}%11s " +
      f"${"rows_out"}%10s ${"tasks"}%6s ${"failed"}%6s")
    t.spans.foreach { s =>
      println(f"  ${s.name}%-24s ${s.wallS}%9.3f ${s.usage.cpuNs / 1e9}%9.3f " +
        f"${s.gcMs / 1e3}%7.3f ${s.usage.shuffleBytes / 1048576.0}%11.3f ${s.rowsOut}%10d " +
        f"${s.usage.tasks}%6d ${s.usage.failed}%6d")
    }
    println(f"  job spans $tracedS%.3f s vs untraced job_s $untracedS%.3f s: " +
      f"tracing overhead ${tracedS - untracedS}%+.3f s")
    println("per-page kernel (one thread):")
    Catalog.kernel.foreach(m => println(f"  ${m.name}%-28s ${kernel(m.name)}%12.1f ${m.unit}"))
  }
}
