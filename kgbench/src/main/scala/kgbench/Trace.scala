package kgbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task totals: CPU (run + deserialize), shuffle bytes written, tasks, failed tasks. */
final case class Usage(cpuNs: Long, shuffleBytes: Long, tasks: Long, failed: Long) {
  def +(o: Usage): Usage =
    Usage(cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes, tasks + o.tasks, failed + o.failed)
  def -(o: Usage): Usage =
    Usage(cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes, tasks - o.tasks, failed - o.failed)
}

object Usage { val zero: Usage = Usage(0L, 0L, 0L, 0L) }

/** SparkListener summing task metrics per job group ("" when no group is set). A stage
  * is charged to the group its submitting thread carried. */
final class TaskLedger extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val byGroup = mutable.HashMap.empty[String, Usage]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    stageGroup(e.stageInfo.stageId) = g.getOrElse("")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = if (e.reason == Success) 0L else 1L
    val m = e.taskMetrics
    val u =
      if (m == null) Usage(0L, 0L, 1L, failed)
      else Usage(m.executorCpuTime + m.executorDeserializeCpuTime,
        m.shuffleWriteMetrics.bytesWritten, 1L, failed)
    val g = stageGroup.getOrElse(e.stageId, "")
    byGroup(g) = byGroup.getOrElse(g, Usage.zero) + u
  }

  def total: Usage = synchronized(byGroup.values.foldLeft(Usage.zero)(_ + _))
}

/** One layer call: name, start, end, parent, run id, plus what the ledger and the
  * JVM's collectors charged to it while it ran. */
final case class Span(run: String, name: String, parent: String, startNs: Long,
    endNs: Long, usage: Usage, gcMs: Long, rowsOut: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"run":"$run","name":"$name","parent":"$parent","start_ns":$startNs,""" +
      s""""end_ns":$endNs,"cpu_ns":${usage.cpuNs},"shuffle_bytes":${usage.shuffleBytes},""" +
      s""""tasks":${usage.tasks},"tasks_failed":${usage.failed},"gc_ms":$gcMs,""" +
      s""""rows_out":$rowsOut}"""
}

/** Records spans in memory around the calls the benchmark makes into each layer. Each
  * span runs under its own job group, so the ledger can attribute its tasks. */
final class Tracer(spark: SparkSession, ledger: TaskLedger, val runId: String,
    val root: String) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  /** `body` returns its result and the number of rows the layer produced. */
  def span[T](name: String)(body: => (T, Long)): T = {
    val sc = spark.sparkContext
    org.apache.spark.kgbench.Bus.drain(sc)
    val (u0, gc0) = (ledger.total, Host.gcMillis)
    sc.setJobGroup(name, s"$runId $name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val (out, rows) = body
      val t1 = System.nanoTime()
      org.apache.spark.kgbench.Bus.drain(sc)
      spans += Span(runId, name, root, t0, t1, ledger.total - u0, Host.gcMillis - gc0, rows)
      out
    } finally sc.clearJobGroup()
  }

  def find(name: String): Option[Span] = spans.find(_.name == name)

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach(s => w.println(s.json)) finally w.close()
  }
}
