package kgbench

import org.scalatest.funsuite.AnyFunSuite

/** The metric catalog, the result line and BENCHMARK.json agree. */
class CatalogSpec extends AnyFunSuite {

  private val spec = {
    val src = scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8")
    try src.mkString finally src.close()
  }

  /** (name, unit) pairs of one metric list of BENCHMARK.json, in order. */
  private def listed(key: String): Vector[(String, String)] = {
    val start = spec.indexOf(s""""$key"""")
    val body = spec.substring(start, spec.indexOf("]", start))
    """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2)).toVector
  }

  test("BENCHMARK.json lists exactly the catalog's metrics, in order, with their units") {
    assert(listed("end_to_end") == Catalog.endToEnd.map(m => m.name -> m.unit))
    assert(listed("per_layer") == Catalog.perLayer.map(m => m.name -> m.unit))
  }

  test("no metric name is used twice") {
    val names = (Catalog.endToEnd ++ Catalog.perLayer).map(_.name)
    assert(names.distinct.size == names.size, names.diff(names.distinct).mkString(","))
  }

  test("every layer named by the stage list has its six span metrics") {
    Catalog.stageLayers.foreach { l =>
      Seq("wall_s", "cpu_s", "gc_s", "shuffle_mb", "rows_out", "tasks_failed")
        .foreach(m => assert(Catalog.perLayer.exists(_.name == s"$l.$m"), s"$l.$m"))
    }
  }

  test("the result line prints every metric once, with its unit") {
    Seq(Catalog.endToEnd, Catalog.perLayer).foreach { set =>
      val line = Catalog.render(correct = true, attempted = 3, failed = 0, set,
        set.zipWithIndex.map { case (m, i) => m.name -> (i + 0.25) }.toMap)
      set.foreach { m =>
        val key = s""""${m.name}":{"value":"""
        assert(line.sliding(key.length).count(_ == key) == 1, m.name)
        assert(line.contains(s""""${m.name}":{"value":${Catalog.fmt(set.indexOf(m) + 0.25)},""" +
          s""""unit":"${m.unit}"}"""))
      }
      assert(line.startsWith("""{"correct":true,"attempted":3,"failed":0,"metrics":{"""))
    }
  }

  test("a missing, extra or non-finite metric is refused") {
    val full = Catalog.endToEnd.map(_.name -> 1.5).toMap
    intercept[IllegalArgumentException](
      Catalog.render(true, 1, 0, Catalog.endToEnd, full - "job_s"))
    intercept[IllegalArgumentException](
      Catalog.render(true, 1, 0, Catalog.endToEnd, full + ("job_s2" -> 1.0)))
    intercept[IllegalArgumentException](
      Catalog.render(true, 1, 0, Catalog.endToEnd, full + ("job_s" -> Double.NaN)))
  }
}
