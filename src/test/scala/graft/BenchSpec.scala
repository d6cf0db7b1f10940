package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Pair, ScaleResult}

class BenchSpec extends AnyFunSuite {

  private def keys(json: String): Seq[String] =
    "\"([a-z_0-9]+)\":".r.findAllMatchIn(json).map(_.group(1)).toSeq

  test("kg JSON keys are unique for any N, including 4N = full width") {
    val r = ScaleResult(10.0, 100L, 42L)
    val pairs = Seq(Pair(r, r.copy(sec = 3.0), 0.83, 0.9, 0.95, 0.92))
    (1 to 16).foreach { n =>
      val ks = keys(Bench.kgJson(1000, n, 4 * n, 32, pairs, r.copy(sec = 2.0)))
      assert(ks.distinct == ks, s"N=$n: duplicate keys in $ks")
    }
    val at8 = Bench.kgJson(1000, 8, 32, 32, pairs, r.copy(sec = 2.0))
    assert(at8.contains("\"sec_c32\":3.00") && at8.contains("\"sec_full\":2.00"), at8)
  }

  test("the patterns temp file is deleted after the child runs, also on failure") {
    val pats = Seq(model.Pattern(1L, Seq("a", ":target"), "T", 0, "g", 0.9, 3L, 1L, 4L))
    val seen = Bench.withPatternsFile(pats) { path =>
      val in = new java.io.ObjectInputStream(
        java.nio.file.Files.newInputStream(java.nio.file.Path.of(path)))
      try assert(in.readObject() == pats) finally in.close()
      path
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(seen)))
    var failed: String = null
    intercept[IllegalStateException] {
      Bench.withPatternsFile(pats) { path => failed = path; throw new IllegalStateException }
    }
    assert(failed != null && !java.nio.file.Files.exists(java.nio.file.Path.of(failed)))
  }
}
