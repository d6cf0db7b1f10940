package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.canon.ConnectedComponents
import graft.link.EntityLink

class ConnectedComponentsSpec extends AnyFunSuite with SparkTest {

  test("large-star/small-star finds components incl. chains and singletons") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"), // chain → comp a
      ("x", "y"),                          // pair → comp x
      ("s", "s")                           // self-loop singleton
    ).toDF("src", "dst")
    val comp = ConnectedComponents.run(edges).as[(String, String)].collect().toMap
    assert(comp("a") === "a" && comp("b") === "a" && comp("c") === "a" && comp("d") === "a")
    assert(comp("x") === "x" && comp("y") === "x")
    assert(comp("s") === "s")
  }

  test("mega-hub star (10^5-degree node): distributed path completes, no per-node array") {
    import spark.implicits._
    // round-4 verdict task #5: collect_set materialized a node's whole neighbour
    // set in one aggregation buffer — a mega-hub would blow an executor. The
    // two-phase min-aggregate keeps per-key state O(1); this pins the behavior on
    // a 100k-leaf star plus a side chain, on the FORCED-DISTRIBUTED path.
    val leaves = 100000
    val star = spark.range(leaves).select(
      org.apache.spark.sql.functions.lit("hub").as("src"),
      org.apache.spark.sql.functions.format_string("leaf%07d", org.apache.spark.sql.functions.col("id")).as("dst"))
    val chain = Seq(("leaf0000000", "aaa"), ("aaa", "aab")).toDF("src", "dst")
    val comp = ConnectedComponents.run(star.union(chain))
    val roots = comp.select("component").distinct().as[String].collect()
    assert(roots.toSeq == Seq("aaa"), s"star collapsed wrong: ${roots.toSeq}")
    assert(comp.count() === leaves.toLong + 3)
  }

  test("runAdaptive small-graph union-find == distributed rounds (same output)") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("s", "s"),
      ("q", "p"), ("p", "a"), ("m", "m2"), ("m2", "m")
    ).toDF("src", "dst")
    val dist = ConnectedComponents.run(edges)
      .as[(String, String)].collect().toMap
    val local = ConnectedComponents.runAdaptive(edges)
      .as[(String, String)].collect().toMap
    assert(local === dist)
    // and the adaptive entry takes the DISTRIBUTED path above the threshold
    val forced = ConnectedComponents.runAdaptive(edges, smallGraphMaxEdges = 2)
      .as[(String, String)].collect().toMap
    assert(forced === dist)
  }

  test("entity linking: exact jaccard join produces expected edges") {
    import spark.implicits._
    val forms = Seq("Acme Corp", "acme corp", "Acme Corp Inc", "Globex Systems")
      .toDF("form")
    val edges = EntityLink.candidateEdges(forms, minJaccard = 0.5)(spark)
      .select("src", "dst").as[(String, String)].collect().toSet
    // identical token sets (jaccard 1.0) — exactly one edge per pair
    assert(edges.count(e => e == (("Acme Corp", "acme corp"))) == 1)
    // a different token count is no obstacle: jaccard 2/3 ≥ 0.5 links both ways
    assert(edges.contains(("Acme Corp Inc", "acme corp")))
    assert(edges.contains(("Acme Corp", "Acme Corp Inc")))
    assert(!edges.exists(e => e._1.contains("Globex") || e._2.contains("Globex")))
  }

  test("over-cap fixture: exact join finds the pair the old cap lost") {
    import spark.implicits._
    // 1,100 fillers "z0000 bed".."z1099 bed" fill both blocks of the alias pair
    // "Zulu Bed"/"zulu bed": the a: block a:z:2 (first char, token count) and the m:
    // block of "bed" (md5 001cbc…, below every other token here). The pair sorts last
    // in both, so a 1,000-form cap per block dropped it from both families.
    val fillers = (0 until 1100).map(i => f"z$i%04d bed")
    val forms = (fillers ++ Seq("Zulu Bed", "zulu bed")).toDF("form")
    val audit = EntityLink.blockAudit(forms).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit.get("a:z:2").contains(1102L), audit.mkString(","))
    assert(audit.get("m:001cbc059a40").exists(_ > 1000L), audit.mkString(","))
    val edges = EntityLink.candidateEdges(forms, minJaccard = 0.6)(spark)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // fillers share one token of two (jaccard 1/3): the pair is the only edge
    assert(edges.toSeq == Seq(("Zulu Bed", "zulu bed", 1.0)), edges.mkString(","))
  }

  test("blockAudit: embedding scorer's block cap reports its drops") {
    import spark.implicits._
    // all four forms share family-a block a:z:2; a cap of 2 discards two of them
    // there, and the audit names the block and its loss
    val forms = Seq("za aa", "zb bb", "zeta international", "zulu international")
      .toDF("form")
    val audit = EntityLink.blockAudit(forms, maxBlockSize = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(audit.toSeq == Seq(("a:z:2", 4L, 2L)), audit.mkString(","))
  }

  test("entity linking embedding scoring links same-block aliases by cosine") {
    import spark.implicits._
    // "j smith" / "john smith" share block (j:2) and an identical direction vector;
    // "jane doe" is in the same block but orthogonal; "zeta co" is another block and
    // must never be compared even with a parallel vector.
    val forms = Seq(
      ("J. Smith", Array(1.0f, 0.0f, 0.0f)),
      ("john smith", Array(2.0f, 0.0f, 0.0f)),
      ("jane doe", Array(0.0f, 1.0f, 0.0f)),
      ("zeta co", Array(3.0f, 0.0f, 0.0f))
    ).toDF("form", "vec")
    val edges = EntityLink.candidateEdgesEmbedding(forms, minCosBp = 8000L)(spark)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(edges.toSeq == Seq(("J. Smith", "john smith", 10000L)))
  }

  test("canonicalization is deterministic across runs") {
    import spark.implicits._
    val edges = (1 to 50).map(i => (s"n${i}", s"n${i + 1}")).toDF("src", "dst")
    val c1 = ConnectedComponents.run(edges).orderBy("node").collect().toSeq
    val c2 = ConnectedComponents.run(edges).orderBy("node").collect().toSeq
    assert(c1 === c2)
    // single chain: all nodes share the min component "n1"... (lexicographic min)
    val comps = c1.map(_.getString(1)).distinct
    assert(comps.size === 1)
  }
}
