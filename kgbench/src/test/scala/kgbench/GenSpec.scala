package kgbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.ConnectedComponents
import graft.link.EntityLink

/** The two corpus generators, and the kg_wide gold contract. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  implicit lazy val spark: SparkSession = graft.util.Sessions.local(2, "kgbench-spec")

  override def afterAll(): Unit = spark.stop()

  private def fingerprint(c: Corpus, n: Int, partitions: Int): Seq[(String, String)] =
    c.pagesDS(n, partitions).collect().toSeq
      .map(p => p.url -> graft.ingest.Normalize.sha256(new String(p.html, "UTF-8")))
      .sortBy(_._1)

  private val generators: Seq[(String, Long => Corpus)] = Seq(
    "CorpusGen" -> (s => new CorpusGenCorpus(s)),
    "WideGen" -> (s => new WideCorpus(s, 40, 0L)))

  generators.foreach { case (label, mk) =>
    test(s"$label: same pages for the same seed at any partition count") {
      val ref = fingerprint(mk(7L), 90, 1)
      assert(ref.size == 90)
      Seq(3, 8).foreach(p => assert(fingerprint(mk(7L), 90, p) == ref, s"partitions=$p"))
      assert(fingerprint(mk(7L), 90, 5) == fingerprint(mk(7L), 90, 2))
    }
    test(s"$label: another seed gives other pages") {
      assert(fingerprint(mk(7L), 30, 2) != fingerprint(mk(8L), 30, 2))
    }
    test(s"$label: driver-side gen1 matches the distributed pages") {
      val c = mk(3L)
      val local = (0 until 20).map(i => c.gen1(i).page)
      val dist = c.pagesDS(20, 4).collect().sortBy(_.url.split("/").last.toInt)
      assert(local.map(_.url) == dist.map(_.url).toSeq)
      assert(local.map(p => new String(p.html, "UTF-8")) ==
        dist.map(p => new String(p.html, "UTF-8")).toSeq)
    }
  }

  test("WideGen: vocabulary is deterministic, names are distinct, aliases are 3 per entity") {
    val v = WideGen.vocabulary(300, 11L)
    assert(v == WideGen.vocabulary(300, 11L))
    assert(v != WideGen.vocabulary(300, 12L))
    assert(v.forall(_.aliases.size == 3))
    assert(v.flatMap(_.aliases).distinct.size == 900)
    val words = v.flatMap(_.aliases.head.split(" "))
    assert(words.distinct.size == words.size, "an entity word is shared")
  }

  test("WideGen: every page names its entity by all three aliases; gold uses the min alias") {
    val c = new WideCorpus(5L, 25, 5L)
    (0 until 30).foreach { i =>
      val gp = c.gen1(i)
      val text = graft.ingest.HtmlText.extractNormalized(gp.page.html).get
      val ent = c.entities.find(_.canonical == gp.gold.head.subj).get
      ent.aliases.foreach(a => assert(text.contains(a), s"page $i lacks alias '$a'"))
      assert(gp.gold.map(_.subj).distinct == Seq(ent.aliases.min))
      gp.goldSpans.foreach(s => assert(text.substring(s.begin, s.end) == s.value))
    }
  }

  test("kg_wide fixture: gold canonical subjects are ConnectedComponents' min-form output") {
    import spark.implicits._
    val ents = WideGen.vocabulary(60, 21L)
    val forms = ents.flatMap(_.aliases).toDF("form")
    val edges = EntityLink.candidateEdges(forms, minJaccard = 0.6).select($"src", $"dst")
    val comp = ConnectedComponents.runAdaptive(edges).as[(String, String)].collect().toMap
    ents.foreach { e =>
      e.aliases.foreach(a => assert(comp.get(a).contains(e.canonical),
        s"alias '$a' -> ${comp.get(a)}, gold ${e.canonical}"))
    }
  }
}
