package kgbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{Page, Provenance, Triple}
import graft.nlp.{GazEntry, Gazetteer}
import graft.testgen.CorpusGen

/**
 * Wide-vocabulary corpus for the `kg_wide` workload: CorpusGen's sentence templates,
 * cities, years and head counts, but thousands of entities, each with three surface
 * aliases that differ in case only:
 *
 *   "Sabe Rotima", "SABE ROTIMA", "Sabe ROTIMA".
 *
 * Every page names its entity once per relation sentence, each time by a different
 * alias, so every alias of every entity that appears is a subject form the linker has
 * to merge. The aliases normalize to the same tokens (token Jaccard 1), so EntityLink
 * finds every pair its blocking lets it see. First letters are skewed the way real
 * names are, so the `a:` (first letter, token count) blocks of the common letters
 * outgrow EntityLink's per-block cap and the cap's drops show in its audit. The gold
 * subject of an entity is the lexicographic minimum of its aliases, the representative
 * ConnectedComponents documents.
 *
 * Like CorpusGen, pages are a pure function of (index, seed), so any partitioning
 * yields the same corpus. The vocabulary is a pure function of (size, seed).
 */
object WideGen {

  final case class Entity(aliases: Vector[String]) {
    def canonical: String = aliases.min
  }

  private val Onsets = "bdfgklmnprstvz"
  /** First onset of an entity's first word: s, k and m are common, as in real names. */
  private val FirstOnsets = "sssssskkkkmmmbdfglnprtvz"
  private val Vowels = "aeiou"

  /** `n` entities with distinct generated names (two words of 2–3 syllables). */
  def vocabulary(n: Int, seed: Long): Vector[Entity] = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17L)
    val reserved = (CorpusGen.fillerWords ++ CorpusGen.cities).map(_.toLowerCase).toSet
    def syllable(onsets: String): String =
      s"${onsets(rnd.nextInt(onsets.length))}${Vowels(rnd.nextInt(Vowels.length))}"
    def word(first: Boolean): String =
      (syllable(if (first) FirstOnsets else Onsets) +:
        Vector.fill(1 + rnd.nextInt(2))(syllable(Onsets))).mkString.capitalize
    val used = scala.collection.mutable.HashSet.empty[String]
    val out = Vector.newBuilder[Entity]
    var made = 0
    while (made < n) {
      val (w1, w2) = (word(first = true), word(first = false))
      val fresh = w1 != w2 && Seq(w1, w2).forall(w => !used(w) && !reserved(w.toLowerCase))
      if (fresh) {
        used += w1; used += w2; made += 1
        out += Entity(Vector(s"$w1 $w2", s"$w1 $w2".toUpperCase, s"$w1 ${w2.toUpperCase}"))
      }
    }
    out.result()
  }

  /** Every alias is an `entity` Lookup; CorpusGen's cities stay `city` Lookups. */
  def gazetteer(ents: Seq[Entity]): Gazetteer = Gazetteer.build(
    ents.flatMap(_.aliases.map(a => GazEntry(a, "entity", "org"))) ++
      CorpusGen.cities.map(c => GazEntry(c, "city", "city")))

  /** One deterministic page. Skew as in CorpusGen: entity 0 is on ~20% of pages and
    * ~10% of pages share one host. */
  def gen1(i: Int, seed: Long, ents: IndexedSeq[Entity]): CorpusGen.GenPage = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + i)
    val e = ents(if (rnd.nextInt(5) == 0) 0 else rnd.nextInt(ents.size))
    val city = CorpusGen.cities(rnd.nextInt(CorpusGen.cities.size))
    val year = (1950 + rnd.nextInt(70)).toString
    val emps = (10 + rnd.nextInt(9000)).toString
    val domain = if (rnd.nextInt(10) == 0) "hot.example.com"
                 else s"site${rnd.nextInt(200)}.example.org"
    val url = s"https://$domain/wide/$i"
    val variant = rnd.nextInt(2)
    val first = rnd.nextInt(3)
    def alias(k: Int): String = e.aliases((first + k) % 3)
    val sents = Vector(
      filler(rnd), CorpusGen.foundedSentences(alias(0), year)(variant), filler(rnd),
      CorpusGen.hqSentences(alias(1), city)(variant),
      CorpusGen.employsSentences(alias(2), emps)(variant), filler(rnd))
    val html = s"<html><head><title>About ${alias(0)}</title>" +
      s"<script>var x = 1;</script></head>" +
      s"<body><p>${sents.mkString(" ")}</p></body></html>"
    val bytes = html.getBytes(UTF_8)
    val text = graft.ingest.HtmlText.extractNormalized(bytes).get

    def spanOf(obj: String, after: String): (Int, Int) = {
      val ctx = text.indexOf(after)
      val b = text.indexOf(obj, if (ctx >= 0) ctx else 0)
      (b, b + obj.length)
    }
    val facts = Vector(
      ("founded-year", year, "was founded in"),
      ("hq-city", city, "is headquartered in"),
      ("employee-count", emps, "employs"))
    val located = facts.map { case (pred, obj, ctx) => (pred, obj, spanOf(obj, ctx)) }
    CorpusGen.GenPage(
      Page(url, java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), bytes, null, "en"),
      located.map { case (pred, obj, (b, en)) =>
        Triple(e.canonical, pred, obj, url, b, en, -1L, 1.0, Provenance.Gold)
      },
      located.map { case (pred, obj, (b, en)) => CorpusGen.GoldSpan(url, pred, b, en, obj) })
  }

  /** Pages built on executors from a broadcast vocabulary. */
  def pagesDS(n: Int, partitions: Int, seed: Long, ents: Vector[Entity])(
      implicit spark: SparkSession): Dataset[Page] = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(ents)
    spark.range(0, n, 1, partitions).mapPartitions { it =>
      val v = b.value
      it.map(i => gen1(i.toInt, seed, v).page)
    }
  }

  private def filler(rnd: java.util.Random): String = {
    val ws = Vector.fill(4 + rnd.nextInt(6))(
      CorpusGen.fillerWords(rnd.nextInt(CorpusGen.fillerWords.size)))
    ws.head.capitalize + " " + ws.tail.mkString(" ") + "."
  }
}
