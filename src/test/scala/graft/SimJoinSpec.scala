package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.runtime.MetricsCollector
import graft.sim.SimJoin

class SimJoinSpec extends AnyFunSuite with SparkTest {

  private type Pair = (Long, Long, Int, Int, Int)

  /** All-pairs Jaccard, evaluated in double like the join's verification. */
  private def bruteForce(sets: Seq[(Long, Seq[String])], t: Double): Set[Pair] =
    (for {
      Seq((ia, xa), (ib, xb)) <- sets.sortBy(_._1).combinations(2)
      (a, b) = (xa.toSet, xb.toSet)
      if a.nonEmpty && b.nonEmpty
      inter = (a & b).size
      if inter.toDouble / (a.size + b.size - inter) >= t
    } yield (ia, ib, inter, a.size, b.size)).toSet

  private def toDF(sets: Seq[(Long, Seq[String])]): DataFrame = {
    import spark.implicits._
    sets.toDF("id", "toks")
  }

  private def joined(df: DataFrame, t: Double): Set[Pair] =
    SimJoin.jaccard(df, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSet

  /** Seeded random token sets over a skewed vocabulary (frequent tokens shared by many
    * sets, so prefixes and posting lists both matter), plus near-copies of earlier
    * sets so that high thresholds have pairs to find. */
  private def randomSets(seed: Long, n: Int): Seq[(Long, Seq[String])] = {
    val rnd = new scala.util.Random(seed)
    val base = (0 until n).map { _ =>
      val size = 1 + rnd.nextInt(12)
      Seq.fill(size)(s"t${(math.pow(rnd.nextDouble(), 3) * 60).toInt}").distinct
    }
    val copies = base.take(n / 3).map { s =>
      val kept = s.filter(_ => rnd.nextDouble() < 0.85)
      if (rnd.nextBoolean()) kept :+ s"t${rnd.nextInt(60)}" else kept
    }
    (base ++ copies).zipWithIndex.map { case (s, i) => (i.toLong, s) }
  }

  test("minOverlap is the least o with o/n >= t in double, including rounding cases") {
    import spark.implicits._
    // thresholds k/100 hit products such as 0.56*25 = 14.000000000000002, whose naive
    // ceiling (15) would shorten the prefix and lose a pair at exactly 14/25
    val ts = (1 to 100).map(_ / 100.0)
    val ns = (1 to 200).toDF("n")
    ts.foreach { t =>
      val got = ns.select(col("n"), SimJoin.minOverlap(col("n"), t)).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      (1 to 200).foreach { n =>
        val want = (1 to n).find(o => o.toDouble / n >= t).get
        assert(got(n) == want, s"t=$t n=$n: got ${got(n)}, want $want")
      }
    }
  }

  test("equals brute-force all-pairs Jaccard on seeded random sets") {
    val sets = randomSets(seed = 7L, n = 240)
    val df = toDF(sets).cache()
    try {
      Seq(0.3, 0.5, 0.6, 0.7, 0.8, 1.0).foreach { t =>
        val want = bruteForce(sets, t)
        assert(want.nonEmpty, s"fixture has no pairs at t=$t")
        assert(joined(df, t) == want, s"t=$t")
      }
    } finally df.unpersist()
  }

  test("pairs exactly on the threshold are found (0.6*5, 0.7*10, 0.56*25, 0.55*100)") {
    // x = rare private tokens first, then the tokens it shares with y; y ⊂ x with
    // |y| = t·|x|, so J = t exactly and x's rarest shared token is the LAST token of
    // its prefix — one token shorter and the pair is never generated
    Seq((0.6, 5), (0.7, 10), (0.56, 25), (0.55, 100)).foreach { case (t, n) =>
      val shared = math.round(t * n).toInt
      val x = (0 until n - shared).map(i => s"p$i") ++ (0 until shared).map(i => s"s$i")
      val y = (0 until shared).map(i => s"s$i")
      val sets = Seq((1L, x), (2L, y), (3L, y.take(1) :+ "q"))
      assert(bruteForce(sets, t).contains((1L, 2L, shared, n, shared)))
      assert(joined(toDF(sets), t) == bruteForce(sets, t), s"t=$t n=$n")
    }
  }

  test("same result at 1 and 8 partitions") {
    val sets = randomSets(seed = 11L, n = 200)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      val results = Seq(1, 8).map { p =>
        spark.conf.set(key, p.toString)
        joined(toDF(sets).repartition(p), 0.6)
      }
      assert(results.head.nonEmpty && results.head == results(1))
      assert(results.head == bruteForce(sets, 0.6))
    } finally spark.conf.set(key, before)
  }

  test("reports candidates, verified and pairs as one observed metric") {
    val sets = randomSets(seed = 3L, n = 150)
    val mc = new MetricsCollector(spark)
    try {
      val n = SimJoin.jaccard(toDF(sets), 0.5).collect().length
      // earlier joins in this session fire the same observation; the listener bus
      // is FIFO, so this query's row is the last to arrive
      val deadline = System.nanoTime() + 10000000000L
      def latest = mc.snapshot.get(SimJoin.Metric).map(_._2)
      while (!latest.exists(_("pairs") == n.toLong) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val m = latest.getOrElse(fail("metric never arrived"))
      val (candidates, verified, pairs) =
        (m("candidates").asInstanceOf[Long], m("verified").asInstanceOf[Long],
          m("pairs").asInstanceOf[Long])
      assert(pairs == n && n == bruteForce(sets, 0.5).size)
      assert(verified >= pairs && candidates >= verified, s"metrics: $m")
      // prefix filtering verifies far fewer pairs than all-pairs would
      assert(verified < sets.size.toLong * (sets.size - 1) / 2 / 4, s"metrics: $m")
    } finally mc.close()
  }
}
