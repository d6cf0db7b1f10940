package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.runtime.Metrics

/**
 * Exact set-similarity self-join by prefix filtering (the all-pairs/PPJoin family;
 * PAPERS.md, "Cache-oblivious High-performance Similarity Join", SIGMOD'19).
 *
 * Every pair of token sets with Jaccard ≥ t is found, with no cap and no blocking
 * key that can miss a pair:
 *  1. tokens are ordered by global document frequency, rarest first, ties broken by
 *     the token itself — one total order shared by every set;
 *  2. each set x indexes only its first |x| − α(|x|) + 1 tokens, where α(n) is the
 *     least overlap o with o/n ≥ t. A pair with Jaccard ≥ t overlaps in at least
 *     α(|x|) tokens, so its globally rarest common token lies in both prefixes;
 *  3. prefix postings equi-join on the token; the length filter
 *     min(|x|,|y|)/max(|x|,|y|) ≥ t drops pairs whose sizes alone rule them out;
 *     each pair is kept only at its rarest common prefix token, which dedupes
 *     candidates without a shuffle;
 *  4. the surviving pairs are verified by exact intersection size.
 *
 * Rare-first order keeps posting lists short: frequent tokens sit at the end of
 * every set and are never indexed unless a set is almost all frequent tokens.
 *
 * α and both filters are evaluated in double exactly like the verification
 * inter / (|x| + |y| − inter) ≥ t (monotone rounding), so floating-point rounding can
 * never shorten a prefix or drop a pair the verification would accept — e.g. 0.56·25
 * evaluates to 14.000000000000002, whose ceiling would wrongly demand overlap 15,
 * while 14/25 ≥ 0.56 holds.
 *
 * What the join did is published, with no extra Spark job, as the observed metric
 * [[Metric]] (see [[graft.runtime.Metrics]]): `candidates` (prefix-join pairs that
 * pass the length filter), `verified` (distinct pairs whose overlap was computed)
 * and `pairs` (pairs at Jaccard ≥ t).
 */
object SimJoin {

  /** Observed-metric name of the join's counters. */
  val Metric = "simjoin.jaccard"

  /** Least overlap o ≥ 1 of a set of size n with o/n ≥ t, as evaluated in double:
    * the ceiling of t·n, corrected by one step either way for rounding. */
  private[graft] def minOverlap(n: Column, t: Double): Column = {
    val o0 = ceil(lit(t) * n)
    val o1 = when((o0 - 1) / n >= t, o0 - 1).otherwise(o0)
    when(o1 / n < t, o1 + 1).otherwise(o1)
  }

  /**
   * @param sets (id, toks: array<string>) — one row per id (ids unique and
   *             orderable); toks is read as a set, empty sets never pair.
   * @param t    Jaccard threshold in (0, 1].
   * @return (id_a, id_b, inter, size_a, size_b), id_a < id_b, one row per pair with
   *         inter / (size_a + size_b − inter) ≥ t.
   */
  def jaccard(sets: DataFrame, t: Double): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"Jaccard threshold must be in (0, 1], got $t")
    // document frequency of every token, counted on its postings in place (one
    // shuffle on the token, no frequency table joined back), then each set's tokens
    // regrouped in the global order (document frequency, token)
    val ordered = sets.select(col("id"), explode(array_distinct(col("toks"))).as("tok"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).getField("tok")
        .as("toks"))
      .withColumn("sz", size(col("toks")))
    val indexed = ordered
      .withColumn("prefix",
        slice(col("toks"), lit(1), (col("sz") - minOverlap(col("sz"), t) + 1).cast("int")))
      .withColumn("ptok", explode(col("prefix")))
    def side(s: String) = indexed.select(col("ptok"), col("id").as(s"id_$s"),
      col("sz").as(s"size_$s"), col("toks").as(s"toks_$s"), col("prefix").as(s"prefix_$s"))
    val candidates = side("a").join(side("b"), "ptok")
      .filter(col("id_a") < col("id_b") &&
        least(col("size_a"), col("size_b")) / greatest(col("size_a"), col("size_b")) >= t)
      // the rarest common prefix token (array_intersect keeps prefix_a's order)
      .withColumn("first", element_at(array_intersect(col("prefix_a"), col("prefix_b")), 1)
        === col("ptok"))
      .withColumn("inter",
        when(col("first"), size(array_intersect(col("toks_a"), col("toks_b")))))
      .withColumn("hit",
        col("first") &&
          col("inter") / (col("size_a") + col("size_b") - col("inter")) >= t)
    Metrics.observed(candidates, Metric,
        count(lit(1)).as("candidates"), count_if(col("first")).as("verified"),
        count_if(col("hit")).as("pairs"))
      .filter(col("hit"))
      .select("id_a", "id_b", "inter", "size_a", "size_b")
  }
}
