package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate aggregates for cardinality/quantile questions at 100 TB,
  * where exactness costs a full shuffle of the distinct keys:
  *
  *  - `approx_count_distinct` (HyperLogLog++): fixed-size sketch, map-side
  *    partial merge — the only sane way to count distinct users per slice
  *    on a petabyte stream. Deterministic for fixed input (no RNG), but the
  *    estimate differs across engines' sketch implementations, so these are
  *    checked by *error-bound specs* against exact counts, not by the
  *    cross-engine oracle.
  *  - `approx_percentile`: bounded-memory quantiles for latency/value
  *    distributions.
  *
  * Both are Spark built-ins — composing them per slice is the operator;
  * nothing custom needed (and per the design rules, built-ins win). */
object Sketches {

  /** Distinct users per event type: exact vs HLL++ side by side (`rsd` is
    * the target relative standard deviation). */
  def distinctUsersPerType(events: DataFrame, rsd: Double = 0.05): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd).as("approx_users"))

  /** Value quantiles per event type via the approximate percentile sketch. */
  def valueQuantiles(events: DataFrame, probabilities: Seq[Double],
                     accuracy: Int = 10000): DataFrame = {
    val probs = array(probabilities.map(lit): _*)
    events.groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), probs, lit(accuracy)).as("quantiles"))
  }

  /** L61: cross-source corpus similarity from per-source KMV (bottom-k)
    * shingle sketches — the "how much do my crawls overlap?" planning
    * report, computed WITHOUT a document-level pair join.
    *
    * Per source, the sketch is the `k` smallest distinct portable 60-bit
    * shingle hashes (Beyer et al.'s k-minimum-values summary). The k-heap
    * is a bounded [[graft.functions.TopKByScore]] partial aggregate in its
    * distinct-ids mode, so bottom-k is ONE shuffle (the group-by's; no
    * `distinct()` before it), a 100 TB source shuffles ≤ k rows per
    * partition, and sketches UNION by merging and
    * re-truncating — the mergeable-summary property that lets per-shard
    * sketches roll up without touching the corpus again. For sources A, B
    * the standard KMV estimate is
    * `|bottom_k(A ∪ B) ∩ sketch(A) ∩ sketch(B)| / |bottom_k(A ∪ B)|` —
    * deterministic (a pure function of the hash values, no RNG), exact
    * when a source has < k distinct shingles, and every step (distinct
    * hashes → bottom-k → list algebra) replays identically in the oracle.
    *
    * `-h` cast to double is monotone non-increasing in `h` and TopKByScore
    * breaks score ties by ascending id (= h), so the (score desc, id asc)
    * heap order is EXACTLY h ascending even where 60-bit hashes collapse
    * onto one 53-bit-mantissa double. */
  def sourceSketchSim(docs: DataFrame, n: Int = 3, k: Int = 256): DataFrame =
    kmvMatrix(sourceSketch(docs, n, k), k)

  /** Per-source KMV sketch: the `k` smallest distinct portable 60-bit
    * shingle hashes, as a sorted array. Bounded TopKByScore heaps — ≤ k
    * rows per partition cross the shuffle per source. The token array is
    * projected in its own column before the per-position shingle lambda
    * reads it (see [[TextOps.shinglesOf]]), so each document is tokenized
    * once. */
  def sourceSketch(docs: DataFrame, n: Int = 3, k: Int = 256): DataFrame = {
    require(n >= 1 && k >= 1, s"need n,k >= 1, got n=$n k=$k")
    bottomK(docs
      .select(col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("source"), explode(TextOps.shinglesOf(col("toks"), n)).as("g"))
      .select(col("source"), TextOps.hash60(col("g")).as("h")), k)
  }

  /** Merge per-shard sketches (many `(source, sk)` rows per source → one):
    * `bottom_k(bottom_k(A) ∪ bottom_k(B)) = bottom_k(A ∪ B)`, so shard
    * sketches roll up exactly, in any order, with duplicates absorbed —
    * the associative/commutative/idempotent property an append-only
    * sketch ledger leans on for its crash contract. */
  def mergeSketches(sketches: DataFrame, k: Int = 256): DataFrame =
    bottomK(sketches.select(col("source"), explode(col("sk")).as("h")), k)

  /** Per-source bottom-k of `(source, h)` rows with duplicates: the heap's
    * distinct-ids mode absorbs them, so this is one shuffle. */
  private def bottomK(hashes: DataFrame, k: Int): DataFrame =
    hashes
      .groupBy(col("source"))
      .agg(graft.functions.TopKByScore(-col("h").cast("double"), col("h"), k,
        distinctIds = true).as("top"))
      .select(col("source"), transform(col("top"), x => x.getField("id")).as("sk"))

  /** Pairwise KMV Jaccard estimates over `(source, sk)` sketch rows. */
  def kmvMatrix(sk: DataFrame, k: Int): DataFrame = {
    // sources are a handful of rows: broadcast the pair expansion
    sk.as("a").join(broadcast(sk.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.sk").as("ska"), col("b.sk").as("skb"))
      .withColumn("un", array_sort(array_distinct(concat(col("ska"), col("skb")))))
      .withColumn("ku", least(lit(k), size(col("un"))))
      .withColumn("low", slice(col("un"), lit(1), col("ku")))
      .withColumn("overlap",
        size(array_intersect(array_intersect(col("low"), col("ska")), col("skb"))))
      .select(col("src_a"), col("src_b"),
        col("ku").cast("long").as("ku"), col("overlap").cast("long").as("overlap"),
        round(col("overlap").cast("double") / col("ku"), 6).as("jacc_est"))
  }
}
