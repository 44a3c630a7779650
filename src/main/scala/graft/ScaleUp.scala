package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a `factor`× corpus of ALL ten driver tables from a base SF
  * dir — the input for running the full gate/bench at 10× bench scale
  * (round-7 verdict's top item: the ScaleProbe covered only dedup/ANN;
  * this feeds the whole 100+-query suite).
  *
  * Construction follows TPC-H's own scaling philosophy: region/nation are
  * FIXED dims at every scale factor; fact and big-dim keys replicate with
  * per-replica key offsets (referential integrity preserved: lineitem's
  * order/part/supp keys shift in lockstep with their parents); the date
  * range stays fixed (higher order rate, like real TPC-H SF growth).
  * `events` — the tick stream — grows along its OWN natural axis instead:
  * replica k shifts `ts` by k·(span+1h), because a tick stream at 10× is
  * the same pairs ticking for 10× longer (one row/sec/pair forever), not
  * 10× the pairs. Supplier names get a replica tag (q21 groups by s_name;
  * colliding names would merge groups across replicas). Documents and
  * embeddings reuse ScaleProbe's constant-duplicate-rate generators
  * (token-prefix bijection / signed cyclic-shift) — 10 literal copies
  * would measure a pathology, not scale.
  *
  * Output `events.ts` is µs TIMESTAMP (Spark cannot write parquet ns);
  * [[graft.sources.Tables.events]] handles both encodings.
  */
object ScaleUp {

  private def replicate(df: DataFrame, factor: Int)
                       (mk: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(k => mk(df, k)).reduce(_ unionByName _)

  def generate(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    def write(df: DataFrame, name: String, parts: Int = 32): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")

    // canonical reader — applies the fixture timestamp policy (naive µs =
    // UTC instant) so replicated date/ts columns are TimestampType
    val read = (n: String) => graft.sources.Tables.read(spark, base, n)

    // fixed dims: copy as-is (single file — they are tiny by contract)
    write(read("region"), "region", parts = 1)
    write(read("nation"), "nation", parts = 1)

    // key offsets: one above each base table's max key so replica key
    // spaces are disjoint
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1
    val (custOff, suppOff, partOff, ordOff) =
      (maxOf(read("customer"), "c_custkey"), maxOf(read("supplier"), "s_suppkey"),
        maxOf(read("part"), "p_partkey"), maxOf(read("orders"), "o_orderkey"))

    write(replicate(read("customer"), factor) { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * custOff))
    }, "customer", parts = 4)

    write(replicate(read("supplier"), factor) { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * suppOff))
        .withColumn("s_name",
          if (k == 0) col("s_name") else concat(col("s_name"), lit(s"#r$k")))
    }, "supplier", parts = 1)

    write(replicate(read("part"), factor) { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * partOff))
    }, "part", parts = 4)

    write(replicate(read("orders"), factor) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * ordOff))
        .withColumn("o_custkey", col("o_custkey") + lit(k * custOff))
    }, "orders")

    write(replicate(read("lineitem"), factor) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * ordOff))
        .withColumn("l_partkey", col("l_partkey") + lit(k * partOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * suppOff))
    }, "lineitem")

    // events: normalize ns→µs once via the canonical reader, then shift the
    // time axis per replica (span + 1h guard gap so replicas never abut a
    // second boundary) and re-key event_id
    val ev = graft.sources.Tables.events(spark, base)
    val (tsLo, tsHi) = {
      val r = ev.agg(min(col("ts")), max(col("ts"))).head()
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    val spanSec = (tsHi.getTime - tsLo.getTime) / 1000L + 3600L
    val evOff = maxOf(ev, "event_id")
    write(replicate(ev, factor) { (d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * evOff))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${k * spanSec} SECONDS"))
    }, "events")

    // documents + embeddings: ScaleProbe's statistically-like replicas
    ScaleProbe.generate(spark, base, out, factor)
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, base, out, factor)
    println(s"[scaleup] ${factor}x of $base written to $out")
    spark.stop()
  }
}
