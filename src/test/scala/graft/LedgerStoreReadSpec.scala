package graft

import java.nio.file.Files

import graft.operators.{CorpusPrep, Dedup, TextAnalysis, Ticks}
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The first micro-batch of every ledger query that screens against a
  * store it writes itself (t4 relay, t25 ingest, t28 length, t31 substr)
  * runs and yields the one-shot result both when the store path is absent
  * and when it is a directory with no data file yet — what a crash before
  * the first append leaves. The stores are read with the schema of the
  * frame that writes them, so neither case has a schema to infer. */
class LedgerStoreReadSpec extends SparkSpec {
  import spark.implicits._

  /** `df` staged as the only file of a fresh file-stream source. */
  private def source(df: DataFrame): (String, DataFrame) = {
    val root = Files.createTempDirectory("graft-storeread-").toString
    df.coalesce(1).write.parquet(s"$root/src")
    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
    (root, stream)
  }

  /** Runs `body` once per store case: each path in `stores(root)` is left
    * absent, or made an empty directory. */
  private def eachCase(df: DataFrame)(stores: String => Seq[String])(
      body: (String, DataFrame) => Unit): Unit =
    Seq("absent", "empty directory").foreach { kind =>
      val (root, stream) = source(df)
      if (kind == "empty directory") stores(root).foreach(new java.io.File(_).mkdirs())
      withClue(s"store $kind: ")(body(root, stream))
    }

  private def sorted(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq.sortBy(_.toString)

  private val docs = {
    val base = (0 until 56).map(i => f"w$i%02d")
    Seq(
      (10L, base.mkString(" "), "en", "s"),
      (11L, base.updated(10, "xx").updated(30, "yy").mkString(" "), "en", "s"),
      (12L, (0 until 56).map(i => f"v$i%02d").mkString(" "), "en", "s"),
      (13L, (0 until 56).map(i => f"v$i%02d").mkString(" ") + " v00 v01 v02 v03 v04 v05 v06 v07 v08 v09 v10", "en", "s"),
      (14L, "ab", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
  }

  test("t4 relay: first batch appends the per-batch dedup") {
    val ticks = Seq(
      ("X", ts("2024-01-01 00:00:00.2"), 101.0, 101.01, 2L),
      ("X", ts("2024-01-01 00:00:00.1"), 100.0, 100.01, 1L),
      ("X", ts("2024-01-01 00:00:01.0"), 102.0, 102.01, 3L),
      ("Y", ts("2024-01-01 00:00:00.5"), 50.0, 50.01, 4L))
      .toDF("pair", "time", "bid", "ask", "seq")
    eachCase(ticks)(root => Seq(s"$root/sink")) { (root, stream) =>
      Streams.relayToParquet(stream, s"$root/sink", s"$root/ckpt",
        perBatch = Ticks.dedupSecond).awaitTermination()
      val cols = Seq("pair", "time", "bid", "ask").map(col)
      assert(sorted(spark.read.parquet(s"$root/sink").select(cols: _*)) ===
        sorted(Ticks.dedupSecond(ticks).select(cols: _*)))
    }
  }

  test("t25 ingest: first batch accepts the one-shot clean set") {
    val expected = sorted(CorpusPrep.clean(docs).select("doc_id"))
    assert(expected.nonEmpty)
    eachCase(docs)(root => Seq(s"$root/seen", s"$root/accepted")) { (root, stream) =>
      Streams.ingestToParquet(stream, s"$root/seen", s"$root/accepted", s"$root/ckpt")
        .awaitTermination()
      assert(sorted(spark.read.parquet(s"$root/accepted").select("doc_id")) === expected)
      assert(spark.read.parquet(s"$root/seen").count() === docs.count())
    }
  }

  test("t28 length: first batch's roll-up equals the one-shot buckets") {
    val in = docs.select("doc_id", "text")
    eachCase(in)(root => Seq(s"$root/seen")) { (root, stream) =>
      Streams.lengthStream(stream, s"$root/seen", s"$root/ledger", s"$root/ckpt",
        step = 8, maxLen = 64).awaitTermination()
      assert(sorted(Streams.rollupLengthLedger(spark.read.parquet(s"$root/ledger"))) ===
        sorted(TextAnalysis.lengthBuckets(in, step = 8, maxLen = 64)))
    }
  }

  test("t31 substr: first batch's output equals the one-shot scrub") {
    val in = docs.select("doc_id", "text")
    eachCase(in)(root => Seq(s"$root/seen", s"$root/grams")) { (root, stream) =>
      Streams.substrStream(stream, s"$root/seen", s"$root/grams", s"$root/out",
        s"$root/ckpt", minRun = 5).awaitTermination()
      val got = spark.read.parquet(s"$root/out").distinct()
      assert(sorted(got) === sorted(Dedup.dedupSubstr(in, minRun = 5)))
      // the in-batch scrub bites (doc 13 repeats doc 12's opening run)
      assert(got.filter(col("doc_id") === 13L && col("n_kept") < col("n_tokens")).count() === 1)
    }
  }
}
