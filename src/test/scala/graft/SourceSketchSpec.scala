package graft

import graft.operators.{Sketches, TextAnalysis, TextOps}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAll, propBoolean}

class SourceSketchSpec extends SparkSpec {
  import spark.implicits._

  private val a1 = "the quick brown fox jumps over the lazy dog tonight"
  private val a2 = "pack my box with five dozen liquor jugs again"
  private val b1 = "the quick brown fox jumps over the lazy dog tonight" // = a1
  private val b2 = "sphinx of black quartz judge my vow now"

  private def docs = Seq(
    (1L, a1, "srcA"), (2L, a2, "srcA"),
    (3L, b1, "srcB"), (4L, b2, "srcB"),
    (5L, "one two three four five six seven", "srcC")
  ).toDF("doc_id", "text", "source")

  /** Brute-force Jaccard of two sources' distinct 3-shingle sets. */
  private def trueJaccard(x: String, y: String): Double = {
    val sets = docs.select(col("source"), TextOps.tokens(col("text")).as("toks"))
      .select(col("source"), explode(TextOps.shinglesOf(col("toks"), 3)).as("g"))
      .distinct().as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (sx, sy) = (sets(x), sets(y))
    sx.intersect(sy).size.toDouble / sx.union(sy).size
  }

  test("with k >= all distinct shingles the KMV estimate IS exact Jaccard") {
    val r = Sketches.sourceSketchSim(docs, n = 3, k = 1024)
      .collect().map(x => ((x.getString(0), x.getString(1)),
        x.getDouble(4))).toMap
    assert(r.size === 3)
    assert(math.abs(r(("srcA", "srcB")) - trueJaccard("srcA", "srcB")) < 1e-6)
    assert(r(("srcA", "srcC")) === 0.0)
    assert(r(("srcB", "srcC")) === 0.0)
  }

  test("sketch truncates at k: ku == k when the union outgrows it") {
    val r = Sketches.sourceSketchSim(docs, n = 3, k = 4).collect()
    assert(r.forall(_.getLong(2) == 4L)) // every pair's union has > 4 hashes
    // estimates stay in [0, 1]
    assert(r.forall(x => x.getDouble(4) >= 0.0 && x.getDouble(4) <= 1.0))
  }

  test("deterministic under repartition (pure function of the hash values)") {
    val once = Sketches.sourceSketchSim(docs, n = 3, k = 8)
      .orderBy("src_a", "src_b").collect().toSeq
    val again = Sketches.sourceSketchSim(docs.repartition(7), n = 3, k = 8)
      .orderBy("src_a", "src_b").collect().toSeq
    assert(once === again)
  }

  test("shard sketches roll up exactly: merge(bottom_k per shard) == one-shot, duplicates absorbed") {
    val k = 6
    val oneShot = Sketches.sourceSketch(docs, n = 3, k = k)
      .orderBy("source").collect().toSeq
    // arbitrary shard split (by doc parity) + a DUPLICATE of shard 1 —
    // the append-only ledger's crash-replay case
    val s1 = Sketches.sourceSketch(docs.filter(col("doc_id") % 2 === 0), 3, k)
    val s2 = Sketches.sourceSketch(docs.filter(col("doc_id") % 2 === 1), 3, k)
    val ledger = s1.unionByName(s2).unionByName(s1)
    val merged = Sketches.mergeSketches(ledger, k = k)
      .orderBy("source").collect().toSeq
    assert(merged === oneShot)
  }

  test("bottom-k heap order is exact even where 60-bit hashes collapse onto one double") {
    // the -h-as-double score is only claimed monotone; adjacent longs
    // differing below the 53-bit mantissa get EQUAL scores and must be
    // separated by the id tie-break. Generate clustered hashes (same
    // double, different low bits) plus spread ones and compare against a
    // Seq-based exact bottom-k.
    val base = Gen.chooseNum(1L, (1L << 60) - 16)
    val gen = Gen.nonEmptyListOf(for {
      b <- base; off <- Gen.chooseNum(0L, 7L)
    } yield b + off)
    val prop = forAll(gen, Gen.chooseNum(1, 12)) { (hs: List[Long], k: Int) =>
      // the default mode keeps duplicate entries: feed it distinct hashes
      // (the distinct-ids mode bottomK uses is checked separately below)
      val df = hs.distinct.map(h => ("s", h)).toDF("source", "h")
        .groupBy(col("source"))
        .agg(graft.functions.TopKByScore(-col("h").cast("double"), col("h"), k).as("top"))
        .select(transform(col("top"), x => x.getField("id")).as("sk"))
      val got = df.collect().head.getSeq[Long](0).toList
      val exp = hs.distinct.sorted.take(k)
      (got == exp) :| s"k=$k hashes=$hs got=$got exp=$exp"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("distinct-ids top-k ≡ distinct() then default top-k (duplicates, collapsed doubles, merged shards)") {
    // the bottomK shape: score = -h as double, so adjacent 60-bit hashes
    // share a score and only the id tie-break separates them. Rows repeat
    // within and across partitions, and a duplicated shard is unioned in,
    // so partial heaps holding the same entries meet in merge.
    val hash = for {
      b <- Gen.chooseNum(1L, (1L << 60) - 16); off <- Gen.chooseNum(0L, 7L)
    } yield b + off
    val gen = for {
      pool <- Gen.nonEmptyListOf(hash)
      rows <- Gen.nonEmptyListOf(for {
        src <- Gen.oneOf("a", "b", "c"); h <- Gen.oneOf(pool)
      } yield (src, h))
      k <- Gen.chooseNum(1, 12)
      parts <- Gen.chooseNum(1, 5)
    } yield (rows, k, parts)
    def topK(df: org.apache.spark.sql.DataFrame, k: Int, distinctIds: Boolean) =
      df.groupBy(col("source"))
        .agg(graft.functions.TopKByScore(-col("h").cast("double"), col("h"), k,
          distinctIds).as("top"))
        .collect().map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getDouble(0), e.getLong(1))))
        .toMap
    val prop = forAll(gen) { case (rows, k, parts) =>
      val df = rows.toDF("source", "h").repartition(parts)
      val in = df.unionByName(df.filter(col("h") % 2 === 0).repartition(parts))
      val got = topK(in, k, distinctIds = true)
      val exp = topK(in.distinct(), k, distinctIds = false)
      val exact = rows.groupBy(_._1).map { case (src, xs) =>
        src -> xs.map(_._2).distinct.sorted.take(k) }
      (got == exp && got.map { case (src, es) => src -> es.map(_._2) } == exact) :|
        s"k=$k parts=$parts rows=$rows got=$got exp=$exp"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("heaps curve: new types land at their first-occurrence checkpoint; cum-sum totals the vocab") {
    // doc 0: 3 new types; doc 1: 1 new (b,c repeat); doc 3: 2 new; doc 2: none
    val d = Seq(
      (0L, "a b c"), (1L, "b c d"), (2L, "a d"), (3L, "e f a")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.heapsCurve(d, step = 1L)
      .orderBy("checkpoint").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq === Seq((1L, 3L, 3L), (2L, 1L, 4L), (4L, 2L, 6L)))
    // step=2 buckets docs {0,1} and {2,3}
    val r2 = TextAnalysis.heapsCurve(d, step = 2L)
      .orderBy("checkpoint").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r2.toSeq === Seq((2L, 4L, 4L), (4L, 2L, 6L)))
  }

  test("length buckets: truncation, bucket edges, and waste arithmetic") {
    val d = Seq(
      (1L, Seq.fill(5)("w").mkString(" ")),    // 5 tokens  → bucket 32
      (2L, Seq.fill(32)("w").mkString(" ")),   // 32 tokens → bucket 32 (edge)
      (3L, Seq.fill(40)("w").mkString(" ")),   // 40 tokens → bucket 64
      (4L, Seq.fill(100)("w").mkString(" "))   // truncates to 64 → bucket 64
    ).toDF("doc_id", "text")
    val r = TextAnalysis.lengthBuckets(d, step = 32, maxLen = 64)
      .orderBy("bucket").collect()
    assert(r.length === 2)
    assert(r(0).getLong(0) === 32L && r(0).getLong(1) === 2L &&
      r(0).getLong(2) === 37L && r(0).getLong(3) === 64L)
    assert(math.abs(r(0).getDouble(4) - (1.0 - 37.0 / 64.0)) < 1e-9)
    assert(r(1).getLong(0) === 64L && r(1).getLong(1) === 2L &&
      r(1).getLong(2) === 104L && r(1).getLong(3) === 128L)
  }
}
