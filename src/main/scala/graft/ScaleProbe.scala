package graft

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale check for the dedup/ANN/decontamination family: replays
  * the family at 1× (sf0.1) and at a synthetic 10× corpus and records how
  * wall-time, output rows, and the candidate-stage counts scale. The 100 TB
  * story for these operators rests on banded candidate generation growing
  * ~linearly in corpus size (at constant duplicate rate) — this probe is the
  * measurement behind that claim, summarized in BASELINE.md.
  *
  * The 10× corpus must be statistically LIKE the original, not 10 literal
  * copies (copies would make every doc a 10-way near-dup group and measure a
  * pathology instead of scale). Each replica k:
  *  - documents: every token gets a replica prefix (`w` → `x3w`) — a
  *    bijection on words, so within-replica shingle equality (and thus the
  *    replica's whole dup structure) is preserved EXACTLY, while
  *    cross-replica shingle overlap is ZERO by construction. (A character
  *    bijection was tried first and failed: this corpus draws from a tiny
  *    vocabulary, and letter rotations map some words onto other replicas'
  *    words, producing spurious cross-replica matches.)
  *  - embeddings: a per-replica signed cyclic-shift permutation of the
  *    dims (orthogonal map: within-replica cosine structure exact; the
  *    shift means cross-replica images of even a concentrated vector
  *    decorrelate to ~N(0, 1/√dim), which plain sign flips do not give).
  *    NOTE the corpus itself is near-isotropic with max
  *    pairwise cos ≈ 0.5, so the population of pairs above the 0.45
  *    near-dup threshold genuinely grows ~quadratically in corpus size —
  *    the honest scale metric for embedNearDup is time vs CANDIDATES, not
  *    time vs corpus.
  *  - ids re-key by k·10⁶, so replica 0 keeps the vec_id < 10 query set —
  *    the ANN probes scan 10× the corpus for the SAME 10 queries.
  */
object ScaleProbe {

  private val Family = Seq(
    "llm_dedup_exact", "llm_dedup_spans", "llm_dedup_minhash",
    "llm_dedup_ngram", "llm_dedup_ngram_capped", "llm_dedup_simhash",
    "llm_dedup_embed", "llm_dedup_clusters", "llm_ann_topk", "llm_ann_lsh",
    "llm_ann_ivf", "llm_ann_quant", "llm_decontaminate",
    "llm_decontaminate_capped")

  private val Off = 1000000L

  private[graft] def generate(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until factor).map { k =>
      val tagged =
        if (k == 0) col("text")
        else regexp_replace(col("text"), "(\\w+)", s"x$k$$1")
      docs.select(
        (col("doc_id") + lit(k * Off)).as("doc_id"),
        tagged.as("text"),
        col("lang"), col("source"),
        length(tagged).cast("bigint").as("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val embs = spark.read.parquet(s"$base/embeddings.parquet")
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    (0 until factor).map { k =>
      // signed cyclic-shift permutation: orthogonal, so within-replica
      // cosine is EXACT; cross-replica the dominant coordinate multiplies a
      // DIFFERENT coordinate (shift k has no fixed points for 0<k<dim),
      // so even concentrated vectors decorrelate — plain sign flips left
      // σ = √Σw_i² ≈ 0.3 for concentrated vectors and same-vector replica
      // images read as 0.59-cos near-dups
      val mapped =
        if (k == 0) col("embedding")
        else transform(sequence(lit(0), lit(dim - 1)), i => {
          val src = element_at(col("embedding"),
            (pmod(i + lit(k), lit(dim)) + 1).cast("int"))
          when(pmod(hash(i, lit(k)), lit(2)) === 0, -src).otherwise(src)
        })
      embs.select((col("vec_id") + lit(k * Off)).as("vec_id"),
        mapped.as("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Candidate-stage counts — the quantities whose growth rate IS the scale
    * claim (wall-time follows them):
    *  - minhash_cands: LSH banded candidate pairs before Jaccard verify
    *    (nearDupMinhash defaults: 3-shingles, 128 hashes, 16 bands);
    *  - ngram_joinrows / ngram_capped_joinrows: Σ df·(df−1)/2 over the
    *    inverted shingle index (df ≤ cap for the capped variant) — the
    *    exact pair-occurrence row count the index join must shuffle. */
  private[graft] def candidates(spark: SparkSession, dir: String): Map[String, Long] = {
    val docs = graft.sources.Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val shs = Dedup.shingleSets(docs, 3)
    val mh = Dedup.lshCandidates(Dedup.minhashSignatures(shs, 128), 16, 8).count()
    val df = shs.select(explode(col("shingles")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    def joinRows(d: DataFrame) =
      d.agg(sum(expr("df * (df - 1) div 2"))).head().getLong(0)
    // editdist_cands: the PassJoin candidate pair count before the
    // levenshtein verify (round-14: the quantity its scale claim rides
    // on — true pairs grow linearly in the replica construction, so
    // candidates must too)
    val ed = graft.operators.EditJoin.candidatePairs(
      graft.operators.EditJoin.normalized(docs), 8).count()
    Map("minhash_cands" -> mh,
      "ngram_joinrows" -> joinRows(df),
      "ngram_capped_joinrows" -> joinRows(df.filter(col("df") <= 2)),
      "editdist_cands" -> ed)
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale10")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/embeddings.parquet"))) {
      System.err.println(s"[probe] generating ${factor}x corpus at $out")
      generate(spark, base, out, factor)
    }

    val sb = new StringBuilder("{")
    Seq("x1" -> base, s"x$factor" -> out).foreach { case (tag, dir) =>
      val cands = candidates(spark, dir)
      val rowsOut = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      val times = Family.map { name =>
        val fn = SparkEntry.queries(name)
        rowsOut(name) = fn(spark, dir).count() // warm-up, also records rows
        val t = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }.min
        name -> t
      }
      val qs = times.map { case (k, v) => "\"" + k + "\":" +
        BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP) }.mkString("{", ",", "}")
      val rs = rowsOut.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val cs = cands.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      sb.append(s""""$tag":{"dir":"$dir","sec":$qs,"rows":$rs,"cands":$cs},""")
    }
    val json = sb.dropRight(1).append("}").toString
    val p = java.nio.file.Paths.get("target/scale_probe.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
