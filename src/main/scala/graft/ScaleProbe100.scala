package graft

import graft.operators.{Dedup, EditJoin, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 100× evidence rung (round-14 verdict missing #3): every scale claim
  * rested on measured 1×→10×; this probe replays the worst-scaling
  * families at THREE tiers — sf0.1 (1×), the [[ScaleUp]] 10× corpus, and a
  * 100× documents+embeddings corpus ([[ScaleProbe.generate]]'s
  * statistically-like replicas, factor 100) — and records wall time NEXT
  * TO each family's driving quantity:
  *
  *  - editdist_cands: PassJoin candidate pairs before the levenshtein
  *    verify (linear in corpus at constant dup rate — the L70 claim);
  *  - winnow_joinrows: Σ df·(df−1)/2 over the winnowing fingerprint index
  *    — the exact pair-occurrence rows the MOSS join shuffles;
  *  - ngram_capped_joinrows: same bound over the df≤2-capped shingle
  *    index (the L3 valve);
  *  - decontam_pairrows: Σ dft·dfe over shingles under the df cap — the
  *    cross-side pair rows decontamination expands;
  *  - hardneg_cands / bitext_cands: banded-LSH candidate pairs at the
  *    corpus-adaptive band width — the r14 similarity joins' driving
  *    quantity (the gates pin tiny oracle-parity configs; the SCALE
  *    config is what this measures).
  *
  * The claim holds when each family's wall time grows no faster than its
  * driving quantity between tiers; a super-linear wall over a linear
  * quantity is a regression (the r14 broadcast traps were exactly that). */
object ScaleProbe100 {

  /** (gate family timed per tier, at the gates' own configs) */
  private val Family = Seq(
    "llm_editdist_join", "llm_winnow_dedup", "llm_dedup_ngram_capped",
    "llm_decontaminate_capped", "llm_dedup_substr", "llm_boilerplate")

  private def docsOf(s: SparkSession, d: String): DataFrame =
    graft.sources.Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  private def joinRows(df: DataFrame): Long = {
    val r = df.agg(sum(expr("df * (df - 1) div 2"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0) // empty index -> 0, not NPE
  }

  private[graft] def drivers(s: SparkSession, d: String): Seq[(String, Long)] = {
    val docs = docsOf(s, d)
    val ed = EditJoin.candidatePairs(EditJoin.normalized(docs), 8).count()
    val wfp = graft.operators.TextAnalysis.winnow(docs, 3, 4)
      .select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val sh = Dedup.shingleSets(docs, 3)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val shDf = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // decontamination pair rows at the llm_decontaminate_capped config:
    // train/eval by content-hash split, df<=50 per side, Σ dft·dfe
    val split = graft.operators.CorpusPrep.assignSplit(docs)
    val sides = Dedup.shingleSets(split, 3)
      .join(split.select(col("doc_id"), col("split")), "doc_id")
      .select(explode(col("shingles")).as("sh"),
        when(col("split") === "train", 0).otherwise(1).as("side"))
      .groupBy(col("sh")).agg(
        count(when(col("side") === 0, lit(1))).as("dft"),
        count(when(col("side") === 1, lit(1))).as("dfe"))
    val decontam = {
      // empty/fully-capped shingle side -> sum() is NULL, not a row to NPE on
      val r = sides.filter(col("dft") <= 50 && col("dfe") <= 50)
        .agg(sum(col("dft") * col("dfe"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // similarity joins at the SCALE config: full corpus, adaptive bands
    val embs = graft.sources.Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .localCheckpoint()
    val bits = Similarity.adaptiveBits(embs.count())
    val cb = Similarity.lshBands(embs, bands = 96, bitsPerBand = bits, seed = 42)
      .localCheckpoint()
    val hardneg = cb.hint("shuffle_hash")
      .join(cb.select(col("id").as("qid"), col("band"), col("bv")),
        Seq("band", "bv"))
      .filter(col("id") =!= col("qid")).select(col("qid"), col("id")).distinct()
      .count()
    Seq("editdist_cands" -> ed,
      "winnow_joinrows" -> joinRows(wfp),
      "ngram_capped_joinrows" -> joinRows(shDf.filter(col("df") <= 2)),
      "decontam_pairrows" -> decontam,
      "simjoin_cands" -> hardneg)
  }

  /** LSH-family wall + CANDIDATE RECALL at the SCALE config (the r15
    * watch item: `simjoin_cands` grows ~15-16×/tier — super-linear in
    * corpus size — so the question is whether WALL tracks it and whether
    * recall survives the corpus-adaptive band widening). Wall times the
    * full knnGraph chain (banding → candidate join → exact verify →
    * top-k → mutualize) at the adaptive width; recall = the fraction of
    * brute-force top-5 edges of ≤200 sampled anchors present in the
    * banded candidate set (verification is exact, so candidate recall IS
    * result recall). */
  private[graft] def lshScale(s: SparkSession, d: String): Seq[(String, Any)] = {
    val embs = graft.sources.Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .localCheckpoint()
    val n = embs.count()
    val base = Similarity.adaptiveBits(n)
    // band-rounding adjudication, NO pair expansion: how candidate mass
    // responds to band width. Sign-noise collisions halve per added bit;
    // irreducible near-dup cluster pairs survive any width — the sweep's
    // slope separates the two causes of super-linear simjoin_cands growth
    val sweep = Seq(base, base + 3, base + 6).map { b =>
      s"pb_bits$b" -> Similarity.bandPairBound(
        Similarity.lshBands(embs, bands = 96, bitsPerBand = b, seed = 42))
    }
    // the pair-mass valve at the graph's own budget: the measured r15/r16
    // failure mode was the UNVALVED adaptive width shuffling the full
    // candidate mass (731M distinct pairs × embedding payload) through
    // the scoring join — the budget prices that join, not bucket averages
    val budget = 25000000L
    val (bits, bound) = Similarity.budgetBits(embs, 96, 42L, budget, base)
    val wall = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      Similarity.knnGraph(embs, k = 5, pairBudget = Some(budget)).count()
      (System.nanoTime() - t0) / 1e9
    }.min
    val rows = Similarity.knnGraph(embs, k = 5, pairBudget = Some(budget)).count()
    // candidate recall of brute-force top-5 edges over sampled anchors —
    // at the VALVED width (the graph actually built) and at the unvalved
    // adaptive width (the recall the mass was buying): on a corpus with a
    // metric gap the two agree; recall tracking candidate mass instead is
    // the isotropic-corpus signature. The probe is a broadcast-semi over
    // the narrow (qid,cid) pair stream — no embedding payload, no sort
    def candsAt(b: Int): DataFrame = {
      val cb = Similarity.lshBands(embs, bands = 96, bitsPerBand = b, seed = 42)
      cb.hint("shuffle_hash")
        .join(cb.select(col("id").as("qid"), col("band"), col("bv")),
          Seq("band", "bv"))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("cid"))
    }
    val step = math.max(1L, n / 200L)
    val queries = embs.filter(col("vec_id") % step === 0)
    val exact = Similarity.bruteForceTopK(embs, queries, 5)
      .select(col("qid"), col("cid")).localCheckpoint()
    val exactN = exact.count()
    def recallAt(b: Int): Double = {
      val hit = candsAt(b).join(broadcast(exact), Seq("qid", "cid"), "left_semi")
        .distinct().count()
      if (exactN == 0) 1.0 else hit.toDouble / exactN
    }
    Seq("n" -> n, "bits_adaptive" -> base, "bits_valved" -> bits,
      "pair_bound" -> bound) ++ sweep ++
      Seq("knn_sec" -> wall, "knn_rows" -> rows, "recall_q" -> exactN,
        "recall_valved" -> recallAt(bits)) ++
      (if (bits != base) Seq("recall_adaptive" -> recallAt(base)) else Nil)
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val x10 = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/sf1")
    val x100 = sys.env.getOrElse("SPARK_GRAFT_SCALE100_DIR", "target/sf10")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$x100/embeddings.parquet"))) {
      System.err.println(s"[probe100] generating 100x docs+embeddings at $x100")
      ScaleProbe.generate(spark, base, x100, 100)
    }

    val sb = new StringBuilder("{")
    Seq("x1" -> base, "x10" -> x10, "x100" -> x100).foreach { case (tag, dir) =>
      val rowsOut = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      val times = Family.map { name =>
        val fn = SparkEntry.queries(name)
        rowsOut(name) = fn(spark, dir).count() // warm-up + row count
        val best = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }.min
        name -> best
      }
      val ds = drivers(spark, dir)
      val lsh = lshScale(spark, dir)
      def obj(xs: Seq[(String, Any)]) = xs.map { case (k, v) =>
        "\"" + k + "\":" + (v match {
          case d: Double => BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
          case o => o
        })
      }.mkString("{", ",", "}")
      sb.append(s""""$tag":{"dir":"$dir","sec":${obj(times)},""" +
        s""""rows":${obj(rowsOut.toSeq)},"drivers":${obj(ds)},""" +
        s""""lsh_scale":${obj(lsh)}},""")
      System.err.println(s"[probe100] $tag done")
    }
    val json = sb.dropRight(1).append("}").toString
    val p = java.nio.file.Paths.get("target/scale_probe_100.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
