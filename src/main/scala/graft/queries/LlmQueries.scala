package graft.queries

import java.nio.file.Files

import graft.functions.MisraGries
import graft.operators.{CorpusPrep, Dedup, Dsir, EditJoin, Multimodal, Similarity, TextAnalysis, TextOps, Unigram}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable queries for the LLM-data-pipeline layer: document
  * deduplication (exact, MinHash-LSH, n-gram Jaccard, SimHash), embedding
  * similarity (near-dup + ANN top-k), text analysis, JSON ingest (P11), and
  * multimodal metadata.
  *
  * Oracle strategy: the Spark side uses bucketed/banded candidate
  * generation (never all-pairs); the DuckDB oracle brute-forces the same
  * definition over sf0.01 — so a hash match proves the scalable algorithm
  * loses nothing vs. the O(n²) ground truth at oracle scale. Number parity
  * notes:
  *  - Jaccard/hamming are exact integer arithmetic on both sides;
  *  - cosine is computed over `array<double>` with a sequential fold, which
  *    is bit-identical to DuckDB's `list_cosine_similarity` on `DOUBLE[]`
  *    (verified: float32 lists do NOT match — the cast is load-bearing);
  *  - content hashes go through MD5 (byte-identical everywhere), never
  *    xxhash64/murmur (Spark-internal).
  */
object LlmQueries {

  /** Normalized token-array CTE over `documents` (DuckDB twin of
    * [[graft.operators.TextOps.tokens]]). */
  private val toksCte =
    """toks AS (
      |  SELECT doc_id, text, lang,
      |         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
      |         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents
      |)""".stripMargin

  /** One BPE merge fold (DuckDB list_reduce twin of the Spark aggregate()
    * fold in [[graft.operators.TextAnalysis.bpeMerges]]): apply rule CTE
    * `rule`'s best pair to state CTE `from`, carrying columns `carry`
    * through unchanged. */
  private def bpeFoldStep(from: String, rule: String,
                          carry: String = "cnt"): String =
    s"""SELECT word, $carry,
       |  CASE WHEN b.lhs IS NULL THEN sym
       |  ELSE ltrim(list_reduce(list_prepend('', string_split(sym, ' ')),
       |    (acc, x) -> CASE WHEN right(acc, length(b.lhs)+1) = ' ' || b.lhs
       |                      AND x = b.rhs
       |                THEN acc || x ELSE acc || ' ' || x END)) END AS sym
       |FROM $from LEFT JOIN $rule b ON TRUE""".stripMargin

  /** The byte-level symbol seed over a word column: UTF-8 bytes as
    * uppercase hex pairs — the DuckDB twin of
    * [[graft.operators.TextAnalysis.byteSymSeed]]. */
  private def byteSeedSql(word: String): String =
    s"array_to_string([substr(hex(encode($word)), 2*i-1, 2) " +
      s"FOR i IN range(1, octet_length(encode($word)) + 1)], ' ')"

  /** The unrolled BPE training chain: w0 (word frequencies), s0 (char —
    * or, `byteSeed`, UTF-8-byte hex-pair — symbols), then per round i:
    * pair counts p_i, best pair b_i, and the merged state s_i (for all
    * but the last round — append it with [[bpeFoldStep]] if the final
    * state is needed). `trainWhere` filters the TRAINING corpus (the
    * cross-corpus encode gates train on a subset). */
  private def bpeChain(k: Int, trainWhere: String = "",
                       byteSeed: Boolean = false): String = {
    val seed =
      if (byteSeed) byteSeedSql("word")
      else "array_to_string(regexp_split_to_array(word, ''), ' ')"
    val head =
      s"""WITH $toksCte,
         |w0 AS (SELECT word, count(*)::BIGINT AS cnt
         |       FROM (SELECT unnest(w) AS word FROM toks $trainWhere)
         |       WHERE word IS NOT NULL AND word <> '' GROUP BY word),
         |s0 AS MATERIALIZED (
         |  SELECT word, cnt, $seed AS sym
         |  FROM w0)""".stripMargin
    val rounds = (1 to k).map { i =>
      val pair =
        s"""p$i AS (SELECT arr[i] AS lhs, arr[i+1] AS rhs, sum(cnt)::BIGINT AS pc
           |       FROM (SELECT cnt, string_split(sym, ' ') AS arr FROM s${i - 1}) t,
           |            UNNEST(generate_series(1, len(arr)-1)) AS u(i)
           |       GROUP BY 1, 2),
           |b$i AS (SELECT lhs, rhs, pc FROM p$i ORDER BY pc DESC, lhs, rhs LIMIT 1)""".stripMargin
      if (i < k) pair + s",\ns$i AS MATERIALIZED (${bpeFoldStep(s"s${i - 1}", s"b$i")})"
      else pair
    }.mkString(",\n")
    head + ",\n" + rounds
  }

  /** The byte-level ENCODE chain appended to a [[bpeChain]]: e0 = byte
    * seeds of every distinct corpus word (no vocabulary filter — the
    * encoder is total), then the k learned rules applied in order. */
  private def bpeBytesEncodeChain(k: Int): String = {
    val e0 =
      s"""e0 AS MATERIALIZED (
         |  SELECT word, octet_length(encode(word))::BIGINT AS nb,
         |         ${byteSeedSql("word")} AS sym
         |  FROM (SELECT DISTINCT unnest(w) AS word FROM toks)
         |  WHERE word IS NOT NULL AND word <> '')""".stripMargin
    val steps = (1 to k).map(i =>
      s"e$i AS MATERIALIZED (${bpeFoldStep(s"e${i - 1}", s"b$i", carry = "nb")})")
    (e0 +: steps).mkString(",\n")
  }

  /** Unrolled batch-perceptron training (DuckDB twin of
    * [[graft.operators.TextAnalysis.perceptronQuality]]): p0 = zero
    * weights; epoch i computes the exact-decimal update sum over the
    * misclassified rows under p(i-1) — every epoch a CTE pair, the
    * bpeChain pattern. All arithmetic is DECIMAL-exact; the only doubles
    * are the 6-dp feature roundings and the final margin cast. */
  private def perceptronOracle(epochs: Int): String = {
    val m = "(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3)"
    val rounds = (1 to epochs).map { i =>
      s"""u$i AS (SELECT
         |  coalesce(sum(f.y * f.x0), CAST(0 AS DECIMAL(18,6)))::DECIMAL(18,6) AS d0,
         |  coalesce(sum(f.y * f.x1), CAST(0 AS DECIMAL(18,6)))::DECIMAL(18,6) AS d1,
         |  coalesce(sum(f.y * f.x2), CAST(0 AS DECIMAL(18,6)))::DECIMAL(18,6) AS d2,
         |  coalesce(sum(f.y * f.x3), CAST(0 AS DECIMAL(18,6)))::DECIMAL(18,6) AS d3
         |  FROM feats f, p${i - 1} w
         |  WHERE (f.y = 1 AND $m <= 0) OR (f.y = -1 AND $m >= 0)),
         |p$i AS (SELECT (w.w0 + u.d0)::DECIMAL(18,6) AS w0,
         |               (w.w1 + u.d1)::DECIMAL(18,6) AS w1,
         |               (w.w2 + u.d2)::DECIMAL(18,6) AS w2,
         |               (w.w3 + u.d3)::DECIMAL(18,6) AS w3
         |        FROM p${i - 1} w, u$i u)""".stripMargin
    }.mkString(",\n")
    s"""WITH $toksCte,
       |feats AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |         CAST(1 AS DECIMAL(12,6)) AS x0,
       |         round((least(len(w)::DOUBLE / 50.0, 1.0))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(12,6) AS x1,
       |         round((len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
       |               / len(w))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(12,6) AS x2,
       |         round((least(length(replace(norm, ' ', ''))::DOUBLE / len(w) / 10.0,
       |               1.0))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(12,6) AS x3
       |  FROM toks),
       |p0 AS (SELECT CAST(0 AS DECIMAL(18,6)) AS w0, CAST(0 AS DECIMAL(18,6)) AS w1,
       |              CAST(0 AS DECIMAL(18,6)) AS w2, CAST(0 AS DECIMAL(18,6)) AS w3),
       |$rounds
       |SELECT f.doc_id, f.y,
       |       round(($m::DOUBLE)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS margin,
       |       CASE WHEN $m >= 0 THEN 1 ELSE -1 END AS pred
       |FROM feats f, p$epochs w""".stripMargin
  }

  /** One probability-domain Viterbi pass (DuckDB twin of
    * [[graft.operators.Unigram.viterbi]]) under model CTE `p$i` with total
    * CTE `t$i`: cand$i pre-lists, per (word, end-position), the candidate
    * piece probabilities ps[l] (l = 1..min(6, e); unknown singles floored
    * at 1/T, unknown multis 0); walk$i is the recursive DP carrying
    * fixed-width windows of the last 6 best values (`wb`, one IEEE mult
    * per candidate — no transcendentals, same argmax as Σlog), best-path
    * piece counts (`wc`) and piece-length paths (`wp`); ties take the
    * longest piece (list_filter max-index, the Spark fold's `>=` twin). */
  private def unigramViterbi(i: Int, words: String = "wd"): String =
    s"""cand$i AS MATERIALIZED (
       |  SELECT word, e, list(pv ORDER BY l) AS ps FROM (
       |    SELECT c.word, c.e, c.l,
       |           CASE WHEN c.l = 1
       |                THEN coalesce(p.p, (SELECT CAST(1 AS DOUBLE) / (t)::DOUBLE FROM t$i))
       |                ELSE coalesce(p.p, CAST(0 AS DOUBLE)) END AS pv
       |    FROM (SELECT word, e, unnest(range(1, least(6, e) + 1)) AS l
       |          FROM (SELECT word, unnest(range(1, length(word) + 1)) AS e
       |                FROM $words)) c
       |    LEFT JOIN p$i p ON p.piece = substr(c.word, c.e - c.l + 1, c.l))
       |  GROUP BY word, e),
       |walk$i AS (
       |  SELECT word, 0 AS e,
       |         [1, 0, 0, 0, 0, 0]::DOUBLE[] AS wb,
       |         [0, 0, 0, 0, 0, 0]::BIGINT[] AS wc,
       |         [[], [], [], [], [], []]::BIGINT[][] AS wp
       |  FROM $words
       |  UNION ALL
       |  SELECT word, e, list_prepend(b, wb[1:5]),
       |         list_prepend(wc[ls] + 1, wc[1:5]),
       |         list_prepend(list_append(wp[ls], ls), wp[1:5])
       |  FROM (
       |    SELECT word, e, wb, wc, wp,
       |           list_aggregate(cands, 'max') AS b,
       |           list_aggregate(list_filter(range(1, len(cands) + 1),
       |             l -> cands[l] = list_aggregate(cands, 'max')), 'max') AS ls
       |    FROM (SELECT w$i.word, w$i.e + 1 AS e, w$i.wb AS wb, w$i.wc AS wc,
       |                 w$i.wp AS wp,
       |                 list_transform(range(1, len(c.ps) + 1),
       |                   l -> w$i.wb[l] * c.ps[l]) AS cands
       |          FROM walk$i w$i JOIN cand$i c
       |            ON c.word = w$i.word AND c.e = w$i.e + 1)))""".stripMargin

  /** The shared unigram-LM training chain (topV=120, maxPiece=6, keepV=60,
    * one hard-EM round): seed freqs → p0 → Viterbi pass 0 → decoded usage
    * → singles add-one floor + keepV prune → m1/t1 (the trained model). */
  private def unigramChain(trainWhere: String = ""): String =
    s"""WITH RECURSIVE $toksCte,
       |wd AS (SELECT word, count(*)::BIGINT AS cnt
       |       FROM (SELECT unnest(w) AS word FROM toks $trainWhere)
       |       WHERE word IS NOT NULL AND word <> '' GROUP BY word),
       |sf AS (SELECT substr(word, i + 1, l) AS piece, sum(cnt) AS freq
       |       FROM (SELECT word, cnt, i,
       |                    unnest(range(1, least(6, length(word) - i) + 1)) AS l
       |             FROM (SELECT word, cnt, unnest(range(0, length(word))) AS i
       |                   FROM wd))
       |       GROUP BY 1),
       |sing AS (SELECT piece, freq FROM sf WHERE length(piece) = 1),
       |m0 AS MATERIALIZED (
       |  SELECT piece, freq AS used FROM sing
       |  UNION ALL
       |  SELECT piece, freq AS used FROM (
       |    SELECT piece, freq FROM sf WHERE length(piece) >= 2
       |    ORDER BY freq DESC, piece LIMIT 120)),
       |t0 AS (SELECT sum(used) AS t FROM m0),
       |p0 AS MATERIALIZED (
       |  SELECT piece, (used)::DOUBLE / (SELECT (t)::DOUBLE FROM t0) AS p FROM m0),
       |${unigramViterbi(0)},
       |dec0 AS (SELECT w.word, wd.cnt, w.wp[1] AS lens
       |         FROM walk0 w JOIN wd ON wd.word = w.word
       |         WHERE w.e = length(w.word)),
       |u0 AS (SELECT piece, sum(cnt)::BIGINT AS used FROM (
       |         SELECT cnt, substr(word,
       |                  (1 + coalesce(list_aggregate(lens[1:j-1], 'sum'), 0))::BIGINT,
       |                  lens[j]) AS piece
       |         FROM (SELECT word, cnt, lens,
       |                      unnest(range(1, len(lens) + 1)) AS j
       |               FROM dec0))
       |       GROUP BY 1),
       |m1 AS MATERIALIZED (
       |  SELECT s.piece, (coalesce(u.used, 0) + 1)::BIGINT AS used
       |  FROM sing s LEFT JOIN u0 u ON u.piece = s.piece
       |  UNION ALL
       |  SELECT piece, used FROM (
       |    SELECT piece, used FROM u0 WHERE length(piece) >= 2
       |    ORDER BY used DESC, piece LIMIT 15)),
       |t1 AS (SELECT sum(used) AS t FROM m1),
       |p1 AS MATERIALIZED (
       |  SELECT piece, (used)::DOUBLE / (SELECT (t)::DOUBLE FROM t1) AS p FROM m1)""".stripMargin

  /** Distinct 3-word shingle sets (DuckDB twin of
    * [[graft.operators.TextOps.shinglesOf]] over a projected
    * [[graft.operators.TextOps.tokens]] column). */
  private val shingleCte =
    s"""$toksCte,
       |sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(w) - 1),
       |           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
       |  FROM toks WHERE len(w) >= 3
       |)""".stripMargin

  /** Brute-force Jaccard pair oracle at a given threshold. */
  private def jaccardOracle(threshold: Double): String =
    s"""WITH $shingleCte,
       |p AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j,
       |         len(list_intersect(a.s, b.s))::DOUBLE
       |           / len(list_distinct(a.s || b.s)) AS jac
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT i, j, round((jac)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS jaccard FROM p WHERE jac >= $threshold""".stripMargin

  /** Unrolled power iteration replicating [[graft.operators.Dedup.pageRank]]
    * round-for-round: recursive CTEs cannot aggregate in the recursive
    * term, so each of the `iters` rounds is its own chained CTE. The
    * per-round formula text matches the engine's column expression
    * exactly (double teleport term, 6-dp-rounded DECIMAL(27,6) exact
    * contribution sums, one double multiply-add). */
  private def pagerankOracle(threshold: Double, iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT d.v,
         |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / cnt.n
         |           + CAST(0.85 AS DOUBLE)
         |             * CAST(coalesce(s.c, CAST(0 AS DECIMAL(27,6))) AS DOUBLE)
         |           AS rank
         |  FROM deg d CROSS JOIN cnt
         |  LEFT JOIN (
         |    SELECT e.dst AS v,
         |           sum(CAST(round((r.rank / d2.deg)::VARCHAR::DECIMAL(38,23), 6) AS DECIMAL(27,6))) AS c
         |    FROM r${k - 1} r JOIN deg d2 ON d2.v = r.v JOIN e ON e.src = r.v
         |    GROUP BY e.dst) s ON s.v = d.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $shingleCte,
       |pr AS MATERIALIZED (SELECT a.doc_id AS i, b.doc_id AS j
       |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |       WHERE len(list_intersect(a.s, b.s))::DOUBLE
       |             / len(list_distinct(a.s || b.s)) >= $threshold),
       |e AS MATERIALIZED (SELECT i AS src, j AS dst FROM pr
       |      UNION ALL SELECT j AS src, i AS dst FROM pr),
       |deg AS (SELECT src AS v, count(*) AS deg FROM e GROUP BY 1),
       |cnt AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT v, CAST(1.0 AS DOUBLE) / cnt.n AS rank
       |       FROM deg CROSS JOIN cnt),
       |$rounds
       |SELECT v AS doc_id, round((rank)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS rank FROM r$iters""".stripMargin
  }

  // staged JSONL copy of the documents fixture (pure infrastructure,
  // built once per fixture dir and shared across invocations in the JVM)
  private val jsonlStage =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private val stopEn = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString("[", ",", "]")
  private val stopDe = TextAnalysis.StopwordsDe.map(w => s"'$w'").mkString("[", ",", "]")
  private val stopEs = TextAnalysis.StopwordsEs.map(w => s"'$w'").mkString("[", ",", "]")

  /** The test corpus is one small parquet file → one input partition, which
    * would serialize the CPU-heavy per-doc work (shingling, hyperplane
    * projections) onto a single core. Spread it across the cluster first.
    * At production scale the scan is already many-partitioned and this
    * keyed exchange of raw text is a no-op cost next to the downstream
    * joins; it is NOT part of the operators themselves. */
  /** Corpus/batch split point for the incremental-ingest gate. */
  private val IngestCutoff = 350

  /** The DSIR importance-weight chain (DuckDB twin of
    * [[graft.operators.Dsir.weights]]): hashed uni+bigram bucket counts,
    * add-one-smoothed clamped ratios, then the per-doc product fold as a
    * recursive CTE. The fold's renormalization is an unrolled exact
    * halving cascade: pre-scale `m·r ∈ [2⁻³², 2³³)` by 2³² into
    * `[1, 2⁶⁵)`, then conditionally divide by 2⁶⁴…2¹ — every multiply or
    * divide by a power of two is EXACT, so the cascade equals the Spark
    * side's `getExponent`/`scalb` extraction bit-for-bit; the only
    * rounded op per step is the `m · r` multiply both engines perform on
    * exactly-agreed operands. `finalSelect` ranges over `s` (steps at
    * i = n) joined with `r` (per-doc ratio lists). */
  private def dsirSql(finalSelect: String, buckets: Int = 256): String = {
    def pow2(k: Int) = s"CAST('${BigInt(1) << k}' AS DOUBLE)"
    val q0 = "SELECT s.doc_id, s.i + 1 AS i, s.e AS e, -32 AS d, " +
      s"(s.m * r.rs[s.i + 1]) * ${pow2(32)} AS m " +
      "FROM steps s JOIN rs r ON s.doc_id = r.doc_id AND s.i < r.n"
    val cascade = Seq(64, 32, 16, 8, 4, 2, 1).foldLeft(q0) { (inner, k) =>
      s"SELECT doc_id, i, e, d + CASE WHEN m >= ${pow2(k)} THEN $k ELSE 0 END AS d, " +
        s"CASE WHEN m >= ${pow2(k)} THEN m / ${pow2(k)} ELSE m END AS m " +
        s"FROM ($inner)"
    }
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, lang = 'de' AS tgt,
       |         string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
       |  FROM documents),
       |u AS (SELECT doc_id, tgt, unnest(range(0, len(w))) AS pos, unnest(w) AS f FROM toks),
       |bg AS (SELECT doc_id, tgt, n + pos AS pos, a || ' ' || b AS f FROM (
       |  SELECT doc_id, tgt, len(w) AS n, unnest(range(0, len(w) - 1)) AS pos,
       |         unnest(w[1:len(w)-1]) AS a, unnest(w[2:len(w)]) AS b
       |  FROM toks WHERE len(w) >= 2)),
       |feats AS MATERIALIZED (
       |  SELECT doc_id, tgt, pos, ('0x' || substr(md5(f), 1, 15))::BIGINT % $buckets AS b
       |  FROM (SELECT doc_id, tgt, pos, f FROM u UNION ALL SELECT doc_id, tgt, pos, f FROM bg)),
       |counts AS (SELECT b, count(*)::BIGINT AS cq,
       |                  sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct
       |           FROM feats GROUP BY b),
       |tot AS (SELECT sum(cq)::BIGINT AS rt, sum(ct)::BIGINT AS tt FROM counts),
       |rat AS (SELECT b, least(greatest(
       |          ((ct + 1)::DOUBLE / (tt + $buckets)::DOUBLE)
       |            / ((cq + 1)::DOUBLE / (rt + $buckets)::DOUBLE),
       |          CAST(1.0 AS DOUBLE) / ${pow2(32)}), ${pow2(32)}) AS r
       |        FROM counts CROSS JOIN tot),
       |rs AS MATERIALIZED (
       |  SELECT doc_id, count(*)::BIGINT AS n, list(r ORDER BY pos) AS rs
       |  FROM feats JOIN rat USING (b) GROUP BY doc_id),
       |steps AS (
       |  SELECT doc_id, 0 AS i, 0::BIGINT AS e, CAST(1.0 AS DOUBLE) AS m FROM rs
       |  UNION ALL
       |  SELECT doc_id, i, e + d AS e, m FROM ($cascade)
       |)
       |$finalSelect
       |FROM steps s JOIN rs r ON s.doc_id = r.doc_id WHERE s.i = r.n""".stripMargin
  }

  private def docsPar(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
  private def embsPar(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),

    // L54: prefix dedup — the truncation-duplicate detector (identical
    // 20-token head, any tail); first-write-wins per prefix hash
    "llm_dedup_prefix" -> ((s, d) => Dedup.prefixDedup(docsPar(s, d), k = 20)),

    // L30: duplicate-span removal — exact substring scrub at a 10-token
    // grid; first occurrence (lowest (doc_id, position)) survives
    "llm_dedup_spans" -> ((s, d) => Dedup.dedupSpans(docsPar(s, d), span = 10)),

    // ExactSubstr: repeated passages removed at ANY offset (the
    // suffix-array-class dedup; dedupSpans' grid misses shifted twins) —
    // oracle is the brute-force any-offset restatement
    "llm_dedup_substr" -> ((s, d) => Dedup.dedupSubstr(docsPar(s, d), minRun = 10)),

    // L77: interpolated Kneser-Ney bigram fluency — the production
    // n-gram smoothing; probability chain replayed verbatim, per-doc
    // mean under the lmScore exact-decimal discipline
    "llm_lm_kn" -> ((s, d) => TextAnalysis.lmScoreKn(docsPar(s, d))),

    // L76: corpus-release diff — v2 derived deterministically from the
    // fixture (takedowns % 11, re-extractions % 7, crawl additions % 13)
    // so both engines build the same pair of versions
    "llm_corpus_diff" -> ((s, d) => {
      val v1 = Tables.documents(s, d).select(col("doc_id"), col("text"), col("source"))
      val kept = v1.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val added = v1.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" new")).as("text"), col("source"))
      CorpusPrep.corpusDiff(v1, kept.unionByName(added))
    }),

    // L75: trained quality/domain perceptron — 4 batch epochs on the
    // exact-decimal feature grid, weak-supervised by lang == 'en'; the
    // oracle replays every epoch as an unrolled CTE, bit-for-bit
    "llm_perceptron" -> ((s, d) =>
      TextAnalysis.perceptronQuality(docsPar(s, d), epochs = 4)
        .select(col("doc_id"), col("y"),
          round(col("margin"), 6).as("margin"), col("pred"))),

    // L74: blocklist tagging — one Aho-Corasick pass over every doc; the
    // phrase set exercises nested matches ("low" inside "slow") and
    // shared prefixes; oracle brute-forces per-position equality
    "llm_blocklist" -> ((s, d) =>
      TextAnalysis.blocklistHits(docsPar(s, d),
        Seq("scan slow", "low", "table", "merge batch", "qu", "row"))),

    // L74b: blocklist scrub — mask AND remove variants of the same
    // automaton with longest-match span union; oracle restates coverage
    // per position (a char is touched iff some occurrence spans it)
    "llm_blocklist_scrub" -> ((s, d) =>
      TextAnalysis.blocklistScrub(docsPar(s, d),
        Seq("scan slow", "low", "table", "merge batch", "qu", "row"))),

    // L73: WordPiece tokenizer — singles + top-200 substrings (len 2..6)
    // trained on the corpus, then greedy longest-match-first encoding via
    // pointer doubling; oracle replays the walk as a recursive CTE
    "llm_wordpiece" -> ((s, d) =>
      TextAnalysis.wordpieceEncode(docsPar(s, d),
        TextAnalysis.wordpieceVocab(docsPar(s, d), topV = 200, maxPiece = 6))),

    // L78: unigram-LM (SentencePiece) tokenizer — frequency-seeded vocab
    // (singles + top-120 substrings len 2..6), ONE hard-EM round (Viterbi
    // decode in the probability domain — no transcendentals — usage
    // re-count, singles add-one floor, prune to 15 multis), then the
    // max-likelihood encode; oracle replays both Viterbi passes as
    // window-list recursive CTEs, bit-for-bit
    "llm_unigram_lm" -> ((s, d) =>
      Unigram.encode(docsPar(s, d),
        Unigram.train(docsPar(s, d), topV = 120, maxPiece = 6, keepV = 15))),

    // L78 (model surface): the trained unigram vocabulary after the EM
    // round — exact integer usage counts, the prune cut proven row-by-row
    "llm_unigram_vocab" -> ((s, d) =>
      Unigram.train(docsPar(s, d), topV = 120, maxPiece = 6, keepV = 15)),

    // L78 (cross-corpus): train the unigram model on the ENGLISH slice,
    // Viterbi-encode the WHOLE corpus — unknown multi-char pieces score
    // 0 (never on a best path) and unknown single chars take the 1/T
    // floor, so the encoder is total on text the model never saw; the
    // oracle replays the en-trained chain with the final DP over the
    // full word table
    "llm_unigram_encode_xcorpus" -> ((s, d) => {
      val docs = docsPar(s, d)
      Unigram.encode(docs,
        Unigram.train(docs.filter(col("lang") === "en"),
          topV = 120, maxPiece = 6, keepV = 15))
    }),

    // L70: edit-distance similarity join (PassJoin segment pigeonhole,
    // levenshtein <= 8 verify) — lossless candidates, so the gate proves
    // parity with the brute-force all-pairs oracle
    "llm_editdist_join" -> ((s, d) =>
      EditJoin.editDistJoin(docsPar(s, d), t = 8)),

    // L69: frequency-thresholded boilerplate scrub (the C4/CCNet rule) —
    // a 10-token grid segment in >= 3 DISTINCT docs is removed from
    // EVERY doc (no canonical copy kept, unlike the first-wins family)
    "llm_boilerplate" -> ((s, d) =>
      Dedup.boilerplateScrub(docsPar(s, d), span = 10, minDf = 3)),

    // incremental ExactSubstr: the odd-id "daily crawl" scrubbed against
    // the even-id standing corpus's gram index (built once, reused) plus
    // first-wins within the batch — the L60 ingest contract for
    // substring dedup; the standing corpus is never re-scrubbed
    "llm_dedup_substr_inc" -> ((s, d) => {
      val docs = docsPar(s, d)
      Dedup.dedupSubstrAgainst(
        Dedup.substrGramIndex(docs.filter(col("doc_id") % 2 === 0), minRun = 10),
        docs.filter(col("doc_id") % 2 === 1), minRun = 10)
    }),

    // L58: tokenizer fertility by (lang, source) — Σbpe/Σws as an
    // integer HALF_UP division of exact long sums; the data-mix
    // token-budget report
    "llm_fertility" -> ((s, d) => TextAnalysis.fertilityByLang(docsPar(s, d))),

    // L56: cross-source duplicate matrix — near-dup pair counts within
    // and between sources (the source-mix curation report); unordered
    // (least, greatest) source key aggregates both directions once
    "llm_dup_matrix" -> ((s, d) =>
      Dedup.dupMatrix(docsPar(s, d), threshold = 0.8)),

    // L64: Heaps-law vocabulary growth curve at per-doc granularity (the
    // fixture's ~50-type vocab saturates within the first docs, so coarser
    // checkpoints collapse to one row); the cheap dedup-health diagnostic
    // (one first-occurrence shuffle, cum-sum over <= #checkpoints rows)
    "llm_heaps_curve" -> ((s, d) =>
      TextAnalysis.heapsCurve(docsPar(s, d), step = 1L)),

    // L62: length-bucket padding report — the dynamic-batching planner;
    // integer token masses per step-multiple bucket + the waste ratio a
    // fixed-shape batch of that bucket burns
    "llm_length_buckets" -> ((s, d) =>
      TextAnalysis.lengthBuckets(Tables.documents(s, d), step = 32, maxLen = 512)),

    // L61: cross-source KMV sketch similarity — per-source bottom-k
    // shingle-hash sketches (bounded TopKByScore heaps) + the standard
    // k-minimum-values Jaccard estimate per source pair; the crawl-overlap
    // planning report without a doc-level pair join
    "llm_source_sketch" -> ((s, d) =>
      graft.operators.Sketches.sourceSketchSim(docsPar(s, d), n = 3, k = 256)),

    // L57: embedding-norm outlier screen — broken-embedding detector;
    // exact decimal norm moments, one-row global broadcast
    "llm_norm_outliers" -> ((s, d) =>
      Similarity.normOutliers(embsPar(s, d))
        .select(col("vec_id"), col("norm"), round(col("z"), 6).as("z"),
          col("is_outlier"))),

    "llm_dedup_minhash" -> ((s, d) =>
      Dedup.nearDupMinhash(docsPar(s, d), threshold = 0.8)
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))),

    "llm_dedup_ngram" -> ((s, d) =>
      Dedup.nearDupNgram(docsPar(s, d), threshold = 0.6)
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))),

    // L46: memorization-risk novelty — fraction of a doc's distinct
    // n-grams appearing nowhere else in the corpus; inverted-index df
    // scan, no pair expansion
    "llm_novelty" -> ((s, d) => TextAnalysis.novelty(docsPar(s, d))),

    "llm_gopher_rules" -> ((s, d) => TextAnalysis.gopherRules(docsPar(s, d))),

    "llm_lm_interp" -> ((s, d) => TextAnalysis.lmScoreInterp(docsPar(s, d))),

    "llm_curriculum" -> ((s, d) => TextAnalysis.curriculumBuckets(docsPar(s, d))),

    // S11 raw-corpus ingest under the gate: the documents fixture staged as
    // JSONL with two POISON lines (unparseable JSON, type-mismatched id),
    // read back through the production skip-bad-rows reader — recovering
    // exactly the original table proves both the round-trip and the drop
    // contract (a nulled-through poison row would change the row count; a
    // fatal one would fail the query)
    "s11_jsonl_ingest" -> ((s, d) => {
      val path = jsonlStage.getOrElseUpdate(d, {
        val stage = Files.createTempDirectory("graft-jsonl-").toString + "/data"
        Tables.documents(s, d)
          .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))).as("value"))
          .coalesce(2).write.mode("overwrite").text(stage)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(stage, "poison.txt"),
          "{this is not json\n{\"doc_id\": \"not-a-number\", \"text\": \"x\"}\n"
            .getBytes("UTF-8"))
        stage
      })
      graft.sources.TextIngest.documentsFromJsonl(s, path)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
    }),

    "llm_winnow_fp" -> ((s, d) => TextAnalysis.winnow(docsPar(s, d))),

    "llm_winnow_dedup" -> ((s, d) =>
      Dedup.winnowDedup(docsPar(s, d), minShared = 2)),

    "llm_pagerank" -> ((s, d) =>
      Dedup.pageRank(docsPar(s, d), threshold = 0.6, iters = 4)),

    // asymmetric containment (|A∩B| / min set size): catches a short doc
    // quoted whole inside a long one, which Jaccard's union denominator
    // scores near zero — same inverted-index join, one-line remeasure
    "llm_dedup_contain" -> ((s, d) =>
      Dedup.containmentNgram(docsPar(s, d), threshold = 0.8)
        .select(col("i"), col("j"),
          round(col("containment"), 6).as("containment"))),

    // the 100 TB valve under the gate: same Jaccard join with the df cap
    // active, so high-df shingles are semi-joined away BEFORE the postings
    // arrays materialize (intersection counts then see eligible shingles
    // only, while |A|/|B| stay full-set — the documented cap semantics)
    // maxDf=4, not 2: at the gate SF a cap of 2 leaves ZERO qualifying
    // pairs (every theta-similar pair loses too much intersection mass), so
    // the hash would compare empty sets — trivially green. At 4 the cap
    // both excludes shingles (3 pairs drop vs uncapped) AND lets 22 pairs
    // survive, so the gate checks real exclusion + survival semantics.
    "llm_dedup_ngram_capped" -> ((s, d) =>
      Dedup.nearDupNgram(docsPar(s, d), threshold = 0.6, maxDf = Some(4))
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))),

    "llm_dedup_simhash" -> ((s, d) =>
      Dedup.nearDupSimhash(docsPar(s, d), maxHamming = 3)
        .select(col("i"), col("j"), col("hamming").cast("int").as("hamming"))),

    "llm_dedup_embed" -> ((s, d) =>
      Similarity.embedNearDup(embsPar(s, d), threshold = 0.45)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))),

    "llm_ann_topk" -> ((s, d) => {
      val e = embsPar(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .select(col("qid"), col("cid"), col("rank"), round(col("score"), 6).as("sim"))
    }),

    // L39: fully-distributed deterministic k-means (Lloyd's) over the
    // embedding corpus — hash-order init, broadcast-centroid cosine
    // assignment, per-dimension exact-decimal centroid means; 2 unrolled
    // iterations so the DuckDB oracle can replay them as chained CTEs
    "llm_kmeans_assign" -> ((s, d) =>
      Similarity.kmeansAssign(embsPar(s, d), k = 8, iters = 2)),

    // L59: top principal direction by distributed power iteration — two
    // skinny aggregates per iteration, 64 driver values between them,
    // exact-decimal matvecs; oracle = 3 unrolled CTE iterations
    "llm_pca_power" -> ((s, d) =>
      Similarity.powerIteration(embsPar(s, d), iters = 3)),

    // L55: simplified silhouette — per-cluster separation quality from
    // centroid distances only (O(n·k), never the classic Ω(n²) pairwise
    // form); top-2 centroid scores via the bounded TopKByScore aggregate
    "llm_silhouette" -> ((s, d) =>
      Similarity.silhouette(embsPar(s, d), k = 8, iters = 2)),

    // L41: SemDeDup — semantic near-dup removal inside the k-means
    // clusters; the cluster key bounds the candidate space (no all-pairs)
    "llm_dedup_semantic" -> ((s, d) =>
      Similarity.semanticDedup(embsPar(s, d), k = 8, iters = 2,
        threshold = 0.45)),

    // L42: cluster-balanced sampling — at most 32 docs per learned cluster
    // in id-hash order (32 < 500/8, so the cap provably bites)
    "llm_cluster_sample" -> ((s, d) =>
      Similarity.clusterSample(embsPar(s, d), k = 8, iters = 2,
        maxPerCluster = 32)),

    "llm_ann_lsh" -> ((s, d) => {
      val e = embsPar(s, d)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .select(col("qid"), col("cid"), col("rank"), round(col("score"), 6).as("sim"))
    }),

    // nprobe=12/16: this synthetic corpus is near-isotropic in cosine space
    // (max pairwise cos ≈ 0.5), so full recall needs probing most lists;
    // verified exhaustive-recall at oracle SF. Clustered real embeddings
    // probe far fewer.
    "llm_ann_ivf" -> ((s, d) => {
      val e = embsPar(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), k = 5, nLists = 16, nprobe = 12)
        .select(col("qid"), col("cid"), col("rank"), round(col("score"), 6).as("sim"))
    }),

    // IVF-PQ (FAISS IVFADC): coarse lists + RESIDUAL product quantization
    // + ADC scoring over the probed lists + exact re-rank — the production
    // composition of llm_ann_ivf and llm_ann_pq; exact-top-k parity at
    // oracle SF with high nprobe/candFactor on this near-isotropic corpus
    "llm_ann_ivfpq" -> ((s, d) => {
      val e = embsPar(s, d)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), k = 5,
          nLists = 16, nprobe = 12, candFactor = 60)
        .select(col("qid"), col("cid"), col("rank"), round(col("score"), 6).as("sim"))
    }),

    // L65: PQ ANN — codebook-compressed coarse scan (m=8 subspaces × 16
    // centroids, ADC lookup tables) + exact re-rank; candFactor 60 for
    // exhaustive recall on this near-isotropic corpus (PQ's coarse signal
    // is crudest of the family; clustered real embeddings need far less)
    "llm_ann_pq" -> ((s, d) => {
      val e = embsPar(s, d)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 10), k = 5, candFactor = 60)
        .select(col("qid"), col("cid"), col("rank"), round(col("score"), 6).as("sim"))
    }),

    // candFactor 40: this synthetic corpus is near-isotropic (tight coarse
    // score spread vs int8 noise), so full recall at oracle SF needs a
    // wide candidate margin; clustered real embeddings use small factors
    "llm_ann_quant" -> ((s, d) => {
      val e = embsPar(s, d)
      Similarity.quantizedTopK(e, e.filter(col("vec_id") < 10), k = 5,
          candFactor = 40)
        .select(col("qid"), col("cid"), col("rank"), round(col("score"), 6).as("sim"))
    }),

    // scalar summary projection (array columns stringify differently across
    // the compare harness, so the check hashes sums/extrema instead)
    // L52: per-dimension standardization — exact decimal moments, 64-row
    // broadcast back; z is one fixed IEEE chain on both engines
    "llm_embed_center" -> ((s, d) =>
      Similarity.standardize(embsPar(s, d))
        // %.6f, not round(): the engines' round() diverges within an ulp
        // of a 6-dp tie (measured: 1/32000 rows); the format conversions
        // are both correctly rounded and have no representable ties
        .select(col("vec_id"), col("dim"),
          format_string("%.6f", col("z")).as("z"))),

    // L53: mutual-kNN graph — banded LSH self-join candidates, bounded
    // top-k state, mutual-edge symmetrization; oracle = exact brute kNN.
    // Gate pins the ORACLE-PARITY configuration: 3-bit bands (exhaustive
    // recall on this near-isotropic corpus, the llm_ann_lsh stance) over
    // the first 500 vectors (the full sf0.01 corpus) — an isotropic
    // corpus has no metric gap, so exact kNN-graph recall there is
    // inherently all-pairs; production default is corpus-adaptive bits
    "llm_knn_graph" -> ((s, d) =>
      Similarity.knnGraph(embsPar(s, d).filter(col("vec_id") < 500), k = 5,
          bitsPerBand = Some(3))
        .select(col("a"), col("b"), round(col("score"), 6).as("score"))),

    // L71: hard-negative mining — per anchor, the 5 nearest DIFFERENT-
    // label vectors (the contrastive-training negative set); oracle-
    // parity config as llm_knn_graph (3-bit bands, first 500 vectors)
    "llm_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(embsPar(s, d).filter(col("vec_id") < 500), k = 5,
          bitsPerBand = Some(3))
        .select(col("qid"), col("cid"), col("rank"),
          round(col("score"), 6).as("score"))),

    // L72: margin-based bitext mining (Artetxe & Schwenk) — en-side vs
    // de-side vectors via the documents lang column; forward mining,
    // margin >= 1.0; exact-decimal kNN sums in the denominator
    "llm_bitext_mine" -> ((s, d) => {
      val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val e = embsPar(s, d).filter(col("vec_id") < 500)
        .join(langs, col("vec_id") === col("doc_id"))
      Similarity.bitextMargin(
          e.filter(col("lang") === "en").select(col("vec_id"), col("embedding")),
          e.filter(col("lang") === "de").select(col("vec_id"), col("embedding")),
          k = 4, threshold = 1.0, bitsPerBand = Some(3))
        .select(col("src_id"), col("tgt_id"), round(col("margin"), 6).as("margin"))
    }),

    "llm_embed_quant" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("qsum"),
          array_min(col("q")).as("qmin"), array_max(col("q")).as("qmax"))),

    "llm_corpus_clean" -> ((s, d) =>
      CorpusPrep.clean(docsPar(s, d)).select("doc_id", "lang", "source")),

    // L60: incremental ingest — a batch (doc_id >= 350) arrives against the
    // persisted corpus (doc_id < 350); the result is the ACCEPTED batch
    // rows. Candidate generation never pairs corpus×corpus docs
    // (Dedup.crossCandidates) — the property that keeps batch dedup
    // affordable when the corpus is 100 TB and the batch is megabytes.
    "llm_ingest_incremental" -> ((s, d) => {
      val docs = docsPar(s, d)
      CorpusPrep.incrementalIngest(
        docs.filter(col("doc_id") < IngestCutoff),
        docs.filter(col("doc_id") >= IngestCutoff))
        .select("doc_id", "lang", "source")
    }),

    "llm_corpus_stats" -> ((s, d) =>
      CorpusPrep.corpusStats(CorpusPrep.clean(docsPar(s, d)))),

    "llm_corpus_clean_cc" -> ((s, d) =>
      CorpusPrep.cleanClustered(docsPar(s, d)).select("doc_id", "lang", "source")),

    // the full curation flow one query deep: clean → content-hash split
    // assignment → per-split audit rollup
    "llm_corpus_splits" -> ((s, d) =>
      CorpusPrep.splitStats(CorpusPrep.assignSplit(CorpusPrep.clean(docsPar(s, d))))),

    // the whole curation chain as ONE release report: raw corpus →
    // clean (exact canon + near-dup losers + quality floor) → content-
    // hash split → per-split accounting PLUS the '_removed' row pricing
    // what curation dropped — the table a data curator signs off before
    // training (release accounting must BALANCE: Σ n_docs over all four
    // rows = the raw corpus)
    "llm_corpus_release" -> ((s, d) => {
      val docs = docsPar(s, d)
      val cleaned = CorpusPrep.clean(docs)
      val stats = CorpusPrep.splitStats(CorpusPrep.assignSplit(cleaned))
      // the kept-id set is corpus-scale and stats-blind: pinned shuffled
      // build (the sweep caught the unhinted broadcast on arrival)
      val removed = docs.join(cleaned.select("doc_id").hint("shuffle_hash"),
        Seq("doc_id"), "left_anti")
      val removedRow = TextAnalysis.stats(removed)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(round(sum(col("quality").cast("decimal(18,6)")).cast("double"), 6)
            / count(lit(1)), 6).as("avg_quality"))
        .select(lit("_removed").as("split"), col("n_docs"),
          col("total_tokens"), col("avg_quality"))
      stats.unionByName(removedRow)
    }),

    "llm_text_stats" -> ((s, d) => TextAnalysis.stats(Tables.documents(s, d))),

    "llm_lang_id" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),

    // L37: model-based quality filtering — linear classifier over the L8
    // features with a broadcast one-row weight vector; thresholding the raw
    // logit == thresholding the sigmoid (monotone), so the whole score is
    // exact-order IEEE arithmetic with no transcendentals
    "llm_quality_model" -> ((s, d) =>
      TextAnalysis.qualityModel(Tables.documents(s, d))),

    // L38: deterministic mixture sampling — per-source character budgets
    // filled in content-hash order (DoReMi-style domain weighting with no
    // RNG: re-running the pipeline admits the same docs)
    "llm_data_mix" -> ((s, d) =>
      CorpusPrep.dataMix(Tables.documents(s, d),
        Map("src0" -> 0.30, "src1" -> 0.15, "src2" -> 0.05),
        defaultWeight = 0.02, totalBudget = 100000L)),

    // L40: bigram-LM fluency scoring — the CCNet-style perplexity filter
    // with the LM trained on the corpus itself; mean bigram probability
    // (monotone surrogate for perplexity under the no-transcendentals rule)
    "llm_lm_score" -> ((s, d) => TextAnalysis.lmScore(docsPar(s, d))),

    "llm_token_count" -> ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))),

    "llm_repetition" -> ((s, d) => TextAnalysis.repetitionStats(docsPar(s, d))),

    // L32: Misra-Gries heavy hitters under the gate — like a6b, sketch
    // internals differ per partitioning, but the BOUNDS are deterministic
    // claims: for EVERY distinct token, 0 ≤ est ≤ exact and
    // est ≥ exact − n/(k+1) (est = 0 when untracked). k=8 < 31 distinct
    // tokens, so evictions and the merge reduction genuinely fire; a
    // violated bound flips a boolean and fails the hash. Integer
    // arithmetic only (est·(k+1) ≥ exact·(k+1) − n).
    "llm_heavy_hitters" -> ((s, d) => {
      val k = 8
      val toks = docsPar(s, d).select(explode(TextOps.tokens(col("text"))).as("tok"))
      val est = toks.agg(MisraGries(col("tok"), k).as("mg"))
        .select(explode(col("mg")).as("e"))
        .select(col("e.item").as("tok"), col("e.est").as("est"))
      // materialize the grouped counts ONCE (vocab-sized, distributed),
      // then n is a tiny aggregate over them — no third corpus scan and
      // no single-partition window over the vocabulary
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
        .localCheckpoint()
      val n = exact.agg(sum(col("exact"))).head().getLong(0)
      // est is PROVABLY bounded (<= k sketch rows): deliberate broadcast
      exact.join(broadcast(est), Seq("tok"), "left")
        .select(col("tok"), col("exact"),
          (coalesce(col("est"), lit(0L)) <= col("exact") &&
            coalesce(col("est"), lit(0L)) * (k + 1) >=
              col("exact") * (k + 1) - lit(n)).as("mg_ok"))
    }),

    // L32 through the SQL surface: the SAME bounds contract as
    // llm_heavy_hitters, but the whole query is a spark.sql(...) text
    // against a session carrying GraftExtensions — so analyzer resolution
    // of `misra_gries`, its literal-k argument check, and the
    // ImplicitCastInputTypes string contract are under the hash gate, not
    // just the Column-API path the other rows exercise.
    "llm_heavy_hitters_sql" -> ((s, d) => {
      val ext = graft.GraftExtensions.sessionFor(s)
      docsPar(ext, d).createOrReplaceTempView("graft_docs_sql")
      ext.sql(
        """WITH toks AS (
          |  SELECT explode(split(lower(trim(regexp_replace(text, '\\s+', ' '))), ' ')) AS tok
          |  FROM graft_docs_sql),
          |est AS (
          |  SELECT e.item AS tok, e.est AS est
          |  FROM (SELECT explode(misra_gries(tok, 8)) AS e FROM toks)),
          |exact AS (SELECT tok, count(*) AS exact FROM toks GROUP BY tok),
          |n AS (SELECT sum(exact) AS n FROM exact)
          |SELECT /*+ BROADCAST(est) */ exact.tok, exact.exact,
          |       (coalesce(est.est, CAST(0 AS BIGINT)) <= exact.exact AND
          |        coalesce(est.est, CAST(0 AS BIGINT)) * 9 >= exact.exact * 9 - n.n) AS mg_ok
          |FROM exact LEFT JOIN est USING (tok) CROSS JOIN n""".stripMargin)
    }),

    // L6 through the SQL surface: the exact brute-force ANN as ONE
    // spark.sql(...) text — analyzer resolution of BOTH remaining native
    // expressions (`cosine_sim` scalar, `top_k_by_score` aggregate with its
    // literal-k check) goes under the hash gate; with llm_heavy_hitters_sql
    // every GraftExtensions function is now SQL-exercised. Same oracle as
    // llm_ann_topk.
    "llm_ann_sql" -> ((s, d) => {
      val ext = graft.GraftExtensions.sessionFor(s)
      embsPar(ext, d).createOrReplaceTempView("graft_embs_sql")
      ext.sql(
        """WITH q AS (
          |  SELECT vec_id AS qid, CAST(embedding AS ARRAY<DOUBLE>) AS qe
          |  FROM graft_embs_sql WHERE vec_id < 10),
          |s AS (
          |  SELECT q.qid, e.vec_id AS cid,
          |         cosine_sim(q.qe, CAST(e.embedding AS ARRAY<DOUBLE>)) AS sim
          |  FROM q JOIN graft_embs_sql e ON e.vec_id <> q.qid),
          |t AS (SELECT qid, top_k_by_score(sim, cid, 5) AS tk FROM s GROUP BY qid)
          |SELECT qid, e.id AS cid, CAST(pos + 1 AS INT) AS rank,
          |       round(e.score, 6) AS sim
          |FROM t LATERAL VIEW posexplode(tk) AS pos, e""".stripMargin)
    }),

    // per-source quota: cap each source at 16 docs, content-hash order —
    // the anti-domination valve for training-mix construction (16 < the
    // 25-docs-per-source gate corpus, so the cap provably bites there)
    "llm_source_quota" -> ((s, d) =>
      CorpusPrep.sourceQuota(docsPar(s, d), maxPerGroup = 16)),

    // PII scrubbing over a deterministically PII-seeded corpus: the raw
    // corpus contains no emails/IPs/phones, so the query appends a synthetic
    // contact line derived from doc_id before scrubbing — the hash compares
    // the SCRUBBED text, so any mis-scrub (missed match, wrong span,
    // placeholder typo) flips it
    "llm_pii_scrub" -> ((s, d) => {
      val seeded = Tables.documents(s, d).withColumn("text",
        concat(col("text"), format_string(
          " contact user%d@mail.example phone +81 %09d ip 10.%d.0.33",
          col("doc_id"), pmod(col("doc_id") * 7919, lit(100000000)),
          pmod(col("doc_id"), lit(250)) + 1)))
      CorpusPrep.scrubPii(seeded)
        .select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars_scrubbed"),
          expr("cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint)").as("h"))
    }),

    // transitive near-dup clusters: minhash pairs → connected components;
    // unmatched docs are their own singleton cluster
    "llm_dedup_clusters" -> ((s, d) => {
      val docs = docsPar(s, d)
      val cc = Dedup.connectedComponents(
        Dedup.nearDupMinhash(docs, threshold = 0.8).select(col("i"), col("j")))
      docs.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }),

    // concat-and-chop sequence packing at a 1024-token budget (whitespace
    // token counts), via the two-phase parallel prefix sum
    "llm_pack_sequences" -> ((s, d) =>
      CorpusPrep.packSequences(
        TextAnalysis.stats(docsPar(s, d)).select(col("doc_id"), col("n_tokens")),
        budget = 1024L)),

    // L63: packed causal-LM training examples — materialized 128-token
    // blocks with hash token ids and shifted-left labels (last masked -100).
    // GATE EMISSION RULE: the library API (CorpusPrep.packExamples) returns
    // BIGINT[] columns, but the driver's pandas hash harness cannot sort
    // array cells — so the gate serializes them to space-joined VARCHAR
    // (oracle twin: array_to_string). Never emit array/map/struct columns
    // from a queries() entry.
    "llm_pack_examples" -> ((s, d) =>
      CorpusPrep.packExamples(docsPar(s, d), budget = 128L)
        .select(col("block_id"), col("n_tokens"),
          array_join(col("input_ids"), " ").as("input_ids"),
          array_join(col("labels"), " ").as("labels"))),

    // context-window chunking: 64-token windows, stride 48 (16-token overlap)
    "llm_chunk_windows" -> ((s, d) =>
      CorpusPrep.chunkWindows(docsPar(s, d), chunkSize = 64, stride = 48)),

    // corpus vocabulary: top-50 tokens by frequency, lexical tie-break
    "llm_vocab_topk" -> ((s, d) =>
      TextAnalysis.vocab(docsPar(s, d), topV = 50)),

    // L31: vocabulary-coverage scoring against the top-50 vocab — the
    // perplexity-filter stand-in with exact engine-portable arithmetic
    "llm_vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(docsPar(s, d), topV = 50)),

    // L33: BM25 retrieval scoring against a fixed seed query — rational-idf
    // form (monotone equivalent of log-idf, exact cross-engine arithmetic),
    // per-term scores decimal-summed, TakeOrdered top-20
    "llm_bm25_topk" -> ((s, d) =>
      TextAnalysis.bm25(docsPar(s, d), query = Seq("spark", "stream", "merge"))),

    // L43: per-doc TF-IDF keywords — rational idf (the bm25 convention),
    // per-doc row_number ranking (partitioned window: parallel at any
    // corpus size), raw-double rank order with a lexical tie-break
    "llm_tfidf_topterms" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(docsPar(s, d), k = 3)
        .select(col("doc_id"), col("term"), col("tf"),
          round(col("score"), 6).as("score"), col("rank"))),

    // L44: PMI collocations — rational-PMI phrase mining with a min-count
    // floor; counts are exact integers, the one float expression ranks
    "llm_pmi_colloc" -> ((s, d) =>
      TextAnalysis.pmiCollocations(docsPar(s, d), minCount = 5, k = 20)
        .select(col("t1"), col("t2"), col("cab"),
          round(col("pmi"), 6).as("pmi"))),

    // benchmark decontamination: val/test docs (content-hash split) sharing
    // >= 2 trigram shingles with any train doc
    "llm_decontaminate" -> ((s, d) => {
      val split = CorpusPrep.assignSplit(docsPar(s, d))
      Dedup.decontaminate(
        split.filter(col("split") === "train"),
        split.filter(col("split") =!= "train"), n = 3, minShared = 2L)
    }),

    // the ACT step on the decontamination report: train corpus minus every
    // doc sharing >= 2 trigrams with the held-out side (detect -> scrub)
    "llm_decontaminate_clean" -> ((s, d) => {
      val split = CorpusPrep.assignSplit(docsPar(s, d))
      Dedup.removeContaminated(
        split.filter(col("split") === "train"),
        split.filter(col("split") =!= "train"), n = 3, minShared = 2L)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // the 100 TB valve under the gate: same decontamination with the df cap
    // active, so high-df shingles are excluded BEFORE posting expansion
    "llm_decontaminate_capped" -> ((s, d) => {
      val split = CorpusPrep.assignSplit(docsPar(s, d))
      Dedup.decontaminate(
        split.filter(col("split") === "train"),
        split.filter(col("split") =!= "train"), n = 3, minShared = 1L,
        maxDf = Some(2))
    }),

    // L80: embedding-space cross-corpus decontamination — hyperplane-LSH
    // candidates pairing corpus vectors with BENCHMARK vectors only
    // (never corpus×corpus), exact-cosine verify; benchmark = every 20th
    // vector. The paraphrase class the n-gram gate misses
    // (EmbedDecontamSpec pins a concrete pair); oracle = brute-force
    // cross-side cosine
    "llm_decontaminate_embed" -> ((s, d) => {
      val e = embsPar(s, d)
      Similarity.embedDecontaminate(
          e.filter(col("vec_id") % 20 =!= 0), e.filter(col("vec_id") % 20 === 0))
        .select(col("train_id"), col("eval_id"), round(col("cos"), 6).as("cos"))
    }),

    "llm_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),

    "llm_split_assign" -> ((s, d) =>
      CorpusPrep.assignSplit(Tables.documents(s, d))
        .select(col("doc_id"), col("split"))),

    // L66: deterministic pre-training shuffle — seeded-hash total order,
    // round-robin shard + in-shard position; the global rank comes from
    // the hash-bucketed two-phase prefix count (never a single-task sort)
    "llm_shuffle_shards" -> ((s, d) =>
      CorpusPrep.corpusShuffle(Tables.documents(s, d), nShards = 8)),

    // L67: the first 16 BPE merge rules learned from the corpus — the
    // vocabulary fits the measured driver budget, so training is ONE
    // collect + a pair-delta merge loop (k jobs only past the budget);
    // oracle replays the identical 16 rounds as unrolled CTEs
    "llm_bpe_merges" -> ((s, d) =>
      TextAnalysis.bpeMerges(Tables.documents(s, d), k = 16)),

    // L68: encode with the just-learned tokenizer — per-doc whitespace vs
    // BPE-unit counts (all-integer; vocabulary-bounded lookup join)
    "llm_bpe_encode" -> ((s, d) =>
      TextAnalysis.bpeEncode(Tables.documents(s, d), k = 3)),

    // L68 cross-corpus: tokenizer trained on the 'en' slice, encoding the
    // WHOLE corpus — out-of-vocabulary words fall back to their character
    // count (an untrained word encodes symbol-per-character); oracle
    // replays the filtered training chain + the same left-join fallback
    "llm_bpe_encode_xcorpus" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.bpeEncodeWith(docs,
        TextAnalysis.bpeTrain(docs.filter(col("lang") === "en"), k = 8)._1)
    }),

    // L79: the first 12 BYTE-LEVEL BPE merge rules — UTF-8 bytes as the
    // base alphabet (GPT-2/tiktoken family), symbols as uppercase hex
    // pairs; same trainer, same unrolled-CTE oracle discipline
    "llm_bpe_bytes_merges" -> ((s, d) =>
      TextAnalysis.bpeMergesBytes(Tables.documents(s, d), k = 12)),

    // L79 encode, cross-corpus and TOTAL BY CONSTRUCTION: rules trained
    // on the 'en' slice, every corpus word encoded by applying them to
    // its UTF-8 byte sequence — no vocabulary lookup, no OOV path at all
    // (the byte-fallback property); oracle replays the training chain +
    // the same in-order rule application over every distinct word
    "llm_bpe_bytes" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.bpeEncodeBytes(docs,
        TextAnalysis.bpeTrain(docs.filter(col("lang") === "en"), k = 8,
          byteLevel = true)._2)
    }),

    // L79 eval: tokenizer compression rate by language — bytes per BPE
    // unit under the en-trained byte-level rules (the tiktoken-style
    // eval table: the training language compresses best, the others pay
    // the cross-lingual penalty, zh pays the UTF-8 byte-width penalty
    // on top). One doc-scale join + one 5-row aggregation; the encode
    // side descends from explodes (stats-blind) so the join is pinned
    "llm_bpe_compression" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val rules = TextAnalysis.bpeTrain(
        docs.filter(col("lang") === "en").repartition(
          s.sparkContext.defaultParallelism, col("doc_id")),
        k = 8, byteLevel = true)._2
      TextAnalysis.bpeEncodeBytes(docsPar(s, d), rules)
        .join(docs.select(col("doc_id"), col("lang")).hint("shuffle_hash"),
          Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("n_bytes"),
          sum(col("n_units")).as("n_units"))
        .select(col("lang"), col("n_docs"), col("n_bytes"), col("n_units"),
          (col("n_bytes").cast("double") / col("n_units").cast("double"))
            .as("bytes_per_unit"))
    }),

    // L82: DSIR importance resampling — hashed uni+bigram multinomials,
    // target = the German slice (14% minority: real distributional
    // contrast); weight = Π ratio in exact (mant, exp2) base-2 form
    "llm_dsir" -> ((s, d) =>
      Dsir.weights(docsPar(s, d), col("lang") === "de")),

    // the resampling step: top-100 raw docs by importance weight —
    // ordering by (e2, mant) IS ordering by log-weight (log monotone)
    "llm_dsir_select" -> ((s, d) =>
      Dsir.select(docsPar(s, d), col("lang") === "de", k = 100)),

    "llm_sample_strata" -> ((s, d) =>
      CorpusPrep.sampleStrata(Tables.documents(s, d), "lang",
          Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25, "fr" -> 1.0, "zh" -> 0.1))
        .select(col("doc_id"), col("lang"))),

    "w4_sessionize" -> ((s, d) =>
      graft.operators.Sessions.sessionize(Tables.events(s, d), gapSeconds = 1800)
        .select(col("user_id"), col("session_no"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), round(col("total_value"), 6).as("total_value"))),

    // J6: interval-overlap join (bucket-replicated equi-join, one-bucket
    // attribution — never a nested loop, never a distinct): per session,
    // how many OTHER users' sessions overlap it in time. 300 s buckets ≈
    // the 43 s mean session length at gate SF.
    "j6_session_overlap" -> ((s, d) => {
      val sess = graft.operators.Sessions.sessionize(Tables.events(s, d), gapSeconds = 1800)
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("start_s"),
          unix_timestamp(col("session_end")).as("end_s"))
      graft.operators.IntervalJoin.overlapJoin(sess, sess, bucketSec = 300)
        .filter(col("l_user_id") =!= col("r_user_id"))
        .groupBy(col("l_user_id"), col("l_start_s"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(col("l_user_id").as("user_id"), col("l_start_s").as("start_s"),
          col("n_overlap"))
    }),

    "p11_props_parse" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(
            Seq(org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType)))).getField("k").as("k"))),

    "mm_decode_meta" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.decodeMeta(
          Multimodal.assets(Tables.documents(s, d))), step = 4)
        .select(col("asset_id"), col("mime"), col("n_bytes"), col("checksum"),
          col("width"), col("height"), col("n_frames"), col("n_sampled"),
          col("last_frame").cast("int").as("last_frame"))),

    // the perceptual-hash operator's gate rides the deterministic fallback
    // path (text/plain assets — the real pixel path and the banding join's
    // exact-recall property are spec-proved on real PNG/BMP rasters in
    // MultimodalSpec, where DuckDB cannot follow)
    "mm_phash" -> ((s, d) => {
      import s.implicits._
      Multimodal.perceptualHash(
        Multimodal.assets(Tables.documents(s, d)).as[graft.operators.MediaRow])
        .toDF().select(col("asset_id"), col("phash"), col("decoded"))
    }))

  /** Both ANN variants share the exact brute-force oracle: the LSH variant's
    * banding (96 × 3 bits, seeded) is provably-deterministic and verified to
    * reach full recall at oracle scale, so candidates ⊇ true top-k. */
  private val annOracle =
    """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
      |           FROM embeddings WHERE vec_id < 10),
      |s AS (SELECT q.qid, e.vec_id AS cid,
      |             list_cosine_similarity(q.qe, e.embedding::DOUBLE[]) AS sim
      |      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid),
      |r AS (SELECT qid, cid, sim,
      |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
      |      FROM s)
      |SELECT qid, cid, rn::INT AS rank, round((sim)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS sim FROM r WHERE rn <= 5""".stripMargin

  /** Unrolled-Lloyd k-means oracle: iteration `i` re-assigns against the
    * previous centroids (row_number argmax with the same (score DESC, cid
    * ASC) tie-break), then recomputes per-dimension means from EXACT decimal
    * sums (one IEEE division of exact operands — partial-order-free on both
    * engines); empty clusters inherit the previous centroid via the LEFT
    * JOIN coalesce, mirroring the engine's getOrElse. Returns the CTE chain
    * ending in `af` (final assignment: id, v, cid, sc) so the k-means and
    * semantic-dedup oracles share one replay. */
  private def kmeansCtes(k: Int, iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = s"c${i - 1}"
      s"""a$i AS (
         |  SELECT id, v, cid FROM (
         |    SELECT x.id, x.v, c.cid,
         |           row_number() OVER (PARTITION BY x.id
         |             ORDER BY list_cosine_similarity(x.v, c.c) DESC, c.cid) AS rn
         |    FROM v x CROSS JOIN $prev c) WHERE rn = 1),
         |m$i AS (
         |  SELECT cid, pos, sum(x::DECIMAL(27,6))::DOUBLE / count(*) AS m
         |  FROM (SELECT cid, unnest(range(0, len(v))) AS pos, unnest(v) AS x
         |        FROM a$i)
         |  GROUP BY cid, pos),
         |c$i AS (
         |  SELECT p.cid, coalesce(mm.c, p.c) AS c
         |  FROM $prev p LEFT JOIN
         |    (SELECT cid, list(m ORDER BY pos) AS c FROM m$i GROUP BY cid) mm
         |    ON p.cid = mm.cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id AS id,
       |         list_transform(embedding::DOUBLE[], x -> round((x)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY h, id) - 1 AS cid, v AS c
       |  FROM (SELECT id, v,
       |               ('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT AS h
       |        FROM v)
       |  ORDER BY h, id LIMIT $k),
       |$iterCtes,
       |af AS (
       |  SELECT id, v, cid, sc FROM (
       |    SELECT x.id, x.v, c.cid, list_cosine_similarity(x.v, c.c) AS sc,
       |           row_number() OVER (PARTITION BY x.id
       |             ORDER BY list_cosine_similarity(x.v, c.c) DESC, c.cid) AS rn
       |    FROM v x CROSS JOIN c$iters c) WHERE rn = 1)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "llm_kmeans_assign" ->
      s"""${kmeansCtes(8, 2)}
         |SELECT id, cid AS cluster, round((sc)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS score FROM af""".stripMargin,

    // cluster-balanced sampling restatement: per-cluster row_number in
    // id-hash order (DESC + id tie-break = TopKByScore's keep-highest with
    // lowest-id-on-tie eviction), capped at 32
    "llm_cluster_sample" ->
      s"""${kmeansCtes(8, 2)}
         |SELECT cid AS cluster, rk::INT AS rk, id FROM (
         |  SELECT cid, id,
         |         row_number() OVER (PARTITION BY cid
         |           ORDER BY ('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT // 128 DESC,
         |                    id) AS rk
         |  FROM af)
         |WHERE rk <= 32""".stripMargin,

    // power-iteration restatement: 3 unrolled v←normalize(Xᵀ(Xv)) steps,
    // exact decimal matvecs, 6-dp snaps between stages, one sqrt/divide
    // float chain per iteration — verbatim the operator's arithmetic
    "llm_pca_power" -> {
      val steps = (1 to 3).map { i =>
        s"""d$i AS (
           |  SELECT e.vec_id,
           |         round((CAST(sum(e.x6 * CAST(v.v AS DECIMAL(19,6))) AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS dot6
           |  FROM pex e JOIN v${i - 1} v USING (dim) GROUP BY 1),
           |y$i AS (
           |  SELECT e.dim,
           |         round((CAST(sum(e.x6 * CAST(d.dot6 AS DECIMAL(19,6))) AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS y6
           |  FROM pex e JOIN d$i d USING (vec_id) GROUP BY 1),
           |n$i AS (SELECT sqrt(CAST(sum(y6 * CAST(y6 AS DECIMAL(19,6))) AS DOUBLE))
           |          AS nrm FROM y$i),
           |v$i AS (SELECT dim, round((CAST(y6 AS DOUBLE) / nrm)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS v
           |        FROM y$i CROSS JOIN n$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH pex AS (
         |  SELECT vec_id, (t.i - 1)::INT AS dim,
         |         round((CAST(embedding[t.i] AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS x6
         |  FROM embeddings, range(1, 65) t(i)),
         |v0 AS (SELECT (t.i - 1)::INT AS dim, 0.125::DECIMAL(18,6) AS v
         |       FROM range(1, 65) t(i)),
         |$steps
         |SELECT dim, CAST(v AS DOUBLE) AS loading FROM v3""".stripMargin
    },

    // simplified-silhouette restatement: per-point best/second centroid
    // cosines from the final c2 centroids, s = (best−second)/(1−second),
    // per-cluster mean via the integer HALF_UP division
    "llm_silhouette" ->
      s"""${kmeansCtes(8, 2)},
         |sc2 AS (
         |  SELECT x.id, c.cid, list_cosine_similarity(x.v, c.c) AS sc,
         |         row_number() OVER (PARTITION BY x.id
         |           ORDER BY list_cosine_similarity(x.v, c.c) DESC, c.cid) AS rn
         |  FROM v x CROSS JOIN c2 c),
         |tp AS (
         |  SELECT a.id, a.cid,
         |         max(CASE WHEN s.rn = 1 THEN s.sc END) AS best,
         |         max(CASE WHEN s.rn = 2 THEN s.sc END) AS second
         |  FROM af a JOIN sc2 s ON s.id = a.id GROUP BY 1, 2),
         |si AS (
         |  SELECT id, cid,
         |         CASE WHEN 1.0 - second <> 0.0
         |              THEN round(((best - second) / (1.0 - second))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
         |              ELSE 0.0 END::DECIMAL(18,6) AS s6
         |  FROM tp),
         |g AS (SELECT cid AS cluster, count(*) AS n,
         |        CAST(sum(s6) * 1000000 AS BIGINT) AS micro
         |      FROM si GROUP BY 1)
         |SELECT cluster, n,
         |       CAST(CASE WHEN micro >= 0 THEN (micro * 2 + n) // (2 * n)
         |                 ELSE -(((-micro) * 2 + n) // (2 * n)) END
         |            AS DOUBLE) / 1000000.0 AS mean_sil
         |FROM g""".stripMargin,

    // SemDeDup restatement: within-cluster first-wins — y is dropped when
    // ANY earlier x in the same final cluster has cosine >= threshold
    "llm_dedup_semantic" ->
      s"""${kmeansCtes(8, 2)},
         |dropped AS (
         |  SELECT DISTINCT y.id
         |  FROM af x JOIN af y ON x.cid = y.cid AND x.id < y.id
         |  WHERE list_cosine_similarity(x.v, y.v) >= 0.45)
         |SELECT a.id, a.cid AS cluster, d.id IS NULL AS keep
         |FROM af a LEFT JOIN dropped d ON a.id = d.id""".stripMargin,

    // bigram-LM restatement: DuckDB list slices w[a:b] are 1-based
    // inclusive end-truncating == Spark slice(w, a, len); parallel unnests
    // zip positionally; P(b|a) = one IEEE divide of exact longs; per-doc
    // mean from an exact decimal sum of 6-dp probabilities
    "llm_lm_score" ->
      s"""WITH $toksCte,
         |pairs AS (
         |  SELECT doc_id, unnest(w[1:len(w) - 1]) AS a, unnest(w[2:len(w)]) AS b
         |  FROM toks WHERE len(w) >= 2),
         |cab AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY a, b),
         |ca AS (SELECT a, sum(cab) AS ca FROM cab GROUP BY a),
         |bi AS (SELECT a, b, cab::DOUBLE / ca AS p
         |       FROM cab JOIN ca USING (a))
         |SELECT doc_id, count(*) AS n_pairs,
         |       sum(round((p)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(27,6))::DOUBLE / count(*) AS score
         |FROM pairs JOIN bi USING (a, b)
         |GROUP BY doc_id""".stripMargin,
    // exact tercile thresholds off the 6-dp quality-grid histogram;
    // cum*3 >= n avoids any division — integer-exact on both engines
    "llm_curriculum" ->
      s"""WITH $toksCte,
         |q AS (SELECT doc_id,
         |             round((least(len(w)::DOUBLE / 50.0, 1.0)
         |               * (1.0 - len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
         |                        / len(w)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS quality
         |      FROM toks),
         |h AS (SELECT quality, count(*) AS cnt FROM q GROUP BY 1),
         |cm AS (SELECT quality,
         |              sum(cnt) OVER (ORDER BY quality
         |                ROWS UNBOUNDED PRECEDING) AS cum
         |       FROM h),
         |nn AS (SELECT count(*) AS n FROM q),
         |th AS (SELECT min(CASE WHEN cum * 3 >= n THEN quality END) AS t1,
         |              min(CASE WHEN cum * 3 >= n * 2 THEN quality END) AS t2
         |       FROM cm CROSS JOIN nn)
         |SELECT doc_id, quality,
         |       CASE WHEN quality <= t1 THEN 'tail'
         |            WHEN quality <= t2 THEN 'middle'
         |            ELSE 'head' END AS phase
         |FROM q CROSS JOIN th""".stripMargin,

    // CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE): the engine computes
    // 1.0 - lambda in doubles at plan time (0.30000000000000004); a plain
    // SQL 0.3 literal is a DIFFERENT double — the subtraction must be
    // spelled, not folded
    "llm_lm_interp" ->
      s"""WITH $toksCte,
         |pairs AS (
         |  SELECT doc_id, unnest(w[1:len(w) - 1]) AS a, unnest(w[2:len(w)]) AS b
         |  FROM toks WHERE len(w) >= 2),
         |cab AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY a, b),
         |ca AS (SELECT a, sum(cab) AS ca FROM cab GROUP BY a),
         |uni AS (SELECT t, count(*) AS cu
         |        FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
         |nt AS (SELECT sum(cu) AS nt FROM uni),
         |bi AS (SELECT a, b, cab::DOUBLE / ca AS pb FROM cab JOIN ca USING (a)),
         |p AS (SELECT doc_id,
         |             0.7 * pb + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
         |               * (cu::DOUBLE / nt) AS p
         |      FROM pairs JOIN bi USING (a, b)
         |      JOIN uni ON uni.t = pairs.b CROSS JOIN nt)
         |SELECT doc_id, count(*) AS n_pairs,
         |       sum(round((p)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(27,6))::DOUBLE / count(*) AS score
         |FROM p GROUP BY doc_id""".stripMargin,

    "llm_dedup_exact" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
        |  FROM documents)
        |SELECT doc_id, content_hash,
        |       min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
        |       doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS is_canonical
        |FROM h""".stripMargin,

    "llm_dedup_prefix" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
        |                      ' ') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, md5(array_to_string(toks[1:20], ' ')) AS prefix_hash
        |  FROM t WHERE len(toks) >= 20)
        |SELECT doc_id, prefix_hash,
        |       min(doc_id) OVER w AS canonical_id,
        |       doc_id = min(doc_id) OVER w AS is_canonical,
        |       count(*) OVER w AS group_size
        |FROM p WINDOW w AS (PARTITION BY prefix_hash)""".stripMargin,

    // independent restatement: raw-text token grid, span strings grouped
    // directly (the engine groups by md5(seg) — same partition), list
    // slices are 1-based inclusive end-truncating like Spark slice()
    "llm_dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |             unnest(range(0, greatest((len(toks) + 9) // 10, 1))) AS i,
        |             toks
        |      FROM t),
        |g AS (SELECT doc_id, i,
        |             array_to_string(toks[i*10+1 : i*10+10], ' ') AS seg
        |      FROM s),
        |f AS (SELECT doc_id, i, seg,
        |             row_number() OVER (PARTITION BY seg ORDER BY doc_id, i) AS rn
        |      FROM g)
        |SELECT doc_id, count(*) AS n_spans,
        |       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |       coalesce(array_to_string(list(seg ORDER BY i) FILTER (rn = 1), ' '),
        |                '') AS clean_text
        |FROM f GROUP BY doc_id""".stripMargin,

    // brute-force any-offset restatement: every 10-gram ranked by global
    // (doc_id, pos) first occurrence; later occurrences cover their 10
    // token indices; kept tokens reassemble the doc
    "llm_perceptron" -> perceptronOracle(4),

    "llm_lm_kn" ->
      s"""WITH $toksCte,
         |pairs AS (
         |  SELECT doc_id, unnest(w[1:len(w) - 1]) AS a, unnest(w[2:len(w)]) AS b
         |  FROM toks WHERE len(w) >= 2),
         |cab AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY a, b),
         |ca AS (SELECT a, sum(cab) AS ca, count(*) AS n1a FROM cab GROUP BY a),
         |ctx AS (SELECT b, count(*) AS ctxb FROM cab GROUP BY b),
         |tot AS (SELECT count(*)::DOUBLE AS bt FROM cab),
         |kn AS (SELECT cab.a, cab.b,
         |         (greatest(cab::DOUBLE - 0.75, 0.0) / ca::DOUBLE)
         |           + ((0.75 * n1a::DOUBLE) / ca::DOUBLE)
         |             * (ctxb::DOUBLE / bt) AS p
         |       FROM cab JOIN ca USING (a) JOIN ctx USING (b) CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_pairs,
         |       sum(round((p)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(27,6))::DOUBLE / count(*) AS score
         |FROM pairs JOIN kn ON kn.a = pairs.a AND kn.b = pairs.b
         |GROUP BY doc_id""".stripMargin,

    "llm_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text, source FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |         source
        |  FROM v1 WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' new', source
        |  FROM v1 WHERE doc_id % 13 = 0),
        |j AS (SELECT coalesce(b.source, a.source) AS source,
        |             CASE WHEN a.doc_id IS NULL THEN 'added'
        |                  WHEN b.doc_id IS NULL THEN 'removed'
        |                  WHEN md5(a.text) IS DISTINCT FROM md5(b.text) THEN 'changed'
        |                  ELSE 'unchanged' END AS status
        |      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT source,
        |       sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)::BIGINT AS n_added,
        |       sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)::BIGINT AS n_removed,
        |       sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)::BIGINT AS n_changed,
        |       sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)::BIGINT AS n_unchanged
        |FROM j GROUP BY source""".stripMargin,

    "llm_blocklist" ->
      """WITH pats AS (
        |  SELECT unnest(['scan slow','low','table','merge batch','qu','row']) AS p),
        |c AS (
        |  SELECT d.doc_id,
        |         len(list_filter(range(1, length(d.text) - length(p.p) + 2),
        |             i -> substr(d.text, i, length(p.p)) = p.p)) AS cnt
        |  FROM documents d CROSS JOIN pats p)
        |SELECT doc_id, sum(cnt)::BIGINT AS hits
        |FROM c GROUP BY doc_id HAVING sum(cnt) > 0""".stripMargin,

    "llm_blocklist_scrub" ->
      """WITH pats AS (
        |  SELECT unnest(['scan slow','low','table','merge batch','qu','row']) AS p),
        |pos AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |        FROM documents),
        |cov AS (
        |  SELECT doc_id, i, substr(text, i, 1) AS ch,
        |         CASE WHEN EXISTS (SELECT 1 FROM pats
        |                 WHERE len(list_filter(
        |                     range(greatest(1, i - length(p) + 1), i + 1),
        |                     s -> substr(text, s, length(p)) = p)) > 0)
        |              THEN 1 ELSE 0 END AS c
        |  FROM pos),
        |agg AS (SELECT doc_id,
        |          string_agg(CASE WHEN c = 1 THEN '*' ELSE ch END, '' ORDER BY i) AS masked,
        |          string_agg(CASE WHEN c = 0 THEN ch END, '' ORDER BY i) AS removed
        |        FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.masked, '') AS masked_text,
        |       coalesce(a.removed, '') AS scrubbed_text
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,

    "llm_wordpiece" ->
      s"""WITH RECURSIVE $toksCte,
         |wd AS (SELECT word, count(*)::BIGINT AS cnt
         |       FROM (SELECT unnest(w) AS word FROM toks)
         |       WHERE word IS NOT NULL AND word <> '' GROUP BY word),
         |st AS (SELECT word, cnt, unnest(range(0, length(word))) AS i FROM wd),
         |ml AS (SELECT word, cnt, i,
         |              unnest(range(2, least(6, length(word) - i) + 1)) AS l
         |       FROM st WHERE length(word) - i >= 2),
         |tp AS (SELECT piece FROM (
         |         SELECT substr(word, i + 1, l) AS piece, sum(cnt) AS freq
         |         FROM ml GROUP BY 1
         |         ORDER BY freq DESC, piece LIMIT 200)),
         |sg AS (SELECT DISTINCT substr(word, i + 1, 1) AS piece FROM st),
         |vocab AS MATERIALIZED (SELECT piece FROM tp UNION SELECT piece FROM sg),
         |dw AS (SELECT word FROM wd),
         |ps AS (SELECT word, unnest(range(0, length(word))) AS i FROM dw),
         |cd AS (SELECT word, i,
         |              unnest(range(1, least(6, length(word) - i) + 1)) AS l
         |       FROM ps),
         |mt AS (SELECT cd.word, cd.i, max(cd.l) AS bl
         |       FROM cd JOIN vocab v ON v.piece = substr(cd.word, cd.i + 1, cd.l)
         |       GROUP BY 1, 2),
         |best AS MATERIALIZED (
         |  SELECT ps.word, ps.i, coalesce(mt.bl, 1) AS bl
         |  FROM ps LEFT JOIN mt ON mt.word = ps.word AND mt.i = ps.i),
         |walk AS (
         |  SELECT word, 0 AS pos FROM dw
         |  UNION ALL
         |  SELECT w.word, w.pos + b.bl AS pos
         |  FROM walk w JOIN best b ON b.word = w.word AND b.i = w.pos),
         |np AS (SELECT word, (count(*) - 1)::BIGINT AS np
         |       FROM walk GROUP BY word)
         |SELECT t.doc_id, count(*)::BIGINT AS n_ws, sum(np.np)::BIGINT AS n_pieces
         |FROM (SELECT doc_id, unnest(w) AS word FROM toks) t
         |JOIN np ON np.word = t.word
         |GROUP BY t.doc_id""".stripMargin,

    "llm_unigram_lm" ->
      s"""${unigramChain()},
         |${unigramViterbi(1)},
         |np AS (SELECT w.word, w.wc[1] AS np FROM walk1 w
         |       WHERE w.e = length(w.word))
         |SELECT t.doc_id, count(*)::BIGINT AS n_ws, sum(np.np)::BIGINT AS n_pieces
         |FROM (SELECT doc_id, unnest(w) AS word FROM toks) t
         |JOIN np ON np.word = t.word
         |GROUP BY t.doc_id""".stripMargin,

    "llm_unigram_vocab" ->
      s"""${unigramChain()}
         |SELECT piece, used FROM m1""".stripMargin,

    "llm_unigram_encode_xcorpus" ->
      s"""${unigramChain("WHERE lang = 'en'")},
         |wde AS (SELECT word, count(*)::BIGINT AS cnt
         |        FROM (SELECT unnest(w) AS word FROM toks)
         |        WHERE word IS NOT NULL AND word <> '' GROUP BY word),
         |${unigramViterbi(1, "wde")},
         |np AS (SELECT w.word, w.wc[1] AS np FROM walk1 w
         |       WHERE w.e = length(w.word))
         |SELECT t.doc_id, count(*)::BIGINT AS n_ws, sum(np.np)::BIGINT AS n_pieces
         |FROM (SELECT doc_id, unnest(w) AS word FROM toks) t
         |JOIN np ON np.word = t.word
         |GROUP BY t.doc_id""".stripMargin,

    "llm_editdist_join" ->
      """WITH n AS (SELECT doc_id,
        |              lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s
        |       FROM documents),
        |p AS (SELECT a.doc_id AS i, b.doc_id AS j,
        |             levenshtein(a.s, b.s)::BIGINT AS dist
        |      FROM n a JOIN n b ON a.doc_id < b.doc_id
        |      WHERE abs(length(a.s) - length(b.s)) <= 8)
        |SELECT i, j, dist FROM p WHERE dist <= 8""".stripMargin,

    "llm_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |             unnest(range(0, greatest((len(toks) + 9) // 10, 1))) AS i,
        |             toks
        |      FROM t),
        |g AS (SELECT doc_id, i,
        |             array_to_string(toks[i*10+1 : i*10+10], ' ') AS seg
        |      FROM s),
        |bp AS (SELECT seg
        |       FROM (SELECT seg, count(DISTINCT doc_id) AS df FROM g GROUP BY 1)
        |       WHERE df >= 3)
        |SELECT g.doc_id, count(*) AS n_spans,
        |       sum(CASE WHEN b.seg IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |       coalesce(array_to_string(list(g.seg ORDER BY g.i) FILTER (b.seg IS NULL), ' '),
        |                '') AS clean_text
        |FROM g LEFT JOIN bp b ON b.seg = g.seg GROUP BY g.doc_id""".stripMargin,

    "llm_dedup_substr" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g0 AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 8, 1))) AS pos, w
        |       FROM t),
        |g AS (SELECT doc_id, pos, array_to_string(w[pos : pos + 9], ' ') AS gram
        |      FROM g0),
        |m AS (SELECT doc_id, pos,
        |             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |      FROM g),
        |cv0 AS (SELECT doc_id, pos + unnest(range(0, 10)) AS idx
        |        FROM (SELECT doc_id, pos FROM m WHERE rn > 1)),
        |cov AS (SELECT DISTINCT doc_id, idx FROM cv0),
        |tok0 AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS idx, w FROM t),
        |tk AS (SELECT doc_id, idx, w[idx] AS tok FROM tok0),
        |j AS (SELECT tk.doc_id, tk.idx, tk.tok, cov.idx IS NOT NULL AS c
        |      FROM tk LEFT JOIN cov ON cov.doc_id = tk.doc_id AND cov.idx = tk.idx)
        |SELECT doc_id, count(*) AS n_tokens,
        |       sum(CASE WHEN NOT c THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |       coalesce(array_to_string(list(tok ORDER BY idx) FILTER (NOT c), ' '),
        |                '') AS clean_text
        |FROM j GROUP BY doc_id""".stripMargin,

    // brute-force incremental restatement: corpus grams (even ids, any
    // pos) are all "seen"; batch grams rank among the batch only
    "llm_dedup_substr_inc" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |gx0 AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 8, 1))) AS pos, w
        |        FROM t WHERE doc_id % 2 = 0),
        |gx AS (SELECT DISTINCT array_to_string(w[pos : pos + 9], ' ') AS gram
        |       FROM gx0),
        |g0 AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 8, 1))) AS pos, w
        |       FROM t WHERE doc_id % 2 = 1),
        |g AS (SELECT doc_id, pos, array_to_string(w[pos : pos + 9], ' ') AS gram
        |      FROM g0),
        |m AS (SELECT g.doc_id, g.pos,
        |             row_number() OVER (PARTITION BY g.gram
        |                                ORDER BY g.doc_id, g.pos) AS rn,
        |             gx.gram IS NOT NULL AS seen
        |      FROM g LEFT JOIN gx ON gx.gram = g.gram),
        |cv0 AS (SELECT doc_id, pos + unnest(range(0, 10)) AS idx
        |        FROM (SELECT doc_id, pos FROM m WHERE seen OR rn > 1)),
        |cov AS (SELECT DISTINCT doc_id, idx FROM cv0),
        |tok0 AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS idx, w
        |         FROM t WHERE doc_id % 2 = 1),
        |tk AS (SELECT doc_id, idx, w[idx] AS tok FROM tok0),
        |j AS (SELECT tk.doc_id, tk.idx, tk.tok, cov.idx IS NOT NULL AS c
        |      FROM tk LEFT JOIN cov ON cov.doc_id = tk.doc_id AND cov.idx = tk.idx)
        |SELECT doc_id, count(*) AS n_tokens,
        |       sum(CASE WHEN NOT c THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |       coalesce(array_to_string(list(tok ORDER BY idx) FILTER (NOT c), ' '),
        |                '') AS clean_text
        |FROM j GROUP BY doc_id""".stripMargin,

    // same 60-bit MD5 hash >> 7 (exact in double) and the same
    // (hash desc, doc_id asc) total order as the engine's top-k heaps
    "llm_source_quota" ->
      """SELECT source, rk::INT AS rk, doc_id FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY ('0x' || substr(md5(text), 1, 15))::BIGINT // 128 DESC,
        |                    doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 16""".stripMargin,

    // identical seeding + identical RE2-compatible regex chain; the hash of
    // the scrubbed text is the check
    "llm_pii_scrub" ->
      """WITH seeded AS (
        |  SELECT doc_id,
        |         text || printf(' contact user%d@mail.example phone +81 %09d ip 10.%d.0.33',
        |                        doc_id, (doc_id * 7919) % 100000000, doc_id % 250 + 1) AS text
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS text
        |  FROM seeded)
        |SELECT doc_id, length(text)::BIGINT AS n_chars_scrubbed,
        |       ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        |FROM s""".stripMargin,

    "llm_pagerank" -> pagerankOracle(0.6, 4),

    // the JSONL round-trip must recover exactly the original table — the
    // two poison lines leave no trace
    "s11_jsonl_ingest" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        |FROM documents""".stripMargin,

    "llm_fertility" ->
      s"""WITH $toksCte,
         |tc AS (SELECT doc_id, len(w)::BIGINT AS n_ws,
         |         len(regexp_extract_all(text,
         |           '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))::BIGINT
         |           AS n_bpe
         |       FROM toks),
         |g AS (SELECT d.lang, d.source, count(*) AS n_docs,
         |        sum(tc.n_ws)::BIGINT AS sum_ws, sum(tc.n_bpe)::BIGINT AS sum_bpe
         |      FROM documents d JOIN tc USING (doc_id) GROUP BY 1, 2)
         |SELECT lang, source, n_docs, sum_ws, sum_bpe,
         |       CAST((sum_bpe * 2000000 + sum_ws) // (2 * sum_ws) AS DOUBLE)
         |         / 1000000.0 AS fertility
         |FROM g""".stripMargin,

    "llm_heaps_curve" ->
      s"""WITH $toksCte,
         |f AS (SELECT unnest(w) AS tok, doc_id FROM toks),
         |fo AS (SELECT tok, min(doc_id) AS first_doc FROM f GROUP BY tok),
         |cp AS (SELECT (first_doc + 1)::BIGINT AS checkpoint,
         |              count(*)::BIGINT AS new_types
         |       FROM fo GROUP BY 1)
         |SELECT checkpoint, new_types,
         |       sum(new_types) OVER (ORDER BY checkpoint
         |         ROWS UNBOUNDED PRECEDING)::BIGINT AS vocab_size
         |FROM cp""".stripMargin,

    "llm_length_buckets" ->
      """WITH t AS (
        |  SELECT least(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')),
        |               512) AS t
        |  FROM documents),
        |b AS (SELECT ((t + 31) // 32) * 32 AS bucket, t FROM t)
        |SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_docs,
        |       sum(t)::BIGINT AS sum_tokens,
        |       (bucket * count(*))::BIGINT AS padded,
        |       round((1.0 - sum(t)::DOUBLE / (bucket * count(*)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS pad_waste
        |FROM b GROUP BY bucket""".stripMargin,

    // KMV replay: distinct (source, hash60(shingle)) → bottom-k per source
    // via row_number over h ascending → identical list algebra. Exact, not
    // approximate, parity: the sketch is a pure function of the hashes.
    "llm_source_sketch" ->
      s"""WITH t AS (
         |  SELECT source,
         |         string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
         |  FROM documents),
         |shs AS (
         |  SELECT DISTINCT source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
         |  FROM (SELECT source,
         |          unnest(list_distinct(list_transform(range(1, len(w) - 1),
         |            i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))) AS g
         |        FROM t WHERE len(w) >= 3)),
         |rk AS (SELECT source, h,
         |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |       FROM shs),
         |sk AS (SELECT source, list(h ORDER BY h) AS sk
         |       FROM rk WHERE rn <= 256 GROUP BY source),
         |p AS (SELECT a.source AS src_a, b.source AS src_b,
         |        a.sk AS ska, b.sk AS skb
         |      FROM sk a JOIN sk b ON a.source < b.source),
         |u AS (SELECT src_a, src_b, ska, skb,
         |        list_sort(list_distinct(list_concat(ska, skb))) AS un FROM p),
         |c AS (SELECT src_a, src_b, ska, skb,
         |        least(256, len(un))::BIGINT AS ku,
         |        un[1:least(256, len(un))] AS low FROM u)
         |SELECT src_a, src_b, ku,
         |       len(list_intersect(list_intersect(low, ska), skb))::BIGINT AS overlap,
         |       round((len(list_intersect(list_intersect(low, ska), skb))::DOUBLE
         |              / ku)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS jacc_est
         |FROM c""".stripMargin,

    "llm_dup_matrix" ->
      s"""WITH $shingleCte,
         |p AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
         |          / len(list_distinct(a.s || b.s)) >= 0.8)
         |SELECT least(di.source, dj.source) AS source_a,
         |       greatest(di.source, dj.source) AS source_b,
         |       count(*) AS n_pairs
         |FROM p JOIN documents di ON di.doc_id = p.i
         |       JOIN documents dj ON dj.doc_id = p.j
         |GROUP BY 1, 2""".stripMargin,

    "llm_norm_outliers" ->
      """WITH ex AS (
        |  SELECT vec_id,
        |         round((CAST(embedding[t.i] AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS v6
        |  FROM embeddings, range(1, 65) t(i)),
        |nm AS (
        |  SELECT vec_id,
        |         round((sqrt(CAST(sum(v6 * CAST(v6 AS DECIMAL(19,6))) AS DOUBLE)))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS n6
        |  FROM ex GROUP BY 1),
        |st AS (
        |  SELECT count(*) AS n, sum(n6) AS s,
        |         sum(n6 * CAST(n6 AS DECIMAL(19,6))) AS ss2
        |  FROM nm),
        |m AS (
        |  SELECT CAST(s AS DOUBLE) / n AS mean,
        |         sqrt(greatest(CAST(ss2 AS DOUBLE) / n
        |           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) AS sd
        |  FROM st)
        |SELECT vec_id, CAST(n6 AS DOUBLE) AS norm,
        |       round((CASE WHEN sd > 0
        |                  THEN (CAST(n6 AS DOUBLE) - mean) / sd
        |                  ELSE 0.0 END)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS z,
        |       abs(CASE WHEN sd > 0
        |                THEN (CAST(n6 AS DOUBLE) - mean) / sd
        |                ELSE 0.0 END) > 3.0 AS is_outlier
        |FROM nm CROSS JOIN m""".stripMargin,

    "llm_dedup_minhash" -> jaccardOracle(0.8),
    "llm_dedup_ngram" -> jaccardOracle(0.6),

    // same shingle sets exploded; a single int/int division is
    // bit-identical on both engines, so novelty ships unrounded
    "llm_novelty" ->
      s"""WITH $shingleCte,
         |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |df AS (SELECT g, count(*) AS df FROM e GROUP BY g)
         |SELECT doc_id, count(*)::BIGINT AS n_shingles,
         |       sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
         |       sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS novelty
         |FROM e JOIN df USING (g)
         |GROUP BY doc_id""".stripMargin,

    // each rule is exact arithmetic on the shared token array; BETWEEN is
    // inclusive on both engines and every comparison is on identical
    // doubles, so the boolean bundle is bit-portable
    "llm_gopher_rules" ->
      s"""WITH $toksCte,
         |r AS (
         |  SELECT doc_id,
         |         len(w) BETWEEN 10 AND 100000 AS r_wordcount,
         |         (length(replace(norm, ' ', ''))::DOUBLE / len(w))
         |           BETWEEN 3.0 AND 10.0 AS r_meanlen,
         |         len(list_intersect(w, ['the','be','to','of','and','that',
         |           'have','with'])) >= 2 AS r_stop,
         |         ((len(w) - len(list_distinct(w)))::DOUBLE / len(w)) <= 0.5
         |           AS r_dup
         |  FROM toks)
         |SELECT doc_id, r_wordcount, r_meanlen, r_stop, r_dup,
         |       (r_wordcount AND r_meanlen AND r_stop AND r_dup) AS keep
         |FROM r""".stripMargin,

    // true winnowing: per-window minima (integer-exact), argmin position
    // recovered by the same (doc, hash, in-window) join, rightmost tie —
    // the selected posting list matches row-for-row
    "llm_winnow_fp" ->
      s"""WITH $toksCte,
         |g AS (SELECT doc_id,
         |             unnest(list_transform(range(1, len(w) - 1),
         |               i -> {'pos': i,
         |                     'h': ('0x' || substr(md5(
         |                       array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT}))
         |               AS u
         |      FROM toks WHERE len(w) >= 3),
         |p AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM g),
         |m AS (SELECT doc_id, pos AS i,
         |             min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mn
         |      FROM p),
         |sel AS (SELECT m.doc_id, m.i, m.mn, max(p.pos) AS pos
         |        FROM m JOIN p ON p.doc_id = m.doc_id AND p.h = m.mn
         |             AND p.pos BETWEEN m.i - 3 AND m.i
         |        WHERE m.i >= 4
         |        GROUP BY 1, 2, 3)
         |SELECT DISTINCT doc_id, pos::BIGINT AS pos, mn AS fp
         |FROM sel""".stripMargin,

    // brute-force restatement of the winnow overlap join (the engine uses
    // in-list pair expansion; both count identical (i, j, fp) triples)
    "llm_winnow_dedup" ->
      s"""WITH $toksCte,
         |g AS (SELECT doc_id,
         |             unnest(list_transform(range(1, len(w) - 1),
         |               i -> {'pos': i,
         |                     'h': ('0x' || substr(md5(
         |                       array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT}))
         |               AS u
         |      FROM toks WHERE len(w) >= 3),
         |p AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM g),
         |m AS (SELECT doc_id, pos AS i,
         |             min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mn
         |      FROM p),
         |fp AS (SELECT DISTINCT m.doc_id, m.mn AS f
         |       FROM m JOIN p ON p.doc_id = m.doc_id AND p.h = m.mn
         |            AND p.pos BETWEEN m.i - 3 AND m.i
         |       WHERE m.i >= 4)
         |SELECT a.doc_id AS i, b.doc_id AS j, count(*)::BIGINT AS shared
         |FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // brute-force containment oracle: same shingle sets, normalized by the
    // SMALLER set — the doc-in-doc measure Jaccard's union denominator hides
    "llm_dedup_contain" ->
      s"""WITH $shingleCte,
         |p AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j,
         |         len(list_intersect(a.s, b.s))::DOUBLE
         |           / least(len(a.s), len(b.s)) AS c
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT i, j, round((c)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS containment FROM p WHERE c >= 0.8""".stripMargin,

    // inverted-index restatement (vs jaccardOracle's brute-force
    // list_intersect) so the df cap applies per shingle exactly as the
    // engine does: over-cap shingles are excluded before any pair forms;
    // set sizes stay full, so jaccard = c / (ni + nj - c) over survivors
    "llm_dedup_ngram_capped" ->
      s"""WITH $shingleCte,
         |e AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
         |ok AS (SELECT g FROM (SELECT g, count(*) AS d FROM e GROUP BY g)
         |       WHERE d <= 4),
         |f AS (SELECT doc_id, sz, g FROM e WHERE g IN (SELECT g FROM ok)),
         |p AS (SELECT a.doc_id AS i, a.sz AS ni, b.doc_id AS j, b.sz AS nj,
         |             count(*) AS c
         |      FROM f a JOIN f b ON a.g = b.g AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2, 3, 4)
         |SELECT i, j, round((c::DOUBLE / (ni + nj - c))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS jaccard
         |FROM p WHERE c::DOUBLE / (ni + nj - c) >= 0.6""".stripMargin,

    "llm_dedup_simhash" ->
      s"""WITH $toksCte,
         |tf AS (
         |  SELECT doc_id, tok, count(*)::BIGINT AS f
         |  FROM (SELECT doc_id, unnest(w) AS tok FROM toks) GROUP BY 1, 2),
         |th AS (SELECT doc_id, f, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tf),
         |bits AS (
         |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN f ELSE -f END) AS v
         |  FROM th, range(60) t(b) GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |              sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
         |       FROM bits GROUP BY 1)
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "llm_dedup_embed" ->
      """WITH p AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS c
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT i, j, round((c)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS cos FROM p WHERE c >= 0.45""".stripMargin,

    "llm_ann_topk" -> annOracle,
    "llm_ann_sql" -> annOracle,
    "llm_ann_lsh" -> annOracle,
    "llm_ann_ivf" -> annOracle,
    "llm_ann_ivfpq" -> annOracle,
    "llm_ann_quant" -> annOracle,
    "llm_ann_pq" -> annOracle,

    "llm_embed_center" ->
      """WITH ex AS (
        |  SELECT vec_id, (t.i - 1)::INT AS dim,
        |         round((CAST(embedding[t.i] AS DOUBLE))::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS v6
        |  FROM embeddings, range(1, 65) t(i)),
        |st AS (
        |  SELECT dim, count(*) AS n, sum(v6) AS s,
        |         sum(CAST(v6 AS DECIMAL(19,6)) * CAST(v6 AS DECIMAL(19,6))) AS ss
        |  FROM ex GROUP BY 1),
        |m AS (
        |  SELECT dim, n, CAST(s AS DOUBLE) / n AS mean,
        |         sqrt(greatest(CAST(ss AS DOUBLE) / n
        |           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) AS sd
        |  FROM st)
        |SELECT ex.vec_id, ex.dim,
        |       printf('%.6f', CASE WHEN m.sd > 0
        |                  THEN (CAST(ex.v6 AS DOUBLE) - m.mean) / m.sd
        |                  ELSE 0.0 END) AS z
        |FROM ex JOIN m USING (dim)""".stripMargin,

    "llm_knn_graph" ->
      """WITH e5 AS (SELECT * FROM embeddings WHERE vec_id < 500),
        |s AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |         list_cosine_similarity(a.embedding::DOUBLE[],
        |                                b.embedding::DOUBLE[]) AS score
        |  FROM e5 a JOIN e5 b ON a.vec_id <> b.vec_id),
        |r AS (SELECT qid, cid, score,
        |             row_number() OVER (PARTITION BY qid
        |               ORDER BY score DESC, cid ASC) AS rk
        |      FROM s),
        |k AS (SELECT qid, cid, score FROM r WHERE rk <= 5)
        |SELECT x.qid AS a, x.cid AS b, round((x.score)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS score
        |FROM k x JOIN k y ON y.qid = x.cid AND y.cid = x.qid
        |WHERE x.qid < x.cid""".stripMargin,

    "llm_hard_negatives" ->
      """WITH e5 AS (SELECT * FROM embeddings WHERE vec_id < 500),
        |s AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid,
        |         list_cosine_similarity(a.embedding::DOUBLE[],
        |                                b.embedding::DOUBLE[]) AS score
        |  FROM e5 a JOIN e5 b
        |    ON a.vec_id <> b.vec_id AND a.label <> b.label),
        |r AS (SELECT qid, cid, score,
        |             row_number() OVER (PARTITION BY qid
        |               ORDER BY score DESC, cid ASC) AS rk
        |      FROM s)
        |SELECT qid, cid, rk::INT AS rank,
        |       round((score)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS score
        |FROM r WHERE rk <= 5""".stripMargin,

    "llm_bitext_mine" ->
      """WITH dl AS (SELECT doc_id, lang FROM documents),
        |a AS (SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS v
        |      FROM embeddings e JOIN dl ON dl.doc_id = e.vec_id
        |      WHERE e.vec_id < 500 AND dl.lang = 'en'),
        |b AS (SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS v
        |      FROM embeddings e JOIN dl ON dl.doc_id = e.vec_id
        |      WHERE e.vec_id < 500 AND dl.lang = 'de'),
        |s AS (SELECT a.id AS x, b.id AS y,
        |             list_cosine_similarity(a.v, b.v) AS c
        |      FROM a CROSS JOIN b),
        |s6 AS (SELECT x, y,
        |              round((c)::VARCHAR::DECIMAL(38,23), 6)::DECIMAL(18,6) AS c6,
        |              row_number() OVER (PARTITION BY x ORDER BY c DESC, y) AS rx,
        |              row_number() OVER (PARTITION BY y ORDER BY c DESC, x) AS ry
        |       FROM s),
        |sx AS (SELECT x, sum(c6) AS sx FROM s6 WHERE rx <= 4 GROUP BY x),
        |sy AS (SELECT y, sum(c6) AS sy FROM s6 WHERE ry <= 4 GROUP BY y),
        |m AS (SELECT s6.x, s6.y,
        |             CASE WHEN (sx.sx + sy.sy) <> 0
        |                  THEN CAST(8 * s6.c6 AS DOUBLE)
        |                       / CAST(sx.sx + sy.sy AS DOUBLE)
        |                  ELSE CAST(0 AS DOUBLE) END AS margin
        |      FROM s6 JOIN sx ON sx.x = s6.x JOIN sy ON sy.y = s6.y
        |      WHERE s6.rx <= 4),
        |t AS (SELECT x, y, margin,
        |             row_number() OVER (PARTITION BY x
        |               ORDER BY margin DESC, y ASC) AS rk
        |      FROM m)
        |SELECT x AS src_id, y AS tgt_id,
        |       round((margin)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS margin
        |FROM t WHERE rk = 1 AND margin >= 1.0""".stripMargin,

    "llm_embed_quant" ->
      """WITH m AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS ma
        |  FROM embeddings),
        |q AS (SELECT vec_id, ma,
        |             list_transform(v, x -> CASE WHEN ma = 0 THEN 0
        |               ELSE round(x / ma * 127)::INT END) AS qs
        |      FROM m)
        |SELECT vec_id, round((ma / 127)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS scale,
        |       list_sum(qs)::BIGINT AS qsum,
        |       list_min(qs)::INT AS qmin, list_max(qs)::INT AS qmax
        |FROM q""".stripMargin,

    "llm_corpus_clean" ->
      s"""WITH $shingleCte,
         |losers AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
         |          / len(list_distinct(a.s || b.s)) >= 0.8),
         |canon AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY
         |      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep
         |    FROM documents) WHERE keep),
         |q AS (
         |  SELECT doc_id FROM toks
         |  WHERE round((least(len(w)::DOUBLE / 50.0, 1.0)
         |        * (1.0 - len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
         |                 / len(w)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE >= 0.2)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |JOIN canon USING (doc_id)
         |JOIN q USING (doc_id)
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin,

    // true-Jaccard all-pairs restricted to pairs involving the batch — the
    // exact semantics crossCandidates+verify implements (LSH recall at this
    // corpus/threshold is exhaustive, as llm_dedup_minhash's gate proves)
    "llm_ingest_incremental" ->
      s"""WITH $shingleCte,
         |cross_losers AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sh a JOIN sh b ON a.doc_id < $IngestCutoff AND b.doc_id >= $IngestCutoff
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
         |          / len(list_distinct(a.s || b.s)) >= 0.8),
         |batch_losers AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sh a JOIN sh b ON a.doc_id >= $IngestCutoff AND a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
         |          / len(list_distinct(a.s || b.s)) >= 0.8),
         |ex AS (
         |  SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
         |  FROM documents WHERE doc_id < $IngestCutoff),
         |canon AS (
         |  SELECT doc_id, h FROM (
         |    SELECT doc_id,
         |           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h,
         |           doc_id = min(doc_id) OVER (PARTITION BY
         |             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep
         |    FROM documents WHERE doc_id >= $IngestCutoff) WHERE keep),
         |q AS (
         |  SELECT doc_id FROM toks
         |  WHERE doc_id >= $IngestCutoff
         |    AND round((least(len(w)::DOUBLE / 50.0, 1.0)
         |        * (1.0 - len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
         |                 / len(w)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE >= 0.2)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |JOIN canon USING (doc_id)
         |JOIN q USING (doc_id)
         |WHERE canon.h NOT IN (SELECT h FROM ex)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cross_losers)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM batch_losers)""".stripMargin,

    "llm_corpus_stats" ->
      s"""WITH $shingleCte,
         |losers AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
         |          / len(list_distinct(a.s || b.s)) >= 0.8),
         |canon AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY
         |      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep
         |    FROM documents) WHERE keep),
         |st AS (
         |  SELECT doc_id, lang,
         |         len(w)::BIGINT AS n_tokens,
         |         round((least(len(w)::DOUBLE / 50.0, 1.0)
         |           * (1.0 - len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
         |                    / len(w)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS quality
         |  FROM toks),
         |kept AS (
         |  SELECT d.doc_id, d.lang, d.source FROM documents d
         |  JOIN canon USING (doc_id)
         |  WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
         |    AND d.doc_id IN (SELECT doc_id FROM st WHERE quality >= 0.2))
         |SELECT k.lang, k.source, count(*) AS n_docs,
         |       sum(st.n_tokens)::BIGINT AS total_tokens,
         |       round((round(sum(st.quality::DECIMAL(18,6))::DOUBLE, 6)
         |             / count(*))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS avg_quality
         |FROM kept k JOIN st USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,

    "llm_corpus_splits" ->
      s"""WITH $shingleCte,
         |losers AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
         |          / len(list_distinct(a.s || b.s)) >= 0.8),
         |canon AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY
         |      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep
         |    FROM documents) WHERE keep),
         |st AS (
         |  SELECT doc_id,
         |         len(w)::BIGINT AS n_tokens,
         |         ('0x' || substr(md5(norm), 1, 15))::BIGINT % 100 AS b,
         |         round((least(len(w)::DOUBLE / 50.0, 1.0)
         |           * (1.0 - len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
         |                    / len(w)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS quality
         |  FROM toks),
         |kept AS (
         |  SELECT d.doc_id FROM documents d
         |  JOIN canon USING (doc_id)
         |  WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
         |    AND d.doc_id IN (SELECT doc_id FROM st WHERE quality >= 0.2))
         |SELECT CASE WHEN st.b < 90 THEN 'train'
         |            WHEN st.b < 95 THEN 'val'
         |            ELSE 'test' END AS split,
         |       count(*) AS n_docs,
         |       sum(st.n_tokens)::BIGINT AS total_tokens,
         |       round((round(sum(st.quality::DECIMAL(18,6))::DOUBLE, 6)
         |             / count(*))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS avg_quality
         |FROM kept k JOIN st USING (doc_id)
         |GROUP BY 1""".stripMargin,

    "llm_corpus_release" ->
      s"""WITH $shingleCte,
         |losers AS (
         |  SELECT DISTINCT b.doc_id
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
         |          / len(list_distinct(a.s || b.s)) >= 0.8),
         |canon AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY
         |      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep
         |    FROM documents) WHERE keep),
         |st AS (
         |  SELECT doc_id,
         |         len(w)::BIGINT AS n_tokens,
         |         ('0x' || substr(md5(norm), 1, 15))::BIGINT % 100 AS b,
         |         round((least(len(w)::DOUBLE / 50.0, 1.0)
         |           * (1.0 - len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
         |                    / len(w)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS quality
         |  FROM toks),
         |kept AS (
         |  SELECT d.doc_id FROM documents d
         |  JOIN canon USING (doc_id)
         |  WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
         |    AND d.doc_id IN (SELECT doc_id FROM st WHERE quality >= 0.2))
         |SELECT CASE WHEN st.b < 90 THEN 'train'
         |            WHEN st.b < 95 THEN 'val'
         |            ELSE 'test' END AS split,
         |       count(*) AS n_docs,
         |       sum(st.n_tokens)::BIGINT AS total_tokens,
         |       round((round(sum(st.quality::DECIMAL(18,6))::DOUBLE, 6)
         |             / count(*))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS avg_quality
         |FROM kept k JOIN st USING (doc_id)
         |GROUP BY 1
         |UNION ALL
         |SELECT '_removed', count(*),
         |       sum(st.n_tokens)::BIGINT,
         |       round((round(sum(st.quality::DECIMAL(18,6))::DOUBLE, 6)
         |             / count(*))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
         |FROM st WHERE doc_id NOT IN (SELECT doc_id FROM kept)""".stripMargin,

    "llm_text_stats" ->
      s"""WITH $toksCte
         |SELECT doc_id, length(text)::BIGINT AS n_chars, len(w)::BIGINT AS n_tokens,
         |       round((length(replace(norm, ' ', ''))::DOUBLE / len(w))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS avg_token_len,
         |       round((len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
         |             / len(w))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS stopword_ratio,
         |       round((least(len(w)::DOUBLE / 50.0, 1.0)
         |             * (1.0 - len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
         |                      / len(w)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS quality
         |FROM toks""".stripMargin,

    "llm_quality_model" ->
      s"""WITH $toksCte,
         |f AS (
         |  SELECT doc_id,
         |         least(len(w)::DOUBLE / 50.0, 1.0) AS f_len,
         |         len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
         |           / len(w) AS f_stop,
         |         length(replace(norm, ' ', ''))::DOUBLE / len(w) / 10.0 AS f_avg
         |  FROM toks),
         |s AS (
         |  SELECT doc_id,
         |         -0.1 + 0.9 * f_len + -0.6 * f_stop + 0.05 * f_avg AS score
         |  FROM f)
         |SELECT doc_id, round((score)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS score
         |FROM s WHERE score >= 0.35""".stripMargin,

    "llm_data_mix" ->
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |         ('0x' || substr(md5(lower(trim(
        |            regexp_replace(text, '\s+', ' ', 'g')))), 1, 15))::BIGINT AS h
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source, n_chars, h,
        |         -- ::DOUBLE: DuckDB parses 0.30 as DECIMAL and would keep
        |         -- wt*100000 exact; Spark multiplies doubles — match it
        |         (CASE source WHEN 'src0' THEN 0.30 WHEN 'src1' THEN 0.15
        |                      WHEN 'src2' THEN 0.05 ELSE 0.02 END)::DOUBLE AS wt
        |  FROM h),
        |c AS (
        |  SELECT doc_id, source,
        |         floor(wt * 100000)::BIGINT AS budget,
        |         sum(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
        |           ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        |  FROM b)
        |SELECT doc_id, source, cum AS cum_chars
        |FROM c WHERE cum <= budget""".stripMargin,

    "llm_lang_id" ->
      s"""WITH $toksCte,
         |hits AS (
         |  SELECT doc_id, lang AS lang_declared,
         |         len(list_filter(w, x -> list_contains($stopEn, x))) AS en,
         |         len(list_filter(w, x -> list_contains($stopDe, x))) AS de,
         |         len(list_filter(w, x -> list_contains($stopEs, x))) AS es
         |  FROM toks)
         |SELECT doc_id, lang_declared,
         |       CASE WHEN en >= de AND en >= es AND en > 0 THEN 'en'
         |            WHEN de >= es AND de > 0 THEN 'de'
         |            WHEN es > 0 THEN 'es'
         |            ELSE 'und' END AS lang_guess
         |FROM hits""".stripMargin,

    "llm_token_count" ->
      s"""WITH $toksCte
         |SELECT doc_id, len(w)::BIGINT AS n_ws,
         |       len(regexp_extract_all(text,
         |         '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))::BIGINT
         |         AS n_bpe,
         |       round((len(regexp_extract_all(text,
         |         '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))::DOUBLE
         |         / len(w))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS fertility
         |FROM toks""".stripMargin,

    "llm_repetition" ->
      s"""WITH $toksCte,
         |g AS (
         |  SELECT doc_id, w,
         |         list_transform(range(1, greatest(len(w), 2)),
         |           i -> w[i] || ' ' || w[i + 1]) AS bg
         |  FROM toks)
         |SELECT doc_id, len(w)::BIGINT AS n_tokens,
         |       round(((len(w) - len(list_distinct(w)))::DOUBLE / len(w))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
         |         AS dup_word_ratio,
         |       CASE WHEN len(w) >= 2
         |            THEN round(((len(bg) - len(list_distinct(bg)))::DOUBLE
         |                       / len(bg))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE
         |            ELSE 0.0 END AS dup_bigram_ratio
         |FROM g""".stripMargin,

    // cluster-exact clean: drop every non-minimum member of each transitive
    // near-dup cluster (reachability closure), keep exact-dedup canon +
    // quality — strictly stronger dedup than the pair-loser policy
    "llm_corpus_clean_cc" ->
      s"""WITH RECURSIVE $shingleCte,
         |pairs AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
         |          / len(list_distinct(a.s || b.s)) >= 0.8),
         |edges AS MATERIALIZED (SELECT i AS a, j AS b FROM pairs
         |          UNION ALL SELECT j, i FROM pairs),
         |reach(v, u) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
         |lbl AS (SELECT v AS doc_id, min(u) AS cid FROM reach GROUP BY v),
         |canon AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY
         |      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep
         |    FROM documents) WHERE keep),
         |q AS (
         |  SELECT doc_id FROM toks
         |  WHERE round((least(len(w)::DOUBLE / 50.0, 1.0)
         |        * (1.0 - len(list_filter(w, x -> list_contains($stopEn, x)))::DOUBLE
         |                 / len(w)))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE >= 0.2)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |JOIN canon USING (doc_id)
         |JOIN q USING (doc_id)
         |JOIN lbl USING (doc_id)
         |WHERE lbl.cid = d.doc_id""".stripMargin,

    // reachability closure (recursive CTE) replays the same clusters the
    // hash-min propagation converges to: label = min reachable doc_id
    "llm_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |pairs AS (
         |  SELECT a.doc_id AS i, b.doc_id AS j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.s, b.s))::DOUBLE
         |          / len(list_distinct(a.s || b.s)) >= 0.8),
         |edges AS MATERIALIZED (SELECT i AS a, j AS b FROM pairs
         |          UNION ALL SELECT j, i FROM pairs),
         |reach(v, u) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)
         |SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v""".stripMargin,

    // block reassembly replay: same prefix sums, per-block list slices in
    // global-offset order, shifted labels via 1-based end-truncating slices
    "llm_pack_examples" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, len(w)::BIGINT AS nt,
         |             list_transform(w, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS tid
         |      FROM toks),
         |c AS (SELECT doc_id, nt, tid,
         |             sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM t),
         |sp AS (SELECT nt, tid, (cum - nt)::BIGINT AS st,
         |              ((cum - nt) // 128)::BIGINT AS bf,
         |              ((cum - 1) // 128)::BIGINT AS bl
         |       FROM c),
         |e AS (SELECT st, tid, nt, unnest(range(bf, bl + 1)) AS blk FROM sp),
         |p AS (SELECT blk, st,
         |             tid[greatest(blk * 128 - st, 0) + 1 :
         |                 least((blk + 1) * 128 - st, nt)] AS piece
         |      FROM e),
         |g AS (SELECT blk, flatten(list(piece ORDER BY st)) AS input_ids
         |      FROM p GROUP BY blk)
         |SELECT blk::BIGINT AS block_id, len(input_ids)::BIGINT AS n_tokens,
         |       array_to_string(input_ids, ' ') AS input_ids,
         |       array_to_string(
         |         list_append(input_ids[2:len(input_ids)], (-100)::BIGINT),
         |         ' ') AS labels
         |FROM g""".stripMargin,

    "llm_pack_sequences" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, len(w)::BIGINT AS nt FROM toks),
         |c AS (SELECT doc_id, nt,
         |             sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM t)
         |SELECT doc_id, nt AS n_tokens,
         |       ((cum - nt) // 1024)::BIGINT AS seq_first,
         |       ((cum - 1) // 1024)::BIGINT AS seq_last,
         |       ((cum - nt) % 1024)::BIGINT AS seq_offset
         |FROM c""".stripMargin,

    // rank computed over the full frequency table then cut at 50 — equal to
    // ranking within the top-50 because the orders coincide
    "llm_vocab_topk" ->
      s"""WITH $toksCte,
         |f AS (SELECT unnest(w) AS tok FROM toks)
         |SELECT tok, count(*)::BIGINT AS freq,
         |       row_number() OVER (ORDER BY count(*) DESC, tok)::INT AS rank
         |FROM f GROUP BY tok
         |ORDER BY freq DESC, tok LIMIT 50""".stripMargin,

    // the oracle states the bounds hold for every token; estimates
    // themselves are partitioning-dependent and not comparable
    "llm_heavy_hitters" ->
      s"""WITH $toksCte,
         |f AS (SELECT unnest(w) AS tok FROM toks)
         |SELECT tok, count(*) AS exact, true AS mg_ok
         |FROM f GROUP BY tok""".stripMargin,

    // identical contract through the SQL surface
    "llm_heavy_hitters_sql" ->
      s"""WITH $toksCte,
         |f AS (SELECT unnest(w) AS tok FROM toks)
         |SELECT tok, count(*) AS exact, true AS mg_ok
         |FROM f GROUP BY tok""".stripMargin,

    // quantile_cont == Spark percentile (continuous interpolated quantile,
    // parity verified in a6_percentiles); both engines skip NULL freq
    "llm_vocab_coverage" ->
      s"""WITH $toksCte,
         |v AS (SELECT tok, count(*)::BIGINT AS freq
         |      FROM (SELECT unnest(w) AS tok FROM toks)
         |      GROUP BY tok ORDER BY freq DESC, tok LIMIT 50),
         |f AS (SELECT doc_id, unnest(w) AS tok FROM toks),
         |j AS (SELECT f.doc_id, v.freq FROM f LEFT JOIN v USING (tok))
         |SELECT doc_id, count(*) AS n_tokens,
         |       sum(CASE WHEN freq IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
         |       round((sum(CASE WHEN freq IS NULL THEN 1 ELSE 0 END)::DOUBLE
         |             / count(*))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS oov_ratio,
         |       round((quantile_cont(freq, 0.5))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS med_freq
         |FROM j GROUP BY doc_id""".stripMargin,

    // TF-IDF with the bm25-style rational idf: identical parenthesization
    // on both engines; ranking on the RAW double (before rounding) with a
    // lexical tie-break, so order is engine-independent
    "llm_tfidf_topterms" ->
      s"""WITH $toksCte,
         |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf
         |       FROM (SELECT doc_id, unnest(w) AS tok FROM toks) u
         |       GROUP BY 1, 2),
         |dfq AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*)::DOUBLE AS n_docs FROM toks),
         |sc AS (SELECT doc_id, tok, tf,
         |         tf::DOUBLE * ((n_docs - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5)) AS score
         |       FROM tf JOIN dfq USING (tok), n),
         |r AS (SELECT doc_id, tok, tf, score,
         |        row_number() OVER (PARTITION BY doc_id
         |                           ORDER BY score DESC, tok) AS rank
         |      FROM sc)
         |SELECT doc_id, tok AS term, tf, round((score)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS score, rank
         |FROM r WHERE rank <= 3""".stripMargin,

    // rational PMI cab*U^2/(B*ca*cb): zipped unnest of the two shifted
    // list slices = Spark's zip_with bigrams; totals re-aggregate the
    // compact count tables exactly as the Spark side does
    "llm_pmi_colloc" ->
      s"""WITH $toksCte,
         |bg AS (SELECT unnest(w[1:len(w) - 1]) AS t1,
         |              unnest(w[2:len(w)]) AS t2
         |       FROM toks WHERE len(w) >= 2),
         |cb AS (SELECT t1, t2, count(*)::BIGINT AS cab FROM bg GROUP BY 1, 2),
         |cu AS (SELECT tok, count(*)::BIGINT AS c
         |       FROM (SELECT unnest(w) AS tok FROM toks) u GROUP BY 1),
         |tot AS (SELECT (SELECT sum(c) FROM cu)::DOUBLE AS ut,
         |               (SELECT sum(cab) FROM cb)::DOUBLE AS bt),
         |sc AS (SELECT t1, t2, cab,
         |         cab::DOUBLE * ut * ut / (bt * a.c::DOUBLE * b.c::DOUBLE) AS pmi
         |       FROM cb JOIN cu a ON cb.t1 = a.tok JOIN cu b ON cb.t2 = b.tok, tot
         |       WHERE cab >= 5)
         |SELECT t1, t2, cab, round((pmi)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS pmi
         |FROM sc ORDER BY pmi DESC, t1, t2 LIMIT 20""".stripMargin,

    // BM25 with rational idf — every op is +,-,*,/ with the identical
    // parenthesization as the Spark side, so doubles are bit-identical;
    // per-term scores round to 6dp then sum as exact DECIMAL
    "llm_bm25_topk" ->
      s"""WITH $toksCte,
         |dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM toks),
         |st AS (SELECT count(*)::DOUBLE AS n_docs,
         |              (SUM(dl)::DOUBLE / count(*)::DOUBLE) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS nt
         |       FROM (SELECT doc_id, unnest(w) AS tok FROM toks) u
         |       WHERE tok IN ('spark', 'stream', 'merge') GROUP BY 1, 2),
         |dfq AS (SELECT tok, count(*)::BIGINT AS nd FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id,
         |         round((((st.n_docs - nd::DOUBLE + 0.5) / (nd::DOUBLE + 0.5)) *
         |               ((nt::DOUBLE * 2.2) /
         |                (nt::DOUBLE + 1.2 * (0.25 + 0.75 * (dl.dl::DOUBLE / st.avgdl)))))::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS score_t
         |       FROM tf JOIN dfq USING (tok) JOIN dl ON tf.doc_id = dl.doc_id, st)
         |SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
         |       CAST(SUM(CAST(score_t AS DECIMAL(18,6))) AS DOUBLE) AS bm25
         |FROM sc GROUP BY 1
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // lateral generate_series = the posexplode'd start sequence; DuckDB list
    // slice is 1-based inclusive and end-truncating, matching Spark's slice
    "llm_chunk_windows" ->
      s"""WITH $toksCte,
         |t AS (SELECT doc_id, w, len(w) AS n FROM toks),
         |g AS (SELECT doc_id, w, n, unnest(range(0, n, 48)) AS start_tok FROM t)
         |SELECT doc_id, (start_tok // 48)::INT AS chunk_no, start_tok::INT AS start_tok,
         |       least(n - start_tok, 64)::INT AS n_tokens,
         |       array_to_string(w[start_tok + 1 : start_tok + 64], ' ') AS chunk_text
         |FROM g""".stripMargin,

    "llm_decontaminate" ->
      s"""WITH $shingleCte,
         |h AS (SELECT doc_id,
         |             ('0x' || substr(md5(norm), 1, 15))::BIGINT % 100 AS b
         |      FROM toks),
         |tr AS (SELECT sh.doc_id, s FROM sh JOIN h USING (doc_id) WHERE b < 90),
         |ev AS (SELECT sh.doc_id, s FROM sh JOIN h USING (doc_id) WHERE b >= 90)
         |SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
         |       len(list_intersect(e.s, t.s))::BIGINT AS n_shared
         |FROM ev e JOIN tr t ON len(list_intersect(e.s, t.s)) >= 2""".stripMargin,

    "llm_decontaminate_clean" ->
      s"""WITH $shingleCte,
         |h AS (SELECT doc_id,
         |             ('0x' || substr(md5(norm), 1, 15))::BIGINT % 100 AS b
         |      FROM toks),
         |tr AS (SELECT sh.doc_id, s FROM sh JOIN h USING (doc_id) WHERE b < 90),
         |ev AS (SELECT sh.doc_id, s FROM sh JOIN h USING (doc_id) WHERE b >= 90),
         |bad AS (SELECT DISTINCT t.doc_id
         |        FROM ev e JOIN tr t ON len(list_intersect(e.s, t.s)) >= 2)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN h USING (doc_id)
         |WHERE h.b < 90 AND d.doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    // inverted-index restatement (unlike llm_decontaminate's brute-force
    // list_intersect) so the df cap applies per (shingle, side) exactly as
    // the engine does: a shingle over the cap on EITHER side is excluded
    // before any pair forms
    "llm_decontaminate_capped" ->
      s"""WITH $shingleCte,
         |h AS (SELECT doc_id,
         |             ('0x' || substr(md5(norm), 1, 15))::BIGINT % 100 AS b
         |      FROM toks),
         |te AS (SELECT sh.doc_id, unnest(s) AS g FROM sh JOIN h USING (doc_id) WHERE b < 90),
         |ee AS (SELECT sh.doc_id, unnest(s) AS g FROM sh JOIN h USING (doc_id) WHERE b >= 90),
         |bad AS (SELECT g FROM (SELECT g, count(*) AS d FROM te GROUP BY g) WHERE d > 2
         |        UNION SELECT g FROM (SELECT g, count(*) AS d FROM ee GROUP BY g) WHERE d > 2)
         |SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
         |       count(*)::BIGINT AS n_shared
         |FROM (SELECT * FROM ee WHERE g NOT IN (SELECT g FROM bad)) e
         |JOIN (SELECT * FROM te WHERE g NOT IN (SELECT g FROM bad)) t USING (g)
         |GROUP BY 1, 2""".stripMargin,

    "llm_decontaminate_embed" ->
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id % 20 <> 0),
        |b AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |      FROM embeddings WHERE vec_id % 20 = 0),
        |p AS (SELECT c.vec_id AS train_id, b.vec_id AS eval_id,
        |             list_cosine_similarity(c.v, b.v) AS s
        |      FROM c CROSS JOIN b)
        |SELECT train_id, eval_id,
        |       round((s)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS cos
        |FROM p WHERE s >= 0.45""".stripMargin,

    "llm_fingerprint" ->
      s"""WITH $toksCte
         |SELECT doc_id, md5(norm) AS digest,
         |       ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp60
         |FROM toks""".stripMargin,

    "llm_split_assign" ->
      s"""WITH $toksCte,
         |h AS (SELECT doc_id,
         |             ('0x' || substr(md5(norm), 1, 15))::BIGINT % 100 AS b
         |      FROM toks)
         |SELECT doc_id,
         |       CASE WHEN b < 90 THEN 'train'
         |            WHEN b < 95 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM h""".stripMargin,

    // the merge fold (list_reduce with the right()-suffix rule) is the
    // byte-identical DuckDB twin of the Spark aggregate() fold; sN are
    // MATERIALIZED because each is referenced by both pN+1 and sN+1
    "llm_bpe_merges" ->
      s"""${bpeChain(16)}
         |${(1 to 16).map(i =>
               s"SELECT $i AS merge_no, lhs, rhs, pc AS pair_count FROM b$i")
             .mkString("\nUNION ALL ")}""".stripMargin,

    // L68: fertility of the JUST-LEARNED tokenizer — per doc, whitespace
    // tokens and BPE units after the 3 trained merges (all-integer)
    "llm_bpe_encode" ->
      s"""${bpeChain(3)},
         |s3 AS MATERIALIZED (${bpeFoldStep("s2", "b3")}),
         |u AS (SELECT word, len(string_split(sym, ' '))::BIGINT AS units FROM s3),
         |t AS (SELECT doc_id, unnest(w) AS word FROM toks)
         |SELECT doc_id, count(*)::BIGINT AS n_ws, sum(units)::BIGINT AS n_units
         |FROM t JOIN u USING (word)
         |WHERE word IS NOT NULL AND word <> ''
         |GROUP BY doc_id""".stripMargin,

    // the cross-corpus fallback: unseen words cost their character count
    // (len of the same '' split the symbol seed uses)
    "llm_bpe_encode_xcorpus" ->
      s"""${bpeChain(8, "WHERE lang = 'en'")},
         |s8 AS MATERIALIZED (${bpeFoldStep("s7", "b8")}),
         |u AS (SELECT word, len(string_split(sym, ' '))::BIGINT AS units FROM s8),
         |t AS (SELECT doc_id, unnest(w) AS word FROM toks)
         |SELECT doc_id, count(*)::BIGINT AS n_ws,
         |       sum(coalesce(u.units,
         |                    len(regexp_split_to_array(t.word, ''))))::BIGINT
         |         AS n_units
         |FROM t LEFT JOIN u USING (word)
         |WHERE word IS NOT NULL AND word <> ''
         |GROUP BY doc_id""".stripMargin,

    // L79: byte-level training chain — identical rounds over hex-pair
    // byte symbols (ASCII-only alphabet, so every engine's tie order is
    // bytewise by construction)
    "llm_bpe_bytes_merges" ->
      s"""${bpeChain(12, byteSeed = true)}
         |${(1 to 12).map(i =>
               s"SELECT $i AS merge_no, lhs, rhs, pc AS pair_count FROM b$i")
             .mkString("\nUNION ALL ")}""".stripMargin,

    // L79 encode: the 8 en-trained rules applied IN ORDER to every
    // distinct corpus word's byte seed — total, no vocabulary join
    "llm_bpe_bytes" ->
      s"""${bpeChain(8, "WHERE lang = 'en'", byteSeed = true)},
         |${bpeBytesEncodeChain(8)},
         |u AS (SELECT word, nb, len(string_split(sym, ' '))::BIGINT AS units FROM e8),
         |t AS (SELECT doc_id, unnest(w) AS word FROM toks)
         |SELECT doc_id, count(*)::BIGINT AS n_ws, sum(nb)::BIGINT AS n_bytes,
         |       sum(units)::BIGINT AS n_units
         |FROM t JOIN u USING (word)
         |WHERE word IS NOT NULL AND word <> ''
         |GROUP BY doc_id""".stripMargin,

    // per-lang rollup of the same en-trained byte-BPE encode: sums of
    // exact longs, ONE IEEE division for the rate — engine-identical
    "llm_bpe_compression" ->
      s"""${bpeChain(8, "WHERE lang = 'en'", byteSeed = true)},
         |${bpeBytesEncodeChain(8)},
         |u AS (SELECT word, nb, len(string_split(sym, ' '))::BIGINT AS units FROM e8),
         |t AS (SELECT doc_id, lang, unnest(w) AS word FROM toks)
         |SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs,
         |       sum(nb)::BIGINT AS n_bytes, sum(units)::BIGINT AS n_units,
         |       sum(nb)::DOUBLE / sum(units)::DOUBLE AS bytes_per_unit
         |FROM t JOIN u USING (word)
         |WHERE word IS NOT NULL AND word <> ''
         |GROUP BY lang""".stripMargin,

    "llm_shuffle_shards" ->
      """WITH h AS (SELECT doc_id, md5('42' || CAST(doc_id AS VARCHAR)) AS _h
        |           FROM documents),
        |r AS (SELECT doc_id,
        |             (ROW_NUMBER() OVER (ORDER BY _h, doc_id) - 1)::BIGINT AS rank
        |      FROM h)
        |SELECT doc_id, rank, CAST(rank % 8 AS INT) AS shard,
        |       (rank // 8)::BIGINT AS pos
        |FROM r""".stripMargin,

    // DSIR importance weights: the recursive-CTE replay of the exact
    // (mant, exp2) product fold — see dsirSql for the parity argument
    "llm_dsir" ->
      dsirSql("SELECT s.doc_id, r.n AS n_feats, s.e AS e2, s.m AS mant"),

    "llm_dsir_select" ->
      (dsirSql("SELECT s.doc_id, s.e AS e2, s.m AS mant") +
        "\nORDER BY s.e DESC, s.m DESC, s.doc_id LIMIT 100"),

    "llm_sample_strata" ->
      s"""WITH $toksCte,
         |h AS (SELECT doc_id, lang,
         |             ('0x' || substr(md5(norm), 1, 15))::BIGINT % 10000 AS b
         |      FROM toks)
         |SELECT doc_id, lang FROM h
         |WHERE b < (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
         |           WHEN 'es' THEN 0.25 WHEN 'fr' THEN 1.0
         |           WHEN 'zh' THEN 0.1 ELSE 0.0 END) * 10000""".stripMargin,

    "w4_sessionize" ->
      """WITH s AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER (
        |                     PARTITION BY user_id ORDER BY ts)) > 1800000000
        |              THEN 1 ELSE 0 END AS nw
        |  FROM events),
        |s2 AS (
        |  SELECT user_id, ts, value,
        |         sum(nw) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM s)
        |SELECT user_id, session_no::BIGINT AS session_no,
        |       epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
        |       count(*) AS n_events,
        |       round((sum(value::DECIMAL(18,6))::DOUBLE)::VARCHAR::DECIMAL(38,23), 6)::DOUBLE AS total_value
        |FROM s2 GROUP BY 1, 2""".stripMargin,

    // brute-force inequality self-join over the same session set — the
    // ground truth the bucketed equi-join must reproduce exactly
    "j6_session_overlap" ->
      """WITH s AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER (
        |                     PARTITION BY user_id ORDER BY ts)) > 1800000000
        |              THEN 1 ELSE 0 END AS nw
        |  FROM events),
        |s2 AS (
        |  SELECT user_id, ts,
        |         sum(nw) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |g AS (
        |  SELECT user_id, sid, epoch_us(min(ts)) // 1000000 AS start_s,
        |         epoch_us(max(ts)) // 1000000 AS end_s
        |  FROM s2 GROUP BY 1, 2)
        |SELECT a.user_id, a.start_s, count(*) AS n_overlap
        |FROM g a JOIN g b
        |  ON a.user_id <> b.user_id
        | AND a.start_s <= b.end_s AND b.start_s <= a.end_s
        |GROUP BY 1, 2""".stripMargin,

    "p11_props_parse" ->
      """SELECT event_id, CAST(props::JSON->>'k' AS INTEGER) AS k FROM events""",

    "mm_decode_meta" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id, 'text/plain' AS mime,
        |         octet_length(encode(text))::BIGINT AS n_bytes, md5(text) AS checksum
        |  FROM documents),
        |d AS (SELECT *, ('0x' || substr(checksum, 1, 15))::BIGINT AS h FROM a)
        |SELECT asset_id, mime, n_bytes, checksum,
        |       (h % 624 + 16)::INT AS width,
        |       ((h // 1024) % 464 + 16)::INT AS height,
        |       (h % 16 + 1)::INT AS n_frames,
        |       ((h % 16) // 4 + 1)::INT AS n_sampled,
        |       (((h % 16) // 4) * 4)::INT AS last_frame
        |FROM d""".stripMargin,

    "mm_phash" ->
      """SELECT doc_id AS asset_id,
        |       ('0x' || substr(md5(text), 1, 15))::BIGINT AS phash,
        |       false AS decoded
        |FROM documents""".stripMargin)
}
