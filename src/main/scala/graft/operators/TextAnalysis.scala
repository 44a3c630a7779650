package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-row linear-model weight vector for [[TextAnalysis.qualityModel]]:
  * intercept + one weight per feature. A case class (not a Map) so the
  * broadcast side has a fixed schema the optimizer can see. */
final case class QualityWeights(w0: Double = -0.1, w_len: Double = 0.9,
                                w_stop: Double = -0.6, w_avg: Double = 0.05)

/** Text-analysis operators for the LLM-data-pipeline layer: token counting,
  * quality scoring, stopword-based language ID, and content fingerprinting.
  *
  * Every op is deterministic, pure column algebra with an exact DuckDB
  * equivalent (no transcendental functions whose libm rounding could differ
  * between engines — quality scoring is rational arithmetic only). At scale
  * these are embarrassingly parallel scans: no shuffle at all.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the heuristic language ID. Real
    * pipelines use n-gram models (fastText et al.); the *mechanism* — score
    * per language, argmax with a fixed priority — is what matters here. */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "is", "to", "in")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "zu", "ein")
  val StopwordsEs: Seq[String] = Seq("el", "la", "de", "y", "es", "en", "un")

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))

  /** Per-document statistics + a rational-arithmetic quality score:
    * `least(n_tokens/50, 1) * (1 - stopword_ratio)` — longer docs with less
    * stopword filler score higher. All ops exact-precision portable. */
  def stats(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val nTok = size(toks).cast("bigint")
    // total character count of the tokens themselves (normalized, spaces out)
    val alpha = length(regexp_replace(TextOps.normalize(col("text")), " ", ""))
    val stopRatio = hitCount(toks, StopwordsEn).cast("double") / nTok
    docs.select(
      col("doc_id"),
      length(col("text")).cast("bigint").as("n_chars"),
      nTok.as("n_tokens"),
      round(alpha.cast("double") / nTok, 6).as("avg_token_len"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(least(nTok.cast("double") / 50.0, lit(1.0)) * (lit(1.0) - stopRatio), 6)
        .as("quality"))
  }

  /** L37: model-based quality filtering — a linear classifier over the L8
    * feature vector (length saturation, stopword ratio, scaled average token
    * length) scored against a broadcast one-row weight vector: the shape of
    * a fastText/logistic-regression quality filter at scale. The model rides
    * a broadcast, the features are a shuffle-free scan, so scoring 100 TB is
    * embarrassingly parallel. Thresholding on the raw score (the logit) is
    * exactly equivalent to `sigmoid(score) >= p` — sigmoid is monotone — so
    * no transcendental enters the engine-portable arithmetic: the score is
    * a fixed left-associated chain of IEEE +/×/÷.
    *
    * Emits only the KEPT docs with their scores (the act step, like
    * [[graft.operators.CorpusPrep.clean]]). */
  def qualityModel(docs: DataFrame, weights: QualityWeights = QualityWeights(),
                   threshold: Double = 0.35): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = broadcast(Seq(weights).toDS().toDF())
    val toks = TextOps.tokens(col("text"))
    val nTok = size(toks).cast("bigint")
    val alpha = length(regexp_replace(TextOps.normalize(col("text")), " ", ""))
    val fLen = least(nTok.cast("double") / 50.0, lit(1.0))
    val fStop = hitCount(toks, StopwordsEn).cast("double") / nTok
    val fAvg = alpha.cast("double") / nTok / lit(10.0)
    docs
      .crossJoin(w)
      .withColumn("score",
        col("w0") + col("w_len") * fLen + col("w_stop") * fStop + col("w_avg") * fAvg)
      .filter(col("score") >= threshold)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
  }

  /** Heuristic language ID: stopword hit counts per language, fixed-priority
    * argmax (en > de > es), `und` when nothing matches. */
  def langId(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val en = hitCount(toks, StopwordsEn)
    val de = hitCount(toks, StopwordsDe)
    val es = hitCount(toks, StopwordsEs)
    docs.select(col("doc_id"), col("lang").as("lang_declared"),
      when(en >= de && en >= es && en > 0, "en")
        .when(de >= es && de > 0, "de")
        .when(es > 0, "es")
        .otherwise("und").as("lang_guess"))
  }

  /** GPT-2-family BPE *pre-tokenizer* pattern: contraction suffixes,
    * space-prefixed letter runs, digit runs, punctuation runs, whitespace
    * runs. The original's trailing-whitespace lookahead `\s+(?!\S)` is
    * dropped deliberately — RE2 (DuckDB) has no lookahead, and both engines
    * must tokenize identically for the oracle; alternation is
    * leftmost-first in both Java regex and RE2's Perl mode. */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token counting both ways a data pipeline needs it: whitespace words
    * (the cheap budget estimate) and BPE-style pre-tokens (the
    * tokenizer-faithful count), plus their ratio ("fertility" — pre-tokens
    * per word, a standard tokenizer-cost diagnostic). Shuffle-free scan;
    * the regex is applied once per document. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val nWs = size(TextOps.tokens(col("text"))).cast("bigint")
    val nBpe = size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
      .cast("bigint")
    docs.select(
      col("doc_id"),
      nWs.as("n_ws"),
      nBpe.as("n_bpe"),
      round(nBpe.cast("double") / nWs.cast("double"), 6).as("fertility"))
  }

  /** Corpus vocabulary: the `topV` most frequent tokens with a dense rank
    * (ties broken lexically, so the result is deterministic and
    * engine-portable). Scale shape: per-token counting map-side-combines
    * before its one shuffle, and the top-V cut is Spark's distributed
    * TakeOrdered (per-partition heaps, no global sort); only the final
    * V-row ranking window runs on a single (deliberate, tiny) task. */
  def vocab(docs: DataFrame, topV: Int): DataFrame = {
    require(topV > 0, s"topV must be positive, got $topV")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("tok"))
    docs.select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(topV)
      .withColumn("rank", row_number().over(w))
  }

  /** L31: vocabulary-coverage quality scoring — the cheap stand-in for
    * LM-perplexity filtering (CCNet-family): score each doc by how well a
    * top-V corpus vocabulary covers it. Emits per doc the token count, the
    * out-of-vocabulary count and ratio, and the median in-vocab token
    * frequency (a doc of rare-but-known words scores lower than one of
    * stopwords — the same signal direction as LM log-prob, with exact
    * integer/single-division arithmetic instead of a float sum, so it is
    * engine-portable).
    *
    * Scale: the vocabulary is bounded (V rows) and broadcast — the per-doc
    * pass is a broadcast left join + one groupBy(doc_id) shuffle; nothing
    * grows with corpus size except the linear token explosion. */
  def vocabCoverage(docs: DataFrame, topV: Int): DataFrame = {
    val v = vocab(docs, topV).select(col("tok"), col("freq"))
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .join(broadcast(v), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("freq").isNull, 1L).otherwise(0L)).as("n_oov"),
        round(sum(when(col("freq").isNull, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("oov_ratio"),
        round(expr("percentile(freq, 0.5)"), 6).as("med_freq"))
  }

  /** Gopher/RefinedWeb-family repetition signals: the fraction of duplicate
    * words and duplicate word-bigrams per document — high values flag
    * boilerplate/spam for quality filtering. The token and bigram arrays
    * are materialized in their OWN projection before the ratio expressions:
    * Catalyst does not eliminate common subexpressions across lambda
    * boundaries, so referencing the `transform` twice (size + distinct)
    * would tokenize every document twice. Shuffle-free scan. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val mat = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        transform(sequence(lit(1), greatest(size(col("w")) - 1, lit(1))),
          i => concat_ws(" ", slice(col("w"), i, lit(2)))).as("g"))
    val n = size(col("w")).cast("bigint")
    val ng = size(col("g")).cast("bigint")
    mat.select(
      col("doc_id"),
      n.as("n_tokens"),
      round((n - size(array_distinct(col("w"))).cast("bigint")).cast("double")
        / n, 6).as("dup_word_ratio"),
      when(n >= 2,
        round((ng - size(array_distinct(col("g"))).cast("bigint")).cast("double")
          / ng, 6))
        .otherwise(0.0).as("dup_bigram_ratio"))
  }

  /** 60-bit content fingerprint of the normalized text (portable MD5-derived
    * hash), plus the raw hex digest for exact-dedup joins. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val norm = TextOps.normalize(col("text"))
    docs.select(col("doc_id"), md5(norm).as("digest"),
      TextOps.hash60(norm).as("fp60"))
  }

  /** L33: BM25 relevance scoring of every document against a fixed query-term
    * set, top-k by score — the retrieval scorer behind quality-targeted data
    * selection (rank a corpus against a seed query, keep the best matches).
    *
    * Uses BM25's RATIONAL idf form `(N − df + 0.5) / (df + 0.5)` — i.e. the
    * argument of the usual `log(...)` idf. log is strictly monotone, so
    * per-term orderings are identical, and staying rational keeps every
    * arithmetic op a correctly-rounded IEEE +,−,×,÷ (bit-identical
    * cross-engine; libm's log is only 1-ulp-accurate and differs between
    * JVM and C runtimes — this module's no-transcendentals rule). Per-term
    * scores are rounded to 6 dp and summed as exact DECIMAL, so the
    * per-document total cannot depend on term arrival order.
    *
    * Scale shape: the query-term filter cuts the exploded token stream
    * BEFORE any aggregation, so the tf pass shuffles only matching postings
    * (|query| ≪ vocab); df is an aggregation OF the tf output (no second
    * corpus pass) and broadcasts (≤ |query| rows); N and avgdl are one
    * scalar row broadcast from the doc-length pass; the final top-k is a
    * TakeOrdered (per-partition heaps), never a global sort. Nothing grows
    * super-linearly in corpus size. */
  def bm25(docs: DataFrame, query: Seq[String], k: Int = 20): DataFrame = {
    require(query.nonEmpty, "query terms must be non-empty")
    // k1 = 1.2, b = 0.75 (the standard Okapi constants). Literals are spelled
    // the same in the DuckDB oracle: identical decimal numerals parse to
    // identical doubles.
    val dl = docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("bigint").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      // tok can't be null (explode of split), but the guard must be
      // EXPLICIT: `tf` feeds both the df-aggregation branch and the join
      // branch, the join infers isnotnull(tok) on its side only, and a
      // one-sided inferred filter makes the two Exchange subtrees differ —
      // defeating ReusedExchange and re-running the corpus token-explode
      // (the q20 lesson, same mechanism)
      // (doc_id likewise: the dl join infers its null guard on the join
      // branch only)
      .filter(col("doc_id").isNotNull && col("tok").isNotNull &&
        array_contains(array(query.map(lit): _*), col("tok")))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val tfd = col("tf").cast("double")
    val dfd = col("df").cast("double")
    val idf = (col("n_docs") - dfd + lit(0.5)) / (dfd + lit(0.5))
    val sat = (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))
    tf.join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), round(idf * sat, 6).as("score_t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("score_t").cast("decimal(18,6)")).cast("double").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  /** L40: bigram language-model fluency scoring — the CCNet-style
    * "perplexity filter" with the LM trained on the corpus ITSELF (so the
    * score ranks each document's n-gram typicality against the corpus, and
    * no external model rides along). For every adjacent token pair,
    * `P(b|a) = count(a,b) / count(a as context)`; a document's score is the
    * mean of its pairs' probabilities.
    *
    * No transcendentals (the house rule): mean probability is used instead
    * of mean log-probability — both rank "typical" above "atypical" text,
    * and every operation stays a correctly-rounded IEEE divide plus an
    * EXACT decimal sum of 6-dp-rounded probabilities, so the result is
    * independent of aggregation order and engine.
    *
    * Scale shape (three linear passes, all map-side combined):
    *  1. bigram counts: one hash aggregate over exploded adjacent pairs;
    *  2. context counts: re-aggregate the COMPACT bigram table on its first
    *     token (`count(a·) = Σ_b count(a,b)` exactly — no second corpus
    *     pass, and consistency with the numerator is by construction);
    *  3. scoring: equi-join exploded pairs back to the counts table on the
    *     bigram key — distinct-bigram cardinality, not corpus cardinality,
    *     bounds the build side.
    * Docs with fewer than two tokens have no bigrams and are not emitted. */
  /** L43: TF-IDF top terms per document — the per-doc keyword extractor
    * behind topic tagging and quality-targeted selection. Same rational
    * idf as [[bm25]] (`(N − df + 0.5)/(df + 0.5)` — the monotone no-log
    * form, so every op is a correctly-rounded IEEE +,−,×,÷). Ranking is a
    * per-doc `row_number` window — partitioned by doc_id, so groups stay
    * tiny and parallel at any corpus size; df re-aggregates the tf output
    * (one corpus pass), N is one broadcast scalar. Explicit null guards
    * keep the tf subtree canonically identical for both its consumers (the
    * q20/bm25 ReusedExchange lesson). */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .filter(col("doc_id").isNotNull)
    val nDocs = toks.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = toks.select(col("doc_id"), explode(col("w")).as("tok"))
      .filter(col("doc_id").isNotNull && col("tok").isNotNull)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val dfd = col("df").cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
    tf.join(broadcast(df), "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * ((col("n_docs") - dfd + lit(0.5)) / (dfd + lit(0.5))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("tok").as("term"), col("tf"), col("score"), col("rank"))
  }

  /** L44: PMI collocation mining — the corpus's statistically-bound word
    * pairs (named entities, idioms, templated boilerplate), the standard
    * phrase-discovery pass before tokenizer training. Score is the
    * monotone rational PMI `cab·U²/(B·ca·cb)` (U = unigram total, B =
    * bigram total — log being monotone, the no-transcendentals rule
    * applies), with a min-count floor killing the unstable singleton tail.
    * Scale shape: two map-side-combined hash aggregates (bigrams,
    * unigrams), each computed ONCE — every later reference (totals,
    * both join sides) resolves to a ReusedExchange of its shuffle, so
    * the corpus scans exactly twice, column-pruned to `text` (verified
    * in the adaptive plan; a repartition barrier A/B'd slower — one
    * scan saved never pays for a full token-array shuffle); totals
    * re-aggregate the COMPACT count tables (no second corpus pass);
    * the final join keys on the min-count-filtered bigram table; top-k is
    * a distributed TakeOrdered, never a global sort. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5, k: Int = 20): DataFrame = {
    require(minCount >= 1 && k > 0, s"bad minCount=$minCount/k=$k")
    val toks = docs.select(TextOps.tokens(col("text")).as("w"))
    val pairs = toks.filter(size(col("w")) >= 2)
      .select(explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (x, y) => struct(x.as("t1"), y.as("t2")))).as("pr"))
      .select(col("pr.t1").as("t1"), col("pr.t2").as("t2"))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
    val cb = pairs.groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("cab"))
    val cu = toks.select(explode(col("w")).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = cu.agg(sum(col("c")).cast("double").as("ut"))
      .crossJoin(cb.agg(sum(col("cab")).cast("double").as("bt")))
    // bigram/unigram count tables are TYPE-scale (Heaps-growing) and
    // stats-blind: pin the unigram sides as shuffled builds
    cb.filter(col("cab") >= minCount)
      .join(cu.select(col("tok").as("t1"), col("c").as("c1"))
        .hint("shuffle_hash"), "t1")
      .join(cu.select(col("tok").as("t2"), col("c").as("c2"))
        .hint("shuffle_hash"), "t2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi",
        col("cab").cast("double") * col("ut") * col("ut") /
          (col("bt") * col("c1").cast("double") * col("c2").cast("double")))
      .orderBy(col("pmi").desc, col("t1"), col("t2")).limit(k)
      .select(col("t1"), col("t2"), col("cab"), col("pmi"))
  }

  /** L67: BPE merge training — the first k merge rules of byte-pair
    * encoding learned from the corpus (Sennrich et al. 2016), the
    * tokenizer-training pass a data pipeline runs before anything else
    * consumes token ids. Each round finds the most frequent adjacent
    * symbol pair (count-weighted over the DISTINCT-word table, ties
    * broken lexicographically) and fuses it corpus-wide via a
    * left-to-right non-overlapping fold — the textbook algorithm.
    *
    * Scale shape: the corpus is read ONCE into the word-frequency table
    * (map-side-combined groupBy, bounded by VOCABULARY not corpus size);
    * each round is then one explode+agg over that compact table plus a
    * string fold, with the chosen pair the round's only driver state
    * (k pairs total — the kmeans-centroid pattern). State is
    * localCheckpoint'd per round so lineage stays flat. Symbols live in
    * a space-delimited string (tokens cannot contain whitespace after
    * [[TextOps.tokens]]), and the fold rule `acc endsWith " l" && x == r
    * → acc ++ r` is non-overlap by construction: a merged symbol
    * contains no space, so it can never left-anchor a second merge in
    * the same pass. */
  def bpeMerges(docs: DataFrame, k: Int = 3, textCol: String = "text"): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    bpeTrain(docs, k, textCol)._2.toDF("merge_no", "lhs", "rhs", "pair_count")
  }

  /** L68: encode the corpus with the tokenizer [[bpeMerges]] just learned —
    * per document, the whitespace token count and the BPE-unit count after
    * k merges (the learned tokenizer's fertility, the number a token-budget
    * planner actually consumes). All-integer. Scale shape: the trained
    * word→units table is vocabulary-bounded, so the token→units lookup is
    * one join against a compact side (broadcast-able at any corpus SF) and
    * the per-doc rollup one map-side-combined agg. */
  def bpeEncode(docs: DataFrame, k: Int = 3, textCol: String = "text"): DataFrame =
    bpeEncodeWith(docs, bpeTrain(docs, k, textCol)._1, textCol)

  /** [[bpeEncode]] against an ALREADY-TRAINED word state (the first half
    * of [[bpeTrain]]'s result) — the merges+encode workflow trains once.
    * Words ABSENT from the training vocabulary fall back to their
    * character count (an untrained word encodes symbol-per-character —
    * no merge rule has ever fused any of its pairs), so encoding a corpus
    * different from the training one counts every word instead of
    * silently dropping out-of-vocabulary ones. */
  def bpeEncodeWith(docs: DataFrame, trained: DataFrame,
                    textCol: String = "text"): DataFrame = {
    val units = trained
      .select(col("word"), size(split(col("sym"), " ")).cast("long").as("units"))
    docs.select(col("doc_id"), explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
      .join(units, Seq("word"), "left")
      .withColumn("units", coalesce(col("units"),
        size(filter(split(col("word"), ""), x => x =!= lit(""))).cast("long")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("units")).as("n_units"))
  }

  /** L77: interpolated Kneser–Ney bigram fluency scoring — the smoothing
    * that n-gram LM filtering actually ships (Kneser & Ney 1995; Chen &
    * Goodman 1999): absolute discounting of the bigram MLE with the
    * discounted mass re-routed to the CONTINUATION unigram (how many
    * distinct contexts a word follows — "francisco" is frequent but
    * follows only "san", so its continuation probability is tiny, which
    * is the whole point vs raw-frequency backoff):
    *
    *   P(b|a) = max(c(a,b) − d, 0)/c(a·) + (d·N1+(a·)/c(a·)) · (N1+(·b)/B)
    *
    * with d = 0.75 and B the distinct-bigram-type count. Per-doc score =
    * mean of per-pair probabilities, the [[lmScore]] number discipline:
    * 6-dp-rounded probs summed as EXACT DECIMAL, one IEEE division, no
    * final re-round; the probability itself is a fixed left-associated
    * double chain both engines replay identically (no log, no exp).
    *
    * Scale shape: two map-side-combined aggregations over bigram keys
    * (the [[lmScore]] shapes), the context/continuation tables
    * vocabulary-bounded, B a one-row broadcast; scoring is one join of
    * the doc pairs against the vocabulary-bounded model. */
  def lmScoreKn(docs: DataFrame, d: Double = 0.75): DataFrame = {
    require(d > 0 && d < 1, s"discount must be in (0,1), got $d")
    // token arrays in their OWN projection (lambda-CSE rule)
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val pairs = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
    val cab = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .localCheckpoint() // feeds four aggregates below
    val ca = cab.groupBy(col("a"))
      .agg(sum(col("cab")).as("ca"), count(lit(1)).as("n1a"))
    val ctx = cab.groupBy(col("b")).agg(count(lit(1)).as("ctxb"))
    val tot = cab.agg(count(lit(1)).cast("double").as("bt"))
    // every model-assembly table is n-gram-TYPE-scale (Heaps-growing, NOT
    // bounded at 100 TB) and stats-blind below the explode/checkpoint:
    // pin each join shuffled so Catalyst never broadcasts a vocab-squared
    // table — or, worse, the corpus-scale pair stream — off a bogus
    // estimate (B stays the one-row broadcast it should be)
    val model = cab.join(ca.hint("shuffle_hash"), "a")
      .join(ctx.hint("shuffle_hash"), "b").crossJoin(broadcast(tot))
      .select(col("a"), col("b"),
        ((greatest(col("cab").cast("double") - lit(d), lit(0.0))
            / col("ca").cast("double"))
          + ((lit(d) * col("n1a").cast("double")) / col("ca").cast("double"))
            * (col("ctxb").cast("double") / col("bt"))).as("p"))
    pairs.join(model.hint("shuffle_hash"), Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(round(col("p"), 6).cast("decimal(27,6)")).cast("double") /
          count(lit(1))).as("score"))
      .select(col("doc_id"), col("n_pairs"), col("score"))
  }

  /** L75: TRAINED quality/domain classifier — a batch perceptron over
    * the L8 feature vector, weak-supervised by a metadata label (here:
    * lang == 'en'), the fastText/LR-classifier curation stage
    * (GPT-3/LLaMA-style "quality classifier") with every transcendental
    * engineered OUT so training is engine-replayable bit-for-bit:
    *
    *  - features live on the 6-dp DECIMAL grid (the silhouette
    *    discipline), all in [0, 1];
    *  - the update is the BATCH rule w += Σ_misclassified y·x with
    *    integer learning rate 1 — an exact decimal sum, so the result
    *    cannot depend on row order or partitioning (specs prove
    *    repartition-invariance); sigmoid/exp never appears (Math.exp is
    *    not correctly rounded and WOULD diverge across engines — the
    *    reason this is a perceptron and not logistic regression);
    *  - misclassification tests are pure decimal sign comparisons,
    *    written as per-class predicates (y=1 ∧ m<=0) ∨ (y=-1 ∧ m>=0) so
    *    no int×wide-decimal product can overflow Spark's precision-38
    *    adjustment into silent rounding.
    *
    * Scale shape: driver state is the 4-element weight vector (the
    * kmeans-centroid pattern); each epoch is ONE filter+aggregate over
    * the localCheckpoint'd feature table — embarrassingly parallel,
    * map-side-combined, O(epochs) tiny jobs. Output: every doc with its
    * label, final margin, and prediction. */
  def perceptronQuality(docs: DataFrame, epochs: Int = 4): DataFrame = {
    require(epochs >= 1 && epochs <= 64, s"epochs must be in [1,64], got $epochs")
    val toks = TextOps.tokens(col("text"))
    val nTok = size(toks).cast("bigint")
    val alpha = length(regexp_replace(TextOps.normalize(col("text")), " ", ""))
    val stopRatio = hitCount(toks, StopwordsEn).cast("double") / nTok
    val feats = docs.select(
        col("doc_id"),
        when(col("lang") === "en", 1).otherwise(-1).as("y"),
        lit(java.math.BigDecimal.ONE).cast("decimal(12,6)").as("x0"),
        round(least(nTok.cast("double") / 50.0, lit(1.0)), 6)
          .cast("decimal(12,6)").as("x1"),
        round(stopRatio, 6).cast("decimal(12,6)").as("x2"),
        round(least(alpha.cast("double") / nTok / 10.0, lit(1.0)), 6)
          .cast("decimal(12,6)").as("x3"))
      .localCheckpoint() // scanned epochs+1 times; keep lineage flat
    val w = Array.fill(4)(java.math.BigDecimal.ZERO)
    def wl(i: Int) = lit(w(i)).cast("decimal(18,6)")
    def margin =
      wl(0) * col("x0") + wl(1) * col("x1") + wl(2) * col("x2") + wl(3) * col("x3")
    def misclassified =
      (col("y") === 1 && margin <= 0) || (col("y") === -1 && margin >= 0)
    for (_ <- 1 to epochs) {
      val upd = feats.filter(misclassified)
        .agg(sum(col("y") * col("x0")).as("d0"), sum(col("y") * col("x1")).as("d1"),
          sum(col("y") * col("x2")).as("d2"), sum(col("y") * col("x3")).as("d3"))
        .first()
      for (i <- 0 until 4)
        if (!upd.isNullAt(i)) w(i) = w(i).add(upd.getDecimal(i))
    }
    feats.select(col("doc_id"), col("y"),
      margin.cast("double").as("margin"),
      when(margin >= 0, 1).otherwise(-1).as("pred"))
  }

  /** L74: blocklist tagging — total occurrence count of a phrase
    * blocklist per document (the C4 "bad words" screen and every
    * compliance/safety phrase filter), via ONE Aho–Corasick pass
    * ([[graft.functions.BlocklistHits]], a native whole-stage-codegen
    * expression). Counts are per-position exact: overlapping occurrences
    * and phrases nested inside longer matches all count, so the number
    * is engine-replayable by brute-force position probing. Per-row cost
    * is O(chars), independent of blocklist size — the scale property a
    * regex alternation lacks. Shuffle-free scan; docs with zero hits are
    * dropped (the common case at scale — emit nothing for clean docs). */
  def blocklistHits(docs: DataFrame, patterns: Seq[String]): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.BlocklistHits(col("text"), patterns).as("hits"))
      .filter(col("hits") > 0)

  /** L74b: blocklist SCRUB — the curation action behind the tag: every
    * character inside any blocklist match span is masked
    * (offset-preserving, the PII/contamination convention) and, in the
    * second column, removed. Union-of-spans semantics via the same
    * automaton as [[blocklistHits]] with per-node longest-match collapse
    * ([[graft.functions.BlocklistScrub]]); both variants stay native
    * codegen expressions, so the scan is shuffle-free and per-row cost is
    * independent of blocklist size. All docs are emitted (clean docs pass
    * through unchanged — the scrub is a map, not a filter). NULL text
    * scrubs to '' — the curation convention (and the oracle's coalesce):
    * a missing document body carries no spans and no residue. */
  def blocklistScrub(docs: DataFrame, patterns: Seq[String]): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    docs.select(col("doc_id"),
      graft.functions.BlocklistScrub(t, patterns).as("masked_text"),
      graft.functions.BlocklistScrub(t, patterns, remove = true)
        .as("scrubbed_text"))
  }

  /** L73 (training): WordPiece-style vocabulary — every single character
    * plus the `topV` most frequent multi-character substrings (length
    * 2..maxPiece) of the corpus's words, occurrence-weighted by word
    * frequency, ties broken lexically. The frequency-ranked-substring
    * seeding is the WordPiece/unigram-LM initialization (Schuster &
    * Nakajima 2012; Kudo 2018); singles guarantee the greedy encoder is
    * TOTAL (every word segments, no UNK escape needed).
    *
    * Scale shape: candidate pieces explode off the vocabulary-bounded
    * word-frequency table (<= maxPiece × word-length rows per DISTINCT
    * word, never per corpus token); the top-V cut is distributed
    * TakeOrdered (per-partition heaps), no global sort, no window. */
  def wordpieceVocab(docs: DataFrame, topV: Int = 200, maxPiece: Int = 6,
                     textCol: String = "text"): DataFrame = {
    require(topV >= 0, s"topV must be >= 0, got $topV")
    require(maxPiece >= 2, s"maxPiece must be >= 2, got $maxPiece")
    val words = docs
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val starts = words.select(col("word"), col("cnt"),
      explode(sequence(lit(0), length(col("word")) - 1)).as("i"))
    val top = starts
      .filter(length(col("word")) - col("i") >= 2)
      .select(col("word"), col("cnt"), col("i"),
        explode(sequence(lit(2),
          least(lit(maxPiece), length(col("word")) - col("i")))).as("l"))
      .select(col("word").substr(col("i") + 1, col("l")).as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("freq"))
      .orderBy(col("freq").desc, col("piece")).limit(topV)
      .select(col("piece"))
    val singles = starts
      .select(col("word").substr(col("i") + 1, lit(1)).as("piece")).distinct()
    top.unionAll(singles).distinct()
  }

  /** The largest piece vocabulary a tokenizer collects to the driver. */
  private[graft] val MaxVocabRows: Int = 4000000

  /** Refuse a vocabulary frame above `maxRows` rows BEFORE anything
    * collects it: the size probe reads at most `maxRows + 1` rows, so a
    * non-vocabulary frame fed by mistake fails here, not as a driver OOM. */
  private[graft] def requireVocabBounded(vocab: DataFrame, maxRows: Int,
                                         what: String): Unit =
    require(vocab.limit(maxRows + 1).count() <= maxRows,
      s"$what unexpectedly large (over $maxRows rows) — not vocabulary-bounded")

  /** L73 (encoding): greedy longest-match-first segmentation of every
    * word under a piece vocabulary — the WordPiece/BERT tokenizer
    * (Schuster & Nakajima 2012; Devlin et al. 2019), the OTHER tokenizer
    * family beside BPE ([[bpeEncode]]): instead of replaying merge
    * rules, each position consumes the longest vocabulary piece that
    * matches there. Emits per document the whitespace-token count and
    * the piece count (the tokenizer's fertility). Positions no
    * vocabulary piece matches advance by one character (an unknown char
    * costs one unit), keeping the encoder total on corpora the
    * vocabulary never saw.
    *
    * Scale shape: the vocabulary is BOUNDED BY CONSTRUCTION (topV + one
    * row per distinct character, [[wordpieceVocab]]), so it is collected
    * once, broadcast, and the greedy walk runs as ONE mapPartitions pass
    * over the DISTINCT-word table (Heaps-bounded word-type scale) —
    * O(wordLen · maxPiece) hash probes per word, no joins, no doubling
    * rounds. The only corpus-scale stages are the token explosion and
    * the per-doc rollup (both map-side-combined single shuffles); the
    * word→pieces attach is pinned `shuffle_hash` (the typed output is
    * stats-blind — the measured broadcast trap). The original
    * pointer-doubling walk is kept as
    * [[wordpieceEncodePointerDoubling]], the spec reference
    * TextAnalysisSpec proves this pass equivalent to. */
  def wordpieceEncode(docs: DataFrame, vocab: DataFrame, maxPiece: Int = 6,
                      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // materialized once: the size probe and the collect both read the
    // checkpoint, not the corpus-scale vocabulary plan twice
    val vocabCp = vocab.select(col("piece")).localCheckpoint()
    requireVocabBounded(vocabCp, MaxVocabRows, "wordpiece vocabulary")
    val pieces = vocabCp.as[String].collect()
    val bc = spark.sparkContext.broadcast(pieces.toSet)
    val docWords = docs
      .select(col("doc_id"), explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
    val nPieces = docWords.select(col("word")).distinct().as[String]
      .mapPartitions { it =>
        val v = bc.value
        it.map(w => (w, greedyPieceCount(w, v, maxPiece)))
      }.toDF("word", "np")
    docWords.join(nPieces.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("np")).as("n_pieces"))
  }

  /** The per-word greedy walk (the [[wordpieceEncode]] kernel): positions
    * are CODEPOINTS (Spark/DuckDB substr semantics); at each position the
    * longest vocabulary piece (l = min(maxPiece, remaining)..1, first
    * hit) is consumed, unknown positions advance one codepoint for one
    * unit. Identical semantics to the pointer-doubling jump table's
    * `max(l)` + `coalesce(bl, 1)` — proven row-for-row in
    * TextAnalysisSpec. */
  private[graft] def greedyPieceCount(w: String, vocab: Set[String],
                                      maxPiece: Int): Long = {
    val cps = w.codePoints.toArray
    val n = cps.length
    require(n <= 4096,
      s"pathological word of $n chars — not natural-language input")
    var i = 0
    var np = 0L
    while (i < n) {
      var bl = 1
      var l = if (maxPiece < n - i) maxPiece else n - i
      var found = false
      while (l >= 1 && !found) {
        if (vocab.contains(new String(cps, i, l))) { bl = l; found = true }
        l -= 1
      }
      i += bl
      np += 1L
    }
    np
  }

  /** SPEC REFERENCE — the original Spark-first greedy walk without a
    * driver loop: the per-word walk (pos → pos + bestLen(pos)) is a
    * FUNCTIONAL GRAPH, so the positions a word's greedy path visits are
    * computed by POINTER DOUBLING — O(log maxWordLen) self-join rounds
    * of the jump table (with the word end made absorbing so compositions
    * past the end stay total), doubling the covered path length each
    * round. All frames in the loop are bounded by (distinct words × word
    * length). Superseded in the query path by [[wordpieceEncode]]'s
    * broadcast-vocab mapPartitions walk (measured: ~an order of
    * magnitude fewer jobs and less CPU); kept so TextAnalysisSpec can
    * prove the two walks emit identical rows on arbitrary corpora. */
  private[graft] def wordpieceEncodePointerDoubling(
      docs: DataFrame, vocab: DataFrame, maxPiece: Int = 6,
      textCol: String = "text"): DataFrame = {
    val docWords = docs
      .select(col("doc_id"), explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
    val words = docWords.select(col("word")).distinct()
      .withColumn("wl", length(col("word"))).localCheckpoint(true)
    val maxRow = words.agg(max(col("wl"))).first()
    if (maxRow.isNullAt(0)) // no non-empty token anywhere: empty report
      return docWords.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ws"), sum(lit(0L)).as("n_pieces"))
    val maxLen = maxRow.getInt(0)
    require(maxLen <= 4096,
      s"pathological word of $maxLen chars — not natural-language input")
    val pos = words.select(col("word"), col("wl"),
      explode(sequence(lit(0), col("wl") - 1)).as("i"))
    val matched = pos
      .select(col("word"), col("i"),
        explode(sequence(lit(1), least(lit(maxPiece), col("wl") - col("i")))).as("l"))
      .withColumn("piece", col("word").substr(col("i") + 1, col("l")))
      .join(vocab.select(col("piece")), Seq("piece"))
      .groupBy(col("word"), col("i")).agg(max(col("l")).as("bl"))
    // jump table with the absorbing end row (word, wl, wl) so the r-fold
    // composition is total for paths that finish early.
    // Join strategy note: every word-keyed frame below is WORD-TYPE-scale
    // (Heaps-bounded, but 1e8+ types on a web-scale corpus) or, for
    // docWords, CORPUS-scale — and several are localCheckpoint'd RDDs
    // whose stats Catalyst doesn't know, which at 10× made it BROADCAST
    // the corpus-scale side (measured). shuffle_hash hints pin every one
    // of these joins to a shuffled hash join building the bounded side;
    // only the vocab join (genuinely small, topV+chars rows) broadcasts.
    var jump = pos.join(matched.hint("shuffle_hash"), Seq("word", "i"), "left")
      .select(col("word"), col("i"),
        (col("i") + coalesce(col("bl"), lit(1))).as("j"))
      .unionAll(words.select(col("word"), col("wl").as("i"), col("wl").as("j")))
      .localCheckpoint(true)
    var front = words.select(col("word"), lit(0).as("i")).localCheckpoint(true)
    var covered = 1L // F covers paths of < `covered` jumps; J jumps 2^r
    while (covered - 1 < maxLen) {
      front = front.unionAll(
          front.join(jump.hint("shuffle_hash"), Seq("word", "i"))
            .select(col("word"), col("j").as("i")))
        .distinct().localCheckpoint(true)
      covered *= 2
      if (covered - 1 < maxLen) {
        jump = jump
          .join(jump.select(col("word"), col("i").as("j"), col("j").as("j2"))
            .hint("shuffle_hash"), Seq("word", "j"))
          .select(col("word"), col("i"), col("j2").as("j"))
          .localCheckpoint(true)
      }
    }
    val nPieces = front.join(words.hint("shuffle_hash"), "word")
      .filter(col("i") < col("wl"))
      .groupBy(col("word")).agg(count(lit(1)).as("np"))
    docWords.join(nPieces.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("np")).as("n_pieces"))
  }

  /** The shared BPE trainer: (post-k-merges word state `(word, cnt,
    * sym)`, merge rules) — call once, feed both [[bpeMerges]]-shaped
    * reporting and [[bpeEncodeWith]].
    *
    * TWO physical paths, one semantics (ScalaCheck-proven equivalent):
    *
    *  - **bounded-vocabulary fast path** (the production shape for real
    *    merge counts): the word-frequency table is vocabulary-bounded —
    *    measured by `count()`, never guessed — and when it fits the
    *    `maxDriverVocab` budget it is collected ONCE and the k merge
    *    rounds run driver-side with pair-delta updates (an inverted
    *    pair→words index; each round touches only the words containing
    *    the fused pair). k=32,000 costs ONE Spark job + O(corpus-chars)
    *    driver work instead of 32k distributed rounds — the same
    *    bounded-probe pattern as Similarity's smallCorpus collect.
    *  - **distributed round loop** for vocabularies past the budget:
    *    each round one explode+agg over the compact word table plus a
    *    non-overlapping string fold, driver state = k rules.
    */
  def bpeTrain(docs: DataFrame, k: Int, textCol: String = "text",
               maxDriverVocab: Long = 4000000L,
               byteLevel: Boolean = false)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val seed =
      if (byteLevel) byteSymSeed(col("word"))
      else concat_ws(" ", filter(split(col("word"), ""), x => x =!= lit("")))
    var state = docs
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"), seed.as("sym"))
      .localCheckpoint(true)
    // bounded probe: a MEASURED vocabulary size decides the path (the
    // localCheckpoint above already materialized the table, so this
    // count is metadata-cheap)
    if (state.count() <= maxDriverVocab) return bpeTrainDriver(state, k)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var done = false
    for (i <- 1 to k if !done) {
      val arr = split(col("sym"), " ")
      val best = state
        .select(col("cnt"), explode(zip_with(
          slice(arr, lit(1), size(arr) - 1), slice(arr, lit(2), size(arr) - 1),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("pr"))
        .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("lhs"), col("rhs"))
        .limit(1).collect() // ONE row — the round's merge rule
      if (best.isEmpty) done = true
      else {
        val l = best(0).getString(0)
        val r = best(0).getString(1)
        val pc = best(0).getLong(2)
        merges += ((i, l, r, pc))
        state = state.select(col("word"), col("cnt"),
          ltrim(aggregate(split(col("sym"), " "), lit(""),
            (acc, x) => when(acc.endsWith(lit(" " + l)) && x === lit(r),
              concat(acc, x)).otherwise(concat(acc, lit(" "), x)))).as("sym"))
          .localCheckpoint(true)
      }
    }
    (state, merges.result())
  }

  /** Byte-level symbol seed: the word's UTF-8 bytes as uppercase hex
    * pairs ("E3 81 82"), space-delimited — the GPT-2/tiktoken base
    * alphabet ([[bpeTrain]]'s `byteLevel` path). Hex pairs (not raw
    * bytes) because `sym` lives in a STRING column and arbitrary bytes
    * are not valid UTF-8; two-hex-digit symbols compare bytewise in the
    * same order on Spark, the driver trainer's UTF-8 comparator, and the
    * DuckDB oracle (pure-ASCII alphabet), so merge tie-breaks agree
    * everywhere by construction. */
  private[operators] def byteSymSeed(word: Column): Column =
    array_join(
      regexp_extract_all(hex(encode(word, "UTF-8")), lit(".."), lit(0)), " ")

  /** Apply already-learned merge rules to a symbol column, IN LEARNED
    * ORDER, each exhaustively left-to-right non-overlapping — the
    * textbook BPE *encoder* (Sennrich et al. 2016 apply-BPE; the
    * in-order pass reproduces the trainer's state exactly for training
    * words, because training IS this fold applied round by round). One
    * chained column expression per rule: k rules = k codegen'd folds
    * over a word-TYPE-scale frame, no joins, no shuffles. */
  private def bpeApplySym(sym: Column,
                          merges: Seq[(Int, String, String, Long)]): Column =
    merges.sortBy(_._1).foldLeft(sym) { case (acc0, (_, l, r, _)) =>
      ltrim(aggregate(split(acc0, " "), lit(""),
        (acc, x) => when(acc.endsWith(lit(" " + l)) && x === lit(r),
          concat(acc, x)).otherwise(concat(acc, lit(" "), x))))
    }

  /** L79: byte-level BPE merge training — [[bpeMerges]] with UTF-8 BYTES
    * as the base alphabet (the GPT-2/tiktoken tokenizer family; Radford
    * et al. 2019 §2.2). Same trainer, same driver/distributed paths,
    * same tie-break discipline; `lhs`/`rhs` are uppercase-hex byte-run
    * symbols. */
  def bpeMergesBytes(docs: DataFrame, k: Int = 3,
                     textCol: String = "text"): DataFrame = {
    val session = docs.sparkSession
    import session.implicits._
    bpeTrain(docs, k, textCol, byteLevel = true)._2
      .toDF("merge_no", "lhs", "rhs", "pair_count")
  }

  /** L79 (encode): byte-level BPE encoding of a corpus under
    * already-learned merge rules — TOTAL BY CONSTRUCTION: every word is
    * its UTF-8 byte sequence before any rule applies, so there is no
    * out-of-vocabulary concept and no fallback path at all (the
    * byte-fallback property production tokenizers are built on). Per
    * document: whitespace tokens, UTF-8 bytes, and BPE units after the
    * rules.
    *
    * Scale shape: rule application runs once per DISTINCT word
    * (Heaps-bounded word-type-scale, never corpus-scale), as k chained
    * in-order folds — no joins in the apply, and the word→units lookup
    * join back to the corpus is pinned `shuffle_hash` (the typed/agg
    * side is stats-blind; the measured broadcast trap). The only
    * corpus-scale stages are the token explosion and the per-doc rollup,
    * both map-side-combined single shuffles. */
  def bpeEncodeBytes(docs: DataFrame,
                     merges: Seq[(Int, String, String, Long)],
                     textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the rules are driver state already (k pairs); the per-word replay is
    // ONE mapPartitions pass over the distinct-word table — the trainer's
    // own fuse loop ([[bpeTrainDriver]]), replacing k chained interpreted
    // `aggregate` folds (ArrayAggregate is CodegenFallback) with k array
    // scans per word. The expression path is kept as
    // [[bpeEncodeBytesExpr]]; BpeBytesSpec proves them identical.
    val ms = merges.sortBy(_._1).map(m => (m._2, m._3)).toArray
    val docWords = docs
      .select(col("doc_id"), explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
    val units = docWords.select(col("word")).distinct().as[String]
      .map { w =>
        // Java getBytes(UTF_8) substitutes '?' for unpaired surrogates —
        // the same REPLACE conversion UTF8String.fromString applied when
        // the row was stored, so these bytes ARE the stored word's bytes
        // (octet_length parity, pinned in BpeBytesSpec's surrogate test)
        val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var syms = new scala.collection.mutable.ArrayBuffer[String](b.length)
        var i = 0
        while (i < b.length) { syms += f"${b(i) & 0xff}%02X"; i += 1 }
        var r = 0
        while (r < ms.length) {
          val l = ms(r)._1
          val rr = ms(r)._2
          // non-overlapping left-to-right fuse — the fold's semantics
          val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == rr) {
              out += (l + rr); j += 2
            } else { out += syms(j); j += 1 }
          }
          syms = out
          r += 1
        }
        (w, b.length.toLong, syms.length.toLong)
      }.toDF("word", "nb", "units")
    docWords.join(units.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("nb")).as("n_bytes"),
        sum(col("units")).as("n_units"))
  }

  /** SPEC REFERENCE — the original expression-tree form of
    * [[bpeEncodeBytes]]: seed via [[byteSymSeed]], k chained
    * [[bpeApplySym]] folds in the plan. Superseded in the query path by
    * the mapPartitions replay above (ArrayAggregate is a CodegenFallback,
    * so the k folds ran interpreted with O(len²) string rebuilding per
    * fold); kept so BpeBytesSpec can prove the two paths identical on
    * arbitrary corpora. */
  private[graft] def bpeEncodeBytesExpr(docs: DataFrame,
                                        merges: Seq[(Int, String, String, Long)],
                                        textCol: String = "text"): DataFrame = {
    val docWords = docs
      .select(col("doc_id"), explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
    val units = docWords.select(col("word")).distinct()
      .withColumn("sym", bpeApplySym(byteSymSeed(col("word")), merges))
      .select(col("word"), octet_length(col("word")).cast("long").as("nb"),
        size(split(col("sym"), " ")).cast("long").as("units"))
    docWords.join(units.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("nb")).as("n_bytes"),
        sum(col("units")).as("n_units"))
  }

  /** The bounded-vocabulary BPE trainer: one collect of the (word, cnt,
    * sym) table, then k merge rounds driver-side with PAIR-DELTA updates —
    * an inverted pair→words index so each round touches only the words
    * containing the fused pair, and a lazy-invalidation max-heap so best-
    * pair selection is O(log n) amortized instead of a full rescan. The
    * selection order (count DESC, lhs, rhs) and the non-overlapping
    * left-to-right fuse are EXACTLY the distributed round's semantics
    * (PropertiesSpec proves equivalence on arbitrary corpora); the initial
    * `sym` strings are collected, not re-derived, so the character split
    * is bit-identical to the distributed one. */
  private def bpeTrainDriver(state0: DataFrame, k: Int)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    val spark = state0.sparkSession
    import spark.implicits._
    import scala.collection.mutable
    val rows = state0.select(col("word"), col("cnt"), col("sym"))
      .as[(String, Long, String)].collect()
    val cnts = rows.map(_._2)
    val syms: Array[mutable.ArrayBuffer[String]] =
      rows.map(r => mutable.ArrayBuffer.from(r._3.split(" ")))

    val counts = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // tie order must be the DISTRIBUTED path's: Spark string orderBy (and
    // the DuckDB oracle) compare UTF-8 BINARY, which diverges from Java's
    // String.compareTo (UTF-16 code units) for supplementary-plane
    // symbols vs [U+E000, U+FFFF] — compare the encoded bytes unsigned
    def utf8Cmp(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // max-heap by (count, then UTF-8-SMALLEST pair); entries are
    // snapshots — stale ones are skipped on pop by re-checking `counts`
    implicit val ord: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c
          else {
            val l = utf8Cmp(b._2, a._2) // smaller lhs = "greater" (popped first)
            if (l != 0) l else utf8Cmp(b._3, a._3)
          }
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)]

    def bump(p: (String, String), delta: Long,
             changed: mutable.HashSet[(String, String)]): Unit = {
      val nc = counts.getOrElse(p, 0L) + delta
      if (nc == 0L) counts.remove(p) else counts(p) = nc
      changed += p
    }
    def eachPair(i: Int)(f: ((String, String)) => Unit): Unit = {
      val s = syms(i); var j = 0
      while (j + 1 < s.length) { f((s(j), s(j + 1))); j += 1 }
    }

    val init = mutable.HashSet.empty[(String, String)]
    for (i <- syms.indices) eachPair(i) { p =>
      bump(p, cnts(i), init)
      index.getOrElseUpdate(p, mutable.HashSet.empty) += i
    }
    init.foreach(p => counts.get(p).foreach(c => heap.enqueue((c, p._1, p._2))))

    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      // pop to the first non-stale entry
      var best: (Long, String, String) = null
      while (best == null && heap.nonEmpty) {
        val e = heap.dequeue()
        if (counts.get((e._2, e._3)).contains(e._1)) best = e
      }
      if (best == null) exhausted = true
      else {
        val (pc, l, r) = best
        merges += ((round, l, r, pc))
        val p = (l, r)
        val changed = mutable.HashSet.empty[(String, String)]
        val affected = index.remove(p).getOrElse(mutable.HashSet.empty)
        for (i <- affected) {
          eachPair(i)(q => bump(q, -cnts(i), changed))
          // non-overlapping left-to-right fuse — the fold's semantics
          val s = syms(i)
          val out = mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < s.length) {
            if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
              out += (l + r); j += 2
            } else { out += s(j); j += 1 }
          }
          syms(i) = out
          eachPair(i) { q =>
            bump(q, cnts(i), changed)
            index.getOrElseUpdate(q, mutable.HashSet.empty) += i
          }
        }
        changed.foreach(q =>
          counts.get(q).foreach(c => heap.enqueue((c, q._1, q._2))))
        round += 1
      }
    }
    val outState = rows.indices
      .map(i => (rows(i)._1, cnts(i), syms(i).mkString(" ")))
      .toDF("word", "cnt", "sym")
    (outState, merges.result())
  }

  def lmScore(docs: DataFrame): DataFrame = {
    // token arrays in their OWN projection (lambda-CSE rule)
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val pairs = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
    val cab = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    // bigram/context tables are n-gram-TYPE-scale (Heaps-growing) and
    // stats-blind: pinned shuffled builds, never a coincidental broadcast
    val bi = cab.join(ca.hint("shuffle_hash"), "a")
      .select(col("a"), col("b"),
        (col("cab").cast("double") / col("ca")).as("p"))
    pairs.join(bi.hint("shuffle_hash"), Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(round(col("p"), 6).cast("decimal(27,6)")).cast("double") /
          count(lit(1))).as("score"))
      // NO final 6-dp round: the mean is already bit-reproducible (exact
      // decimal sum, one IEEE division), and re-rounding it can land on a
      // representable half-way tie where the engines' round() disagree
      .select(col("doc_id"), col("n_pairs"), col("score"))
  }

  /** L46: n-gram novelty scoring — the memorization-risk metric: the
    * fraction of a document's distinct word n-grams that appear NOWHERE
    * else in the corpus (`df == 1`). A low-novelty document is mostly
    * re-assembled from phrases the model will see many times anyway
    * (boilerplate, templates, near-dups that slipped every pairwise
    * net); corpus-prep pipelines drop or down-weight them.
    *
    * Shape: one exploded-postings pass → per-shingle df (map-side
    * combined), one join back, one per-doc aggregation — the standard
    * inverted-index scan, no pair expansion at all, so cost is linear in
    * total shingle volume at any corpus size. Docs too short to shingle
    * are absent (they carry no n-gram evidence either way). */
  def novelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val posts = Dedup.shingleSets(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val df = posts.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // the df table is shingle-TYPE-scale (corpus-growing) and stats-blind:
    // pinned shuffled build against the posting stream
    posts.join(df.hint("shuffle_hash"), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_shingles")).as("novelty"))
  }

  /** L40b: Jelinek-Mercer interpolated bigram LM score —
    * `P̂(b|a) = λ·P(b|a) + (1−λ)·P(b)`, the standard smoothing that keeps
    * unseen-in-context bigrams from zeroing a document's score (every
    * bigram in scope HAS a bigram count here, but the unigram mix still
    * re-ranks repetitive vs diverse continuations). Same shape and
    * numeric discipline as [[lmScore]]: three linear passes (bigram
    * counts, context totals, unigram totals), the corpus token count on a
    * one-row broadcast, per-pair probability rounded to 6 dp and summed
    * as exact decimal so the per-doc mean is arrival-order-free. */
  def lmScoreInterp(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val pairs = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
      .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
    val cab = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val uni = docs.select(explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val nt = broadcast(uni.agg(sum(col("cu")).as("nt")))
    // same n-gram-TYPE-scale discipline as lmScore: pinned shuffled builds
    val bi = cab.join(ca.hint("shuffle_hash"), "a")
      .select(col("a"), col("b"), (col("cab").cast("double") / col("ca")).as("pb"))
    pairs.join(bi.hint("shuffle_hash"), Seq("a", "b"))
      .join(uni.withColumnRenamed("t", "b").hint("shuffle_hash"), Seq("b"))
      .crossJoin(nt)
      .withColumn("p",
        lit(lambda) * col("pb")
          + lit(1.0 - lambda) * (col("cu").cast("double") / col("nt")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(round(col("p"), 6).cast("decimal(27,6)")).cast("double") /
          count(lit(1))).as("score"))
      .select(col("doc_id"), col("n_pairs"), col("score"))
  }

  /** L51: curriculum phase assignment — the CCNet move (head/middle/tail
    * by model score) over the L8 quality score: exact TERCILE thresholds
    * from an aggregated histogram, then a broadcast threshold join.
    *
    * SCALE SHAPE (why no global sort/rank): the histogram's domain is the
    * FIXED 6-dp grid of [0, 1] — ≤ 10⁶+1 rows at ANY corpus size — so
    * the one unpartitioned cumulative window runs over a bounded
    * aggregate, never corpus rows (the a9 equidepth argument, on the
    * PlanGuard allowlist). Thresholds are integer-exact
    * (`cum·3 ≥ N` ⟺ `cum ≥ N/3` without division), the phase CASE is a
    * grid comparison — fully deterministic, ties resolved by the grid
    * itself. */
  def curriculumBuckets(docs: DataFrame): DataFrame = {
    val scored = stats(docs).select(col("doc_id"), col("quality"))
    val hist = scored.groupBy(col("quality")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("quality"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val n = broadcast(scored.agg(count(lit(1)).as("n")))
    val th = broadcast(cum.crossJoin(n).agg(
      min(when(col("cum") * 3 >= col("n"), col("quality"))).as("t1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("quality"))).as("t2")))
    scored.crossJoin(th)
      .select(col("doc_id"), col("quality"),
        when(col("quality") <= col("t1"), "tail")
          .when(col("quality") <= col("t2"), "middle")
          .otherwise("head").as("phase"))
  }

  /** Gopher's 8 high-frequency English words: a document with fewer than 2
    * DISTINCT hits is flagged as non-natural-language (Rae et al. 2021,
    * MassiveText filtering, table A1). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** L47: Gopher-style quality-RULE bundle — the boolean per-rule verdicts
    * a filtering pipeline audits (vs [[stats]]/[[qualityModel]], which
    * emit scores): word count in [10, 100000], mean word length in
    * [3, 10], ≥ 2 distinct Gopher stopwords, duplicate-word ratio ≤ 0.5
    * (bounds adapted to the synthetic corpus' scale from MassiveText's
    * 50-word / symbol-ratio originals). `keep` = every rule passes.
    * Shuffle-free scan: each rule is exact arithmetic on one token array
    * materialized once (the lambda-CSE rule), so 100 TB filters at full
    * scan speed with per-rule rejection counts one aggregation away. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val mat = docs.select(col("doc_id"),
      TextOps.normalize(col("text")).as("norm"),
      TextOps.tokens(col("text")).as("wtok"))
    val n = size(col("wtok")).cast("bigint")
    val meanLen = length(regexp_replace(col("norm"), " ", "")).cast("double") / n
    val dupRatio = (n - size(array_distinct(col("wtok"))).cast("bigint"))
      .cast("double") / n
    val rWc = n.between(10L, 100000L)
    val rMean = meanLen.between(3.0, 10.0)
    val rStop = size(array_intersect(col("wtok"),
      array(GopherStops.map(lit): _*))) >= 2
    val rDup = dupRatio <= 0.5
    mat.select(col("doc_id"),
      rWc.as("r_wordcount"), rMean.as("r_meanlen"),
      rStop.as("r_stop"), rDup.as("r_dup"),
      (rWc && rMean && rStop && rDup).as("keep"))
  }

  /** L48: winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
    * 2003) — TRUE winnowing: hash every POSITIONAL `k`-word shingle, and
    * from each window of `w` consecutive hashes select its MINIMUM
    * (rightmost position on hash ties — identical grams hash equal, so
    * ties are real), deduplicating selections across overlapping windows.
    *
    * THE GUARANTEE (and why the rule must be argmin-per-window, not
    * "position is its own trailing-window min": the latter can select
    * NOTHING inside a run of increasing hashes, where every trailing
    * window's min lies before the run): any shared substring of
    * ≥ `w+k−1` words contains at least one FULL gram window; that
    * window's content — hashes and relative tie order — is identical in
    * both documents, so both select the same gram. Proved as a
    * ScalaCheck property (PropertiesSpec). Selection density ≈ 2/(w+1).
    *
    * Shape: positional shingling explodes to |tokens| rows; ONE
    * doc-partitioned window pass computes each window's min; the argmin
    * position is recovered with an equi-join on (doc, hash = window-min)
    * plus the in-window range predicate — selective (only positions
    * carrying that exact hash join) and doc-local, so cost stays linear
    * in corpus size with no pair expansion. */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 2, s"need k >= 1, w >= 2, got $k/$w")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val mat = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("wtok"))
      .select(col("doc_id"),
        when(size(col("wtok")) >= k,
          transform(sequence(lit(1), size(col("wtok")) - (k - 1)),
            i => concat_ws(" ", slice(col("wtok"), i, lit(k)))))
          .otherwise(array().cast("array<string>")).as("sh"))
    // r17 note: checkpointing `posed` (it feeds the window pass AND the
    // argmin join) was MEASURED and reverted — summed task CPU stayed
    // flat (9.1 → 9.2 s at sf0.1): the double tokenize+shingle+hash pass
    // costs less than materializing O(corpus tokens) rows, unlike the
    // nearDupMinhash case where the shared frame is per-doc sets.
    val posed = mat
      .select(col("doc_id"), posexplode(col("sh")).as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).cast("bigint").as("pos"),
        TextOps.hash60(col("g")).as("h"))
    val mwin = posed
      .select(col("doc_id").as("m_doc"), col("pos").as("i"),
        min(col("h")).over(win.rowsBetween(-(w - 1), 0)).as("mn"))
      .filter(col("i") >= w)
    // both sides are corpus-TOKEN-scale and stats-blind (post-Generate):
    // pin the argmin-recovery join shuffled on its equi keys
    mwin.hint("shuffle_hash").join(posed,
        col("m_doc") === col("doc_id") && col("h") === col("mn") &&
          col("pos").between(col("i") - (w - 1), col("i")))
      .groupBy(col("doc_id"), col("i"), col("mn"))
      .agg(max(col("pos")).as("pos")) // rightmost tie, the SIGMOD'03 rule
      .select(col("doc_id"), col("pos"), col("mn").as("fp"))
      .distinct()
  }

  /** L58: tokenizer fertility by corpus slice — the per-(lang, source)
    * BPE-to-word ratio every multilingual data-mix decision consults
    * (a high-fertility slice costs proportionally more of the token
    * budget). Aggregate fertility = Σbpe/Σws computed as a sign-free
    * integer HALF_UP division of exact long sums — no float round
    * anywhere. One skinny aggregate shuffle. */
  def fertilityByLang(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(tokenCounts(docs), "doc_id")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("sum_ws"),
        sum(col("n_bpe")).as("sum_bpe"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("sum_ws"), col("sum_bpe"),
        // the ×2e6 scale-up runs in DECIMAL(38,0): a BIGINT product would
        // overflow silently once a (lang, source) slice passes ~4.6e12 BPE
        // tokens — plausible at the 100 TB corpus scale this targets
        (expr("(cast(sum_bpe as decimal(38,0)) * 2000000 + sum_ws)" +
          " div (2 * cast(sum_ws as decimal(38,0)))")
          .cast("double") / 1000000.0).as("fertility"))

  /** L64: vocabulary growth curve (Heaps' law) — distinct-type count after
    * each `step`-doc checkpoint, in doc_id ingest order. A healthy corpus
    * grows types sublinearly (Heaps Vᵦ, β≈0.5–0.7); a curve that bends
    * UP betrays synthetic/templated floods, one that flatlines betrays
    * mass duplication — the cheap dedup-health diagnostic before any
    * pairwise machinery runs.
    *
    * Scale shape: each type contributes ONE row at its first-occurrence
    * checkpoint (`min(doc_id)` per token — one map-side-combined shuffle
    * on the token key), then the cumulative sum runs over ≤ #checkpoints
    * rows on a deliberately tiny task. No per-doc×vocab expansion. `step`
    * IS the scale valve: it bounds that final task at #docs/step rows, so
    * a 100 TB corpus wants step in the millions (the gate's step=1 exists
    * only because the tiny fixture's vocab saturates in a few docs). */
  def heapsCurve(docs: DataFrame, step: Long = 100L): DataFrame =
    heapsCurveFromFirstOcc(firstOccurrence(docs), step)

  /** The per-token first-occurrence set `(tok, first_doc)` — heapsCurve's
    * shuffle stage, exposed because it is the MERGEABLE summary the
    * streaming ledger twin (T27) maintains: min(doc_id) per token is
    * associative, commutative and idempotent, so per-batch partials
    * rolled up with another min converge to this exact set for any batch
    * split or replay. */
  def firstOccurrence(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))

  /** Curve tail over an already-built first-occurrence set (≤ vocab rows,
    * then ≤ #checkpoints rows under the window — the bounded final task). */
  def heapsCurveFromFirstOcc(firstOcc: DataFrame, step: Long): DataFrame = {
    require(step >= 1, s"step must be >= 1, got $step")
    val w = Window.orderBy(col("checkpoint"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstOcc
      // checkpoint C covers doc_ids [0, C): first_doc d lands at the next
      // step multiple above it
      .select((expr(s"first_doc div $step") * step + step).as("checkpoint"))
      .groupBy(col("checkpoint")).agg(count(lit(1)).as("new_types"))
      .select(col("checkpoint"), col("new_types"),
        sum(col("new_types")).over(w).as("vocab_size"))
  }

  /** L62: length-bucket padding report — the dynamic-batching planner's
    * input. Docs are truncated to `maxLen` whitespace tokens and assigned
    * to the next `step`-multiple bucket; per bucket: doc count, real token
    * mass, padded mass (`bucket · n_docs`) and the padding waste ratio a
    * fixed-shape batch of that bucket would burn. Length bucketing is how
    * training loaders cut pad-token waste (uniform batching wastes
    * `1 − mean/max` of every batch) — this report prices the bucket grid.
    * Pure integer arithmetic to one final division; one map-side-combined
    * aggregate on ~`maxLen/step` keys — shuffle-free at any corpus size. */
  def lengthBuckets(docs: DataFrame, step: Int = 32, maxLen: Int = 512): DataFrame = {
    require(step >= 1 && maxLen >= step && maxLen % step == 0,
      s"need maxLen a positive multiple of step, got step=$step maxLen=$maxLen")
    docs
      .select(least(size(TextOps.tokens(col("text"))), lit(maxLen)).as("t"))
      .select(col("t"), (expr(s"(t + ${step - 1}) div $step") * step).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"))
      .select(col("bucket").cast("long").as("bucket"), col("n_docs"),
        col("sum_tokens"),
        (col("bucket").cast("long") * col("n_docs")).as("padded"),
        round(lit(1.0) - col("sum_tokens").cast("double")
          / (col("bucket").cast("long") * col("n_docs")), 6).as("pad_waste"))
  }
}
