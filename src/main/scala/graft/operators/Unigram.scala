package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One Viterbi DP input row: word (with corpus frequency `cnt`), end
  * position `e` (1-based, codepoints), and the candidate piece
  * probabilities `ps` where `ps(l-1)` is the model probability of the
  * length-`l` piece ENDING at `e` (0.0 if not in the vocabulary; the
  * length-1 slot is floored so the DP is total). */
final case class UniCand(word: String, cnt: Long, e: Int, ps: Array[Double])

/** One decoded word: the Viterbi-best segmentation's piece count and the
  * piece lengths in order (codepoints). */
final case class UniPath(word: String, cnt: Long, n_pieces: Long, lens: Array[Int])

/** A trained unigram model in collected, broadcastable form: piece
  * probabilities (each ONE IEEE division of exact integers — the same
  * operands [[Unigram.withProbs]] divides), the unknown-single floor 1/T,
  * and the longest word the probability-domain DP can decode without
  * underflow (`maxWordLen` — the largest L with L·log10(pFloor) > −300,
  * the log evaluated DRIVER-side once so no transcendental ever touches
  * the data path). The model is vocabulary-bounded by construction
  * (≤ topV + one row per distinct character), so collecting it is the
  * bounded-state pattern every broadcast in this family already relies
  * on. */
final case class UniModel(p: Map[String, Double], pFloor: Double,
                          maxWordLen: Int)

/** Unigram language-model tokenizer (SentencePiece, Kudo 2018) — the third
  * production subword family beside BPE ([[TextAnalysis.bpeTrain]]) and
  * WordPiece ([[TextAnalysis.wordpieceVocab]]): pieces carry PROBABILITIES
  * and a word's tokenization is the maximum-likelihood segmentation, found
  * by Viterbi DP. Training is hard-EM (Viterbi-EM): E-step = decode every
  * word under the current model, M-step = re-estimate piece probabilities
  * from decoded usage, prune the vocabulary, repeat. The reference pipeline
  * tokenizes per-document text for token accounting (the same surface the
  * L58/L62 reports consume); this supplies the tokenizer the unigram way.
  *
  * NUMERIC PARITY (the no-transcendentals rule, see [[TextAnalysis.bm25]]):
  * the textbook DP maximizes Σ log p — but libm's log is only
  * 1-ulp-accurate and differs between engines, so this DP runs in the
  * PROBABILITY domain instead: `best(e) = max_l best(e-l) · p(piece)`.
  * Every candidate is ONE IEEE-754 multiplication of two exactly-agreed
  * doubles (each p is one division of exact integers), and log is strictly
  * monotone, so the argmax is the textbook argmax — bit-identical on any
  * IEEE engine, including the DuckDB recursive-CTE oracle. Ties take the
  * LONGEST piece (both sides pin it). Products can only underflow on
  * pathological words: `best(e) ≥ pFloor^e` (singles are always in the
  * vocabulary), so the driver guard `maxWordLen · log10(pFloor) > −300`
  * (log driver-side only, not in the data path) plus the in-fold
  * `require(best > 0)` make the bound loud, and IEEE subnormal arithmetic
  * below 1e-308 remains deterministic on both engines.
  *
  * Scale shape: every training frame is WORD-TYPE-scale (Heaps-bounded
  * distinct words), never corpus-scale — the per-word DP rides the
  * word-frequency table. The model is vocabulary-bounded by construction
  * (≤ topV + alphabet rows), so it is collected ONCE per round
  * ([[collectModel]] — the bounded-probe pattern of
  * [[TextAnalysis.bpeTrain]]'s driver path) and BROADCAST; the DP then
  * runs as one mapPartitions pass over the word table
  * ([[viterbiLocal]]) — no candidate explosion, no model join, no
  * collect_list shuffle, O(wordLen · maxPiece) hash probes per word.
  * (The original distributed DP — candidate explosion + broadcast-model
  * join + sorted-group fold — is kept as [[viterbi]], the spec reference
  * UnigramSpec proves the local pass equivalent to.) Word-type-scale
  * join sides are pinned `shuffle_hash` (the measured
  * stats-blind-broadcast trap, see [[TextAnalysis.wordpieceEncode]]).
  * The only corpus-scale stages are the initial token count and the final
  * per-doc rollup — both map-side-combined single shuffles.
  */
object Unigram {

  /** Distinct words with corpus frequencies (the Heaps-bounded table every
    * training frame rides). */
  private[graft] def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Seed vocabulary with occurrence-weighted frequencies: every single
    * character (totality) plus the `topV` most frequent substrings of
    * length 2..maxPiece (ties lexical) — the frequency-seeded
    * initialization of SentencePiece (Kudo 2018 §3; same seeding family as
    * [[TextAnalysis.wordpieceVocab]]). Output: (piece, used). */
  private[graft] def seedModel(words: DataFrame, topV: Int, maxPiece: Int): DataFrame = {
    val sf = words
      .select(col("word"), col("cnt"),
        explode(sequence(lit(0), length(col("word")) - 1)).as("i"))
      .select(col("word"), col("cnt"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPiece), length(col("word")) - col("i")))).as("l"))
      .select(col("word").substr(col("i") + 1, col("l")).as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("used"))
    val singles = sf.filter(length(col("piece")) === 1)
    val mult = sf.filter(length(col("piece")) >= 2)
      .orderBy(col("used").desc, col("piece")).limit(topV)
    singles.unionAll(mult)
  }

  /** Normalize a (piece, used) model to probabilities: one driver scalar
    * for the total (the model is vocabulary-bounded), p = used/T as ONE
    * IEEE division of exact integers. Returns (model with `p`, pFloor)
    * where pFloor = 1/T is the unknown-single floor. */
  private[graft] def withProbs(model: DataFrame): (DataFrame, Double) = {
    val r = model.agg(sum(col("used"))).first()
    require(!r.isNullAt(0) && r.getLong(0) > 0,
      "empty unigram model — no training tokens")
    val t = r.getLong(0)
    (model.withColumn("p", col("used").cast("double") / lit(t.toDouble)),
      1.0 / t.toDouble)
  }

  /** Collect a vocabulary-bounded (piece, used) model to its broadcastable
    * [[UniModel]] form: p = used/T as ONE IEEE division of exact integers
    * (identical operands to [[withProbs]]'s column division, so the two
    * paths are bit-equal), pFloor = 1/T. The collect is bounded by
    * construction (≤ topV + one row per distinct character); the bound
    * is checked BEFORE the collect, so a non-model frame fed by mistake is
    * refused without ever reaching the driver. */
  private[graft] def collectModel(model: DataFrame,
                                  maxRows: Int = TextAnalysis.MaxVocabRows): UniModel = {
    val piecesUsed = model.select(col("piece"), col("used"))
    TextAnalysis.requireVocabBounded(piecesUsed, maxRows, "unigram model")
    val rows = piecesUsed.collect()
    var t = 0L
    rows.foreach(r => t += r.getLong(1))
    require(rows.nonEmpty && t > 0, "empty unigram model — no training tokens")
    val td = t.toDouble
    val pFloor = 1.0 / td
    // underflow bound: best(e) >= pFloor^e, so decoding is safe while
    // len · log10(pFloor) > -300 (the original driver-probe condition,
    // solved for len ONCE here — boundary-exact by the correction loops)
    val g = math.log10(pFloor)
    val maxWordLen =
      if (g >= 0.0) Int.MaxValue
      else {
        var lim = math.min(math.floor(-300.0 / g), Int.MaxValue.toDouble).toLong
        while (lim > 0 && lim * g <= -300.0) lim -= 1
        while (lim < Int.MaxValue && (lim + 1) * g > -300.0) lim += 1
        lim.toInt
      }
    UniModel(
      rows.iterator.map(r => r.getString(0) -> (r.getLong(1).toDouble / td))
        .toMap,
      pFloor, maxWordLen)
  }

  /** Viterbi-decode every word under a COLLECTED model: one mapPartitions
    * pass over the word-type-scale table against the broadcast model —
    * the production decode path. Identical arithmetic to [[viterbi]]
    * (same candidate order l = 1..min(maxPiece, e), same IEEE multiply,
    * same `>=` longest-piece tie pin — UnigramSpec proves row-for-row
    * equality on random corpora incl. supplementary-plane codepoints).
    * The underflow guard is per-word against the model's precomputed
    * [[UniModel.maxWordLen]] — the identical condition the original
    * driver-side max-length probe checked, without the extra full pass
    * over the word table that probe cost (one whole corpus-derived
    * aggregation per encode call at scale). */
  private[graft] def viterbiLocal(words: DataFrame, m: UniModel,
                                  maxPiece: Int): Dataset[UniPath] =
    viterbiBroadcast(words, words.sparkSession.sparkContext.broadcast(m), maxPiece)

  /** [[viterbiLocal]] under a model the caller broadcast — and unpersists
    * once the decode is materialized. */
  private def viterbiBroadcast(words: DataFrame, bc: Broadcast[UniModel],
                               maxPiece: Int): Dataset[UniPath] = {
    val spark = words.sparkSession
    import spark.implicits._
    words.select(col("word"), col("cnt")).as[(String, Long)]
      .mapPartitions { it =>
        val mm = bc.value
        it.map { case (w, cnt) => decodeOne(w, cnt, mm, maxPiece) }
      }
  }

  /** The per-word probability-domain DP (the [[viterbiLocal]] kernel):
    * positions are CODEPOINTS (Spark/DuckDB substr semantics, the
    * [[mStep]] convention), candidates scan l ascending with `>=` so
    * equal-probability ties take the longest piece — the exact loop
    * [[viterbi]]'s sorted-group fold runs. */
  private[graft] def decodeOne(w: String, cnt: Long, m: UniModel,
                               maxPiece: Int): UniPath = {
    val cps = w.codePoints.toArray
    val n = cps.length
    require(n <= m.maxWordLen,
      s"word of $n chars risks probability-domain underflow at " +
        s"pFloor=${m.pFloor} — not natural-language input")
    val bests = new Array[Double](n + 1)
    val backs = new Array[Int](n + 1)
    bests(0) = 1.0
    var e = 1
    while (e <= n) {
      var b = -1.0
      var ls = 0
      val lm = if (maxPiece < e) maxPiece else e
      var l = 1
      while (l <= lm) {
        val piece = new String(cps, e - l, l)
        val pv = m.p.getOrElse(piece, if (l == 1) m.pFloor else 0.0)
        val v = bests(e - l) * pv
        if (v >= b) { b = v; ls = l } // l ascending: >= pins longest-piece ties
        l += 1
      }
      require(b > 0.0,
        s"viterbi probability underflowed to zero at position $e of '$w'")
      bests(e) = b
      backs(e) = ls
      e += 1
    }
    val rev = scala.collection.mutable.ArrayBuffer.empty[Int]
    var p = n
    while (p > 0) { rev += backs(p); p -= backs(p) }
    val lens = new Array[Int](rev.length)
    var i = 0
    while (i < lens.length) { lens(i) = rev(lens.length - 1 - i); i += 1 }
    UniPath(w, cnt, lens.length.toLong, lens)
  }

  /** Viterbi-decode every word under the model: max-probability
    * segmentation, ties to the longest piece. Candidate frames are
    * word-type-scale; the DP is the house sorted-group fold.
    *
    * SPEC REFERENCE — the original distributed decode (candidate
    * explosion + broadcast-model join + sorted-group fold), superseded in
    * the query paths by [[viterbiLocal]] (one mapPartitions pass under
    * the broadcast model — measured ~an order of magnitude fewer jobs and
    * less CPU). Kept so UnigramSpec can prove the two paths emit
    * identical rows on arbitrary corpora. */
  private[graft] def viterbi(words: DataFrame, model: DataFrame, maxPiece: Int,
                             pFloor: Double): Dataset[UniPath] = {
    val spark = words.sparkSession
    import spark.implicits._
    // underflow guard (driver-side log only): best(e) >= pFloor^e
    val maxRow = words.agg(max(length(col("word")))).first()
    if (maxRow.isNullAt(0)) return spark.emptyDataset[UniPath]
    val maxLen = maxRow.getInt(0)
    require(maxLen * math.log10(pFloor) > -300,
      s"word of $maxLen chars risks probability-domain underflow at " +
        s"pFloor=$pFloor — not natural-language input")
    val cand = words
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1), length(col("word")))).as("e"))
      .select(col("word"), col("cnt"), col("e"),
        explode(sequence(lit(1), least(lit(maxPiece), col("e")))).as("l"))
      .withColumn("piece", col("word").substr(col("e") - col("l") + 1, col("l")))
      // the model is genuinely vocabulary-bounded (<= topV + alphabet):
      // the one join here that SHOULD broadcast
      .join(broadcast(model.select(col("piece"), col("p"))), Seq("piece"), "left")
      .withColumn("pv",
        when(col("l") === 1, coalesce(col("p"), lit(pFloor)))
          .otherwise(coalesce(col("p"), lit(0.0))))
      .groupBy(col("word"), col("cnt"), col("e"))
      .agg(transform(array_sort(collect_list(struct(col("l"), col("pv")))),
        s => s.getField("pv")).as("ps"))
      .as[UniCand]
    cand.groupByKey(_.word).flatMapSortedGroups($"e") { (word, rows) =>
      val bests = scala.collection.mutable.ArrayBuffer(1.0)
      val backs = scala.collection.mutable.ArrayBuffer(0)
      var cnt = 0L
      rows.foreach { r =>
        cnt = r.cnt
        require(r.e == bests.length, s"non-contiguous DP position ${r.e} for '$word'")
        var b = -1.0
        var ls = 0
        var l = 1
        while (l <= r.ps.length) {
          val v = bests(r.e - l) * r.ps(l - 1)
          if (v >= b) { b = v; ls = l } // l ascending: >= pins longest-piece ties
          l += 1
        }
        require(b > 0.0,
          s"viterbi probability underflowed to zero at position ${r.e} of '$word'")
        bests += b
        backs += ls
      }
      val lens = List.newBuilder[Int]
      var p = bests.length - 1
      val rev = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (p > 0) { rev += backs(p); p -= backs(p) }
      var i = rev.length - 1
      while (i >= 0) { lens += rev(i); i -= 1 }
      val arr = lens.result().toArray
      Iterator.single(UniPath(word, cnt, arr.length.toLong, arr))
    }
  }

  /** M-step: decoded piece usage (weighted by word frequency) with an
    * add-one floor on singles (the UNK reserve — totality survives
    * pruning), multi-char pieces pruned to the `keepV` most used (ties
    * lexical). Piece extraction is by CODEPOINT (Spark/DuckDB substr
    * semantics), not UTF-16 units. Output: (piece, used). */
  private[graft] def mStep(decoded: Dataset[UniPath], singles: DataFrame,
                           keepV: Int): DataFrame = {
    val spark = decoded.sparkSession
    import spark.implicits._
    val used = decoded.flatMap { d =>
      val cps = d.word.codePoints.toArray
      var off = 0
      d.lens.iterator.map { l =>
        val s = new String(cps, off, l)
        off += l
        (s, d.cnt)
      }
    }.toDF("piece", "w").groupBy(col("piece")).agg(sum(col("w")).as("u"))
    val sf = singles.join(used.hint("shuffle_hash"), Seq("piece"), "left")
      .select(col("piece"), (coalesce(col("u"), lit(0L)) + 1L).as("used"))
    val mult = used.filter(length(col("piece")) >= 2)
      .orderBy(col("u").desc, col("piece")).limit(keepV)
      .select(col("piece"), col("u").as("used"))
    sf.unionAll(mult)
  }

  /** Train the unigram model: seed → `iters` hard-EM rounds (decode,
    * re-count, floor singles, prune to keepV). Output: (piece, used) —
    * exact integers (probabilities are derived at encode time). */
  def train(docs: DataFrame, topV: Int = 120, maxPiece: Int = 6,
            keepV: Int = 60, iters: Int = 1, textCol: String = "text"): DataFrame = {
    require(topV >= 0 && keepV >= 0, s"topV/keepV must be >= 0, got $topV/$keepV")
    require(maxPiece >= 2, s"maxPiece must be >= 2, got $maxPiece")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val words = wordTable(docs, textCol).localCheckpoint(true)
    var model = seedModel(words, topV, maxPiece).localCheckpoint(true)
    val singles = model.filter(length(col("piece")) === 1)
      .select(col("piece")).localCheckpoint(true)
    var i = 0
    while (i < iters) {
      // the round's model copies leave the executors once its decode and
      // re-count are materialized (the eager checkpoint)
      val bc = words.sparkSession.sparkContext.broadcast(collectModel(model))
      model = try mStep(viterbiBroadcast(words, bc, maxPiece), singles, keepV)
          .localCheckpoint(true)
        finally bc.unpersist()
      i += 1
    }
    model
  }

  /** Viterbi-encode a corpus under a trained (piece, used) model: per
    * document the whitespace-token count and the ML-segmentation piece
    * count (the [[TextAnalysis.wordpieceEncode]] report shape, so the two
    * tokenizer families compare head-to-head). */
  def encode(docs: DataFrame, model: DataFrame, maxPiece: Int = 6,
             textCol: String = "text"): DataFrame =
    encodeWith(docs, collectModel(model), maxPiece, textCol)

  /** [[encode]] under an ALREADY-COLLECTED model — the frozen-model
    * streaming contract ([[graft.streaming.Streams.unigramEncodeStream]]):
    * collect the vocabulary-bounded model once, encode every micro-batch
    * under it without re-reading the model frame per batch. */
  def encodeWith(docs: DataFrame, m: UniModel, maxPiece: Int = 6,
                 textCol: String = "text"): DataFrame = {
    val docWords = docs
      .select(col("doc_id"), explode(TextOps.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
    // derive the word table from docWords instead of re-tokenizing the
    // corpus a second time (one fewer corpus-scale explode pass)
    val words = docWords.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val np = viterbiLocal(words, m, maxPiece)
      .select(col("word"), col("n_pieces").as("np"))
    // np is word-type-scale and stats-blind (typed fold output): pin the
    // build side — NEVER let Catalyst broadcast the corpus-scale side
    docWords.join(np.hint("shuffle_hash"), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("np")).as("n_pieces"))
  }
}
