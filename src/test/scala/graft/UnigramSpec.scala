package graft

import graft.operators.Unigram
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer ([[Unigram]]) vs a driver-side textbook reference
  * (seed → Viterbi-EM → prune → encode in plain Scala collections, the
  * identical probability-domain DP and tie-breaks), plus the pinned
  * tie-break, pruning equivalence, usage conservation, and the underflow
  * guard. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // ---- tests ----

  test("distributed train+encode == textbook reference on random corpora") {
    val maxPiece = 4
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val alpha = "abcde"
      def word() = Seq.fill(1 + rnd.nextInt(9))(alpha(rnd.nextInt(alpha.length))).mkString
      val vocabWords = Seq.fill(12)(word())
      val texts = (1L to 30L).map(i =>
        i -> Seq.fill(3 + rnd.nextInt(10))(vocabWords(rnd.nextInt(vocabWords.size))).mkString(" "))
      val d = docs(texts: _*)
      val (topV, keepV) = (15, 8)

      val got = Unigram.encode(d, Unigram.train(d, topV, maxPiece, keepV), maxPiece)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val exp = RefUnigram.trainEncode(texts, topV, maxPiece, keepV)
      assert(got === exp, s"mismatch at seed $seed")
    }
  }

  test("trained multi-char pieces all carry usage >= 1 and conservation holds") {
    val texts = (1L to 20L).map(i => i -> s"alpha beta gamma alpha${i % 3}")
    val d = docs(texts: _*)
    val model = Unigram.train(d, topV = 30, maxPiece = 5, keepV = 10)
    val rows = model.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.filter(_._1.length >= 2).forall(_._2 >= 1L),
      "a kept multi-char piece must lie on at least one best path")
    // conservation: Σ used(multi) + Σ (used(single) − 1)  ==  Σ cnt·n_pieces
    // BEFORE the keepV cut — verify with keepV large enough to keep all
    val full = Unigram.train(d, topV = 30, maxPiece = 5, keepV = 10000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val lhs = full.map { case (p, u) => if (p.length >= 2) u else u - 1 }.sum
    // round-1 E-step decode = encode under the SEED model
    val seed = Unigram.seedModel(Unigram.wordTable(d, "text"), 30, 5)
    val perDoc = Unigram.encode(d, seed, 5)
      .agg(sum(col("n_pieces"))).first().getLong(0)
    assert(lhs === perDoc, "decoded piece mass must equal model usage mass")
  }

  test("pinned tie-break: equal-probability segmentations take the longest piece") {
    // model: a→2, b→1, aa→1, T=4: p(aa)=0.25 == p(a)² — a genuine tie;
    // the pinned tie-break (longest l) must pick [aa], one piece
    val model = Seq(("a", 2L), ("b", 1L), ("aa", 1L)).toDF("piece", "used")
    val out = Unigram.encode(docs(1L -> "aa"), model, maxPiece = 6).collect()
    assert(out.length === 1 && out(0).getLong(2) === 1L)
  }

  test("pruning equivalence: keepV beyond the used-multi count is a no-op") {
    val texts = (1L to 15L).map(i => i -> "delta echo foxtrot delta echo")
    val d = docs(texts: _*)
    val big = Unigram.train(d, topV = 40, maxPiece = 5, keepV = 100000)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val nMulti = big.count(_._1.length >= 2)
    val exact = Unigram.train(d, topV = 40, maxPiece = 5, keepV = nMulti)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(big === exact)
    // and an aggressive prune still yields a TOTAL encoder (singles floor)
    val pruned = Unigram.train(d, topV = 40, maxPiece = 5, keepV = 1)
    val enc = Unigram.encode(d, pruned, 5)
    assert(enc.count() === d.select(col("doc_id")).distinct().count())
  }

  test("cross-corpus encode is total: unknown chars take the 1/T floor") {
    // model trained on {a,b,c}-alphabet docs; encode text carrying 'z'
    // (never seen): the z single scores pFloor, the encoder stays total,
    // and known substrings still win their segments
    val train = docs(1L -> "abc abc ab", 2L -> "bca cab abc")
    val model = Unigram.train(train, topV = 10, maxPiece = 4, keepV = 5)
    val pieces = model.collect().map(_.getString(0)).toSet
    assert(!pieces.exists(_.contains("z")))
    val out = Unigram.encode(docs(10L -> "abz zzq abc"), model, maxPiece = 4)
      .collect()
    assert(out.length === 1 && out(0).getLong(1) === 3L)
    // every word segments (n_pieces >= n_ws, bounded by total chars)
    val np = out(0).getLong(2)
    assert(np >= 3L && np <= 9L)
  }

  test("viterbiLocal (broadcast-model mapPartitions) == viterbi (distributed DP)") {
    // the query paths decode via viterbiLocal; the original sorted-group
    // fold is the spec reference — row-for-row equality (word, cnt,
    // n_pieces, lens) on random corpora incl. supplementary-plane chars
    val maxPiece = 4
    for (seed <- Seq(3, 11, 29)) {
      val rnd = new scala.util.Random(seed)
      val alpha = Array("a", "b", "c", new String(Character.toChars(0x1D11E)),
        new String(Character.toChars(0x1F600)), "ß")
      def word() =
        Seq.fill(1 + rnd.nextInt(9))(alpha(rnd.nextInt(alpha.length))).mkString
      val texts = (1L to 25L).map(i =>
        i -> Seq.fill(2 + rnd.nextInt(8))(word()).mkString(" "))
      val d = docs(texts: _*)
      val words = Unigram.wordTable(d, "text").localCheckpoint(true)
      val model = Unigram.seedModel(words, 12, maxPiece).localCheckpoint(true)
      val (m, pFloor) = Unigram.withProbs(model)
      def norm(rows: Array[graft.operators.UniPath]) =
        rows.map(u => (u.word, u.cnt, u.n_pieces, u.lens.toSeq)).sortBy(_._1)
      val old = norm(Unigram.viterbi(words, m, maxPiece, pFloor).collect())
      val neu = norm(Unigram.viterbiLocal(words,
        Unigram.collectModel(model), maxPiece).collect())
      assert(neu === old, s"mismatch at seed $seed")
    }
  }

  test("underflow guard fails loudly on pathological input") {
    val model = Seq(("x", 1000000000000000000L)).toDF("piece", "used")
    val longWord = "x" * 400
    // the guard fires per-word inside the DP task (the driver-side
    // max-length probe and its extra word-table pass are gone) — Spark
    // wraps the task's IllegalArgumentException, so walk the cause chain
    val ex = intercept[Throwable] {
      Unigram.encode(docs(1L -> longWord), model, maxPiece = 6).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("underflow"), s"expected a loud underflow guard:\n$msgs")
  }

  test("underflow guard threshold: maxWordLen matches the probe condition exactly") {
    // collectModel's precomputed bound must equal the original probe's
    // predicate len·log10(pFloor) > -300 at the boundary
    val model = Seq(("x", 1000000000000000000L)).toDF("piece", "used")
    val m = Unigram.collectModel(model)
    assert(m.maxWordLen * math.log10(m.pFloor) > -300.0)
    assert((m.maxWordLen + 1) * math.log10(m.pFloor) <= -300.0)
    // a word AT the bound decodes; one past it fails
    val ok = "x" * m.maxWordLen
    assert(Unigram.decodeOne(ok, 1L, m, 6).n_pieces === m.maxWordLen.toLong)
    intercept[IllegalArgumentException] {
      Unigram.decodeOne("x" * (m.maxWordLen + 1), 1L, m, 6)
    }
  }

  test("an over-bound model is refused by its size probe") {
    // the bound is probed with limit(max + 1).count() before any collect
    def model(n: Int) = (1 to n).map(i => (s"p$i", i.toLong)).toDF("piece", "used")
    val ex = intercept[IllegalArgumentException](Unigram.collectModel(model(11), maxRows = 10))
    assert(ex.getMessage === "requirement failed: unigram model unexpectedly large " +
      "(over 10 rows) — not vocabulary-bounded")
    assert(Unigram.collectModel(model(10), maxRows = 10).p.size === 10)
  }

  test("empty corpus: encode yields no rows, train fails loudly") {
    val empty = docs(1L -> "   ")
    intercept[IllegalArgumentException] {
      Unigram.train(empty, 10, 4, 5).collect()
    }
  }
}

/** Plain-collections reference: the identical seed, probability-domain
  * Viterbi (ties → longest piece), singles add-one floor, keepV prune, and
  * encode — every float op in the same IEEE order as the operator. */
object RefUnigram {

  private def norm(s: String) = s.toLowerCase.trim.replaceAll("\\s+", " ")
  private def toks(s: String) = norm(s).split(" ").filter(_.nonEmpty)
  private def cpLen(s: String) = s.codePointCount(0, s.length)

  private def viterbi(word: String, p: Map[String, Double], pFloor: Double,
                      maxPiece: Int): Seq[String] = {
    val cps = word.codePoints.toArray
    val n = cps.length
    val best = Array.fill(n + 1)(0.0)
    val back = Array.fill(n + 1)(0)
    best(0) = 1.0
    for (e <- 1 to n) {
      var b = -1.0
      var ls = 0
      for (l <- 1 to math.min(maxPiece, e)) {
        val piece = new String(cps, e - l, l)
        val pr = if (l == 1) p.getOrElse(piece, pFloor) else p.getOrElse(piece, 0.0)
        val v = best(e - l) * pr
        if (v >= b) { b = v; ls = l }
      }
      require(b > 0.0)
      best(e) = b
      back(e) = ls
    }
    var pos = n
    var out = List.empty[String]
    while (pos > 0) {
      val l = back(pos)
      out = new String(cps, pos - l, l) :: out
      pos -= l
    }
    out
  }

  /** Train (seed → one hard-EM round → prune) then encode; returns per-doc
    * (doc_id, n_ws, n_pieces) sorted by doc_id. */
  def trainEncode(texts: Seq[(Long, String)], topV: Int, maxPiece: Int,
                  keepV: Int): Seq[(Long, Long, Long)] = {
    val words = texts.flatMap(t => toks(t._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    // seed
    val freq = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, c) <- words) {
      val cps = w.codePoints.toArray
      for (i <- cps.indices; l <- 1 to math.min(maxPiece, cps.length - i))
        freq.updateWith(new String(cps, i, l))(o => Some(o.getOrElse(0L) + c))
    }
    val singles = freq.keys.filter(cpLen(_) == 1).toSeq
    val topMult = freq.toSeq.filter(p => cpLen(p._1) >= 2)
      .sortBy { case (piece, f) => (-f, piece) }.take(topV)
    val m0 = singles.map(s => s -> freq(s)) ++ topMult
    def probs(m: Seq[(String, Long)]): (Map[String, Double], Double) = {
      val t = m.map(_._2).sum
      (m.map { case (k, u) => k -> u.toDouble / t.toDouble }.toMap, 1.0 / t.toDouble)
    }
    // one hard-EM round
    val (p0, f0) = probs(m0)
    val used = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, c) <- words; piece <- viterbi(w, p0, f0, maxPiece))
      used.updateWith(piece)(o => Some(o.getOrElse(0L) + c))
    val m1singles = singles.map(s => s -> (used.getOrElse(s, 0L) + 1L))
    val m1mult = used.toSeq.filter(p => cpLen(p._1) >= 2)
      .sortBy { case (piece, u) => (-u, piece) }.take(keepV)
    val (p1, f1) = probs(m1singles ++ m1mult)
    // encode
    texts.map { case (id, text) =>
      val ws = toks(text)
      (id, ws.length.toLong,
        ws.map(w => viterbi(w, p1, f1, maxPiece).length.toLong).sum)
    }.filter(_._2 > 0).sortBy(_._1)
  }
}
