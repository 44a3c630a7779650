package graft

import graft.operators.EditJoin
import org.apache.spark.sql.functions._

class EditJoinSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  /** Brute-force ground truth: all pairs, full levenshtein, i < j. */
  private def brute(d: org.apache.spark.sql.DataFrame, t: Int) = {
    val n = d.select(col("doc_id").as("id"),
      graft.operators.TextOps.normalize(col("text")).as("s"))
    n.select(col("id").as("i"), col("s").as("sa"))
      .crossJoin(n.select(col("id").as("j"), col("s").as("sb")))
      .filter(col("i") < col("j"))
      .withColumn("dist", levenshtein(col("sa"), col("sb")).cast("bigint"))
      .filter(col("dist") <= t)
      .select(col("i"), col("j"), col("dist"))
  }

  private def collectPairs(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("editDistJoin == brute force on a mutated random corpus (lossless candidates)") {
    // 40 base strings over a small alphabet + mutated twins: substitutions,
    // insertions, deletions at random positions — distances straddle t
    val rnd = new scala.util.Random(11)
    val alpha = "abcd e"
    def randStr(len: Int) = Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s.toVector
      (1 to edits).foreach { _ =>
        val pos = rnd.nextInt(math.max(cur.size, 1))
        rnd.nextInt(3) match {
          case 0 if cur.nonEmpty => cur = cur.updated(pos, alpha(rnd.nextInt(alpha.length)))
          case 1 => cur = (cur.take(pos) :+ alpha(rnd.nextInt(alpha.length))) ++ cur.drop(pos)
          case _ if cur.size > 1 => cur = cur.take(pos) ++ cur.drop(pos + 1)
          case _ => ()
        }
      }
      cur.mkString
    }
    val bases = (1L to 40L).map(i => i -> randStr(12 + rnd.nextInt(30)))
    val twins = bases.take(20).zipWithIndex.map { case ((i, s), k) =>
      (100L + i) -> mutate(s, 1 + k % 7) // <= 7 edits, around t = 5
    }
    val d = docs((bases ++ twins): _*)
    val t = 5
    val got = collectPairs(EditJoin.editDistJoin(d, t))
    val exp = collectPairs(brute(d, t))
    assert(exp.nonEmpty, "fixture must contain pairs within t")
    assert(got === exp)
  }

  test("multi-match-aware window stays lossless across thresholds (t sweep)") {
    // r17: the probe start window tightened from the plain shift bound to
    // PassJoin's multi-match-aware selection (|o| <= i-1, |Δ−o| <= m−i);
    // the window depends on segment index AND length gap, so sweep both
    // the threshold and the corpus shape against brute force
    for (t <- Seq(1, 2, 4, 8); seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val alpha = "abc d"
      def randStr(len: Int) = Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString
      def mutate(s: String, edits: Int): String = {
        var cur = s.toVector
        (1 to edits).foreach { _ =>
          val pos = rnd.nextInt(math.max(cur.size, 1))
          rnd.nextInt(3) match {
            case 0 if cur.nonEmpty => cur = cur.updated(pos, alpha(rnd.nextInt(alpha.length)))
            case 1 => cur = (cur.take(pos) :+ alpha(rnd.nextInt(alpha.length))) ++ cur.drop(pos)
            case _ if cur.size > 1 => cur = cur.take(pos) ++ cur.drop(pos + 1)
            case _ => ()
          }
        }
        cur.mkString
      }
      // lengths straddling t+1 so both the PassJoin core and the
      // degenerate short path run; edits straddle t
      val bases = (1L to 25L).map(i => i -> randStr(1 + rnd.nextInt(3 * t + 10)))
      val twins = bases.take(15).zipWithIndex.map { case ((i, s), k) =>
        (100L + i) -> mutate(s, 1 + k % (t + 2))
      }
      val d = docs((bases ++ twins): _*)
      val got = collectPairs(EditJoin.editDistJoin(d, t))
      val exp = collectPairs(brute(d, t))
      assert(got === exp, s"t=$t seed=$seed")
    }
  }

  test("pair at exactly distance t kept, t+1 dropped") {
    val d = docs(
      1L -> "abcdefghijklmnop",
      2L -> "abcdefghijklmnop",   // dist 0
      3L -> "Xbcdefghijklmnop",   // dist 1 (normalize lowercases X -> x... use real sub)
      4L -> "zzcdefghijklmnop")   // dist 2
    val got1 = collectPairs(EditJoin.editDistJoin(d, 1))
    assert(got1.contains((1L, 2L, 0L)))
    assert(got1.contains((1L, 3L, 1L)))
    assert(!got1.exists(p => p._1 == 1L && p._2 == 4L))
    val got2 = collectPairs(EditJoin.editDistJoin(d, 2))
    assert(got2.contains((1L, 4L, 2L)))
  }

  test("short strings (< t+1 chars) pair via the bounded degenerate path") {
    val d = docs(
      1L -> "ab",        // 2 chars < t+1
      2L -> "abc",       // dist 1 from doc 1
      3L -> "abcdxyz",   // 7 chars: within 2t of the shorts
      4L -> "a completely different long document far away from everything")
    val got = collectPairs(EditJoin.editDistJoin(d, 4))
    assert(got.contains((1L, 2L, 1L)))
    // short (2 chars) vs 7-char: dist 5 > t → absent
    assert(!got.exists(p => p._1 == 1L && p._2 == 3L))
    // 3-char vs 7-char: dist 4 == t → found (short path, partner <= 2t chars)
    assert(got.contains((2L, 3L, 4L)))
  }

  test("empty-normalized docs (whitespace-only) pair at dist 0 and within t of short docs") {
    // blank/whitespace-only docs are common in crawls; their normalized
    // text is "" (len 0) — the degenerate path's partner-length window
    // must include plen = 0 or these pairs are silently dropped
    val d = docs(
      1L -> "   ",
      2L -> "\t  \t",
      3L -> "ab",
      4L -> "abcdefgh")
    val t = 2
    val got = collectPairs(EditJoin.editDistJoin(d, t))
    val exp = collectPairs(brute(d, t))
    assert(exp.contains((1L, 2L, 0L)), "oracle must see the empty-empty pair")
    assert(exp.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 2L))
    assert(got === exp)
  }

  test("whitespace normalization applies before distance (case/space variants at dist 0)") {
    val d = docs(
      1L -> "Hello   World",
      2L -> "hello world")
    val got = collectPairs(EditJoin.editDistJoin(d, 3))
    assert(got === Seq((1L, 2L, 0L)))
  }

  test("probe window: an inverted [lo, hi] emits no offsets instead of counting down") {
    val w = Seq((-2, 1), (3, 3), (2, -1)).toDF("lo", "hi")
      .select(col("lo"), explode(EditJoin.probeOffsets(col("lo"), col("hi"))).as("o"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    assert(w === Seq((-2, -2), (-2, -1), (-2, 0), (-2, 1), (3, 3)))
  }
}
