package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class BlocklistSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  /** Brute-force reference: per-position substring equality, all
    * overlaps and nested matches counted. */
  private def ref(text: String, pats: Seq[String]): Long =
    pats.map { p =>
      (0 to text.length - p.length).count(i => text.regionMatches(i, p, 0, p.length)).toLong
    }.sum

  test("nested and overlapping matches all count (dict-suffix collapse)") {
    // "slow" contains "low"; "aaa" in "aaaa" matches at 2 positions
    val pats = Seq("slow", "low", "aaa")
    val d = docs(1L -> "slow aaaa", 2L -> "clean text", 3L -> "lowlow")
    val got = TextAnalysis.blocklistHits(d, pats)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // doc1: slow(1) + low(1, inside slow) + aaa(2) = 4; doc3: low x2
    assert(got === Seq((1L, 4L), (3L, 2L)))
  }

  test("patterns sharing prefixes resolve through failure links") {
    val pats = Seq("abcd", "abce", "bce", "cd")
    val d = docs(1L -> "zabcez xabcdx")
    // abce(1) + bce(1) + abcd(1) + cd(1) = 4
    val got = TextAnalysis.blocklistHits(d, pats).collect().head.getLong(1)
    assert(got === 4L)
  }

  test("AC expression == brute-force positional reference on random text") {
    val rnd = new scala.util.Random(23)
    val alpha = "abc d"
    def rs(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val pats = (1 to 12).map(_ => rs(1 + rnd.nextInt(4))).distinct
    val rows = (1L to 50L).map(i => i -> rs(20 + rnd.nextInt(200)))
    val got = TextAnalysis.blocklistHits(docs(rows: _*), pats)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, text) =>
      val expect = ref(text, pats)
      assert(got.getOrElse(id, 0L) === expect, s"doc $id: '$text'")
    }
  }

  test("blocklist_hits is SQL-callable through the session extensions") {
    val s = graft.Session.withExtensions(spark)
    import s.implicits._
    Seq((1L, "slow aaaa")).toDF("doc_id", "text").createOrReplaceTempView("bl_docs")
    val got = s.sql(
      "SELECT blocklist_hits(text, 'slow', 'low', 'aaa') AS hits FROM bl_docs")
      .collect().head.getLong(0)
    assert(got === 4L)
  }

  /** Brute-force scrub reference: union of all match spans, mask or drop. */
  private def refScrub(text: String, pats: Seq[String], remove: Boolean): String = {
    val covered = Array.fill(text.length)(false)
    for (p <- pats; i <- 0 to text.length - p.length
         if text.regionMatches(i, p, 0, p.length); j <- i until i + p.length)
      covered(j) = true
    text.zipWithIndex.flatMap { case (c, i) =>
      if (!covered(i)) Some(c) else if (remove) None else Some('*')
    }.mkString
  }

  test("scrub masks the union of spans — nested, overlapping, back-extending") {
    // "low" inside "slow"-matching span; "bc"@6 then "abcdef"@4 extends
    // the union BACKWARD past an earlier match's start
    val pats = Seq("slow", "low", "bc", "abcdef")
    val d = docs(1L -> "slow xabcdefx", 2L -> "clean", 3L -> "ababcdef")
    val got = TextAnalysis.blocklistScrub(d, pats).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got(0) === ((1L, "**** x******x", " xx")))
    assert(got(1) === ((2L, "clean", "clean")))
    // "ababcdef": "bc"@3 covers [3,4]; "abcdef"@3(0-based 2) covers [3,8]
    assert(got(2) === ((3L, "ab******", "ab")))
  }

  test("scrub == brute-force span-union reference on random text (both modes)") {
    val rnd = new scala.util.Random(31)
    val alpha = "abc d"
    def rs(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val pats = (1 to 12).map(_ => rs(1 + rnd.nextInt(4))).distinct
    val rows = (1L to 50L).map(i => i -> rs(20 + rnd.nextInt(200)))
    val got = TextAnalysis.blocklistScrub(docs(rows: _*), pats)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    rows.foreach { case (id, text) =>
      assert(got(id)._1 === refScrub(text, pats, remove = false), s"mask doc $id")
      assert(got(id)._2 === refScrub(text, pats, remove = true), s"remove doc $id")
    }
  }

  test("scrub masks one char per CODEPOINT on astral text; null text scrubs to ''") {
    // U+1D54A (double-struck S) is a surrogate pair in UTF-16 but ONE
    // codepoint — the oracle's substr convention; masking must emit one
    // '*' for it, not two, and unmasked astral chars pass through intact
    val astral = new String(Character.toChars(0x1D54A))
    val pats = Seq("k" + astral + "y", "low")
    val d = Seq((1L, s"a k${astral}y b$astral"), (2L, null))
      .toDF("doc_id", "text")
    val got = TextAnalysis.blocklistScrub(d, pats).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got(0) === ((1L, s"a *** b$astral", s"a  b$astral")))
    // NULL text -> '' both modes (the oracle's coalesce)
    assert(got(1) === ((2L, "", "")))
  }

  test("null text rows drop; duplicate patterns rejected") {
    val d = Seq((1L, "low key"), (2L, null)).toDF("doc_id", "text")
    val got = TextAnalysis.blocklistHits(d, Seq("low")).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L))
    intercept[Exception] {
      TextAnalysis.blocklistHits(d, Seq("a", "a")).collect()
    }
  }
}
