package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by the LLM-data-pipeline operators (dedup, text
  * analysis): normalization, tokenization, word n-gram shingling, and a
  * portable 60-bit content hash.
  *
  * Everything here is pure `org.apache.spark.sql.functions` column algebra —
  * whole-stage-codegen'd, no UDFs — and every function has an exact DuckDB
  * equivalent so results can be oracle-checked:
  *
  *  - `hash60`: first 15 hex digits of MD5 parsed as a 60-bit BIGINT. MD5 is
  *    byte-identical across engines (unlike xxhash64/murmur, which are
  *    Spark-specific), and 15 hex digits keep the value positive in a signed
  *    64-bit integer on both sides (DuckDB: `('0x' || substr(md5(x),1,15))::BIGINT`).
  *  - shingles are `n`-word grams over whitespace-split lowercased text,
  *    deduplicated (set semantics, as in the MinHash/Jaccard literature).
  *    They are taken only from a token-array column that a projection
  *    before them has materialized ([[tokens]], then [[shinglesOf]]):
  *    Catalyst does not share a subexpression across a lambda boundary,
  *    so tokenization inlined into the per-position shingle lambda would
  *    run once per shingle position (quadratic in the document's words).
  */
object TextOps {

  /** Canonical normalization: lowercase, trim, collapse runs of whitespace.
    * DuckDB parity: `lower(trim(regexp_replace(text, '\s+', ' ', 'g')))`. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Whitespace tokenization of normalized text. */
  def tokens(text: Column): Column = split(normalize(text), " ")

  /** Portable 60-bit hash (see scaladoc above). `conv` returns a decimal
    * string; its 15-hex-digit input is < 2^60 so the BIGINT cast is safe. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** Distinct `n`-word shingles of a token-array column: slide over the
    * array and space-join each window. `transform` + `slice` keeps this
    * inside codegen. Empty (not partial) when the doc has < `n` tokens —
    * `sequence(a, b)` counts DOWN when b < a, so the short-doc case must be
    * guarded explicitly. `toks` must be a column reference to a projected
    * token array (see the object scaladoc), not a tokenizing expression. */
  def shinglesOf(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
}
