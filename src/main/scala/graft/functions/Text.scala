package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's text-feature rules, each defined once: the whitespace
  * tokenizer (Scala [[tokens]] and its Column twin [[words]]), the word
  * and stopword counts, the 64-bit gram hash and its hashed-unigram
  * bucket, and the half-up rounding that makes Spark agree with DuckDB on
  * exact `.xxxx5` ties. Every engine operator builds these features
  * through here; the oracle SQL texts keep their own independent copies
  * (they are the check, not the engine).
  */
object Text {

  /** Lowercase whitespace tokens, empty tokens dropped: the tokens
    * [[words]] yields. */
  def tokens(text: String): Array[String] =
    sparkLower(text).split("\\s+").filter(_.nonEmpty)

  /** Spark's `lower`: ASCII text lowercases per char, other text through
    * ICU's full case mapping (Java's `toLowerCase` differs from it, e.g. on
    * a final sigma after a digit: "x1Σ"). */
  private def sparkLower(s: String): String = {
    var i = 0
    while (i < s.length && s.charAt(i) < 0x80) i += 1
    if (i == s.length) s.toLowerCase(java.util.Locale.ROOT) else UCharacter.toLowerCase(s)
  }

  /** [[tokens]] as rows: `df` projected to `keep` plus one `as` column per
    * token of `text` (lowercased, split on `\s+`, empty tokens filtered). */
  def words(df: DataFrame, as: String, keep: Column*): DataFrame =
    df.select(keep :+ explode(split(lower(col("text")), "\\s+")).as(as): _*)
      .where(col(as) =!= "")

  /** Number of non-space runs in `text` (= `tokens(text).length`). */
  def wordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("""\S+"""), lit(0)))

  /** Occurrences of the stopword list in the lowercased `text`. */
  def stopwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("""\b(the|and|of|to|a|in|is)\b"""), lit(0)))

  /** `floor(x·10^places + 0.5) / 10^places`: the same IEEE operations in
    * Spark and in the DuckDB oracle. Spark's `round()` rounds the
    * shortest-decimal repr and DuckDB's the binary value, so they disagree
    * on exact `.xxxx5` quotients. Half-up for x ≥ 0; for x < 0 a tie
    * rounds toward +inf, in both engines alike. */
  def halfUp(c: Column, places: Int): Column =
    floor(c * Pow10(places) + 0.5) / Pow10(places)

  /** [[halfUp]] for typed (Scala-side) values, the same operations.
    * Spark's `floor` returns a long, so the Column form saturates where
    * |x|·10^places ≥ 2⁶³ and maps NaN to 0; so does this one. */
  def halfUp(x: Double, places: Int): Double =
    math.floor(x * Pow10(places) + 0.5).toLong / Pow10(places)

  private val Pow10 = Array.iterate(1.0, 16)(_ * 10) // exact: 1e0 … 1e15

  /** The native [[Fnv1a64Expr]] on a string column; the session must have
    * it registered ([[Fnv1a64Expr.register]]). */
  def fnv1a64(c: Column): Column = call_function("fnv1a64", c)

  /** Hashed-unigram feature: `pmod(fnv1a64(tok), buckets)`. */
  def hashBucket(tok: Column, buckets: Int): Column =
    pmod(fnv1a64(tok), lit(buckets.toLong))
}
