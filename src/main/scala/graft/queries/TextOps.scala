package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** THE canonical word definition, shared by every text operator (dedup
  * shingles, tf-idf terms, quality scores, salted counts) and its
  * DuckDB oracle twin — one place, so the Spark and SQL sides cannot
  * drift independently: a maximal run of non-whitespace characters in
  * the lower-cased text. (Token COUNTING has its own canonical
  * definition in graft.expressions.TokenCount.)
  */
object TextOps {
  /** Explicit whitespace class instead of `\s`: Java regex `\s` includes
    * vertical tab U+000B while RE2's does not, so the shorthand could
    * tokenize a `\x0B`-bearing document differently in the two engines.
    * Spelling out the SAME six characters on both sides removes the
    * only way the definitions could diverge.
    */
  private val WsJava = "[ \\t\\n\\r\\f\\x0B]+"
  private val WsSql = "[ \\t\\n\\r\\f\\x0B]+"

  def wordsOf(textCol: Column): Column =
    filter(split(lower(textCol), WsJava), w => length(w) > 0)

  /** The word `n`-grams of a words array `ws`, in order, each joined by
    * one space; `ws` must hold at least `n` words (callers filter on
    * `size(ws) >= n`).
    */
  def wordGrams(ws: Column, n: Int): Column =
    transform(sequence(lit(0), size(ws) - n), i =>
      concat_ws(" ", (1 to n).map(j => element_at(ws, i + j)): _*))

  /** DuckDB twin of [[wordsOf]] over a column named `text`. */
  val wordsSql: String =
    s"list_filter(regexp_split_to_array(lower(text), '$WsSql'), w -> length(w) > 0)"
}
