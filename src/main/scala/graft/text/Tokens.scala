package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's only whitespace tokenizer, in every form a caller needs.
  *
  * '''Semantics.''' A token is a maximal run of characters other than ASCII
  * whitespace `[ \t\n\x0B\f\r]` (Java regex `\s`); a blank or empty string has
  * no tokens. Unicode whitespace (U+00A0, U+2003, U+3000, U+0085, U+001C–U+001F,
  * U+2028) and control characters such as U+0001 are token content: a stated
  * difference from the reference's Python `str.strip().split()` (SURVEY F2),
  * with which it agrees on ASCII text. Spark `trim` strips ' ' alone and
  * DuckDB's RE2 `\s` misses VT, so neither trim-then-split nor `\s` is used.
  */
object Tokens {

  /** The tokens of `s` (the Scala form). */
  def words(s: String): Array[String] = splitOn(s, spellSeps = false)

  /** The tokens of `s` with `=`, `:` and `,` separating too (Spell's, SURVEY F3). */
  def spell(s: String): Array[String] = splitOn(s, spellSeps = true)

  @inline private def isSep(c: Char, spellSeps: Boolean): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') || (spellSeps && (c == '=' || c == ':' || c == ','))

  private def splitOn(s: String, spellSeps: Boolean): Array[String] = {
    val out = new java.util.ArrayList[String]()
    var i = 0
    while (i < s.length) {
      while (i < s.length && isSep(s.charAt(i), spellSeps)) i += 1
      val b = i
      while (i < s.length && !isSep(s.charAt(i), spellSeps)) i += 1
      if (i > b) out.add(s.substring(b, i))
    }
    out.toArray(new Array[String](out.size))
  }

  /** The tokens of string column `c` as an array column (the Column form). */
  def words(c: Column): Column = array_remove(split(c, "\\s+"), "")

  /** The tokens of DuckDB string expression `expr` as a list (the SQL form). */
  def sql(expr: String): String =
    s"list_filter(string_split_regex($expr, '[ \\t\\n\\x0B\\f\\r]+'), ws_tok -> ws_tok != '')"
}
