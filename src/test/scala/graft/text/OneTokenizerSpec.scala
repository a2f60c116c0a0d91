package graft.text

import graft.SourceTree
import org.scalatest.funsuite.AnyFunSuite

/** Whitespace tokenization is written in one place, [[Tokens]]: no other
  * source spells a trim-and-split or a `\s+` split, in Scala, Column or SQL form.
  */
class OneTokenizerSpec extends AnyFunSuite {

  /** Tokenizer spellings, as they appear in the source text. */
  private val Spellings = Seq("split(trim(", ".trim.split(", ".strip()", "split(\"\\\\s+\"",
    "string_split_regex(trim(", "'\\\\s+')")

  /** `(file, line fragment)` of the splits that are not the word tokenizer:
    * the `t_subword_count` oracle (the `subwordCount` tokenizer's DuckDB form).
    */
  private val Allowed = Seq(
    "graft/registry/CurationQueries.scala" -> "string_split_regex(s2, '\\\\s+')")

  test("tokenizer spellings appear only in graft/text/Tokens.scala") {
    val files = SourceTree.files()
    assert(files.exists(_._1 == "graft/text/Tokens.scala"), "graft/text/Tokens.scala not found")
    val offenders = for {
      (rel, src) <- files if rel != "graft/text/Tokens.scala"
      (line, no) <- src.linesIterator.zipWithIndex
      s <- Spellings if line.contains(s)
      if !Allowed.exists { case (f, frag) => f == rel && line.contains(frag) }
    } yield s"$rel:${no + 1}: $s"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
