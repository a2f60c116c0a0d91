package graft.rex

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Compiler for the reference's `log_format` header DSL and masking regexes.
  *
  * The reference (goralpl/logparser, upstream logpai/logparser,
  * `Drain/Drain.py::generate_logformat_regex` ≈L382–400 — see SURVEY.md §0.1 for the
  * citation caveat) turns a format string like
  * `"<Date> <Time> <Pid> <Level> <Component>: <Content>"` into an anchored regex with
  * one group per `<Header>`, where literal runs of spaces match `\s+`.
  *
  * We reproduce that compilation but target the Java regex dialect (what Catalyst's
  * `regexp_extract` executes) and positional groups (group i+1 = i-th header), because
  * `regexp_extract` addresses groups by index. Literal segments of the format string
  * are passed through verbatim (the reference does the same), so a format author must
  * escape regex metacharacters (e.g. `\[<Time>\]`) — exactly as the reference's
  * `benchmark_settings` formats do.
  */
object RexCompiler {

  /** `groupIdx(i)` is the 1-based REGEX group number of `headers(i)`. The two differ
    * whenever a literal format segment itself contains capturing parentheses — the
    * reference's benchmark settings do this for optional headers, e.g. the
    * Linux/Thunderbird shape `<Component>(\[<PID>\])?: <Content>`, whose `( … )?`
    * adds an unnamed group. The reference is immune because it compiles NAMED groups
    * (`(?P<h>.*?)`); Catalyst's `regexp_extract` is positional, so we track the real
    * group numbers at compile time instead.
    */
  final case class CompiledFormat(headers: Seq[String], pattern: String,
                                  groupIdx: Seq[Int]) {
    def groupIndex(header: String): Int = {
      val i = headers.indexOf(header)
      require(i >= 0, s"header <$header> is not in this format (headers: $headers)")
      groupIdx(i)
    }
  }

  private val HeaderToken = "<[^<>]+>".r

  /** Faithful port of `generate_logformat_regex`: split on `(<[^<>]+>)`, literal parts
    * get runs-of-spaces → `\s+`, header parts become capture groups `(.*?)`, anchored.
    */
  def compile(logFormat: String): CompiledFormat = {
    val sb = new StringBuilder("^")
    val headers = Seq.newBuilder[String]
    val indices = Seq.newBuilder[Int]
    var group = 0
    var last = 0
    for (m <- HeaderToken.findAllMatchIn(logFormat)) {
      if (m.start > last) {
        val lit = logFormat.substring(last, m.start)
        sb.append(literalPart(lit))
        group += capturingGroups(lit)
      }
      val h = m.matched.stripPrefix("<").stripSuffix(">")
      headers += h
      group += 1
      indices += group
      sb.append("(.*?)")
      last = m.end
    }
    if (last < logFormat.length) sb.append(literalPart(logFormat.substring(last)))
    sb.append("$")
    CompiledFormat(headers.result(), sb.toString, indices.result())
  }

  /** Literal format text: replace runs of spaces with `\s+` (reference:
    * `re.sub(' +', '\\\\s+', splitter)`); everything else verbatim.
    */
  private def literalPart(s: String): String = s.replaceAll(" +", "\\\\s+")

  /** Capturing groups a literal segment contributes, per Java regex numbering:
    * an unescaped `(` outside a character class counts unless it starts a `(?…)`
    * construct (non-capturing group, inline flags, lookaround). Escapes (`\(`,
    * `\[`) and `[…]` classes are tracked so a literal paren inside a class never
    * shifts header indices. Named groups `(?<name>…)` need no case here: the
    * header tokenizer consumes `<name>` as a header first (upstream's splitter
    * does the same), so the sequence can never reach a literal segment intact.
    */
  private def capturingGroups(s: String): Int = {
    var n = 0
    var i = 0
    var inClass = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 1
      else if (inClass) { if (c == ']') inClass = false }
      else if (c == '[') inClass = true
      else if (c == '(') {
        if (i + 1 >= s.length || s.charAt(i + 1) != '?') n += 1
      }
      i += 1
    }
    n
  }

  /** The reference's `preprocess` (F1): for each masking regex, replace every match
    * with `<*>`, in list order. Chained `regexp_replace` — Catalyst codegens the chain.
    */
  def applyMasks(col: Column, rexes: Seq[String]): Column =
    rexes.foldLeft(col)((c, r) => regexp_replace(c, r, "<*>"))

  /** Driver-side variant for the sequential oracle and pure-Scala tests. */
  def applyMasksStr(s: String, rexes: Seq[String]): String =
    rexes.foldLeft(s)((acc, r) => acc.replaceAll(r, "<*>"))
}
