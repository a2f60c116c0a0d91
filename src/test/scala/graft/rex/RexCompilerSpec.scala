package graft.rex

import org.scalatest.funsuite.AnyFunSuite

class RexCompilerSpec extends AnyFunSuite {

  test("HDFS-style format compiles to the expected anchored positional regex") {
    val f = RexCompiler.compile("<Date> <Time> <Pid> <Level> <Component>: <Content>")
    assert(f.headers == Seq("Date", "Time", "Pid", "Level", "Component", "Content"))
    assert(f.pattern ==
      "^(.*?)\\s+(.*?)\\s+(.*?)\\s+(.*?)\\s+(.*?):\\s+(.*?)$")
    val line = "240101 120000 345 INFO dfs.DataNode: Received block blk_99"
    val m = java.util.regex.Pattern.compile(f.pattern).matcher(line)
    assert(m.find())
    assert(m.group(f.groupIndex("Date")) == "240101")
    assert(m.group(f.groupIndex("Level")) == "INFO")
    assert(m.group(f.groupIndex("Component")) == "dfs.DataNode")
    assert(m.group(f.groupIndex("Content")) == "Received block blk_99")
  }

  test("optional literal group (Linux/Thunderbird shape) keeps header indices aligned") {
    // the literal `( … )?` contributes an unnamed capture group; the reference is
    // immune via named groups — we must track real group numbers instead
    val f = RexCompiler.compile(
      "<Month> <Date> <Time> <Level> <Component>(\\[<PID>\\])?: <Content>")
    assert(f.headers == Seq("Month", "Date", "Time", "Level", "Component", "PID", "Content"))
    assert(f.groupIdx == Seq(1, 2, 3, 4, 5, 7, 8)) // 6 is the optional literal group
    val p = java.util.regex.Pattern.compile(f.pattern)
    val m1 = p.matcher("Jun 15 02:04:59 combo sshd[3457]: check pass; user unknown")
    assert(m1.find())
    assert(m1.group(f.groupIndex("Component")) == "sshd")
    assert(m1.group(f.groupIndex("PID")) == "3457")
    assert(m1.group(f.groupIndex("Content")) == "check pass; user unknown")
    val m2 = p.matcher("Jun 15 02:04:59 combo kernel: protocol violation")
    assert(m2.find())
    assert(m2.group(f.groupIndex("Component")) == "kernel")
    assert(m2.group(f.groupIndex("PID")) == null) // optional header absent → null
    assert(m2.group(f.groupIndex("Content")) == "protocol violation")
  }

  test("escaped parens in a literal are NOT capture groups") {
    val f = RexCompiler.compile("\\(<A>\\) <B>")
    assert(f.groupIdx == Seq(1, 2))
    val m = java.util.regex.Pattern.compile(f.pattern).matcher("(x) y")
    assert(m.find() && m.group(1) == "x" && m.group(2) == "y")
  }

  test("group counting: paren inside a character class, lookbehind, unknown header") {
    // [(] is a literal paren, not a group
    val cls = RexCompiler.compile("<A>[(]<B>")
    assert(cls.groupIdx == Seq(1, 2))
    val m1 = java.util.regex.Pattern.compile(cls.pattern).matcher("x(y")
    assert(m1.find() && m1.group(cls.groupIndex("A")) == "x" &&
      m1.group(cls.groupIndex("B")) == "y")
    // lookbehind (?<=…) is NOT numbered (and has no '>' so it survives as literal)
    val lb = RexCompiler.compile("<A>(?<=x)<B>")
    assert(lb.groupIdx == Seq(1, 2))
    // a would-be named group cannot reach a literal: <sep> is tokenized as a
    // header (upstream's splitter behaves identically)
    val named = RexCompiler.compile("<A>(?<sep>-|:)<B>")
    assert(named.headers == Seq("A", "sep", "B") && named.groupIdx == Seq(1, 2, 3))
    // unknown header is a clear error, not IndexOutOfBounds(-1)
    val err = intercept[IllegalArgumentException](cls.groupIndex("Nope"))
    assert(err.getMessage.contains("<Nope>"))
  }

  test("escaped literal brackets in the format pass through (Apache-style)") {
    val f = RexCompiler.compile("\\[<Time>\\] \\[<Level>\\] <Content>")
    assert(f.headers == Seq("Time", "Level", "Content"))
    val m = java.util.regex.Pattern.compile(f.pattern)
      .matcher("[Sun Dec 04] [error] mod_jk child workerEnv in error state 6")
    assert(m.find())
    assert(m.group(2) == "error")
  }

  test("multi-space literal runs become \\s+") {
    val f = RexCompiler.compile("<A>   <B>")
    assert(f.pattern == "^(.*?)\\s+(.*?)$")
  }

  test("masking (F1): list order matters, all occurrences replaced") {
    val masked = RexCompiler.applyMasksStr(
      "Receiving block blk_-123 src: /10.0.0.1:5001 dest: /10.0.0.2:5002",
      Seq("blk_(|-)[0-9]+", "(/|)(\\d+\\.){3}\\d+(:\\d+)?"))
    assert(masked == "Receiving block <*> src: <*> dest: <*>")
  }
}
