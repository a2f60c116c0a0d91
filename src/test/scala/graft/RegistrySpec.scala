package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** `SparkEntry` keeps query bodies and oracle SQL in two parallel maps; they must
  * name the same queries, and README's query count must follow them.
  */
class RegistrySpec extends AnyFunSuite {

  test("queries and oracleSql have the same keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"queries without oracle: ${q -- o}; oracles without query: ${o -- q}")
  }

  test("README's \"(N queries\" equals queries.size") {
    val readme = Paths.get("README.md")
    assert(Files.isRegularFile(readme), s"run from the repo root: ${readme.toAbsolutePath}")
    val counts = """\((\d+) queries""".r.findAllMatchIn(Files.readString(readme))
      .map(_.group(1).toInt).toSeq
    assert(counts == Seq(SparkEntry.queries.size))
  }
}
