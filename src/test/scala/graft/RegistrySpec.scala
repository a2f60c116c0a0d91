package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** `SparkEntry.queries` and `oracleSql` are maps derived from one list of
  * registry entries: a duplicate name would silently drop an entry from both,
  * and README's query count must follow the list.
  */
class RegistrySpec extends AnyFunSuite {

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size && SparkEntry.oracleSql.size == names.size)
  }

  test("README's \"(N queries\" equals queries.size") {
    val readme = Paths.get("README.md")
    assert(Files.isRegularFile(readme), s"run from the repo root: ${readme.toAbsolutePath}")
    val counts = """\((\d+) queries""".r.findAllMatchIn(Files.readString(readme))
      .map(_.group(1).toInt).toSeq
    assert(counts == Seq(SparkEntry.queries.size))
  }
}
