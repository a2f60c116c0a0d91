package graft.miner

import graft.SourceTree
import org.scalatest.funsuite.AnyFunSuite

/** The DataFrame miners read their lines only through [[MinerOutput]]'s input
  * stage (`lineTokens`, `distinctLines`, `withDistinctLines`), so tokenization
  * has one definition; the pattern id and the pair → cluster step are defined
  * there too, and every miner that keys on pid checks it for collisions.
  */
class MinerInputSpec extends AnyFunSuite {

  test("col(lineCol) appears only in graft/miner") {
    val files = SourceTree.files()
    assert(files.exists(_._1.startsWith("graft/miner/")), "graft/miner not found")
    val offenders = files.collect {
      case (rel, src) if !rel.startsWith("graft/miner/") && src.contains("col(lineCol)") => rel
    }
    assert(offenders.isEmpty,
      s"lines read outside the miners' input stage: ${offenders.mkString(", ")}")
  }

  /** The 14 DataFrame miner packages (everything that mines through [[MinerOutput]]). */
  private val MinerPackages = Seq("ael", "brain", "iplom", "lenma", "lfa", "lke", "logcluster",
    "logmine", "logram", "logsig", "molfi", "shiso", "slct", "ulp")

  private def minerSources: List[(String, String)] = {
    val files = SourceTree.files().filter { case (rel, _) =>
      MinerPackages.exists(m => rel.startsWith(s"graft/$m/"))
    }
    assert(MinerPackages.forall(m => files.exists(_._1.startsWith(s"graft/$m/"))),
      s"a miner package is missing: ${files.map(_._1)}")
    files
  }

  test("pattern ids and the pair → cluster step appear only in graft/miner") {
    val banned = Seq("xxhash64(col(\"p\"))", "connectedComponents(",
      "withColumnRenamed(\"id\", \"pid\")")
    val offenders = for {
      (rel, src) <- minerSources
      b <- banned if src.contains(b)
    } yield s"$rel: $b"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("every miner that keys on pid checks pid collisions") {
    val unchecked = minerSources.collect {
      case (rel, src) if src.contains("col(\"pid\")") &&
        !src.contains("MinerOutput.requireDistinctPids(") => rel
    }
    assert(unchecked.isEmpty, s"pid-keyed miners without the check: ${unchecked.mkString(", ")}")
  }
}
