package graft.miner

import graft.SourceTree
import org.scalatest.funsuite.AnyFunSuite

/** The DataFrame miners read their lines only through [[MinerOutput]]'s input
  * stage (`lineTokens`, `distinctLines`, `withDistinctLines`), so tokenization
  * has one definition.
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
}
