package graft

import org.scalatest.funsuite.AnyFunSuite

/** Library code takes its settings from arguments and `PipelineConfig`; only the
  * driver mains and the dev harness read environment variables.
  */
class EnvKnobSpec extends AnyFunSuite {
  private val Allowed = Set("graft/Bench.scala", "graft/Verify.scala", "graft/tools/BenchExtra.scala")

  test("sys.env / System.getenv appear only in Bench, Verify and tools/BenchExtra") {
    val files = SourceTree.files()
    assert(files.exists(f => Allowed(f._1)), "no allowed file found under src/main/scala")
    val offenders = files.filterNot(f => Allowed(f._1)).collect {
      case (rel, src) if src.contains("sys.env") || src.contains("System.getenv") => rel
    }
    assert(offenders.isEmpty, s"environment read outside the mains: ${offenders.mkString(", ")}")
  }
}
