package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Library code takes its settings from arguments and `PipelineConfig`; only the
  * driver mains and the dev harness read environment variables.
  */
class EnvKnobSpec extends AnyFunSuite {
  private val Allowed = Set("graft/Bench.scala", "graft/Verify.scala", "graft/tools/BenchExtra.scala")

  test("sys.env / System.getenv appear only in Bench, Verify and tools/BenchExtra") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.exists(f => Allowed(rel(root, f))), "no allowed file found under src/main/scala")
    val offenders = files.filterNot(f => Allowed(rel(root, f))).filter { f =>
      val src = Files.readString(f)
      src.contains("sys.env") || src.contains("System.getenv")
    }.map(rel(root, _))
    assert(offenders.isEmpty, s"environment read outside the mains: ${offenders.mkString(", ")}")
  }

  private def rel(root: Path, f: Path): String =
    root.relativize(f).toString.replace('\\', '/')
}
