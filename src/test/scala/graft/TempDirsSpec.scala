package graft

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files, Paths}

class TempDirsSpec extends AnyFunSuite {
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  test("base: a missing candidate falls back to java.io.tmpdir") {
    assert(TempDirs.base(new File(tmp.toFile, "no-such-dir-" + System.nanoTime()), 0L) == tmp)
  }

  test("base: a candidate below the free-space floor falls back, one above it is used") {
    val cand = Files.createTempDirectory("graft_tempdirs_spec")
    try {
      assert(TempDirs.base(cand.toFile, Long.MaxValue) == tmp)
      assert(TempDirs.base(cand.toFile, 0L) == cand)
    } finally Files.delete(cand)
  }

  test("root: /dev/shm under the MinFreeBytes floor, else java.io.tmpdir") {
    val r = TempDirs.root
    assert(r == TempDirs.base(new File("/dev/shm"), TempDirs.MinFreeBytes))
    assert(r == Paths.get("/dev/shm") || r == tmp)
  }

  test("create: a fresh dir under the chosen base") {
    val d = TempDirs.create("graft_tempdirs_spec")
    assert(Files.isDirectory(d))
    assert(d.getParent == TempDirs.base(new File("/dev/shm"), TempDirs.MinFreeBytes))
  }
}
