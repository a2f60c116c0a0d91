package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

/** Session-scoped temp dirs, deleted on JVM exit. They go on tmpfs (`/dev/shm`)
  * when it has room: /tmp can sit on a shared disk whose writeback storms are
  * measurement noise. A small tmpfs (Docker's default /dev/shm is 64 MB) would
  * fail the staged writes with ENOSPC, so below [[MinFreeBytes]] of usable space
  * the dirs fall back to `java.io.tmpdir`.
  */
object TempDirs {

  /** Usable space /dev/shm must offer before temp dirs are put there. */
  val MinFreeBytes: Long = 1L << 30

  /** Where temp dirs go on this host: `/dev/shm` when it has [[MinFreeBytes]]
    * usable, otherwise `java.io.tmpdir`. `Bench` puts its work and spill dirs here.
    */
  private[graft] def root: Path = base(new File("/dev/shm"), MinFreeBytes)

  /** A fresh temp dir `prefix…` under `parent`, removed with its contents on JVM exit. */
  def create(prefix: String, parent: Path = root): Path = {
    val d = Files.createTempDirectory(Files.createDirectories(parent), prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(d.toFile)))
    d
  }

  /** `candidate` when it is a directory with at least `minFreeBytes` usable,
    * otherwise `java.io.tmpdir`.
    */
  private[graft] def base(candidate: File, minFreeBytes: Long): Path =
    if (candidate.isDirectory && candidate.getUsableSpace >= minFreeBytes) candidate.toPath
    else Paths.get(System.getProperty("java.io.tmpdir"))

  private def deleteTree(p: File): Unit = {
    val cs = p.listFiles(); if (cs != null) cs.foreach(deleteTree); p.delete(); ()
  }
}
