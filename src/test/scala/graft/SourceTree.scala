package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The library's Scala sources, for specs that scan code instead of running it. */
object SourceTree {

  /** `(path relative to src/main/scala with '/' separators, source text)` of
    * every `.scala` file; the specs run from the repo root.
    */
  def files(): List[(String, String)] = {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => (root.relativize(f).toString.replace('\\', '/'), Files.readString(f)))
    finally s.close()
  }
}
