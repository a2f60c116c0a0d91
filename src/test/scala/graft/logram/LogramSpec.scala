package graft.logram

import graft.SparkSuite

class LogramSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String], support: Long): Map[String, Long] =
    Logram.mineCatalog(lines.toDF("line"), "line", support)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("dynamic tokens break their covering bigrams; static text survives") {
    // (BOS,conn)=(conn,from)=(ok,EOS)=6 ≥ 3; every host bigram has freq 1
    val lines = (1 to 6).map(i => s"conn from host$i ok")
    assert(mined(lines, 3) == Map("conn from <*> ok" -> 6L))
  }

  test("boundary bigrams make first/last tokens judgeable") {
    // a leading parameter: (BOS,hostI) and (hostI,up) both freq 1 → dynamic;
    // trailing 'up' rides (up,EOS) freq 4 → static
    val lines = (1 to 4).map(i => s"host$i up")
    assert(mined(lines, 3) == Map("<*> up" -> 4L))
    // and the symmetric case: constant first token via (BOS,shutdown)
    val lines2 = (1 to 4).map(i => s"shutdown t$i")
    assert(mined(lines2, 3) == Map("shutdown <*>" -> 4L))
  }

  test("a token is static if EITHER covering bigram is frequent") {
    // 'block' sits between a parameter and a constant: (blkI,block)=1 but
    // (block,ok)=5 ≥ 3 keeps it static
    val lines = (1 to 5).map(i => s"del blk$i block ok")
    assert(mined(lines, 3) == Map("del <*> block ok" -> 5L))
  }

  test("duplicate lines weight the dictionary") {
    // host1 repeats enough that its bigrams clear support — a frequent value
    // is indistinguishable from a constant at this support, which is Logram's
    // documented behavior; host2..4 stay dynamic
    val lines = Seq.fill(5)("up host1 ok") ++ (2 to 4).map(i => s"up host$i ok")
    assert(mined(lines, 3) == Map("up host1 ok" -> 5L, "up <*> ok" -> 3L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 200).map(i => s"evt u${i % 40} done")
    val a = Logram.mineCatalog(lines.toDF("line").repartition(9), "line", 20)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = Logram.mineCatalog(lines.toDF("line").repartition(1), "line", 20)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
    assert(a == Map("evt <*> done" -> 200L))
  }

  test("mineCatalog ids are the engine's md5-prefix event ids") {
    val cat = Logram.mineCatalog((1 to 6).map(i => s"a b$i").toDF("line"), "line", 3)
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("a <*>", 6L)))
    cat.foreach { case (id, tpl, _) =>
      assert(id == graft.drain.DrainTree.eventId(tpl))
    }
  }
}
