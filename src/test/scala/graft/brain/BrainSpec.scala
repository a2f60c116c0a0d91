package graft.brain

import graft.SparkSuite

class BrainSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String]): Map[String, Long] =
    Brain.mineCatalog(lines.toDF("line"), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("constant positions share the modal frequency; variables wildcard") {
    // per line freq values [6, 1, 6]: value 6 carried by 2 positions → LCP =
    // {conn, ok}, hosts scatter → one cluster, agreement wildcards pos 1
    val lines = (1 to 6).map(i => s"conn host$i ok")
    assert(mined(lines) == Map("conn <*> ok" -> 6L))
  }

  test("two event types sharing a length split on their LCPs") {
    // uI appears in BOTH types (freq 2) but send/start and recv/stop carry
    // freq 3 on two positions each — the modal groups differ per type
    val lines = (1 to 3).flatMap(i => Seq(s"send u$i start", s"recv u$i stop"))
    assert(mined(lines) == Map("send <*> start" -> 3L, "recv <*> stop" -> 3L))
  }

  test("modal ties resolve to the larger frequency") {
    // freq values [4, 1] each carried by ONE position: the tie goes to 4, so
    // the constant 'a' is the LCP and the x's wildcard (the opposite choice
    // would shatter the group into singletons)
    val lines = (1 to 4).map(i => s"a x$i")
    assert(mined(lines) == Map("a <*>" -> 4L))
  }

  test("duplicate lines weight the frequency table, not just the output") {
    val lines = Seq.fill(5)("up host1 ok") ++ (2 to 4).map(i => s"up host$i ok")
    assert(mined(lines) == Map("up <*> ok" -> 8L))
  }

  test("different token counts never share a cluster") {
    val lines = Seq("a b", "a b", "a b c", "a b c")
    assert(mined(lines) == Map("a b" -> 2L, "a b c" -> 2L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 200).map(i => s"evt u${i % 40} c${i % 7}")
    val a = Brain.mineCatalog(lines.toDF("line").repartition(9), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = Brain.mineCatalog(lines.toDF("line").repartition(1), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("mineCatalog ids are the engine's md5-prefix event ids") {
    val cat = Brain.mineCatalog((1 to 6).map(i => s"a b$i c").toDF("line"), "line")
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("a <*> c", 6L)))
    cat.foreach { case (id, tpl, _) =>
      assert(id == graft.drain.DrainTree.eventId(tpl))
    }
  }
}
