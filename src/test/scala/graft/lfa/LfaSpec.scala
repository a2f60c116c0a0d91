package graft.lfa

import graft.SparkSuite

class LfaSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String]): Map[String, Long] =
    Lfa.mineCatalog(lines.toDF("line"), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("largest relative frequency gap splits constants from parameters, no support knob") {
    val lines = Seq.tabulate(50)(i => s"login user$i ok") ++
      Seq.tabulate(40)(i => s"logout user$i ok")
    // (pos,tok) freqs: login=50, logout=40, ok=90, user0..39=2, user40..49=1.
    // "login userX ok": freqs desc [90,50,2] -> ratios [1.8, 25] -> threshold 50:
    // login and ok stay constant even though their frequencies differ, the user
    // token wildcards (an absolute gap would split under 90 and eat the verb).
    assert(mined(lines) == Map(
      "login <*> ok" -> 50L,
      "logout <*> ok" -> 40L))
  }

  test("all-equal frequencies keep the line fully constant (unique and static lines)") {
    val lines = Seq("kernel panic now") ++ Seq.fill(3)("beat beat2 beat3")
    // unique line: freqs [1,1,1] -> no gap -> all constant;
    // static line: freqs [3,3,3] -> same.
    assert(mined(lines) == Map(
      "kernel panic now" -> 1L,
      "beat beat2 beat3" -> 3L))
  }

  test("mid-frequency tokens (log-level-like) stay constant; only the low band wildcards") {
    // freqs for "evt aN bN": evt=100, a0/a1=50 each, b*=1 each
    // "evt a0 bX": [100,50,1] -> ratios [2, 50] -> thr=50: the binary a-token is
    // in the static band (like INFO/ERROR levels), the unique b token wildcards
    val lines = (0 until 100).map(i => s"evt a${i % 2} b$i")
    assert(mined(lines) == Map("evt a0 <*>" -> 50L, "evt a1 <*>" -> 50L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 300).map(i => s"req type${i % 3} user$i done")
    val a = Lfa.mineCatalog(lines.toDF("line").repartition(11), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = Lfa.mineCatalog(lines.toDF("line").repartition(1), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
    assert(a.values.sum == 300L)
  }

  test("mineCatalog ids are the engine's md5-prefix event ids") {
    val cat = Lfa.mineCatalog(
      Seq("up host1 ok", "up host2 ok", "up host3 ok").toDF("line"), "line")
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("up <*> ok", 3L)))
    cat.foreach { case (id, tpl, _) =>
      assert(id == graft.drain.DrainTree.eventId(tpl))
    }
  }
}
