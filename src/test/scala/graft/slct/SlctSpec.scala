package graft.slct

import graft.SparkSuite

class SlctSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String], support: Long): Map[String, Long] =
    Slct.mineCatalog(lines.toDF("line"), "line", support)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("frequent words stay, infrequent positions wildcard, sub-support clusters drop") {
    val lines =
      Seq.tabulate(5)(i => s"login user$i ok") ++
        Seq.tabulate(4)(i => s"logout user$i ok") ++
        Seq("kernel panic now") // outlier: every word below support
    val m = mined(lines, support = 3)
    // (0,login)=5, (0,logout)=4, (1,user*)=1 each, (2,ok)=9 → frequent at s=3:
    // login/logout/ok; abstracted clusters: "login <*> ok" (5), "logout <*> ok" (4);
    // "kernel panic now" abstracts to "<*> <*> <*>" count 1 < 3 → outlier, dropped
    assert(m == Map("login <*> ok" -> 5L, "logout <*> ok" -> 4L))
  }

  test("a frequent word at one position is not frequent at another") {
    // "ok" appears 4 times at pos 2 but once at pos 0 — positional counting must
    // keep them separate (the (position, word) pair is SLCT's unit, not the word)
    val lines = Seq.tabulate(4)(i => s"job $i ok") :+ "ok job done"
    val m = mined(lines, support = 3)
    assert(m == Map("job <*> ok" -> 4L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 300).map(i => s"evt type${i % 3} user$i done")
    val a = Slct.mineCatalog(lines.toDF("line").repartition(17), "line", 50)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = mined(lines, 50)
    assert(a == b && a.keySet == Set("evt type0 <*> done", "evt type1 <*> done",
      "evt type2 <*> done"))
  }

  test("mineCatalog ids match the engine's md5-prefix event ids") {
    val cat = Slct.mineCatalog(Seq("a x", "a y", "a z").toDF("line"), "line", 2)
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("a <*>", 3L)))
    assert(cat.head._1 == graft.drain.DrainTree.eventId("a <*>"))
  }
}
