package graft.molfi

import graft.SparkSuite

class MolfiSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String]): Map[String, Long] =
    Molfi.mineCatalog(lines.toDF("line"), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("single shape: knee keeps one template with the parameter wildcarded") {
    // one cluster scores spec 2/3 × freq 1; all-singletons scores 1 × 1/6 —
    // the knee is the single agreement template
    val lines = (1 to 6).map(i => s"conn u$i ok")
    assert(mined(lines) == Map("conn <*> ok" -> 6L))
  }

  test("two shapes in one length group separate on the Pareto knee") {
    val lines = (1 to 3).map(i => s"login u$i ok") ++
      (1 to 3).map(i => s"logout u$i fail")
    assert(mined(lines) == Map(
      "login <*> ok" -> 3L,
      "logout <*> fail" -> 3L))
  }

  test("length groups search independently") {
    val lines = (1 to 6).map(i => s"conn u$i ok") ++
      (1 to 4).map(i => s"ping h$i")
    assert(mined(lines) == Map("conn <*> ok" -> 6L, "ping <*>" -> 4L))
  }

  test("duplicate lines weight occurrences and the frequency objective") {
    val lines = Seq.fill(4)("job u1 done") ++ Seq("job u2 done")
    assert(mined(lines) == Map("job <*> done" -> 5L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 120).map(i => s"ev${i % 2} u${i % 10} s${i % 3}")
    val a = Molfi.mineCatalog(lines.toDF("line").repartition(9), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = Molfi.mineCatalog(lines.toDF("line").repartition(1), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("fail-stop above maxGroup instead of a silently degraded search") {
    val lines = (0 until 50).map(i => s"line nr$i")
    val ex = intercept[Exception] {
      Molfi.mineCatalog(lines.toDF("line"), "line", maxGroup = 10).count()
    }
    assert(ex.getMessage.contains("maxGroup"))
  }

  test("mineCatalog ids are the engine's md5-prefix event ids") {
    val cat = Molfi.mineCatalog((1 to 6).map(i => s"a b$i").toDF("line"), "line")
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("a <*>", 6L)))
    cat.foreach { case (id, tpl, _) =>
      assert(id == graft.drain.DrainTree.eventId(tpl))
    }
  }
}
