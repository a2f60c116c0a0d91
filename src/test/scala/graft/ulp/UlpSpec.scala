package graft.ulp

import graft.SparkSuite

class UlpSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String]): Map[String, Long] =
    Ulp.mineCatalog(lines.toDF("line"), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("digit-bearing tokens mask in preprocessing; same-layout lines group") {
    val lines = Seq.tabulate(30)(i => s"conn open port $i") ++
      Seq.tabulate(20)(i => s"conn shut port $i")
    // masked: [conn, open|shut, port, <*>] — one layout "_ _ _ <*>", one group;
    // pos 1 disagrees across members -> <*>, pos 0/2 unanimous -> static
    assert(mined(lines) == Map("conn <*> port <*>" -> 50L))
  }

  test("different token counts never group (layout key encodes length)") {
    val lines = Seq.fill(5)("svc up") ++ Seq.fill(3)("svc up now")
    assert(mined(lines) == Map("svc up" -> 5L, "svc up now" -> 3L))
  }

  test("different wildcard POSITIONS never group, even at equal length") {
    // masked: [job, <*>, ok] vs [job, run, <*>] — equal length, different
    // layouts -> two groups survive with their constants intact
    val lines = Seq.fill(4)("job 17 ok") ++ Seq.fill(6)("job run x9")
    assert(mined(lines) == Map("job <*> ok" -> 4L, "job run <*>" -> 6L))
  }

  test("local (not global) frequency: a token static in its own group stays static") {
    // 'beta' is globally rare (2 of 52 lines) but unanimous inside its group —
    // LFA's global pass would wildcard it, ULP's local analysis must not
    val lines = Seq.tabulate(50)(i => s"get item $i") ++ Seq.fill(2)("beta ready")
    assert(mined(lines) == Map("get item <*>" -> 50L, "beta ready" -> 2L))
  }

  test("singleton group keeps all surviving tokens static") {
    assert(mined(Seq("kernel panic now")) == Map("kernel panic now" -> 1L))
  }

  test("deterministic under repartition, every line lands in exactly one template") {
    val lines = (0 until 300).map(i => s"req type${('a' + i % 3).toChar} user $i done")
    val a = Ulp.mineCatalog(lines.toDF("line").repartition(11), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = Ulp.mineCatalog(lines.toDF("line").repartition(1), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
    assert(a.values.sum == 300L)
    // typea/typeb/typec are digit-free and vary inside the one layout -> <*>
    assert(a == Map("req <*> user <*> done" -> 300L))
  }
}
