package graft.shiso

import graft.SparkSuite

class ShisoSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String]): Map[String, Long] =
    Shiso.mineCatalog(lines.toDF("line"), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("same char-class shape clusters; disagreeing positions wildcard") {
    // host1/host2/host9 all have class vector (0 upper, 4 lower, 1 digit, 0 other)
    val m = mined(Seq(
      "conn from host1 ok",
      "conn from host2 ok",
      "conn from host9 ok",
      "reboot now"))
    assert(m == Map(
      "conn from <*> ok" -> 3L,
      "reboot now" -> 1L))
  }

  test("same length but different class composition does NOT cluster") {
    // "ab1" (2 lower, 1 digit) vs "abc" (3 lower): LenMa's length vector would
    // merge them; SHISO's class vector is the finer key and keeps them apart
    val m = mined(Seq("x ab1", "x ab2", "x abc"))
    assert(m == Map("x <*>" -> 2L, "x abc" -> 1L))
  }

  test("class vector distinguishes case and symbols") {
    // "OK" (2 upper) vs "ok" (2 lower) vs "o!" (1 lower, 1 other)
    val m = mined(Seq("s OK", "s ok", "s o!"))
    assert(m == Map("s OK" -> 1L, "s ok" -> 1L, "s o!" -> 1L))
  }

  test("identical templates from different class clusters merge counts") {
    // u1/u2 (1 lower 1 digit) and u10/u20 (1 lower 2 digits) are different
    // clusters, but both wildcard to "up <*>" and must merge
    val m = mined(Seq("up u1", "up u2", "up u10", "up u20"))
    assert(m == Map("up <*>" -> 4L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 200).map(i => s"evt user${100 + i} done")
    val a = Shiso.mineCatalog(lines.toDF("line").repartition(9), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = Shiso.mineCatalog(lines.toDF("line").repartition(1), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
    assert(a == Map("evt <*> done" -> 200L))
  }

  test("mineCatalog ids are the engine's md5-prefix event ids") {
    val cat = Shiso.mineCatalog(Seq("a bb", "a cc").toDF("line"), "line")
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("a <*>", 2L)))
    cat.foreach { case (id, tpl, _) =>
      assert(id == graft.drain.DrainTree.eventId(tpl))
    }
  }
}
