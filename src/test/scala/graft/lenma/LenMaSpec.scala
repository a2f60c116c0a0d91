package graft.lenma

import graft.SparkSuite

class LenMaSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String]): Map[String, Long] =
    LenMa.mineCatalog(lines.toDF("line"), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("same word-length shape clusters; disagreeing positions wildcard") {
    val lines = Seq(
      "conn from host1 ok", // lengths 4,4,5,2
      "conn from host2 ok",
      "conn from host3 ok",
      "disconnect now") // different shape entirely
    assert(mined(lines) == Map(
      "conn from <*> ok" -> 3L,
      "disconnect now" -> 1L))
  }

  test("equal token count but different length vectors do NOT cluster") {
    // "ab cd" (2,2) vs "abc de" (3,2): LenMa's whole point — token count alone
    // would merge them, the length vector keeps them apart
    val m = mined(Seq("ab cd", "ab ce", "abc de", "abc df"))
    assert(m == Map("ab <*>" -> 2L, "abc <*>" -> 2L))
  }

  test("identical templates from different length clusters merge counts") {
    // host1/host9 share lengths; host22 has a longer second word — different
    // cluster, but after wildcarding both clusters emit "up <*>" and must merge
    val m = mined(Seq("up host1", "up host9", "up host22", "up host33"))
    assert(m == Map("up <*>" -> 4L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 200).map(i => s"evt user${100 + i} done")
    val a = LenMa.mineCatalog(lines.toDF("line").repartition(9), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = LenMa.mineCatalog(lines.toDF("line").repartition(1), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
    assert(a == Map("evt <*> done" -> 200L))
  }

  test("sub-1.0 cosine merges near-shapes the exact instance keeps apart") {
    val lines = Seq("up link router1 ok", "up link router2 ok",
      "up link router11 okay", "up link router12 okay")
    // exact instance: [2,4,7,2] and [2,4,8,4] are different length vectors
    assert(mined(lines) == Map("up link <*> ok" -> 2L, "up link <*> okay" -> 2L))
    // cosine([2,4,7,2],[2,4,8,4]) = 84/sqrt(73·100) ≈ 0.9832 ≥ 0.98, two
    // mismatched positions ≤ floor(4·0.5) — the sim instance merges them: a
    // cluster the 1.0 instance CANNOT produce
    val sim = LenMa.mineCatalogSim(lines.toDF("line"), "line", sim = 0.98)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(sim == Map("up link <*> <*>" -> 4L))
    // tightening the threshold above 0.9832 restores the exact partition
    val tight = LenMa.mineCatalogSim(lines.toDF("line"), "line", sim = 0.999)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(tight == mined(lines))
  }

  test("sim instance: mismatch bound is part of the relation (scale contract)") {
    // cosine([2,1],[3,2]) = 8/sqrt(5·13) ≈ 0.992 ≥ 0.98, but BOTH positions
    // differ > floor(2·0.5) = 1 — the banding-compatible relation excludes it
    val lines = Seq("ab c", "ab d", "abc de", "abc df")
    val m = LenMa.mineCatalogSim(lines.toDF("line"), "line", sim = 0.98)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(m == Map("ab <*>" -> 2L, "abc <*>" -> 2L))
  }

  test("sim instance deterministic under repartition") {
    val lines = (0 until 120).map(i => s"evt user${100 + i % 40} c${"9" * (1 + i % 3)}")
    val a = LenMa.mineCatalogSim(lines.toDF("line").repartition(9), "line", 0.98)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = LenMa.mineCatalogSim(lines.toDF("line").repartition(1), "line", 0.98)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("mineCatalog ids are the engine's md5-prefix event ids") {
    val cat = LenMa.mineCatalog(Seq("a bb", "a bc").toDF("line"), "line")
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("a <*>", 2L)))
    cat.foreach { case (id, tpl, _) =>
      assert(id == graft.drain.DrainTree.eventId(tpl))
    }
  }
}
