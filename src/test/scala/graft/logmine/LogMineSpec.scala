package graft.logmine

import graft.SparkSuite

class LogMineSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String], maxDist: Double = 0.3): Map[String, Long] =
    LogMine.mineCatalog(lines.toDF("line"), "line", maxDist)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("patterns within maxDist cluster; positionwise agreement forms the template") {
    // len 3, maxDist 0.34 -> 1 mismatch allowed
    val lines = Seq("conn a ok", "conn a ok", "conn b ok", "drop x err")
    assert(mined(lines, 0.34) == Map(
      "conn <*> ok" -> 3L, // two patterns, one mismatching position, counts summed
      "drop x err" -> 1L)) // singleton keeps its own pattern
  }

  test("clustering is the transitive closure of the distance relation") {
    // p1~p2 (pos1), p2~p3 (pos2): p1 vs p3 has TWO mismatches but chains into one
    // cluster — deterministic closure instead of the reference's scan-order greedy
    val lines = Seq("a x m q", "a y m q", "a y n q")
    val m = mined(lines, 0.26) // len 4 -> 1 mismatch allowed
    assert(m == Map("a <*> <*> q" -> 3L))
  }

  test("pigeonhole banding finds pairs with mismatches spread across bands") {
    // len 10, maxDist 0.3 -> 3 mismatches over 4 bands: at least one band is
    // clean, so the band join must surface the pair (exact recall, no caveat)
    val base = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    val far = "t0 XX t2 t3 YY t5 t6 ZZ t8 t9" // mismatches in bands 0, 1, 3
    val m = mined(Seq(base, far), 0.3)
    assert(m == Map("t0 <*> t2 t3 <*> t5 t6 <*> t8 t9" -> 2L))
  }

  test("equal distance but different token counts never pair") {
    val m = mined(Seq("a b c", "a b c d"), 0.9)
    assert(m == Map("a b c" -> 1L, "a b c d" -> 1L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 200).map(i => s"evt u${i % 20} c${i % 5}")
    val a = LogMine.mineCatalog(lines.toDF("line").repartition(13), "line", 0.34)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = LogMine.mineCatalog(lines.toDF("line").repartition(1), "line", 0.34)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
    assert(a.values.sum == 200L)
  }

  private def minedX(lines: Seq[String], maxDist: Double = 0.34): Map[String, Long] =
    LogMine.mineCatalogXLen(lines.toDF("line"), "line", maxDist)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("cross-length alignment merges templates of different token counts") {
    // "start u1" (2 toks) vs "start u1 extra" (3): LCS 2 → dist 1 − 4/5 = 0.2;
    // within-length-3 pairs mismatch 1/3 ≤ 0.34; the equal-length-only instance
    // keeps the two lengths apart, the XLen instance folds them into one
    // NW-merged template
    val lines = Seq("start u1", "start u2", "start u1 extra", "start u2 extra")
    // equal-length instance: the 2-token patterns are 1/2 > 0.34 apart from
    // each other — singletons; only the 3-token pair clusters
    assert(mined(lines, 0.34) == Map(
      "start u1" -> 1L, "start u2" -> 1L, "start <*> extra" -> 2L))
    // XLen: each 2-token pattern hooks in through its same-parameter
    // single-insertion pair (dist 0.2) → ONE mixed-length cluster
    assert(minedX(lines) == Map("start <*> <*>" -> 4L))
  }

  test("cross-length banding finds single-insertion pairs; far pairs stay apart") {
    // the pair differs ONLY by the inserted token → dist 1 − 8/9 ≈ 0.11; the
    // unrelated 5-token line shares no band content
    val lines = Seq("get /idx http 200", "get /idx cache http 200",
      "post /api v2 q 500")
    assert(minedX(lines, 0.2) == Map(
      "get /idx <*> http 200" -> 2L, "post /api v2 q 500" -> 1L))
  }

  test("XLen equals the equal-length instance when no cross pairs qualify") {
    val lines = (0 until 60).map(i => s"evt u${i % 6} c${i % 3}")
    assert(minedX(lines) == mined(lines, 0.34))
  }

  test("XLen deterministic under repartition") {
    val lines = (0 until 120).map(i =>
      if (i % 4 == 0) s"evt u${i % 6} extra" else s"evt u${i % 6}")
    val a = LogMine.mineCatalogXLen(lines.toDF("line").repartition(11), "line", 0.34)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = LogMine.mineCatalogXLen(lines.toDF("line").repartition(1), "line", 0.34)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
    assert(a.values.sum == 120L)
  }

  test("alignMerge emits one wildcard per alignment column, ties to diagonal") {
    assert(LogMine.alignMerge(Seq("evt", "a", "done"), Seq("evt", "x", "y", "done"))
      == Seq("evt", "<*>", "<*>", "done"))
    assert(LogMine.alignMerge(Seq("a", "b"), Seq("a", "b")) == Seq("a", "b"))
    assert(LogMine.lcsLen(Seq("start", "u1"), Seq("start", "u1", "extra")) == 2)
  }

  test("mineCatalog ids are the engine's md5-prefix event ids") {
    val cat = LogMine.mineCatalog(Seq("up h1 ok", "up h2 ok").toDF("line"), "line", 0.34)
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("up <*> ok", 2L)))
    cat.foreach { case (id, tpl, _) =>
      assert(id == graft.drain.DrainTree.eventId(tpl))
    }
  }
}
