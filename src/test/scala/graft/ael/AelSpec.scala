package graft.ael

import graft.SparkSuite

class AelSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String]): Map[String, Long] =
    Ael.mineTemplates(lines.toDF("line"), "line")
      .as[(String, Long)].collect().toMap

  test("anonymize: key=value and digit-bearing tokens wildcard, others stay") {
    val out = Seq("send", "id=42", "to", "host7", "now", "k=v=1").map(Ael.anonymizeToken)
    assert(out == Seq("send", "id=<*>", "to", "<*>", "now", "k=<*>"))
  }

  test("categorize: identical anonymized lines merge counts") {
    val m = mined(Seq("job 17 done", "job 99 done", "job 3 done"))
    assert(m == Map("job <*> done" -> 3L))
  }

  test("reconcile: one-position difference merges within the bin") {
    val m = mined(Seq("alpha start ok", "alpha start ok", "alpha start ok",
      "beta start ok", "beta start ok"))
    assert(m == Map("<*> start ok" -> 5L))
  }

  test("reconcile: no lone wildcards — a template whose partners merged elsewhere stays") {
    // T1="a x ok" can merge at pos1 (with T2) or pos2 (with T3); leftmost greedy
    // sends T1+T2 to "<*> x ok", leaving T3's only hole without a partner
    val m = mined(Seq("a x ok", "b x ok", "a y ok"))
    assert(m == Map("<*> x ok" -> 2L, "a y ok" -> 1L))
  }

  test("bins isolate: same token count, different wildcard count never merges") {
    // "conn 8 up" anonymizes to bin (3, 1); "conn down up" is bin (3, 0) — the
    // one-position difference across bins must not reconcile
    val m = mined(Seq("conn 8 up", "conn 9 up", "conn down up", "link down up"))
    assert(m == Map("conn <*> up" -> 2L, "<*> down up" -> 2L))
  }

  test("reconcile iterates to fixpoint: merged templates re-bin and merge again") {
    // round 1: (a b x, a c x) -> "a <*> x", (a b y, a c y) -> "a <*> y";
    // round 2: the two merged templates now share bin (len 3, nwild 1) and
    // differ at ONE position -> "a <*> <*>"; round 3 merges nothing -> fixpoint.
    // A single greedy round would have stopped at {"a <*> x", "a <*> y"}.
    val m = mined(Seq("a b x", "a b y", "a c x", "a c y"))
    assert(m == Map("a <*> <*>" -> 4L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 200).map(i => s"evt type${i % 4} stage${i % 5} end")
    val a = Ael.mineTemplates(lines.toDF("line").repartition(11), "line")
      .as[(String, Long)].collect().toMap
    assert(a == mined(lines))
    assert(a.values.sum == 200L)
  }

  test("mineCatalog ids match the engine's md5-prefix event ids") {
    val cat = Ael.mineCatalog(Seq("put 1 x", "put 2 x").toDF("line"), "line")
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("put <*> x", 2L)))
    assert(cat.head._1 == graft.drain.DrainTree.eventId("put <*> x"))
  }
}
