package graft.logcluster

import graft.SparkSuite

class LogClusterSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String], support: Long): Map[String, Long] =
    LogCluster.mineCatalog(lines.toDF("line"), "line", support)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("frequent words keep order; infrequent runs become *{min,max} gaps") {
    val lines = Seq(
      "user alice logged in",          // gap between 'user' and 'logged' = 1
      "user bob smith logged in",      // gap = 2
      "user carol logged in")          // gap = 1
    val m = mined(lines, support = 3)
    // word support: user 3, logged 3, in 3; alice/bob/smith/carol 1 each
    assert(m == Map("user *{1,2} logged in" -> 3L))
  }

  test("a member that skips nothing pins the gap minimum at 0") {
    val lines = Seq("start end", "start mid end", "start a b end")
    val m = mined(lines, support = 3)
    assert(m == Map("start *{0,2} end" -> 3L))
  }

  test("position independence: the same word supports lines at different positions") {
    // 'commit' appears at pos 0 twice and pos 1 twice — support 4 counts them all
    // (SLCT's positional counting would see two sub-support pairs instead)
    val lines = Seq("commit txn1", "commit txn2", "db commit now1", "db commit now2")
    val m = mined(lines, support = 4)
    // frequent: commit(4); db(2)/txn*/now* infrequent. Cluster identity is the
    // frequent-word TUPLE alone, so all four lines share cluster [commit] and the
    // gap bounds aggregate across both shapes — SLCT's positional counting would
    // instead see two sub-support pairs and emit nothing at s=4
    assert(m == Map("*{0,1} commit *{1,1}" -> 4L))
  }

  test("sub-support clusters drop; the no-frequent-word cluster is outliers") {
    val lines = Seq.fill(4)("ping host up") ++ Seq("zzz yyy", "qqq rrr")
    val m = mined(lines, support = 3)
    // zzz/yyy/qqq/rrr all infrequent → both lines join the empty-key cluster
    // (count 2 < 3) → dropped with the other outliers
    assert(m == Map("ping host up" -> 4L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 120).map(i => s"req ses${i} GET /idx done") ++
      (0 until 30).map(i => s"req ses${i} tail POST /api done")
    val a = LogCluster.mineCatalog(lines.toDF("line").repartition(13), "line", 25)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == mined(lines, 25))
    // freq: req 150, GET/idx 120, POST/api/tail 30, done 150
    assert(a == Map("req *{1,1} GET /idx done" -> 120L,
      "req *{1,1} tail POST /api done" -> 30L))
  }

  test("mineCatalog ids match the engine's md5-prefix event ids") {
    val cat = LogCluster.mineCatalog(
      Seq("up x1 ok", "up y2 ok").toDF("line"), "line", 2)
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("up *{1,1} ok", 2L)))
    assert(cat.head._1 == graft.drain.DrainTree.eventId("up *{1,1} ok"))
  }
}
