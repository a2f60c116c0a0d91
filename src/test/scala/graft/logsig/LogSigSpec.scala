package graft.logsig

import graft.SparkSuite
import org.apache.spark.sql.functions._

class LogSigSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String], k: Int = 3): Map[String, Long] =
    LogSig.mineCatalog(lines.toDF("line"), "line", k)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("deterministic init separates distinct-initial families; majority signature") {
    // initials a/b/c -> groups 1/2/0 under ascii mod 3; u tokens are minority
    val lines = for (t <- Seq("aaa", "bbb", "ccc"); i <- 1 to 4) yield s"$t u$i ok"
    assert(mined(lines) == Map(
      "aaa <*> ok" -> 4L, "bbb <*> ok" -> 4L, "ccc <*> ok" -> 4L))
  }

  test("local search moves messages toward pair-sharing groups") {
    // adversarial init splits each family 8/2 across two groups; the shared
    // (type, c) pair's squared count pulls the stragglers into the majority
    // group in round one, and round two is the no-move fixpoint check
    val lines = (0 to 9).map(i => s"alpha c x$i") ++ (0 to 9).map(i => s"beta c y$i")
    val digit = substring(element_at(split(col("p"), " "), 3), 2, 1).cast("int")
    val init = when(col("p").startsWith("alpha"),
      when(digit < 8, 0).otherwise(1))
      .otherwise(when(digit < 8, 1).otherwise(0))
    val m = LogSig.mineCatalog(lines.toDF("line"), "line", k = 2,
        maxIters = 10, init = Some(init))
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(m == Map("alpha c <*>" -> 10L, "beta c <*>" -> 10L))
  }

  test("exact 50/50 position is a wildcard; strict majority keeps the token") {
    val even = mined(Seq("s on", "s on", "s off", "s off"), k = 1)
    assert(even == Map("s <*>" -> 4L))
    val skew = mined(Seq("s on", "s on", "s on", "s off"), k = 1)
    assert(skew == Map("s on" -> 4L))
  }

  test("duplicate lines weight the potential and the majority") {
    // 6 copies of u1 dominate: pos 1 majority is u1 (6 of 10 > half)
    val lines = Seq.fill(6)("job u1") ++ (2 to 5).map(i => s"job u$i")
    assert(mined(lines, k = 1) == Map("job u1" -> 10L))
  }

  test("deterministic under repartition") {
    val lines = (0 until 120).map(i => s"ev${i % 3} u${i % 5} done")
    val a = LogSig.mineCatalog(lines.toDF("line").repartition(9), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = LogSig.mineCatalog(lines.toDF("line").repartition(1), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("mineCatalog ids are the engine's md5-prefix event ids") {
    val cat = LogSig.mineCatalog((1 to 4).map(i => s"a b$i").toDF("line"), "line")
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("a <*>", 4L)))
    cat.foreach { case (id, tpl, _) =>
      assert(id == graft.drain.DrainTree.eventId(tpl))
    }
  }
}
