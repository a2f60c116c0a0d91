package graft.lke

import graft.SparkSuite

class LkeSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String], splitThreshold: Int = 4): Map[String, Long] =
    Lke.mineCatalog(lines.toDF("line"), "line", splitThreshold)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("edit-distance clusters separate; high-cardinality column wildcards") {
    // intra distances 1 (digit changes), inter distances >> — the learned 2-means
    // threshold must land between the modes; host cardinality 6 > splitThreshold 4
    // so the column stays a wildcard
    val lines = (1 to 6).map(i => s"conn host$i ok") ++
      (1 to 6).map(i => s"shutdown imminent t$i")
    assert(mined(lines) == Map(
      "conn <*> ok" -> 6L,
      "shutdown imminent <*>" -> 6L))
  }

  test("private-content splitting iterates to fixpoint across rounds") {
    // one cluster (the learned threshold admits every intra pair: max intra
    // distance w1+w2+w3 = 435 milli « the 935-milli gap to the far 'reboot'
    // mode), three columns: A (cardinality 2) splits round 1, P (cardinality 3)
    // splits round 2, u (cardinality 6 > threshold) stays a wildcard
    val lines = (for {
      a <- Seq("a", "b"); p <- Seq("p1", "p2", "p3"); u <- 1 to 6
    } yield s"job $a $p u$u") ++ (1 to 6).map(i => s"reboot now immediate t$i")
    val expected = (for { a <- Seq("a", "b"); p <- Seq("p1", "p2", "p3") }
      yield s"job $a $p <*>" -> 6L).toMap + ("reboot now immediate <*>" -> 6L)
    assert(mined(lines) == expected)
  }

  test("split column honors the threshold boundary") {
    // cardinality exactly == splitThreshold splits; one above does not. The
    // 'halt' group supplies the far distance mode (888 milli) so 2-means leaves
    // the whole ev group (intra ≤ 388 milli) in one component at both settings.
    val lines = (for (x <- Seq("aa", "ab", "ba", "bb"); u <- 1 to 6)
      yield s"ev u$u $x") ++ (1 to 6).map(i => s"halt now t$i")
    val m4 = mined(lines, splitThreshold = 4)
    assert(m4 == Seq("aa", "ab", "ba", "bb").map(x => s"ev <*> $x" -> 6L).toMap +
      ("halt now <*>" -> 6L))
    val m3 = mined(lines, splitThreshold = 3)
    assert(m3 == Map("ev <*> <*>" -> 24L, "halt now <*>" -> 6L))
  }

  test("weighted token distance: early positions dominate, diverges from char distance") {
    // both pairs are ONE char edit apart — char Levenshtein cannot tell them
    // apart; the position-weighted token distance charges the type-position
    // edit (pos 0, w=500 milli) heavier than the parameter edit (pos 1, w=269)
    assert(Lke.weightedTokenDist(Seq("errox", "aa"), Seq("error", "aa")) == 500L)
    assert(Lke.weightedTokenDist(Seq("error", "ab"), Seq("error", "aa")) == 269L)
    // w(0) outweighs the whole tail: one early edit costs more than many late ones
    assert(Lke.weightMilli.head > Lke.weightMilli.tail.take(16).sum)
    // unequal lengths pay the positional indel weight
    assert(Lke.weightedTokenDist(Seq("a", "b"), Seq("a")) == 269L)
    // DP finds the cheap alignment: insert "a" at pos 0 (w=500), then match
    // "b" — not sub+insert (769)
    assert(Lke.weightedTokenDist(Seq("b"), Seq("a", "b")) == 500L)
    // equal-length lines: distance = sum of mismatched positions' weights
    assert(Lke.weightedTokenDist(Seq("t", "u1", "job", "2"), Seq("t", "u3", "job", "1"))
      == 269L + 47L)
  }

  test("weighted distance drives clustering where char distance would merge") {
    // 'errox'/'error' differ by one CHAR (levenshtein 1 — char distance would
    // chain them into one cluster with the u-parameter edits); the weighted
    // token distance puts the pos-0 edit (500) above the learned threshold
    // while keeping the pos-1 parameter edits (269) below it
    val lines = (1 to 6).map(i => s"error u$i") ++ (1 to 6).map(i => s"errox w$i")
    assert(mined(lines) == Map("error <*>" -> 6L, "errox <*>" -> 6L))
  }

  test("duplicate lines weight occurrences, not the distance graph") {
    val lines = Seq.fill(5)("up host1 ok") ++ Seq.fill(3)("up host2 ok") ++
      (3 to 6).map(i => s"up host$i ok")
    assert(mined(lines) == Map("up <*> ok" -> 12L))
  }

  test("fail-stop above maxPatterns instead of a quadratic job") {
    val lines = (0 until 50).map(i => s"line nr$i")
    val ex = intercept[IllegalArgumentException] {
      Lke.mineCatalog(lines.toDF("line"), "line", 4, maxPatterns = 10).count()
    }
    assert(ex.getMessage.contains("maxPatterns"))
  }

  test("deterministic under repartition") {
    val lines = (0 until 60).map(i => s"evt u${i % 6} code c${i % 12}")
    val a = Lke.mineCatalog(lines.toDF("line").repartition(9), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = Lke.mineCatalog(lines.toDF("line").repartition(1), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("mineCatalog ids are the engine's md5-prefix event ids") {
    val cat = Lke.mineCatalog((1 to 6).map(i => s"a b$i").toDF("line"), "line")
      .as[(String, String, Long)].collect()
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("a <*>", 6L)))
    cat.foreach { case (id, tpl, _) =>
      assert(id == graft.drain.DrainTree.eventId(tpl))
    }
  }
}
