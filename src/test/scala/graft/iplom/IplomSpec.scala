package graft.iplom

import graft.SparkSuite

class IplomSpec extends SparkSuite {
  import spark.implicits._

  private def mined(lines: Seq[String], refinements: Int = 1): Map[String, Long] =
    Iplom.mineCatalog(lines.toDF("line"), "line", refinements)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap

  test("step 1+2+4: length partition, lowest-cardinality split, constant detection") {
    val lines = Seq(
      "alpha req 1 ok", "alpha req 2 ok", "alpha req 3 ok",
      "beta conn 7 err", "beta conn 8 err",
      "short line")
    val m = mined(lines)
    // len=4 group: pos0 and pos1 both have nd=2 (pos2 nd=5, pos3 nd=2); the
    // LEFTMOST minimum (pos0) is the split, giving alpha/beta partitions in which
    // pos1 and pos3 collapse to constants and pos2 stays variable
    assert(m == Map(
      "alpha req <*> ok" -> 3L,
      "beta conn <*> err" -> 2L,
      "short line" -> 1L))
  }

  test("a partition with no multi-valued position is final (no split, no wildcard)") {
    val m = mined(Seq("a b c", "a b c", "a b c"))
    assert(m == Map("a b c" -> 3L))
  }

  test("identical templates from different partitions merge their counts") {
    // len=2 group splits on pos0 → partitions x/y; both generalize pos1 to <*>?
    // no — within x: {1,2} → "x <*>"; within y: {1} → "y 1". Craft a merge case
    // via refinement instead: after splitting on pos0, partitions (x 1) and (x 2)
    // don't exist — so merge only happens when two partitions yield the same
    // template string; force it with equal-length groups whose split tokens both
    // wildcard out their remaining position to identical pieces
    val lines = Seq("u v p q", "u v p r", "u w p q", "u w p r")
    // len=4: nds = pos0:1 pos1:2 pos2:1 pos3:2 → split pos1 (leftmost nd>1 min)
    // partition v: "u v p <*>" (2); partition w: "u w p <*>" (2) — no merge yet,
    // but with refinements=2 both split again on pos3 → four singleton partitions,
    // whose templates are the four distinct lines
    val m1 = mined(lines)
    assert(m1 == Map("u v p <*>" -> 2L, "u w p <*>" -> 2L))
    val m2 = mined(lines, refinements = 2)
    assert(m2 == Map("u v p q" -> 1L, "u v p r" -> 1L,
      "u w p q" -> 1L, "u w p r" -> 1L))
  }

  test("deterministic under repartition (declarative mine has no order dependence)") {
    val lines = (0 until 200).map(i => s"evt type${i % 3} user$i done") ++
      (0 until 50).map(i => s"ping host${i % 7}")
    val a = Iplom.mineCatalog(lines.toDF("line").repartition(13), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    val b = Iplom.mineCatalog(lines.toDF("line").repartition(1), "line")
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(a == b)
    assert(a.values.sum == 250L)
  }

  test("step 3: bijection-mapping split — 1-1/1-M key on t1, M-1 on t2, M-M stays") {
    val lines = Seq(
      // partition "3 s1" after the step-2 split on pos0: GC = 0/3 < 0.35, two
      // multi-valued positions -> eligible. Pairs (a,x*) and (b,y*) are 1-M
      // (each x/y value maps back to exactly one left token) -> split on t1;
      // (d,w1) is 1-1 -> also keyed on t1.
      "s1 a x1", "s1 a x2", "s1 b y1", "s1 b y2", "s1 d w1", "s1 d w1",
      // (e1,v0) and (e2,v0) are M-1 (each left token maps to exactly one right
      // token, the right token maps back to two) -> split on t2
      "s1 e1 v0", "s1 e2 v0",
      // partition "3 s2": only ONE multi-valued position -> step 3 skipped
      "s2 c z1", "s2 c z2",
      // partition "3 s3": every (p,q) pair is M-M -> ONE sub-partition, both
      // positions wildcard together (the paper's M-M rule)
      "s3 p1 q1", "s3 p1 q2", "s3 p2 q1", "s3 p2 q2")
    val m = mined(lines)
    assert(m == Map(
      "s1 a <*>" -> 2L, "s1 b <*>" -> 2L, "s1 d w1" -> 2L, "s1 <*> v0" -> 2L,
      "s2 c <*>" -> 2L,
      "s3 <*> <*>" -> 4L))
    // ct <= 0 disables step 3: s1 collapses to a single catch-all partition
    val noStep3 = Iplom.mineCatalog(lines.toDF("line"), "line", ct = 0.0)
      .select("event_template", "occurrences").as[(String, Long)].collect().toMap
    assert(noStep3("s1 <*> <*>") == 8L)
  }

  test("step 3: cluster-goodness gate skips partitions that are already good") {
    // after splitting on pos0, partition "4 a": positions req/ok constant ->
    // GC = 2/4 = 0.5 >= 0.35 -> good, step 3 must NOT split even though two
    // multi-valued positions exist
    val lines = Seq(
      "a req 1 ok x1", "a req 2 ok x2", "a req 3 ok x3",
      "b req 1 ok y1")
    // len=5 group: pos0 nd=2 is the lowest multi -> split on a/b; "5 a" then has
    // pos2 (1,2,3) and pos4 (x*) multi, pos0/1/3 constant -> GC=3/5=0.6 -> skip
    val m = mined(lines)
    assert(m == Map("a req <*> ok <*>" -> 3L, "b req 1 ok y1" -> 1L))
  }

  test("mineCatalog ids are the engine's md5-prefix event ids") {
    // split lands on pos1 (nd=2 < nd=3); pos2 stays variable inside partition x
    val cat = Iplom.mineCatalog(Seq("a x 1", "a x 2", "a y 3").toDF("line"), "line")
      .as[(String, String, Long)].collect().sortBy(_._2)
    assert(cat.map(c => (c._2, c._3)).toSeq == Seq(("a x <*>", 2L), ("a y 3", 1L)))
    cat.foreach { case (id, tpl, _) =>
      assert(id == graft.drain.DrainTree.eventId(tpl))
    }
  }
}
