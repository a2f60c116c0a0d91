package graft.drain

import org.scalatest.funsuite.AnyFunSuite

class DrainSpec extends AnyFunSuite {

  private def T(s: String): Array[String] = s.split(" ")

  test("same-shape lines cluster; template generalizes differing positions to <*>") {
    val t = new DrainTree(depth = 4, st = 0.5)
    val c1 = t.add(T("Send block A to node1"))
    val c2 = t.add(T("Send block B to node2"))
    assert(c1 eq c2)
    assert(c1.templateStr == "Send block <*> to <*>")
    assert(c1.count == 2)
  }

  test("below-threshold similarity creates a new cluster") {
    val t = new DrainTree(depth = 4, st = 0.5)
    t.add(T("alpha beta gamma delta"))
    t.add(T("alpha zz yy xx")) // sim = 1/4 < 0.5
    assert(t.clusterList.size == 2)
  }

  test("different lengths never share a cluster (length layer)") {
    val t = new DrainTree()
    t.add(T("a b c"))
    t.add(T("a b c d"))
    assert(t.clusterList.size == 2)
  }

  test("digit-leading tokens route to the <*> child on insert") {
    val t = new DrainTree(depth = 4, st = 0.5)
    t.add(T("123 req done ok"))
    t.add(T("456 req done ok"))
    // both descend via <*> at layer 2 and must land in the same cluster
    assert(t.clusterList.size == 1)
    assert(t.clusterList.head.templateStr == "<*> req done ok")
  }

  test("reference quirk: lines shorter than depth-1 never match — one cluster per occurrence") {
    val t = new DrainTree(depth = 4, st = 0.5)
    t.add(T("restart"))
    t.add(T("restart"))
    // innerDepth=2; 1-token lines exhaust the loop before the leaf insert,
    // so treeSearch can never find them (see Drain.scala addSeqToPrefixTree note)
    assert(t.clusterList.size == 2)
    // catalog() re-aggregates them by template string
    val cat = t.catalog()
    assert(cat.size == 1 && cat.head._3 == 2)
  }

  test("maxChild caps the fan-out and overflows to <*>") {
    val t = new DrainTree(depth = 4, st = 0.4, maxChild = 3)
    t.add(T("aa x y"))
    t.add(T("bb x y"))   // children: aa, bb  (size+1 == 3 → next literal becomes <*>)
    t.add(T("cc x y"))   // creates <*> child
    t.add(T("dd x y"))   // routed into <*>
    // cc and dd share the <*> subtree leaf → matched into one cluster
    assert(t.clusterList.size == 3)
  }

  test("eventId = first 8 hex chars of md5(utf8), reference F5") {
    assert(DrainTree.eventId("") == "d41d8cd9")        // md5("") pinned
    assert(DrainTree.eventId("abc") == "90015098")     // md5("abc") pinned
  }

  test("seqDist bounds and parameter counting") {
    val t = new DrainTree()
    val (sim, par) = t.seqDist(T("a <*> c"), T("a b d"))
    assert(sim == 1.0 / 3 && par == 1)
    val rnd = new scala.util.Random(42)
    val alphabet = Array("a", "b", "<*>")
    for (_ <- 0 until 500) {
      val tpl = Array.fill(5)(alphabet(rnd.nextInt(3)))
      val seq = Array.fill(5)(alphabet(rnd.nextInt(2)))
      val (s, p) = t.seqDist(tpl, seq)
      assert(s >= 0.0 && s <= 1.0 && p >= 0 && p <= 5)
    }
  }

  test("getTemplate is idempotent and only introduces wildcards") {
    val t = new DrainTree()
    val rnd = new scala.util.Random(7)
    val alphabet = Array("x", "y", "z")
    for (_ <- 0 until 500) {
      val a = Array.fill(6)(alphabet(rnd.nextInt(3)))
      val b = Array.fill(6)(alphabet(rnd.nextInt(3)))
      val g = t.getTemplate(a, b)
      assert(t.getTemplate(g, g).sameElements(g))
      g.zip(a.zip(b)).foreach { case (gi, (ai, bi)) =>
        assert(if (ai == bi) gi == ai else gi == "<*>")
      }
    }
  }

  test("merge: right-side clusters are absorbed or appended; counts are preserved") {
    val left = DrainTree.mine(Seq(T("open file A ok"), T("open file B ok")))
    val right = DrainTree.mine(Seq(T("open file C ok"), T("close conn X err")))
    val totalBefore = left.clusterList.map(_.count).sum + right.clusterList.map(_.count).sum
    val merged = left.canonicalMerge(right)
    assert(merged.clusterList.map(_.count).sum == totalBefore)
    val cat = merged.catalog().map(_._2)
    assert(cat.contains("open file <*> ok"))
    assert(cat.contains("close conn X err"))
  }

  test("canonicalMerge is commutative bit-identically on random partition splits") {
    // the Aggregator's merge contract: merge(a,b) == merge(b,a) exactly, for ANY
    // pair of partials — exercised over randomized splits of a mixed corpus
    val rnd = new scala.util.Random(7)
    val vocab = Array("get", "put", "del", "obj", "cache", "disk", "1", "22", "x9")
    val corpus = (0 until 120).map(_ =>
      Array.fill(3 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.length))))
    for (_ <- 0 until 10) {
      val (pa, pb) = corpus.partition(_ => rnd.nextBoolean())
      val (ta, tb) = (DrainTree.mine(pa), DrainTree.mine(pb))
      val ab = ta.canonicalMerge(tb).catalog()
      val ba = tb.canonicalMerge(ta).catalog()
      assert(ab == ba, "canonicalMerge(a,b) != canonicalMerge(b,a)")
      assert(ab.map(_._3).sum == corpus.size.toLong)
    }
  }

  test("search on a frozen tree matches without mutating") {
    val t = DrainTree.mine(Seq(T("job 1 started on host1"), T("job 2 started on host2")))
    val before = t.catalog()
    val c = t.search(T("job 3 started on host9"))
    assert(c != null && c.templateStr == "job <*> started on <*>")
    assert(t.catalog() == before)
  }
}
