package graft.drain

import scala.collection.mutable

/** A mined template cluster. `template` is generalized in place as new lines merge in
  * (reference: `Drain/Drain.py::class Logcluster` ≈L25–30 — SURVEY.md §0.1 citation
  * caveat applies to all cites in this file). We track `count` instead of the
  * reference's full `logIDL` id list — per-line assignment happens in the vectorized
  * match phase, so the miner only needs occurrence counts. Tests that need exact id
  * lists use [[DrainTree.add]]'s returned cluster.
  */
final class LogCluster(var template: Array[String], var count: Long) extends Serializable {
  def templateStr: String = template.mkString(" ")
}

/** One node of the fixed-depth prefix parse tree (reference `::class Node` ≈L33–40).
  * The reference overloads `childD` as dict-of-children OR list-of-clusters depending
  * on depth; we keep two fields — a given node only ever uses one of them (nodes at the
  * break depth hold clusters, shallower nodes hold children; paths are per-length so
  * the two never mix).
  *
  * Child iteration order never affects semantics (only membership tests and size
  * checks), so a plain HashMap is safe; leaf cluster lists preserve insertion order,
  * which `fastMatch` iteration relies on for tie-breaking stability.
  */
final class DrainNode extends Serializable {
  val children = new mutable.HashMap[String, DrainNode]()
  var clusters: mutable.ArrayBuffer[LogCluster] = null
  def clusterList: Seq[LogCluster] = if (clusters == null) Nil else clusters.toSeq
}

/** Faithful re-implementation of the Drain online log-parsing algorithm
  * (He et al., ICWS 2017; reference `Drain/Drain.py` ≈340 LoC).
  *
  * Constructor args mirror the reference (`::__init__` ≈L43–75): `depth` is the
  * external parameter (default 4), internally `depth - 2` token layers are used;
  * `st` the similarity threshold; `maxChild` the per-node child cap.
  *
  * This class is single-threaded mutable state, used in three Spark contexts:
  *  - partition-local mining inside `mapPartitions`/`Aggregator` (one tree per task),
  *  - commutative merge of partial trees ([[canonicalMerge]]),
  *  - frozen read-only catalog broadcast to the match phase ([[search]]).
  */
final class DrainTree(val depth: Int = 4, val st: Double = 0.4, val maxChild: Int = 100)
    extends Serializable {

  private val innerDepth = depth - 2
  private val Wildcard = "<*>"

  /** Layer 1: keyed by token-sequence length (reference `rootNode.childD[seqLen]`). */
  val lengthLayer = new mutable.HashMap[Int, DrainNode]()
  val clusterList = new mutable.ArrayBuffer[LogCluster]()

  /** Reference `::hasNumbers` ≈L77. */
  @inline private def hasNumbers(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (Character.isDigit(s.charAt(i))) return true; i += 1 }
    false
  }

  /** Reference `::treeSearch` ≈L80–105: descend the length layer then up to
    * `depth-2` token layers (literal child preferred, else `<*>`), then match the leaf
    * cluster list. Returns null when no cluster clears the similarity threshold.
    */
  def treeSearch(tokens: Array[String]): LogCluster = {
    val seqLen = tokens.length
    val first = lengthLayer.getOrElse(seqLen, null)
    if (first == null) return null
    var parent = first
    var currentDepth = 1
    var i = 0
    var broke = false
    while (i < seqLen && !broke) {
      if (currentDepth >= innerDepth || currentDepth > seqLen) {
        broke = true
      } else {
        val tok = tokens(i)
        val child = parent.children.getOrElse(tok, null)
        if (child != null) parent = child
        else {
          val wc = parent.children.getOrElse(Wildcard, null)
          if (wc == null) return null
          parent = wc
        }
        currentDepth += 1
        i += 1
      }
    }
    fastMatch(parent.clusterList, tokens)
  }

  /** Reference `::seqDist` ≈L162–180: similarity = #position-equal tokens / len, with
    * template `<*>` positions skipped and counted as parameters. Requires equal length
    * (guaranteed by the length layer).
    */
  def seqDist(template: Array[String], seq: Array[String]): (Double, Int) = {
    require(template.length == seq.length, "seqDist requires equal lengths")
    var sim = 0
    var par = 0
    var i = 0
    while (i < template.length) {
      val t = template(i)
      if (t == Wildcard) par += 1
      else if (t == seq(i)) sim += 1
      i += 1
    }
    (sim.toDouble / template.length, par)
  }

  /** Reference `::fastMatch` ≈L182–205: max similarity, tie-break more parameters,
    * accept iff sim ≥ st. Hot path: integer comparisons only (sim ratios share the
    * denominator len, so comparing simTokens counts is exact), zero allocation.
    */
  def fastMatch(clusters: Seq[LogCluster], seq: Array[String]): LogCluster = {
    var maxSimTok = -1
    var maxPar = -1
    var best: LogCluster = null
    val n = seq.length
    clusters.foreach { c =>
      val tpl = c.template
      var sim = 0; var par = 0; var i = 0
      while (i < n) {
        val t = tpl(i)
        if (t.length == 3 && t == Wildcard) par += 1
        else if (t == seq(i)) sim += 1
        i += 1
      }
      if (sim > maxSimTok || (sim == maxSimTok && par > maxPar)) {
        maxSimTok = sim; maxPar = par; best = c
      }
    }
    if (n == 0) null
    else if (maxSimTok.toDouble / n >= st) best else null
  }

  /** Reference `::getTemplate` ≈L207–220: position-wise keep equal tokens, else `<*>`. */
  def getTemplate(seq: Array[String], template: Array[String]): Array[String] = {
    require(seq.length == template.length)
    val out = new Array[String](seq.length)
    var i = 0
    while (i < seq.length) {
      out(i) = if (seq(i) == template(i)) seq(i) else Wildcard
      i += 1
    }
    out
  }

  /** Reference `::addSeqToPrefixTree` ≈L107–160, including the `maxChild` overflow and
    * digit-token → `<*>` routing quirks, verbatim.
    */
  def addSeqToPrefixTree(cluster: LogCluster): Unit = {
    val tokens = cluster.template
    val seqLen = tokens.length
    var parent = lengthLayer.getOrElseUpdate(seqLen, new DrainNode)
    var currentDepth = 1
    var i = 0
    var done = false
    while (i < seqLen && !done) {
      if (currentDepth >= innerDepth || currentDepth > seqLen) {
        if (parent.clusters == null) parent.clusters = new mutable.ArrayBuffer[LogCluster]()
        parent.clusters += cluster
        done = true
      } else {
        val tok = tokens(i)
        val existing = parent.children.getOrElse(tok, null)
        if (existing == null) {
          if (!hasNumbers(tok)) {
            if (parent.children.contains(Wildcard)) {
              if (parent.children.size < maxChild) {
                val n = new DrainNode; parent.children(tok) = n; parent = n
              } else parent = parent.children(Wildcard)
            } else {
              if (parent.children.size + 1 < maxChild) {
                val n = new DrainNode; parent.children(tok) = n; parent = n
              } else if (parent.children.size + 1 == maxChild) {
                val n = new DrainNode; parent.children(Wildcard) = n; parent = n
              } else parent = parent.children(Wildcard)
            }
          } else {
            parent = parent.children.getOrElseUpdate(Wildcard, new DrainNode)
          }
        } else parent = existing
        currentDepth += 1
        i += 1
      }
    }
    // Reference quirk preserved: sequences shorter than depth-1 exhaust the token loop
    // without reaching the break-depth, so the cluster is inserted in clusterList but
    // never into a leaf — treeSearch can then never match it and every such line mints
    // a fresh (identical-template) cluster. Occurrence counts re-aggregate at output
    // time via the md5 event id, exactly like the reference's value_counts.
  }

  /** One online mining step — the body of the reference's `::parse` loop ≈L292–340.
    * Returns the cluster the line landed in.
    */
  def add(tokens: Array[String]): LogCluster = {
    val matched = treeSearch(tokens)
    if (matched == null) {
      val c = new LogCluster(tokens.clone(), 1L)
      clusterList += c
      addSeqToPrefixTree(c)
      c
    } else {
      matched.count += 1
      // allocate a generalized template only if some position actually changes
      // (the overwhelmingly common case is "no change")
      val tpl = matched.template
      var i = 0
      var differs = false
      while (i < tokens.length && !differs) {
        if (tokens(i) != tpl(i) && tpl(i) != Wildcard) differs = true
        i += 1
      }
      if (differs) matched.template = getTemplate(tokens, tpl)
      matched
    }
  }

  /** Pure match against a frozen tree (no mutation): treeSearch only. Used by the
    * broadcast match phase; returns null for Drain-unmatched residue (→ Spell).
    */
  def search(tokens: Array[String]): LogCluster = treeSearch(tokens)

  /** Commutative merge for partial aggregation: rebuild a FRESH tree from the union
    * of both cluster lists in canonical (length, template-string) order. Because the
    * rebuild input is the same sorted multiset either way, `a.canonicalMerge(b)` and
    * `b.canonicalMerge(a)` are bit-identical (ties are identical templates, whose
    * counts sum commutatively). Online Drain remains insertion-order dependent, so
    * the result across different merge-TREE shapes is PA-grade reproducible, not
    * provably bit-identical — see [[DrainAggregator]]'s contract. Cost is
    * O(|clusters| · insert), independent of row counts.
    */
  def canonicalMerge(other: DrainTree): DrainTree = {
    val t = new DrainTree(depth, st, maxChild)
    (clusterList ++ other.clusterList)
      .sortBy(c => (c.template.length, c.templateStr))
      .foreach(t.mergeCluster)
    t
  }

  private def mergeCluster(c: LogCluster): Unit = {
    val matched = treeSearch(c.template)
    if (matched == null) {
      val copy = new LogCluster(c.template.clone(), c.count)
      clusterList += copy
      addSeqToPrefixTree(copy)
    } else {
      matched.template = getTemplate(c.template, matched.template)
      matched.count += c.count
    }
  }

  /** Deduplicated (eventId, template, count) rows — the reference's templates output
    * (`::outputResult` ≈L222–270): md5-substring ids, counts summed over clusters that
    * generalized to the same template string. Sorted for deterministic output.
    */
  def catalog(): Seq[(String, String, Long)] = {
    val byTemplate = new mutable.HashMap[String, Long]()
    clusterList.foreach { c =>
      val t = c.templateStr
      byTemplate(t) = byTemplate.getOrElse(t, 0L) + c.count
    }
    byTemplate.toSeq
      .map { case (t, n) => (DrainTree.eventId(t), t, n) }
      .sortBy { case (id, t, _) => (t.length, t, id) }
  }
}

object DrainTree {

  /** Reference F5: `hashlib.md5(template.encode('utf-8')).hexdigest()[0:8]`.
    * Byte-identical to Spark's `substring(md5(col), 1, 8)` and DuckDB's
    * `substr(md5(x), 1, 8)` (lowercase hex of UTF-8 bytes) — parity-tested.
    */
  def eventId(template: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(template.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder(8)
    var i = 0
    while (i < 4) { sb.append(f"${d(i) & 0xff}%02x"); i += 1 }
    sb.toString
  }

  /** Mine a finite, ordered stream of token sequences (the sequential oracle path and
    * the per-length-group deterministic miner both use this).
    */
  def mine(lines: IterableOnce[Array[String]], depth: Int = 4, st: Double = 0.4,
           maxChild: Int = 100): DrainTree = {
    val t = new DrainTree(depth, st, maxChild)
    lines.iterator.foreach(t.add)
    t
  }
}
