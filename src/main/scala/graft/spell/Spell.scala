package graft.spell

import scala.collection.mutable

/** An LCS-mined cluster (reference `Spell/Spell.py::class LCSObject` ≈L20–30;
  * SURVEY §0.1 citation caveat applies throughout this file).
  */
final class LcsCluster(var template: Array[String], var count: Long) extends Serializable {
  def templateStr: String = template.mkString(" ")
}

/** Prefix-tree node over the constant (non-wildcard) tokens of templates
  * (reference `::class Node` ≈L30–40).
  */
final class SpellNode(var cluster: LcsCluster = null, var templateNo: Long = 0)
    extends Serializable {
  val children = new mutable.HashMap[String, SpellNode]()
}

/** Faithful re-implementation of Spell — streaming LCS-based log parsing
  * (Du & Li, ICDM 2016; reference `Spell/Spell.py` ≈370 LoC).
  *
  * In this engine Spell is the fallback miner/matcher for Drain-unmatched residue
  * (north_star), so its state stays small; it runs as a deterministic sequential pass
  * over the (sorted) residue lines.
  *
  * `tau` is the LCS acceptance threshold (reference default 0.5).
  */
final class SpellModel(val tau: Double = 0.5) extends Serializable {

  private val Wildcard = "<*>"
  val root = new SpellNode()
  val clusterList = new mutable.ArrayBuffer[LcsCluster]()

  /** Reference `::LCS` ≈L60–90: classic DP, backtrack preferring the "up" move the
    * reference takes (result built reversed then flipped).
    */
  def lcs(seq1: Array[String], seq2: Array[String]): List[String] = {
    val n1 = seq1.length; val n2 = seq2.length
    val dp = Array.ofDim[Int](n1 + 1, n2 + 1)
    var i = 0
    while (i < n1) {
      var j = 0
      while (j < n2) {
        dp(i + 1)(j + 1) =
          if (seq1(i) == seq2(j)) dp(i)(j) + 1
          else math.max(dp(i)(j + 1), dp(i + 1)(j))
        j += 1
      }
      i += 1
    }
    var result = List.empty[String]
    var a = n1; var b = n2
    while (a > 0 && b > 0) {
      if (seq1(a - 1) == seq2(b - 1)) { result = seq1(a - 1) :: result; a -= 1; b -= 1 }
      else if (dp(a - 1)(b) > dp(a)(b - 1)) a -= 1
      else b -= 1
    }
    result
  }

  /** Reference `::SimpleLoopMatch` ≈L92–105. `seq` here is the constant-token form. */
  def simpleLoopMatch(seq: Array[String]): LcsCluster = {
    val tokenSet = seq.toSet
    clusterList.foreach { c =>
      if (c.template.length.toDouble >= 0.5 * seq.length &&
          c.template.forall(t => tokenSet.contains(t) || t == Wildcard))
        return c
    }
    null
  }

  /** Reference `::PrefixTreeMatch` ≈L107–130 (recursive descent over constant tokens;
    * accept when the found cluster's constant-token count ≥ tau·|seq|). A cluster that
    * fails the threshold does NOT end the scan — the loop continues at the same
    * parent with the next token, exactly like the reference's for-loop fall-through.
    */
  def prefixTreeMatch(parent: SpellNode, seq: Array[String], idx: Int): LcsCluster = {
    val length = seq.length
    var i = idx
    while (i < length) {
      parent.children.get(seq(i)) match {
        case Some(child) =>
          if (child.cluster != null) {
            val constCount = child.cluster.template.count(_ != Wildcard)
            if (constCount.toDouble >= tau * length) return child.cluster
          } else return prefixTreeMatch(child, seq, i + 1)
        case None => ()
      }
      i += 1
    }
    null
  }

  /** Reference `::LCSMatch` ≈L132–160: candidates with |set∩| ≥ ½|seq|; max LCS
    * length, tie-break shorter template; accept iff |LCS| ≥ tau·|seq|.
    */
  def lcsMatch(seq: Array[String]): (LcsCluster, List[String]) = {
    var maxLen = -1
    var maxLcs: List[String] = Nil
    var best: LcsCluster = null
    val seqSet = seq.toSet
    val size = seq.length
    clusterList.foreach { c =>
      val tplSet = c.template.toSet
      if (seqSet.intersect(tplSet).size >= 0.5 * size) {
        val l = lcs(seq, c.template)
        if (l.length > maxLen ||
            (l.length == maxLen && best != null && c.template.length < best.template.length)) {
          maxLen = l.length; maxLcs = l; best = c
        }
      }
    }
    if (maxLen.toDouble >= tau * size) (best, maxLcs) else (null, Nil)
  }

  /** Reference `::getTemplate` ≈L162–180, including the single trailing `<*>` quirk
    * for the unconsumed remainder of `seq`.
    */
  def getTemplate(lcsSeq: List[String], seq: Array[String]): Array[String] = {
    if (lcsSeq.isEmpty) return Array.empty
    val out = new mutable.ArrayBuffer[String]()
    var rest = lcsSeq
    var i = 0
    var consumed = 0
    while (i < seq.length && rest.nonEmpty) {
      consumed += 1
      if (seq(i) == rest.head) { out += seq(i); rest = rest.tail }
      else out += Wildcard
      i += 1
    }
    if (consumed < seq.length) out += Wildcard
    out.toArray
  }

  private def constantTokens(tokens: Array[String]): Array[String] =
    tokens.filter(_ != Wildcard)

  /** Reference `::addSeqToPrefixTree` ≈L182–200 (over constant tokens; per-node
    * template counters; cluster pinned at the terminal node).
    */
  def addToPrefixTree(cluster: LcsCluster): Unit = {
    var parent = root
    constantTokens(cluster.template).foreach { tok =>
      parent = parent.children.getOrElseUpdate(tok, new SpellNode())
      parent.templateNo += 1
    }
    parent.cluster = cluster
  }

  /** Reference `::removeSeqFromPrefixTree` ≈L200–210. */
  def removeFromPrefixTree(cluster: LcsCluster): Unit = {
    var parent = root
    var stop = false
    constantTokens(cluster.template).foreach { tok =>
      if (!stop) parent.children.get(tok) match {
        case Some(child) =>
          if (child.templateNo == 1) { parent.children.remove(tok); stop = true }
          else { child.templateNo -= 1; parent = child }
        case None => stop = true
      }
    }
  }

  /** Lines consumed by [[add]] — lets a bounded distributed mine cap per-partition
    * work (see `LogPipeline.mineSpellResidue`); purely informational for the
    * sequential path.
    */
  var minedLines: Long = 0L

  /** One online step — the body of reference `::parse` ≈L210–260. `tokens` must
    * already be [[graft.text.Tokens.spell]] tokens of a mask-preprocessed line.
    * `weight` lets a merge replay a whole cluster (template × count) as one step.
    */
  def add(tokens: Array[String], weight: Long = 1L): LcsCluster = {
    minedLines += 1
    val constSeq = constantTokens(tokens)
    var matched = prefixTreeMatch(root, constSeq, 0)
    if (matched == null) {
      matched = simpleLoopMatch(constSeq)
      if (matched == null) {
        val (lcsClust, _) = lcsMatch(tokens)
        if (lcsClust == null) {
          val c = new LcsCluster(tokens.clone(), weight)
          clusterList += c
          addToPrefixTree(c)
          return c
        } else {
          val newTemplate = getTemplate(lcs(tokens, lcsClust.template), lcsClust.template)
          if (newTemplate.mkString(" ") != lcsClust.templateStr) {
            removeFromPrefixTree(lcsClust)
            lcsClust.template = newTemplate
            addToPrefixTree(lcsClust)
          }
          matched = lcsClust
        }
      }
    }
    matched.count += weight
    matched
  }

  /** Commutative merge for partial aggregation (the Spell analog of
    * [[graft.drain.DrainTree.canonicalMerge]]): rebuild a FRESH model by replaying
    * the union of both cluster lists — each cluster as (template, count) — in
    * canonical (templateStr, count) order. The sorted multiset is the same either
    * way, so `a.canonicalMerge(b)` and `b.canonicalMerge(a)` are bit-identical.
    * Like online Drain, online Spell is insertion-order dependent, so results
    * across different merge-TREE shapes are grouping-grade reproducible, not
    * provably bit-identical; `LogPipeline.mineSpellResidue` therefore folds its
    * partials in ascending partition order.
    */
  def canonicalMerge(other: SpellModel): SpellModel = {
    // Empty-side shortcut: merging with an empty partial is the IDENTITY (not a
    // replay), so a residue that lands in one partition stays bit-identical to
    // the sequential mine however many empty partials surround it. The NON-EMPTY
    // operand is returned AS-IS (aliased, not copied) — fine for single-use
    // aggregation buffers, and an empty model always has minedLines == 0 (add()
    // is the only incrementer and always lands a cluster), so no count is lost.
    if (other.clusterList.isEmpty) return this
    if (clusterList.isEmpty) return other
    val m = new SpellModel(tau)
    (clusterList ++ other.clusterList)
      .sortBy(c => (c.templateStr, c.count))
      .foreach(c => m.add(c.template, c.count))
    m.minedLines = minedLines + other.minedLines
    m
  }

  /** Pure (non-mutating) match for the broadcast match phase: the same three-stage
    * lookup, but a miss returns null instead of minting a cluster, and template
    * refinement is skipped (the catalog is frozen).
    */
  def search(tokens: Array[String]): LcsCluster = {
    val constSeq = constantTokens(tokens)
    val m1 = prefixTreeMatch(root, constSeq, 0)
    if (m1 != null) return m1
    val m2 = simpleLoopMatch(constSeq)
    if (m2 != null) return m2
    lcsMatch(tokens)._1
  }
}

object SpellModel {
  def mine(lines: IterableOnce[Array[String]], tau: Double = 0.5): SpellModel = {
    val m = new SpellModel(tau)
    lines.iterator.foreach(toks => m.add(toks))
    m
  }
}
