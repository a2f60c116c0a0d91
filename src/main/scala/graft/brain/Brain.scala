package graft.brain

import graft.miner.MinerOutput
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Brain-style frequency-pattern template miner (Yu, Wu, Li, Yu et al.,
  * "Brain: Log Parsing with Bidirectional Parallel Tree", IEEE TSC 2023;
  * post-2023 upstream logparser layouts ship it as `logparser/Brain/` —
  * upstream-from-memory cite, SURVEY §0.1; presence in the reference fork
  * unverifiable, empty mount).
  *
  * Core idea: within a token-count group, the CONSTANT tokens of one event
  * type co-occur, so they all carry the SAME (position, word) frequency —
  * and a log line's "longest common pattern" (LCP) is the set of positions
  * whose frequency value is shared by the most positions of that line
  * (variables scatter across many frequency values, constants pile onto
  * one). Lines sharing an LCP form a group; Brain then grows a bidirectional
  * tree from the LCP — higher-frequency positions become constants upward,
  * lower-frequency positions become variables downward.
  *
  * Deterministic declarative instance:
  *  1. frequency table per (token count, position, word), duplicate lines
  *     weighted (one map-side-combinable count);
  *  2. per distinct line: modal frequency value = the value shared by the
  *     most positions, ties to the LARGER frequency (the more-frequent group
  *     is the likelier constant skeleton — and the tie-break makes the
  *     result scan-order-free where the upstream's is not);
  *  3. cluster key = (token count, the (position:word) set at the modal
  *     frequency);
  *  4. the bidirectional refinement collapses to positionwise agreement in
  *     this deterministic instance: a non-LCP position stays constant iff
  *     every member agrees (≈ the upward direction), else `<*>` (downward).
  *
  * Scale shape: two hash aggregations and a broadcast-sized frequency join —
  * no pairwise stage, no iteration; DuckDB-provable end-to-end (SparkEntry
  * `brain_templates`).
  */
object Brain {

  /** Mine the template catalog: (event_id, event_template, occurrences). */
  def mineCatalog(lines: DataFrame, lineCol: String): DataFrame =
    MinerOutput.withEventId(MinerOutput.withDistinctLines(lines, lineCol) { base =>
      // The per-line joins below key on the pattern's pid, not the line
      // STRING (round 6): the modal/LCP stages shuffle one row per (line,
      // position), each formerly carrying the full raw line as its key — 8-byte
      // keys shuffle and compare for a fraction of that (guide §2.3 "narrower
      // types"). A pid collision fails the mine instead of merging two lines.
      MinerOutput.requireDistinctPids(base)
      val pe = base.select(col("pid"), col("cnt"), col("len"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      // frequency of each (len, pos, word), weighted by line multiplicity
      val freq = pe.groupBy("len", "pos", "tok").agg(sum(col("cnt")).as("f"))
      val m = pe.join(freq, Seq("len", "pos", "tok"))

      // Modal frequency + LCP key per line in ONE gather + UDF pass (round 6):
      // both are pure functions of the line's own (pos, tok, f) vector, so the
      // former two modal aggregations, the LCP join + aggregation and the
      // join-back to `base` (four per-token exchanges) collapse into one
      // groupBy(pid). Rule-for-rule identical: modal f = the value carried by
      // the most positions, ties to the LARGER f; LCP = the
      // LEXICOGRAPHICALLY sorted "pos:tok" strings at the modal f, joined by
      // ','; ckey = "len|lcp".
      val ckeyU = udf { (len: Int, toks: Seq[String], fs: Seq[Long]) =>
        val counts = new scala.collection.mutable.HashMap[Long, Int]()
        fs.foreach(f => counts.update(f, counts.getOrElse(f, 0) + 1))
        val modal = counts.maxBy { case (f, n) => (n, f) }._1
        val lcp = fs.indices.collect { case i if fs(i) == modal => s"$i:${toks(i)}" }
          .sorted.mkString(",")
        s"$len|$lcp"
      }
      val withCluster = m.groupBy("pid")
        .agg(first(col("cnt")).as("cnt"), first(col("len")).as("len"),
          array_sort(collect_list(struct(col("pos"), col("tok"), col("f")))).as("arr"))
        .withColumn("ckey", ckeyU(col("len"),
          col("arr.tok"), col("arr.f")))

      MinerOutput.agreementTemplates(withCluster, col("ckey"), col("cnt"), col("arr.tok"))
    })
}
