package graft.slct

import graft.miner.MinerOutput
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SLCT-style frequent-word template miner (Vaarandi, "A Data Clustering Algorithm
  * for Mining Patterns from Event Logs", IPOM'03; the reference ships it as
  * `logparser/SLCT` wrapping Vaarandi's C implementation — upstream-from-memory
  * cite, SURVEY §0.1).
  *
  * Scope — the two counting passes that define the algorithm:
  *  pass 1: global (position, word) frequencies; pairs with count ≥ `support` are
  *          the frequent words;
  *  pass 2: each line is abstracted to its frequent words (infrequent positions →
  *          `<*>`); abstracted lines with ≥ `support` occurrences are the clusters.
  * Lines falling only into sub-support candidates are SLCT's outliers; the
  * reference streams them to a side file — here they are simply not emitted
  * (the count is recoverable as total − sum(occurrences); callers that need the
  * outlier rows anti-join the abstraction against the catalog).
  *
  * Like [[graft.iplom.Iplom]], and unlike the online Drain/Spell miners, both
  * passes are plain aggregations: shuffle 1 counts (pos, word) pairs (map-side
  * combinable; the frequent set is ≤ positions·n/support entries, broadcastable
  * by construction), shuffle 2 groups abstracted lines. Order-independent,
  * collect-free, and therefore DuckDB-provable end-to-end (SparkEntry
  * `slct_templates`).
  */
object Slct {

  private val Wildcard = "<*>"

  /** Mine the cluster catalog: (event_id, event_template, occurrences), occurrences ≥ support.
    *
    * Round-6 shape: pass 2's abstraction is a PURE FUNCTION of the line text
    * given the frequent (position, word) set, and duplicate lines only scale
    * counts — so both passes run over DISTINCT lines with multiplicities
    * (each line contributes each (pos, word) exactly once, so weighting by
    * multiplicity reproduces the per-line counts exactly) and the abstraction
    * is one UDF pass per distinct line. The previous formulation exploded
    * every token of every duplicate, joined the frequent set per token, and
    * re-grouped by a synthetic line id — three per-token exchanges carrying
    * information that never left its line. The frequent dictionary is
    * driver-collected and broadcast — ≤ positions·n/support entries, the same
    * bound that made the old per-token broadcast join safe.
    */
  def mineCatalog(lines: DataFrame, lineCol: String, support: Long): DataFrame =
    MinerOutput.withEventId(MinerOutput.withDistinctLines(lines, lineCol) { dl =>
      val freqSet = dl
        .select(col("cnt"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .groupBy("pos", "tok").agg(sum(col("cnt")).as("wf"))
        .filter(col("wf") >= support)
        .select("pos", "tok").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      val bcFreq = lines.sparkSession.sparkContext.broadcast(freqSet)
      val abstractLine = udf { (toks: Seq[String]) =>
        val fw = bcFreq.value
        toks.iterator.zipWithIndex
          .map { case (t, i) => if (fw((i, t))) t else Wildcard }
          .mkString(" ")
      }
      dl.select(abstractLine(col("toks")).as("event_template"), col("cnt"))
        .groupBy("event_template")
        .agg(sum(col("cnt")).as("occurrences"))
        .filter(col("occurrences") >= support)
    })
}
