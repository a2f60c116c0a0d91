package graft.shiso

import graft.miner.MinerOutput
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SHISO-style template miner (Mizutani, "Incremental Mining of System Log
  * Format", SCC'13; the reference ships it as `logparser/SHISO/SHISO.py` —
  * upstream-from-memory cite, SURVEY §0.1).
  *
  * Core idea: SHISO compares a log's tokens to node formats via CHARACTER-CLASS
  * composition vectors — each token is projected to counts of (uppercase,
  * lowercase, digit, other) characters, and two tokens are similar when their
  * class vectors are close; similar logs merge into a node whose format keeps a
  * position's token iff members agree, else a wildcard.
  *
  * Scope — the deterministic, order-independent instance (same move as
  * [[graft.lenma.LenMa]]): similarity at EXACT class-vector equality, i.e. the
  * cluster key is the full sequence of per-token class vectors. Exact equality is
  * transitive, so the result is a partition with no first-arrival order
  * dependence; SHISO's online tree (child limit, format regeneration on the fly)
  * is the sequential part and stays out of scope like Drain/Spell's streaming
  * modes (SURVEY §2.9). Template rule per cluster is the reference's: a position
  * is a constant iff all members share one token, else `<*>`.
  *
  * Shape: level-0 exact pattern dedup (one map-side-combinable groupBy — at
  * 100 TB the class-vector computation runs once per DISTINCT line, not per
  * line), one groupBy on the class-vector key, one per-(cluster, pos) agreement
  * agg — fully declarative, DuckDB-provable (SparkEntry `shiso_templates`).
  */
object Shiso {

  private val Uppers = ('A' to 'Z').mkString
  private val Lowers = ('a' to 'z').mkString
  private val Digits = "0123456789"

  /** Per-token character-class composition signature `u:l:d:o` (upper, lower,
    * digit, other counts). Pure codegen'd column expressions; class counts are
    * `length(tok) - length(translate(tok, class, ''))` — translate is a plain
    * char-table scan, ~4× cheaper than the regexp_replace formulation it
    * replaced (the regex engine dominated this miner's bench profile).
    */
  def classSignature(tok: Column): Column = {
    val u = length(tok) - length(translate(tok, Uppers, ""))
    val l = length(tok) - length(translate(tok, Lowers, ""))
    val d = length(tok) - length(translate(tok, Digits, ""))
    val o = length(tok) - u - l - d
    concat_ws(":", u, l, d, o)
  }

  /** Mine the template catalog: (event_id, event_template, occurrences). */
  def mineCatalog(lines: DataFrame, lineCol: String): DataFrame = {
    // fan the distinct-pattern set back out to cluster width (round 6): AQE
    // coalesces the level-0 dedup's reduce side to ONE partition by byte size,
    // but the class-signature transform below is CPU-bound per pattern — a
    // single task serialized the whole mine (measured ~1 s single-threaded on
    // a 32-core session). Width follows the cluster, not a local constant;
    // the downstream is a pure groupBy, partition-count invariant.
    val patterns = MinerOutput.distinctLines(lines, lineCol)
      .repartition(lines.sparkSession.sparkContext.defaultParallelism)

    val keyed = patterns.withColumn("ckey",
      concat_ws(",", transform(col("toks"), classSignature(_))))

    MinerOutput.withEventId(
      MinerOutput.agreementTemplates(keyed, col("ckey"), col("cnt"), col("toks")))
  }
}
