package graft.ael

import graft.miner.MinerOutput
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AEL-style template miner (Jiang, Hassan, Hamann & Flora, "An Automated Approach
  * for Abstracting Execution Logs to Execution Events", JSME'08; reference ships it
  * as `logparser/AEL/AEL.py` — upstream-from-memory cite, SURVEY §0.1).
  *
  * The four published stages, re-expressed declaratively:
  *  1. anonymize — the paper's heuristics normalized to two PER-TOKEN rules
  *     (token-level so the oracle needs no lookbehind, which RE2 lacks):
  *     `key=value` → `key=<*>`, then any digit-bearing token → `<*>`;
  *  2. tokenize — bin by (token count, wildcard count);
  *  3. categorize — identical anonymized lines merge into one template;
  *  4. reconcile — template groups in one bin that are identical except at ONE
  *     position merge into the holed template. Each round is a leftmost-hole
  *     greedy pass: a template picks its smallest position whose hole signature
  *     is shared by ≥ 2 distinct templates, and a merge is emitted only where
  *     ≥ 2 templates actually chose the same hole (a template whose partners
  *     merged elsewhere keeps its original form — no lone wildcards). Since
  *     round 3 the pass ITERATES TO FIXPOINT (the reference's reconcile loop):
  *     merged templates re-bin (their wildcard count grew) and can merge again
  *     next round; the loop ends when a round merges nothing. Termination is
  *     structural — every merge strictly reduces the template count — and a
  *     `maxReconcile` guard fail-stops rather than looping silently.
  *
  * Stages 1–3 are a map over the distinct lines + one aggregation; stage 4
  * operates on template GROUPS (post-categorize cardinality, orders of
  * magnitude below row count), so its explode-by-position is bounded by
  * |templates|·len. Order-independent, collect-free, DuckDB-provable
  * (SparkEntry `ael_templates`).
  */
object Ael {

  private val Wildcard = "<*>"
  private val KeyValue = java.util.regex.Pattern.compile("^\\w+=\\S+$")

  /** Stage 1 for one token: `key=value` → `key=<*>` (the value is everything
    * after the FIRST '='), else any digit-bearing token → `<*>`, else unchanged.
    */
  private[ael] def anonymizeToken(t: String): String =
    if (KeyValue.matcher(t).matches()) t.substring(0, t.indexOf('=')) + "=<*>"
    else if (t.exists(c => c >= '0' && c <= '9')) Wildcard
    else t

  /** [[anonymizeToken]] over a token array in one compiled-pattern UDF pass. */
  private val anonymize = udf((toks: Seq[String]) => toks.map(anonymizeToken))

  /** One leftmost-hole reconcile round over a `(pieces, occurrences)` template
    * table; bins (len, nwild) are recomputed from the pieces so merged templates
    * re-bin correctly between rounds.
    */
  private def reconcileOnce(templates: DataFrame): DataFrame = {
    val cat = templates
      .withColumn("len", size(col("pieces")))
      .withColumn("nwild", size(filter(col("pieces"),
        p => p === Wildcard || p.endsWith("=<*>"))))
    // stage 4: hole signatures over template groups
    val holes = cat
      .select(col("len"), col("nwild"), col("pieces"), col("occurrences"),
        explode(sequence(lit(1), col("len"))).as("p"))
      .withColumn("holed", transform(col("pieces"),
        (piece, i) => when(i === col("p") - 1, lit(Wildcard)).otherwise(piece)))
    val mergeable = holes
      .groupBy("len", "nwild", "p", "holed")
      .agg(count_distinct(col("pieces")).as("ntpl"))
      .filter(col("ntpl") >= 2)
      .select(col("len"), col("nwild"), col("p"), col("holed"), lit(true).as("m"))
    // each template's chosen hole = its smallest mergeable position (if any)
    val chosen = holes.join(broadcast(mergeable),
        Seq("len", "nwild", "p", "holed"), "left")
      .groupBy(col("len"), col("nwild"), col("pieces"))
      .agg(min(when(col("m"), col("p"))).as("p_chosen"),
        first(col("occurrences")).as("occurrences"))
      .withColumn("merged",
        when(col("p_chosen").isNotNull, transform(col("pieces"),
          (piece, i) => when(i === col("p_chosen") - 1, lit(Wildcard)).otherwise(piece)))
          .otherwise(col("pieces")))
    // a merge is real only where >= 2 templates chose the same hole
    chosen
      .groupBy(col("len"), col("nwild"), col("p_chosen"), col("merged"))
      .agg(count_distinct(col("pieces")).as("ntpl"),
        sum(col("occurrences")).as("occ"),
        // deterministic fallback when the group turns out to be a lone chooser
        min(col("pieces")).as("lone_pieces"))
      .withColumn("pieces",
        when(col("p_chosen").isNotNull && col("ntpl") >= 2, col("merged"))
          .otherwise(col("lone_pieces")))
      .groupBy(col("pieces"))
      .agg(sum(col("occ")).as("occurrences"))
  }

  /** Mine the reconciled catalog: (event_template, occurrences). */
  def mineTemplates(lines: DataFrame, lineCol: String,
                    maxReconcile: Int = 20): DataFrame = {
    // stages 1–3: anonymize the distinct lines' tokens, bin, categorize
    var cat = MinerOutput.distinctLines(lines, lineCol)
      .select(anonymize(col("toks")).as("pieces"), col("cnt"))
      .groupBy(col("pieces"))
      .agg(sum(col("cnt")).as("occurrences"))
      .localCheckpoint(true)
    // stage 4 to fixpoint: every merge strictly reduces the template count, so
    // equality means the round merged nothing. localCheckpoint per round stops
    // the plan growing with the iteration (same trap as connectedComponents).
    var n = cat.count()
    var iter = 0
    var converged = false
    while (!converged && iter < maxReconcile) {
      val next = reconcileOnce(cat).localCheckpoint(true)
      val n2 = next.count()
      converged = n2 == n
      cat = next; n = n2; iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"AEL reconcile did not reach a fixpoint in $maxReconcile rounds")
    cat.groupBy(concat_ws(" ", col("pieces")).as("event_template"))
      .agg(sum(col("occurrences")).as("occurrences"))
  }

  /** [[mineTemplates]] plus the engine's md5-prefix event id. */
  def mineCatalog(lines: DataFrame, lineCol: String,
                  maxReconcile: Int = 20): DataFrame =
    MinerOutput.withEventId(mineTemplates(lines, lineCol, maxReconcile))
}
