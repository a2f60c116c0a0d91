package graft.ulp

import graft.miner.MinerOutput
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ULP-style template miner (Sedki, Hamou-Lhadj & Ait-Mohamed, "An Effective
  * Approach for Parsing Large Log Files" — the ULP paper, ICSME'22; post-2023
  * upstream layouts ship it as `logparser/ULP/ULP.py` — upstream-from-memory
  * cite, SURVEY §0.1. The mount is empty, so the implementation below realizes
  * the PUBLISHED method description; the upstream file's exact grouping key
  * could not be byte-verified — re-ground per §0.1 if the mount populates).
  *
  * The published method has three stages:
  *  1. **preprocessing** — mask obvious dynamic values; realized as the same
  *     token-level rule the AEL stage-1 uses (any digit-bearing token → `<*>`),
  *     so the DuckDB oracle needs no lookbehind (RE2-safe) and the two miners
  *     share one masking contract;
  *  2. **textual grouping** — events that share the same token count AND the
  *     same masked-token layout form one group; the group key here is the
  *     layout string (each position rendered `_` for a surviving token, `<*>`
  *     for a masked one — it encodes both the length and the wildcard
  *     positions);
  *  3. **local frequency analysis** — token frequencies are computed INSIDE
  *     each group (ULP's distinction from LFA's corpus-global pass 1): a
  *     position is static iff one token occupies it in every member (its local
  *     frequency equals the group cardinality), otherwise it becomes `<*>`.
  *     Frequency-equals-cardinality is exactly positionwise agreement, so the
  *     assembly reuses [[graft.miner.MinerOutput.agreementTemplates]]
  *     (min == max detects unanimity without a per-cell count_distinct).
  *
  * Scale shape (100 TB-safe): raw lines compress to DISTINCT masked patterns
  * with multiplicities first (one map-side-combinable hash agg — the only stage
  * that sees corpus rows), then grouping + agreement run on the bounded pattern
  * universe: two more hash aggs, no window, no pairwise stage, no collect.
  * Every stage is relational, so the whole mine is DuckDB-provable end to end
  * (SparkEntry `ulp_templates`).
  */
object Ulp {

  private val Wildcard = "<*>"

  /** ULP preprocessing, shared verbatim with the oracle's SQL mirror: any token
    * carrying a digit is a dynamic value (ids, sizes, ips, timestamps).
    */
  def maskTokens(toks: Column): Column =
    transform(toks, t => when(t.rlike("[0-9]"), lit(Wildcard)).otherwise(t))

  /** Mine the template catalog: `(event_id, event_template, occurrences)`. Every line
    * lands in exactly one template (like LFA, ULP has no outlier stream — a
    * singleton group simply keeps all its surviving tokens static).
    */
  def mineCatalog(lines: DataFrame, lineCol: String): DataFrame = {
    // distinct-pattern compression: the distinct lines, then mask and
    // re-aggregate (two distinct lines can collapse onto one masked pattern)
    val pat = MinerOutput.distinctLines(lines, lineCol)
      .select(maskTokens(col("toks")).as("toks"), col("cnt"))
      .groupBy("toks").agg(sum("cnt").as("cnt"))
    // stage-2 group key: the masked layout (length + wildcard positions)
    val keyed = pat.withColumn("ckey",
      concat_ws(" ", transform(col("toks"),
        t => when(t === Wildcard, lit(Wildcard)).otherwise(lit("_")))))
    // stage 3: positionwise agreement inside each group, weighted by pattern
    // multiplicity; masked positions agree on <*> by construction
    MinerOutput.withEventId(
      MinerOutput.agreementTemplates(keyed, col("ckey"), col("cnt"), col("toks")))
  }
}
