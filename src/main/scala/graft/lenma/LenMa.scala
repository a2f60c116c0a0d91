package graft.lenma

import graft.miner.{MinerOutput, Pigeonhole}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LenMa-style template miner (Shima, "Length Matters: Clustering System Log
  * Messages using Length of Words", arXiv'16; the reference ships it as
  * `logparser/LenMa/LenMa.py` wrapping the author's templateminer —
  * upstream-from-memory cite, SURVEY §0.1).
  *
  * Core idea: a log line's WORD-LENGTH VECTOR (token count + per-position token
  * lengths) identifies its event type — parameters change a word's characters but
  * rarely its shape. The reference clusters online: each message joins the first
  * existing cluster whose length-vector cosine similarity ≥ threshold, and the
  * cluster template keeps a position's word iff every member agrees.
  *
  * Two deterministic, order-independent instances ship:
  *
  *  - [[mineCatalog]] — similarity threshold 1.0 WITH norm equality, i.e.
  *    clusters are exact length-vector groups (cosine 1.0 alone admits
  *    parallel-but-scaled integer vectors; requiring equal norms makes the
  *    relation transitive, so the result is a partition — no first-match-wins
  *    order dependence). One groupBy on the length-vector key (map-side
  *    combinable) + one per-(cluster, pos) agreement agg.
  *
  *  - [[mineCatalogSim]] (round 4) — the reference's TUNABLE sub-1.0 cosine:
  *    clusters are connected components of {same token count ∧ length vectors
  *    differ in ≤ ⌊maxMismatchFrac·len⌋ positions ∧ cosine ≥ sim} (transitive
  *    closure replaces the reference's order-dependent first-match-wins scan,
  *    same move as LogMine). The mismatch bound is the SCALE CONTRACT addition:
  *    it admits the exact pigeonhole banding below, because cosine alone bounds
  *    nothing — one huge coordinate keeps two vectors parallel no matter how
  *    many small positions differ. Candidates come from ⌊frac·len⌋ + 1
  *    contiguous length-vector bands (a qualifying pair matches ≥ 1 band
  *    completely — no recall caveat within the defined relation); one verify
  *    join makes precision exact. The cosine is computed as exact long
  *    dot/norms cast to double, `dot / (sqrt(na) · sqrt(nb))` — the identical
  *    IEEE expression the DuckDB oracle replays, so the compare is
  *    bit-reproducible.
  *
  * Template rule per cluster is the reference's: a position is a constant iff
  * all members share one token, else `<*>` (SparkEntry `lenma_templates`,
  * `lenma_sim_templates`).
  */
object LenMa {

  /** Mine the template catalog: (event_id, event_template, occurrences). */
  def mineCatalog(lines: DataFrame, lineCol: String): DataFrame = {
    val toks = MinerOutput.lineTokens(lines, lineCol)
      .withColumn("lkey", concat_ws(",",
        transform(col("toks"), t => length(t).cast("string"))))
    MinerOutput.withEventId(
      MinerOutput.agreementTemplates(toks, col("lkey"), lit(1L), col("toks")))
  }

  /** The sub-1.0 cosine instance (see class doc): clusters = connected
    * components of {equal token count ∧ ≤ ⌊maxMismatchFrac·len⌋ differing
    * length-vector positions ∧ cosine(lv_a, lv_b) ≥ sim}.
    */
  def mineCatalogSim(lines: DataFrame, lineCol: String, sim: Double,
                     maxMismatchFrac: Double = 0.5): DataFrame =
    MinerOutput.withEventId(MinerOutput.withDistinctLines(lines, lineCol) { dl =>
      MinerOutput.requireDistinctPids(dl)
      val patterns = dl
        .withColumn("lv", transform(col("toks"), t => length(t).cast("long")))

      // exact pigeonhole banding over the LENGTH VECTOR (LogMine's trick): with
      // nb = floor(frac·len)+1 contiguous bands, a pair differing in ≤ floor(frac·len)
      // positions leaves at least one band untouched
      val cand = Pigeonhole.sameLenPairs(patterns, "lv", maxMismatchFrac)(
        slice => concat_ws(",", transform(slice, x => x.cast("string"))))

      // verify: mismatch bound + cosine over exact long moments (IEEE-identical
      // to the DuckDB oracle's expression)
      def sumSq(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0L), (acc, x) => acc + x * x).cast("double")
      val pa = patterns.select(col("pid").as("id_a"), col("lv").as("lv_a"), col("len"))
      val pb = patterns.select(col("pid").as("id_b"), col("lv").as("lv_b"),
        col("len").as("len_b"))
      val pairs = cand.join(pa, Seq("id_a")).join(pb, Seq("id_b"))
        .filter(col("len") === col("len_b"))
        .withColumn("mism", size(filter(zip_with(col("lv_a"), col("lv_b"),
          (x, y) => x =!= y), m => m)))
        .filter(col("mism") <= floor(col("len") * maxMismatchFrac))
        .withColumn("dot", aggregate(zip_with(col("lv_a"), col("lv_b"),
          (x, y) => x * y), lit(0L), (acc, x) => acc + x).cast("double"))
        .filter(col("dot") / (sqrt(sumSq(col("lv_a"))) * sqrt(sumSq(col("lv_b")))) >= sim)
        .select("id_a", "id_b")

      MinerOutput.agreementTemplates(MinerOutput.clusters(patterns, pairs),
        col("cluster"), col("cnt"), col("toks"))
    })
}
