package graft.lenma

import graft.miner.MinerOutput
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
  *  - [[mineTemplates]] — similarity threshold 1.0 WITH norm equality, i.e.
  *    clusters are exact length-vector groups (cosine 1.0 alone admits
  *    parallel-but-scaled integer vectors; requiring equal norms makes the
  *    relation transitive, so the result is a partition — no first-match-wins
  *    order dependence). One groupBy on the length-vector key (map-side
  *    combinable) + one per-(cluster, pos) agreement agg.
  *
  *  - [[mineTemplatesSim]] (round 4) — the reference's TUNABLE sub-1.0 cosine:
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

  /** Mine the template catalog: (event_template, occurrences). */
  def mineTemplates(lines: DataFrame, lineCol: String): DataFrame = {
    val toks = MinerOutput.lineTokens(lines, lineCol)
      .withColumn("lkey", concat_ws(",",
        transform(col("toks"), t => length(t).cast("string"))))

    MinerOutput.agreementTemplates(
      toks.select(col("lkey").as("ckey"), lit(1L).as("w"),
        posexplode(col("toks")).as(Seq("pos", "tok"))))
  }

  /** [[mineTemplates]] plus the engine's md5-prefix event id. */
  def mineCatalog(lines: DataFrame, lineCol: String): DataFrame =
    MinerOutput.withEventId(mineTemplates(lines, lineCol))

  /** The sub-1.0 cosine instance (see class doc): clusters = connected
    * components of {equal token count ∧ ≤ ⌊maxMismatchFrac·len⌋ differing
    * length-vector positions ∧ cosine(lv_a, lv_b) ≥ sim}.
    */
  def mineTemplatesSim(lines: DataFrame, lineCol: String, sim: Double,
                       maxMismatchFrac: Double = 0.5): DataFrame =
    MinerOutput.withDistinctLines(lines, lineCol) { dl =>
      val patterns = dl
        .withColumn("pid", xxhash64(col("p")))
        .withColumn("lv", transform(col("toks"), t => length(t).cast("long")))
        .withColumn("len", size(col("toks")))

      // exact pigeonhole banding over the LENGTH VECTOR (LogMine's trick): with
      // nb = floor(frac·len)+1 contiguous bands, a pair differing in ≤ floor(frac·len)
      // positions leaves at least one band untouched
      val banded = patterns
        .withColumn("nb", (floor(col("len") * maxMismatchFrac) + 1).cast("int"))
        .select(col("pid"), col("len"), col("lv"), col("nb"),
          explode(sequence(lit(0), col("nb") - 1)).as("band"))
        .withColumn("bstart", floor(col("band") * col("len") / col("nb")).cast("int"))
        .withColumn("bend", floor((col("band") + 1) * col("len") / col("nb")).cast("int"))
        .withColumn("bh", xxhash64(col("band"), concat_ws(",",
          transform(slice(col("lv"), col("bstart") + 1, col("bend") - col("bstart")),
            x => x.cast("string")))))
        .select(col("len"), col("band"), col("bh"), col("pid"))

      val ca = banded.select(col("len"), col("band"), col("bh"), col("pid").as("id_a"))
      val cb = banded.select(col("len"), col("band"), col("bh"), col("pid").as("id_b"))
      val cand = ca.join(cb, Seq("len", "band", "bh"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()

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

      val labeled = graft.dedup.Dedup.connectedComponents(pairs)
      val withCluster = patterns
        .join(labeled.withColumnRenamed("id", "pid"), Seq("pid"), "left")
        .withColumn("cluster", coalesce(col("component"), col("pid")))
      MinerOutput.agreementTemplates(
        withCluster.select(col("cluster").as("ckey"), col("cnt").as("w"),
          posexplode(col("toks")).as(Seq("pos", "tok"))))
    }

  /** [[mineTemplatesSim]] plus the engine's md5-prefix event id. */
  def mineCatalogSim(lines: DataFrame, lineCol: String, sim: Double,
                     maxMismatchFrac: Double = 0.5): DataFrame =
    MinerOutput.withEventId(
      mineTemplatesSim(lines, lineCol, sim, maxMismatchFrac))
}
