package graft.iplom

import graft.miner.MinerOutput
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IPLoM-style template miner (Makanju, Zincir-Heywood & Milios, "Clustering Event
  * Logs Using Iterative Partitioning", KDD'09; reference ships it as
  * `logparser/IPLoM/IPLoM.py::LogParser` — upstream-from-memory cite, SURVEY §0.1).
  *
  * Scope: the full partition-refinement chain — step 1 (partition by token count),
  * step 2 (split each partition on its lowest-cardinality token position, iterated
  * `refinements` times), step 3 (bijection-mapping partitioning, since round 3),
  * step 4 (per-partition template: a position is a constant iff it has exactly one
  * distinct token, else `<*>`).
  *
  * Step 3 here is the mapping-split core of `IPLoM.py::Get_Mapping` / the step-3
  * block: per partition, pick P1/P2 = the two lowest-cardinality multi-valued
  * positions; classify each (t1, t2) value pair by its mapping relation —
  * m2(t2)=1 ⇒ 1-1 or 1-M (key the partition split on t1), m1(t1)=1 ∧ m2>1 ⇒ M-1
  * (key on t2), else M-M (all such lines stay together in one sub-partition, the
  * paper's M-M rule). The paper's cluster-goodness gate IS emulated (`ct`,
  * reference default 0.35: a partition whose single-valued-position ratio is
  * already >= ct is "good" and skips step 3); the upper/lower-bound side knobs
  * for choosing which side of a 1-M splits are not pinned by the north_rule and
  * are deliberately not emulated — the mapping classification itself is faithful.
  *
  * Why this miner exists next to Drain/Spell: it is FULLY declarative. Drain and
  * Spell are online algorithms (sequential state, order-dependent); IPLoM's steps
  * are plain aggregations, so the whole mine is groupBy/agg/window — no
  * accumulators, no collect, no UDF state. Each refinement costs two shuffles
  * (token-position cardinalities + the re-key), all map-side-combinable, and the
  * final template emission is one aggregation per partition key — the shape you
  * want at 10^12 rows, and the reason this is the one miner with a DuckDB oracle
  * (SparkEntry `iplom_templates`).
  */
object Iplom {

  /** Mine templates from a string column of log lines.
    *
    * @param lines       input rows
    * @param lineCol     the raw line column
    * @param refinements step-2 rounds: each round splits every partition on its
    *                    lowest-cardinality multi-valued token position (cardinality
    *                    ties broken by the leftmost position). 1 matches the paper's
    *                    single step-2 pass; more rounds = finer partitions.
    * @param ct          step-3 cluster-goodness threshold (reference default 0.35):
    *                    partitions whose single-valued-position ratio is >= ct are
    *                    already "good" and skip the bijection split; ct <= 0
    *                    disables step 3 entirely.
    * @return (event_id, event_template, occurrences), identical templates from
    *         different partitions merged, deterministically ordered by the caller.
    */
  def mineCatalog(lines: DataFrame, lineCol: String, refinements: Int = 1,
                  ct: Double = 0.35): DataFrame = {
    // step 1: tokenize; the initial partition key is the token count
    val toks = MinerOutput.lineTokens(lines, lineCol)
      .select(col("toks"), size(col("toks")).as("len"))
      .withColumn("pkey", col("len").cast("string"))

    // step 2, iterated: split on the lowest-cardinality position with >1 distinct
    // token. Positions with a single distinct value are already constant (splitting
    // on them is a no-op), and a partition with no multi-valued position is final.
    // materialized once: the refined rows feed FOUR branches (cards3, withPair,
    // and m1/m2 through it) — unmaterialized, Catalyst re-evaluates the whole
    // step-2 lineage (two shuffles per refinement) per branch (the
    // CollapseProject re-evaluation trap, round-2 lesson)
    val refined = (1 to refinements).foldLeft(toks) { (df, _) =>
      val cards = df
        .select(col("pkey"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .groupBy("pkey", "pos")
        .agg(count_distinct(col("tok")).as("nd"))
        .filter(col("nd") > 1)
        .groupBy("pkey")
        .agg(min_by(col("pos"), struct(col("nd"), col("pos"))).as("split_pos"))
      df.join(broadcast(cards), Seq("pkey"), "left")
        .withColumn("pkey",
          when(col("split_pos").isNull, col("pkey")).otherwise(
            concat(col("pkey"), lit(" "),
              element_at(col("toks"), col("split_pos") + 1))))
        .drop("split_pos")
    }.localCheckpoint(true)

    // step 3: bijection-mapping split (see class doc), GATED by the paper's
    // cluster-goodness test: a partition enters step 3 only when
    // GC = |single-valued positions| / |positions| < ct (a "bad" cluster) AND it
    // has at least two multi-valued positions to map. P1/P2 = the two
    // lowest-cardinality multi-valued positions (leftmost on ties). Pair typing
    // needs two count-distinct aggregations; the per-partition tables broadcast,
    // one more round of the step-2 groupBy shape — no new shuffle structure.
    val cards3 = refined
      .select(col("pkey"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .groupBy("pkey", "pos")
      .agg(count_distinct(col("tok")).as("nd"))
    val eligible = cards3.groupBy("pkey")
      .agg((sum(when(col("nd") === 1, 1L).otherwise(0L)) / count(lit(1))).as("gc"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("nMulti"))
      .filter(col("gc") < ct && col("nMulti") >= 2)
      .select("pkey")
    val pp = cards3.filter(col("nd") > 1)
      .join(eligible, Seq("pkey"), "left_semi")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("pkey")
          .orderBy(col("nd"), col("pos"))))
      .filter(col("rn") <= 2)
      .groupBy("pkey")
      .agg(max(when(col("rn") === 1, col("pos"))).as("p1"),
        max(when(col("rn") === 2, col("pos"))).as("p2"))
      .filter(col("p2").isNotNull)
    // withPair stays LAZY: its three consumers (m1, m2, mapped) re-evaluate only
    // the cheap join+projection over the materialized `refined` — and keeping it
    // declarative leaves the explicit broadcast(pp) visible in the plan
    val withPair = refined.join(broadcast(pp), Seq("pkey"), "left")
      .withColumn("t1", when(col("p1").isNotNull, element_at(col("toks"), col("p1") + 1)))
      .withColumn("t2", when(col("p2").isNotNull, element_at(col("toks"), col("p2") + 1)))
    val m1 = withPair.filter(col("p1").isNotNull).groupBy("pkey", "t1")
      .agg(count_distinct(col("t2")).as("m1"))
    val m2 = withPair.filter(col("p1").isNotNull).groupBy("pkey", "t2")
      .agg(count_distinct(col("t1")).as("m2"))
    // m1/m2 are one row per distinct VALUE pair side — unbounded in the worst
    // case, so they join hash-shuffled (AQE broadcasts them when small), unlike
    // the per-partition tables (cards/pp), which are safe to broadcast.
    val mapped = withPair
      .join(m1, Seq("pkey", "t1"), "left")
      .join(m2, Seq("pkey", "t2"), "left")
      .withColumn("pkey", concat(col("pkey"),
        when(col("p1").isNull, lit(""))
          .when(col("m2") === 1, concat(lit(" B1:"), col("t1"))) // 1-1 and 1-M: key on t1
          .when(col("m1") === 1, concat(lit(" B2:"), col("t2"))) // M-1: key on t2
          .otherwise(lit(" MM")))) // M-M: one sub-partition
      .select("pkey", "toks")

    // step 4: per partition, a position is constant iff it has exactly one
    // distinct token — the shared agreement assembly (weight 1 per raw line)
    MinerOutput.withEventId(
      MinerOutput.agreementTemplates(mapped, col("pkey"), lit(1L), col("toks")))
  }
}
