package perfbench

import graft.SparkEntry
import graft.pipeline.{PipelineConfig, ResumableRunner}
import graft.table.ParquetManifestTable
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** query_suite: closed loop, single client, driver-latency bound. A fixed set of
  * `SparkEntry.queries` runs into a noop sink, one pass per fresh session
  * (`SparkEntry` caches per application id), over the read-only driver tables.
  */
object QuerySuite {

  /** The timed set, sized so a cold warm-up pass plus a timed pass fit one
    * run: the eval join, the log queries sharing its cached assignment, one
    * driver-latency-bound miner, and queries of every other family, chosen to
    * reach the text and dedup stages (`td_pipeline`), sampling, the multimodal
    * features, the ANN search and the as-of join.
    * The other miners are timed one by one in traced mode.
    */
  val Timed: Seq[String] = Seq(
    "log_eval_scores", "log_templates", "log_matched_by", "log_routed_rows",
    "lenma_templates",
    "td_pipeline", "td_budget_sample", "mm_features", "ann_lsh_topk", "j_asof")

  /** The resumable chunked run (`graft.pipeline.ResumableRunner`), timed in
    * traced mode and checked against its oracle there.
    */
  val Resume = "log_resume_metrics"

  /** Run in traced mode only, after the timed set: the remaining log queries and
    * miners, so every one of them gets a per-query time. `log_stream_templates`
    * is left out: it stages files under `/dev/shm`, outside the benchmark's
    * directory.
    */
  val TracedExtra: Seq[String] = Seq(
    "iplom_templates", "lke_templates", "logsig_templates", "lenma_sim_templates",
    "log_params", "log_enrich_region", "log_pa_by_style", "log_templates_agg",
    "log_spell_templates",
    "slct_templates", "ael_templates", "logcluster_templates", "logmine_templates",
    "logram_templates", "brain_templates", "ulp_templates", "logmine_xlen_templates",
    "lfa_templates", "shiso_templates", "molfi_templates")

  val Miners: Set[String] = Set("iplom", "slct", "ael", "logcluster", "logmine", "logram",
    "brain", "ulp", "logmine_xlen", "lfa", "lenma", "lenma_sim", "shiso", "lke", "logsig",
    "molfi").map(_ + "_templates")

  /** A measured run is a fixed number of passes, sized from `--seconds` with a
    * nominal pass time (see `BatchRoute.NominalJobS`).
    */
  val NominalPassS = 8.0
  val MinPasses = 2

  val Families = Seq("log", "miners", "curation", "dedup_ann", "events_tpch")

  def family(q: String): String =
    if (Miners.contains(q)) "miners"
    else if (q.startsWith("log_")) "log"
    else if (q.startsWith("d_") || q.startsWith("ann_")) "dedup_ann"
    else if (Seq("e_", "j_", "q", "w_", "set_", "agg_").exists(q.startsWith)) "events_tpch"
    else "curation"

  /** Oracles pinned to the sf0.01 corpus; at sf0.001 they are replaced by the
    * internal consistency checks in [[checkPinned]].
    */
  val PinnedAtSf001 = Set("log_eval_scores", "log_templates", "log_matched_by", "log_routed_rows")

  final case class Timing(name: String, secs: Double)

  /** The registry's `log_resume_metrics`, which stages its run under
    * `/dev/shm`: the same run (100 pages in 3 chunks) into the work dir.
    */
  def resumeMetrics(spark: SparkSession, ctx: Ctx): DataFrame = {
    val out = ctx.dir("query/resume")
    Common.delete(out)
    val rep = ResumableRunner.run(spark, PipelineConfig.hdfs, 100L, out, nChunks = 3)
    ParquetManifestTable.read(spark, rep.controlTable).orderBy("chunk", "matched_by")
  }

  /** One pass. With `outDir`, every result is written as parquet for the oracle
    * check; otherwise into the noop sink. A failure is recorded, never retried.
    */
  def pass(spark: SparkSession, ctx: Ctx, names: Seq[String], outDir: Option[String],
           r: Report, tagFamilies: Boolean): Seq[Timing] = names.map { q =>
    r.attempted += 1
    val fam = if (tagFamilies) s"entry.${family(q)}" else null
    val sc = spark.sparkContext
    sc.setLocalProperty(LayerTrace.Key, fam)
    val t0 = Common.now()
    try {
      val df = if (q == Resume) resumeMetrics(spark, ctx) else SparkEntry.queries(q)(spark, ctx.data)
      outDir match {
        case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q")
        case None => df.write.mode("overwrite").format("noop").save()
      }
    } catch { case e: Exception => r.fail(s"query $q", e) }
    finally sc.setLocalProperty(LayerTrace.Key, null)
    val t = Timing(q, Common.now() - t0)
    Common.log(f"query ${t.name} ${t.secs}%.3f s")
    t
  }

  /** The sf0.01-pinned log queries, checked against each other at sf0.001. */
  def checkPinned(spark: SparkSession, out: String, r: Report): Unit = {
    import org.apache.spark.sql.functions._
    def read(q: String) = spark.read.parquet(s"$out/$q")
    val tpl = read("log_templates").groupBy("event_id").agg(sum("occurrences").as("n"))
    val routed = read("log_routed_rows").select(col("event_id"), col("n_rows").as("n"))
    val diff = tpl.exceptAll(routed).count() + routed.exceptAll(tpl).count()
    r.check("query.log_routed_rows_equal_template_counts", diff == 0, s"$diff differing rows")
    val byMatch = read("log_matched_by").agg(sum("rows")).first().getLong(0)
    val total = read("log_templates").agg(sum("occurrences")).first().getLong(0)
    r.check("query.log_matched_by_covers_every_line", byMatch == total, s"$byMatch vs $total")
    val pa = read("log_eval_scores").first().getAs[Double]("parsing_accuracy")
    r.check("query.log_eval_parsing_accuracy_at_least_floor", pa >= BatchRoute.PaFloor,
      s"PA $pa < ${BatchRoute.PaFloor}")
  }

  /** Writes the DuckDB oracles of the checkable timed queries, and with
    * `resume` that of the resumable run, in the layout `tools/check_oracles.py`
    * reads.
    */
  def writeOracles(out: String, resume: Boolean): Unit = {
    val oracles = SparkEntry.oracleSql.filter { case (q, _) =>
      Timed.contains(q) && !PinnedAtSf001.contains(q) || resume && q == Resume
    }
    val json = oracles.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Common.jsonStr(k)}: ${Common.jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), json)
  }

  def run(ctx: Ctx, r: Report): Unit = {
    r.facts("query.seed_note") =
      "query_suite reads fixed driver tables: the seed does not change its inputs"
    val sessionSecs = ArrayBuffer[Double]()
    def fresh(): SparkSession = {
      val (s, secs) = Common.timed(Common.session(ctx, "query_suite"))
      sessionSecs += secs
      s
    }

    // set-up: session start, then an untimed warm-up pass that also writes the
    // results the oracle check reads
    val verify = ctx.dir("query/verify")
    Common.delete(verify)
    var spark = fresh()
    val warm = pass(spark, ctx, Timed, Some(verify), r, tagFamilies = false)
    writeOracles(verify, resume = ctx.trace)
    checkPinned(spark, verify, r)
    Common.stop(spark)

    // measured: one pass per fresh session
    val passes = ArrayBuffer[Seq[Timing]]()
    while (passes.size < math.max(MinPasses, math.ceil(ctx.seconds / NominalPassS).toInt)) {
      spark = fresh()
      passes += pass(spark, ctx, Timed, None, r, tagFamilies = false)
      Common.stop(spark)
    }
    val heap = Common.retainedHeapMb()
    if (ctx.trace) tracedPass(ctx, passes.toSeq, verify, r)
    val setup = Common.median(sessionSecs.toSeq) + warm.map(_.secs).sum
    Common.log(s"query setup: sessions ${sessionSecs.mkString(",")} warm ${warm.map(_.secs).sum}")
    val passSecs = passes.map(_.map(_.secs).sum).toSeq
    Common.log(s"query pass totals: ${passSecs.mkString(",")}")
    r.metrics("setup_s") = (setup, "s")
    r.metrics("throughput_per_s") = (Timed.size / Common.median(passSecs), "1/s")
    r.metrics("p50_s") = (Common.median(passSecs), "s")
    r.facts("query.measured_passes") = passSecs.size.toString
    r.metrics("retained_heap_mb") = (heap, "MB")
  }

  /** Traced mode, in a fresh session: the timed set again under the listener
    * (overhead = traced total minus the last untraced total), then the
    * remaining log queries and miners, and the resumable run, whose result goes
    * to `verify` for the oracle check.
    */
  private def tracedPass(ctx: Ctx, untraced: Seq[Seq[Timing]], verify: String,
                         r: Report): Unit = {
    val s = Common.session(ctx, "query_suite_traced")
    val t = LayerTrace.install(s)
    val timed = pass(s, ctx, Timed, None, r, tagFamilies = true)
    val extra = pass(s, ctx, TracedExtra, None, r, tagFamilies = true) ++
      pass(s, ctx, Seq(Resume), Some(verify), r, tagFamilies = true)
    r.layers("trace.overhead_s") =
      (timed.map(_.secs).sum - untraced.last.map(_.secs).sum, "s")
    (timed ++ extra).foreach { q =>
      if (family(q.name) == "log" || family(q.name) == "miners")
        r.layers(s"entry.${q.name}_s") = (q.secs, "s")
    }
    Families.foreach { f =>
      r.layers(s"entry.${f}_s") = ((timed ++ extra).filter(q => family(q.name) == f).map(_.secs).sum, "s")
      val st = t.get(s, s"entry.$f")
      r.layers(s"entry.$f.jobs") = (st.jobs.toDouble, "count")
      r.layers(s"entry.$f.stages") = (st.stages.toDouble, "count")
    }
    Common.stop(s)
  }
}
