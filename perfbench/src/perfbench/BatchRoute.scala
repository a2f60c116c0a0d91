package perfbench

import graft.eval.Evaluator
import graft.ingest.WebPagesGen
import graft.pipeline.{LogPipeline, MatchCatalog, PipelineConfig}
import graft.table.ParquetManifestTable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** batch_route: the product's headline job, closed loop, one job at a time —
  * parse → sampled mine (Drain, then the Spell residue) → match → enrich →
  * routed manifest-table write, plus the per-template counts sink.
  */
object BatchRoute {

  /** Corpus size in pages (about 11.5 lines per page). */
  val Pages = 6000L
  val WarmupJobs = 2
  /** A measured run is a fixed number of jobs, sized from `--seconds` with a
    * nominal job time, never from the jobs' own speed: stopping on elapsed
    * time would give fast runs an extra, warmer job and bias their median.
    */
  val NominalJobS = 3.5
  val MinJobs = 3
  val SetupRepeats = 3
  /** The hdfs floor of the multi-style PA sweep. */
  val PaFloor = 0.95

  /** The `graft.Bench` scale configuration, a mine sampled to 50k lines per
    * token length over its 200k-page corpus, with the cap scaled to this
    * corpus (1,500 lines) so the sample keeps the same share of the lines.
    */
  val BenchPages = 200000L
  val cfg: PipelineConfig =
    PipelineConfig.hdfs.copy(mineSampleLimit = Some((50000L * Pages / BenchPages).toInt))

  val Phases = Seq("parse", "mine_drain", "mine_spell", "match", "route", "templates")

  /** Seed-derived page ids, written as narrow (url, warc_ts, text) parquet. */
  def writeCorpus(spark: SparkSession, base: Long, n: Long, dir: String, files: Int): Unit = {
    import spark.implicits._
    spark.range(base, base + n, 1, files).as[Long]
      .map { id => val p = WebPagesGen.pageFor(id); (p.url, p.warc_ts, p.text) }
      .toDF("url", "warc_ts", "text")
      .write.mode("overwrite").parquet(dir)
  }

  /** Per-line generator ground truth for page ids [base, base + n). */
  def groundTruth(spark: SparkSession, base: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(base, base + n).as[Long].flatMap { id =>
      val url = WebPagesGen.pageFor(id).url
      (0 until WebPagesGen.linesPerPage(id)).map(i => (url, i, WebPagesGen.templateIdFor(id, i)))
    }.toDF("url", "line_no", "gt_id")
  }

  /** Order-independent digest of a frozen catalog (Drain + Spell templates). */
  def catalogDigest(c: MatchCatalog): String = {
    val drain = c.drain.catalog().map { case (id, t, n) => s"d|$id|$t|$n" }
    val spell = c.spell.clusterList.map(x => s"s|${x.templateStr}|${x.count}")
    Common.md5Hex((drain ++ spell).sorted.mkString("\n"))
  }

  /** One job's persisted intermediates; released by [[release]]. */
  final case class Job(wall: Double, phaseSecs: Map[String, Double], masked: DataFrame,
                       assigned: DataFrame, catalog: MatchCatalog, bc: Broadcast[MatchCatalog],
                       table: String, templates: String) {
    def release(): Unit = {
      assigned.unpersist(blocking = true)
      masked.unpersist(blocking = true)
      bc.destroy()
    }
  }

  /** Runs one job into fresh sinks under `out`. With `phased`, the parse and
    * match intermediates are materialized inside their own layer so every phase
    * is timed on its own.
    */
  def job(spark: SparkSession, input: String, out: String, dim: DataFrame,
          phased: Boolean): Job = {
    Common.delete(out)
    val table = s"$out/routed"
    val templates = s"$out/templates"
    val p = new LogPipeline(cfg)
    val secs = scala.collection.mutable.LinkedHashMap[String, Double]()
    def layer[T](name: String)(body: => T): T = {
      val (r, s) = LayerTrace.inLayer(spark, s"pipeline.$name")(body)
      secs(name) = s
      r
    }
    val t0 = Common.now()
    val masked = layer("parse") {
      val m = p.withMasked(p.structure(p.explodeLines(spark.read.parquet(input))))
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (phased) m.count()
      m
    }
    val drain = layer("mine_drain")(p.mineDrain(masked))
    val spell = layer("mine_spell")(p.mineSpellResidue(masked, drain))
    val catalog = new MatchCatalog(drain, spell)
    val bc = spark.sparkContext.broadcast(catalog)
    val assigned = layer("match") {
      val a = p.matchPhase(masked, bc)
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (phased) a.count()
      a
    }
    layer("route")(p.routedWrite(p.enrich(assigned, dim), table, "batch"))
    layer("templates")(p.templateCounts(assigned).write.mode("overwrite").parquet(templates))
    Job(Common.now() - t0, secs.toMap, masked, assigned, catalog, bc, table, templates)
  }

  /** Output checks on one job (untimed). */
  def check(spark: SparkSession, j: Job, base: Long, r: Report): Unit = {
    val parsed = j.assigned.count()
    val routed = ParquetManifestTable.read(spark, j.table)
    r.check("batch.routed_rows_equal_parsed_lines", routed.count() == parsed,
      s"routed ${routed.count()} vs parsed $parsed")
    val perSink = routed.groupBy("event_id").agg(count(lit(1)).as("n"))
    val perTemplate = spark.read.parquet(j.templates)
      .groupBy("event_id").agg(sum("occurrences").as("n"))
    val diff = perSink.exceptAll(perTemplate).count() + perTemplate.exceptAll(perSink).count()
    r.check("batch.routed_rows_per_event_id_equal_template_counts", diff == 0,
      s"$diff differing (event_id, rows) pairs")
    val joined = j.assigned.select("url", "line_no", "event_id")
      .join(groundTruth(spark, base, Pages), Seq("url", "line_no"))
    val pa = Evaluator.evaluate(joined).parsingAccuracy
    r.facts("batch.parsing_accuracy") = pa.toString
    r.check("batch.parsing_accuracy_at_least_floor", pa >= PaFloor, s"PA $pa < $PaFloor")
  }

  def run(ctx: Ctx, r: Report): Unit = {
    val (spark, sessionS) = Common.timed(Common.session(ctx, "batch_route"))
    val base = Common.pageBase(ctx.seed, 1)
    r.facts("batch.first_page_id") = base.toString
    r.facts("batch.pages") = Pages.toString
    val dim = WebPagesGen.dimDomainLang(spark).cache()
    dim.count()

    // set-up: the corpus is generated SetupRepeats times (median reported);
    // the last copy is the job input
    val input = ctx.dir("batch/input")
    val genSecs = (1 to SetupRepeats).map { i =>
      Common.timed(writeCorpus(spark, base, Pages, s"$input-$i", ctx.cores * 4))._2
    }
    (1 until SetupRepeats).foreach(i => Common.delete(s"$input-$i"))
    val corpus = s"$input-$SetupRepeats"
    val warmSecs = (1 to WarmupJobs).map { i =>
      val j = job(spark, corpus, ctx.dir(s"batch/warm$i"), dim, phased = false)
      j.release()
      Common.delete(ctx.dir(s"batch/warm$i"))
      j.wall
    }
    val setup = sessionS + Common.median(genSecs) + warmSecs.sum
    Common.log(f"batch setup: session $sessionS%.2f gen ${genSecs.mkString(",")} warm ${warmSecs.mkString(",")}")

    // measured: closed loop, one job at a time; a job's intermediates are
    // released outside the timing
    val jobs = math.max(MinJobs, math.ceil(ctx.seconds / NominalJobS).toInt)
    val walls = ArrayBuffer[Double]()
    val digests = ArrayBuffer[String]()
    var last: Option[Job] = None
    def release(): Unit = last.foreach(_.release())
    while (walls.size < jobs) {
      release()
      r.attempted += 1
      last = try Some(job(spark, corpus, ctx.dir(s"batch/run${walls.size % 2}"), dim, phased = false))
      catch { case e: Exception => r.fail(s"batch job ${walls.size}", e); None }
      last.foreach { j => walls += j.wall; digests += catalogDigest(j.catalog) }
      if (r.failed > 2) throw new IllegalStateException("batch_route: repeated job failures")
    }
    last.foreach(j => check(spark, j, base, r))
    release()
    r.check("batch.catalog_digest_identical_across_jobs", digests.distinct.size == 1,
      s"${digests.distinct.size} distinct digests")
    Common.log(s"batch job walls: ${walls.map(w => f"$w%.3f").mkString(" ")}")
    r.metrics("setup_s") = (setup, "s")
    r.metrics("throughput_per_s") = (Pages / Common.median(walls.toSeq), "1/s")
    r.metrics("p50_s") = (Common.median(walls.toSeq), "s")
    r.facts("batch.measured_jobs") = walls.size.toString
    r.metrics("retained_heap_mb") = (Common.retainedHeapMb(), "MB")
    if (ctx.trace) traced(spark, corpus, ctx, dim, walls.toSeq, r)
    Common.stop(spark)
  }

  /** Traced mode: one phased job under the listener, after the untraced ones
    * (overhead = its wall minus their median), reporting every pipeline layer.
    */
  private def traced(spark: SparkSession, corpus: String, ctx: Ctx, dim: DataFrame,
                     untraced: Seq[Double], r: Report): Unit = {
    val t = LayerTrace.install(spark)
    val j = job(spark, corpus, ctx.dir("batch/traced"), dim, phased = true)
    r.layers("trace.overhead_s") = (j.wall - Common.median(untraced), "s")
    Phases.foreach { ph =>
      r.layers(s"pipeline.${ph}_s") = (j.phaseSecs(ph), "s")
      LayerTrace.report(r, s"pipeline.$ph", t.get(spark, s"pipeline.$ph"))
    }
    val lines = j.masked.count()
    val parsed = j.assigned.count()
    r.layers("pipeline.lines") = (lines.toDouble, "count")
    r.layers("pipeline.unparsed") = ((lines - parsed).toDouble, "count")
    r.layers("pipeline.templates") = (spark.read.parquet(j.templates).count().toDouble, "count")
    val by = j.assigned.groupBy("matched_by").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    Seq("drain", "spell", "self").foreach { m =>
      r.layers(s"pipeline.matched_$m") = (by.getOrElse(m, 0L).toDouble, "count")
    }
    val (files, bytes) = Common.parquetFiles(j.table)
    r.layers("table.routed_files") = (files.toDouble, "count")
    r.layers("table.routed_bytes") = (bytes.toDouble, "bytes")
    r.layers("table.routed_bytes_per_line") = (bytes.toDouble / parsed, "bytes")
    j.release()
  }
}
