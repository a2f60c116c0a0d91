package graft.pipeline

import graft.ingest.WebPagesGen
import graft.table.ParquetManifestTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Simulated mid-run failure for the resume test (t-resume). */
final class SimulatedCrash(chunk: Int) extends RuntimeException(s"crash after chunk $chunk")

/** Checkpoint-resumable parse→enrich→route job (north_rule: "resumable from
  * checkpoint with per-partition lineage + metrics").
  *
  * Checkpointing model: the input id space is split into `nChunks` url-hash chunks;
  * each chunk is processed and committed to the routed sink as one tagged snapshot
  * append (`c<k>`). The snapshot manifest IS the checkpoint: commit = atomic manifest
  * swap, so a crash leaves either a committed chunk (skipped on resume) or an
  * invisible partial dir (safely overwritten). The mined catalog is itself
  * checkpointed (serialized next to the sinks) so a resume reuses it — and because
  * the miner is deterministic, a cold re-mine would produce the identical catalog.
  *
  * Per-chunk sinks emitted alongside the data:
  *  - lineage: one row per written file (task output) with row count + url range —
  *    "per-partition lineage rows" at the physical-partition grain;
  *  - metrics: matched_by histogram + unparsed-line count (the reference silently
  *    drops unparsed lines, S1; we count them).
  */
object ResumableRunner {

  final case class RunReport(chunksRun: Seq[Int], chunksSkipped: Seq[Int],
                             routedTable: String, controlTable: String,
                             templatesTable: String)

  def routedTable(outDir: String) = s"$outDir/sinks/routed"
  def lineageTable(outDir: String) = s"$outDir/sinks/lineage"
  def metricsTable(outDir: String) = s"$outDir/sinks/metrics"
  def templatesTable(outDir: String) = s"$outDir/sinks/templates"
  /** Per-chunk partial template counts (control sink): the final templates rollup
    * re-aggregates THESE instead of re-reading the full routed table — O(#templates ×
    * #chunks) bytes instead of a second full-corpus scan per run.
    */
  def templatesChunksTable(outDir: String) = s"$outDir/sinks/templates_chunks"

  /** Load-or-mine the frozen match catalog. */
  def catalogFor(spark: SparkSession, cfg: PipelineConfig, pages: DataFrame,
                 outDir: String): MatchCatalog = {
    val p = new LogPipeline(cfg)
    val catPath = new Path(outDir, "catalog.bin")
    val fs = catPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(catPath)) {
      val in = fs.open(catPath)
      try LogPipeline.deserialize[MatchCatalog](in.readAllBytes()) finally in.close()
    } else {
      val masked = p.withMasked(p.structure(p.explodeLines(pages))).persist()
      val cat = try p.mineCatalog(masked) finally masked.unpersist()
      val tmp = new Path(outDir, "catalog.bin.tmp")
      val out = fs.create(tmp, true)
      try out.write(LogPipeline.serialize(cat)) finally out.close()
      if (fs.exists(catPath)) fs.delete(catPath, false)
      fs.rename(tmp, catPath)
      cat
    }
  }

  /** Input slices: pages materialized ONCE, hive-partitioned by chunk id, so a
    * (re)run of chunk k READS only `chunk=k/` (partition pruning) instead of
    * filtering the full input per chunk — round 1 scanned the whole corpus nChunks
    * times. At cluster scale this dir layout is the Iceberg partition spec.
    */
  /** Params are ENCODED IN THE DIRECTORY NAME (round-3 fix): a bare `_SUCCESS`
    * check reused the dir across runs with different nPages/nChunks — a rerun
    * with larger nChunks scanned empty partitions and committed them as done
    * (silent row loss); a changed nPages silently processed the stale corpus.
    * Distinct params now get distinct dirs, like Bench's `web_pages_$scalePages`.
    */
  def chunkedInputDir(outDir: String, nPages: Long, nChunks: Int) =
    s"$outDir/input_by_chunk_${nPages}p_${nChunks}c"

  private def materializeChunkedInput(spark: SparkSession, nPages: Long,
                                      outDir: String, nChunks: Int): String = {
    val dir = chunkedInputDir(outDir, nPages, nChunks)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir, "_SUCCESS"))) {
      WebPagesGen.pages(spark, nPages).toDF()
        .withColumn("chunk", pmod(xxhash64(col("url")), lit(nChunks)))
        .write.mode("overwrite").partitionBy("chunk").parquet(dir)
    }
    dir
  }

  /** Fail-stop on parameter drift (round-3 review fix): the RESUME STATE — chunk
    * done-tags in the routed manifest, catalog.bin, control sinks — is keyed by
    * `outDir` alone, so resuming one outDir with a different nPages/nChunks would
    * skip chunks whose url-hash universe changed (silent row loss/duplication)
    * and reuse a catalog mined from the old corpus. An outDir is a (nPages,
    * nChunks)-bound job; anything else must be a new outDir.
    */
  private def checkParams(spark: SparkSession, outDir: String,
                          nPages: Long, nChunks: Int): Unit = {
    val path = new Path(outDir, "run_params.txt")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val want = s"nPages=$nPages\nnChunks=$nChunks\n"
    if (fs.exists(path)) {
      val in = fs.open(path)
      val got = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      require(got == want,
        s"outDir $outDir was started with different parameters:\n$got" +
          s"a resume must reuse them (got nPages=$nPages nChunks=$nChunks); " +
          "use a fresh outDir to change them")
    } else {
      val out = fs.create(path, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
  }

  def run(spark: SparkSession, cfg: PipelineConfig, nPages: Long, outDir: String,
          nChunks: Int = 4, failAfterChunk: Option[Int] = None,
          failBeforeRoutedCommit: Option[Int] = None): RunReport = {
    checkParams(spark, outDir, nPages, nChunks)
    val p = new LogPipeline(cfg)
    val pages = WebPagesGen.pages(spark, nPages).toDF()
    val catalog = catalogFor(spark, cfg, pages, outDir)
    val bc = spark.sparkContext.broadcast(catalog)
    val dim = WebPagesGen.dimDomainLang(spark)
    val inputDir = materializeChunkedInput(spark, nPages, outDir, nChunks)

    val routed = routedTable(outDir)
    val done: Set[Int] = ParquetManifestTable.tags(spark, routed)
      .collect { case t if t.startsWith("c") => t.stripPrefix("c").toInt }.toSet

    val ran = Seq.newBuilder[Int]
    for (c <- 0 until nChunks if !done.contains(c)) {
      // partition-pruned scan: only the chunk=c directory is read
      val chunkPages = spark.read.parquet(inputDir).filter(col("chunk") === c).drop("chunk")
      val masked = p.withMasked(p.structure(p.explodeLines(chunkPages))).persist()
      // the match output feeds the routed write, the metrics and the template
      // counts: materialized once instead of running the match UDF per consumer
      val assigned = p.matchPhase(masked, bc).persist()
      try {
        // COMMIT ORDER: routed data files are WRITTEN first (staged, invisible), the
        // control sinks (lineage, metrics) commit next, and the routed manifest swap
        // — the resume checkpoint marker — commits LAST. Any crash before the routed
        // commit re-runs the chunk, whose tagged control appends are upserts
        // (same-tag replace), so "chunk committed ⇒ lineage+metrics present" holds
        // through every crash window. Round 1 committed routed first: a crash in
        // between marked the chunk done with its lineage/metrics lost forever.
        val staged = p.stageRouted(p.enrich(assigned, dim), routed, s"c$c")

        // lineage: one row per physical output file of this chunk's staged snapshot
        val lineage = spark.read.parquet(staged.dataPath)
          .groupBy(input_file_name().as("file"))
          .agg(count(lit(1)).as("rows"), min("url").as("min_url"), max("url").as("max_url"))
          .withColumn("chunk", lit(c)).withColumn("snapshot_id", lit(staged.id))
        ParquetManifestTable.appendTagged(lineage, lineageTable(outDir), s"c$c")

        // metrics: matched_by histogram + unparsed count
        val unparsed = masked.filter(!col("parsed")).count()
        val metrics = assigned.groupBy("matched_by").agg(count(lit(1)).as("rows"))
          .union(spark.createDataFrame(Seq(("unparsed", unparsed))).toDF("matched_by", "rows"))
          .withColumn("chunk", lit(c))
        ParquetManifestTable.appendTagged(metrics, metricsTable(outDir), s"c$c")

        // per-chunk template counts: computed from `assigned` (which still carries
        // event_template — the routed sink is normalized and does not), committed
        // before the checkpoint marker like every control sink
        val chunkCounts = p.templateCounts(assigned).withColumn("chunk", lit(c))
        ParquetManifestTable.appendTagged(chunkCounts, templatesChunksTable(outDir), s"c$c")

        if (failBeforeRoutedCommit.contains(c)) throw new SimulatedCrash(c)
        staged.commit()

        ran += c
        if (failAfterChunk.contains(c)) throw new SimulatedCrash(c)
      } finally {
        assigned.unpersist()
        masked.unpersist()
      }
    }

    // final aggregate sink: rollup of the per-chunk partial counts (no full routed
    // re-read) — REPLACE semantics (recomputed rollup), so a rerun over a completed
    // outDir rewrites the same counts instead of appending a double-counting snapshot.
    val counts = ParquetManifestTable.read(spark, templatesChunksTable(outDir))
      .groupBy("event_id", "event_template")
      .agg(sum("occurrences").as("occurrences"))
      .orderBy("event_id", "event_template")
    ParquetManifestTable.replace(counts, templatesTable(outDir))

    RunReport(ran.result(), done.toSeq.sorted, routed, metricsTable(outDir),
      templatesTable(outDir))
  }

  /** All routed rows committed so far (latest snapshot = union of chunk appends). */
  def readRouted(spark: SparkSession, outDir: String): DataFrame =
    ParquetManifestTable.read(spark, routedTable(outDir))
}
