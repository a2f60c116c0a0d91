package perfbench

import graft.ingest.WebPagesGen
import graft.pipeline.{LogPipeline, MatchCatalog, PipelineConfig}
import graft.streaming.StreamingMatch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, StreamingQueryProgress}

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer

/** stream_match: open loop. A Drain+Spell catalog is mined in set-up from a
  * history corpus that lacks the rarest generator templates; a disjoint stream
  * corpus is published file by file at a fixed rate into the directory a
  * `StreamingMatch.matchedStream` query watches, feeding a complete-mode
  * per-template count.
  */
object StreamMatch {

  val HistoryPages = 2000L
  val PagesPerFile = 160L
  val FilesPerSecond = 1.0
  /** Warm-up files, published into the measured query before its window, far
    * enough apart that most become a micro-batch of their own.
    */
  val WarmupFiles = 6
  val WarmupIntervalS = 0.8
  val SetupRepeats = 3
  /** Generator templates left out of the history: 9 of the 90 weight slots, so
    * about a tenth of stream lines come from templates the catalog never saw.
    */
  val RareTemplates: Set[Int] = (15 to 23).toSet
  /** Bounds on the share of stream lines that take the Spell/self fallback. */
  val FallbackShare = (0.05, 0.15)

  /** The history is small, so its catalog is a full mine. */
  val cfg: PipelineConfig = PipelineConfig.hdfs

  /** History pages with every line of a rare template removed. */
  def historyPages(spark: SparkSession, base: Long, n: Long) = {
    import spark.implicits._
    spark.range(base, base + n, 1, 8).as[Long].map { id =>
      val p = WebPagesGen.pageFor(id)
      val kept = p.text.split("\n", -1).zipWithIndex
        .filter { case (_, i) => !RareTemplates.contains(WebPagesGen.templateIdFor(id, i)) }
      (p.url, p.warc_ts, kept.map(_._1).mkString("\n"))
    }.toDF("url", "warc_ts", "text")
  }

  /** Stream corpus: `files` parquet files of exactly PagesPerFile pages each,
    * returned in publish order.
    */
  def writeStreamFiles(spark: SparkSession, base: Long, files: Int, dir: String): Seq[File] = {
    BatchRoute.writeCorpus(spark, base, files * PagesPerFile, dir, files)
    val parts = new File(dir).listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    require(parts.size == files, s"expected $files stream files, found ${parts.size}")
    parts
  }

  /** Collects the progress of one streaming query. */
  final class Progress extends StreamingQueryListener {
    val events = ArrayBuffer[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { if (e.progress.numInputRows > 0) events += e.progress }
    def rows: Long = synchronized(events.map(_.numInputRows).sum)
    def snapshot: Seq[StreamingQueryProgress] = synchronized(events.toList)
  }

  final case class Published(scheduledMs: Double, actualMs: Double)

  final case class StreamRun(published: Seq[Published], progress: Seq[StreamingQueryProgress],
                             watch: String, table: String)

  /** Starts the counting query on an empty `watch` dir and publishes into it:
    * first the warm-up files, one per `warmIntervalS`, waiting until they are
    * consumed (the query's first micro-batches pay one-time planning and code
    * generation); then the measured files, one per `intervalS`, waiting until
    * every page is consumed. Returns the measured part and the warm-up seconds.
    */
  def stream(spark: SparkSession, bcCatalog: org.apache.spark.broadcast.Broadcast[MatchCatalog],
             warm: Seq[File], files: Seq[File], watch: String, ckpt: String, table: String,
             warmIntervalS: Double, intervalS: Double): (StreamRun, Double) = {
    Common.delete(watch); Common.delete(ckpt)
    new File(watch).mkdirs()
    val listener = new Progress
    spark.streams.addListener(listener)
    val t0 = Common.now()
    val counts = StreamingMatch.matchedStream(StreamingMatch.readPages(spark, watch),
        cfg, bcCatalog)
      .groupBy("event_id", "event_template").agg(count(lit(1)).as("occurrences"))
    val q = counts.writeStream.format("memory").queryName(table)
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .start()
    def publish(fs: Seq[File], interval: Double): Seq[Published] = {
      val start = System.currentTimeMillis() + 200.0
      val published = fs.zipWithIndex.map { case (f, j) =>
        val sched = start + j * interval * 1000
        val wait = (sched - System.currentTimeMillis()).toLong
        if (wait > 0) Thread.sleep(wait)
        Files.move(f.toPath, new File(watch, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
        Published(sched, System.currentTimeMillis().toDouble)
      }
      published
    }
    def awaitRows(expected: Long): Unit = {
      val deadline = Common.now() + 60
      while (listener.rows < expected && q.isActive && Common.now() < deadline) Thread.sleep(10)
      q.exception.foreach(e => throw e)
      require(listener.rows == expected, s"stream consumed ${listener.rows} of $expected pages")
    }
    try {
      publish(warm, warmIntervalS)
      awaitRows(warm.size * PagesPerFile)
      val warmS = Common.now() - t0
      val warmBatches = listener.snapshot.size
      val published = publish(files, intervalS)
      awaitRows((warm.size + files.size) * PagesPerFile)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      (StreamRun(published, listener.snapshot.sortBy(_.batchId).drop(warmBatches), watch, table), warmS)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  def commitMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.getOrDefault("triggerExecution", 0L).doubleValue

  /** Per-file lag (s) from its scheduled publish time to the commit of the
    * micro-batch that consumed it; files map to batches in publish order via
    * numInputRows.
    */
  def lags(run: StreamRun): Seq[Double] = {
    val perBatch = run.progress.sortBy(_.batchId).flatMap { p =>
      require(p.numInputRows % PagesPerFile == 0, s"batch ${p.batchId} read a partial file")
      Seq.fill((p.numInputRows / PagesPerFile).toInt)(commitMs(p))
    }
    run.published.zip(perBatch).map { case (pub, c) => (c - pub.scheduledMs) / 1000 }
  }

  /** Most files published but not yet taken by a micro-batch, at any trigger start. */
  def backlogMax(run: StreamRun): Int = {
    var consumed = 0L
    run.progress.sortBy(_.batchId).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val visible = run.published.count(_.actualMs <= start)
      val backlog = visible - consumed
      consumed += p.numInputRows / PagesPerFile
      backlog.toInt
    }.foldLeft(0)(math.max)
  }

  def run(ctx: Ctx, r: Report): Unit = {
    val (spark, sessionS) = Common.timed(Common.session(ctx, "stream_match"))
    val hBase = Common.pageBase(ctx.seed, 2)
    val sBase = hBase + HistoryPages
    val nFiles = math.max(8, math.round(ctx.seconds * FilesPerSecond).toInt)
    r.facts("stream.history_first_page_id") = hBase.toString
    r.facts("stream.files") = nFiles.toString
    r.facts("stream.pages_per_file") = PagesPerFile.toString
    r.facts("stream.files_per_second") = FilesPerSecond.toString

    // set-up, SetupRepeats times: mine the catalog from the history, write the
    // warm-up and measured stream files; the median set-up is reported
    val digests = ArrayBuffer[String]()
    val catalogSecs = ArrayBuffer[Double]()
    var catalog: MatchCatalog = null
    var files: Seq[File] = Nil
    var warmFiles: Seq[File] = Nil
    val setupSecs = (1 to SetupRepeats).map { i =>
      val ((), s) = Common.timed {
        val (c, cs) = Common.timed(graft.pipeline.LogPipeline.assignNarrow(spark,
          historyPages(spark, hBase, HistoryPages), cfg)._1)
        spark.catalog.clearCache()
        catalog = c
        catalogSecs += cs
        digests += BatchRoute.catalogDigest(c)
        val stage = ctx.dir(s"stream/stage$i")
        warmFiles = writeStreamFiles(spark, sBase + nFiles * PagesPerFile, WarmupFiles, s"$stage/warm")
        files = writeStreamFiles(spark, sBase, nFiles, s"$stage/files")
      }
      if (i < SetupRepeats) Common.delete(ctx.dir(s"stream/stage$i"))
      s
    }
    r.check("stream.catalog_digest_identical_across_mines", digests.distinct.size == 1,
      s"${digests.distinct.size} distinct digests")
    val bc = spark.sparkContext.broadcast(catalog)
    r.attempted += nFiles
    val (run, warmS) = stream(spark, bc, warmFiles, files, ctx.dir("stream/watch"),
      ctx.dir("stream/ckpt"), "perfbench_counts", WarmupIntervalS, 1.0 / FilesPerSecond)
    val setup = sessionS + Common.median(setupSecs) + warmS
    Common.log(f"stream setup: session $sessionS%.2f repeats ${setupSecs.mkString(",")} warm $warmS%.2f")

    val lag = lags(run)
    val busyS = run.progress.map(_.durationMs.getOrDefault("triggerExecution", 0L).doubleValue).sum / 1000
    Common.log(s"stream batches ${run.progress.size}, lags ${lag.map(x => f"$x%.3f").mkString(" ")}")
    run.progress.foreach { p =>
      Common.log(s"stream batch ${p.batchId} rows ${p.numInputRows} ${p.timestamp} ${p.durationMs}")
    }

    // checks (untimed): every file consumed, counts equal a batch match, and
    // the batch match sends about a tenth of lines to the Spell/self fallback
    r.check("stream.every_file_consumed",
      lag.size == nFiles &&
        new File(run.watch).listFiles().count(_.getName.endsWith(".parquet")) == nFiles + WarmupFiles,
      s"${lag.size} of $nFiles files mapped to batches")
    val p = new LogPipeline(cfg)
    val matched = p.matchCore(p.withMasked(p.structure(p.explodeLines(spark.read.parquet(run.watch)))), bc)
      .persist()
    val batch = matched.groupBy("event_id", "event_template").agg(count(lit(1)).as("occurrences"))
    val streamed = spark.table(run.table)
    val diff = streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
    r.check("stream.counts_equal_batch_match", diff == 0, s"$diff differing count rows")
    spark.sql(s"DROP VIEW IF EXISTS ${run.table}")
    val by = matched.groupBy("matched_by").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    matched.unpersist(blocking = true)
    Seq("drain", "spell", "self").foreach { m =>
      r.layers(s"streaming.matched_$m") = (by.getOrElse(m, 0L).toDouble, "count")
    }
    val fallback = (by.getOrElse("spell", 0L) + by.getOrElse("self", 0L)).toDouble / by.values.sum
    r.facts("stream.fallback_share") = fallback.toString
    r.check("stream.fallback_share_near_a_tenth",
      fallback >= FallbackShare._1 && fallback <= FallbackShare._2,
      f"Spell/self share $fallback%.3f outside $FallbackShare")

    r.metrics("setup_s") = (setup, "s")
    r.metrics("throughput_per_s") = (nFiles * PagesPerFile / busyS, "1/s")
    r.metrics("p50_s") = (Common.median(lag), "s")
    r.metrics("retained_heap_mb") = (Common.retainedHeapMb(), "MB")

    def durP50(key: String): Double =
      Common.median(run.progress.map(_.durationMs.getOrDefault(key, 0L).doubleValue / 1000))
    r.layers("streaming.catalog_s") = (Common.median(catalogSecs.toSeq), "s")
    r.layers("streaming.batches") = (run.progress.size.toDouble, "count")
    r.layers("streaming.batch_p50_s") = (durP50("triggerExecution"), "s")
    r.layers("streaming.add_batch_p50_s") = (durP50("addBatch"), "s")
    r.layers("streaming.planning_p50_s") = (durP50("queryPlanning"), "s")
    r.layers("streaming.wal_commit_p50_s") = (durP50("walCommit"), "s")
    r.layers("streaming.state_rows") = (run.progress.maxBy(_.batchId).stateOperators
      .map(_.numRowsTotal).sum.toDouble, "count")
    r.layers("streaming.backlog_max_files") = (backlogMax(run).toDouble, "count")
    r.layers("streaming.publisher_late_max_s") =
      (run.published.map(x => x.actualMs - x.scheduledMs).max / 1000, "s")
    Common.stop(spark)
  }
}
