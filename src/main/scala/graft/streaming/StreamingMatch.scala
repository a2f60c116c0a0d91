package graft.streaming

import graft.pipeline.{LogPipeline, MatchCatalog, PipelineConfig}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Running per-template state for the stateful stream. */
final case class TemplateState(event_id: String, total: Long, last_url: String)
final case class TemplateUpdate(event_id: String, total: Long)

/** Structured Streaming front-end for the parse pipeline (SURVEY §2.7).
  *
  * The reference is batch, but Drain/Spell are online by design; the Spark-native
  * streaming shape is: mine the catalog in batch (bounded history), freeze +
  * broadcast it, then run the pure match phase on an unbounded stream —
  * `readStream → structure/mask/match → watermarked windowed aggregation`.
  * Matching is stateless (the catalog is frozen), so the only streaming state is the
  * aggregation's — exactly what Spark's incremental execution handles. Templates
  * drifting outside the catalog surface as `matched_by = self` rows, the signal to
  * re-mine (catalog refresh = broadcast swap between micro-batches at the ops layer).
  */
object StreamingMatch {

  /** Streaming source over a web_pages parquet directory (files appearing over time
    * = micro-batches; on a cluster this would be the table's snapshot stream).
    * `maxFilesPerTrigger` bounds each micro-batch so a pre-materialized directory
    * still exercises genuine multi-batch incremental state (None = all available
    * files in one batch, the default file-source behavior).
    */
  def readPages(spark: SparkSession, dir: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n)).parquet(dir)
  }

  /** The streaming match plan: the batch structure/mask and [[LogPipeline.matchCore]]
    * (pure transformations stream untouched). The stream keeps its own explode
    * because it carries `warc_ts` for windowing.
    */
  def matchedStream(pages: DataFrame, cfg: PipelineConfig,
                    catalog: Broadcast[MatchCatalog]): DataFrame = {
    val p = new LogPipeline(cfg)
    val lines = pages.select(col("url"), col("warc_ts"),
      posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
    p.matchCore(p.withMasked(p.structure(lines)), catalog)
  }

  /** Watermarked per-window template counts — the streaming A1/S5 aggregate sink. */
  def windowedCounts(matched: DataFrame, window_ : String = "1 minute",
                     watermark: String = "2 minutes"): DataFrame =
    matched
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), window_), col("event_id"))
      .agg(count(lit(1)).as("occurrences"))
      .select(col("window.start").as("win_start"), col("event_id"), col("occurrences"))

  /** Custom streaming state via mapGroupsWithState: running total per template
    * (the streaming analog of the templates table, updated incrementally).
    */
  def runningTotals(matched: DataFrame): Dataset[TemplateUpdate] = {
    val spark = matched.sparkSession
    import spark.implicits._
    matched.select(col("event_id"), col("url")).as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[TemplateState]) =>
          var s = state.getOption.getOrElse(TemplateState(key, 0L, ""))
          rows.foreach { case (_, url) => s = s.copy(total = s.total + 1, last_url = url) }
          state.update(s)
          TemplateUpdate(key, s.total)
      }
  }

  /** Streaming template DISCOVERY — online Drain as streaming state
    * (`flatMapGroupsWithState`), complementing the frozen-catalog match path.
    *
    * Keyed by token count, Drain's OWN first tree layer: every template belongs to
    * exactly one length group, so groups never need merging and the per-group state
    * is an independent [[graft.drain.DrainTree]] (java-serialized, the same codec
    * the Aggregator buffer uses; state size is O(#templates in the group), not
    * O(rows)). Each micro-batch folds its lines into the tree and re-emits the
    * group's current catalog — the evolving templates table in Update mode.
    *
    * Determinism contract matches [[graft.drain.DrainAggregator]]: online Drain is
    * arrival-order dependent, so the catalog is PA-grade reproducible; the batch
    * sequential miner remains the bit-exact oracle.
    */
  def streamingMine(pages: DataFrame, cfg: PipelineConfig): Dataset[graft.drain.TemplateRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val p = new LogPipeline(cfg)
    val masked = p.withMasked(p.structure(p.explodeLines(pages)))
      .filter(col("parsed")).select("masked").as[String]
      .map(graft.text.Tokens.words(_))
    implicit val treeEnc: org.apache.spark.sql.Encoder[graft.drain.DrainTree] =
      org.apache.spark.sql.Encoders.javaSerialization[graft.drain.DrainTree]
    masked.groupByKey(_.length)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[Array[String]], state: GroupState[graft.drain.DrainTree]) =>
          val tree = state.getOption.getOrElse(
            new graft.drain.DrainTree(cfg.depth, cfg.st))
          rows.foreach(tree.add)
          state.update(tree)
          tree.catalog().iterator
            .map { case (id, tpl, n) => graft.drain.TemplateRow(id, tpl, n) }
      }
  }

  /** Streaming exact dedup — the training-data curation primitive on the stream
    * path: keep the FIRST page per content fingerprint, with WATERMARKED state
    * cleanup (`dropDuplicatesWithinWatermark`) so dedup state is bounded by the
    * event-time horizon instead of growing with the corpus — the knob that makes
    * streaming dedup viable at 10^12 docs (exact global dedup belongs to the
    * batch path, [[graft.dedup.Dedup.exactDedup]]). State is hash-partitioned on
    * the fingerprint — the same one-shuffle layout as the batch dedup.
    */
  def dedupStream(pages: DataFrame, watermark: String = "10 minutes"): DataFrame =
    pages
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming routed sink: the per-template-cluster fan-out as an exactly-once
    * parquet file sink (`partitionBy(event_id)`), checkpointed. Restarting a query
    * with the SAME checkpointLocation resumes from the last committed micro-batch —
    * Spark's file-sink commit log (`_spark_metadata`) plays the role the snapshot
    * manifest plays on the batch path, so a crash never duplicates or loses a
    * routed row. Same schema as the batch routed sink
    * ([[LogPipeline.routedColumns]]); no range exchange, which a stream cannot
    * sample bounds for.
    */
  def routedSink(matched: DataFrame, outDir: String, checkpointDir: String) =
    LogPipeline.routedColumns(matched)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("event_id")
      .outputMode(OutputMode.Append())

  /** Drive a matched stream into an in-memory table synchronously (test/demo).
    * The checkpoint dir is a [[graft.TempDirs]] dir: on tmpfs when it has room
    * (the commit/offset log is fsync-per-batch), deleted on JVM exit.
    */
  def runToMemory(df: DataFrame, name: String, outputMode: OutputMode): Unit = {
    val ckpt = graft.TempDirs.create(s"graft_ckpt_$name")
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt.toString)
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
