package graft.pipeline

import graft.{SparkSuite, TempDirs}
import graft.ingest.WebPagesGen
import graft.streaming.StreamingMatch
import graft.table.ParquetManifestTable

/** Every routed sink writes one routed schema: the batch manifest table
  * (`routedWrite`), the resumable runner's chunk snapshots and the streaming
  * file sink. The rows are normalized — `event_template` lives in the templates
  * sink — and the mine inputs (`masked`, `parsed`) are not routed.
  */
class RoutedLayoutSpec extends SparkSuite {

  private val cfg = PipelineConfig.hdfs
  private val N = 60L

  test("routedWrite, the resumable runner and the streaming sink write the same " +
      "routed columns, without event_template") {
    val dir = TempDirs.create("graft_routed_layout").toString
    val p = new LogPipeline(cfg)
    val (_, assigned) = LogPipeline.assignAll(spark, WebPagesGen.pages(spark, N).toDF(), cfg)
    val enriched = p.enrich(assigned, WebPagesGen.dimDomainLang(spark))

    p.routedWrite(enriched, s"$dir/batch", "batch")
    val batch = ParquetManifestTable.read(spark, s"$dir/batch").columns.toSet

    val rep = ResumableRunner.run(spark, cfg, N, s"$dir/resume", nChunks = 2)
    val resume = ParquetManifestTable.read(spark, rep.routedTable).columns.toSet

    // the stream carries the batch frame's rows, so only the sink's own
    // projection can differ
    enriched.write.parquet(s"$dir/stream_src")
    val q = StreamingMatch.routedSink(
      spark.readStream.schema(enriched.schema).parquet(s"$dir/stream_src"),
      s"$dir/stream_out", s"$dir/stream_ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.read.parquet(s"$dir/stream_out").columns.toSet

    assert(batch.contains("event_id") && batch.contains("matched_by"), batch)
    assert(Seq("event_template", "masked", "parsed").forall(c => !batch.contains(c)), batch)
    assert(resume == batch, s"resume ${resume -- batch} / batch ${batch -- resume}")
    assert(stream == batch, s"stream ${stream -- batch} / batch ${batch -- stream}")
  }
}
