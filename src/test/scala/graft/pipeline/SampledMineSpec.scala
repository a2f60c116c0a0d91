package graft.pipeline

import graft.SparkSuite
import graft.ingest.WebPagesGen
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions._

/** The scale-path knob: `mineSampleLimit` bounds lines mined per length group
  * (at 10^12 docs nobody full-mines). Lines whose (length, first-token) prefix never
  * entered the sampled tree become residue → Spell fallback → self-template last.
  * This is also the only path that exercises Spell inside the full pipeline on
  * well-behaved data.
  */
class SampledMineSpec extends SparkSuite {

  test("sampled mine: full coverage via drain+spell+self, counts conserved") {
    val cfg = PipelineConfig.hdfs.copy(mineSampleLimit = Some(20))
    val pages = WebPagesGen.pages(spark, 150L).toDF()
    val (_, assigned) = LogPipeline.assignAll(spark, pages, cfg)

    val byPath = assigned.groupBy("matched_by").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    info(s"matched_by: $byPath")
    val p = new LogPipeline(cfg)
    val totalLines = p.withMasked(p.structure(p.explodeLines(pages)))
      .filter(col("parsed")).count()
    assert(byPath.values.sum == totalLines) // every line routed exactly once
    assert(byPath.getOrElse("drain", 0L) > 0)
    // 20 lines/group is a tight cap → some residue must exist and Spell must mine it
    assert(byPath.getOrElse("spell", 0L) + byPath.getOrElse("self", 0L) > 0,
      s"expected residue under tight sampling: $byPath")
    assert(assigned.filter(col("event_id").isNull || col("event_template").isNull)
      .count() == 0)
  }

  test("mineSampleLimit caps rows CROSSING the mine exchange (pre-shuffle, not post)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val limit = 20
    val cfg = PipelineConfig.hdfs.copy(mineSampleLimit = Some(limit))
    val p = new LogPipeline(cfg)
    // few input partitions so the per-partition-cap bound is much tighter than the
    // raw line count (2000 pages ≈ 23k lines; bound = limit × parts × #len-groups)
    val pages = WebPagesGen.pages(spark, 2000L).toDF().repartition(2)
    val masked = p.withMasked(p.structure(p.explodeLines(pages))).persist()
    val totalLines = masked.filter(col("parsed")).count() // materialize BEFORE listening
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffled.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      p.mineDrain(masked)
      ListenerBusDrain(spark.sparkContext) // listener events are async
    } finally spark.sparkContext.removeSparkListener(listener)
    masked.unpersist()
    // generous structural bound: 2 partitions × 20/len-group × ~16 groups = 640 « 23k
    assert(totalLines > 10000, s"fixture shrunk? lines=$totalLines")
    assert(shuffled.get() > 0, "mine must still exchange the sampled rows")
    assert(shuffled.get() <= 2L * limit * 16,
      s"mine exchange moved ${shuffled.get()} rows — the sample cap must apply BEFORE the shuffle")
  }

  test("full mine salts the length key: one hot length spreads over reducers") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import spark.implicits._
    // a worst-case corpus: EVERY line has the same token count, so the unsalted
    // exchange (repartition by len alone) funnels the whole mine through ONE
    // reducer — the round-2 scale ceiling. With the salt, hash(url) buckets
    // spread the hot length across reducers; the catalog must not change.
    def maskedAllSameLen = (0 until 4000)
      .map(i => (s"https://h$i.example.com/p", 0, s"evt user$i code${i % 7} done"))
      .toDF("url", "line_no", "masked")
      .withColumn("parsed", lit(true))
    def reduceTaskRecords(cfg: PipelineConfig): (Seq[Long], graft.drain.DrainTree) = {
      val recs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null && t.taskMetrics.shuffleReadMetrics.recordsRead > 0)
            recs.add(t.taskMetrics.shuffleReadMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      // AQE merges these deliberately tiny test partitions back into one, hiding
      // the spread this test observes; at real scale the partitions are not tiny
      // and AQE keeps them apart. Disable coalescing for the measurement only.
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val tree = try {
        val t = new LogPipeline(cfg).mineDrain(maskedAllSameLen)
        ListenerBusDrain(spark.sparkContext) // listener events are async
        t
      } finally {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.sparkContext.removeSparkListener(listener)
      }
      (recs.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq, tree)
    }
    // the rows-per-bucket target is shrunk so this 4000-line corpus derives
    // nb = 8: the listener bound below holds at the DERIVED salt width
    val (salted, saltedTree) = reduceTaskRecords(
      PipelineConfig.hdfs.copy(mineRowsPerBucket = 500))
    assert(salted.count(_ > 0) >= 2,
      s"salted mine must spread the hot length over several reducers: $salted")
    assert(salted.max < salted.sum,
      s"no single reducer may see the whole length group: $salted")
    // the default target (500,000 rows per bucket) derives nb = 1 here
    val (unsalted, unsaltedTree) = reduceTaskRecords(PipelineConfig.hdfs)
    assert(unsalted.count(_ > 0) == 1, // the ceiling this test exists to document
      s"unsalted mine funnels through one reducer: $unsalted")
    // quality/determinism: bucketed merge reproduces the unsalted catalog here
    assert(saltedTree.catalog() == unsaltedTree.catalog())
    // the derived-nb catalog must also be invariant to the SHUFFLE PARTITION
    // COUNT (bucket membership is hash(url), never physical layout) — the
    // north_rule's catalog-parity-across-cluster-sizes bar at nb > 1
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val tree5 = try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      new LogPipeline(PipelineConfig.hdfs.copy(mineRowsPerBucket = 500))
        .mineDrain(maskedAllSameLen)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    assert(tree5.catalog() == saltedTree.catalog())
  }

  test("distributed per-length fold (nb > 1) is layout-invariant on a " +
      "multi-length corpus") {
    // round 6: the > 1-bucket fold moved from the driver to a per-length
    // executor reduction (one extra shuffle keyed by len); the fold order
    // (ascending bucket, then ascending length) is unchanged, so the catalog
    // must stay a pure function of (corpus, nb) — invariant to the input
    // layout and the shuffle partition count — here with SEVERAL concurrent
    // length groups, which the salting test above (single hot length) doesn't
    // cover. (nb > 1 vs nb = 1 catalog equality is NOT a general invariant —
    // online Drain is order-dependent and bucketing changes insertion order;
    // the salting test pins it only on its clean-merge corpus.)
    import spark.implicits._
    def masked = (0 until 3000).map { i =>
      val line =
        if (i % 3 == 0) s"evt user$i done"
        else s"evt user$i code${i % 7} done extra${i % 5}"
      (s"https://h$i.example.com/p", 0, line)
    }.toDF("url", "line_no", "masked").withColumn("parsed", lit(true))
    val cfgAuto = PipelineConfig.hdfs.copy(mineRowsPerBucket = 300) // derives nb = 10
    val t1 = new LogPipeline(cfgAuto).mineDrain(masked)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val t2 = try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      new LogPipeline(cfgAuto).mineDrain(masked.repartition(3))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    assert(t1.catalog() == t2.catalog())
    assert(t1.catalog().nonEmpty)
  }

  test("sampled mine is deterministic across partitionings") {
    val cfg = PipelineConfig.hdfs.copy(mineSampleLimit = Some(20))
    val pages = WebPagesGen.pages(spark, 150L).toDF()
    val (_, a1) = LogPipeline.assignAll(spark, pages, cfg)
    val (_, a2) = LogPipeline.assignAll(spark, pages.repartition(7), cfg)
    val k1 = a1.select("url", "line_no", "event_id")
    val k2 = a2.select("url", "line_no", "event_id")
    assert(k1.exceptAll(k2).count() == 0 && k2.exceptAll(k1).count() == 0)
  }
}
