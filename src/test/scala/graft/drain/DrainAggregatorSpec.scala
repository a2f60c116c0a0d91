package graft.drain

import graft.SparkSuite
import graft.ingest.WebPagesGen
import graft.pipeline.{LogPipeline, PipelineConfig}
import graft.text.Tokens
import org.apache.spark.sql.functions._

/** The Aggregator-based (one-pass, merge-canonical) miner: run-reproducible, and
  * grouping-equivalent to the exact miner on well-separated templates.
  */
class DrainAggregatorSpec extends SparkSuite {
  import spark.implicits._

  private lazy val tokens = {
    val cfg = PipelineConfig.hdfs
    val p = new LogPipeline(cfg)
    val pages = WebPagesGen.pages(spark, 150L).toDF()
    p.withMasked(p.structure(p.explodeLines(pages)))
      .select("masked").as[String]
      .map(Tokens.words(_))
  }

  test("aggregator mines a catalog; repeated runs are bit-identical") {
    val agg = new DrainAggregator(depth = 4, st = 0.5)
    val c1 = tokens.select(agg.toColumn).collect()(0)
    val c2 = tokens.repartition(7).select(agg.toColumn).collect()(0)
    assert(c1.nonEmpty)
    val c3 = tokens.repartition(7).select(agg.toColumn).collect()(0)
    assert(c2 == c3) // same partitioning → bit-identical (canonical merge)
    // counts conserved across any partitioning
    assert(c1.map(_.occurrences).sum == c2.map(_.occurrences).sum)
  }

  test("aggregator catalog groups ≈ exact-miner catalog groups on separated templates") {
    val cfg = PipelineConfig.hdfs
    val p = new LogPipeline(cfg)
    val pages = WebPagesGen.pages(spark, 150L).toDF()
    val exact = p.mineDrain(p.withMasked(p.structure(p.explodeLines(pages))))
      .catalog().map(_._2).toSet
    val agg = new DrainAggregator(depth = 4, st = 0.5)
    val merged = tokens.select(agg.toColumn).collect()(0).map(_.event_template).toSet
    // well-separated synthetic templates: both miners converge to the same top set
    val inter = exact.intersect(merged)
    assert(inter.size.toDouble >= 0.8 * math.max(exact.size, merged.size),
      s"exact=${exact.size} agg=${merged.size} inter=${inter.size}")
  }
}
