package graft.pipeline

import graft.SparkSuite
import graft.drain.DrainTree
import graft.eval.{Evaluator, GroundTruth}
import graft.ingest.LogStyles
import graft.rex.RexCompiler
import org.apache.spark.sql.functions._

/** The reference's benchmark sweep (E2): one pipeline run per dataset-style config
  * (log_format, rex, st, depth), scored with the evaluator — on synthetic fixtures.
  * Mirrors `<Algo>/benchmark.py` over the styled fixtures in `LogStyles.all`
  * (HDFS covered in PipelineSpec).
  */
class MultiStyleSpec extends SparkSuite {

  private val N = 120L

  for (spec <- LogStyles.all) {
    val cfg = PipelineConfig(spec.style.logFormat, spec.style.rexes,
      st = spec.style.st, depth = spec.style.depth)

    test(s"${spec.style.name}: structuring parses every line") {
      val p = new LogPipeline(cfg)
      val pages = LogStyles.pagesFor(spark, spec, N).toDF()
      val s = p.structure(p.explodeLines(pages))
      assert(s.filter(!col("parsed")).count() == 0)
    }

    test(s"${spec.style.name}: distributed mine == sequential oracle") {
      val p = new LogPipeline(cfg)
      val pages = LogStyles.pagesFor(spark, spec, N).toDF()
      val masked = p.withMasked(p.structure(p.explodeLines(pages)))
      val dist = p.mineDrain(masked.repartition(5)).catalog()
      val seqLines = masked.filter(col("parsed")).select("url", "line_no", "masked")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
        .sortBy(r => (r._1, r._2))
      val seq = DrainTree.mine(seqLines.iterator.map(r => RexCompiler.tokenize(r._3)),
        cfg.depth, cfg.st, cfg.maxChild).catalog()
      assert(dist == seq)
    }

    test(s"${spec.style.name}: grouping accuracy vs groundtruth") {
      val pages = LogStyles.pagesFor(spark, spec, N).toDF()
      val (_, assigned) = LogPipeline.assignAll(spark, pages, cfg)
      val gt = GroundTruth.forStyle(spark, spec, N).toDF()
      val joined = assigned.select("url", "line_no", "event_id")
        .join(gt, Seq("url", "line_no")).withColumnRenamed("gt_tpl", "gt_id")
      val scores = Evaluator.evaluate(joined)
      info(f"${spec.style.name}: PA=${scores.parsingAccuracy}%.4f F1=${scores.f1}%.4f")
      // Proxifier is the reference's hard case (its PA ≈ 0.53 on real data);
      // our synthetic fixtures are friendlier but keep a lower bar for it.
      // HealthApp's low st (0.2, per the reference's settings shape) merges
      // aggressively — floor it lower too. These floors are mirrored by the
      // log_pa_by_style harness query (SparkEntry).
      val bar = spec.style.name match {
        case "proxifier" => 0.5
        case "healthapp" => 0.7
        case _           => 0.8
      }
      assert(scores.parsingAccuracy >= bar, s"PA too low: $scores")
    }
  }
}
