package graft.eval

import graft.SparkSuite
import graft.ingest.{LogStyles, WebPagesGen}
import graft.pipeline.{LogPipeline, PipelineConfig}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** S6 (CSV scan — the evaluator's input format in the reference) and A5 (benchmark
  * averaging — the reference's `Average` row over per-dataset scores): the scoring
  * entry point driven end-to-end through CSV files, like `utils/evaluator.py`.
  */
class EvalCsvSpec extends SparkSuite {

  test("evaluate from CSV files (S6) and average scores across datasets (A5)") {
    val dir = Files.createTempDirectory("graft_evalcsv").toString
    val styles = Seq(("hdfs", None), ("apache", Some(LogStyles.Apache)))

    val scores = styles.map { case (name, spec) =>
      val cfg = spec.map(sp => PipelineConfig(sp.style.logFormat, sp.style.rexes,
        st = sp.style.st, depth = sp.style.depth)).getOrElse(PipelineConfig.hdfs)
      val pages = spec.map(sp => LogStyles.pagesFor(spark, sp, 80).toDF())
        .getOrElse(WebPagesGen.pages(spark, 80).toDF())
      val gt = spec.map(sp => GroundTruth.forStyle(spark, sp, 80).toDF())
        .getOrElse(GroundTruth.hdfs(spark, 80).toDF())
      val (_, assigned) = LogPipeline.assignAll(spark, pages, cfg)

      // write both sides as CSV (the reference's interchange format)…
      assigned.select("url", "line_no", "event_id")
        .write.mode("overwrite").option("header", "true").csv(s"$dir/$name/parsed")
      gt.write.mode("overwrite").option("header", "true").csv(s"$dir/$name/gt")

      // …read them back with the CSV scan and evaluate (J1 explicit line-key join)
      val parsedCsv = spark.read.option("header", "true").csv(s"$dir/$name/parsed")
      val gtCsv = spark.read.option("header", "true").csv(s"$dir/$name/gt")
      val joined = parsedCsv.join(gtCsv, Seq("url", "line_no"))
        .select(col("event_id"), col("gt_tpl").as("gt_id"))
      val s = Evaluator.evaluate(joined)
      assert(s.total == assigned.count())
      s
    }

    // A5: the reference benchmark's trailing Average row
    val avgPa = scores.map(_.parsingAccuracy).sum / scores.size
    val avgF1 = scores.map(_.f1).sum / scores.size
    info(f"Average PA=$avgPa%.4f F1=$avgF1%.4f over ${scores.size} datasets")
    assert(avgPa >= 0.85 && avgF1 >= 0.9)
  }
}
