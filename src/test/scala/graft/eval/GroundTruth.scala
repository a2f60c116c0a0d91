package graft.eval

import graft.ingest.{LogStyles, WebPagesGen}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Per-line ground truth of a generated corpus — plays the role of the
  * reference's `<Dataset>_2k.log_structured.csv` golden grouping (FIXTURES.md §3).
  */
final case class GroundTruthLine(url: String, line_no: Int, gt_tpl: Int)

/** The generators' ground truth as tables, for specs that check
  * `WebPagesGen.templateIdAt` / `LogStyles.templateIdAt` against the join they
  * replace.
  */
object GroundTruth {

  /** Ground truth of `WebPagesGen.pages(spark, n)`. */
  def hdfs(spark: SparkSession, n: Long): Dataset[GroundTruthLine] = {
    import spark.implicits._
    spark.range(n).as[Long].flatMap { rowId =>
      val url = WebPagesGen.urlFor(rowId)
      (0 until WebPagesGen.linesPerPage(rowId))
        .map(i => GroundTruthLine(url, i, WebPagesGen.templateIdFor(rowId, i)))
    }
  }

  /** Ground truth of `LogStyles.pagesFor(spark, spec, n)`. */
  def forStyle(spark: SparkSession, spec: LogStyles.StyleSpec, n: Long): Dataset[GroundTruthLine] = {
    import spark.implicits._
    spark.range(n).as[Long].flatMap { rowId =>
      val url = LogStyles.urlFor(spec, rowId)
      (0 until WebPagesGen.linesPerPage(rowId))
        .map(i => GroundTruthLine(url, i, LogStyles.templateIdFor(spec, rowId, i)))
    }
  }
}
