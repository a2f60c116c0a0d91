package graft.pipeline

import graft.SparkSuite
import graft.ingest.{LogStyles, WebPagesGen}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `assignAll` and `assignNarrow` share one assign body: the narrow call must mine
  * the same catalog and return exactly the full assignment's five match columns.
  */
class AssignSpec extends SparkSuite {
  private val Pages = 150L
  private val NarrowCols = Seq("url", "line_no", "event_id", "event_template", "matched_by")

  private def multiset(cs: Seq[(String, Long)]): Map[(String, Long), Int] =
    cs.groupMapReduce(identity)(_ => 1)(_ + _)

  private def drainTemplates(c: MatchCatalog) =
    multiset(c.drain.clusterList.map(k => (k.templateStr, k.count)).toSeq)

  private def spellTemplates(c: MatchCatalog) =
    multiset(c.spell.clusterList.map(k => (k.templateStr, k.count)).toSeq)

  private def checkFold(pages: DataFrame, cfg: PipelineConfig): Unit = {
    val (fullCatalog, full) = LogPipeline.assignAll(spark, pages, cfg)
    val (narrowCatalog, narrow) = LogPipeline.assignNarrow(spark, pages, cfg)
    assert(drainTemplates(fullCatalog).nonEmpty)
    assert(drainTemplates(narrowCatalog) == drainTemplates(fullCatalog))
    assert(spellTemplates(narrowCatalog) == spellTemplates(fullCatalog))

    assert(narrow.columns.toSeq == NarrowCols)
    val projected = full.select(NarrowCols.map(col): _*)
    val n = narrow.count()
    assert(n > 0)
    assert(projected.count() == n)
    assert(narrow.exceptAll(projected).isEmpty, "narrow rows missing from the full assignment")
    assert(projected.exceptAll(narrow).isEmpty, "full rows missing from the narrow assignment")
  }

  test("hdfs 150 pages: assignNarrow == assignAll projected, same catalog") {
    checkFold(WebPagesGen.pages(spark, Pages).toDF(), PipelineConfig.hdfs)
  }

  test(s"${LogStyles.Apache.style.name} 150 pages: assignNarrow == assignAll projected, " +
      "same catalog") {
    checkFold(LogStyles.pagesFor(spark, LogStyles.Apache, Pages).toDF(),
      PipelineConfig.forStyle(LogStyles.Apache.style))
  }
}
