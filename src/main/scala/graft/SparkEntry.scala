package graft

import graft.pipeline.{LogPipeline, PipelineConfig}
import graft.registry._
import graft.registry.QuerySupport.assignedFor
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query contract `Verify` and `Bench` run — one registry entry per
  * implemented operator (SURVEY.md §2 + the training-data operator families),
  * each with its DuckDB oracle. The entries live in five family files under
  * `graft.registry`; `queries` and `oracleSql` are views of that one list.
  */
object SparkEntry {

  /** Flagship: full parse→mine→match pipeline on sf0.001-scale synthetic web pages,
    * returning per-template-cluster counts (the north_rule parity quantity).
    */
  def entry(spark: SparkSession): DataFrame = {
    val (_, asg) = assignedFor(spark, "/root/testdata/sf0.001")
    new LogPipeline(PipelineConfig.hdfs).templateCounts(asg)
  }

  /** Every registry query; names are unique (RegistrySpec). */
  val registry: Seq[Query] = LogQueries.all ++ MinerQueries.all ++ CurationQueries.all ++
    DedupAnnQueries.all ++ EventsTpchQueries.all

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap
}
