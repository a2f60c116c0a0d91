package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark JVM entry point, started by `perfbench/run.py`.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <resultJson>`
  *
  * Runs one workload and writes its report as one JSON object to `resultJson`.
  * Exits non-zero, without a report, when the workload cannot complete.
  */
object Main {
  def main(args: Array[String]): Unit = {
    // Spark leaves non-daemon threads behind; exit explicitly either way
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }
    System.exit(0)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, data, result) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val ctx = Ctx(workload, seed.toLong, seconds.toDouble, trace == "1", work, data, cores)
    val r = new Report
    r.facts("host.nproc") = cores.toString
    r.facts("host.max_heap_mb") = (Runtime.getRuntime.maxMemory() / (1024 * 1024)).toString
    r.facts("host.jdk") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"
    r.facts("host.spark") = org.apache.spark.SPARK_VERSION
    workload match {
      case "batch_route" => BatchRoute.run(ctx, r)
      case "stream_match" => StreamMatch.run(ctx, r)
      case "query_suite" => QuerySuite.run(ctx, r)
      case "class_archive" => classArchiveJob(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    import Common.{jsonStr, jsonMetrics}
    val json = Seq(
      s"\"correct\":${r.checks.values.forall(identity) && r.failed == 0}",
      s"\"attempted\":${r.attempted}",
      s"\"failed\":${r.failed}",
      s"\"metrics\":${jsonMetrics(r.metrics)}",
      s"\"layers\":${jsonMetrics(r.layers)}",
      s"\"checks\":${r.checks.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")}",
      s"\"errors\":${r.errors.map(jsonStr).mkString("[", ",", "]")}",
      s"\"facts\":${r.facts.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }.mkString("{", ",", "}")}"
    ).mkString("{", ",", "}")
    Files.writeString(Paths.get(result), json)
  }

  /** A short Spark job that no workload measures: session start, a UDF, a
    * shuffle, a broadcast join and a parquet round trip. `run.py` runs it once
    * per build to write the class-data archive every measured JVM maps, so
    * the archive is the same whichever workload runs first.
    */
  private def classArchiveJob(ctx: Ctx): Unit = {
    import org.apache.spark.sql.functions._
    val spark = Common.session(ctx, "class_archive")
    val twice = udf((x: Long) => x * 2)
    val df = spark.range(0, 100000, 1, ctx.cores)
      .select((col("id") % 100).as("k"), twice(col("id")).as("v"))
    df.groupBy("k").agg(sum("v").as("total")).join(broadcast(df.limit(10)), "k")
      .write.mode("overwrite").parquet(ctx.dir("class_archive"))
    spark.read.parquet(ctx.dir("class_archive")).count()
    Common.stop(spark)
  }
}
