package graft.tools

/** Round-6 measurement harness (guide §1) — NOT part of the driver contract.
  *
  * Times queries in `Bench`'s own per-query session ([[graft.Bench.session]]:
  * local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus, AQE on, spark.local.dir
  * under [[graft.TempDirs]]) with the same noop-sink methodology, but runs only
  * the queries named on the command line (all when none given), with optional
  * repeats, so a single query can be iterated on in seconds instead of
  * re-running the full frozen bench.
  *
  * Usage:
  *   sbt "runMain graft.tools.BenchExtra [--reps N] [--plans DIR] [--stages N] [query ...]"
  *
  * With `--plans DIR`, each query's `.explain("formatted")` output is written to
  * DIR/<query>.txt before timing (the judge-facing plan evidence for
  * plans/r06/). With `--stages N`, each query prints how many stages it
  * completed and its N longest ones. Timings print as one JSON line per rep,
  * with the queries that failed listed under "failed"; each failure also prints
  * its own error line.
  */
object BenchExtra {

  /** Per-stage wall/task-time/shuffle attribution (guide §7.1, sans UI). */
  private final class StageListener extends org.apache.spark.scheduler.SparkListener {
    final case class St(name: String, wallMs: Long, taskMs: Long, tasks: Int,
                        shRead: Long, shWrite: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
      stages.add(St(i.name.linesIterator.next(), wall,
        i.taskMetrics.executorRunTime, i.numTasks,
        i.taskMetrics.shuffleReadMetrics.totalBytesRead,
        i.taskMetrics.shuffleWriteMetrics.bytesWritten))
    }
    /** Empties the queue: the number of stages recorded and the `n` longest. */
    def drain(n: Int): (Int, Seq[St]) = {
      val out = scala.collection.mutable.ArrayBuffer[St]()
      var s = stages.poll()
      while (s != null) { out += s; s = stages.poll() }
      (out.size, out.sortBy(-_.wallMs).take(n).toSeq)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    var reps = 1
    var plansDir: Option[String] = None
    var stageTop = 0
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case "--plans" => plansDir = Some(args(i + 1)); i += 2
        case "--stages" => stageTop = args(i + 1).toInt; i += 2
        case q => names += q; i += 1
      }
    }
    val all = graft.SparkEntry.queries
    val picked = if (names.isEmpty) all.toSeq.sortBy(_._1)
      else names.toSeq.map(n => n -> all(n))
    val spark = graft.Bench.session(cpus)
    val listener = if (stageTop > 0) {
      val l = new StageListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None

    for (r <- 1 to reps) {
      val results = picked.map { case (name, fn) =>
        spark.sparkContext.setJobDescription(name)
        listener.foreach(_.drain(0))
        plansDir.filter(_ => r == 1).foreach { d =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          val df = fn(spark, sfDir)
          java.nio.file.Files.write(java.nio.file.Paths.get(d, s"$name.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
        }
        val (sec, error) = graft.Bench.timeQuery(spark, sfDir, fn)
        error.foreach { e =>
          val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
            .replace("\\", "\\\\").replace("\"", "\\\"")
          println(s"""{"rep":$r,"query":"$name","error":"${e.getClass.getName}: $msg"}""")
        }
        listener.foreach { l =>
          Thread.sleep(200) // let stage-completed events drain
          val (nStages, top) = l.drain(stageTop)
          println(s"STAGES $name rep=$r nStages=$nStages")
          top.foreach { s =>
            println(f"  ${s.wallMs}%6d ms wall  ${s.taskMs}%7d ms task  " +
              f"${s.tasks}%3d tasks  shR=${s.shRead}%9d shW=${s.shWrite}%9d  ${s.name}")
          }
        }
        spark.sparkContext.setJobDescription(null)
        (name, sec, error.isDefined)
      }
      val qs = results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      val failed = results.collect { case (k, _, true) => "\"" + k + "\"" }.mkString("[", ",", "]")
      println(f"""{"rep":$r,"total":${results.map(_._2).sum}%.3f,"queries":$qs,"failed":$failed}""")
    }
    spark.stop()
  }
}
