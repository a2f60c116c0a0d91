package graft.eval

import graft.{SparkEntry, SparkSuite}
import graft.lke.Lke
import graft.miner.MinerOutput
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** Guards the number of Spark jobs the evaluator path and LKE's mine submit:
  * each job costs scheduling latency whatever its size, so a ground-truth join,
  * one-row aggregates or a `Dataset.count()` creeping back in shows up here as
  * extra jobs. Counts are exact for this suite's session config.
  */
class JobCountSpec extends SparkSuite {

  /** Jobs submitted by `body` on this thread (tagged with a fresh job group). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    started.get()
  }

  test("log_eval_scores on a cold cache: pipeline + scoring in 8 jobs") {
    // a dir key no other suite uses, so the query mines its own assignment
    // (the page count comes from the last path segment: sf0.001 = 2,000 pages)
    val dir = s"/job-count-${java.util.UUID.randomUUID()}/sf0.001"
    val jobs = jobsOf(SparkEntry.queries("log_eval_scores")(spark, dir).collect())
    assert(jobs == 8, s"log_eval_scores ran $jobs jobs")
  }

  test("LKE's size guard and pid check share one job") {
    import spark.implicits._
    val lines = ((1 to 6).map(i => s"conn host$i ok") ++
      (1 to 6).map(i => s"shutdown imminent t$i")).toDF("line")
    // the pid check returns the pattern count the size guard reads
    val patterns = MinerOutput.distinctLines(lines, "line").cache()
    patterns.count()
    try {
      var n = 0L
      val jobs = jobsOf { n = MinerOutput.requireDistinctPids(patterns) }
      assert(n == 12L && jobs == 1, s"requireDistinctPids counted $n patterns in $jobs jobs")
    } finally patterns.unpersist()
    // so the whole mine runs no separate count job before the pairs
    val mine = jobsOf(Lke.mineCatalog(lines, "line").collect())
    assert(mine == 48, s"Lke.mineCatalog ran $mine jobs")
  }

  test("evaluate over a cached input: one aggregate, 2 jobs") {
    import spark.implicits._
    val in = (0 until 1000).map(i => (s"e${i % 7}", i % 5)).toDF("event_id", "gt_id").cache()
    in.count()
    try {
      val jobs = jobsOf(Evaluator.evaluate(in))
      assert(jobs == 2, s"evaluate ran $jobs jobs")
    } finally in.unpersist()
  }
}
