package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.Properties
import scala.collection.mutable

/** Per-layer Spark counters, keyed by the layer tag that was set as a local
  * property on the submitting thread when the job started.
  */
final class LayerStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** max/median task time of the layer's heaviest stage (by summed task time). */
  var taskSkew = 1.0
  private var heaviestStageTaskMs = -1L

  private[perfbench] def offerStage(durations: Seq[Long]): Unit = {
    val total = durations.sum
    if (durations.nonEmpty && total > heaviestStageTaskMs) {
      heaviestStageTaskMs = total
      val med = Common.median(durations.map(_.toDouble))
      taskSkew = if (med > 0) durations.max / med else 1.0
    }
  }
}

/** SparkListener that attributes jobs, stages, tasks, shuffle writes, spills and
  * task skew to the layer tag (`LayerTrace.Key`) the job was submitted under.
  * Registered by the benchmark only in traced runs.
  */
final class LayerTrace extends SparkListener {
  private val stats = mutable.LinkedHashMap[String, LayerStats]()
  private val stageLayer = mutable.HashMap[Int, String]()
  private val stageTasks = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()

  private def layerOf(p: Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(LayerTrace.Key)))

  private def at(layer: String): LayerStats = stats.getOrElseUpdate(layer, new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    layerOf(e.properties).foreach { l =>
      at(l).jobs += 1
      // map the job's stages at job start; the stage-submitted events below
      // carry the same tag
      e.stageIds.foreach(id => stageLayer.getOrElseUpdate(id, l))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    layerOf(e.properties).foreach(l => stageLayer(e.stageInfo.stageId) = l)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageLayer.contains(e.stageId) && e.taskInfo != null)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageLayer.get(info.stageId).foreach { l =>
      val s = at(l)
      s.stages += 1
      s.tasks += info.numTasks
      val tm = info.taskMetrics
      if (tm != null) {
        s.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
        s.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
      }
      s.offerStage(stageTasks.remove(info.stageId).map(_.toSeq).getOrElse(Nil))
    }
  }

  /** Counters of `layer` once every posted event has been delivered. */
  def get(spark: SparkSession, layer: String): LayerStats = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(stats.getOrElse(layer, new LayerStats))
  }
}

object LayerTrace {
  val Key = "perfbench.layer"

  /** Runs `body` with its Spark jobs tagged as `layer`; returns the result and
    * the wall seconds.
    */
  def inLayer[T](spark: SparkSession, layer: String)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, layer)
    try Common.timed(body)
    finally sc.setLocalProperty(Key, prev)
  }

  def install(spark: SparkSession): LayerTrace = {
    val t = new LayerTrace
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Writes the listener counters of `layer` as `<prefix>.jobs` … `.task_skew`. */
  def report(r: Report, prefix: String, s: LayerStats): Unit = {
    r.layers(s"$prefix.jobs") = (s.jobs.toDouble, "count")
    r.layers(s"$prefix.stages") = (s.stages.toDouble, "count")
    r.layers(s"$prefix.tasks") = (s.tasks.toDouble, "count")
    r.layers(s"$prefix.shuffle_write_bytes") = (s.shuffleWriteBytes.toDouble, "bytes")
    r.layers(s"$prefix.spill_bytes") = (s.spillBytes.toDouble, "bytes")
    r.layers(s"$prefix.task_skew") = (s.taskSkew, "ratio")
  }
}
