package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Run context handed from the launcher: where to write, what to read, how long
  * to measure. Every path is inside the benchmark's work directory.
  */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     work: String, data: String, cores: Int) {
  def dir(name: String): String = new File(work, name).getPath
}

/** What a workload reports: the contract counters, its end-to-end and per-layer
  * metrics, and free-form facts (host, errors) for the sidecar.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val checks = mutable.LinkedHashMap[String, Boolean]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val facts = mutable.LinkedHashMap[String, String]()

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks(name) = ok
    if (!ok) errors += s"check $name failed: $detail"
    Common.log(s"check $name: ${if (ok) "ok" else "FAILED " + detail}")
  }

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
    Common.log(s"FAILED $what: $e")
  }
}

object Common {

  /** Logs to stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f $msg")

  def now(): Double = System.nanoTime() / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, now() - t0)
  }

  /** Linear-interpolation quantile (the default of numpy and of `statistics`
    * with method="inclusive").
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** First page id of a workload's corpus: a seed-derived offset into a
    * 2^36-wide id space (page timestamps grow ~1 s per id and must stay
    * representable), so two seeds draw different pages from the generator.
    */
  def pageBase(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xD1B54A32D192ED03L
    z = (z ^ (z >>> 31)) * 0xBF58476D1CE4E5B9L
    z = z ^ (z >>> 29)
    (z & ((1L << 32) - 1)) * 16
  }

  def session(ctx: Ctx, name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", ctx.cores.toLong)
      .config("spark.default.parallelism", ctx.cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.dir("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse"))
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap in use after a full collection, in MiB. Spark's ContextCleaner
    * releases shuffle and broadcast state only after a collection has found
    * its owners unreachable, so it gets a moment between two collections.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def deleteRecursively(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(deleteRecursively)
    f.delete()
  }

  def delete(path: String): Unit = deleteRecursively(new File(path))

  /** Parquet data files under `dir` (recursively): count and total bytes. */
  def parquetFiles(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val fs = walk(new File(dir))
    (fs.size.toLong, fs.map(_.length()).sum)
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def jsonMetrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${jsonStr(k)}:{\"value\":${jsonNum(v)},\"unit\":${jsonStr(u)}}" }
      .mkString("{", ",", "}")
}
