package graft.ingest

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One Common-Crawl-style web page (BASELINE.json input_hint schema). */
final case class WebPage(url: String, warc_ts: Timestamp, html: Array[Byte],
                         text: String, lang: String)

/** Per-line ground truth emitted by the generator — plays the role of the reference's
  * `<Dataset>_2k.log_structured.csv` golden grouping (FIXTURES.md §3).
  */
final case class GroundTruthLine(url: String, line_no: Int, gt_tpl: Int)

/** Narrow page row for consumers that only read (url, warc_ts, text) — the
  * mine/match pipeline (explodeLines projects url+text) and the streaming source.
  * Field-identical to [[WebPage]]'s url/warc_ts/text (same hash streams); skips
  * building the html byte array and lang, which those paths never read. The
  * generator is a `mapPartitions` and therefore opaque to Catalyst's column
  * pruning, so the projection must happen at the source (round 6, guide §2.3
  * "project before the exchange").
  */
final case class WebPageNarrow(url: String, warc_ts: Timestamp, text: String)

/** A log style = the reference's per-dataset configuration tuple
  * (`<Algo>/benchmark.py::benchmark_settings` — log_format + rex + st/depth), plus our
  * own synthetic template pool. The format/rex values are reference configuration
  * facts reused verbatim; the line CONTENT below is original (FIXTURES.md §3).
  */
final case class LogStyle(name: String, logFormat: String, rexes: Seq[String],
                          st: Double, depth: Int)

/** Deterministic, partition-independent generator for the web_pages input table.
  *
  * Every page is a pure function of (SEED, rowId) via splitmix64 hash streams — no RNG
  * state crosses rows, so any partition (or a resume) can regenerate any row
  * (FIXTURES.md §1). Skew is built in: 10 of 200 domains (5%) own 60% of rows, to
  * exercise salting.
  */
object WebPagesGen {

  val Seed = 42L

  val HdfsStyle: LogStyle = LogStyle(
    name = "hdfs",
    logFormat = "<Date> <Time> <Pid> <Level> <Component>: <Content>",
    rexes = Seq("blk_(|-)[0-9]+", "(/|)(\\d+\\.){3}\\d+(:\\d+)?"),
    st = 0.5, depth = 4)

  // ---- hash streams ----------------------------------------------------------

  /** splitmix64 — public-domain mixing function; stream i of row r. */
  def mix(r: Long, i: Long): Long = {
    var z = r * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL + Seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D4ECB9ACAAD335L
    z ^ (z >>> 31)
  }
  @inline private def pick(h: Long, n: Int): Int = ((h & Long.MaxValue) % n).toInt

  // ---- content templates (original wording; 0–3 parameter slots each) --------

  // Slot markers: {blk} {ip} {iph} {num} {hex} {usr}
  private val templates: IndexedSeq[String] = IndexedSeq(
    "Receiving block {blk} src: /{ip} dest: /{ip}",
    "Received block {blk} of size {num} from /{iph}",
    "PacketResponder {num} for block {blk} terminating",
    "BLOCK* NameSystem.addStoredBlock: blockMap updated: {ip} is added to {blk} size {num}",
    "BLOCK* NameSystem.allocateBlock: /user/job{num}/part-{num}. {blk}",
    "Deleting block {blk} file /data/current/subdir{num}",
    "Verification succeeded for {blk}",
    "Served block {blk} to /{iph}",
    "Got exception while serving {blk} to /{ip}",
    "Starting thread to transfer block {blk} to {ip}",
    "Transmitted block {blk} to /{ip}",
    "Failed to transfer {blk} to {ip} got java.io.IOException: Connection reset",
    "writeBlock {blk} received exception java.io.IOException: Could not read from stream",
    "Changing block file offset of block {blk} from {num} to {num} meta file offset to {num}",
    "Adding an already existing block {blk}",
    "Unexpected error trying to delete block {blk}. BlockInfo not found in volumeMap.",
    "Receiving empty packet for block {blk}",
    "Exception in receiveBlock for block {blk} java.io.IOException: Connection reset by peer",
    "Report from node{num}: heartbeat took {num} ms",
    "Session {hex} opened for user {usr}",
    "Session {hex} closed for user {usr}",
    "Cache hit ratio {num} percent over {num} requests",
    "Slow BlockReceiver write data to disk cost {num} ms for block {blk}",
    "Namesystem checkpoint completed in {num} seconds")

  /** Skewed template-frequency table: low template ids are hot (log data is Zipfy). */
  private val weightTable: IndexedSeq[Int] = {
    val b = IndexedSeq.newBuilder[Int]
    for (t <- templates.indices) {
      val w = math.max(1, 12 - t) // t=0 → 12 slots, …, t≥11 → 1 slot
      for (_ <- 0 until w) b += t
    }
    b.result()
  }

  private val levels = IndexedSeq("INFO", "INFO", "INFO", "WARN", "ERROR")
  private val components = IndexedSeq(
    "dfs.DataNode$PacketResponder", "dfs.DataNode$DataXceiver", "dfs.FSNamesystem",
    "dfs.DataBlockScanner", "dfs.DataNode$BlockReceiver", "dfs.NameNode")

  private def fillSlots(tpl: String, h0: Long): String = {
    val sb = new StringBuilder
    var i = 0
    var slot = 0
    while (i < tpl.length) {
      val c = tpl.charAt(i)
      if (c == '{') {
        val end = tpl.indexOf('}', i)
        val kind = tpl.substring(i + 1, end)
        val h = mix(h0, 100 + slot)
        slot += 1
        sb.append(kind match {
          case "blk" => "blk_" + (if ((h & 1) == 0) "-" else "") + ((h >>> 1) & 0xFFFFFFFFFFL)
          case "ip"  => s"10.${pick(mix(h, 1), 256)}.${pick(mix(h, 2), 256)}.${pick(mix(h, 3), 256)}:${50000 + pick(mix(h, 4), 999)}"
          case "iph" => s"10.${pick(mix(h, 1), 256)}.${pick(mix(h, 2), 256)}.${pick(mix(h, 3), 256)}"
          case "num" => String.valueOf((h & Long.MaxValue) % 1000000L)
          case "hex" => java.lang.Long.toHexString(h & 0xFFFFFFFFL)
          case "usr" => "u" + pick(mix(h, 5), 500)
        })
        i = end + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The template id of line `lineNo` of page `rowId` (shared by page + groundtruth). */
  def templateIdFor(rowId: Long, lineNo: Int): Int =
    weightTable(pick(mix(rowId, 1000L + lineNo), weightTable.size))

  def linesPerPage(rowId: Long): Int = 8 + pick(mix(rowId, 7), 8)

  private def lineFor(rowId: Long, lineNo: Int): String = {
    val h0 = mix(rowId, 2000L + lineNo)
    val tpl = templates(templateIdFor(rowId, lineNo))
    val content = fillSlots(tpl, h0)
    val secs = (rowId * 13 + lineNo) % 86400
    val time = f"${secs / 3600}%02d${(secs / 60) % 60}%02d${secs % 60}%02d"
    val pid = 100 + pick(mix(h0, 9), 900)
    val level = levels(pick(mix(h0, 10), levels.size))
    val comp = components(pick(mix(h0, 11), components.size))
    s"240101 $time $pid $level $comp: $content"
  }

  private val langs = IndexedSeq("en", "es", "de", "fr", "zh")
  private val NumDomains = 200
  private val NumHot = 10
  private val BaseTs = 1704067200000L // 2024-01-01T00:00:00Z

  def domainFor(rowId: Long): String = {
    val hot = pick(mix(rowId, 3), 100) < 60
    if (hot) s"d${pick(mix(rowId, 4), NumHot)}.example.com"
    else s"d${NumHot + pick(mix(rowId, 4), NumDomains - NumHot)}.example.com"
  }

  /** The url of page `rowId` — every page and ground-truth row is keyed by it. */
  def urlFor(rowId: Long): String = s"https://${domainFor(rowId)}/p/$rowId"

  /** Inverse of the (url, line_no) keying: the ground-truth template id of line
    * `lineNo` of the page whose url is `url`, or None when `url` is not one
    * [[urlFor]] builds or the page has no such line. Equal, row for row, to the
    * `gt_tpl` of [[groundTruth]] joined on (url, line_no), without generating
    * or shuffling the ground truth.
    */
  def templateIdAt(url: String, lineNo: Int): Option[Int] =
    rowIdAt(url, lineNo, urlFor).map(templateIdFor(_, lineNo))

  /** The row id whose page `urlOf` keys as `url`, if that page has line `lineNo`. */
  private[ingest] def rowIdAt(url: String, lineNo: Int, urlOf: Long => String): Option[Long] =
    url.substring(url.lastIndexOf('/') + 1).toLongOption
      .filter(r => r >= 0 && lineNo >= 0 && lineNo < linesPerPage(r) && urlOf(r) == url)

  /** Pure page constructor — THE determinism contract of the generator. */
  def pageFor(rowId: Long): WebPage = {
    val url = urlFor(rowId)
    val n = linesPerPage(rowId)
    val text = (0 until n).map(lineFor(rowId, _)).mkString("\n")
    val lang = langs(pick(mix(url.hashCode.toLong, 5), langs.size))
    WebPage(url, new Timestamp(BaseTs + rowId * 997L),
      s"<html><body>$text</body></html>".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      text, lang)
  }

  /** Distributed generation: `spark.range` partitions the id space; each row is
    * regenerated independently (resume-safe, no cross-partition state).
    */
  def pages(spark: SparkSession, n: Long): Dataset[WebPage] = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions(_.map(pageFor))
  }

  /** Narrow variant of [[pages]] — url/warc_ts/text only, same values (see
    * [[WebPageNarrow]]). ~2× less string building per page: the html wrapper
    * bytes are never constructed.
    */
  def pagesNarrow(spark: SparkSession, n: Long): Dataset[WebPageNarrow] = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions(_.map { rowId =>
      val text = (0 until linesPerPage(rowId)).map(lineFor(rowId, _)).mkString("\n")
      WebPageNarrow(urlFor(rowId), new Timestamp(BaseTs + rowId * 997L), text)
    })
  }

  def groundTruth(spark: SparkSession, n: Long): Dataset[GroundTruthLine] = {
    import spark.implicits._
    spark.range(n).as[Long].flatMap { rowId =>
      val url = urlFor(rowId)
      (0 until linesPerPage(rowId)).map(i => GroundTruthLine(url, i, templateIdFor(rowId, i)))
    }
  }

  /** Enrichment dimension (FIXTURES.md §2) — small, broadcastable. */
  def dimDomainLang(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val regions = IndexedSeq("us", "eu", "apac", "latam")
    (0 until NumDomains).map { d =>
      val domain = s"d$d.example.com"
      (domain, regions(pick(mix(d.toLong, 21), regions.size)), 1 + pick(mix(d.toLong, 22), 4))
    }.toDF("domain", "region", "tier")
  }

  /** Map an sf directory name (…/sf0.01) to a deterministic page count: sf × 2M pages
    * (sf0.001 → 2k pages ≈ 23k lines; sf0.1 → 200k pages ≈ 2.3M lines for bench).
    */
  def pagesForSfDir(sfDir: String): Long = {
    val sf = sfDir.split("/").filter(_.nonEmpty).lastOption
      .map(_.stripPrefix("sf").toDouble).getOrElse(0.001)
    math.max(200L, (sf * 2000000L).toLong)
  }
}
