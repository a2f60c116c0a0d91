package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets

/** Parquet + JSON-manifest snapshot table format (SURVEY §0.3).
  *
  * The north_star names Iceberg tables, but this image ships no Iceberg runtime jar
  * (offline, `/opt/spark/jars` has none), so this is partitioned parquet plus a tiny
  * JSON snapshot manifest we write ourselves, giving real append/snapshot/
  * time-travel-by-id semantics. Iceberg is a documented drop-in for the same
  * surface: `spark.read.format("iceberg")` with the `snapshot-id` read option
  * ([[read]], [[readSnapshot]]), `df.writeTo(tbl).append()` ([[append]]), and
  * `table.currentSnapshot().snapshotId()` ([[currentSnapshotId]]).
  *
  * Layout: `table/data/s<id>/…parquet` per snapshot, `table/manifest.json` holding
  * `[{"id":1,"dirs":["s1"]},{"id":2,"dirs":["s1","s2"]}]` — each snapshot lists the
  * cumulative data dirs visible to it. Uses the Hadoop FileSystem API throughout, so
  * the same code addresses local disk here and HDFS/S3A on a cluster. The manifest
  * write is atomic (write temp + rename), which is the same single-writer commit
  * protocol Iceberg's metadata pointer swap relies on.
  */
object ParquetManifestTable {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(table: String) = new Path(table, "manifest.json")

  /** Minimal JSON: [{"id":N,"dirs":["s1","s2"]},…] — written and read by us only. */
  private def renderManifest(snaps: Seq[(Long, Seq[String])]): String =
    snaps.map { case (id, dirs) =>
      s"""{"id":$id,"dirs":[${dirs.map(d => "\"" + d + "\"").mkString(",")}]}"""
    }.mkString("[", ",", "]")

  private[table] def parseManifest(s: String): Seq[(Long, Seq[String])] = {
    val entry = """\{"id":(\d+),"dirs":\[([^\]]*)\]\}""".r
    entry.findAllMatchIn(s).map { m =>
      val dirs = "\"([^\"]*)\"".r.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq
      (m.group(1).toLong, dirs)
    }.toSeq
  }

  private def loadManifest(spark: SparkSession, table: String): Seq[(Long, Seq[String])] = {
    val mp = manifestPath(table)
    val f = fs(spark, mp)
    if (!f.exists(mp)) Nil
    else {
      val in = f.open(mp)
      try parseManifest(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def saveManifest(spark: SparkSession, table: String,
                           snaps: Seq[(Long, Seq[String])]): Unit = {
    val mp = manifestPath(table)
    val tmp = new Path(table, s"manifest.json.tmp")
    val f = fs(spark, mp)
    val out = f.create(tmp, true)
    try out.write(renderManifest(snaps).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (f.exists(mp)) f.delete(mp, false)
    f.rename(tmp, mp)
  }

  def currentSnapshotId(spark: SparkSession, table: String): Option[Long] =
    loadManifest(spark, table).lastOption.map(_._1)

  /** Append a DataFrame as a new snapshot; returns the new snapshot id. */
  def append(df: DataFrame, table: String): Long = appendTagged(df, table, "")

  /** Append with an idempotency tag (e.g. a resume chunk id): the data dir is named
    * by the tag, and [[tags]] lets a resuming job see which tagged appends already
    * committed — the manifest IS the checkpoint (commit = atomic manifest swap, so a
    * crash between data write and manifest leaves an invisible, re-writable dir).
    *
    * Tagged appends are UPSERTS: a previously committed dir with the same tag is
    * dropped from the new snapshot's dir list, so re-running a tagged unit of work
    * (a resume chunk whose routed commit never landed) replaces its control rows
    * instead of double-counting them.
    */
  def appendTagged(df: DataFrame, table: String, tag: String,
                   partitionBy: Seq[String] = Nil): Long =
    stageTagged(df, table, tag, partitionBy).commit()

  /** A staged append: data files written and readable at [[dataPath]], but invisible
    * to readers until [[commit]] swaps the manifest. Lets a caller derive follow-on
    * sinks (lineage) from the physical files BEFORE the snapshot becomes the
    * durable checkpoint marker.
    */
  final case class StagedAppend(spark: SparkSession, table: String, id: Long,
                                dir: String, tag: String) {
    def dataPath: String = dataDir(table, dir)
    def commit(): Long = {
      val snaps = loadManifest(spark, table)
      val newId = math.max(id, snaps.lastOption.map(_._1).getOrElse(0L) + 1)
      val prev = snaps.lastOption.map(_._2).getOrElse(Nil)
        .filterNot(d => tag.nonEmpty && d.endsWith(s"_$tag"))
      saveManifest(spark, table, snaps :+ ((newId, prev :+ dir)))
      newId
    }
  }

  /** Phase 1 of a tagged append: write the parquet files, no manifest commit. */
  def stageTagged(df: DataFrame, table: String, tag: String,
                  partitionBy: Seq[String] = Nil): StagedAppend = {
    val spark = df.sparkSession
    val snaps = loadManifest(spark, table)
    val newId = snaps.lastOption.map(_._1).getOrElse(0L) + 1
    val dir = if (tag.isEmpty) s"s$newId" else s"s${newId}_$tag"
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dataDir(table, dir))
    StagedAppend(spark, table, newId, dir, tag)
  }

  /** Replace the table contents with `df` as a new snapshot (non-cumulative dirs):
    * the right shape for recomputed aggregates — re-running an aggregate replaces
    * the old rollup instead of double-counting it into the union.
    */
  def replace(df: DataFrame, table: String): Long = {
    val spark = df.sparkSession
    val snaps = loadManifest(spark, table)
    val newId = snaps.lastOption.map(_._1).getOrElse(0L) + 1
    val dir = s"s$newId"
    df.write.mode("overwrite").parquet(dataDir(table, dir))
    saveManifest(spark, table, snaps :+ ((newId, Seq(dir))))
    newId
  }

  /** Tags of all committed appends (empty-string for untagged). */
  def tags(spark: SparkSession, table: String): Seq[String] =
    loadManifest(spark, table).lastOption.map(_._2).getOrElse(Nil)
      .map(d => d.split("_", 2) match { case Array(_, t) => t; case _ => "" })

  def dataDir(table: String, dir: String): String = new Path(table, s"data/$dir").toString

  /** Read the latest snapshot; a table with no snapshot is an error. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val snaps = loadManifest(spark, table)
    require(snaps.nonEmpty, s"table $table has no snapshots")
    readDirs(spark, table, snaps.last._2)
  }

  /** Read a specific snapshot by id. */
  def readSnapshot(spark: SparkSession, table: String, snapshotId: Long): DataFrame = {
    val snaps = loadManifest(spark, table)
    val snap = snaps.find(_._1 == snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $snapshotId in $table"))
    readDirs(spark, table, snap._2)
  }

  private def readDirs(spark: SparkSession, table: String, dirs: Seq[String]): DataFrame =
    // One read per snapshot dir, unioned: each dir may carry its own hive-style
    // partition layout (partitionBy sinks), and Spark refuses multi-root partition
    // inference in a single read.
    dirs.map(d => spark.read.parquet(new Path(table, s"data/$d").toString))
      .reduce(_ unionByName _)
}
