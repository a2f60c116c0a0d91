package graft.miner

import graft.text.Tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The DataFrame miners' one contract, input and output: every miner reads its
  * lines through [[lineTokens]] (IPLoM and exact LenMa, per raw line),
  * [[distinctLines]] or [[withDistinctLines]] (everyone else), clusters pattern
  * pairs through [[clusters]], assembles agreement templates through
  * [[agreementTemplates]] and emits the engine's md5-prefix event id through
  * [[withEventId]]. A change to tokenization, to the pattern id, to the cluster
  * step, to the id or to the cache lifetime of the distinct lines is a single
  * edit.
  */
object MinerOutput {

  /** One row per raw line, its [[graft.text.Tokens]] as `toks` (a blank line
    * gives `[]`, which every positional explode drops): the input of the miners
    * that weight raw lines instead of distinct ones (IPLoM, exact LenMa).
    */
  def lineTokens(lines: DataFrame, lineCol: String): DataFrame =
    lines.select(Tokens.words(col(lineCol)).as("toks"))

  /** The pattern table: distinct non-blank lines with multiplicities,
    * `(p, cnt, toks, pid, len)`. `toks` are the line's [[graft.text.Tokens]] and
    * `p` is those tokens joined by single spaces — so code that reads `p` (a first
    * character, a re-split on ' ', a sort key) sees exactly `toks`, and lines
    * that differ only in whitespace are one pattern. `pid = xxhash64(p)` is the
    * 8-byte key the pid-keyed miners join and shuffle on instead of the line
    * string (they check it with [[requireDistinctPids]]); `len` is the token
    * count. One map-side-combinable aggregation keyed by `p`; the other columns
    * are derived per distinct line, after the shuffle.
    */
  def distinctLines(lines: DataFrame, lineCol: String): DataFrame =
    lines
      .select(array_join(Tokens.words(col(lineCol)), " ").as("p"))
      .filter(col("p") =!= "")
      .groupBy("p").agg(count(lit(1)).as("cnt"))
      .withColumn("toks", split(col("p"), " "))
      .withColumn("pid", xxhash64(col("p")))
      .withColumn("len", size(col("toks")))

  /** Runs `mine` over the persisted [[distinctLines]] (a miner that reads
    * them more than once scans and dedups the corpus once) and returns its
    * small result eagerly `localCheckpoint`ed, so the cache is released before
    * return and no caller action re-runs the gather.
    */
  def withDistinctLines(lines: DataFrame, lineCol: String)(
      mine: DataFrame => DataFrame): DataFrame = {
    val dl = distinctLines(lines, lineCol).persist()
    try mine(dl).localCheckpoint(true)
    finally dl.unpersist()
  }

  /** The number of `patterns` (one row per pattern, columns `pid` and `p`, as
    * [[distinctLines]] gives); fails when two share a `pid`, which a miner keyed
    * on pid would merge silently. One job, a map-side-combined count per pid;
    * the patterns are read again only to name a collision.
    */
  def requireDistinctPids(patterns: DataFrame): Long = {
    val (n, shared) = patterns.select("pid").queryExecution.toRdd
      .map(r => (r.getLong(0), 1L)).reduceByKey(_ + _)
      .aggregate((0L, List.empty[Long]))(
        { case ((m, sh), (pid, c)) => (m + c, if (c > 1) pid :: sh else sh) },
        { case ((m1, sh1), (m2, sh2)) => (m1 + m2, sh1 ::: sh2) })
    shared.headOption.foreach { pid =>
      val named = patterns.filter(col("pid") === pid).select("p").collect()
        .map(_.getString(0)).sorted
      throw new IllegalStateException(
        s"pid $pid is shared by distinct patterns ${named.map("\"" + _ + "\"").mkString(" and ")}")
    }
    n
  }

  /** `patterns` (keyed by `pid`) with `cluster`: the smallest pid of its
    * connected component in the pair graph `pairs` (`id_a`, `id_b` over pid;
    * [[graft.dedup.Dedup.connectedComponents]]), or its own pid when it is in no
    * pair.
    */
  def clusters(patterns: DataFrame, pairs: DataFrame): DataFrame = {
    val labeled = graft.dedup.Dedup.connectedComponents(pairs)
    patterns
      .join(labeled.withColumnRenamed("id", "pid"), Seq("pid"), "left")
      .withColumn("cluster", coalesce(col("component"), col("pid")))
  }

  /** `(event_template, occurrences)` → the engine's catalog projection with
    * `event_id = substr(md5(template), 1, 8)` (F5, same as [[graft.drain.DrainTree.eventId]]).
    */
  def withEventId(templates: DataFrame): DataFrame =
    templates.select(substring(md5(col("event_template")), 1, 8).as("event_id"),
      col("event_template"), col("occurrences"))

  /** Shared template assembly for the agreement-based miners (IPLoM step 4,
    * LenMa, LogMine, ULP, SHISO, Brain): `clustered` carries one row per
    * cluster member, its cluster `key`, weight (1 for raw lines, the pattern
    * multiplicity for deduped patterns) and tokens `toks`. A position is a
    * constant iff every member agrees (min == max detects it without a per-cell
    * count_distinct); occurrences = Σ weight, read off at pos 0 (every member
    * contributes exactly one row there); identical templates from different
    * clusters merge their counts.
    */
  def agreementTemplates(clustered: DataFrame, key: Column, weight: Column,
                         toks: Column): DataFrame =
    clustered
      .select(key.as("ckey"), weight.as("w"), posexplode(toks).as(Seq("pos", "tok")))
      .groupBy("ckey", "pos")
      .agg(min(col("tok")).as("lo"), max(col("tok")).as("hi"), sum(col("w")).as("n"))
      .withColumn("piece",
        when(col("lo") === col("hi"), col("lo")).otherwise(lit("<*>")))
      .groupBy("ckey")
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("pos"), col("piece"))))
        .getField("piece")).as("event_template"),
        max(when(col("pos") === 0, col("n"))).as("occurrences"))
      .groupBy("event_template")
      .agg(sum("occurrences").as("occurrences"))
}
