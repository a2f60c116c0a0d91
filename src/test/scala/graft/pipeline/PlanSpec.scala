package graft.pipeline

import graft.SparkSuite
import graft.ingest.WebPagesGen
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Physical-plan audits: the plans must be the ones we'd want at 100 TB, not just
  * ones that pass — column pruning reaching the scan, predicate pushdown, broadcast
  * joins where intended, whole-stage codegen in the hot path.
  */
class PlanSpec extends SparkSuite {

  private lazy val pagesDir: String = {
    val dir = Files.createTempDirectory("graft_plan_pages").toString
    WebPagesGen.pages(spark, 50).toDF().write.mode("overwrite").parquet(dir)
    dir
  }

  test("pipeline scan prunes html: ReadSchema carries only url,text") {
    val p = new LogPipeline(PipelineConfig.hdfs)
    val pages = spark.read.parquet(pagesDir)
    val plan = p.withMasked(p.structure(p.explodeLines(pages)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("url") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("html"), s"html must be pruned from the scan:\n$readSchema")
    assert(!readSchema.contains("warc_ts"), readSchema)
  }

  test("filter on url pushes down to the parquet scan") {
    val df = spark.read.parquet(pagesDir).filter(col("url") > "https://d2")
      .select("url", "lang")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(url), GreaterThan(url"),
      s"expected pushed filter:\n$plan")
  }

  test("enrich join is a BroadcastHashJoin, never a shuffle join") {
    val p = new LogPipeline(PipelineConfig.hdfs)
    val pages = spark.read.parquet(pagesDir)
    val (_, assigned) = LogPipeline.assignAll(spark, pages, PipelineConfig.hdfs)
    val plan = p.enrich(assigned, WebPagesGen.dimDomainLang(spark))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join must broadcast:\n$plan")
  }

  test("minhash plan reads signature/banded stages from cache, not re-evaluation") {
    // Catalyst inlines unpersisted projections into every branch (bucket agg + both
    // self-join sides + verify joins) — round 2 measured the un-cached plan at 6×
    // the hashing cost. The materialization points must stay in the plan.
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (lazyPairs, staged) = graft.dedup.Dedup.minhashDupPairsPlan(d, "doc_id", "text")
    val plan = lazyPairs.queryExecution.executedPlan.toString
    val cacheScans = plan.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(cacheScans >= 4,
      s"expected ≥4 cache scans (banded ×3, shingles ×2), got $cacheScans:\n${plan.take(2000)}")
    staged.foreach(_.unpersist())
    // the public entry point releases its staged caches before returning
    // (round-2 ADVICE: two relations leaked per call for the session lifetime)
    val before = spark.sparkContext.getPersistentRDDs.size
    graft.dedup.Dedup.minhashDupPairs(d, "doc_id", "text")
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1, // +1 = the localCheckpointed result itself
      s"minhashDupPairs must unpersist its staged caches ($before -> $after persistent RDDs)")
  }

  test("structuring stays inside whole-stage codegen") {
    val p = new LogPipeline(PipelineConfig.hdfs)
    val pages = spark.read.parquet(pagesDir)
    val df = p.withMasked(p.structure(p.explodeLines(pages)))
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark whole-stage-codegen stages in the plan string; the
    // structure+mask projection (with our custom expression) must carry one
    val projLine = plan.linesIterator.find(_.contains("regexp_extract_groups")).get
    assert(projLine.trim.stripPrefix("+- ").startsWith("*("), plan)
    assert(!plan.contains("CodegenFallback"), plan)
  }

  test("template counts aggregate has a map-side partial (two HashAggregates)") {
    val p = new LogPipeline(PipelineConfig.hdfs)
    val pages = spark.read.parquet(pagesDir)
    val (_, assigned) = LogPipeline.assignAll(spark, pages, PipelineConfig.hdfs)
    val plan = p.templateCounts(assigned).queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("minhash LSH dedup is a band equi-join, never a cartesian product") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (lazyPairs, staged) = graft.dedup.Dedup.minhashDupPairsPlan(docs, "doc_id", "text")
    val plan = lazyPairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("band"), plan) // join keyed on the LSH band columns
    staged.foreach(_.unpersist())
  }

  test("declarative miners: no cartesian products, broadcast where intended") {
    import spark.implicits._
    val lines = (0 until 400).map(i => s"evt type${i % 3} user$i done").toDF("line")
    val iplom = graft.iplom.Iplom.mineCatalog(lines, "line")
      .queryExecution.executedPlan.toString
    assert(!iplom.contains("CartesianProduct"), iplom)
    // the per-partition split table is broadcast back onto rows, never shuffled
    assert(iplom.contains("BroadcastHashJoin"), iplom)
    // SLCT (round 6): the frequent (pos, word) dictionary moves as a broadcast
    // VARIABLE into the per-distinct-line abstraction UDF instead of a
    // broadcast JOIN (same never-shuffle-the-corpus property, one mechanism
    // down), and the returned catalog is eagerly checkpointed, so the
    // executed plan is an ExistingRDD scan — only the no-cartesian invariant
    // remains assertable here; exactness is pinned by SlctSpec + the oracle.
    val slct = graft.slct.Slct.mineCatalog(lines, "line", 50)
      .queryExecution.executedPlan.toString
    assert(!slct.contains("CartesianProduct"), slct)
    val ael = graft.ael.Ael.mineCatalog(lines, "line")
      .queryExecution.executedPlan.toString
    assert(!ael.contains("CartesianProduct"), ael)
    val lc = graft.logcluster.LogCluster.mineCatalog(lines, "line", 50)
      .queryExecution.executedPlan.toString
    assert(!lc.contains("CartesianProduct"), lc)
    val lfa = graft.lfa.Lfa.mineCatalog(lines, "line")
      .queryExecution.executedPlan.toString
    assert(!lfa.contains("CartesianProduct"), lfa)
    val lenma = graft.lenma.LenMa.mineCatalog(lines, "line")
      .queryExecution.executedPlan.toString
    assert(!lenma.contains("CartesianProduct"), lenma)
    val lm = graft.logmine.LogMine.mineCatalog(lines, "line", 0.3)
      .queryExecution.executedPlan.toString
    assert(!lm.contains("CartesianProduct"), lm) // band equi-join, never all-pairs
  }

  test("approx_count_distinct (the 10^12-scale metrics stat) lands within 10% of exact") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val r = li.agg(count_distinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey")).as("approx")).collect()(0)
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact <= 0.10, s"$approx vs $exact")
  }

  test("f5/q1-style oracle queries push filters and prune columns on testdata") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy("l_returnflag").agg(sum(col("l_quantity").cast("long")).as("q"))
    val plan = li.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_extendedprice"), readSchema)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      plan)
  }
}
