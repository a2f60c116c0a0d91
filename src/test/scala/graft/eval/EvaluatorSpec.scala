package graft.eval

import graft.SparkSuite
import graft.ingest.{LogStyles, WebPagesGen}
import graft.pipeline.{LogPipeline, PipelineConfig}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}

/** Differential tests: the driver-side [[Evaluator.evaluate]] against the
  * relational [[RelationalEvaluator]] (identical `Scores`, doubles compared with
  * `==`), and the generators' `templateIdAt` ground truth against the joined
  * ground-truth tables.
  */
class EvaluatorSpec extends SparkSuite {
  import EvaluatorSpec.Frame

  private def id(t: DataType, groups: Int, nullPct: Int): Gen[Any] =
    Gen.frequency(nullPct -> Gen.const(null),
      (100 - nullPct) -> Gen.frequency(
        // skew: low ids are hot
        (1 to groups).map(g => (groups - g + 1) -> Gen.const(g - 1)): _*)
        .map(g => if (t == StringType) s"id$g" else g))

  private val frames: Gen[Frame] = for {
    eventType <- Gen.oneOf(StringType, IntegerType)
    gtType <- Gen.oneOf(StringType, IntegerType)
    eventGroups <- Gen.oneOf(1, 2, 3, 5, 8)
    gtGroups <- Gen.oneOf(1, 2, 3, 5, 8)
    nullPct <- Gen.oneOf(0, 0, 10, 40)
    cells <- Gen.choose(1, 30)
    rows <- Gen.listOfN(cells, for {
      e <- id(eventType, eventGroups, nullPct)
      g <- id(gtType, gtGroups, nullPct)
      copies <- Gen.frequency(8 -> Gen.choose(1, 3), 1 -> Gen.choose(50, 400))
    } yield Seq.fill(copies)((e, g)))
  } yield Frame(eventType, gtType, rows.flatten)

  private def toDF(f: Frame): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(f.rows.map { case (e, g) => Row(e, g) }: _*),
    StructType(Seq(StructField("event_id", f.eventType), StructField("gt_id", f.gtType))))

  test("random frames: driver-side scores == relational scores (scalacheck)") {
    val prop = Prop.forAll(frames) { f =>
      val df = toDF(f)
      val got = Evaluator.evaluate(df)
      val want = RelationalEvaluator.evaluate(df)
      Prop(got == want) :| s"$got != $want for ${f.rows.distinct.size} cells, ${f.rows.size} rows"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("empty input: the relational form throws, the evaluator scores zero") {
    val empty = toDF(Frame(StringType, IntegerType, Nil))
    assert(Evaluator.evaluate(empty) == Evaluator.Scores(0.0, 0.0, 0.0, 0.0, 0L))
    assert(intercept[Exception](RelationalEvaluator.evaluate(empty)) != null)
  }

  /** Scores the assignment both ways and checks `gtAt` against the joined table. */
  private def checkAssignment(asg: DataFrame, groundTruth: DataFrame,
                              gtAt: (String, Int) => Option[Int]): Evaluator.Scores = {
    val joined = asg.select("url", "line_no", "event_id")
      .join(groundTruth, Seq("url", "line_no")).withColumnRenamed("gt_tpl", "gt_id")
      .cache()
    val keyed = Evaluator.withGtId(asg, gtAt).cache()
    try {
      val n = asg.count()
      assert(joined.count() == n, "some assigned line has no ground-truth row")
      assert(keyed.count() == n, "templateIdAt misses some assigned line")
      val a = keyed.select("url", "line_no", "gt_id")
      val b = joined.select("url", "line_no", "gt_id")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      val want = RelationalEvaluator.evaluate(joined)
      assert(Evaluator.evaluate(joined) == want)
      assert(Evaluator.evaluate(keyed) == want)
      want
    } finally { joined.unpersist(); keyed.unpersist() }
  }

  test("hdfs sf0.001 assignment: identical scores, templateIdAt == joined groundTruth") {
    val n = WebPagesGen.pagesForSfDir("sf0.001")
    val (_, asg) = LogPipeline.assignNarrow(spark, WebPagesGen.pagesNarrow(spark, n).toDF(),
      PipelineConfig.hdfs)
    val sc = checkAssignment(asg, GroundTruth.hdfs(spark, n).toDF(),
      WebPagesGen.templateIdAt)
    assert(sc.total > 20000 && sc.parsingAccuracy > 0.9, sc.toString)
  }

  test("templateIdAt: None for foreign urls and out-of-range lines") {
    val url = WebPagesGen.urlFor(7L)
    assert(WebPagesGen.templateIdAt(url, 0).contains(WebPagesGen.templateIdFor(7L, 0)))
    assert(WebPagesGen.templateIdAt(url, WebPagesGen.linesPerPage(7L)).isEmpty)
    assert(WebPagesGen.templateIdAt(url, -1).isEmpty)
    assert(WebPagesGen.templateIdAt(url.replace("/p/", "/q/"), 0).isEmpty)
    assert(WebPagesGen.templateIdAt(url + "x", 0).isEmpty)
    assert(WebPagesGen.templateIdAt("https://d0.example.com/p/", 0).isEmpty)
    val spec = LogStyles.Apache
    assert(LogStyles.templateIdAt(spec, url, 0).isEmpty)
    assert(LogStyles.templateIdAt(spec, LogStyles.urlFor(spec, 7L), 0)
      .contains(LogStyles.templateIdFor(spec, 7L, 0)))
  }

  // the 16 assignments of log_pa_by_style: hdfs plus every LogStyles style
  private val StylePages = 150L

  test("hdfs 150-page assignment: identical scores, templateIdAt == joined groundTruth") {
    val (_, asg) = LogPipeline.assignNarrow(spark,
      WebPagesGen.pagesNarrow(spark, StylePages).toDF(), PipelineConfig.hdfs)
    checkAssignment(asg, GroundTruth.hdfs(spark, StylePages).toDF(),
      WebPagesGen.templateIdAt)
  }

  for (spec <- LogStyles.all) {
    test(s"${spec.style.name} 150-page assignment: identical scores, " +
        "templateIdAt == joined groundTruthFor") {
      val cfg = PipelineConfig.forStyle(spec.style)
      val (_, asg) = LogPipeline.assignNarrow(spark,
        LogStyles.pagesFor(spark, spec, StylePages).toDF(), cfg)
      checkAssignment(asg, GroundTruth.forStyle(spark, spec, StylePages).toDF(),
        LogStyles.templateIdAt(spec, _, _))
    }
  }
}

object EvaluatorSpec {
  /** One random (event_id, gt_id) frame: string or int ids on either side,
    * nulls, a single group or several, and a few cells blown up to skew sizes.
    */
  final case class Frame(eventType: DataType, gtType: DataType, rows: Seq[(Any, Any)])
}
