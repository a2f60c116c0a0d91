package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference implementation for [[Evaluator.evaluate]]'s differential tests: the
  * same scores computed relationally, as four aggregates over the cached
  * contingency cross-joined into one row. Fails on an empty input (its sums are
  * null there).
  */
object RelationalEvaluator {

  def evaluate(joined: DataFrame): Evaluator.Scores = {
    val cont = Evaluator.contingency(joined).coalesce(1).persist()
    try {
      val gtAgg = cont.groupBy("gt_id").agg(sum("n").as("gsize"))
      val parsedAgg = cont.groupBy("event_id")
        .agg(count_distinct(col("gt_id")).as("span"), sum("n").as("psize"),
             max("gt_id").as("gt1"))
      // 1:1 groups: parsed group spans exactly one gt group AND has its full size.
      val accurate = parsedAgg.filter(col("span") === 1)
        .join(gtAgg, parsedAgg("gt1") === gtAgg("gt_id"))
        .filter(col("psize") === col("gsize"))
        .agg(coalesce(sum("psize"), lit(0L)).as("accurate"))
      val row = cont.agg(pairSumCol("n").as("pairs"), sum("n").as("total"))
        .crossJoin(gtAgg.agg(pairSumCol("gsize").as("real_pairs")))
        .crossJoin(parsedAgg.agg(pairSumCol("psize").as("parsed_pairs")))
        .crossJoin(accurate)
        .collect()(0)
      val pairs = row.getLong(0)
      val total = row.getLong(1)
      val realPairs = row.getLong(2)
      val parsedPairs = row.getLong(3)
      val accurateEvents = row.getLong(4)

      val precision = if (parsedPairs == 0) 0.0 else pairs.toDouble / parsedPairs
      val recall = if (realPairs == 0) 0.0 else pairs.toDouble / realPairs
      val f1 = if (precision + recall == 0) 0.0
               else 2 * precision * recall / (precision + recall)
      Evaluator.Scores(precision, recall, f1, accurateEvents.toDouble / total, total)
    } finally cont.unpersist()
  }

  private def pairSumCol(sizeCol: String): Column =
    coalesce(sum(col(sizeCol) * (col(sizeCol) - 1) / 2), lit(0L)).cast("long")
}
