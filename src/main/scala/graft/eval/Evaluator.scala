package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Port of the reference's scoring entry point
  * (`utils/evaluator.py::evaluate/get_accuracy` ≈L20–110; SURVEY §2.4 A4, §3 E3;
  * §0.1 citation caveat).
  *
  * The reference relies on pandas positional index alignment between the groundtruth
  * and parsed CSVs — an implicit 1:1 join on line identity (J1). Callers make that
  * an explicit key (a join on the line key, or a ground-truth column computed from
  * it) and never rely on row order.
  *
  * Metrics (pair-counting, Zhu et al. ICSE-SEIP 2019):
  *  - real_pairs     = Σ C(n,2) over groundtruth groups
  *  - parsed_pairs   = Σ C(n,2) over parsed groups
  *  - accurate_pairs = Σ C(n,2) over cells of the (parsed × groundtruth) contingency
  *  - precision = accurate/parsed, recall = accurate/real, F1 harmonic
  *  - Parsing Accuracy = fraction of lines in parsed groups that correspond 1:1 to a
  *    groundtruth group (same member set).
  */
object Evaluator {

  final case class Scores(precision: Double, recall: Double, f1: Double,
                          parsingAccuracy: Double, total: Long)

  /** The contingency table — also exposed as a queryable operator (SQL-expressible,
    * used by the harness oracle). Input needs columns `gt_id` and `event_id`, one row
    * per line (already keyed by line).
    */
  def contingency(joined: DataFrame): DataFrame =
    joined.groupBy("event_id", "gt_id").agg(count(lit(1)).as("n"))

  /** (url, line_no, event_id) of an assignment plus its ground truth `gt_id`,
    * computed per row by `gtAt` (a generator's `templateIdAt`). Rows without
    * ground truth are dropped, as an inner join on (url, line_no) against the
    * generated ground-truth table drops them; but no ground truth is generated
    * and nothing is shuffled.
    */
  def withGtId(assigned: DataFrame, gtAt: (String, Int) => Option[Int]): DataFrame = {
    val gtId = udf(gtAt)
    assigned.select(col("url"), col("line_no"), col("event_id"),
        gtId(col("url"), col("line_no")).as("gt_id"))
      .filter(col("gt_id").isNotNull)
  }

  /** Scores one (event_id, gt_id)-per-line frame with ONE distributed aggregate
    * ([[contingency]]) and ONE `collect()`; every other sum is driver-side.
    *
    * The contingency has one row per (parsed group, groundtruth group) cell, so
    * it is sized by the template universe (tens to thousands of rows), never by
    * the corpus, and folding it on the driver costs no further exchange: each
    * exchange would be a job of its own while moving almost no data.
    *
    * SQL null semantics are kept: a null `event_id` or `gt_id` is a group of its
    * own (as in GROUP BY), while a parsed group's span and its single gt id skip
    * a null `gt_id` (as COUNT(DISTINCT) and MAX do). All counts are exact `Long`
    * arithmetic; an overflow throws instead of wrapping. An empty input scores
    * `Scores(0, 0, 0, 0, 0)`.
    */
  def evaluate(joined: DataFrame): Scores = {
    final class Parsed(var size: Long = 0L, var span: Int = 0, var gt: Any = null)
    val gtSize = mutable.HashMap.empty[Any, Long]
    val parsed = mutable.HashMap.empty[Any, Parsed]
    var pairs, total = 0L
    contingency(joined).collect().foreach { r =>
      val (eventId, gtId, n) = (r.get(0), r.get(1), r.getLong(2))
      pairs = Math.addExact(pairs, pairCount(n))
      total = Math.addExact(total, n)
      gtSize(gtId) = Math.addExact(gtSize.getOrElse(gtId, 0L), n)
      val p = parsed.getOrElseUpdate(eventId, new Parsed)
      p.size = Math.addExact(p.size, n)
      if (gtId != null) { p.span += 1; p.gt = gtId }
    }
    if (total == 0L) return Scores(0.0, 0.0, 0.0, 0.0, 0L)
    val realPairs = gtSize.valuesIterator.map(pairCount).foldLeft(0L)(Math.addExact)
    val parsedPairs = parsed.valuesIterator.map(p => pairCount(p.size))
      .foldLeft(0L)(Math.addExact)
    // 1:1 groups: a parsed group spans exactly one gt group AND has its full size
    val accurate = parsed.valuesIterator
      .filter(p => p.span == 1 && gtSize(p.gt) == p.size)
      .map(_.size).foldLeft(0L)(Math.addExact)

    val precision = if (parsedPairs == 0) 0.0 else pairs.toDouble / parsedPairs
    val recall = if (realPairs == 0) 0.0 else pairs.toDouble / realPairs
    val f1 = if (precision + recall == 0) 0.0
             else 2 * precision * recall / (precision + recall)
    Scores(precision, recall, f1, accurate.toDouble / total, total)
  }

  /** C(n, 2) = n(n-1)/2 — one of n, n-1 is even, so halve that one first. */
  private def pairCount(n: Long): Long =
    if (n % 2 == 0) Math.multiplyExact(n / 2, n - 1) else Math.multiplyExact(n, (n - 1) / 2)
}
