package graft.lfa

import graft.miner.MinerOutput
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LFA-style template miner (Nagappan & Vouk, "Abstracting log lines to log event
  * types for mining software system logs", MSR'10; the reference ships it as
  * `logparser/LFA/LFA.py::LogParser` ≈200 LoC — upstream-from-memory cite,
  * SURVEY §0.1).
  *
  * Core idea: tokens that belong to the static part of a log line occur with the
  * frequency of their event type, while parameter tokens are rare — so each LINE
  * can be split individually, with no global support knob:
  *  pass 1: global (position, word) frequencies (LFA counts per position, like
  *          SLCT's pass 1);
  *  pass 2: within each line, sort its token frequencies descending and split at
  *          the LARGEST GAP between consecutive frequencies; tokens at or above
  *          the split are constants, the rest become `<*>`. A line whose token
  *          frequencies are all equal has no gap and is kept fully constant
  *          (covers both all-unique lines and fully-static lines).
  *
  * Relational formulation (no sequential state): frequency join + one window over
  * the line id for the gap scan + one `max_by` per line for the split threshold —
  * ties on the gap resolve to the HIGHER frequency (split conservatively, fewer
  * constants), deterministically. Shuffles: (pos,tok) count, the per-line window,
  * template grouping — all bounded and map-side combinable, so like
  * [[graft.slct.Slct]] the whole mine is DuckDB-provable (SparkEntry
  * `lfa_templates`).
  */
object Lfa {

  private val Wildcard = "<*>"

  /** Mine the template catalog: (event_id, event_template, occurrences). Every line lands in
    * exactly one template (LFA has no outlier stream — rare lines simply become
    * heavily-wildcarded templates with small occurrence counts).
    */
  def mineCatalog(lines: DataFrame, lineCol: String): DataFrame =
    MinerOutput.withEventId(MinerOutput.withDistinctLines(lines, lineCol) { dl =>
      // Round-6 shape: pass 2 — the largest-relative-gap split — is a PURE
      // FUNCTION of a line's token frequencies, and duplicate lines only scale
      // counts, so the mine runs over DISTINCT lines with multiplicities: one
      // (pos, tok)-weighted frequency count, one hash join of the distinct
      // lines' tokens against it (the frequency table is unbounded — every
      // distinct parameter token — so unlike SLCT's support-filtered set it
      // must NOT be driver-collected), one per-line gather, and one UDF pass
      // replacing the former two windows + threshold join + assembly groupBy.
      val pe = dl.select(col("p"), col("cnt"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      val freq = pe.groupBy("pos", "tok").agg(sum(col("cnt")).as("wf"))
      val gathered = pe.join(freq, Seq("pos", "tok"))
        .groupBy("p")
        .agg(first(col("cnt")).as("cnt"),
          array_sort(collect_list(struct(col("pos"), col("tok"), col("wf")))).as("arr"))

      // largest-RELATIVE-gap split per line: order the line's tokens by frequency
      // descending (ties by position); ratio_i = wf_i / wf_{i+1} (1.0 for the
      // last row). The split threshold is the smallest wf among rows achieving
      // the max ratio — ties split as low as possible, keeping more tokens
      // constant. A relative gap separates the static band from the parameter
      // band even when the static tokens' own frequencies differ a lot (freqs
      // [90,50,2]: ratios [1.8, 25] put the split under 50 → "login <*> ok"; an
      // ABSOLUTE gap would split under 90 and wildcard the verb). All-equal
      // frequencies give ratio 1.0 everywhere and threshold = the common
      // frequency → fully constant line. The ratio stays an IEEE double
      // division of two exact integers — bit-identical to the former window
      // formulation and to the SQL oracle.
      val splitLine = udf { (toks: Seq[String], wfs: Seq[Long]) =>
        val n = toks.length
        val order = (0 until n).sortBy(i => (-wfs(i), i))
        var rmax = 0.0
        val ratios = new Array[Double](n)
        var k = 0
        while (k < n) {
          val next = if (k + 1 < n) wfs(order(k + 1)) else wfs(order(k))
          ratios(k) = wfs(order(k)).toDouble / next
          if (ratios(k) > rmax) rmax = ratios(k)
          k += 1
        }
        var thr = Long.MaxValue
        k = 0
        while (k < n) {
          if (ratios(k) == rmax && wfs(order(k)) < thr) thr = wfs(order(k))
          k += 1
        }
        toks.iterator.zipWithIndex
          .map { case (t, i) => if (wfs(i) >= thr) t else Wildcard }
          .mkString(" ")
      }
      gathered
        .select(splitLine(col("arr.tok"), col("arr.wf")).as("event_template"),
          col("cnt"))
        .groupBy("event_template")
        .agg(sum(col("cnt")).as("occurrences"))
    })
}
