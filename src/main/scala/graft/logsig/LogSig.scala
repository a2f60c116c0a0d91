package graft.logsig

import graft.miner.MinerOutput
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LogSig-style signature miner (Tang, Li & Perng, "LogSig: Generating System
  * Events from Raw Textual Logs", CIKM'11; the reference ships it as
  * `logparser/LogSig/LogSig.py` — upstream-from-memory cite, SURVEY §0.1).
  *
  * Core idea: each message is summarized by its set of ordered TERM PAIRS; the
  * corpus is partitioned into k groups by local search maximizing a potential
  * that rewards groups whose members share term pairs; each final group emits a
  * signature built from its majority terms.
  *
  * Scope — the deterministic, order-independent instance:
  *  - INIT: the reference seeds groups randomly; here `group₀ = ascii(first
  *    char) mod k` (any deterministic content hash computable on both engine and
  *    oracle works; ascii-of-initial is the simplest one). Callers can inject a
  *    custom init column (the spec uses one to force real reassignment work).
  *  - SEARCH: the reference moves one message at a time (scan-order dependent);
  *    here each round reassigns ALL messages synchronously to the group g
  *    maximizing score(m,g) = Σ_{r∈pairs(m)} N(r,g)² / |g|², where N(r,g) is
  *    the weighted count of group-g messages containing pair r and |g| the
  *    weighted group size — the same p(r,g)=N/|g| co-occurrence potential as the
  *    paper, squared-sum form. The numerator is an exact long and the single
  *    division is IEEE double division of exact integers, so an SQL oracle
  *    replays every comparison bit-identically. Ties → smallest group id.
  *    Rounds repeat until no message moves (or `maxIters`).
  *  - SIGNATURE: the reference emits each group's common term sequence; for
  *    catalog compatibility this emits a positional template — a position's
  *    token is kept iff its weighted count is a STRICT majority of the group
  *    (2·cnt > |g|; strictness makes 50/50 splits a deterministic `<*>` instead
  *    of an ambiguous winner), else `<*>`.
  *
  * Scale shape: everything is groupBy/join on (pair, group) keys — pair
  * explosion is quadratic in TOKENS PER MESSAGE (bounded, ~10²) never in
  * messages; each round shuffles ids+counts only. Level-0 dedup means the loop
  * works on distinct patterns weighted by multiplicity, not raw lines.
  */
object LogSig {

  /** Pair-key separator: a control char whitespace tokenization never yields,
    * so ("ab","c") and ("a","bc") form distinct pair keys (oracle: chr(1)).
    */
  private val Sep = "\u0001"

  /** Mine the template catalog: (event_id, event_template, occurrences). */
  def mineCatalog(lines: DataFrame, lineCol: String, k: Int = 3,
                  maxIters: Int = 10, init: Option[Column] = None): DataFrame =
    MinerOutput.withEventId(MinerOutput.withDistinctLines(lines, lineCol) { patterns =>
      // distinct ordered term pairs per message (same-value pair counted once)
      val pe = patterns.select(col("p"), posexplode(col("toks")).as(Seq("pos", "tok")))
      val msgPairs = pe.as("a").join(pe.as("b"), col("a.p") === col("b.p") &&
          col("a.pos") < col("b.pos"))
        .select(col("a.p").as("p"),
          concat(col("a.tok"), lit(Sep), col("b.tok")).as("r"))
        .distinct()
        .persist()

      val initCol = init.getOrElse(pmod(ascii(substring(col("p"), 1, 1)), lit(k)))
      var assign = patterns.select(col("p"), col("cnt"), initCol.cast("int").as("g"))
        .localCheckpoint(true)

      var round = 0
      var changed = true
      while (changed && round < maxIters) {
        val pairStats = msgPairs.join(assign, "p")
          .groupBy("r", "g").agg(sum("cnt").as("n"))
        val gsize = assign.groupBy("g").agg(sum("cnt").as("sz"))
        val best = msgPairs.join(pairStats, "r")
          .groupBy("p", "g").agg(sum(col("n") * col("n")).as("num"))
          .join(gsize, "g")
          .withColumn("score",
            col("num").cast("double") / (col("sz") * col("sz")).cast("double"))
          .groupBy("p")
          .agg(max_by(col("g"), struct(col("score"), lit(0) - col("g"))).as("gnew"))
        val next = assign.join(best, Seq("p"), "left")
          .select(col("p"), col("cnt"),
            coalesce(col("gnew"), col("g")).as("g"))
          .localCheckpoint(true)
        changed = next.join(assign.withColumnRenamed("g", "gold"), "p")
          .filter(col("g") =!= col("gold")).limit(1).count() > 0
        assign = next
        round += 1
      }
      msgPairs.unpersist()

      // strict-majority positional signature per group
      val gsize = assign.groupBy("g").agg(sum("cnt").as("sz"))
      val tokCnt = patterns.join(assign.select("p", "g"), "p")
        .select(col("g"), col("cnt"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .groupBy("g", "pos", "tok").agg(sum("cnt").as("c"))
      tokCnt.groupBy("g", "pos")
        .agg(max_by(col("tok"), struct(col("c"), col("tok"))).as("btok"),
          max("c").as("bc"))
        .join(gsize, "g")
        .withColumn("piece",
          when(col("bc") * 2 > col("sz"), col("btok")).otherwise(lit("<*>")))
        .groupBy("g", "sz")
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("pos"), col("piece"))))
          .getField("piece")).as("event_template"))
        .groupBy("event_template")
        .agg(sum("sz").as("occurrences"))
    })
}
