package graft.logcluster

import graft.miner.MinerOutput
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LogCluster-style pattern miner (Vaarandi & Pihelgas, "LogCluster — A Data
  * Clustering and Pattern Mining Algorithm for Event Logs", CNSM'15; the reference
  * ships it as `logparser/LogCluster` wrapping the Perl implementation —
  * upstream-from-memory cite, SURVEY §0.1).
  *
  * SLCT's successor: words are frequent POSITION-INDEPENDENTLY (support = number of
  * lines containing the word, counted once per line), a line's cluster identity is
  * its ordered tuple of frequent words, and the infrequent runs between them become
  * `*{min,max}` wildcards whose bounds aggregate over the cluster's members.
  *
  * Relational formulation (no per-line sequential state): a window running-count of
  * frequent words within each line assigns every infrequent token to a gap slot
  * (slot i = after the i-th frequent word); per (line, slot) counts → per
  * (cluster, slot) min/max — with explicit zero rows for slots a member leaves
  * empty, so the min is honest — → reassembled by ordered string_agg. Shuffles:
  * word support, per-line key/gap building (one window over lid), cluster
  * aggregation. All bounded, order-independent, DuckDB-provable (SparkEntry
  * `logcluster_templates`).
  *
  * Lines with NO frequent word form the empty-tuple cluster; like SLCT's outliers
  * they are dropped from the catalog when below `support` (and a `*{m,n}`-only
  * pattern when above — kept, it is a legitimate LogCluster output).
  */
object LogCluster {

  /** Mine: (event_id, event_template, occurrences) with occurrences ≥ support.
    *
    * Round-6 shape: everything per-line is a PURE FUNCTION of the line text
    * (cluster key = ordered frequent words; gap lengths per slot), and
    * duplicate lines only scale the counts — so the mine runs over DISTINCT
    * lines with multiplicities and computes each line's (key, gaps) in ONE
    * UDF pass over its own tokens. The previous formulation exploded every
    * token of every duplicate into a per-line window plus three more
    * lid-keyed exchanges (slot assignment, per-line key, per-slot gap
    * counts) — four shuffles of per-token rows carrying information that
    * never left its line. Word support, cluster membership and gap bounds
    * are unchanged: support(word) = Σ multiplicities of distinct lines
    * containing it (≡ the paper's count-once-per-line rule), occurrences =
    * Σ member multiplicities, and min/max gap bounds are invariant to
    * duplicate members. The frequent-word dictionary is driver-collected and
    * broadcast — bounded by Σlines/support, the same bound that let the old
    * per-token join broadcast it.
    */
  def mineCatalog(lines: DataFrame, lineCol: String, support: Long): DataFrame =
    MinerOutput.withEventId(MinerOutput.withDistinctLines(lines, lineCol) { dl =>
      // support = lines containing the word, counted once per line
      val freqWords = dl
        .select(col("cnt"), explode(array_distinct(col("toks"))).as("tok"))
        .groupBy("tok").agg(sum(col("cnt")).as("wf"))
        .filter(col("wf") >= support)
        .select("tok").collect().map(_.getString(0)).toSet
      val bcFreq = lines.sparkSession.sparkContext.broadcast(freqWords)

      // per distinct line: (ordered frequent words, gap length per slot 0..nfreq)
      // — slot k holds the infrequent run between frequent words k-1 and k
      // (slot 0 before the first, slot nfreq after the last), zeros included so
      // cluster-level min() sees members that skipped nothing
      val lineStats = udf { (toks: Seq[String]) =>
        val fw = bcFreq.value
        val key = new java.lang.StringBuilder()
        val gaps = scala.collection.mutable.ArrayBuffer[Long]()
        var cur = 0L
        toks.foreach { t =>
          if (fw.contains(t)) {
            if (key.length > 0) key.append(' ')
            key.append(t)
            gaps += cur
            cur = 0L
          } else cur += 1L
        }
        gaps += cur
        (key.toString, gaps.toSeq)
      }
      val stats = dl
        .withColumn("st", lineStats(col("toks")))
        .select(col("cnt"), col("st._1").as("ckey"),
          col("st._2").as("gaps"),
          (size(col("st._2")) - 1).cast("long").as("nfreq"))

      // per cluster: occurrences = Σ member multiplicities; gap bounds over the
      // DISTINCT members (duplicates carry identical gap vectors)
      val members = stats.groupBy("ckey", "nfreq")
        .agg(sum(col("cnt")).as("occurrences"))
        .filter(col("occurrences") >= support)
      val slots = stats.select(col("ckey"),
        posexplode(col("gaps")).as(Seq("slot", "g")))
      val gapBounds = slots.join(members.select("ckey"), Seq("ckey"), "left_semi")
        .groupBy("ckey", "slot")
        .agg(min(col("g")).as("mn"), max(col("g")).as("mx"))

      // reassemble: slot i's gap piece precedes word i; word pieces come from the
      // key split back on spaces (safe: words are whitespace-free by construction)
      val gapPieces = gapBounds
        .withColumn("piece", when(col("mx") === 0, lit(null))
          .otherwise(concat(lit("*{"), col("mn").cast("string"), lit(","),
            col("mx").cast("string"), lit("}"))))
        .select(col("ckey"), (col("slot") * 2).cast("long").as("ord"), col("piece"))
      val wordPieces = members
        .select(col("ckey"),
          posexplode(when(col("nfreq") === 0, array().cast("array<string>"))
            .otherwise(split(col("ckey"), " "))).as(Seq("wpos", "piece")))
        .select(col("ckey"), (col("wpos") * 2 + 1).cast("long").as("ord"), col("piece"))
      val assembled = gapPieces.unionByName(wordPieces)
        .filter(col("piece").isNotNull)
        .groupBy("ckey")
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("ord"), col("piece"))))
          .getField("piece")).as("event_template"))

      members.join(assembled, Seq("ckey"))
        .select(col("event_template"), col("occurrences"))
    })
}
