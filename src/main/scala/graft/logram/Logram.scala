package graft.logram

import graft.miner.MinerOutput
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Logram-style n-gram-dictionary template miner (Dai, Li, Chen, Shang &
  * Chen, "Logram: Efficient Log Parsing Using n-Gram Dictionaries", IEEE TSE
  * 2020; post-2023 upstream logparser layouts ship it as `logparser/Logram/` —
  * upstream-from-memory cite, SURVEY §0.1; presence in the reference fork
  * unverifiable, empty mount).
  *
  * Core idea: STATIC tokens recur inside frequently-occurring n-grams (the
  * surrounding constant text repeats with them), while DYNAMIC tokens break
  * the frequency of every n-gram that contains them. Build an n-gram
  * dictionary in one pass, then judge each token by its covering n-grams —
  * no clustering, no iteration, no pairwise anything.
  *
  * Deterministic declarative instance: the dictionary holds BIGRAMS over the
  * boundary-extended token sequence (BOS ∙ toks ∙ EOS, so first/last tokens
  * get two covering bigrams like everyone else); token j is STATIC iff the
  * max frequency of its two covering bigrams is ≥ `support` (the upstream
  * implementation's two-level trigram→bigram check collapses to this bigram
  * rule at its default where the bigram dictionary decides; the exact
  * upstream threshold constants are unverifiable in-sandbox). Dynamic tokens
  * become `<*>`; the catalog is the distinct-template count table.
  *
  * Scale shape: the dictionary is ONE map-side-combinable count over exploded
  * bigrams (Logram's selling point — the paper markets exactly this
  * near-linear, shardable pass); the judge phase is a broadcast-join of each
  * line's bigrams against the dictionary, and the catalog one more hash agg.
  * No stage is quadratic, nothing is order-dependent — DuckDB-provable
  * end-to-end (SparkEntry `logram_templates`).
  */
object Logram {

  /** Boundary markers: split() tokens can never contain whitespace, and the
    * control characters below can't appear in the testdata corpora; they only
    * need to be distinct from real tokens.
    */
  val Bos = "\u0001"
  val Eos = "\u0002"

  /** Mine the template catalog: (event_id, event_template, occurrences). */
  def mineCatalog(lines: DataFrame, lineCol: String, support: Long): DataFrame =
    MinerOutput.withEventId(MinerOutput.withDistinctLines(lines, lineCol) { base =>
      // Joins below key on the pattern's pid, not the line STRING (round 6):
      // the vote/judge joins each shuffled ~4 rows per line keyed by the full
      // raw line — 8-byte keys shuffle and compare for a fraction of that
      // (guide §2.3 "narrower types"). A pid collision fails the mine instead
      // of merging two lines.
      MinerOutput.requireDistinctPids(base)
      // boundary-extended bigrams: ext = BOS +: toks :+ EOS; bigram k =
      // (ext(k), ext(k+1)), k = 0..len — bigram k covers token k−1 (right
      // element) and token k (left element)
      val ext = concat(array(lit(Bos)), col("toks"), array(lit(Eos)))
      val withBg = base.withColumn("bgs",
        zip_with(slice(ext, lit(1), size(ext) - 1), slice(ext, lit(2), size(ext) - 1),
          (a, b) => concat(a, lit(" "), b)))

      val bg = withBg.select(col("pid"), col("cnt"),
        posexplode(col("bgs")).as(Seq("bpos", "bg")))
      // the n-gram dictionary: one weighted, map-side-combinable count
      val dict = bg.groupBy("bg").agg(sum(col("cnt")).as("f"))

      // token j's covering bigrams are bpos j and j+1 → each bigram row votes
      // for tokens bpos−1 and bpos; keep the max covering frequency per token
      val votes = bg.join(dict, Seq("bg"))
        .select(col("pid"), explode(array(col("bpos") - 1, col("bpos"))).as("pos"),
          col("f"))
        .filter(col("pos") >= 0)
      val toks = base.select(col("pid"), col("cnt"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      val judged = toks.join(votes, Seq("pid", "pos"))
        .groupBy("pid", "cnt", "pos", "tok")
        .agg(max(col("f")).as("fmax"))
        .withColumn("piece",
          when(col("fmax") >= support, col("tok")).otherwise(lit("<*>")))

      judged.groupBy("pid", "cnt")
        .agg(concat_ws(" ", array_sort(collect_list(struct(col("pos"), col("piece"))))
          .getField("piece")).as("event_template"))
        .groupBy("event_template")
        .agg(sum("cnt").as("occurrences"))
    })
}
