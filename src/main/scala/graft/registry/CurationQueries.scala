package graft.registry

import graft.eval.Evaluator
import graft.mm.Multimodal
import graft.pipeline.{LogPipeline, PipelineConfig}
import graft.registry.QuerySupport._
import graft.text.{TextOps, Tokens}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation over `documents`: the structuring, hashing, grouping
  * and scoring primitives, text analysis, URL curation, the composed quality →
  * dedup → budget pipelines, sampling, decontamination and multimodal plumbing.
  */
object CurationQueries {

  /** A body of one row per document: `doc_id` and `cols`, built per call. */
  private def perDoc(cols: => Seq[Column]): (SparkSession, String) => DataFrame =
    (s, dir) => t(s, dir, "documents").select(col("doc_id") +: cols: _*)

  /** The composed pipelines' quality gate (`q` ≥ 30000, with `pred_lang`),
    * eagerly checkpointed (round 6): later stages read it more than once.
    */
  private def scored(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("q", TextOps.qualityScoreMilli(col("text")))
      .withColumn("pred_lang", TextOps.langId(col("text")))
      .filter(col("q") >= 30000)
      .localCheckpoint(true)

  /** [[scored]]'s DuckDB replay: CTEs `scored` and `filtered`. */
  private val scoredSql =
    s"scored AS (SELECT d.doc_id, d.text, $qualityExpr AS q, l.pred_lang " +
      s"FROM documents d JOIN ($langIdSubquery) l ON d.doc_id = l.doc_id), " +
      "filtered AS (SELECT * FROM scored WHERE q >= 30000), "

  /** DuckDB replay of `TextOps.tokenCount`. */
  private val tokenCountSql = s"len(${Tokens.sql("text")})"

  /** DuckDB replay of the samplers' doc hash: `md5(doc_id)`'s first 8 hex
    * digits as an unsigned 32-bit value.
    */
  private val docHashSql =
    "list_reduce(list_prepend(0::BIGINT, " +
      "list_transform(list_filter(regexp_split_to_array(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''), x -> x != ''), " +
      "c -> (strpos('0123456789abcdef', c) - 1)::BIGINT)), (a, c) -> a * 16 + c)"

  val all: Seq[Query] = Seq(
    // ---------- S2/F5/A1 primitives with real DuckDB oracles ------------------
    Query("s2_structure",
      oracle = "SELECT doc_id, regexp_extract(line, p, 1) AS Tag, regexp_extract(line, p, 2) AS Lang, " +
        "regexp_extract(line, p, 3) AS Src, regexp_extract(line, p, 4) AS Rest FROM (" +
        "SELECT doc_id, 'REQ ' || lang || ' ' || source || ': ' || substr(text, 1, 40) AS line, " +
        "'^(.*?)\\s+(.*?)\\s+(.*?):\\s+(.*?)$' AS p FROM documents)",
      build = (s, dir) => {
        // the pipeline's structuring stage; every line matches the format, so
        // its null headers for an unmatched line never meet the oracle's ""
        val lines = t(s, dir, "documents")
          .select(col("doc_id"),
            concat(lit("REQ "), col("lang"), lit(" "), col("source"), lit(": "),
              substring(col("text"), 1, 40)).as("line"))
        new LogPipeline(PipelineConfig("<Tag> <Lang> <Src>: <Rest>", Nil))
          .structure(lines).drop("parsed")
      }),
    Query("f5_eventid_md5",
      oracle = "SELECT doc_id, substr(md5(text), 1, 8) AS event_id FROM documents",
      build = perDoc(Seq(substring(md5(col("text")), 1, 8).as("event_id")))),
    Query("a1_group_counts",
      oracle = "SELECT lang, source, count(*) AS occurrences FROM documents GROUP BY lang, source",
      build = (s, dir) =>
        t(s, dir, "documents").groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("occurrences"))),
    Query("a4_contingency",
      oracle = "SELECT source AS event_id, lang AS gt_id, count(*) AS n FROM documents GROUP BY 1, 2",
      build = (s, dir) =>
        Evaluator.contingency(t(s, dir, "documents")
          .select(col("source").as("event_id"), col("lang").as("gt_id")))),
    Query("a5_eval_scores",
      // pair-counting metrics replayed: TP = Σ C(n,2) over contingency cells,
      // parsed/real pairs over group sizes, PA = lines in 1:1 groups / total.
      // Every division is IEEE double over exact integers — bit-reproducible.
      oracle = "WITH j AS (SELECT source AS event_id, lang AS gt_id FROM documents), " +
        "cont AS (SELECT event_id, gt_id, count(*) AS n FROM j GROUP BY 1, 2), " +
        "tp AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pairs, CAST(SUM(n) AS BIGINT) AS total FROM cont), " +
        "gt AS (SELECT gt_id, CAST(SUM(n) AS BIGINT) AS gsize FROM cont GROUP BY 1), " +
        "rp AS (SELECT CAST(SUM(gsize * (gsize - 1) // 2) AS BIGINT) AS real_pairs FROM gt), " +
        "pa AS (SELECT event_id, count(DISTINCT gt_id) AS span, CAST(SUM(n) AS BIGINT) AS psize, max(gt_id) AS gt1 FROM cont GROUP BY 1), " +
        "pp AS (SELECT CAST(SUM(psize * (psize - 1) // 2) AS BIGINT) AS parsed_pairs FROM pa), " +
        "acc AS (SELECT CAST(coalesce(SUM(psize), 0) AS BIGINT) AS accurate FROM pa JOIN gt ON pa.gt1 = gt.gt_id " +
        "WHERE pa.span = 1 AND pa.psize = gt.gsize), " +
        "m AS (SELECT CAST(tp.pairs AS DOUBLE) / pp.parsed_pairs AS p, " +
        "CAST(tp.pairs AS DOUBLE) / rp.real_pairs AS r, " +
        "CAST(acc.accurate AS DOUBLE) / tp.total AS pa_v, tp.total AS total " +
        "FROM tp, rp, pp, acc) " +
        "SELECT round(p, 6) AS precision6, round(r, 6) AS recall6, " +
        "round(2 * p * r / (p + r), 6) AS f16, round(pa_v, 6) AS pa6, total FROM m",
      build = (s, dir) => {
        // the evaluator's WHOLE score math (pair precision/recall/F1 + the 1:1
        // Parsing Accuracy rule) oracled on a deterministic grouping (round 3):
        // event_id = source vs gt_id = lang. log_eval_scores keeps exercising the
        // same code over the real pipeline assignment (non-SQL-expressible there).
        def r6(x: Double): Double =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val sc = Evaluator.evaluate(t(s, dir, "documents")
          .select(col("source").as("event_id"), col("lang").as("gt_id")))
        import s.implicits._
        Seq((r6(sc.precision), r6(sc.recall), r6(sc.f1), r6(sc.parsingAccuracy), sc.total))
          .toDF("precision6", "recall6", "f16", "pa6", "total")
      }),
    Query("j1_line_join",
      oracle = "SELECT lang, source, count(*) AS n FROM " +
        "(SELECT a.doc_id, a.lang, b.source FROM documents a JOIN documents b ON a.doc_id = b.doc_id) " +
        "GROUP BY lang, source",
      build = (s, dir) => {
        // J1: explicit equi-join on the line key (evaluator's implicit align)
        val d = t(s, dir, "documents")
        val a = d.select(col("doc_id"), col("lang"))
        val b = d.select(col("doc_id"), col("source"))
        a.join(b, Seq("doc_id")).groupBy("lang", "source")
          .agg(count(lit(1)).as("n"))
      }),

    // ---------- text analysis -------------------------------------------------
    Query("t_token_count",
      oracle = s"SELECT doc_id, $tokenCountSql::BIGINT AS n_tokens FROM documents",
      build = perDoc(Seq(TextOps.tokenCount(col("text")).cast("long").as("n_tokens")))),
    Query("t_quality",
      oracle = s"SELECT doc_id, $qualityExpr::BIGINT AS quality_milli FROM documents",
      build = perDoc(Seq(TextOps.qualityScoreMilli(col("text")).as("quality_milli")))),
    Query("t_stopword_ratio",
      oracle = "SELECT doc_id, CAST(floor(len(list_filter(ts, " +
        "x -> list_contains(['the','of','and','a','to','in','is','it','that','for','on','with'], x))) " +
        "* 1000 / GREATEST(len(ts), 1)) AS BIGINT) AS stopword_milli " +
        s"FROM (SELECT doc_id, ${Tokens.sql("text")} AS ts FROM documents)",
      build = perDoc(Seq(
        TextOps.stopwordRatioMilli(col("text"), TextOps.EnglishStopwords).as("stopword_milli")))),
    Query("t_fingerprint",
      oracle = s"SELECT doc_id, md5(lower(array_to_string(${Tokens.sql("text")}, ' '))) AS fp FROM documents",
      build = perDoc(Seq(TextOps.normFingerprint(col("text")).as("fp")))),
    Query("t_langid",
      oracle = langIdSubquery,
      build = perDoc(Seq(TextOps.langId(col("text")).as("pred_lang")))),
    Query("t_rolling_fp",
      // the token hashes folded by the same wrapping chain, the final value
      // mapped back to signed BIGINT
      oracle = s"WITH toks AS (SELECT doc_id, ${Tokens.sql("text")} AS ts FROM documents), " +
        s"th AS (SELECT doc_id, $fnvTokenHashesSql AS hs FROM toks) " +
        "SELECT doc_id, CAST(CASE WHEN u >= 9223372036854775808::HUGEINT " +
        "THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS rfp " +
        "FROM (SELECT doc_id, list_reduce(list_prepend(1469598103934665603::HUGEINT, hs), " +
        "(acc, t) -> (acc * 1099511628211::HUGEINT + t) % 18446744073709551616::HUGEINT) AS u FROM th)",
      build = perDoc(Seq(TextOps.rollingFingerprint(col("text")).as("rfp")))),
    Query("t_subword_count",
      // lookaround-free equivalent of the Spark split: insert spaces at punct and
      // camelCase boundaries, then split on whitespace (RE2 has no lookbehind) —
      // validated piece-equal against the Java-regex split on the real tables
      oracle = "SELECT doc_id, CAST(len(list_filter(string_split_regex(s2, '\\s+'), x -> x != '')) AS BIGINT) AS n_subwords " +
        "FROM (SELECT doc_id, regexp_replace(regexp_replace(text, '([^A-Za-z0-9\\s])', ' \\1 ', 'g'), " +
        "'([a-z])([A-Z])', '\\1 \\2', 'g') AS s2 FROM documents)",
      build = perDoc(Seq(TextOps.subwordCount(col("text")).cast("long").as("n_subwords")))),
    Query("t_pii_mask",
      // same synthesis + the same 4-pattern RE2-safe mask chain, email→IP→SSN→phone
      oracle = "WITH synth AS (SELECT doc_id, text || ' contact user' || doc_id::VARCHAR || " +
        "'@example.com from 10.' || (doc_id % 200)::VARCHAR || '.0.7 ssn 123-45-' || " +
        "lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' call 555-123-4567' AS s FROM documents), " +
        "m AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(s, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
        "'\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'), " +
        "'\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g') AS masked FROM synth) " +
        "SELECT doc_id, masked, (len(string_split_regex(masked, '<(EMAIL|IP|SSN|PHONE)>')) - 1)::BIGINT " +
        "AS n_pii FROM m",
      build = (s, dir) => {
        // the documents corpus is PII-free word salad, so PII-bearing text is
        // synthesized deterministically from doc columns (same move as log_params):
        // every doc gains one email, one IPv4, one SSN and one phone, then the
        // masking chain runs — the oracle replays both the synthesis and the mask
        val d = t(s, dir, "documents")
        val synth = concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com from 10."),
          (col("doc_id") % 200).cast("string"), lit(".0.7 ssn 123-45-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" call 555-123-4567"))
        val masked = TextOps.piiMask(synth)
        d.select(col("doc_id"), masked.as("masked"),
          TextOps.piiCount(masked).as("n_pii"))
      }),
    Query("t_quality_gate",
      oracle = "WITH m AS (SELECT doc_id, " +
        "len(ts) AS n_tok, " +
        // list_sum([]) is NULL: the one guard a blank text still needs
        "CASE WHEN len(ts) = 0 THEN 0 ELSE CAST(floor(list_sum(list_transform(ts, t -> length(t))) * 1000 / GREATEST(len(ts), 1)) AS BIGINT) END AS mean_word_milli, " +
        "CAST(floor(len(list_filter(ts, t -> regexp_matches(t, '[A-Za-z]'))) * 1000 / GREATEST(len(ts), 1)) AS BIGINT) AS alpha_word_milli, " +
        "CAST(floor((len(ts) - len(list_distinct(ts))) * 1000 / GREATEST(len(ts), 1)) AS BIGINT) AS dup_milli, " +
        "CAST(floor(len(list_filter(ts, x -> list_contains(['the','of','and','a','to','in','is','it','that','for','on','with'], x))) * 1000 / GREATEST(len(ts), 1)) AS BIGINT) AS sw " +
        s"FROM (SELECT doc_id, ${Tokens.sql("text")} AS ts FROM documents)) " +
        "SELECT doc_id, mean_word_milli, alpha_word_milli, " +
        "(n_tok BETWEEN 10 AND 100000 AND mean_word_milli BETWEEN 2000 AND 12000 " +
        "AND alpha_word_milli >= 800 AND dup_milli <= 500 AND sw >= 1)::BIGINT AS pass FROM m",
      // composite Gopher-style gate (token band + mean word length + alpha-word
      // ratio + repetition + stopword presence) — all pure codegen'd exprs
      build = perDoc(Seq(
        TextOps.meanWordLenMilli(col("text")).as("mean_word_milli"),
        TextOps.alphaWordRatioMilli(col("text")).as("alpha_word_milli"),
        TextOps.gopherPass(col("text")).cast("long").as("pass")))),
    Query("t_url_ops",
      oracle = s"WITH u AS ($synthUrlSql), " +
        s"h AS (SELECT doc_id, $urlHostSql AS host, " +
        "regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path FROM u), " +
        s"d AS (SELECT doc_id, host, path, $registeredDomainSql AS domain FROM h) " +
        "SELECT doc_id, host, domain, " +
        "(CASE WHEN path = '' OR path = '/' THEN 0 ELSE len(string_split(path, '/')) - 1 END)::BIGINT AS depth, " +
        "(domain = 'example.net')::BIGINT AS blocked FROM d",
      build = (s, dir) => {
        // URL curation primitives (host / registered domain / path depth / domain
        // blocklist) over urls synthesized deterministically from doc columns —
        // regexp-based (NOT parse_url) so the DuckDB oracle replays them verbatim
        val url = synthUrl
        val host = TextOps.urlHost(url)
        val domain = TextOps.registeredDomain(host)
        t(s, dir, "documents").select(col("doc_id"), host.as("host"), domain.as("domain"),
          TextOps.urlPathDepth(url).as("depth"),
          (domain === "example.net").cast("long").as("blocked"))
      }),
    Query("td_domain_cap",
      oracle = s"WITH u AS ($synthUrlSql), " +
        s"h AS (SELECT doc_id, $urlHostSql AS host FROM u), " +
        s"d AS (SELECT doc_id, $registeredDomainSql AS domain FROM h), " +
        "r AS (SELECT doc_id, domain, row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn FROM d) " +
        "SELECT doc_id, domain FROM r WHERE rn <= 50",
      build = (s, dir) => {
        // at most K docs per registered domain (skew-safe two-phase cap,
        // Sampling.keyCap) — the synthetic urls collapse onto THREE registered
        // domains, so at sf0.1 each domain is a ~67k-row hot key: exactly the skew
        // the salted pre-cap exists for. Deterministic order (doc_id) makes the
        // result row-identical to the oracle's single window.
        val domain = TextOps.registeredDomain(TextOps.urlHost(synthUrl))
        graft.sample.Sampling.keyCap(
          t(s, dir, "documents").select(col("doc_id"), domain.as("domain")),
          "domain", "doc_id", k = 50)
      }),
    Query("t_repetition",
      oracle = "WITH base AS (SELECT doc_id, " +
        "CAST(floor((len(ts) - len(list_distinct(ts))) * 1000 / GREATEST(len(ts), 1)) AS BIGINT) AS dup_word_milli, " +
        "CASE WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')] " +
        "ELSE list_transform(range(1, len(ts)), i -> array_to_string(ts[i:i+1], ' ')) END AS bigrams " +
        s"FROM (SELECT doc_id, ${Tokens.sql("text")} AS ts FROM documents)), " +
        "cnt AS (SELECT doc_id, bg, count(*) AS c FROM (SELECT doc_id, unnest(bigrams) AS bg FROM base) GROUP BY doc_id, bg), " +
        "agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg FROM cnt GROUP BY doc_id) " +
        "SELECT b.doc_id, b.dup_word_milli, CAST(floor(top_c * 1000 / n_bg) AS BIGINT) AS top_bigram_milli " +
        "FROM base b JOIN agg USING (doc_id)",
      build = (s, dir) => {
        // Gopher-style repetition quality signals: duplicate-token fraction (pure
        // column expr) + top-bigram fraction. The bigram top/total counts are
        // computed in ONE pass per document inside a UDF (round 6): a document's
        // bigrams are already colocated on its row, so the former explode →
        // ~1M-row (doc_id, bigram) shuffle → re-agg → join-back moved zero
        // information between rows (2 Exchanges + 1 join removed, guide §2.4 —
        // and the shape stays shuffle-free at any corpus size). The UDF replays
        // wordShingles(k=2) over the same Tokens: n<2 docs contribute one
        // whole-text shingle (count 1/1, same ratio as the joined string).
        val bigramStats = udf { (text: String) =>
          if (text == null) null
          else {
            val toks = Tokens.words(text)
            if (toks.length < 2) (1L, 1L)
            else ((0 until toks.length - 1).groupMapReduce(i => toks(i) + " " + toks(i + 1))(
              _ => 1L)(_ + _).values.max, toks.length - 1L)
          }
        }
        t(s, dir, "documents")
          .select(col("doc_id"), TextOps.dupWordMilli(col("text")).as("dup_word_milli"),
            bigramStats(col("text")).as("bs"))
          .filter(col("bs").isNotNull)
          .select(col("doc_id"), col("dup_word_milli"),
            floor(col("bs._1") * 1000L / col("bs._2")).cast("long").as("top_bigram_milli"))
      }),

    Query("td_pipeline",
      oracle = s"WITH $scoredSql" +
        "kept AS (SELECT * FROM filtered WHERE doc_id IN " +
        "(SELECT min(doc_id) FROM filtered GROUP BY md5(text))) " +
        "SELECT pred_lang, count(*) AS n_docs, " +
        s"CAST(SUM($tokenCountSql) AS BIGINT) AS n_tokens " +
        "FROM kept GROUP BY pred_lang",
      build = (s, dir) => {
        // the training-data pipeline composed end-to-end: quality gate → exact dedup
        // → per-language doc/token budget (all stages individually oracled)
        graft.dedup.Dedup.exactDedup(scored(s, dir), "doc_id", "text")
          .groupBy("pred_lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
      }),
    Query("td_pipeline_full",
      // all six stages replayed: quality+langid gate, exact dedup (min doc per
      // md5), exact Jaccard≥0.9 pairs (= the LSH+verify result, recall 1.0 on
      // this corpus), recursive-CTE components, keep-min survivors, hash-ordered
      // token budget window, final per-language stats
      oracle = s"WITH RECURSIVE $scoredSql" +
        "kept0 AS (SELECT * FROM filtered WHERE doc_id IN " +
        "(SELECT min(doc_id) FROM filtered GROUP BY md5(text))), " +
        s"${shingleSetsSql("kept0")}, p AS (${jaccardPairsSql("0.9")}), " +
        "e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
        "r AS (SELECT src AS id, src AS comp FROM e UNION SELECT e.dst, r.comp FROM r JOIN e ON r.id = e.src), " +
        "losers AS (SELECT id FROM (SELECT id, min(comp) AS component FROM r GROUP BY id) WHERE id != component), " +
        "kept AS (SELECT doc_id, pred_lang, " +
        s"$tokenCountSql::BIGINT AS n_tokens, " +
        s"$docHashSql AS h " +
        "FROM kept0 WHERE doc_id NOT IN (SELECT id FROM losers)), " +
        "rr AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY pred_lang ORDER BY h, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM kept) " +
        "SELECT pred_lang, count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens " +
        "FROM rr WHERE run <= 20000 GROUP BY pred_lang",
      build = (s, dir) => {
        // the whole curation pipeline, every stage oracled: quality gate → exact
        // dedup → LSH near-dup pairs → connected-components keep-min → per-language
        // token budget → corpus stats.
        // exact is EAGERLY checkpointed too (round 6): it feeds the minhash
        // staging, the loser anti-join AND the budget branch (~4 recomputes
        // measured). Same staged-materialization contract as minhashDupPairs;
        // blocks are ContextCleaner-collected when the result frame is dropped.
        val exact = graft.dedup.Dedup.exactDedup(scored(s, dir), "doc_id", "text")
          .localCheckpoint(true)
        val pairs = graft.dedup.Dedup.minhashDupPairs(exact, "doc_id", "text",
          k = 3, numHashes = 64, bands = 16, threshold = 0.9)
        val losers = graft.dedup.Dedup.connectedComponents(pairs)
          .filter(col("id") =!= col("component")).select(col("id").as("doc_id"))
        val kept = exact.join(losers, Seq("doc_id"), "left_anti")
          .withColumn("n_tokens", TextOps.tokenCount(col("text")).cast("long"))
        graft.sample.Sampling.tokenBudgetSample(kept, "doc_id", "pred_lang",
            "n_tokens", budget = 20000L)
          .groupBy("pred_lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      }),
    Query("td_stratified_sample",
      // same md5-hex → uint32 arithmetic; bounds are floor(fraction · 2^32)
      oracle = s"WITH hk AS (SELECT doc_id, lang, $docHashSql AS h FROM documents), " +
        "b(lang, hb) AS (VALUES ('en', 2147483648), ('es', 1073741824), ('de', 429496729)) " +
        "SELECT hk.doc_id, hk.lang FROM hk JOIN b ON hk.lang = b.lang WHERE hk.h < b.hb",
      // deterministic hash-stratified sampling (curation primitive): kept set is a
      // pure function of content hash + per-stratum fraction, reproducible across
      // engines/layouts — the oracle replays the same md5 arithmetic
      build = (s, dir) =>
        graft.sample.Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id",
          "lang", Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.1))
          .select("doc_id", "lang")),
    Query("td_budget_sample",
      oracle = "WITH d AS (SELECT doc_id, lang, " +
        s"$tokenCountSql::BIGINT AS n_tokens, " +
        s"$docHashSql AS h FROM documents), " +
        "r AS (SELECT doc_id, SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM d) " +
        "SELECT doc_id FROM r WHERE run <= 5000",
      // per-language token budget: hash-ordered running total <= budget
      build = (s, dir) =>
        graft.sample.Sampling.tokenBudgetSample(
          t(s, dir, "documents").withColumn("n_tokens",
            TextOps.tokenCount(col("text")).cast("long")),
          "doc_id", "lang", "n_tokens", budget = 5000L)
          .select("doc_id")),
    Query("td_decontam",
      // 5-gram shingles on both sides (list_distinct per doc, DISTINCT across the
      // benchmark set), inner join on the shingle, per-train-doc distinct count
      oracle = "WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0), " +
        "train AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 != 0 " +
        "UNION ALL SELECT doc_id + 200000, 'leaked copy of ' || text FROM bench), " +
        "bsh AS (SELECT DISTINCT unnest(sh) AS sh FROM (SELECT " +
        "CASE WHEN len(ts) < 5 THEN [array_to_string(ts, ' ')] " +
        "ELSE list_transform(range(1, len(ts) - 3), i -> array_to_string(ts[i:i+4], ' ')) END AS sh " +
        s"FROM (SELECT ${Tokens.sql("text")} AS ts FROM bench))), " +
        "tsh AS (SELECT doc_id, unnest(list_distinct(sh)) AS sh FROM (SELECT doc_id, " +
        "CASE WHEN len(ts) < 5 THEN [array_to_string(ts, ' ')] " +
        "ELSE list_transform(range(1, len(ts) - 3), i -> array_to_string(ts[i:i+4], ' ')) END AS sh " +
        s"FROM (SELECT doc_id, ${Tokens.sql("text")} AS ts FROM train))) " +
        "SELECT t.doc_id AS train_id, count(DISTINCT t.sh)::BIGINT AS n_overlap " +
        "FROM tsh t JOIN bsh b USING (sh) GROUP BY t.doc_id HAVING count(DISTINCT t.sh) >= 3",
      build = (s, dir) => {
        // benchmark decontamination: docs with doc_id%37==0 act as the eval set;
        // the training side is everything else PLUS a deterministic "leak" of each
        // benchmark doc (3-word prefix prepended) that must be flagged. Benchmark
        // shingles are broadcast — the training corpus never shuffles its text.
        val d = t(s, dir, "documents")
        val bench = d.filter(col("doc_id") % 37 === 0).select("doc_id", "text")
        val leaked = bench.select((col("doc_id") + 200000).as("doc_id"),
          concat(lit("leaked copy of "), col("text")).as("text"))
        val train = d.filter(col("doc_id") % 37 =!= 0).select("doc_id", "text")
          .unionByName(leaked)
        graft.text.Decontam.ngramOverlap(train, bench, "doc_id", "text",
          n = 5, minOverlap = 3)
      }),

    // ---------- multimodal plumbing ------------------------------------------
    Query("mm_features",
      oracle = "SELECT CAST(doc_id AS VARCHAR) AS url, 'html' AS kind, " +
        "CAST(octet_length(encode(b)) AS BIGINT) AS byte_len, md5(b) AS content_hash, " +
        "CAST(16 + octet_length(encode(b)) % 1024 AS INTEGER) AS width, " +
        "CAST(16 + octet_length(encode(b)) % 768 AS INTEGER) AS height " +
        "FROM (SELECT doc_id, '<html><body>' || text || '</body></html>' AS b FROM documents)",
      build = (s, dir) => {
        // binary media column synthesized from the documents table (html-wrapped
        // UTF-8 bytes) so the decode plumbing — batched mapPartitions over a true
        // BinaryType column — has a DuckDB oracle; the metadata features (byte_len,
        // content_hash, fake dims) are pure functions of the bytes
        val media = t(s, dir, "documents").select(
          col("doc_id").cast("string").as("url"),
          encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")), "UTF-8")
            .as("html"))
        Multimodal.featureTable(s, media)
          .select("url", "kind", "byte_len", "content_hash", "width", "height")
      }),
    Query("mm_frames",
      // byte offsets every `stride` bytes up to maxFrames, replayed over the
      // same UTF-8 byte length; sequence() end is inclusive, range() exclusive
      oracle = "SELECT doc_id, array_to_string(list_transform(" +
        "range(0, GREATEST(octet_length(encode(b)) - 1, 0) + 1, 1000)[1:4], x -> CAST(x AS VARCHAR)), ',') AS offsets " +
        "FROM (SELECT doc_id, '<html><body>' || text || '</body></html>' AS b FROM documents)",
      build = (s, dir) => {
        // frame-sampling plan (video-like payloads): deterministic stride offsets
        // as a pure column expression over the synthesized binary column
        val media = t(s, dir, "documents").select(
          col("doc_id"),
          encode(concat(lit("<html><body>"), col("text"), lit("</body></html>")), "UTF-8")
            .as("html"))
        media.select(col("doc_id"),
          concat_ws(",", transform(
            Multimodal.frameSampleOffsets("html", stride = 1000, maxFrames = 4),
            x => x.cast("string"))).as("offsets"))
      })
  )
}
