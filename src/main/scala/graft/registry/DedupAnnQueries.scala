package graft.registry

import graft.dedup.Dedup
import graft.registry.QuerySupport._
import graft.sim.Ann
import graft.text.Tokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact, paragraph, near-duplicate and embedding dedup with pair → cluster
  * resolution, and the ANN searches, each at a setting whose result an exact
  * DuckDB replay reproduces.
  */
object DedupAnnQueries {

  /** documents ∪ perturbed copies (one appended word) — near-dups, not exact. */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id") < 100)
    d.unionByName(d.filter(col("doc_id") % 2 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" zzappended"))))
  }

  // exactness settings (probe everything) provably reduce both ANN paths to
  // brute force — one float64 oracle serves all three
  private val annBruteOracle =
    "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) " +
      "SELECT vec_id AS id, round(score, 4) AS score4 FROM (" +
      "SELECT e.vec_id, list_dot_product(e.embedding::DOUBLE[], q.qv) / " +
      "GREATEST(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * " +
      "sqrt(list_dot_product(q.qv, q.qv)), 1e-12) AS score FROM embeddings e, q) " +
      "ORDER BY score DESC, vec_id LIMIT 10"

  val all: Seq[Query] = Seq(
    Query("d_exact_groups",
      oracle = "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count FROM " +
        s"($docsWithDupsSql) GROUP BY 1",
      build = (s, dir) => Dedup.exactGroups(docsWithDups(s, dir), "doc_id", "text")),
    Query("d_exact_dedup",
      oracle = s"SELECT doc_id FROM ($docsWithDupsSql) u " +
        s"WHERE doc_id IN (SELECT min(doc_id) FROM ($docsWithDupsSql) GROUP BY md5(text))",
      build = (s, dir) =>
        Dedup.exactDedup(docsWithDups(s, dir), "doc_id", "text").select("doc_id")),
    Query("d_incremental",
      // NOT EXISTS, not NOT IN: Spark's left_anti keeps batch rows whose key has
      // no match, even when the seen side contains NULLs — NOT IN would return
      // zero rows overall if any seen hash were NULL (round-4 ADVICE; benign on
      // this non-null corpus, but the semantics should match for nullable text)
      oracle = "WITH batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0), " +
        "seen AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0), " +
        "keep AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY md5(text)) " +
        "SELECT b.doc_id FROM batch b JOIN keep k USING (doc_id) " +
        "WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.h = md5(b.text))",
      build = (s, dir) => {
        // incremental crawl-snapshot dedup: the "new batch" (doc_id % 3 == 0) is
        // deduped within itself, then anti-joined on content hash against the
        // already-ingested snapshot (doc_id % 2 == 0) — the per-snapshot step of an
        // incremental pipeline. The slices OVERLAP at doc_id % 6 == 0, so the
        // oracle genuinely exercises the drop path; the seen side ships hashes
        // only, never text.
        val docs = t(s, dir, "documents")
        Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 3 === 0),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text").select("doc_id")
      }),
    Query("d_para_dedup",
      // full relational replay: split on the double-newline separator, keeper =
      // first (doc_id, pos) per paragraph hash, ordered reassembly
      oracle = "WITH docs AS (SELECT doc_id, substr(text, 1, 50) || chr(10) || chr(10) || " +
        "'subscribe to our newsletter for updates' || chr(10) || chr(10) || " +
        "substr(text, 51, 50) AS text FROM documents), " +
        "paras AS (SELECT doc_id, generate_subscripts(p, 1) AS pos1, unnest(p) AS para " +
        "FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS p FROM docs)), " +
        "kept AS (SELECT doc_id, pos1, para, row_number() OVER " +
        "(PARTITION BY md5(para) ORDER BY doc_id, pos1) AS rk FROM paras), " +
        "asm AS (SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos1) AS text " +
        "FROM kept WHERE rk = 1 GROUP BY doc_id) " +
        "SELECT doc_id, md5(text) AS text_md5, CAST(length(text) AS BIGINT) AS n_chars FROM asm",
      build = (s, dir) => {
        // paragraph-level exact dedup (C4/Dolma curation step): every doc is
        // [unique head ¶][GLOBAL boilerplate ¶][unique tail ¶] — after dedup the
        // boilerplate survives only in the smallest doc_id; docs shorter than 51
        // chars contribute colliding empty tails, exercising the same rule. The
        // result ships as (doc_id, md5(text), length) so the compare stays
        // compact while digesting the full reassembled text.
        val docs = t(s, dir, "documents").select(col("doc_id"), concat(
          substring(col("text"), 1, 50), lit("\n\n"),
          lit("subscribe to our newsletter for updates"), lit("\n\n"),
          substring(col("text"), 51, 50)).as("text"))
        Dedup.paragraphDedup(docs, "doc_id", "text")
          .select(col("doc_id"), md5(col("text")).as("text_md5"),
            length(col("text")).cast("long").as("n_chars"))
      }),
    Query("d_minhash_pairs",
      // oracled against the EXACT all-pairs Jaccard≥0.9 set: the trailing verify
      // stage guarantees precision 1.0, and at (bands=16, rows=4) every J≥0.9 pair
      // in this corpus lands in a shared band (exact copies have J=1 → identical
      // signatures → every band; the natural near-dup pairs are verified equal to
      // the exact set), so the oracle doubles as a recall=1.0 assertion
      oracle = s"WITH docs AS ($docsWithDupsSql), ${shingleSetsSql("docs")} ${jaccardPairsSql("0.9")}",
      build = (s, dir) => minhashPairsFor(s, dir).select(col("id_a"), col("id_b"))),
    Query("d_simhash_pairs",
      // FNV sketch family so the DuckDB oracle recomputes the simhash bit-for-bit:
      // FNV-1a-64 per token (HUGEINT mod-2^64, same emulation as t_rolling_fp),
      // token hash → 64-char binary string, per-bit strict majority (2·#set >
      // #tokens, ties → 0) → 64-bit key; pairs = equal keys. At maxHamming=0 the
      // pigeonhole banding is EXACT (hamming 0 ⇒ all four 16-bit bands equal), so
      // the pair set is provably all equal-simhash pairs — no recall caveat
      oracle = s"WITH docs AS ($docsWithDupsSql), " +
        s"toks AS (SELECT doc_id, ${Tokens.sql("text")} AS ts FROM docs), " +
        s"th AS (SELECT doc_id, $fnvTokenHashesSql AS hs FROM toks), " +
        "bits AS (SELECT doc_id, list_transform(hs, u -> lpad(bin(u), 64, '0')) AS bs FROM th), " +
        "k AS (SELECT doc_id, array_to_string(list_transform(range(1, 65), i -> " +
        "CASE WHEN 2 * len(list_filter(bs, b -> b[i] = '1')) > len(bs) THEN '1' ELSE '0' END), '') AS key FROM bits) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id",
      build = (s, dir) =>
        Dedup.simhashDupPairs(docsWithDups(s, dir), "doc_id", "text", maxHamming = 0)
          .select(col("id_a"), col("id_b"))),
    Query("d_jaccard_pairs",
      oracle = "WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100 " +
        "UNION ALL SELECT doc_id + 100000, text || ' zzappended' FROM documents " +
        s"WHERE doc_id < 100 AND doc_id % 2 = 0), ${shingleSetsSql("docs")} ${jaccardPairsSql("0.5")}",
      build = (s, dir) =>
        Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "doc_id", "text",
          k = 3, threshold = 0.5).select(col("id_a"), col("id_b"))),
    Query("d_embed_pairs",
      oracle = "WITH w AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings " +
        "UNION ALL SELECT vec_id + 100000, " +
        "list_transform(embedding, x -> CAST(x + CAST(0.001 AS FLOAT) AS FLOAT))::DOUBLE[] " +
        "FROM embeddings WHERE vec_id % 5 = 0) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM w a, w b " +
        "WHERE a.vec_id < b.vec_id AND list_dot_product(a.v, b.v) / " +
        "GREATEST(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 1e-12) >= 0.99",
      build = (s, dir) => {
        // oracled against the EXACT all-pairs float64 cosine ≥ 0.99 set (round 3):
        // the trailing cosine filter makes precision exact, and recall 1.0 is
        // pinned on this deterministic corpus — every perturbed dup (+0.001f) lands
        // in its original's bucket at these seeded planes (the perturbation's
        // projection shift is far from any plane boundary here; checked at sf0.001
        // and sf0.01). Vectors are widened to float64 BEFORE bucketing+scoring so
        // the threshold compare is bit-reproducible against DuckDB.
        val e = t(s, dir, "embeddings")
        val withDups = e.unionByName(e.filter(col("vec_id") % 5 === 0)
          .withColumn("vec_id", col("vec_id") + 100000)
          .withColumn("embedding", transform(col("embedding"), x => x + lit(0.001f))))
          .withColumn("embedding", col("embedding").cast("array<double>"))
        Dedup.embeddingDupPairs(withDups, "vec_id", "embedding", dim = 64,
          planes = 12, threshold = 0.99).select(col("id_a"), col("id_b"))
      }),
    Query("d_components",
      // pairs → clusters: min-label connected components over the LSH near-dup
      // pair list (the step a real dedup pipeline needs before keeping one doc per
      // cluster). The oracle's recursive CTE over the exact pair set holds every
      // (node, reachable label) in r; min per node = smallest id in the
      // component, the iterative Spark path's canonical rule
      oracle = s"WITH RECURSIVE docs AS ($docsWithDupsSql), ${shingleSetsSql("docs")}, " +
        s"p AS (${jaccardPairsSql("0.9")}), " +
        "e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
        "r AS (SELECT src AS id, src AS comp FROM e UNION SELECT e.dst, r.comp FROM r JOIN e ON r.id = e.src) " +
        "SELECT id, min(comp) AS component FROM r GROUP BY id",
      build = (s, dir) =>
        Dedup.connectedComponents(minhashPairsFor(s, dir))
          .select(col("id"), col("component"))),

    // ---------- similarity search --------------------------------------------
    Query("ann_brute_topk",
      oracle = annBruteOracle,
      build = (s, dir) => {
        // embeddings cast to double BEFORE scoring: the DuckDB oracle computes in
        // float64, and a float32 multiply disagrees in ulps right at round()'s
        // half-way points — double-in, double-out is bit-reproducible on both sides
        val e = t(s, dir, "embeddings")
          .withColumn("embedding", col("embedding").cast("array<double>"))
        val q = e.filter(col("vec_id") === 0).select("embedding")
          .collect()(0).getSeq[Double](0)
        Ann.bruteForceTopK(e, "vec_id", "embedding", q, 10)
          .select(col("id"), round(col("score"), 4).as("score4"))
      }),
    Query("ann_lsh_topk",
      oracle = annBruteOracle,
      build = (s, dir) => {
        // exactness setting (round 3): probeHamming = planes accepts every bucket,
        // so the LSH path must reproduce the brute-force float64 oracle EXACTLY —
        // this oracles the bucketing+probe machinery itself. The pruned path
        // (probeHamming=3, float32) keeps its recall bars in OpsSpec.
        val e = t(s, dir, "embeddings")
          .withColumn("embedding", col("embedding").cast("array<double>"))
        val q = e.filter(col("vec_id") === 0).select("embedding")
          .collect()(0).getSeq[Double](0)
        Ann.lshTopK(e, "vec_id", "embedding", 64, q, 10, planes = 10, probeHamming = 10)
          .select(col("id"), round(col("score"), 4).as("score4"))
      }),
    Query("ann_ivf_topk",
      oracle = annBruteOracle,
      build = (s, dir) => {
        // exactness setting: nProbe = #centroids probes every bucket, so the IVF
        // path (fit → bucket assign → probe → float64 score) must equal brute force
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0).select("embedding")
          .collect()(0).getSeq[Float](0)
        val idx = Ann.ivfFit(e, "vec_id", "embedding", k = 8, iters = 2)
        Ann.ivfTopK(idx, q, k = 10, nProbe = 8)
          .select(col("id"), round(col("score"), 4).as("score4"))
      }),
    Query("ann_topk_join",
      oracle = "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) " +
        "SELECT id_l, id_r, rank FROM (" +
        "SELECT l.vec_id AS id_l, r.vec_id AS id_r, " +
        "CAST(row_number() OVER (PARTITION BY l.vec_id ORDER BY " +
        "list_dot_product(l.v, r.v) / GREATEST(sqrt(list_dot_product(l.v, l.v)) * " +
        "sqrt(list_dot_product(r.v, r.v)), 1e-12) DESC, r.vec_id) AS BIGINT) AS rank " +
        "FROM (SELECT * FROM e WHERE vec_id < 20) l, e r) WHERE rank <= 5",
      build = (s, dir) => {
        // exactness setting: probeHamming = planes joins every bucket pair, so the
        // bucketed top-k join must equal the exact per-row top-k (float64 both sides)
        val e = t(s, dir, "embeddings")
          .withColumn("embedding", col("embedding").cast("array<double>"))
        Ann.topKJoin(e.filter(col("vec_id") < 20), e, "vec_id", "vec_id",
          "embedding", 64, k = 5, planes = 8, probeHamming = 8)
          .select(col("id_l"), col("id_r"), col("rank").cast("long").as("rank"))
      })
  )
}
