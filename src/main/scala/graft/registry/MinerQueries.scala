package graft.registry

import graft.registry.QuerySupport._
import org.apache.spark.sql.functions._

/** The DataFrame miners over line shapes built from `events`. Every catalog
  * but MoLFI's is replayed by a DuckDB oracle that re-runs the algorithm in
  * SQL; MoLFI's expected catalog is derived from the synthesis rule.
  */
object MinerQueries {

  /** The SQL twin of [[graft.miner.MinerOutput.agreementTemplates]]'s assembly,
    * over an `agg` CTE of `(key, pos1, lo, hi, n)`: a position is constant iff
    * lo = hi, occurrences are read at pos1 = 1, and identical templates merge.
    */
  private def agreementTemplatesSql(key: String): String =
    s"tpl AS (SELECT $key, string_agg(CASE WHEN lo = hi THEN lo ELSE '<*>' END, ' ' ORDER BY pos1) " +
      s"AS event_template, max(CASE WHEN pos1 = 1 THEN n END) AS occurrences FROM agg GROUP BY $key) " +
      "SELECT substr(md5(event_template), 1, 8) AS event_id, event_template, " +
      "CAST(SUM(occurrences) AS BIGINT) AS occurrences FROM tpl GROUP BY event_template"

  val all: Seq[Query] = Seq(
    Query("iplom_templates",
      // the full IPLoM mine replayed relationally: length partition → cardinality
      // table → leftmost-min split (arg_min keyed nd*1e6+pos) → cluster-goodness
      // gate → bijection-mapping split (B1/B2/MM, round 3) → per-partition
      // constant/wildcard pieces → merged catalog
      oracle = typeUserValue.linesCte +
        "t2 AS (SELECT string_split_regex(trim(line), '\\s+') AS toks, " +
        "CAST(len(string_split_regex(trim(line), '\\s+')) AS VARCHAR) AS pkey FROM lines), " +
        "pe AS (SELECT pkey, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM t2), " +
        "cards AS (SELECT pkey, arg_min(pos1, nd * 1000000 + pos1) AS split_pos1 FROM " +
        "(SELECT pkey, pos1, count(DISTINCT tok) AS nd FROM pe GROUP BY pkey, pos1) WHERE nd > 1 GROUP BY pkey), " +
        "r AS (SELECT CASE WHEN c.split_pos1 IS NULL THEN t2.pkey " +
        "ELSE t2.pkey || ' ' || t2.toks[c.split_pos1] END AS pkey, t2.toks " +
        "FROM t2 LEFT JOIN cards c ON t2.pkey = c.pkey), " +
        "cards3 AS (SELECT pkey, pos1, count(DISTINCT tok) AS nd FROM " +
        "(SELECT pkey, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM r) GROUP BY 1, 2), " +
        "elig AS (SELECT pkey FROM (SELECT pkey, " +
        "CAST(sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS gc, " +
        "sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS nm FROM cards3 GROUP BY pkey) " +
        "WHERE gc < 0.35 AND nm >= 2), " +
        "ppx AS (SELECT pkey, max(CASE WHEN rn = 1 THEN pos1 END) AS p1, " +
        "max(CASE WHEN rn = 2 THEN pos1 END) AS p2 FROM " +
        "(SELECT pkey, pos1, row_number() OVER (PARTITION BY pkey ORDER BY nd, pos1) AS rn " +
        "FROM cards3 WHERE nd > 1 AND pkey IN (SELECT pkey FROM elig)) WHERE rn <= 2 GROUP BY pkey), " +
        "r2x AS (SELECT r.pkey, r.toks, ppx.p1, ppx.p2, r.toks[ppx.p1] AS t1, " +
        "r.toks[ppx.p2] AS t2 FROM r LEFT JOIN ppx USING (pkey)), " +
        "m1x AS (SELECT pkey, t1, count(DISTINCT t2) AS m1 FROM r2x WHERE p1 IS NOT NULL GROUP BY 1, 2), " +
        "m2x AS (SELECT pkey, t2, count(DISTINCT t1) AS m2 FROM r2x WHERE p1 IS NOT NULL GROUP BY 1, 2), " +
        "r3 AS (SELECT r2x.pkey || CASE WHEN r2x.p1 IS NULL THEN '' " +
        "WHEN m2x.m2 = 1 THEN ' B1:' || r2x.t1 WHEN m1x.m1 = 1 THEN ' B2:' || r2x.t2 " +
        "ELSE ' MM' END AS pkey, r2x.toks FROM r2x " +
        "LEFT JOIN m1x ON r2x.pkey = m1x.pkey AND r2x.t1 = m1x.t1 " +
        "LEFT JOIN m2x ON r2x.pkey = m2x.pkey AND r2x.t2 = m2x.t2), " +
        "pe2 AS (SELECT pkey, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM r3), " +
        "agg AS (SELECT pkey, pos1, min(tok) AS lo, max(tok) AS hi, count(*) AS n FROM pe2 GROUP BY pkey, pos1), " +
        agreementTemplatesSql("pkey"),
      // the third miner (IPLoM partition refinement, Makanju et al. KDD'09): fully
      // declarative — the whole mine is groupBy/agg — so unlike the online
      // Drain/Spell miners its complete template catalog has a DuckDB oracle
      build = (s, dir) => graft.iplom.Iplom.mineCatalog(typeUserValue.lines(s, dir), "line")),
    Query("slct_templates",
      // SLCT's two counting passes replayed relationally: global (position, word)
      // frequencies ≥ support → per-line abstraction (ordered string_agg) →
      // cluster support filter
      oracle = typeUserValue.linesCte +
        "s AS (SELECT count(*) // 10 AS sup FROM lines), " +
        "t AS (SELECT row_number() OVER () AS lid, string_split_regex(trim(line), '\\s+') AS toks FROM lines), " +
        "pe AS (SELECT lid, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM t), " +
        "freq AS (SELECT pos1, tok FROM (SELECT pos1, tok, count(*) AS wf FROM pe GROUP BY pos1, tok) " +
        "WHERE wf >= (SELECT sup FROM s)), " +
        "ab AS (SELECT lid, string_agg(CASE WHEN f.tok IS NOT NULL THEN pe.tok ELSE '<*>' END, ' ' ORDER BY pe.pos1) " +
        "AS event_template FROM pe LEFT JOIN freq f ON pe.pos1 = f.pos1 AND pe.tok = f.tok GROUP BY lid) " +
        "SELECT substr(md5(event_template), 1, 8) AS event_id, event_template, count(*) AS occurrences " +
        "FROM ab GROUP BY event_template HAVING count(*) >= (SELECT sup FROM s)",
      // fourth miner (SLCT frequent-word clustering): also fully declarative (two
      // counting passes), also DuckDB-provable; support = 10% of rows so the same
      // construction separates frequent event types from rare user/value tokens
      // at every sf
      build = (s, dir) => {
        val lines = typeUserValue.lines(s, dir)
        graft.slct.Slct.mineCatalog(lines, "line", support = lines.count() / 10)
      }),
    Query("ael_templates",
      // AEL's four stages replayed relationally: per-token anonymize (CASE chain —
      // lookbehind-free by construction), bin+categorize (GROUP BY pieces), and
      // the leftmost-hole greedy reconcile (hole explode → mergeable signatures →
      // per-template min hole → merge only where >= 2 templates chose it)
      oracle = "WITH lines AS (SELECT CASE WHEN event_type = 'click' THEN event_type || ' ping' " +
        "ELSE event_type || ' user=' || CAST(user_id AS VARCHAR) || ' code ' || " +
        "CAST(user_id % 7 AS VARCHAR) END AS line FROM events), " +
        "anon AS (SELECT list_transform(string_split_regex(trim(line), '\\s+'), t -> " +
        "CASE WHEN regexp_matches(t, '^\\w+=\\S+$') THEN regexp_replace(t, '=.*$', '=<*>') " +
        "WHEN regexp_matches(t, '[0-9]') THEN '<*>' ELSE t END) AS pieces FROM lines), " +
        "cat AS (SELECT pieces, len(pieces) AS len, " +
        "len(list_filter(pieces, p -> p = '<*>' OR ends_with(p, '=<*>'))) AS nwild, " +
        "count(*) AS occurrences FROM anon GROUP BY pieces), " +
        "holes AS (SELECT len, nwild, pieces, occurrences, unnest(range(1, len + 1)) AS p FROM cat), " +
        "holes2 AS (SELECT *, list_transform(pieces, (x, i) -> CASE WHEN i = p THEN '<*>' ELSE x END) AS holed FROM holes), " +
        "mergeable AS (SELECT len, nwild, p, holed FROM holes2 GROUP BY 1, 2, 3, 4 HAVING count(DISTINCT pieces) >= 2), " +
        "chosen AS (SELECT h.len, h.nwild, h.pieces, min(CASE WHEN m.holed IS NOT NULL THEN h.p END) AS p_chosen, " +
        "first(h.occurrences) AS occurrences FROM holes2 h LEFT JOIN mergeable m " +
        "ON h.len = m.len AND h.nwild = m.nwild AND h.p = m.p AND h.holed = m.holed GROUP BY 1, 2, 3), " +
        "withm AS (SELECT len, nwild, p_chosen, pieces, occurrences, " +
        "CASE WHEN p_chosen IS NULL THEN pieces ELSE list_transform(pieces, (x, i) -> " +
        "CASE WHEN i = p_chosen THEN '<*>' ELSE x END) END AS merged FROM chosen), " +
        "fin AS (SELECT len, nwild, p_chosen, merged, count(DISTINCT pieces) AS ntpl, " +
        "sum(occurrences) AS occ, min(pieces) AS lone FROM withm GROUP BY 1, 2, 3, 4) " +
        "SELECT substr(md5(tpl), 1, 8) AS event_id, tpl AS event_template, CAST(SUM(occ) AS BIGINT) AS occurrences " +
        "FROM (SELECT array_to_string(CASE WHEN p_chosen IS NOT NULL AND ntpl >= 2 THEN merged ELSE lone END, ' ') AS tpl, occ FROM fin) " +
        "GROUP BY tpl",
      build = (s, dir) => {
        // fifth miner (AEL anonymize→bin→categorize→reconcile): the two line shapes
        // exercise both paths — the long shape's five per-type templates reconcile
        // into one (they differ only at the type position), the short 'ping' shape
        // has no merge partner and must survive unchanged
        val lines = t(s, dir, "events").select(
          when(col("event_type") === "click", concat(col("event_type"), lit(" ping")))
            .otherwise(concat(col("event_type"), lit(" user="),
              col("user_id").cast("string"), lit(" code "),
              (col("user_id") % 7).cast("string"))).as("line"))
        graft.ael.Ael.mineCatalog(lines, "line")
      }),
    Query("logcluster_templates",
      // LogCluster replayed relationally: line-support word frequencies → running
      // count assigns gap slots → per-cluster min/max gap bounds (explicit zero
      // rows keep the min honest) → ordered reassembly
      oracle = typeUserValue.linesCte +
        "s AS (SELECT count(*) // 10 AS sup FROM lines), " +
        "t AS (SELECT row_number() OVER () AS lid, string_split_regex(trim(line), '\\s+') AS toks FROM lines), " +
        "pe AS (SELECT lid, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM t), " +
        "freq AS (SELECT tok FROM (SELECT tok, count(DISTINCT lid) AS wf FROM pe GROUP BY tok) " +
        "WHERE wf >= (SELECT sup FROM s)), " +
        "mk AS (SELECT pe.lid, pe.pos1, pe.tok, f.tok IS NOT NULL AS isf, " +
        "sum(CASE WHEN f.tok IS NOT NULL THEN 1 ELSE 0 END) OVER (PARTITION BY pe.lid ORDER BY pe.pos1) AS fseq " +
        "FROM pe LEFT JOIN freq f ON pe.tok = f.tok), " +
        "mk2 AS (SELECT *, CASE WHEN isf THEN fseq - 1 ELSE fseq END AS slot FROM mk), " +
        "keys AS (SELECT lid, coalesce(string_agg(CASE WHEN isf THEN tok END, ' ' ORDER BY pos1), '') AS ckey, " +
        "CAST(sum(CASE WHEN isf THEN 1 ELSE 0 END) AS BIGINT) AS nfreq FROM mk2 GROUP BY lid), " +
        "gapc AS (SELECT lid, slot, count(*) AS g FROM mk2 WHERE NOT isf GROUP BY lid, slot), " +
        "slots AS (SELECT k.lid, k.ckey, u.slot, coalesce(g.g, 0) AS g FROM " +
        "(SELECT lid, ckey, unnest(range(0, nfreq + 1)) AS slot FROM keys) u " +
        "JOIN keys k ON u.lid = k.lid LEFT JOIN gapc g ON u.lid = g.lid AND u.slot = g.slot), " +
        "members AS (SELECT ckey, max(nfreq) AS nfreq, count(DISTINCT lid) AS occurrences FROM keys GROUP BY ckey " +
        "HAVING count(DISTINCT lid) >= (SELECT sup FROM s)), " +
        "gb AS (SELECT sl.ckey, sl.slot, min(sl.g) AS mn, max(sl.g) AS mx FROM slots sl " +
        "WHERE sl.ckey IN (SELECT ckey FROM members) GROUP BY sl.ckey, sl.slot), " +
        "gp AS (SELECT ckey, slot * 2 AS ord, '*{' || CAST(mn AS VARCHAR) || ',' || CAST(mx AS VARCHAR) || '}' AS piece " +
        "FROM gb WHERE mx > 0), " +
        "wp AS (SELECT ckey, generate_subscripts(ws, 1) * 2 - 1 AS ord, unnest(ws) AS piece FROM " +
        "(SELECT ckey, string_split(ckey, ' ') AS ws FROM members WHERE nfreq > 0)), " +
        "asm AS (SELECT ckey, string_agg(piece, ' ' ORDER BY ord) AS event_template FROM " +
        "(SELECT * FROM gp UNION ALL SELECT * FROM wp) GROUP BY ckey) " +
        "SELECT substr(md5(a.event_template), 1, 8) AS event_id, a.event_template, " +
        "CAST(m.occurrences AS BIGINT) AS occurrences FROM asm a JOIN members m ON a.ckey = m.ckey",
      // sixth miner (LogCluster: position-independent frequent-word patterns with
      // *{min,max} gap bounds) — same declarative family as SLCT/IPLoM/AEL, same
      // 10%-of-rows support so types are frequent and user/value tokens are not
      build = (s, dir) => {
        val lines = typeUserValue.lines(s, dir)
        graft.logcluster.LogCluster.mineCatalog(lines, "line",
          support = lines.count() / 10)
      }),
    Query("logmine_templates",
      // LogMine replayed relationally: distinct patterns → all-pairs distance
      // within a length group (the oracle can afford all-pairs; the engine's
      // pigeonhole banding is provably recall-exact, so the sets agree) →
      // recursive-CTE components → positionwise template assembly
      oracle = "WITH RECURSIVE lines AS (SELECT event_type || ' u' || CAST(user_id % 30 AS VARCHAR) || " +
        "' c' || CAST(user_id % 7 AS VARCHAR) AS line FROM events), " +
        "pat AS (SELECT line AS p, count(*) AS cnt FROM lines GROUP BY line), " +
        "pr AS (SELECT row_number() OVER (ORDER BY p) AS pid, p, cnt, " +
        "string_split(p, ' ') AS toks, len(string_split(p, ' ')) AS l FROM pat), " +
        "pairs AS (SELECT a.pid AS ia, b.pid AS ib FROM pr a, pr b WHERE a.pid < b.pid " +
        "AND a.l = b.l AND len(list_filter(range(1, a.l + 1), i -> a.toks[i] != b.toks[i])) " +
        "<= CAST(floor(a.l * 0.34) AS BIGINT)), " +
        "e AS (SELECT ia AS src, ib AS dst FROM pairs UNION SELECT ib, ia FROM pairs), " +
        "r AS (SELECT src AS id, src AS comp FROM e UNION SELECT e.dst, r.comp FROM r JOIN e ON r.id = e.src), " +
        "lab AS (SELECT id, min(comp) AS component FROM r GROUP BY id), " +
        "wc AS (SELECT pr.pid, pr.cnt, pr.toks, coalesce(lab.component, pr.pid) AS cluster " +
        "FROM pr LEFT JOIN lab ON pr.pid = lab.id), " +
        "pe AS (SELECT cluster, cnt, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM wc), " +
        "agg AS (SELECT cluster, pos1, min(tok) AS lo, max(tok) AS hi, sum(cnt) AS n FROM pe GROUP BY 1, 2), " +
        agreementTemplatesSql("cluster"),
      build = (s, dir) => {
        // ninth miner (LogMine threshold-graph clustering): level-0 exact pattern
        // dedup → exact pigeonhole band join → distance verify → connected
        // components → positionwise template. The u/c construction makes the
        // cluster structure nontrivial (patterns pair via a shared u OR a shared c)
        val lines = t(s, dir, "events").select(
          concat(col("event_type"), lit(" u"), (col("user_id") % 30).cast("string"),
            lit(" c"), (col("user_id") % 7).cast("string")).as("line"))
        graft.logmine.LogMine.mineCatalog(lines, "line", maxDist = 0.34)
      }),
    Query("logram_templates",
      // Logram replayed relationally: boundary-extended bigram dictionary
      // (chr(1)/chr(2) = the engine's BOS/EOS markers) → per-token max
      // covering-bigram frequency vs support → piece assembly
      oracle = typeUser50Value.linesCte +
        "s AS (SELECT count(*) // 100 AS sup FROM lines), " +
        "pat AS (SELECT trim(line) AS p, count(*) AS cnt FROM lines GROUP BY 1), " +
        "t AS (SELECT p, cnt, string_split_regex(p, '\\s+') AS toks, " +
        "list_concat(list_concat([chr(1)], string_split_regex(p, '\\s+')), [chr(2)]) AS ext FROM pat), " +
        "bgx AS (SELECT p, cnt, i AS bpos1, ext[i] || ' ' || ext[i + 1] AS bg FROM " +
        "(SELECT p, cnt, ext, unnest(range(1, len(ext))) AS i FROM t)), " +
        "dict AS (SELECT bg, sum(cnt) AS f FROM bgx GROUP BY bg), " +
        "votes AS (SELECT bgx.p, unnest([bgx.bpos1 - 1, bgx.bpos1]) AS tpos1, d.f " +
        "FROM bgx JOIN dict d ON bgx.bg = d.bg), " +
        "pe AS (SELECT p, cnt, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM t), " +
        "judged AS (SELECT pe.p, pe.cnt, pe.pos1, pe.tok, max(v.f) AS fmax FROM pe " +
        "JOIN votes v ON pe.p = v.p AND pe.pos1 = v.tpos1 GROUP BY 1, 2, 3, 4), " +
        "tpl AS (SELECT p, cnt, string_agg(CASE WHEN fmax >= (SELECT sup FROM s) " +
        "THEN tok ELSE '<*>' END, ' ' ORDER BY pos1) AS event_template FROM judged GROUP BY p, cnt) " +
        "SELECT substr(md5(event_template), 1, 8) AS event_id, event_template, " +
        "CAST(SUM(cnt) AS BIGINT) AS occurrences FROM tpl GROUP BY event_template",
      // fourteenth miner (Logram n-gram dictionary, TSE'20 — the first of the
      // post-2023 upstream additions, VERDICT missing #2): u spans 50 values
      // so every (E,uK) bigram sits at ~N/250 « support = N/100, while the
      // boundary bigram (BOS,E) carries the full type count ≈ N/5 — the type
      // token stays static, both parameter tokens wildcard
      build = (s, dir) => {
        val lines = typeUser50Value.lines(s, dir)
        graft.logram.Logram.mineCatalog(lines, "line", support = lines.count() / 100)
      }),
    Query("brain_templates",
      // Brain replayed relationally: weighted (len, pos, word) frequencies →
      // per-line modal frequency (most positions, ties to larger f) → LCP key
      // (the (pos:word) set at the modal f, sorted as strings exactly like the
      // engine's array_sort(collect_list)) → agreement assembly
      oracle = typeUser50Value.linesCte +
        "pat AS (SELECT trim(line) AS p, count(*) AS cnt FROM lines GROUP BY 1), " +
        "t AS (SELECT p, cnt, string_split_regex(p, '\\s+') AS toks, " +
        "len(string_split_regex(p, '\\s+')) AS l FROM pat), " +
        "pe AS (SELECT p, cnt, l, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM t), " +
        "freq AS (SELECT l, pos1, tok, sum(cnt) AS f FROM pe GROUP BY 1, 2, 3), " +
        "m AS (SELECT pe.p, pe.l, pe.pos1, pe.tok, freq.f FROM pe JOIN freq " +
        "ON pe.l = freq.l AND pe.pos1 = freq.pos1 AND pe.tok = freq.tok), " +
        "fc AS (SELECT p, f, count(*) AS npos FROM m GROUP BY 1, 2), " +
        "modal AS (SELECT p, f AS modal_f FROM (SELECT p, f, " +
        "row_number() OVER (PARTITION BY p ORDER BY npos DESC, f DESC) AS rk FROM fc) WHERE rk = 1), " +
        "lcp AS (SELECT m.p, string_agg(CAST(m.pos1 - 1 AS VARCHAR) || ':' || m.tok, ',' " +
        "ORDER BY CAST(m.pos1 - 1 AS VARCHAR) || ':' || m.tok) AS lcp FROM m " +
        "JOIN modal ON m.p = modal.p AND m.f = modal.modal_f GROUP BY m.p), " +
        "wc AS (SELECT t.p, t.cnt, t.toks, CAST(t.l AS VARCHAR) || '|' || lcp.lcp AS ckey " +
        "FROM t JOIN lcp ON t.p = lcp.p), " +
        "pe2 AS (SELECT ckey, cnt, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM wc), " +
        "agg AS (SELECT ckey, pos1, min(tok) AS lo, max(tok) AS hi, sum(cnt) AS n FROM pe2 GROUP BY 1, 2), " +
        agreementTemplatesSql("ckey"),
      // fifteenth miner (Brain frequency-pattern LCP grouping, TSC'23): each
      // line's three (pos, word) frequencies are well separated (type ≈ N/5,
      // u ≈ N/50, v ≈ N/1000), so the per-line modal tie resolves to the type
      // frequency and the LCP is exactly the type token → five clusters,
      // parameters wildcard by agreement
      build = (s, dir) => graft.brain.Brain.mineCatalog(typeUser50Value.lines(s, dir), "line")),
    Query("ulp_templates",
      // ULP replayed relationally: digit-token preprocessing mask → masked-layout
      // group key (length + wildcard positions) → local positionwise agreement
      oracle = "WITH lines AS (SELECT event_type || ' ' || " +
        "repeat('pad ', ascii(substr(event_type, 1, 1)) % 4) || 'u' || " +
        "repeat(chr(97 + CAST(user_id % 3 AS INT)), 2) || ' n' || CAST(user_id AS VARCHAR) AS line FROM events), " +
        "pat0 AS (SELECT trim(line) AS line, count(*) AS cnt FROM lines GROUP BY 1), " +
        "mk AS (SELECT list_transform(string_split_regex(line, '\\s+'), " +
        "t -> CASE WHEN regexp_matches(t, '[0-9]') THEN '<*>' ELSE t END) AS toks, cnt FROM pat0), " +
        "pat AS (SELECT toks, sum(cnt) AS cnt FROM mk GROUP BY toks), " +
        "keyed AS (SELECT array_to_string(list_transform(toks, " +
        "t -> CASE WHEN t = '<*>' THEN '<*>' ELSE '_' END), ' ') AS ckey, toks, cnt FROM pat), " +
        "pe AS (SELECT ckey, cnt, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM keyed), " +
        "agg AS (SELECT ckey, pos1, min(tok) AS lo, max(tok) AS hi, sum(cnt) AS n FROM pe GROUP BY 1, 2), " +
        agreementTemplatesSql("ckey"),
      build = (s, dir) => {
        // sixteenth miner (ULP local-frequency grouping, ICSME'22 — closes the
        // post-2023 upstream roster, VERDICT r4 missing #3): each type's line
        // carries ascii(type[0]) % 4 digit-free pad tokens, so the masked layout
        // (length + wildcard positions) clusters by type; 'click' and 'signup'
        // share pad count 3 and merge (their type token wildcards by LOCAL
        // disagreement — the group's frequency analysis, not a global pass),
        // the letters-only u-token always wildcards locally, and the digit
        // n-token is removed by ULP preprocessing. Catalog: 4 templates.
        val lines = t(s, dir, "events").selectExpr(
          "concat(event_type, ' ', repeat('pad ', ascii(substr(event_type, 1, 1)) % 4), " +
            "'u', repeat(char(97 + user_id % 3), 2), ' n', cast(user_id as string)) AS line")
        graft.ulp.Ulp.mineCatalog(lines, "line")
      }),
    Query("logmine_xlen_templates",
      oracle = "SELECT substr(md5(event_type || ' ' || event_type || ' <*> <*>'), 1, 8) AS event_id, " +
        "event_type || ' ' || event_type || ' <*> <*>' AS event_template, count(*) AS occurrences " +
        "FROM events GROUP BY event_type",
      build = (s, dir) => {
        // LogMine's CROSS-LENGTH alignment instance (round 4, VERDICT missing
        // #5): every 4th event's line carries an inserted trailing token, so each
        // type's corpus holds both "E E uK" (3 tokens) and "E E uK extra" (4).
        // The DOUBLED type token keeps inter-type pairs apart (≥ 2 mismatches:
        // 2/3, 4/8 — both > 0.34) while intra-type length-3 pairs connect (1/3 ≤
        // 0.34) and each 3-token pattern hooks into the cluster through its
        // same-K single-insertion pair (LCS dist 1 − 6/7 ≈ 0.14) — the 5
        // per-type clusters each MIX token counts, which the equal-length
        // instance cannot produce. The NW fold wildcards both parameter columns,
        // so the catalog is derivable from the synthesis rule: "E E <*> <*>"
        // with the type's event count — the oracle derives exactly that,
        // independent of the alignment machinery (LogMineSpec pins the
        // machinery itself).
        val lines = t(s, dir, "events").select(
          when(col("event_id") % 4 === 0,
            concat(col("event_type"), lit(" "), col("event_type"), lit(" u"),
              (col("user_id") % 6).cast("string"), lit(" extra")))
            .otherwise(concat(col("event_type"), lit(" "), col("event_type"),
              lit(" u"), (col("user_id") % 6).cast("string"))).as("line"))
        graft.logmine.LogMine.mineCatalogXLen(lines, "line", maxDist = 0.34)
      }),
    Query("lfa_templates",
      // LFA replayed relationally: (pos, word) frequencies → per-line
      // largest-relative-gap threshold (max ratio per line, ties → smallest wf,
      // matching the engine exactly — IEEE double division of equal integers)
      // → constant/wildcard assembly
      oracle = typeUserValue.linesCte +
        "t AS (SELECT row_number() OVER () AS lid, string_split_regex(trim(line), '\\s+') AS toks FROM lines), " +
        "pe AS (SELECT lid, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM t), " +
        "freq AS (SELECT pos1, tok, count(*) AS wf FROM pe GROUP BY 1, 2), " +
        "m AS (SELECT pe.lid, pe.pos1, pe.tok, f.wf FROM pe JOIN freq f ON pe.pos1 = f.pos1 AND pe.tok = f.tok), " +
        "g AS (SELECT *, CAST(wf AS DOUBLE) / coalesce(lead(wf) OVER (PARTITION BY lid ORDER BY wf DESC, pos1), wf) AS ratio FROM m), " +
        "g2 AS (SELECT *, max(ratio) OVER (PARTITION BY lid) AS rmax FROM g), " +
        "thr AS (SELECT lid, min(CASE WHEN ratio = rmax THEN wf END) AS thr FROM g2 GROUP BY lid), " +
        "ab AS (SELECT m.lid, string_agg(CASE WHEN m.wf >= thr.thr THEN m.tok ELSE '<*>' END, ' ' ORDER BY m.pos1) " +
        "AS event_template FROM m JOIN thr ON m.lid = thr.lid GROUP BY m.lid) " +
        "SELECT substr(md5(event_template), 1, 8) AS event_id, event_template, count(*) AS occurrences " +
        "FROM ab GROUP BY event_template",
      // seventh miner (LFA largest-frequency-gap split, no support knob): the
      // event-type token's frequency dwarfs the u/v parameter tokens', so every
      // line splits after its type token → "type <*> <*>" templates
      build = (s, dir) => graft.lfa.Lfa.mineCatalog(typeUserValue.lines(s, dir), "line")),
    Query("lenma_templates",
      // LenMa replayed relationally: cluster key = word-length vector; a position
      // is constant iff min(tok) = max(tok) within the cluster
      oracle = typeUserValue.linesCte +
        "t AS (SELECT string_split_regex(trim(line), '\\s+') AS toks FROM lines), " +
        "k AS (SELECT toks, array_to_string(list_transform(toks, x -> CAST(length(x) AS VARCHAR)), ',') AS lkey FROM t), " +
        "pe AS (SELECT lkey, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM k), " +
        "agg AS (SELECT lkey, pos1, min(tok) AS lo, max(tok) AS hi, count(*) AS n FROM pe GROUP BY 1, 2), " +
        agreementTemplatesSql("lkey"),
      // eighth miner (LenMa word-length-vector clustering at similarity 1.0):
      // same-shape lines cluster; positions where members disagree become <*>
      build = (s, dir) => graft.lenma.LenMa.mineCatalog(typeUserValue.lines(s, dir), "line")),
    Query("lenma_sim_templates",
      // LenMa sub-1.0 instance replayed relationally: length vectors → exact
      // all-pairs {equal count, ≤⌊len/2⌋ mismatches, cosine ≥ 0.98} (the
      // engine's banding is pigeonhole-exact for this relation, so the sets
      // agree; cosine = exact-long moments cast to double, IEEE-identical
      // expression on both sides) → recursive-CTE components → agreement
      // template assembly
      oracle = "WITH RECURSIVE lines AS (SELECT repeat(substr(event_type, 1, 1), " +
        "3 + 4 * (ascii(substr(event_type, 1, 1)) % 5)) || ' ' || " +
        "repeat('x', 19 - 4 * (ascii(substr(event_type, 1, 1)) % 5)) || ' u' || " +
        "CAST(user_id % 7 AS VARCHAR) || ' ' || " +
        "repeat('9', CAST(1 + user_id % 3 AS INT)) AS line FROM events), " +
        "pat AS (SELECT trim(line) AS p, count(*) AS cnt FROM lines GROUP BY 1), " +
        "pr AS (SELECT row_number() OVER (ORDER BY p) AS pid, p, cnt, " +
        "string_split_regex(p, '\\s+') AS toks, len(string_split_regex(p, '\\s+')) AS l FROM pat), " +
        "lvt AS (SELECT pid, cnt, toks, l, list_transform(toks, t -> length(t)::BIGINT) AS v FROM pr), " +
        "pairs AS (SELECT a.pid AS ia, b.pid AS ib FROM lvt a, lvt b WHERE a.pid < b.pid " +
        "AND a.l = b.l AND len(list_filter(range(1, a.l + 1), i -> a.v[i] != b.v[i])) " +
        "<= CAST(floor(a.l * 0.5) AS BIGINT) " +
        "AND CAST(list_sum(list_transform(range(1, a.l + 1), i -> a.v[i] * b.v[i])) AS DOUBLE) / " +
        "(sqrt(CAST(list_sum(list_transform(a.v, x -> x * x)) AS DOUBLE)) * " +
        "sqrt(CAST(list_sum(list_transform(b.v, x -> x * x)) AS DOUBLE))) >= 0.98), " +
        "e AS (SELECT ia AS src, ib AS dst FROM pairs UNION SELECT ib, ia FROM pairs), " +
        "r AS (SELECT src AS id, src AS comp FROM e UNION SELECT e.dst, r.comp FROM r JOIN e ON r.id = e.src), " +
        "lab AS (SELECT id, min(comp) AS component FROM r GROUP BY id), " +
        "wc AS (SELECT lvt.pid, lvt.cnt, lvt.toks, coalesce(lab.component, lvt.pid) AS cluster " +
        "FROM lvt LEFT JOIN lab ON lvt.pid = lab.id), " +
        "pe AS (SELECT cluster, cnt, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM wc), " +
        "agg AS (SELECT cluster, pos1, min(tok) AS lo, max(tok) AS hi, sum(cnt) AS n FROM pe GROUP BY 1, 2), " +
        agreementTemplatesSql("cluster"),
      build = (s, dir) => {
        // LenMa's tunable sub-1.0 cosine instance (round 4, VERDICT missing #4):
        // each type's two leading tokens have complementary lengths (3+4k,
        // 19−4k for a type-distinct k), so INTER-type length vectors sit far
        // apart in angle (cos ≤ 0.963) while intra-type pairs — only the
        // trailing digit-run token's length varies (1..3) — stay ≥ 0.9895.
        // sim = 0.98 separates the modes and merges three length SHAPES per type
        // into one cluster, which the exact (sim 1.0) instance cannot produce.
        val lines = t(s, dir, "events").selectExpr(
          "concat(repeat(substr(event_type, 1, 1), 3 + 4 * (ascii(substr(event_type, 1, 1)) % 5)), " +
            "' ', repeat('x', 19 - 4 * (ascii(substr(event_type, 1, 1)) % 5)), " +
            "' u', CAST(user_id % 7 AS STRING), ' ', " +
            "repeat('9', CAST(1 + user_id % 3 AS INT))) AS line")
        graft.lenma.LenMa.mineCatalogSim(lines, "line", sim = 0.98)
      }),
    Query("shiso_templates",
      // SHISO replayed relationally: cluster key = per-token char-class count
      // signature sequence (u:l:d:o); a position is constant iff min(tok) =
      // max(tok) within the cluster ('g' flag: DuckDB regexp_replace is
      // first-match-only by default, Spark's replaces all)
      oracle = typeUserValue.linesCte +
        "pat AS (SELECT trim(line) AS p, count(*) AS cnt FROM lines GROUP BY 1), " +
        "k AS (SELECT cnt, string_split_regex(p, '\\s+') AS toks FROM pat), " +
        "k2 AS (SELECT cnt, toks, array_to_string(list_transform(toks, x -> " +
        "CAST(length(regexp_replace(x, '[^A-Z]', '', 'g')) AS VARCHAR) || ':' || " +
        "CAST(length(regexp_replace(x, '[^a-z]', '', 'g')) AS VARCHAR) || ':' || " +
        "CAST(length(regexp_replace(x, '[^0-9]', '', 'g')) AS VARCHAR) || ':' || " +
        "CAST(length(x) - length(regexp_replace(x, '[^A-Z]', '', 'g')) - " +
        "length(regexp_replace(x, '[^a-z]', '', 'g')) - " +
        "length(regexp_replace(x, '[^0-9]', '', 'g')) AS VARCHAR)), ',') AS ckey FROM k), " +
        "pe AS (SELECT ckey, cnt, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM k2), " +
        "agg AS (SELECT ckey, pos1, min(tok) AS lo, max(tok) AS hi, sum(cnt) AS n FROM pe GROUP BY 1, 2), " +
        agreementTemplatesSql("ckey"),
      // tenth miner (SHISO char-class composition vectors, deterministic exact
      // instance): tokens cluster by (upper, lower, digit, other) count
      // signatures — "u7" and "u123" land in different clusters (digit count
      // differs), disagreeing positions inside a cluster wildcard
      build = (s, dir) => graft.shiso.Shiso.mineCatalog(typeUserValue.lines(s, dir), "line")),
    Query("lke_templates",
      // LKE replayed relationally: all-pairs WEIGHTED TOKEN EDIT DISTANCE on
      // distinct lines (equal token counts by construction, so the DP's value is
      // the sum of mismatched positions' weights — the closed form replayed
      // here; the weight literal is interpolated from Lke.weightMilli, ONE
      // source of truth) → closed-form 1-D 2-means threshold (cumulative-moment
      // SSE scan, all doubles converted from exact longs so every comparison is
      // bit-identical to the engine) → recursive-CTE components → ONE
      // private-content split round (this corpus reaches fixpoint after it;
      // LkeSpec drives multi-round and the unequal-length DP)
      oracle = "WITH RECURSIVE lines AS (SELECT repeat(substr(event_type, 1, 1), 8) || ' ' || " +
        "substr(event_type, 1, 1) || CAST(user_id % 5 AS VARCHAR) || ' job ' || " +
        "substr(event_type, 1, 1) || CAST(user_id % 3 AS VARCHAR) AS line FROM events), " +
        "pat AS (SELECT trim(line) AS p, count(*) AS cnt FROM lines GROUP BY 1), " +
        "pr AS (SELECT row_number() OVER (ORDER BY p) AS pid, p, cnt, " +
        "string_split_regex(p, '\\s+') AS toks FROM pat), " +
        s"w AS (SELECT ${graft.lke.Lke.weightMilliSqlList} AS wt), " +
        "pairs AS (SELECT a.pid AS ia, b.pid AS ib, CAST(list_sum(list_transform(" +
        "range(1, len(a.toks) + 1), i -> CASE WHEN a.toks[i] != b.toks[i] " +
        "THEN w.wt[i] ELSE 0 END)) AS BIGINT) AS dist " +
        "FROM pr a, pr b, w WHERE a.pid < b.pid), " +
        "dv AS (SELECT dist, count(*) AS w FROM pairs GROUP BY dist), " +
        "o AS (SELECT dist, sum(w) OVER wo AS cn, sum(w * dist) OVER wo AS cs, " +
        "sum(w * dist * dist) OVER wo AS cq, sum(w) OVER () AS tn, " +
        "sum(w * dist) OVER () AS ts, sum(w * dist * dist) OVER () AS tq FROM dv " +
        "WINDOW wo AS (ORDER BY dist ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "sp AS (SELECT dist, (CAST(cq AS DOUBLE) - CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE)) + " +
        "CASE WHEN tn = cn THEN 0.0 ELSE CAST(tq - cq AS DOUBLE) - " +
        "CAST(ts - cs AS DOUBLE) * CAST(ts - cs AS DOUBLE) / CAST(tn - cn AS DOUBLE) END AS sse FROM o), " +
        "thr AS (SELECT min(dist) AS t FROM sp WHERE sse = (SELECT min(sse) FROM sp)), " +
        "e AS (SELECT ia AS src, ib AS dst FROM pairs WHERE dist <= (SELECT t FROM thr) " +
        "UNION SELECT ib, ia FROM pairs WHERE dist <= (SELECT t FROM thr)), " +
        "r AS (SELECT src AS id, src AS comp FROM e UNION SELECT e.dst, r.comp FROM r JOIN e ON r.id = e.src), " +
        "lab AS (SELECT id, min(comp) AS component FROM r GROUP BY id), " +
        "wc AS (SELECT pr.pid, pr.cnt, pr.toks, CAST(coalesce(lab.component, pr.pid) AS VARCHAR) AS cluster " +
        "FROM pr LEFT JOIN lab ON pr.pid = lab.id), " +
        "pe AS (SELECT cluster, pid, cnt, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM wc), " +
        "ms AS (SELECT cluster, count(*) AS m FROM wc GROUP BY cluster), " +
        "cst AS (SELECT cluster, pos1, count(DISTINCT tok) AS nd, count(*) AS np FROM pe GROUP BY 1, 2), " +
        "ch AS (SELECT cluster, pos1 AS spos FROM (SELECT cst.cluster, cst.pos1, cst.nd, " +
        "row_number() OVER (PARTITION BY cst.cluster ORDER BY cst.nd, cst.pos1) AS rk " +
        "FROM cst JOIN ms ON cst.cluster = ms.cluster " +
        "WHERE cst.np = ms.m AND cst.nd > 1 AND cst.nd <= 4) WHERE rk = 1), " +
        "nk AS (SELECT pe.pid, pe.cluster || '|' || pe.tok AS nc FROM pe " +
        "JOIN ch ON pe.cluster = ch.cluster AND pe.pos1 = ch.spos), " +
        "wc2 AS (SELECT wc.pid, wc.cnt, wc.toks, coalesce(nk.nc, wc.cluster) AS cluster " +
        "FROM wc LEFT JOIN nk ON wc.pid = nk.pid), " +
        "pe2 AS (SELECT cluster, cnt, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM wc2), " +
        "m2 AS (SELECT cluster, count(*) AS m, sum(cnt) AS occ FROM wc2 GROUP BY cluster), " +
        "agg AS (SELECT cluster, pos1, min(tok) AS lo, max(tok) AS hi, count(*) AS np FROM pe2 GROUP BY 1, 2), " +
        "tpl AS (SELECT agg.cluster, string_agg(CASE WHEN agg.lo = agg.hi AND agg.np = m2.m THEN agg.lo " +
        "ELSE '<*>' END, ' ' ORDER BY agg.pos1) AS event_template " +
        "FROM agg JOIN m2 ON agg.cluster = m2.cluster GROUP BY agg.cluster) " +
        "SELECT substr(md5(event_template), 1, 8) AS event_id, event_template, " +
        "CAST(sum(m2.occ) AS BIGINT) AS occurrences FROM tpl JOIN m2 ON tpl.cluster = m2.cluster " +
        "GROUP BY event_template",
      build = (s, dir) => {
        // eleventh miner (LKE weighted-token-distance graph → learned 2-means
        // threshold → components → private-content splitting). Every token of a
        // line carries the type's initial, so INTER-type pairs mismatch at
        // positions {0,1,3} — a constant 816-milli distance mode — while intra
        // distances stay ≤ 316 milli: the weighted-distance histogram is cleanly
        // bimodal and 2-means learns the 316 boundary. The job column
        // (cardinality 3 ≤ splitThreshold 4) splits, the u column (cardinality
        // 5 > 4) wildcards — this corpus reaches the split fixpoint in one
        // effective round, which the one-round-unrolled SQL oracle mirrors (the
        // multi-round loop and the distance DP are exercised by LkeSpec)
        val pfx = substring(col("event_type"), 1, 1)
        val lines = t(s, dir, "events").select(
          concat(repeat(pfx, 8), lit(" "), pfx, (col("user_id") % 5).cast("string"),
            lit(" job "), pfx, (col("user_id") % 3).cast("string")).as("line"))
        graft.lke.Lke.mineCatalog(lines, "line")
      }),
    Query("logsig_templates",
      // LogSig replayed relationally: ascii-initial init (provably the search
      // fixpoint on this corpus — no cross-type pair exists, see the body's
      // comment) → per-(group, pos) weighted token counts → strict-majority
      // signature assembly
      oracle = "WITH lines AS (SELECT event_type || ' u' || CAST(user_id % 4 AS VARCHAR) || ' ' || " +
        "upper(substr(event_type, 1, 2)) AS line FROM events), " +
        "pat AS (SELECT trim(line) AS p, count(*) AS cnt FROM lines GROUP BY 1), " +
        "a AS (SELECT p, cnt, string_split_regex(p, '\\s+') AS toks, " +
        "ascii(substr(p, 1, 1)) % 3 AS g FROM pat), " +
        "gs AS (SELECT g, sum(cnt) AS sz FROM a GROUP BY g), " +
        "pe AS (SELECT g, cnt, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos1 FROM a), " +
        "tc AS (SELECT g, pos1, tok, sum(cnt) AS c FROM pe GROUP BY 1, 2, 3), " +
        "bs AS (SELECT g, pos1, tok AS btok, c AS bc FROM (SELECT g, pos1, tok, c, " +
        "row_number() OVER (PARTITION BY g, pos1 ORDER BY c DESC, tok DESC) AS rk FROM tc) WHERE rk = 1), " +
        "pieces AS (SELECT bs.g, bs.pos1, CASE WHEN bs.bc * 2 > gs.sz THEN bs.btok ELSE '<*>' END AS piece " +
        "FROM bs JOIN gs ON bs.g = gs.g), " +
        "tpl AS (SELECT g, string_agg(piece, ' ' ORDER BY pos1) AS event_template FROM pieces GROUP BY g) " +
        "SELECT substr(md5(event_template), 1, 8) AS event_id, event_template, " +
        "CAST(sum(gs.sz) AS BIGINT) AS occurrences FROM tpl JOIN gs ON tpl.g = gs.g " +
        "GROUP BY event_template",
      build = (s, dir) => {
        // twelfth miner (LogSig pair-potential local search, deterministic
        // synchronous instance). Every term pair in this corpus contains a
        // type-derived token and the ascii-initial init groups each type whole, so
        // no message shares a pair with a foreign group — the init is PROVABLY the
        // search fixpoint and the loop's one round verifies it, which is what the
        // loop-free SQL oracle replays (real reassignment is driven by LogSigSpec's
        // adversarial init). Groups: {click}, {error}, {purchase,signup,view} —
        // the mixed group majority-wildcards every position
        val lines = t(s, dir, "events").select(
          concat(col("event_type"), lit(" u"), (col("user_id") % 4).cast("string"),
            lit(" "), upper(substring(col("event_type"), 1, 2))).as("line"))
        graft.logsig.LogSig.mineCatalog(lines, "line")
      }),
    Query("molfi_templates",
      // thirteenth miner (MoLFI seeded NSGA-II over per-length partitions) — the
      // one genuinely non-SQL-expressible miner (population search), so its
      // oracle is derived from the synthesis rule: the by-type partition is the
      // Pareto knee (spec 1/2 × freq 1/5 beats one-cluster's 0 and singletons'
      // 1/30), so the catalog is five "type <*>" templates with the type's event
      // count. MolfiSpec pins the search itself on five corpora.
      oracle = "SELECT substr(md5(event_type || ' <*>'), 1, 8) AS event_id, " +
        "event_type || ' <*>' AS event_template, count(*) AS occurrences " +
        "FROM events GROUP BY event_type",
      build = (s, dir) => {
        val lines = t(s, dir, "events").select(
          concat(col("event_type"), lit(" u"), (col("user_id") % 6).cast("string"))
            .as("line"))
        graft.molfi.Molfi.mineCatalog(lines, "line")
      })
  )
}
