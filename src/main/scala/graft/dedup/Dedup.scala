package graft.dedup

import graft.text.{TextOps, Tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed around its
  * shuffle shape at 100 TB:
  *
  *  - exact: one hash-aggregate shuffle on a 16-byte key — the cheapest possible.
  *  - MinHash+LSH: signature is a pure column expression (higher-order functions, no
  *    UDF); candidate generation is a band-bucket self-join (shuffle on band hash,
  *    never all-pairs); verification is exact Jaccard on the candidates only.
  *  - SimHash: 64-bit sketch; near-dup = Hamming distance ≤ k via bucketed prefix.
  *  - embedding cosine: random-hyperplane LSH buckets → exact cosine on candidates.
  */
object Dedup {

  // ---- exact -----------------------------------------------------------------

  /** Exact dedup: group by content hash, keep the smallest id as the canonical row.
    * Map-side partial aggregation makes this one shuffle of (hash → min,count).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Rows surviving exact dedup (the keep set). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Incremental (cross-snapshot) exact dedup: rows of `batch` whose content does
    * not already appear in `seen` — the "dedup the new crawl against the corpus"
    * step an incremental pipeline runs per snapshot. Within-batch duplicates are
    * collapsed first (keep-min), then the survivors anti-join the seen set on the
    * content hash. At 10^12 seen rows the anti-join shuffles BOTH sides on the
    * hash — fine, it is one co-partitioned exchange each; when the seen set is a
    * compact hash table (ids only, as here) AQE turns it into a broadcast anti
    * join on its own. Hash-only comparison: the seen side never ships text.
    */
  def incrementalDedup(batch: DataFrame, seen: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val seenHashes = seen.select(md5(col(textCol)).as("content_hash")).distinct()
    exactDedup(batch, idCol, textCol)
      .join(seenHashes, md5(col(textCol)) === seenHashes("content_hash"), "left_anti")
  }

  /** Paragraph-level exact dedup (the C4/Dolma curation step): split each doc on
    * `sep`, keep only the GLOBALLY FIRST occurrence of each distinct paragraph
    * (canonical keeper = smallest (id, position)), and reassemble every doc's
    * surviving paragraphs in their original order. Boilerplate that repeats
    * across a crawl — navigation chrome, cookie banners, license footers —
    * survives exactly once, in the earliest doc that carries it.
    *
    * Scale shape: explode → one hash-agg on the paragraph hash (min-struct
    * keeper, map-side combinable) → one co-partitioned hash join back → one
    * per-doc reassembly agg. Nothing is pairwise; the paragraph text crosses
    * the wire once (inside the explode), keepers ship hash + (id, pos) only.
    * Docs whose every paragraph was seen earlier are ABSENT from the output
    * (the keeper filter runs before the per-doc reassembly, so a doc with no
    * surviving paragraph contributes no group). Callers needing per-input-doc
    * accounting should left-join the result back to the input ids; the
    * input-vs-output count delta is the fully-deduped-doc count. The
    * `d_para_dedup` DuckDB oracle pins these drop semantics relationally.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n"): DataFrame = {
    // "__pd_"-prefixed internals: collision-safe against caller columns (the
    // same hardening contract as Sampling.keyCap / AsofJoin)
    require(!idCol.startsWith("__pd_") && !df.columns.exists(_.startsWith("__pd_")),
      "paragraphDedup: __pd_-prefixed columns are reserved internals")
    val paras = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pd_pos", "__pd_para")))
      .withColumn("__pd_h", md5(col("__pd_para")))
    val keep = paras.groupBy("__pd_h")
      .agg(min(struct(col(idCol).as("kid"), col("__pd_pos").as("kpos"))).as("k"))
      .select(col("__pd_h"), col("k.kid").as("__pd_kid"), col("k.kpos").as("__pd_kpos"))
    paras.join(keep, Seq("__pd_h"))
      .filter(col(idCol) === col("__pd_kid") && col("__pd_pos") === col("__pd_kpos"))
      .groupBy(idCol)
      .agg(concat_ws(sep, array_sort(collect_list(struct(col("__pd_pos"), col("__pd_para"))))
        .getField("__pd_para")).as(textCol))
  }

  // ---- shingles / MinHash / LSH ----------------------------------------------

  /** Word k-shingles over [[Tokens]] as an array column — `transform(sequence(...))`
    * keeps it inside whole-stage codegen (no UDF).
    */
  def wordShingles(textCol: Column, k: Int): Column = {
    val toks = Tokens.words(textCol)
    val n = size(toks)
    when(n < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), n - k + 1),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** `array_distinct(wordShingles(text, k))` as ONE tight-loop UDF (round 6):
    * the HOF form (`transform` over `sequence` + `slice` + `concat_ws`, then
    * `array_distinct`) is evaluated by the interpreter per lambda element and
    * allocates a k-token slice array per shingle — the dominant cost of the
    * shingle-producing operators (minhash staging, decontamination). Same
    * [[Tokens]], n<k docs contribute the whole-line shingle, and the distinct
    * keeps first-occurrence order (LinkedHashSet) — same element set and order
    * as the HOF chain, null in → null out.
    */
  def wordShinglesDistinct(textCol: Column, k: Int): Column =
    wordShinglesDistinctUdf(textCol, lit(k))

  private val wordShinglesDistinctUdf = udf { (text: String, k: Int) =>
    if (text == null) null
    else {
      val toks = Tokens.words(text)
      val out = new scala.collection.mutable.LinkedHashSet[String]()
      if (toks.length < k) out.add(toks.mkString(" "))
      else {
        val ts = java.util.Arrays.asList(toks: _*)
        var i = 0
        while (i <= toks.length - k) { out.add(String.join(" ", ts.subList(i, i + k))); i += 1 }
      }
      out.toSeq
    }
  }

  /** Base hashes: each shingle STRING is hashed exactly once. The per-function
    * MinHash values are then derived from these 8-byte longs ([[minhashSignature]]) —
    * the classic one-hash-plus-mixing trick. Hashing the variable-length string
    * `numHashes` times was the round-1 plan's dominant cost (64× more byte-hashing
    * than needed).
    */
  def shingleBaseHashes(shingles: Column): Column =
    transform(shingles, s => xxhash64(s))

  /** MinHash signature from pre-hashed shingles: for each of `numHashes` seeded
    * derived hash functions, the min over a cheap long-mix of the base hash.
    *
    * Implemented as a tight-loop UDF rather than nested higher-order functions: the
    * HOF form (`transform(seq, h => array_min(transform(bh, …)))`) is interpreted
    * per lambda element and allocates a shingle-sized array per hash function —
    * measured ~1 µs/element vs ~5 ns for the loop (same justification as the
    * simhash64Fnv bit-loop; there is no built-in that expresses "k mins in one pass").
    * The mix is splitmix64-style over (baseHash, seed) — any good 64-bit family
    * works; nothing pins the exact values.
    */
  def minhashSignature(baseHashes: Column, numHashes: Int): Column =
    minhashSigUdf(baseHashes, lit(numHashes))

  private val minhashSigUdf = udf { (bh: Seq[Long], numHashes: Int) =>
    // null in (null text) → null out, matching the pure-column form's propagation
    if (bh == null) null
    else {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    bh.foreach { b =>
      var i = 0
      while (i < numHashes) {
        var z = b + (i + 1) * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D4ECB9ACAAD335L
        z ^= z >>> 31
        if (z < mins(i)) mins(i) = z
        i += 1
      }
    }
    mins.toSeq
    }
  }

  /** LSH band keys: hash `rows`-sized runs of the signature; docs sharing any band
    * key are candidates. Output: array of (band, bandHash).
    */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(concat_ws(",",
        transform(slice(sig, b * rows + 1, lit(rows)), x => x.cast("string")))).as("band_hash")))

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Shuffle shape (each stage sized for 10^12 docs):
    *  1. signature = one string-hash pass + numHashes long-rehash passes (codegen'd);
    *  2. explode bands → the banded relation carries ONLY (id, band, band_hash) —
    *     never the shingle arrays (round 1 shuffled ~50 KB of shingles per band row);
    *  3. band buckets larger than `maxBucketSize` are dropped before the self-join
    *     (boilerplate-heavy web text creates giant identical-signature buckets whose
    *     self-join is quadratic; the reference's stance is count+skip — use
    *     [[oversizeBuckets]] to count/log what was dropped, and run [[exactDedup]]
    *     first so exact copies never reach LSH);
    *  4. candidates are `distinct` on (id_a, id_b) alone, THEN the two shingle sets
    *     are re-joined for the exact-Jaccard verify — two cheap hash joins instead of
    *     shuffling every array through the candidate distinct.
    */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
                      numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.7,
                      maxBucketSize: Int = 10000): DataFrame = {
    val (verified, staged) = minhashDupPairsPlan(df, idCol, textCol, k, numHashes,
      bands, threshold, maxBucketSize)
    // Materialize the (small) verified-pairs result EAGERLY so the two staged
    // caches can be released before returning — round 2 leaked both relations
    // for the session lifetime on every call (ADVICE r2). localCheckpoint blocks
    // are ContextCleaner-collected when the returned frame is GC'd, unlike
    // CacheManager entries, and downstream consumers (connected components)
    // were re-scanning the lazy plan per iteration anyway.
    val out = verified.localCheckpoint(true)
    staged.foreach(_.unpersist())
    out
  }

  /** The lazy plan behind [[minhashDupPairs]], plus the staged (persisted)
    * relations the caller must unpersist after its final action. Exposed so plan
    * tests can assert the join shape (the public entry point checkpoints eagerly,
    * which hides the plan behind an ExistingRDD scan).
    */
  def minhashDupPairsPlan(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
                          numHashes: Int = 64, bands: Int = 16,
                          threshold: Double = 0.7,
                          maxBucketSize: Int = 10000): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.storage.StorageLevel
    // Two explicit materialization points — NOT optional: Catalyst's CollapseProject
    // inlines unpersisted intermediate columns into every downstream branch, so
    // without them the signature expression (and its string hashing) is re-evaluated
    // once per branch (bucket-size agg + both join sides + verify ≈ 6×). At cluster
    // scale these persists are the staged signature / candidate tables a real
    // pipeline would write between stages.
    val hashed = df.select(col(idCol).as("id"),
        wordShinglesDistinct(col(textCol), k).as("shingles"))
      .withColumn("bh", shingleBaseHashes(col("shingles")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = hashed
      .select(col("id"), explode(lshBandKeys(
        minhashSignature(col("bh"), numHashes), bands, numHashes / bands)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.band_hash"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val smallBuckets = banded.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .select("band", "band_hash")
    val capped = banded.join(smallBuckets, Seq("band", "band_hash"), "left_semi")
    val a = capped.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val b = capped.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val verified = cand
      .join(hashed.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", exactJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    (verified, Seq(hashed, banded))
  }

  /** Band buckets [[minhashDupPairs]] would skip at `maxBucketSize` — the count+log
    * side of the skip contract (callers aggregate/inspect before choosing the cap).
    */
  def oversizeBuckets(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
                      numHashes: Int = 64, bands: Int = 16,
                      maxBucketSize: Int = 10000): DataFrame =
    df.select(col(idCol).as("id"),
        wordShinglesDistinct(col(textCol), k).as("shingles"))
      .withColumn("bh", shingleBaseHashes(col("shingles")))
      .withColumn("sig", minhashSignature(col("bh"), numHashes))
      .select(explode(lshBandKeys(col("sig"), bands, numHashes / bands)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.band_hash").as("band_hash"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)

  /** Exact Jaccard over two shingle-set arrays (arrays must be distinct). */
  def exactJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      greatest(size(array_union(a, b)).cast("double"), lit(1.0))

  /** All-pairs n-gram Jaccard above a threshold — the LSH-free exact variant for
    * modest cardinalities (verification oracle for the LSH path; the LSH path is the
    * scale path). The quadratic contract is ENFORCED: inputs above `maxRows` are
    * rejected up front (one cheap count) instead of silently launching an
    * O(n²)-at-10^9-rows cross join — route large inputs through [[minhashDupPairs]].
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
                        threshold: Double = 0.5, maxRows: Long = 10000): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"ngramJaccardPairs is all-pairs (O(n²)) by design and capped at maxRows=$maxRows " +
        s"rows; got $n. Use minhashDupPairs for large inputs.")
    val sh = df.select(col(idCol).as("id"),
      wordShinglesDistinct(col(textCol), k).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", exactJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---- SimHash ---------------------------------------------------------------

  /** 64-bit SimHash over [[Tokens]]: per-bit majority vote of token hashes, a
    * Scala UDF (bit loop; per-row cost O(tokens × 64 / word)). Tokens hash with
    * [[graft.text.TextOps.fnvToken]], whose wrapping 64-bit arithmetic is
    * emulated in DuckDB HUGEINT, so a SQL oracle reproduces every sketch bit
    * for bit.
    */
  val simhash64Fnv = udf { (text: String) =>
    if (text == null) 0L
    else {
      val toks = Tokens.words(text)
      val counts = new Array[Int](64)
      toks.foreach { t =>
        val h = TextOps.fnvToken(t)
        var j = 0
        while (j < 64) { if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1; j += 1 }
      }
      var out = 0L
      var i = 0
      while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
      out
    }
  }

  /** Near-dup candidates by SimHash: docs whose simhash agrees on a `prefixBits`-bit
    * band (4 rotations) are candidates; verified by Hamming distance ≤ maxHamming.
    * The rotation-band trick keeps this a hash-equi-join (shuffleable) rather than a
    * quadratic distance scan. The sketch is [[simhash64Fnv]].
    */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val withH = df.select(col(idCol).as("id"), simhash64Fnv(col(textCol)).as("sh"))
    // 4 bands of 16 bits: pigeonhole — hamming ≤ 3 ⇒ at least one identical band
    val banded = withH.select(col("id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), shiftrightunsigned(col("sh"), b * 16)
          .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("sh"), col("bk.band"), col("bk.key"))
    val a = banded.select(col("band"), col("key"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("key"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "key")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- pair list → clusters --------------------------------------------------

  /** Connected components over an undirected pair list `(id_a, id_b)` — the step
    * that turns near-dup PAIRS into dedup CLUSTERS (keep `min(id)` per component,
    * the same canonical-survivor rule as [[exactDedup]]).
    *
    * Iterative min-label propagation: each round every node takes the min of its
    * own label and its neighbors' labels — one shuffle (equi-join on the edge key)
    * plus one aggregation per round, converging in O(component diameter) rounds.
    * Near-dup graphs are unions of small dense clusters, so the diameter is tiny;
    * the loop exits early on a fixpoint (one cheap `isEmpty` per round —
    * driver-side control flow only, labels never collected), and THROWS if
    * `maxIters` rounds were not enough: a silently non-converged result would keep
    * several "survivors" per cluster and fail the oracles downstream — fail-stop
    * beats silently wrong; raise `maxIters` for pathological long-chain graphs.
    *
    * Each round's label table is `localCheckpoint`ed: persisting alone caches the
    * DATA but the logical plan still accumulates per round, and Catalyst's
    * analysis of a 10-deep join-on-union lineage takes minutes — checkpointing
    * truncates the plan so every round optimizes a constant-size query. Note
    * `Dataset.unpersist` does NOT release localCheckpoint blocks (they are not
    * CacheManager entries); superseded rounds' blocks are freed by the
    * ContextCleaner once unreferenced, so at most a few O(#nodes) label tables
    * are alive between GCs. On a cluster, swap in reliable `checkpoint` with a
    * checkpoint dir for executor-loss tolerance.
    *
    * Output: `(id, component)` where `component` is the smallest id reachable.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    // Convergence via the label-sum invariant (round 6): `next` takes a min
    // over a union that includes each node's OWN label, so labels decrease
    // pointwise and the node set is fixed — the label sum is strictly
    // decreasing until the fixpoint. Comparing per-round sums replaces the
    // former join-and-compare round (a full shuffle join per iteration) with
    // one cheap aggregate over the already-checkpointed labels. DECIMAL(38,0)
    // accumulation keeps the sum exact for any id range (a silent BIGINT
    // wrap could alias two different labelings).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("component").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    while (iter < maxIters && !converged) {
      val next = labels.unionByName(
          edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
            .select(col("dst").as("id"), col("component")))
        .groupBy("id").agg(min(col("component")).as("component"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — the pair graph " +
          "has a component of diameter > maxIters; raise maxIters")
    labels
  }

  // ---- embedding near-dup ----------------------------------------------------

  /** Embedding cosine near-dup pairs via random-hyperplane LSH buckets (deterministic
    * seeded hyperplanes) + exact cosine verify on candidates. `planes = 0` (default)
    * sizes the bucket count to the corpus via [[graft.sim.Ann.autoPlanes]] — a fixed
    * plane count leaves ~n²/2^planes within-bucket pairs, which goes quadratic at
    * 10^12 rows; auto-scaling keeps expected bucket size constant at any n.
    *
    * `probeFlips = 1` (default) multi-probes each single-bit neighbor bucket on one
    * join side, so a true pair is missed only when the perturbation flips ≥2 plane
    * signs (a near-dup pair sits close to a plane with probability ~angle/π per
    * plane, so one flip is the dominant failure mode — round 3 measured exactly one
    * such miss without probing). Only 0 (exact-bucket join) and 1 are implemented —
    * higher flip counts would need C(planes, k) probe combinations and are
    * rejected rather than silently behaving like 1.
    *
    * Shuffle shape: the probe explode and the band join carry (bucket, id) ONLY —
    * the dim-wide vectors are re-joined onto the deduplicated candidate pairs
    * afterwards (two hash joins), the same staging as minhashDupPairs step 4.
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, planes: Int = 0,
                        threshold: Double = 0.95,
                        probeFlips: Int = 1): DataFrame = {
    require(probeFlips == 0 || probeFlips == 1,
      s"probeFlips=$probeFlips: only 0 (no probing) or 1 (single-bit) is implemented")
    val p = if (planes > 0) planes else graft.sim.Ann.autoPlanes(df.count())
    val sig = graft.sim.Ann.hyperplaneSignature(col(vecCol), dim, p)
    val withSig = df.select(col(idCol).as("id"), col(vecCol).as("v"), sig.as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes =
      if (probeFlips == 1)
        array(Seq(col("bucket")) ++
          (0 until p).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*)
      else array(col("bucket"))
    val a = withSig.select(explode(probes).as("bucket"), col("id").as("id_a"))
    val b = withSig.select(col("bucket"), col("id").as("id_b"))
    val cand = a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct() // a pair can match via several probe buckets
    val out = cand
      .join(withSig.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(withSig.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cosine", graft.sim.Ann.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .localCheckpoint(true)
    withSig.unpersist()
    out
  }
}
