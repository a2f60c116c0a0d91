package graft.ops

import graft.SparkSuite
import graft.dedup.Dedup
import graft.eval.Evaluator
import graft.sim.Ann
import graft.text.TextOps
import graft.mm.Multimodal
import graft.ingest.WebPagesGen
import org.apache.spark.sql.functions._

/** Specs for the training-data operator families: text analysis, dedup, ANN,
  * multimodal plumbing, evaluator.
  */
class OpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),       // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog tonight"), // near dup
    (3L, "completely different content about spark engines"),
    (4L, "")
  ).toDF("doc_id", "text")

  test("text: token count / quality / stopword ratio / fingerprints") {
    val r = docs.select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.qualityScoreMilli(col("text")).as("q"),
      TextOps.stopwordRatioMilli(col("text"), TextOps.EnglishStopwords).as("sw"),
      TextOps.normFingerprint(col("text")).as("fp"),
      TextOps.rollingFingerprint(col("text")).as("rfp"))
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getInt(1) == 9)
    assert(r(4L).getInt(1) == 0)
    assert(r(0L).getLong(3) == 222L) // 2 'the' of 9 tokens → floor(2000/9)
    assert(r(0L).getString(4) == r(1L).getString(4)) // exact dups same fp
    assert(r(0L).getString(4) != r(2L).getString(4))
    assert(r(0L).getLong(5) == r(1L).getLong(5))
    assert(r(0L).getLong(5) != r(2L).getLong(5))
    assert(r(0L).getLong(3) > r(3L).getLong(3)) // stopword-rich scores higher sw ratio
  }

  test("text: langId picks marker language, 'und' when no markers") {
    val d = Seq(
      (1L, "the cat is on the mat and the dog is in the house"),
      (2L, "el gato de la casa que los perros una vez por"),
      (3L, "der hund und die katze das haus nicht ein mit"),
      (4L, "xyzzy qwerty asdf")).toDF("id", "text")
    val out = d.select(col("id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "und"))
  }

  test("dedup: exact groups and keep-min semantics") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 4) // 0&1 collapse
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L, 4L))
  }

  test("dedup: paragraph dedup keeps the globally first occurrence, reassembles in order") {
    val d = Seq(
      (1L, "intro one\n\nshared boilerplate\n\ntail one"),
      (2L, "intro two\n\nshared boilerplate\n\ntail two"),
      (3L, "shared boilerplate\n\nintro one")) // both paras seen in doc 1
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "intro one\n\nshared boilerplate\n\ntail one") // first carrier keeps all
    assert(out(2L) == "intro two\n\ntail two") // boilerplate stripped, order kept
    assert(!out.contains(3L)) // every paragraph seen earlier → doc drops out
    // deterministic under repartition
    val out2 = Dedup.paragraphDedup(d.repartition(7), "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out2 == out)
  }

  test("dedup: incremental batch-vs-seen keeps only genuinely new content") {
    val seen = Seq((100L, "already ingested page"), (101L, "another old page"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "already ingested page"), // duplicate of the seen corpus → dropped
      (2L, "a brand new page"),
      (3L, "a brand new page"),      // within-batch dup → keep-min only
      (4L, "another fresh one")).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, seen, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
    // empty seen set degrades to plain exact dedup of the batch
    val cold = Dedup.incrementalDedup(batch, seen.limit(0), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(cold == Set(1L, 2L, 4L))
  }

  test("dedup: minhash-LSH finds exact and near dups, skips unrelated") {
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text",
      k = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dedup: ngram jaccard exact pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs.filter(col("doc_id") < 4), "doc_id", "text",
      k = 2, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").collect()
    val m = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((0L, 1L)) == 1.0)
    assert(m.contains((0L, 2L)))
    assert(!m.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dedup: minhash-LSH recall vs the exact-Jaccard oracle on real near-dups") {
    // near-dup corpus: real docs + one-word-appended copies (the harness fixture)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text")
    val withNear = d.unionByName(d.filter(col("doc_id") % 2 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" zzappended"))))
    val exact = Dedup.ngramJaccardPairs(withNear, "doc_id", "text", k = 3, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashDupPairs(withNear, "doc_id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // every LSH-verified pair is exact-verified too (verification IS exact Jaccard)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    // recall ≥ 0.9 at these (bands=16, rows=4, j≥0.9) parameters
    val recall = (lsh intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low (|exact|=${exact.size}, |lsh|=${lsh.size})")
  }

  test("dedup: minhash tolerates null text (null row contributes no pairs)") {
    val withNull = docs.unionByName(Seq((99L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val pairs = Dedup.minhashDupPairs(withNull, "doc_id", "text",
      k = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("dedup: ngramJaccardPairs REJECTS oversized inputs (quadratic guard)") {
    val big = spark.range(20001).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"))
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(big, "doc_id", "text", maxRows = 20000)
    }
    assert(e.getMessage.contains("maxRows"))
  }

  test("dedup: minhash bucket cap skips boilerplate mega-buckets, reports them") {
    // 300 identical docs = one giant identical-signature bucket (quadratic if joined)
    val boiler = spark.range(300).select(col("id").as("doc_id"),
      lit("same boilerplate text repeated across the whole crawl segment").as("text"))
    val distinct = Seq((1000L, "an actually unique document body here"),
      (1001L, "an actually unique document body here")).toDF("doc_id", "text")
    val corpus = boiler.unionByName(distinct)
    val over = Dedup.oversizeBuckets(corpus, "doc_id", "text", k = 3,
      numHashes = 64, bands = 16, maxBucketSize = 100).collect()
    assert(over.nonEmpty && over.forall(_.getLong(2) >= 300),
      s"expected the 300-doc boilerplate buckets flagged: ${over.take(2).mkString}")
    val pairs = Dedup.minhashDupPairs(corpus, "doc_id", "text", k = 3,
      numHashes = 64, bands = 16, threshold = 0.9, maxBucketSize = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1000L, 1001L)), "small buckets must still pair")
    assert(!pairs.exists(p => p._1 < 300 && p._2 < 300),
      "capped mega-bucket must be skipped (handled by exactDedup upstream)")
  }

  test("dedup: simhash FNV variant (the DuckDB-reproducible family) agrees on dups") {
    // hamming 0 catches exact dups
    val pairs = Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // pinned sketch value: the oracle emulates this arithmetic in HUGEINT — any
    // drift in the FNV chain breaks the CORRECTNESS gate, so freeze it here too
    val one = Seq((0L, "alpha beta")).toDF("doc_id", "text")
      .select(Dedup.simhash64Fnv(col("text"))).as[Long].head()
    val expect = {
      def th(t: String): Long = {
        var h = -3750763034362895579L
        t.foreach { ch => h ^= ch.toLong; h *= 1099511628211L }; h
      }
      val counts = new Array[Int](64)
      Seq("alpha", "beta").foreach { t =>
        val h = th(t)
        (0 until 64).foreach(j => counts(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1))
      }
      (0 until 64).foldLeft(0L)((acc, i) => if (counts(i) > 0) acc | (1L << i) else acc)
    }
    assert(one == expect)
  }

  test("dedup: connected components turn pair lists into min-label clusters") {
    // a 3-path, a 3-clique and an isolated pair; then a 10-chain to exercise
    // multi-round propagation + fixpoint early-exit
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    val chain = (0 until 9).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val c2 = Dedup.connectedComponents(chain, maxIters = 20)
      .as[(Long, Long)].collect().toMap
    assert(c2 == (0 to 9).map(i => (i.toLong, 0L)).toMap)
    // fail-stop contract: a diameter > maxIters graph must throw, not return a
    // silently-wrong labeling
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 3).count()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("ann: cosine + brute-force top-k on known vectors") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(vecs, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f), 2)
      .select("id").as[Long].collect().toSeq
    assert(top == Seq(0L, 1L))
  }

  test("ann: LSH top-k ≈ brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 7).select("embedding")
      .collect()(0).getSeq[Float](0)
    val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", q, 5)
      .select("id").as[Long].collect().toSet
    val lsh = Ann.lshTopK(e, "vec_id", "embedding", 64, q, 5, planes = 10, probeHamming = 4)
      .select("id").as[Long].collect().toSet
    assert(lsh.contains(7L)) // query vector always found (bucket distance 0)
    assert((brute intersect lsh).size >= 2, s"brute=$brute lsh=$lsh")
  }

  test("ann: IVF top-k recalls most of brute-force top-k; probe scans only buckets") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 3).select("embedding")
      .collect()(0).getSeq[Float](0)
    val brute = Ann.bruteForceTopK(e, "vec_id", "embedding", q, 10)
      .select("id").as[Long].collect().toSet
    val idx = Ann.ivfFit(e, "vec_id", "embedding", k = 8, iters = 2)
    // index is deterministic: refit gives identical buckets
    val idx2 = Ann.ivfFit(e, "vec_id", "embedding", k = 8, iters = 2)
    assert(idx.bucketed.select("id", "bucket").exceptAll(
      idx2.bucketed.select("id", "bucket")).count() == 0)
    val ivf = Ann.ivfTopK(idx, q, 10, nProbe = 4)
      .select("id").as[Long].collect().toSet
    assert(ivf.contains(3L))
    assert((brute intersect ivf).size >= 5, s"brute=$brute ivf=$ivf")
    val bucketSizes = idx.bucketed.groupBy("bucket").count().collect()
      .map(r => r.getLong(1))
    assert(bucketSizes.length > 1, "k-means must produce multiple non-empty buckets")
  }

  test("ann: embedding near-dup pairs via hyperplane LSH") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 50)
    val withDups = e.unionByName(e.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + 1000)
      .withColumn("embedding", transform(col("embedding"), x => x + lit(0.0001f))))
    val pairs = Dedup.embeddingDupPairs(withDups, "vec_id", "embedding", 64,
      planes = 8, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(Set((0L, 1000L), (10L, 1010L), (20L, 1020L), (30L, 1030L), (40L, 1040L))
      .subsetOf(pairs), s"pairs=$pairs")
  }

  test("ann: bucket count auto-scales with corpus size (quadratic-bucket guard)") {
    assert(Ann.autoPlanes(1000, 512) == 4) // floor clamp
    assert(Ann.autoPlanes(512L * 1024, 512) == 10) // 2^10 buckets of ~512
    assert(Ann.autoPlanes(1L << 45, 512) == 36) // 10^13 rows: still exact, no clamp
    assert(Ann.autoPlanes(Long.MaxValue, 1) == 62) // ceiling clamp = signature bits
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Ann.topKJoin(e.filter(col("vec_id") < 5), e, "vec_id", "vec_id",
      "embedding", 64, k = 3) // planes auto-derived from corpus count
    assert(out.groupBy("id_l").count().collect().forall(_.getLong(1) <= 3))
  }

  test("multimodal: stub decode produces stable features and metadata") {
    val pages = WebPagesGen.pages(spark, 20).toDF()
    val f1 = Multimodal.featureTable(spark, pages).orderBy("url").collect()
    val f2 = Multimodal.featureTable(spark, pages.repartition(5)).orderBy("url").collect()
    assert(f1.length == 20)
    assert(f1.map(_.getString(3)).toSeq == f2.map(_.getString(3)).toSeq) // deterministic
    assert(f1.forall(_.getString(1) == "html"))
    assert(f1.forall(_.getSeq[Float](6).length == 32))
  }

  test("multimodal: frame-sample offsets are deterministic, bounded, stride-spaced") {
    val d = Seq((1L, Array.fill[Byte](1000)(7)), (2L, Array.fill[Byte](10)(7)),
      (3L, Array.empty[Byte])).toDF("id", "html")
    val out = d.select(col("id"),
      Multimodal.frameSampleOffsets("html", stride = 100, maxFrames = 5).as("offs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) == Seq(0L, 100L, 200L, 300L, 400L)) // capped at maxFrames
    assert(out(2L) == Seq(0L)) // shorter than one stride → first frame only
    assert(out(3L) == Seq(0L)) // empty payload clamps to offset 0
  }

  test("multimodal: stub resize downsamples deterministically with target metadata") {
    val d = Seq(("u1", (0 until 1000).map(_.toByte).toArray),
      ("u2", Array[Byte](1, 2, 3)), ("u3", Array.empty[Byte]),
      ("u4", null.asInstanceOf[Array[Byte]])).toDF("url", "html")
    val out = Multimodal.resizeBinary(d, "url", "html", targetW = 16, targetH = 16)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Array[Byte]](1), r.getInt(2), r.getInt(3)))).toMap
    // 16*16/16 = 16 output bytes, sampled evenly: byte i = input[floor(i*1000/16)]
    assert(out("u1")._1.length == 16)
    assert(out("u1")._1(0) == 0.toByte && out("u1")._1(15) == (15 * 1000 / 16).toByte)
    assert(out("u1")._2 == 16 && out("u1")._3 == 16)
    assert(out("u2")._1.toSeq == Seq[Byte](1, 2, 3)) // shorter than target: kept whole
    assert(out("u3")._1.isEmpty && out("u4")._1.isEmpty)
    // deterministic across partitionings
    val again = Multimodal.resizeBinary(d.repartition(3), "url", "html", 16, 16)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(again == out.map { case (k, v) => k -> v._1.toSeq })
  }

  test("evaluator: perfect parse scores 1.0 PA / F1, split-group penalizes PA") {
    val perfect = Seq(("a", "g1"), ("a", "g1"), ("b", "g2"), ("b", "g2"))
      .toDF("event_id", "gt_id")
    val s1 = Evaluator.evaluate(perfect)
    assert(s1.parsingAccuracy == 1.0 && s1.f1 == 1.0)

    // parsed splits g1 into two groups: those 2 lines no longer 1:1
    val split = Seq(("a", "g1"), ("c", "g1"), ("b", "g2"), ("b", "g2"))
      .toDF("event_id", "gt_id")
    val s2 = Evaluator.evaluate(split)
    assert(s2.parsingAccuracy == 0.5)
    assert(s2.recall < 1.0 && s2.precision == 1.0)

    // parsed merges g1+g2: pairs precision drops
    val merged = Seq(("a", "g1"), ("a", "g1"), ("a", "g2"), ("a", "g2"))
      .toDF("event_id", "gt_id")
    val s3 = Evaluator.evaluate(merged)
    assert(s3.parsingAccuracy == 0.0)
    assert(s3.precision < 1.0 && s3.recall == 1.0)

    // nothing parsed (an empty join) scores zero instead of throwing
    val none = Seq.empty[(String, String)].toDF("event_id", "gt_id")
    assert(Evaluator.evaluate(none) == Evaluator.Scores(0.0, 0.0, 0.0, 0.0, 0L))
  }
}
