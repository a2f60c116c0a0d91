package graft.spell

import graft.SparkSuite
import graft.drain.DrainTree
import graft.pipeline.{LogPipeline, PipelineConfig}
import graft.text.Tokens

class SpellAggregatorSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = PipelineConfig.hdfs

  /** A masked-shape frame whose every line is Drain-residue (empty tree). */
  private def maskedFrame(rows: Seq[(String, Int, String)]) =
    rows.toDF("url", "line_no", "masked")
      .withColumn("parsed", org.apache.spark.sql.functions.lit(true))
      .withColumn("Content", org.apache.spark.sql.functions.col("masked"))

  private def catalogOf(m: SpellModel): Map[String, Long] =
    m.clusterList.map(c => (c.templateStr, c.count)).groupMapReduce(_._1)(_._2)(_ + _)

  test("distributed residue mine at one partition == sequential mine bit-exactly") {
    val lines = Seq(
      "send block blk_<*> to node1", "send block blk_<*> to node2",
      "recv ack from node3", "recv ack from node4",
      "weird singleton line here")
    // one url => one hash partition => canonical (url, line_no) order end-to-end
    val rows = lines.zipWithIndex.map { case (l, i) => ("u1", i, l) }
    val p = new LogPipeline(cfg)
    val dist = p.mineSpellResidue(maskedFrame(rows), new DrainTree(cfg.depth, cfg.st))
    val seq = SpellModel.mine(lines.iterator.map(Tokens.spell))
    assert(catalogOf(dist) == catalogOf(seq))
    assert(dist.minedLines == lines.size)
  }

  test("multi-partition mine reproduces the sequential template set (separable corpus)") {
    val lines = (0 until 40).map(i => s"send block blk_<*> to node$i") ++
      (0 until 40).map(i => s"recv ack from node$i ok")
    val rows = lines.zipWithIndex.map { case (l, i) => (s"u${i % 8}", i, l) }
    val p = new LogPipeline(cfg)
    val dist = p.mineSpellResidue(maskedFrame(rows), new DrainTree(cfg.depth, cfg.st))
    val seq = SpellModel.mine(
      rows.sortBy(r => (r._1, r._2)).iterator.map(r => Tokens.spell(r._3)))
    assert(catalogOf(dist) == catalogOf(seq))
    // the merged model's prefix tree is live: it matches without minting clusters
    val probe = Tokens.spell("send block blk_<*> to nodeZZ")
    assert(dist.search(probe) != null)
  }

  test("canonicalMerge is commutative bit-identically") {
    def model(ls: Seq[String]) = SpellModel.mine(ls.iterator.map(Tokens.spell))
    val a = model(Seq("alpha beta 1", "alpha beta 2", "gamma d"))
    val b = model(Seq("alpha beta 9", "delta e f g", "gamma d"))
    val ab = a.canonicalMerge(b)
    val ba = b.canonicalMerge(a)
    assert(catalogOf(ab) == catalogOf(ba))
    assert(ab.clusterList.map(_.templateStr) == ba.clusterList.map(_.templateStr))
    assert(ab.minedLines == ba.minedLines)
  }

  test("per-partition cap bounds mined lines; overflow is simply not mined") {
    val lines = (0 until 50).map(i => s"evt kind$i payload")
    val rows = lines.zipWithIndex.map { case (l, i) => ("u1", i, l) }
    val capped = new LogPipeline(cfg.copy(spellMineLimit = 10))
      .mineSpellResidue(maskedFrame(rows), new DrainTree(cfg.depth, cfg.st))
    assert(capped.minedLines == 10L)
    val seq10 = SpellModel.mine(lines.take(10).iterator.map(Tokens.spell))
    assert(catalogOf(capped) == catalogOf(seq10))
  }
}
