package graft.miner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The exact pigeonhole banding LogMine and LenMa use to find candidate pairs:
  * split a geometry of `len` positions into `nb` contiguous bands; two vectors
  * that differ in fewer than `nb` positions agree on at least one whole band,
  * so an equi-join on band hashes finds every such pair.
  */
object Pigeonhole {

  /** One row per (pattern, band) of `patterns` (columns `pid`, geometry length
    * `len`, band count `nb`, vector `vec`): band b covers positions [bstart,
    * bend) of the geometry, hashed as `bh = xxhash64(band, render(slice))`.
    * With `maxOffset` > 0 each band repeats at every offset `off` in
    * 0..maxOffset, its slice shifted right by `off` (the longer side of a
    * cross-length pair bands against the shorter length's geometry).
    */
  def bandHashes(patterns: DataFrame, len: String, nb: String, vec: String,
                 maxOffset: Int = 0)(render: Column => Column): DataFrame = {
    val banded = patterns.select(col("pid"), col(len), col(vec), col(nb),
      explode(sequence(lit(0), col(nb) - 1)).as("band"))
    val (rows, start) =
      if (maxOffset > 0)
        (banded.withColumn("off", explode(sequence(lit(0), lit(maxOffset)))),
          col("bstart") + col("off") + 1)
      else (banded, col("bstart") + 1)
    rows
      .withColumn("bstart", floor(col("band") * col(len) / col(nb)).cast("int"))
      .withColumn("bend", floor((col("band") + 1) * col(len) / col(nb)).cast("int"))
      .withColumn("bh", xxhash64(col("band"),
        render(slice(col(vec), start, col("bend") - col("bstart")))))
  }

  /** Candidate pairs `(id_a, id_b)`, id_a < id_b, of equal-length `patterns`
    * (columns `pid`, `len`, vector `vec`) that may differ in at most
    * ⌊frac·len⌋ positions: the band self-join at nb = ⌊frac·len⌋ + 1 bands, so
    * every such pair agrees on at least one whole band.
    */
  def sameLenPairs(patterns: DataFrame, vec: String, frac: Double)(
      render: Column => Column): DataFrame = {
    val banded = bandHashes(
        patterns.withColumn("nb", (floor(col("len") * frac) + 1).cast("int")),
        "len", "nb", vec)(render)
      .select(col("len"), col("band"), col("bh"), col("pid"))
    val a = banded.select(col("len"), col("band"), col("bh"), col("pid").as("id_a"))
    val b = banded.select(col("len"), col("band"), col("bh"), col("pid").as("id_b"))
    a.join(b, Seq("len", "band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }
}
