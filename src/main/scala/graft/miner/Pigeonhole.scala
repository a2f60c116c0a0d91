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
}
