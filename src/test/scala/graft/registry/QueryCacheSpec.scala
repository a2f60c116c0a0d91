package graft.registry

import graft.{SparkEntry, SparkSuite, TempDirs}

/** Registry queries release what they cache: a persisted frame that nothing
  * unpersists stays in the session until the session stops.
  */
class QueryCacheSpec extends SparkSuite {

  test("slct, logcluster and logram leave no cached data behind") {
    import spark.implicits._
    val dir = TempDirs.create("graft_query_cache").toString
    val types = Seq("click", "error", "purchase", "signup", "view")
    (0 until 500).map(i => (i.toLong, types(i % 5), (i % 37).toLong, i * 0.37))
      .toDF("event_id", "event_type", "user_id", "value")
      .write.parquet(s"$dir/events.parquet")
    val sc = spark.sparkContext
    // eagerly localCheckpointed results are persisted too, but they are data,
    // not a cache, and go with the frame that holds them
    def cached(): Set[Int] =
      sc.getPersistentRDDs.collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet
    val before = cached()
    for (q <- Seq("slct_templates", "logcluster_templates", "logram_templates"))
      assert(SparkEntry.queries(q)(spark, dir).collect().nonEmpty, q)
    assert((cached() -- before).isEmpty)
  }
}
