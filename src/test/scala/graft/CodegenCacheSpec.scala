package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A session compiles a query's generated classes only the first time it
  * runs ([[GraftSession.codegenCache]]): run again, a key, or a whole
  * pass over keys, takes every class from Spark's codegen cache. With
  * Spark's defaults (a 100-entry cache, stage ids in class names) every
  * one of these second runs compiled again: dedup_minhash_recall about
  * 70 classes, a query_mix pass about 250.
  */
class CodegenCacheSpec extends SparkSpec {

  /** the perfbench `query_mix` workload's keys. */
  val queryMix: Seq[String] = Seq(
    "q1_agg", "q3_join", "q_window", "q_rollup", "q_topk", "events_sessionize",
    "events_asof", "events_pivot", "glob_match", "hive_parse", "change_detect",
    "dedup_minhash", "sketch_kll", "dedup_minhash_recall")

  /** Janino compiles while `body` runs. */
  def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** one op as query_mix runs it: cleared CacheManager, build, collect. */
  def run(key: String): Unit = {
    spark.catalog.clearCache()
    SparkEntry.queries(key)(spark, sfDir).collect()
  }

  for (key <- Seq("dedup_minhash_recall", "video_band_sweep", "dedup_banding_sweep"))
    test(s"$key: a second run compiles no class") {
      val first = compiles(run(key))
      val second = compiles(run(key))
      assert(second == 0, s"first run compiled $first classes, the second $second")
    }

  test("query_mix: a second pass over its 14 keys compiles no class") {
    queryMix.foreach(run)
    val second = queryMix.map(k => k -> compiles(run(k))).filter(_._2 > 0)
    assert(second.isEmpty, s"compiled again: ${second.mkString(", ")}")
  }
}
