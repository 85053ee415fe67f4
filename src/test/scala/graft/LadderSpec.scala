package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.operators.Ladder
import org.apache.spark.sql.functions.sum
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The converge ladder ([[graft.operators.Ladder]]): its fixpoint rule,
  * and a jobs-per-key ceiling for the ladder keys and the recall and
  * sweep gates. A ladder pays
  * about one Spark job per checkpoint, census and persist build, so its
  * job count is the cost lever (ROADMAP Direction 3): a change that adds
  * a rung checkpoint or a census read shows up here before it shows up
  * in a timing. Each key is built (the rung jobs run eagerly, while the
  * DataFrame is constructed) and then collected; both counts must stay
  * at or below the ceiling measured in this session at sf0.001.
  */
class LadderSpec extends SparkSpec {

  /** (build-time jobs, final-action jobs) at sf0.001 in SparkSpec's
    * local[4] session; the counts repeat exactly from run to run.
    */
  val ceilings: Seq[(String, (Int, Int))] = Seq(
    "dedup_clusters" -> (25, 3),
    "web_domain_components" -> (42, 7),
    "sketch_kll" -> (20, 4),
    "sketch_kll_error" -> (21, 6),
    "bpe_train_converge" -> (20, 9),
    "embed_kmeans_converge" -> (36, 39),
    "knn_pq_train_converge" -> (29, 31),
    "knn_ivf_pq_refresh" -> (38, 45),
    // the recall and sweep gates, each graded in one pass
    // (Grade.Pairs.sweep)
    "dedup_minhash_recall" -> (1, 20),
    "dedup_containment_recall" -> (1, 24),
    "dedup_banding_sweep" -> (1, 23),
    "dedup_len_bias" -> (1, 22),
    "knn_probe_sweep" -> (2, 29),
    "embed_geometry_sweep" -> (1, 41),
    "video_band_sweep" -> (1, 24),
    "knn_ivf_refresh" -> (8, 36))

  test("fixpoint fails naming the ladder when its census never repeats") {
    val e = intercept[IllegalArgumentException] {
      Ladder.fixpoint("grow", spark.range(1).toDF("n"), 3)(_.selectExpr("n + 1 AS n"))(
        df => Some(df.head().getLong(0)))
    }
    assert(e.getMessage.contains("grow: no fixpoint within 3 rungs"), e.getMessage)
  }

  test("fixpoint returns an empty seed without climbing a rung") {
    var rungs = 0
    val (state, census) = Ladder.fixpoint("empty", spark.range(0).toDF("n"), 3) { df =>
      rungs += 1; df
    }(df => Option(df.agg(sum("n")).head().getAs[java.lang.Long](0)).map(_.longValue))
    assert(rungs == 0 && census.isEmpty && state.count() == 0)
  }

  for ((key, (maxBuild, maxAction)) <- ceilings)
    test(s"$key stays within $maxBuild build-time and $maxAction action jobs") {
      val (build, action) = LadderSpec.jobs(spark, key, sfDir)
      assert(build <= maxBuild && action <= maxAction,
        s"$key ran $build build-time + $action action jobs, ceiling $maxBuild + $maxAction")
    }
}

object LadderSpec {
  /** Jobs started while `key` is built, then while it is collected. The
    * cache is cleared first so no earlier spec's persisted frame serves
    * a build job.
    */
  def jobs(spark: org.apache.spark.sql.SparkSession, key: String, sfDir: String): (Int, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    spark.catalog.clearCache()
    sc.addSparkListener(listener)
    try {
      def counted[A](body: => A): (A, Int) = {
        org.apache.spark.ListenerDrain(sc)
        val before = started.get
        val a = body
        org.apache.spark.ListenerDrain(sc)
        (a, started.get - before)
      }
      val (df, build) = counted(SparkEntry.queries(key)(spark, sfDir))
      (build, counted(df.collect())._2)
    } finally {
      sc.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
  }
}
