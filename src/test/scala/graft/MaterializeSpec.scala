package graft

import graft.operators.{Dedup, Materialize}

/** `spark.graft.materialize` is load-bearing for the 1000-executor
  * story (persist keeps lineage so lost blocks recompute;
  * localCheckpoint truncates it for single-JVM speed) — so the switch
  * must be exercised, not just documented: the SAME dedup query under
  * both settings must produce bit-identical output.
  */
class MaterializeSpec extends SparkSpec {

  private def withMaterialize[A](mode: Option[String])(body: => A): A = {
    val key = "spark.graft.materialize"
    val prev = spark.conf.getOption(key)
    mode match {
      case Some(m) => spark.conf.set(key, m)
      case None => spark.conf.unset(key)
    }
    try body
    finally {
      prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
      spark.catalog.clearCache()
    }
  }

  test("dedup_minhash output is identical under persist and localCheckpoint") {
    val underPersist = withMaterialize(None) {
      Dedup.dedupMinhash(spark, sfDir).collect().map(_.toString).toSeq
    }
    val underCheckpoint = withMaterialize(Some("localCheckpoint")) {
      Dedup.dedupMinhash(spark, sfDir).collect().map(_.toString).toSeq
    }
    assert(underPersist.nonEmpty, "materialize probe query returned no rows")
    assert(underPersist == underCheckpoint,
      "persist vs localCheckpoint diverged — Materialize.stable must be semantically invisible")
  }

  test("snapshot dirs are tracked and reaped by cleanupSnapshots") {
    import spark.implicits._
    // drain anything earlier suites left behind so the count is ours
    Materialize.cleanupSnapshots(spark)
    val base = spark.sparkContext.getCheckpointDir
    assert(base.isDefined)
    def snapDirs(): Set[String] = {
      val d = new java.io.File(new java.net.URI(base.get).getPath)
      Option(d.list()).map(_.toSet.filter(_.startsWith("snap_"))).getOrElse(Set.empty)
    }
    val before = snapDirs()
    val snapped = Materialize.snapshot((1 to 5).toDF("x"))
    assert(snapped.count() == 5)
    val during = snapDirs() -- before
    assert(during.size == 1, s"expected one new snap dir, saw $during")
    val reaped = Materialize.cleanupSnapshots(spark)
    assert(reaped >= 1, "cleanupSnapshots must delete the tracked snapshot")
    assert((snapDirs() -- before).isEmpty, "snap dir must be gone after cleanup")
  }

  test("iteration() default preserves schema+rows, truncates lineage, leaves no cache entry") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.catalog.clearCache()
    // a groupBy-shaped frame — the state shape every ladder rung feeds
    // through iteration()
    val base = (1 to 100).toDF("x")
      .groupBy(expr("x % 7").as("k")).agg(count(lit(1)).as("n"))
    val it = Materialize.iteration(base)
    // checkpoint semantics: same schema, same row multiset, lineage gone
    assert(it.schema == base.schema, s"schema drifted: ${it.schema} vs ${base.schema}")
    assert(it.collect().map(_.toString).sorted.toSeq ==
      base.collect().map(_.toString).sorted.toSeq)
    assert(it.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      it.queryExecution.optimizedPlan.toString)
    // the persist that fed the checkpoint write must NOT linger — a
    // leaked entry per rung would accumulate across a ladder exactly
    // like the round-4 CacheManager pile-up
    assert(spark.sharedState.cacheManager.isEmpty,
      "iteration() leaked a cache entry")
  }

  test("iteration() and snapshot() fall back to localCheckpoint without a checkpoint dir") {
    // the suite's shared context has a checkpoint dir for good, so the
    // fallback runs in a child JVM whose context never had one
    import scala.jdk.CollectionConverters._
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(o => o.startsWith("--add-opens") || o.startsWith("-D"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvmOpts ++
      Seq("-cp", System.getProperty("java.class.path"), NoCheckpointDirMain.getClass.getName.stripSuffix("$"))
    val out = new StringBuilder
    val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n')))
    assert(rc == 0 && out.toString.contains(NoCheckpointDirMain.Ok), out.toString)
  }

  test("kllState releases its own rung-0 persist and keeps a caller's") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    val cm = spark.sharedState.cacheManager
    // 600 items over 2 groups at capacity 32: several compaction rungs
    def items() = (1 to 600).toDF("x").select(
      expr("IF(x % 2 = 0, 'a', 'b')").as("event_type"),
      (col("x") * 7919 % 1000).cast("long").as("cents"),
      col("x").cast("long").as("tie"), lit(0L).as("lvl"))
    spark.catalog.clearCache()
    // an unpersisted input: kllState persists rung 0 itself, so it must
    // also release it, leaving the CacheManager as empty as it found it
    assert(operators.Sketches.kllState(items()).count() > 0)
    assert(cm.isEmpty, "kllState leaked its rung-0 persist")
    // an already-persisted input: the storage-level gate hands the
    // caller's frame back unchanged, and the caller's cache must survive
    val mine = items().persist(StorageLevel.MEMORY_ONLY)
    assert(operators.Sketches.kllState(mine).count() > 0)
    // storageLevel reads the CacheManager entry: NONE once it is gone
    assert(mine.storageLevel == StorageLevel.MEMORY_ONLY, "kllState released a caller's cache")
    mine.unpersist()
    assert(cm.isEmpty, "kllState left a cache entry beside the caller's")
  }

  test("stable() honors the switch: localCheckpoint truncates lineage, persist keeps it") {
    import spark.implicits._
    val base = (1 to 10).toDF("x")
    withMaterialize(Some("localCheckpoint")) {
      val m = Materialize.stable(base)
      // a localCheckpoint plan is a LogicalRDD scan — the parquet/local
      // lineage is gone
      assert(m.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
        m.queryExecution.optimizedPlan.toString)
    }
    withMaterialize(None) {
      val m = Materialize.stable(base)
      // persist keeps the original logical plan (InMemoryRelation wraps
      // it at execution; the analyzed tree still shows the source)
      assert(!m.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
        m.queryExecution.optimizedPlan.toString)
      m.unpersist()
    }
  }
}

/** Child-JVM half of MaterializeSpec's no-checkpoint-dir case: with no
  * dir set, a reliable `checkpoint()` throws, so rows that come back
  * equal prove both `iteration` and `snapshot` took `localCheckpoint()`.
  */
object NoCheckpointDirMain {
  val Ok = "no-checkpoint-dir fallback ok"

  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.functions._
    val spark = SparkSession.builder().master("local[1]").appName("graft-no-ckpt")
      .config("spark.sql.shuffle.partitions", "1").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val base = (1 to 100).toDF("x").groupBy(expr("x % 7").as("k")).agg(count(lit(1)).as("n"))
    val fallbacks = Seq(Materialize.iteration(base), Materialize.snapshot(base))
    val ok = spark.sparkContext.getCheckpointDir.isEmpty &&
      fallbacks.forall(m => rows(m) == rows(base) &&
        m.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    spark.stop()
    if (ok) println(Ok) else sys.exit(1)
  }
}
