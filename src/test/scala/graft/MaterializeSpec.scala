package graft

import graft.operators.Materialize

/** The materialization points: [[Materialize.stable]]'s lineage-keeping
  * persist, the reliable-checkpoint iteration state the ladders climb on
  * and the session checkpoint dir it lands in, and the snapshot reaper.
  */
class MaterializeSpec extends SparkSpec {

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
    val (rc, out) = MaterializeSpec.childJvm(NoCheckpointDirMain.getClass)
    assert(rc == 0 && out.contains(NoCheckpointDirMain.Ok), out)
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

  test("stable keeps lineage and hands a persisted frame back unchanged") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    spark.catalog.clearCache()
    val base = (1 to 10).toDF("x")
    val m = Materialize.stable(base)
    // persist keeps the original logical plan (InMemoryRelation wraps
    // it at execution; the analyzed tree still shows the source) — a
    // lost block recomputes from it
    assert(!m.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
      m.queryExecution.optimizedPlan.toString)
    assert(m.storageLevel == StorageLevel.DISK_ONLY)
    // the storage-level gate: an already-persisted frame comes back as
    // is, its level untouched (other rows than `base`: the CacheManager
    // matches plans by result, so the same rows would share its entry)
    val mine = (11 to 20).toDF("y").persist(StorageLevel.MEMORY_ONLY)
    assert(Materialize.stable(mine) eq mine)
    assert(mine.storageLevel == StorageLevel.MEMORY_ONLY)
    spark.catalog.clearCache()
  }

  test("PlanSpec.cacheReads counts every read of a persisted frame, build-time collects included") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.max
    def reads(body: DataFrame => Any): Seq[Int] = {
      spark.catalog.clearCache()
      val m = Materialize.stable((1 to 50).toDF("x").selectExpr("x", "x % 5 AS k"))
      try PlanSpec.cacheReads(spark)(body(m)).map(_._2) finally spark.catalog.clearCache()
    }
    assert(reads(_.collect()) == Seq(1))
    assert(reads(m => m.join(m, "k").collect()) == Seq(2))
    // a driver collect while the key is built, then the final action
    assert(reads { m =>
      val top = m.agg(max("x")).head().getInt(0)
      m.filter($"x" < top).collect()
    } == Seq(2))
  }

  test("a GraftSession checkpoint dir is deleted at JVM exit") {
    // GraftSession.build creates the dir; only a JVM exit can show that
    // it is removed, so the session lives in a child JVM that runs one
    // iteration rung, prints the dir and exits
    val (rc, out) = MaterializeSpec.childJvm(CheckpointDirExitMain.getClass)
    val dir = out.linesIterator.collectFirst {
      case l if l.startsWith(CheckpointDirExitMain.Dir) => l.stripPrefix(CheckpointDirExitMain.Dir)
    }
    assert(rc == 0 && dir.isDefined, out)
    assert(!new java.io.File(dir.get).exists, s"checkpoint dir ${dir.get} survived the JVM")
  }
}

object MaterializeSpec {
  /** Run `main`'s object in a child JVM on this JVM's classpath; its
    * exit code and merged output.
    */
  def childJvm(main: Class[_]): (Int, String) = {
    import scala.jdk.CollectionConverters._
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(o => o.startsWith("--add-opens") || o.startsWith("-D"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvmOpts ++
      Seq("-cp", System.getProperty("java.class.path"), main.getName.stripSuffix("$"))
    val out = new StringBuilder
    val rc = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n')))
    (rc, out.toString)
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

/** Child-JVM half of MaterializeSpec's checkpoint-dir exit case: a
  * GraftSession, one iteration checkpoint written into its dir, then a
  * plain JVM exit — no `spark.stop()`, the shutdown hooks do the rest.
  */
object CheckpointDirExitMain {
  val Dir = "checkpoint base dir: "

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-ckpt-exit")
    spark.sparkContext.setLogLevel("ERROR")
    val rung = Materialize.iteration(spark.range(100).toDF("x"))
    // the rung lands in a per-context subdir of the dir GraftSession made
    val ckpt = new java.io.File(new java.net.URI(spark.sparkContext.getCheckpointDir.get).getPath)
    val written = rung.count() == 100 && ckpt.list().exists(_.startsWith("rdd-"))
    println(Dir + ckpt.getParentFile)
    sys.exit(if (written) 0 else 1)
  }
}
