package graft

import org.apache.spark.sql.SparkSession

/** Builds the tuned SparkSession used by tests and mains.
  *
  * Tuned for the driver's local[N] harness but every knob is the one you'd
  * set on a real 1000-executor cluster too: AQE on (runtime coalesce +
  * skew-join), shuffle partitions sized to the parallelism, small
  * broadcast threshold left at default (dims here are tiny; at 100 TB the
  * TPC-H dims still broadcast).
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def build(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions())
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(codegenCache)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    checkpointDir(spark)
    graft.expressions.GraftFunctions.register(spark)
    spark
  }

  /** Keeps a session's generated classes in Spark's codegen cache, so a
    * query compiles only the first time it runs. Passed to the builder by
    * build() and by the test session, before the session exists: the
    * cache size is a static setting, read once per JVM.
    */
  val codegenCache: Map[String, String] = Map(
    // the JVM-wide Janino cache holds 100 classes by default, while one
    // pass over SparkEntry.queries compiles 2,869 distinct classes at
    // sf0.001 and 2,877 at sf0.1 (Verify's action, nothing evicted) —
    // so the default missed on every query_mix op. 4096 is the power of
    // two above the larger count
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // AQE numbers whole-stage stages in the order they finish and the
    // number goes into the class name (GeneratedIteratorForCodegenStage17
    // vs …16), so an identical stage body was a new class on the next
    // run; without the id it is one cache entry whatever AQE numbers it
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Give the session a reliable-checkpoint home for ladder rung state
    * (Materialize.iteration), unless the caller already set one — on a
    * real cluster that is an HDFS/S3 path, and it is never touched here.
    * Otherwise: a fresh local temp dir, deleted at JVM exit, since Spark
    * leaves checkpoint files behind. The delete runs at shutdown-hook
    * priority 30, after Spark's hooks (40, which stop the SparkContext)
    * and before Hadoop closes its FileSystem cache (10) — the
    * Materialize.snapshot reaper's slot.
    */
  def checkpointDir(spark: SparkSession): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
      org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
        () => org.apache.spark.network.util.JavaUtils.deleteRecursively(dir), 30)
      spark.sparkContext.setCheckpointDir(dir.toString)
    }

  /** Expose every graft table (plus the synthesized manifest and its
    * change-detection snapshots) as temp views, so the whole engine is
    * reachable from plain `spark.sql` — the graft_* kernel functions
    * are registered by build()/Tables.
    */
  def registerTables(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach(t => sources.Tables.load(spark, sfDir, t).createOrReplaceTempView(t))
    sources.Tables.events(spark, sfDir).createOrReplaceTempView("events")
    sources.Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    sources.Tables.embeddings(spark, sfDir).createOrReplaceTempView("embeddings")
    sources.Manifest.manifest(spark, sfDir).createOrReplaceTempView("manifest")
    sources.Manifest.snapshotPrev(spark, sfDir).createOrReplaceTempView("manifest_prev")
    sources.Manifest.snapshotCur(spark, sfDir).createOrReplaceTempView("manifest_cur")
  }
}
