package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialization point for expensive expression trees (minhash/simhash
  * signatures, cast embeddings) that downstream joins reference more than
  * once — without one, Catalyst re-evaluates the whole signature tree per
  * join reference.
  *
  * The rule: a frame is persisted only if some key reads it at least
  * twice. Under AQE a persist costs a cache-building job of its own, so a
  * frame read once flows into its reader instead. PlanSpec's sweep
  * "every persisted frame is read at least twice in ANY query" holds the
  * rule over every key's build-time and final plans.
  *
  * [[stable]] is `persist(DISK_ONLY)`. Lineage is kept, so a lost
  * executor's blocks are recomputed from the parquet scan — the
  * 1000-executor-safe choice. DISK_ONLY because signature sets at
  * 100 TB scale are themselves TB-sized; they must not compete with
  * shuffle/exec memory.
  */
object Materialize {
  def stable(df: DataFrame): DataFrame =
    // storage-level gate: composed operators (knn_recall, knn_degree,
    // corpus_curate) pass already-persisted frames back through here;
    // re-persisting is a CacheManager no-op but logs a warning per
    // call, and hundreds of them drown real warnings in bench logs
    if (df.storageLevel != StorageLevel.NONE) df
    else df.persist(StorageLevel.DISK_ONLY)

  /** Materialization for ITERATIVE state (label propagation, k-means
    * rounds): unlike [[stable]], this must TRUNCATE lineage, because a
    * loop whose next state self-joins the previous state doubles the
    * logical plan per round — persist alone keeps the (exponentially
    * growing) plan tree and overflows the optimizer's stack after ~10
    * rounds.
    *
    * A reliable `Dataset.checkpoint()`: probed solo at sf0.1 / 32 cores
    * against a per-rung parquet [[snapshot]] and a persist → checkpoint
    * → unpersist spelling, it won on 8 of 9 iterative keys
    * (OPTIMIZATION_r16.md has the table). The snapshot's read-back
    * loses `LogicalRDD`'s output partitioning, so groupBy-shaped state
    * re-enters the next rung behind an extra Exchange; the cached
    * spelling pays a columnar cache build that costs more than
    * recomputing these cheap broadcast-join + partial-agg rungs twice.
    * No checkpoint dir ⇒ `localCheckpoint()` (single-process sessions
    * only); on a real cluster the dir is HDFS/S3 (GraftSession sets a
    * local tmp dir). Operators reach it only through [[Ladder]], which
    * decides which rung state it checkpoints.
    */
  private[graft] def iteration(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.localCheckpoint()
    else df.checkpoint()

  /** ONE-adaptive-evaluation materialization for an EXPENSIVE frame a
    * downstream plan references more than once (the component engine's
    * edge frame): write the result to the session checkpoint dir as
    * parquet and read it back. Unlike [[stable]] (lazy persist — a
    * frame unioned with itself builds the cache TWICE) or a reliable
    * `checkpoint()` (computes the RDD twice by contract), the
    * datasource write is a single ordinary adaptive action, and every
    * re-read is a plain file scan. Measured on embed_clusters' ×10
    * edge frame: 579s (persisted union) → ~27s (snapshot). On a real
    * cluster the snapshot lands in the shared checkpoint dir and
    * survives executor loss.
    */
  def snapshot(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.sparkContext.getCheckpointDir match {
      case Some(base) =>
        val path = s"$base/snap_${java.util.UUID.randomUUID().toString.take(12)}"
        df.write.parquet(path)
        snapPaths.add(path)
        if (hookRegistered.compareAndSet(false, true)) {
          // mirror reliable-checkpoint cleanup: reap every snapshot at
          // JVM exit (priority 30 — before Hadoop's FileSystem-cache
          // close at 10), so a session that never calls
          // cleanupSnapshots still leaves no disk behind
          val conf = spark.sparkContext.hadoopConfiguration
          org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
            new Runnable { def run(): Unit = deletePaths(conf) }, 30)
        }
        spark.read.parquet(path)
      case None => df.localCheckpoint()
    }
  }

  // snapshot(): each call writes a snap_<uuid> parquet dir that nothing
  // would otherwise remove (localCheckpoint state at least dies with the
  // SparkContext) — a long-lived session running the dedup/cluster query
  // family repeatedly would accumulate unbounded checkpoint-dir disk.
  private val snapPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val hookRegistered = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def deletePaths(conf: org.apache.hadoop.conf.Configuration): Long = {
    var n = 0L
    var p = snapPaths.poll()
    while (p != null) {
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        if (hp.getFileSystem(conf).delete(hp, true)) n += 1
      } catch { case _: java.io.IOException => } // best-effort, like cleanCheckpoints
      p = snapPaths.poll()
    }
    n
  }

  /** Delete every snapshot written so far; returns the count removed.
    * Safe to call between query families in a long-lived session — a
    * snapshot is only read by the job that wrote it, so once that
    * query's action has completed its snapshot is dead weight. The
    * JVM shutdown hook reaps anything not explicitly cleaned.
    */
  def cleanupSnapshots(spark: org.apache.spark.sql.SparkSession): Long =
    deletePaths(spark.sparkContext.hadoopConfiguration)
}
