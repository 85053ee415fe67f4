package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Options twin of the reference's ChangeDetectionOptions
  * (src/index.ts:380): compareMode quick (size+mtime) | full (+etag),
  * ignoreEtagOnSize (skip etag when sizes match), trackDeleted.
  */
case class ChangeDetectionOptions(
  compareMode: String = "full", // "quick" | "full"
  ignoreEtagOnSize: Boolean = false,
  trackDeleted: Boolean = true)

/** Twin of the reference's `ChangeDetectionEngine` (src/index.ts:390) —
  * but the previous/current "state maps" are DataFrames
  * `(key, size, etag, last_modified_us)` and `detectChanges` is ONE
  * co-partitioned full-outer join on `key`. The reference's in-memory
  * Maps cap out at driver heap; this shape handles 10⁸-key listings
  * with a single shuffle (AQE-coalesced).
  *
  * State persistence (the reference's JSON state file) is a parquet
  * write/read of the snapshot DataFrame — see snapshot()/loadSnapshot.
  */
class ChangeDetector(options: ChangeDetectionOptions = ChangeDetectionOptions()) {

  private def changed(cur: String => Column, prev: String => Column): Column = {
    val sizeNe = cur("size") =!= prev("size")
    val mtimeNe = cur("last_modified_us") =!= prev("last_modified_us")
    val etagNe = cur("etag") =!= prev("etag")
    options.compareMode match {
      case "quick" => sizeNe || mtimeNe
      case _ if options.ignoreEtagOnSize =>
        // sizes equal → mtime only; sizes differ → changed
        when(cur("size") === prev("size"), mtimeNe).otherwise(lit(true))
      case _ => sizeNe || etagNe || mtimeNe
    }
  }

  /** full change classification: added / modified / deleted / unchanged
    * with previous-version columns (reference ChangeResult).
    */
  def detectChanges(prev: DataFrame, cur: DataFrame): DataFrame = {
    val p = prev.select(col("key").as("prev_key"), col("size").as("prev_size"),
      col("etag").as("prev_etag"), col("last_modified_us").as("prev_last_modified_us"))
    val c = cur.select(col("key"), col("size"), col("etag"), col("last_modified_us"))
    val isChanged = changed(c.apply, n => col(s"prev_$n"))
    // presence is decided by which side holds the key, never by a
    // nullable value column: a listing may carry null etags
    val joined = c.join(p, col("key") === col("prev_key"), "full_outer")
      .select(coalesce(col("key"), col("prev_key")).as("key"),
        col("size"), col("etag"), col("last_modified_us"),
        col("prev_size"), col("prev_etag"), col("prev_last_modified_us"),
        when(col("prev_key").isNull, "added")
          .when(col("key").isNull, "deleted")
          .when(isChanged, "modified")
          .otherwise("unchanged").as("change_type"))
    if (options.trackDeleted) joined
    else joined.filter(col("change_type") =!= "deleted")
  }

  /** reference filterChangesByType. */
  def filterChangesByType(changes: DataFrame, types: String*): DataFrame =
    changes.filter(col("change_type").isin(types: _*))

  /** persist a snapshot (the reference's saveCurrentState → JSON file,
    * here a parquet dir usable as the next run's prev).
    */
  def snapshot(state: DataFrame, path: String): Unit =
    state.write.mode("overwrite").parquet(path)

  def loadSnapshot(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** reference commitChanges (src/index.ts:589): promote the current
    * listing to be the next run's previous state. Write-then-swap — the
    * new snapshot lands in a temp dir first, then replaces `statePath`
    * with two metadata renames, so a reader never sees a half-written
    * state and a failed write leaves the old state intact.
    */
  def commitChanges(cur: DataFrame, statePath: String): Unit = {
    val spark = cur.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statePath), spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(statePath + ".__commit_tmp")
    val dst = new org.apache.hadoop.fs.Path(statePath)
    fs.delete(tmp, true)
    cur.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"commitChanges: rename $tmp -> $dst failed")
  }

  /** reference resetCurrentState (src/index.ts:596): drop the persisted
    * state entirely — the next detect run sees every key as `added`.
    */
  def resetState(spark: org.apache.spark.sql.SparkSession, statePath: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statePath), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(statePath), true)
    ()
  }
}
