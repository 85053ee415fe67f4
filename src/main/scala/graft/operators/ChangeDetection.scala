package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{ChangeDetectionOptions, ChangeDetector}
import graft.sources.Manifest

/** ChangeDetectionEngine surface (reference src/index.ts:390 —
  * detectChanges / Added|Modified|Deleted|Unchanged / compareMode full /
  * trackDeleted / filterChangesByType) re-expressed as ONE full-outer
  * join of the prev/cur snapshot DataFrames on `key`.
  *
  * The reference diffs two in-memory Maps — fine for 10⁴ keys, dead at
  * 10⁸. Here both snapshots shuffle-partition on `key` once and the diff
  * is a co-partitioned sort-merge join; AQE coalesces the output. No
  * driver state at any scale.
  */
object ChangeDetection {

  /** the manifest's prev → cur snapshots classified by the user-facing
    * [[graft.api.ChangeDetector]] in `compareMode`.
    */
  private def changes(s: SparkSession, dir: String, compareMode: String): DataFrame =
    new ChangeDetector(ChangeDetectionOptions(compareMode = compareMode))
      .detectChanges(Manifest.snapshotPrev(s, dir), Manifest.snapshotCur(s, dir))

  /** detectChanges (compareMode=full, trackDeleted=true), emitting the
    * non-Unchanged rows.
    */
  def changeDetect(s: SparkSession, dir: String): DataFrame =
    changes(s, dir, "full")
      .filter(col("change_type") =!= "unchanged")
      .select(col("key"), col("change_type"),
        coalesce(col("size"), col("prev_size")).as("size"),
        col("prev_size"))
      .orderBy("key")

  val changeDetectSql: String =
    s"""${Manifest.duckSnapshots}
       |SELECT COALESCE(cur.key, prev.key) AS key,
       |  CASE WHEN prev.key IS NULL THEN 'added'
       |       WHEN cur.key IS NULL THEN 'deleted'
       |       WHEN cur.size <> prev.size OR cur.etag <> prev.etag
       |         OR cur.last_modified_us <> prev.last_modified_us THEN 'modified'
       |       ELSE 'unchanged' END AS change_type,
       |  COALESCE(cur.size, prev.size) AS size,
       |  prev.size AS prev_size
       |FROM cur FULL OUTER JOIN prev ON cur.key = prev.key
       |WHERE NOT (prev.key IS NOT NULL AND cur.key IS NOT NULL
       |  AND cur.size = prev.size AND cur.etag = prev.etag
       |  AND cur.last_modified_us = prev.last_modified_us)
       |ORDER BY key""".stripMargin

  /** filterChangesByType + counts: per-type change statistics
    * (including Unchanged — the reference emits those too).
    */
  def changeStats(s: SparkSession, dir: String): DataFrame =
    changes(s, dir, "full")
      .groupBy("change_type")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("size"), col("prev_size"))).as("total_size"))
      .orderBy("change_type")

  val changeStatsSql: String =
    s"""${Manifest.duckSnapshots}
       |SELECT CASE WHEN prev.key IS NULL THEN 'added'
       |       WHEN cur.key IS NULL THEN 'deleted'
       |       WHEN cur.size <> prev.size OR cur.etag <> prev.etag
       |         OR cur.last_modified_us <> prev.last_modified_us THEN 'modified'
       |       ELSE 'unchanged' END AS change_type,
       |  COUNT(*) AS n, CAST(SUM(COALESCE(cur.size, prev.size)) AS BIGINT) AS total_size
       |FROM cur FULL OUTER JOIN prev ON cur.key = prev.key
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** detectChanges in QUICK mode (size+mtime only, reference
    * compareMode "quick") — etag-only mutations classify as unchanged.
    * Same join shape; the comparison predicate narrows.
    */
  def changeDetectQuick(s: SparkSession, dir: String): DataFrame =
    changes(s, dir, "quick")
      .groupBy("change_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("change_type")

  val changeDetectQuickSql: String =
    s"""${Manifest.duckSnapshots}
       |SELECT CASE WHEN prev.key IS NULL THEN 'added'
       |       WHEN cur.key IS NULL THEN 'deleted'
       |       WHEN cur.size <> prev.size
       |         OR cur.last_modified_us <> prev.last_modified_us THEN 'modified'
       |       ELSE 'unchanged' END AS change_type,
       |  COUNT(*) AS n
       |FROM cur FULL OUTER JOIN prev ON cur.key = prev.key
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "change_detect" -> (changeDetect _),
    "change_detect_quick" -> (changeDetectQuick _),
    "change_stats" -> (changeStats _))

  val oracles: Map[String, String] = Map(
    "change_detect" -> changeDetectSql,
    "change_detect_quick" -> changeDetectQuickSql,
    "change_stats" -> changeStatsSql)
}
