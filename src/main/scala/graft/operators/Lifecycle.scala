package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Manifest

/** Data-lifecycle management over the manifest (reference README's
  * "automatic data lifecycle management / retention policies"): classify
  * every object against a retention policy and report reclaimable bytes
  * per partition — the planning query a retention sweeper runs before
  * issuing deletes. Pure scan + aggregate; the policy predicate is a
  * constant-folded comparison on the mtime column, so at 100 TB this
  * rides the same pushed-filter scan as everything else.
  */
object Lifecycle {

  /** retention horizon: objects last modified before 2024-01-20 00:00
    * UTC expire (fixed so the oracle is deterministic).
    */
  val CutoffUs: Long = 1705708800000000L

  def retentionSweep(s: SparkSession, dir: String): DataFrame = {
    Manifest.manifest(s, dir)
      .withColumn("action",
        when(col("last_modified_us") < CutoffUs, "expire").otherwise("keep"))
      .groupBy(
        HivePartitions.field(col("key"), "day").as("day"),
        col("action"))
      .agg(count(lit(1)).as("n_objects"),
        sum(col("size")).as("bytes"))
      .orderBy("day", "action")
  }

  val retentionSweepSql: String =
    s"""${Manifest.duckWith}
       |SELECT CAST(regexp_extract(key, '(?:^|/)day=(\\d+)', 1) AS INT) AS day,
       |  CASE WHEN last_modified_us < $CutoffUs THEN 'expire' ELSE 'keep' END AS action,
       |  COUNT(*) AS n_objects, CAST(SUM(size) AS BIGINT) AS bytes
       |FROM manifest
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "retention_sweep" -> (retentionSweep _))
  val oracles: Map[String, String] = Map(
    "retention_sweep" -> retentionSweepSql)
}
