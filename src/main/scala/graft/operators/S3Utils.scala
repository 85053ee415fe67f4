package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.PathMatcher
import graft.functions.Globs
import graft.sources.Manifest

/** Remaining reference utility surface as dataset ops:
  * `encodeS3Key`/`decodeS3Key` (reference src/index.ts:315-339),
  * `isValidBucketName` (src/index.ts:35), and `PathMatcher.all`
  * (AND-of-patterns, src/index.ts:717).
  *
  * All pure column expressions — constant-folded regexes + string ops,
  * fully codegen'd, zero shuffle before the final aggregate.
  */
object S3Utils {

  /** key percent-encode/decode roundtrip + AWS bucket-name validation
    * over a synthesized bucket population (valid names from event_type,
    * plus deterministic invalid ones: xn-- prefix, IP-form, adjacent
    * dots, -s3alias suffix).
    */
  def s3Keys(s: SparkSession, dir: String): DataFrame = {
    val bucket = when(pmod(col("event_id"), lit(7)) === 0, lit("xn--invalid-bucket"))
      .when(pmod(col("event_id"), lit(11)) === 0, lit("192.168.5.4"))
      .when(pmod(col("event_id"), lit(13)) === 0, lit("bad..name"))
      .when(pmod(col("event_id"), lit(17)) === 0, lit("trailing-s3alias"))
      .otherwise(concat(HivePartitions.field(col("key"), "event_type"), lit("-store")))
    val valid = graft.api.S3Keys.isValidBucketName(col("bucket"))
    // full per-segment encodeURIComponent twin (graft.api.S3Keys), driven
    // through both the manifest key (only '=' is special in its alphabet)
    // and a synthesized key exercising space/plus/parens/bang/tilde
    val special = concat(col("key"), lit(" v+1 (final)!~"))
    Manifest.manifest(s, dir)
      .withColumn("bucket", bucket)
      .withColumn("encoded", graft.api.S3Keys.encodeS3Key(col("key")))
      .withColumn("enc_special", graft.api.S3Keys.encodeS3Key(special))
      .withColumn("roundtrip_ok",
        graft.api.S3Keys.decodeS3Key(col("encoded")) === col("key") &&
          graft.api.S3Keys.decodeS3Key(col("enc_special")) === special)
      .groupBy("bucket")
      .agg(max(valid.cast("int")).cast("boolean").as("bucket_valid"),
        count(lit(1)).as("n"),
        sum(col("roundtrip_ok").cast("long")).as("n_roundtrip_ok"),
        countDistinct(col("encoded")).as("n_distinct_encoded"),
        countDistinct(col("enc_special")).as("n_distinct_special"))
      .orderBy("bucket")
  }

  val s3KeysSql: String =
    s"""${Manifest.duckWith}
       |SELECT bucket,
       |  CAST(MAX(CAST((length(bucket) BETWEEN 3 AND 63
       |    AND regexp_matches(bucket, '^[a-z0-9][a-z0-9.-]*[a-z0-9]$$')
       |    AND NOT contains(bucket, '..')
       |    AND NOT regexp_matches(bucket, '^\\d+\\.\\d+\\.\\d+\\.\\d+$$')
       |    AND NOT starts_with(bucket, 'xn--')
       |    AND NOT ends_with(bucket, '-s3alias')) AS INT)) AS BOOLEAN) AS bucket_valid,
       |  COUNT(*) AS n,
       |  CAST(SUM(CAST(
       |    replace(encoded, '%3D', '=') = key
       |    AND replace(replace(replace(enc_special, '%20', ' '), '%2B', '+'), '%3D', '=') = special
       |    AS BIGINT)) AS BIGINT) AS n_roundtrip_ok,
       |  COUNT(DISTINCT encoded) AS n_distinct_encoded,
       |  COUNT(DISTINCT enc_special) AS n_distinct_special
       |FROM (
       |  SELECT key, bucket, special,
       |    replace(key, '=', '%3D') AS encoded,
       |    replace(replace(replace(special, '=', '%3D'), '+', '%2B'), ' ', '%20') AS enc_special
       |  FROM (
       |    SELECT key, key || ' v+1 (final)!~' AS special,
       |      CASE WHEN event_id % 7 = 0 THEN 'xn--invalid-bucket'
       |           WHEN event_id % 11 = 0 THEN '192.168.5.4'
       |           WHEN event_id % 13 = 0 THEN 'bad..name'
       |           WHEN event_id % 17 = 0 THEN 'trailing-s3alias'
       |           ELSE regexp_extract(key, 'event_type=([^/]+)', 1) || '-store' END AS bucket
       |    FROM manifest) t0) t
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** PathMatcher.all — key must match EVERY pattern in the list. */
  private val allGlobs = Seq("data/**", "**/event_type=purchase/*", "**/*.{json,csv,parquet}")

  def globAll(s: SparkSession, dir: String): DataFrame =
    Manifest.manifest(s, dir)
      .filter(new PathMatcher().all(col("key"), allGlobs: _*))
      .groupBy(HivePartitions.field(col("key"), "day").as("day"))
      .agg(count(lit(1)).as("n"), sum(col("size")).as("total_size"))
      .orderBy("day")

  val globAllSql: String = {
    val preds = allGlobs
      .map(g => s"regexp_matches(key, '^(?:${Globs.compile(g)})$$')")
      .mkString(" AND ")
    s"""${Manifest.duckWith}
       |SELECT CAST(regexp_extract(key, '(?:^|/)day=([^/]*)', 1) AS INT) AS day,
       |  COUNT(*) AS n, CAST(SUM(size) AS BIGINT) AS total_size
       |FROM manifest WHERE $preds
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s3_keys" -> (s3Keys _),
    "glob_all" -> (globAll _))

  val oracles: Map[String, String] = Map(
    "s3_keys" -> s3KeysSql,
    "glob_all" -> globAllSql)
}
