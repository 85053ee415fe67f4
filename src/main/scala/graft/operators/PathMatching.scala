package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.PathMatcher
import graft.functions.Globs
import graft.sources.Manifest

/** PathMatcher surface (reference src/index.ts:612 — isMatch/match/not/
  * matchFast/capture) as distributed manifest scans through
  * [[graft.api.PathMatcher]].
  *
  * The glob is compiled to a regex ONCE on the driver (same caching idea
  * as the reference's patternCache) and inlined as a literal into a
  * codegen'd `rlike` — the 100 TB plan is a single parquet scan + filter,
  * no UDF, no shuffle (the final agg/sort run on the small matched set).
  */
object PathMatching {

  // the third pattern exercises POSIX classes (micromatch posix mode)
  // cross-engine: compiled ONCE, the same regex literal runs under
  // Spark's Java rlike and the oracle's RE2 regexp_matches
  private val matchGlobs = Seq(
    "data/**/event_type=click/*.{json,csv}", "**/*.png",
    "data/**/day=0[[:digit:]]/*/part-*.txt")
  private val notGlobs = Seq("**/*.parquet", "**/*.json", "**/*.csv")
  private val capturePattern = "data/year=:y/month=:m/day=:d/event_type=:t/part-*"

  private val matcher = new PathMatcher

  /** match/matchFast: keys matching any pattern in the list. */
  def globMatch(s: SparkSession, dir: String): DataFrame =
    matcher.filterMatching(Manifest.manifest(s, dir), matchGlobs)
      .select(col("key"), col("size"))
      .orderBy("key")

  val globMatchSql: String = {
    val re = "^(?:" + Globs.compileAny(matchGlobs) + ")$"
    s"""${Manifest.duckWith}
       |SELECT key, size FROM manifest
       |WHERE regexp_matches(key, '$re')
       |ORDER BY key""".stripMargin
  }

  /** not(): keys matching none of the patterns, aggregated per type. */
  def globNot(s: SparkSession, dir: String): DataFrame =
    matcher.filterNot(Manifest.manifest(s, dir), notGlobs)
      .groupBy(HivePartitions.field(col("key"), "event_type").as("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("size")).as("total_size"))
      .orderBy("event_type")

  val globNotSql: String = {
    val re = "^(?:" + Globs.compileAny(notGlobs) + ")$"
    s"""${Manifest.duckWith}
       |SELECT regexp_extract(key, 'event_type=([^/]+)', 1) AS event_type,
       |  COUNT(*) AS n, CAST(SUM(size) AS BIGINT) AS total_size
       |FROM manifest WHERE NOT regexp_matches(key, '$re')
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** capture(): `:name`/`*` placeholder extraction, aggregated. */
  def globCapture(s: SparkSession, dir: String): DataFrame =
    Manifest.manifest(s, dir)
      .select(matcher.captureStruct(capturePattern, col("key")).as("c"))
      .filter(col("c").isNotNull)
      .select("c.y", "c.m", "c.t")
      .groupBy("y", "m", "t")
      .agg(count(lit(1)).as("n"))
      .orderBy("y", "m", "t")

  val globCaptureSql: String = {
    val (re0, _) = Globs.compileCapture(capturePattern)
    val re = "^" + re0 + "$"
    s"""${Manifest.duckWith}
       |SELECT regexp_extract(key, '$re', 1) AS y,
       |  regexp_extract(key, '$re', 2) AS m,
       |  regexp_extract(key, '$re', 4) AS t,
       |  COUNT(*) AS n
       |FROM manifest
       |WHERE regexp_extract(key, '$re', 1) <> ''
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  /** listObjects/findMatchingObjects: the manifest as a queryable index —
    * per-partition file stats (the S3 "LIST" your lake catalog answers).
    */
  def fileIndex(s: SparkSession, dir: String): DataFrame =
    Manifest.manifest(s, dir)
      .groupBy(Seq("year", "month", "event_type").map(f =>
        HivePartitions.field(col("key"), f).as(f)): _*)
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("size")).as("total_size"),
        min(col("key")).as("first_key"),
        max(col("key")).as("last_key"))
      .orderBy("year", "month", "event_type")

  val fileIndexSql: String =
    s"""${Manifest.duckWith}
       |SELECT CAST(regexp_extract(key, 'year=(\\d+)', 1) AS INT) AS year,
       |  CAST(regexp_extract(key, 'month=(\\d+)', 1) AS INT) AS month,
       |  regexp_extract(key, 'event_type=([^/]+)', 1) AS event_type,
       |  COUNT(*) AS n_files, CAST(SUM(size) AS BIGINT) AS total_size,
       |  MIN(key) AS first_key, MAX(key) AS last_key
       |FROM manifest GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "glob_match" -> (globMatch _),
    "glob_not" -> (globNot _),
    "glob_capture" -> (globCapture _),
    "file_index" -> (fileIndex _)
  )

  val oracles: Map[String, String] = Map(
    "glob_match" -> globMatchSql,
    "glob_not" -> globNotSql,
    "glob_capture" -> globCaptureSql,
    "file_index" -> fileIndexSql
  )
}
