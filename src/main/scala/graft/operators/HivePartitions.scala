package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.api.{HivePartitionParser, PartitionField, PathMatcher}
import graft.sources.{Manifest, Tables}

/** HivePartitionParser surface (reference src/index.ts:1558 — parse/
  * safeParse/format/createGlobPattern/isValid/matchesGlob) through
  * [[graft.api.HivePartitionParser]] and [[graft.api.PathMatcher]]:
  * codegen'd column expressions over the manifest.
  *
  * Parse = `regexp_extract` of each `k=v` segment (non-k=v segments
  * ignored, leading zeros coerced by the int cast — reference §3
  * semantics); validation = boolean column math. At 100 TB all of it
  * stays inside the scan's whole-stage codegen.
  */
object HivePartitions {

  /** The manifest's partition schema, the one parser every manifest
    * key reads its `k=v` fields through: year:int, month:int 1-12,
    * day:int 1-28 (stricter than the data on purpose → both valid and
    * invalid rows exist), event_type: enum of 5.
    */
  val lake = new HivePartitionParser(Seq(
    PartitionField("year", IntegerType),
    PartitionField("month", IntegerType, min = Some(1), max = Some(12)),
    PartitionField("day", IntegerType, min = Some(1), max = Some(28)),
    PartitionField("event_type", enumVals = Seq("click", "view", "purchase", "signup", "error"))))

  /** one typed partition field of a manifest key. */
  def field(key: Column, name: String): Column = lake.parse(key)(name)

  private val matcher = new PathMatcher

  /** parse + schema validation against [[lake]]. */
  def hiveParse(s: SparkSession, dir: String): DataFrame =
    Manifest.manifest(s, dir)
      .select(Seq("year", "month", "day", "event_type").map(f => field(col("key"), f).as(f)) :+
        lake.isValid(col("key")).as("is_valid"): _*)
      .groupBy("year", "month", "day", "event_type", "is_valid")
      .agg(count(lit(1)).as("n"))
      .orderBy("year", "month", "day", "event_type")

  val hiveParseSql: String =
    s"""${Manifest.duckWith}
       |SELECT year, month, day, event_type,
       |  (year IS NOT NULL AND month BETWEEN 1 AND 12 AND day BETWEEN 1 AND 28
       |   AND event_type IN ('click','view','purchase','signup','error')) AS is_valid,
       |  COUNT(*) AS n
       |FROM (
       |  SELECT CAST(regexp_extract(key, '(?:^|/)year=([^/]*)', 1) AS INT) AS year,
       |    CAST(regexp_extract(key, '(?:^|/)month=([^/]*)', 1) AS INT) AS month,
       |    CAST(regexp_extract(key, '(?:^|/)day=([^/]*)', 1) AS INT) AS day,
       |    regexp_extract(key, '(?:^|/)event_type=([^/]*)', 1) AS event_type
       |  FROM manifest) t
       |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3, 4""".stripMargin

  /** format: typed fields → `k=v/k=v` path (zero-padded), the inverse of
    * parse — built from the events table directly.
    */
  def hiveFormat(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(lake.format(Map(
        "year" -> year(col("ts")),
        "month" -> lpad(month(col("ts")).cast("string"), 2, "0"),
        "day" -> lpad(dayofmonth(col("ts")).cast("string"), 2, "0"),
        "event_type" -> col("event_type"))).as("partition_path"))
      .groupBy("partition_path")
      .agg(count(lit(1)).as("n"))
      .orderBy("partition_path")

  val hiveFormatSql: String =
    """SELECT 'year=' || CAST(year(ts) AS VARCHAR) ||
      |  '/month=' || lpad(CAST(month(ts) AS VARCHAR), 2, '0') ||
      |  '/day=' || lpad(CAST(day(ts) AS VARCHAR), 2, '0') ||
      |  '/event_type=' || event_type AS partition_path,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** createGlobPattern({year: 2024, event_type: "click"}) → the glob
    * "year=2024/month=&#42;/day=&#42;/event_type=click", matched at any
    * depth, as a partition-pruning filter. The filter is a pure
    * conjunction on the partition columns — exactly what Catalyst turns
    * into partition pruning on a real hive-layout table.
    */
  def hivePrune(s: SparkSession, dir: String): DataFrame = {
    val glob = "**/" + lake.createGlobPattern(Map("year" -> 2024, "event_type" -> "click")) + "/**"
    Manifest.manifest(s, dir)
      .filter(matcher.isMatch(col("key"), glob))
      .groupBy(field(col("key"), "day").as("day"))
      .agg(count(lit(1)).as("n"), sum(col("size")).as("total_size"))
      .orderBy("day")
  }

  val hivePruneSql: String =
    s"""${Manifest.duckWith}
       |SELECT CAST(regexp_extract(key, '(?:^|/)day=([^/]*)', 1) AS INT) AS day,
       |  COUNT(*) AS n, CAST(SUM(size) AS BIGINT) AS total_size
       |FROM manifest
       |WHERE regexp_matches(key, '(?:^|/)year=2024/month=[^/]*/day=[^/]*/event_type=click(?:/|$$)')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** createGlobPattern with a bash SEQUENCE range spec — the
    * backfill-window prune (`month={01..06}`, `day={01..09}`) a user
    * writes instead of enumerating twelve alternatives by hand. The
    * numeric ranges expand at COMPILE time (driver-side, once:
    * [[graft.functions.Globs]] brace-sequence expansion, zero-padded
    * because the endpoints are written padded — matching the lpad'd
    * Hive path format) and the executor still sees ONE codegen'd
    * rlike over the scan: same single-scan-no-shuffle plan as
    * [[hivePrune]]. The identical regex literal runs under DuckDB's
    * RE2 in the oracle.
    */
  private val pruneRangeGlob =
    "data/year={2023..2024}/month={01..06}/day={01..09}/event_type={click,view}/part-*.{json,csv}"

  def hivePruneRange(s: SparkSession, dir: String): DataFrame =
    Manifest.manifest(s, dir)
      .filter(matcher.isMatch(col("key"), pruneRangeGlob))
      .groupBy(field(col("key"), "month").as("month"), field(col("key"), "event_type").as("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("size")).as("total_size"))
      .orderBy("month", "event_type")

  val hivePruneRangeSql: String = {
    val re = "^" + graft.functions.Globs.compile(pruneRangeGlob) + "$"
    s"""${Manifest.duckWith}
       |SELECT CAST(regexp_extract(key, '(?:^|/)month=([^/]*)', 1) AS INT) AS month,
       |  regexp_extract(key, '(?:^|/)event_type=([^/]*)', 1) AS event_type,
       |  COUNT(*) AS n, CAST(SUM(size) AS BIGINT) AS total_size
       |FROM manifest
       |WHERE regexp_matches(key, '$re')
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hive_parse" -> (hiveParse _),
    "hive_format" -> (hiveFormat _),
    "hive_prune" -> (hivePrune _),
    "hive_prune_range" -> (hivePruneRange _))

  val oracles: Map[String, String] = Map(
    "hive_parse" -> hiveParseSql,
    "hive_format" -> hiveFormatSql,
    "hive_prune" -> hivePruneSql,
    "hive_prune_range" -> hivePruneRangeSql)
}
