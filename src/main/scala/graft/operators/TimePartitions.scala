package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{TimePartitionConfig, TimePartitionGenerator}
import graft.api.TimeGranularity._
import graft.sources.Manifest

/** TimePartitionGenerator surface (reference src/index.ts:1827 —
  * generatePath/generatePathsForRange, hive vs plain format, hourly/
  * daily/monthly/yearly granularity, zero-padding) through
  * [[graft.api.TimePartitionGenerator]]: `sequence()` + `explode` +
  * `date_format` — fully distributed path generation (a
  * year of hourly paths is 8760 rows; a driver loop would cap this,
  * the explode doesn't).
  */
object TimePartitions {

  /** generatePathsForRange at all four granularities (fixed ranges so the
    * oracle is deterministic): daily Jan 2024 (hive fmt, prefix "data"),
    * hourly 2024-01-15 (hive), monthly 2024 (plain path fmt), yearly
    * 2022-2024 (plain).
    */
  def timePaths(s: SparkSession, dir: String): DataFrame = {
    def range(name: String, config: TimePartitionConfig, start: String, end: String): DataFrame =
      new TimePartitionGenerator(config).generatePathsForRange(s, start, end)
        .select(lit(name).as("granularity"), col("path"))
    range("daily", TimePartitionConfig(Daily, prefix = "data"), "2024-01-01", "2024-01-30")
      .union(range("hourly", TimePartitionConfig(Hourly), "2024-01-15 00:00:00", "2024-01-15 23:00:00"))
      .union(range("monthly", TimePartitionConfig(Monthly, format = "path"), "2024-01-01", "2024-12-01"))
      .union(range("yearly", TimePartitionConfig(Yearly, format = "path"), "2022-01-01", "2024-01-01"))
      .orderBy("granularity", "path")
  }

  val timePathsSql: String =
    """SELECT granularity, path FROM (
      |  SELECT 'daily' AS granularity,
      |    'data/year=' || strftime(d, '%Y') || '/month=' || strftime(d, '%m') || '/day=' || strftime(d, '%d') AS path
      |  FROM (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS d)
      |  UNION ALL
      |  SELECT 'hourly',
      |    'year=' || strftime(t, '%Y') || '/month=' || strftime(t, '%m') || '/day=' || strftime(t, '%d') || '/hour=' || strftime(t, '%H')
      |  FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-15 23:00:00', INTERVAL 1 HOUR)) AS t)
      |  UNION ALL
      |  SELECT 'monthly', strftime(d, '%Y') || '/' || strftime(d, '%m')
      |  FROM (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-12-01', INTERVAL 1 MONTH)) AS d)
      |  UNION ALL
      |  SELECT 'yearly', strftime(d, '%Y')
      |  FROM (SELECT unnest(generate_series(DATE '2022-01-01', DATE '2024-01-01', INTERVAL 1 YEAR)) AS d)
      |) t ORDER BY granularity, path""".stripMargin

  /** parsePath → timestamp: manifest key partition fields back to an
    * epoch-micros partition timestamp, joined with per-partition stats.
    */
  def timeParse(s: SparkSession, dir: String): DataFrame = {
    def f(name: String) = HivePartitions.field(col("key"), name)
    Manifest.manifest(s, dir)
      .select(unix_micros(make_timestamp(f("year"), f("month"), f("day"), lit(0), lit(0), lit(0)))
        .as("partition_ts_us"), col("size"))
      .groupBy("partition_ts_us")
      .agg(count(lit(1)).as("n"), sum(col("size")).as("total_size"))
      .orderBy("partition_ts_us")
  }

  val timeParseSql: String =
    s"""${Manifest.duckWith}
       |SELECT epoch_us(make_timestamp(
       |    CAST(regexp_extract(key, '(?:^|/)year=(\\d+)', 1) AS INT),
       |    CAST(regexp_extract(key, '(?:^|/)month=(\\d+)', 1) AS INT),
       |    CAST(regexp_extract(key, '(?:^|/)day=(\\d+)', 1) AS INT), 0, 0, 0.0)) AS partition_ts_us,
       |  COUNT(*) AS n, CAST(SUM(size) AS BIGINT) AS total_size
       |FROM manifest GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "time_paths" -> (timePaths _),
    "time_parse" -> (timeParse _))

  val oracles: Map[String, String] = Map(
    "time_paths" -> timePathsSql,
    "time_parse" -> timeParseSql)
}
