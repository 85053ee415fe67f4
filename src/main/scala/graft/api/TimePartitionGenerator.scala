package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

sealed trait TimeGranularity { def interval: String }
object TimeGranularity {
  case object Hourly extends TimeGranularity { val interval = "INTERVAL 1 HOUR" }
  case object Daily extends TimeGranularity { val interval = "INTERVAL 1 DAY" }
  case object Monthly extends TimeGranularity { val interval = "INTERVAL 1 MONTH" }
  case object Yearly extends TimeGranularity { val interval = "INTERVAL 1 YEAR" }
}

/** Config twin of the reference's TimePartitionConfig
  * (src/index.ts:1809): granularity, optional hour/minute components,
  * hive (`year=YYYY`) vs plain (`YYYY`) formatting, prefix. Reference
  * coercions preserved: hourly forces includeHour; includeMinute forces
  * includeHour.
  */
case class TimePartitionConfig(
  granularity: TimeGranularity,
  includeHour: Boolean = false,
  includeMinute: Boolean = false,
  format: String = "hive", // "hive" | "path"
  prefix: String = "")

/** Twin of the reference's `TimePartitionGenerator` (src/index.ts:1827):
  * `generatePath` is a Column expression (usable on a billion-row ts
  * column); `generatePathsForRange` is a distributed sequence+explode —
  * a year of hourly paths is 8760 rows, not a driver loop.
  */
class TimePartitionGenerator(config0: TimePartitionConfig) {
  import TimeGranularity._

  val config: TimePartitionConfig = {
    var c = config0
    if (c.includeMinute && c.granularity != Hourly) c = c.copy(includeHour = true)
    if (c.granularity == Hourly) c = c.copy(includeHour = true)
    c
  }

  /** (label, date pattern) of each segment after the prefix, in order —
    * label `key=` in hive format, empty in path format. The one segment
    * list both the Column and the String path format.
    */
  private val segments: Seq[(String, String)] =
    (Seq("year" -> "yyyy") ++
      (if (config.granularity != Yearly) Seq("month" -> "MM") else Nil) ++
      (config.granularity match {
        case Daily | Hourly => Seq("day" -> "dd")
        case _ => Nil
      }) ++
      (if (config.includeHour) Seq("hour" -> "HH") else Nil) ++
      (if (config.includeMinute) Seq("minute" -> "mm") else Nil))
      .map { case (key, fmt) => (if (config.format == "hive") s"$key=" else "", fmt) }

  private val prefixPart: Seq[String] = Seq(config.prefix).filter(_.nonEmpty)

  /** partition path for a timestamp column (reference generatePath). */
  def generatePath(ts: Column): Column =
    concat_ws("/", prefixPart.map(lit) ++ segments.map { case (label, fmt) =>
      if (label.isEmpty) date_format(ts, fmt) else concat(lit(label), date_format(ts, fmt))
    }: _*)

  /** partition path for "now" (reference generateCurrentPath,
    * src/index.ts:1977). Column form — stamp a whole DataFrame with the
    * ingest partition; `current_timestamp()` is query-constant.
    */
  def generateCurrentPath(): Column = generatePath(current_timestamp())

  /** String form of generateCurrentPath for driver-side callers
    * (manifest prefixes, sink paths). Injectable clock so tests pin the
    * instant; same segment logic as the Column twin, UTC like the
    * session timezone.
    */
  def generateCurrentPath(clock: java.time.Clock): String = {
    val t = java.time.ZonedDateTime.now(clock.withZone(java.time.ZoneOffset.UTC))
    (prefixPart ++ segments.map { case (label, fmt) =>
      label + java.time.format.DateTimeFormatter.ofPattern(fmt).format(t)
    }).mkString("/")
  }

  /** one row per period in [start, end] (reference
    * generatePathsForRange) — distributed via sequence + explode.
    */
  def generatePathsForRange(spark: SparkSession, start: String, end: String): DataFrame = {
    val step = config.granularity.interval
    spark.sql(
      s"SELECT explode(sequence(TIMESTAMP'$start', TIMESTAMP'$end', $step)) AS ts")
      .select(generatePath(col("ts")).as("path"))
  }
}
