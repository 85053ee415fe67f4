package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Event-series depth: decay-weighted scoring, gap filling, and
  * hopping (sliding) windows — the shapes a metrics pipeline needs
  * beyond plain tumbling aggregation.
  *
  * Determinism discipline: all three stay in integer math until the
  * final (single) IEEE operation — decay weights are exact powers of
  * two applied to exact cents, window/bucket ids are integer epoch-
  * microsecond divisions — so aggregation order can never change a bit.
  */
object EventsMore {

  private val dayUs = 86400L * 1000000

  /** Anchor for decay age: one day past the last event (the "as of"
    * time a caller would pass as now()). Fixed so the oracle can
    * restate it; day 0 = 2024-01-31 back to day 30 = 2024-01-01.
    */
  private val AnchorUs = 1706659200000000L // 2024-01-31 00:00:00 UTC
  private val MaxAgeDays = 30

  /** Exponentially time-decayed engagement score per user with a
    * half-life of one day: an event `d` days old weighs 2^-d. The
    * trick that keeps it oracle-exact: weigh CENTS by the exact power
    * of two 2^(30-d) in BIGINT, sum (order-independent integer math),
    * and divide once by 2^30·100 at the end — one IEEE division, bit-
    * identical on both engines. Two-level aggregation for overflow
    * safety at scale: cents pre-aggregate per (user, age-day) BEFORE
    * the weight multiply, so the 2^30-scaled term is bounded per day
    * (a day's cents would need to exceed 2^33 ≈ $86M to overflow),
    * not per event-count. Both aggs partial map-side; only the
    * (user, day)-grained grid ever shuffles.
    */
  def eventsDecay(s: SparkSession, dir: String): DataFrame =
    eventsDecayFor(Tables.events(s, dir), AnchorUs, dayUs, MaxAgeDays).orderBy("user_id")

  /** The events_decay body over (user_id, ts_us, value) with a
    * one-`unitUs` half-life as of `anchorUs`, ages capped at `maxAge`;
    * shared with [[graft.api.EventOps.decayScore]].
    */
  private[graft] def eventsDecayFor(e: DataFrame, anchorUs: Long, unitUs: Long,
      maxAge: Int): DataFrame = {
    require(maxAge >= 0 && maxAge <= 56, s"maxAge $maxAge: 2^maxAge·100 must fit a BIGINT")
    e.withColumn("age_days",
        least(expr(s"($anchorUs - ts_us) div $unitUs"), lit(maxAge.toLong)))
      .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .groupBy("user_id", "age_days")
      .agg(sum(col("cents")).as("cents_day"), count(lit(1)).as("n"))
      .withColumn("wunits",
        expr(s"cents_day * shiftleft(CAST(1 AS BIGINT), CAST($maxAge - age_days AS INT))"))
      .groupBy("user_id")
      .agg(sum(col("wunits")).as("units"), sum(col("n")).as("n_events"))
      .withColumn("decayed_score",
        expr(s"CAST(units AS DOUBLE) / CAST(${(1L << maxAge) * 100L} AS DOUBLE)"))
      .select("user_id", "decayed_score", "n_events")
  }

  val eventsDecaySql: String =
    s"""WITH w AS (
       |  SELECT user_id,
       |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
       |      * (CAST(1 AS BIGINT) << CAST($MaxAgeDays - LEAST(($AnchorUs - epoch_us(ts)) // ${86400L * 1000000}, $MaxAgeDays) AS INT))
       |      AS wunits
       |  FROM events)
       |SELECT user_id,
       |  CAST(CAST(SUM(wunits) AS BIGINT) AS DOUBLE) / CAST(${(1L << MaxAgeDays) * 100L} AS DOUBLE) AS decayed_score,
       |  COUNT(*) AS n_events
       |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Hourly event counts per type with GAPS FILLED: hours in which a
    * type saw no events appear as explicit zero rows (dashboards and
    * downstream window math need the dense series). The dense hour
    * axis is generated per type from its own (min, max) hour — a
    * sequence+explode whose fanout is bounded by the TIME RANGE, not
    * the data volume, so at 100 TB the axis is still just
    * years×8760×|types| rows. Counts join the axis type+hour-keyed;
    * missing hours coalesce to 0.
    */
  def eventsGapFill(s: SparkSession, dir: String): DataFrame =
    eventsGapFillFor(Tables.events(s, dir), 3600000000L).orderBy("event_type", "hour_bucket")

  /** The events_gap_fill body over (event_type, ts_us) in `bucketUs`
    * buckets; shared with [[graft.api.EventOps.gapFill]].
    */
  private[graft] def eventsGapFillFor(e: DataFrame, bucketUs: Long): DataFrame = {
    val counts = e
      .withColumn("hour_bucket", expr(s"ts_us div $bucketUs"))
      .groupBy("event_type", "hour_bucket")
      .agg(count(lit(1)).as("n_events"))
    // the axis derives from the ALREADY-AGGREGATED counts frame, so the
    // corpus is scanned exactly once (a second min/max pass over the raw
    // events would double the 100 TB scan for a KB-sized bound)
    val axis = counts.groupBy("event_type")
      .agg(min("hour_bucket").as("h0"), max("hour_bucket").as("h1"))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hour_bucket"))
    axis.join(counts, Seq("event_type", "hour_bucket"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
  }

  val eventsGapFillSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    MIN(epoch_us(ts) // 3600000000) AS h0, MAX(epoch_us(ts) // 3600000000) AS h1
      |  FROM events GROUP BY 1),
      |axis AS (
      |  SELECT event_type, UNNEST(generate_series(h0, h1)) AS hour_bucket FROM b),
      |c AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT axis.event_type, axis.hour_bucket, COALESCE(c.n, 0) AS n_events
      |FROM axis LEFT JOIN c ON axis.event_type = c.event_type AND axis.hour_bucket = c.hour_bucket
      |ORDER BY 1, 2""".stripMargin

  /** Hopping (sliding) window aggregate: 60-minute windows advancing
    * every 15 minutes, per event type. Each event lands in exactly 4
    * windows, so the corpus EXPLODES ×4 map-side (offsets 0..3 — the
    * same thing Structured Streaming's `window(col, "1 hour", "15
    * minutes")` does) and then partial-aggregates on (type, window
    * start) — the shuffle carries one row per live window per type,
    * never the ×4 event fanout.
    */
  def eventsHopWindow(s: SparkSession, dir: String): DataFrame =
    eventsHopWindowFor(Tables.events(s, dir), 900000000L, 4,
      round(sum(expr("CAST(value AS DECIMAL(12,2))")), 2).cast("double").as("sum_value"))
      .orderBy("event_type", "window_start_us")

  /** The events_hop_window body over (event_type, ts_us): `hops`
    * windows of `hopUs` per event, `n_events` plus any `extra`
    * aggregates per (event_type, window_start_us); shared with
    * [[graft.api.EventOps.hopWindow]].
    */
  private[graft] def eventsHopWindowFor(e: DataFrame, hopUs: Long, hops: Int,
      extra: Column*): DataFrame =
    e.withColumn("b", expr(s"ts_us div $hopUs"))
      .withColumn("off", explode(array((0 until hops).map(i => lit(i.toLong)): _*)))
      .withColumn("window_start_us", expr(s"(b - off) * $hopUs"))
      .groupBy("event_type", "window_start_us")
      .agg(count(lit(1)).as("n_events"), extra: _*)

  val eventsHopWindowSql: String =
    """SELECT event_type, ((epoch_us(ts) // 900000000) - off) * 900000000 AS window_start_us,
      |  COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
      |FROM events, UNNEST([0, 1, 2, 3]) AS t(off)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Event-type transition matrix (first-order Markov counts): for
    * each user's event stream in time order, count (from → to) pairs
    * corpus-wide; a user's first event transitions from '<start>'.
    * The user-path analysis behind funnels and next-action models.
    * Shape: ONE user-keyed shuffle + per-partition sort for the lag,
    * then a partial agg onto the |types|²-bounded matrix — order is
    * made deterministic by the (ts_us, event_id) composite sort key.
    */
  def eventsMarkov(s: SparkSession, dir: String): DataFrame =
    eventsMarkovFor(Tables.events(s, dir), "<start>").orderBy("from_type", "to_type")

  /** The events_markov body over (user_id, event_type, ts_us,
    * event_id); first events transition from `startState`. Shared with
    * [[graft.api.EventOps.markovTransitions]].
    */
  private[graft] def eventsMarkovFor(e: DataFrame, startState: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e.withColumn("from_type", coalesce(lag("event_type", 1).over(w), lit(startState)))
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  val eventsMarkovSql: String =
    """WITH t AS (
      |  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
      |      '<start>') AS from_type,
      |    event_type AS to_type
      |  FROM events)
      |SELECT from_type, to_type, COUNT(*) AS n_transitions
      |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** EXACT per-group median (lower median, deterministic tiebreak) —
    * the exact counterpart of sketch_quantile's mergeable
    * approximation, for when a report needs the true order statistic.
    * One window sort per group: rank and group size come off the SAME
    * (type)-partitioned sort (no second shuffle), the median is the
    * row at ceil(n/2). Value ties break on event_id, so both engines
    * select the identical row. At scale this is the one op here that
    * pays a per-group sort — which is exactly the price of exactness;
    * the sketch is the 100 TB default, this is the audit path.
    */
  def eventsMedianExact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVal = Window.partitionBy("event_type").orderBy("value", "event_id")
    val all = Window.partitionBy("event_type")
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(all))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("n"),
        col("value").as("median_value"), col("event_id").as("median_event"))
      .orderBy("event_type")
  }

  val eventsMedianExactSql: String =
    """WITH r AS (
      |  SELECT event_type, value, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, n, value AS median_value, event_id AS median_event
      |FROM r WHERE rn = (n + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** Per-user activity distribution in log2 buckets: how many users
    * fired [2^b, 2^(b+1)) events — the long-tail histogram behind
    * engagement dashboards and bot-filter thresholds, in a shape that
    * never sorts: (user) partial agg → map-side log2 bucket → (bucket)
    * partial agg. The bucket index floor(log2(n)) is computed as
    * `length(bin(n)) - 1` — pure integer/string math, because libm
    * log2 (Spark spells it log(n)/log(2)) can land a hair under an
    * exact power of two and floor into the wrong bucket.
    */
  def eventsActivityHist(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .withColumn("bucket", expr("CAST(length(bin(n)) - 1 AS INT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"), sum("n").as("n_events"))
      .orderBy("bucket")
  }

  val eventsActivityHistSql: String =
    """WITH per_user AS (
      |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
      |SELECT CAST(length(bin(n)) - 1 AS INT) AS bucket,
      |  COUNT(*) AS n_users, CAST(SUM(n) AS BIGINT) AS n_events
      |FROM per_user GROUP BY 1 ORDER BY 1""".stripMargin

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands: distinct (user, day), island id = day − the
    * day's per-user dense rank (constant within a run of consecutive
    * days), one aggregate per island, then the per-user max. Top 20
    * streaks with a total order (len desc, user, start).
    *
    * Scale shape: the corpus collapses to the (user, day) grid in ONE
    * partial-aggregated distinct before any window; the rank window
    * partitions by user (the grid's natural key, no global sort), and
    * the final top-20 is a TakeOrdered over per-user rows. Integer day
    * arithmetic end to end.
    */
  def eventsStreaks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400L * 1000000
    val grid = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_us div $dayUs").as("day")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val streaks = grid
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("streak_days"), min("day").as("start_day"))
    val best = Window.partitionBy("user_id")
      .orderBy(col("streak_days").desc, col("start_day"))
    streaks
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select("user_id", "streak_days", "start_day")
      .orderBy(col("streak_days").desc, col("user_id"))
      .limit(20)
  }

  val eventsStreaksSql: String =
    """WITH grid AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), islands AS (
      |  SELECT user_id, day,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
      |  FROM grid
      |), streaks AS (
      |  SELECT user_id, island, COUNT(*) AS streak_days, MIN(day) AS start_day
      |  FROM islands GROUP BY 1, 2
      |), best AS (
      |  SELECT user_id, streak_days, start_day,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY streak_days DESC, start_day) AS rn
      |  FROM streaks
      |)
      |SELECT user_id, streak_days, start_day FROM best WHERE rn = 1
      |ORDER BY streak_days DESC, user_id LIMIT 20""".stripMargin

  /** Audience overlap between event types: Jaccard of the user sets of
    * every type pair — the co-engagement matrix behind "users who click
    * also purchase" dashboards. The corpus collapses to the distinct
    * (type, user) grid FIRST (one partial-agg distinct); the pair join
    * is keyed on user over that grid, so its volume is Σ_user
    * |types(user)|² — bounded by the type-count square per user (≤ 25
    * here), never corpus². Counts stay integers; one floored division
    * at output.
    */
  def eventsTypeOverlap(s: SparkSession, dir: String): DataFrame = {
    val grid = Materialize.stable(
      Tables.events(s, dir).select(col("event_type"), col("user_id")).distinct())
    val sizes = grid.groupBy("event_type").agg(count(lit(1)).as("n_users"))
    val pairs = grid.as("a")
      .join(grid.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col("event_type").as("type_a"), col("n_users").as("n_a")), Seq("type_a"))
      .join(sizes.select(col("event_type").as("type_b"), col("n_users").as("n_b")), Seq("type_b"))
      .withColumn("jaccard", expr(
        "floor(CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .select("type_a", "type_b", "n_a", "n_b", "n_common", "jaccard")
      .orderBy("type_a", "type_b")
  }

  val eventsTypeOverlapSql: String =
    """WITH grid AS (
      |  SELECT DISTINCT event_type, user_id FROM events
      |), sizes AS (
      |  SELECT event_type, COUNT(*) AS n_users FROM grid GROUP BY 1
      |), pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_common
      |  FROM grid a JOIN grid b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT p.type_a, p.type_b, sa.n_users AS n_a, sb.n_users AS n_b, p.n_common,
      |  floor(CAST(p.n_common AS DOUBLE) / CAST(sa.n_users + sb.n_users - p.n_common AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) AS jaccard
      |FROM pairs p
      |JOIN sizes sa ON sa.event_type = p.type_a
      |JOIN sizes sb ON sb.event_type = p.type_b
      |ORDER BY p.type_a, p.type_b""".stripMargin

  /** Inter-event dwell-time histogram: the gap between each user's
    * consecutive events, bucketed log2 by seconds — the
    * think-time/bot-cadence distribution (sub-second spikes flag
    * automation; the heavy tail sizes session timeouts). Bucket −1
    * collects same-microsecond bursts.
    *
    * Scale shape: ONE user-keyed shuffle + in-partition (ts, id) sort
    * for the lag (the same shape as events_markov), map-side log2
    * bucket via length(bin(n))−1 integer math (no libm), then a
    * partial agg onto the ~40-row histogram. Deterministic: the
    * (ts_us, event_id) order key makes every gap identical on both
    * engines.
    */
  def eventsDwell(s: SparkSession, dir: String): DataFrame =
    eventsDwellFor(Tables.events(s, dir), 1000000L).orderBy("bucket")

  /** The events_dwell body over (user_id, ts_us, event_id): gaps in
    * `unitUs` units (`gap_s` names the key's one-second unit); shared
    * with [[graft.api.EventOps.dwellHistogram]].
    */
  private[graft] def eventsDwellFor(e: DataFrame, unitUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e.withColumn("prev_us", lag("ts_us", 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_s", expr(s"(ts_us - prev_us) div $unitUs"))
      .withColumn("bucket",
        expr("CASE WHEN gap_s <= 0 THEN -1 ELSE CAST(length(bin(gap_s)) - 1 AS INT) END"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_gaps"), sum("gap_s").as("sum_gap_s"))
  }

  val eventsDwellSql: String =
    """WITH gaps AS (
      |  SELECT (ts_us - prev_us) // 1000000 AS gap_s FROM (
      |    SELECT epoch_us(ts) AS ts_us,
      |      LAG(epoch_us(ts)) OVER (PARTITION BY user_id
      |        ORDER BY epoch_us(ts), event_id) AS prev_us
      |    FROM events) t
      |  WHERE prev_us IS NOT NULL
      |)
      |SELECT CASE WHEN gap_s <= 0 THEN -1
      |            ELSE CAST(length(bin(gap_s)) - 1 AS INT) END AS bucket,
      |  COUNT(*) AS n_gaps, CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s
      |FROM gaps GROUP BY 1 ORDER BY 1""".stripMargin

  /** Traffic seasonality heatmap: event counts and exact-cents value
    * by (day-of-week, hour-of-day) — the 168-cell load profile behind
    * capacity planning and anomaly baselines. Both axes are pure
    * integer epoch arithmetic (day 0 = Thursday 1970-01-01, so
    * dow = (epoch_days + 4) % 7 puts Sunday at 0, Monday at 1 on both
    * engines — no locale-sensitive date functions), one partial agg
    * onto 168 rows.
    */
  def eventsSeasonality(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("dow", expr(s"((ts_us div ${86400L * 1000000}) + 4) % 7"))
      .withColumn("hod", expr(s"(ts_us div ${3600L * 1000000}) % 24"))
      .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .groupBy("dow", "hod")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
      .orderBy("dow", "hod")
  }

  val eventsSeasonalitySql: String =
    s"""SELECT (epoch_us(ts) // ${86400L * 1000000} + 4) % 7 AS dow,
       |  (epoch_us(ts) // ${3600L * 1000000}) % 24 AS hod,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Value-concentration (whale) curve: users ranked by exact-cents
    * total spend, bucketed into spend deciles, with each decile's
    * share of total value — "the top 10% of users drive X% of value".
    * The corpus collapses to the user-cardinality spend frame in ONE
    * partial agg; the rank is [[Ranks.distributedRank]] — a
    * range-repartitioned two-level rank, because the spend frame is
    * user-cardinality (UNBOUNDED: a global `Window.orderBy` here plans
    * as an Exchange SinglePartition and one task sorts ~10⁸ rows at
    * 100×); the (n_users, total) pair is a one-row aggregate broadcast
    * back with the q22 crossJoin idiom. Integer cents end to end; two
    * floored divisions at output.
    */
  def eventsValuePareto(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.events(s, dir)
      .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .groupBy("user_id").agg(sum("cents").as("user_cents"))
    val ranked = Ranks.distributedRank(spend, "rn", col("user_cents").desc, col("user_id"))
    val totals = ranked.agg(count(lit(1)).as("n_all"), sum("user_cents").as("total_all"))
    ranked.crossJoin(broadcast(totals))
      .withColumn("decile", expr("(rn - 1) * 10 div n_all + 1"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("user_cents").as("decile_cents"),
        max("total_all").as("total_cents"))
      .withColumn("value_share", expr(
        "floor(CAST(decile_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .select("decile", "n_users", "decile_cents", "value_share")
      .orderBy("decile")
  }

  val eventsValueParetoSql: String =
    """WITH spend AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS user_cents
      |  FROM events GROUP BY 1
      |), ranked AS (
      |  SELECT user_cents,
      |    ROW_NUMBER() OVER (ORDER BY user_cents DESC, user_id) AS rn,
      |    COUNT(*) OVER () AS n_all,
      |    CAST(SUM(user_cents) OVER () AS BIGINT) AS total_cents
      |  FROM spend
      |)
      |SELECT (rn - 1) * 10 // n_all + 1 AS decile,
      |  COUNT(*) AS n_users,
      |  CAST(SUM(user_cents) AS BIGINT) AS decile_cents,
      |  floor(CAST(CAST(SUM(user_cents) AS BIGINT) AS DOUBLE) / CAST(MAX(total_cents) AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) AS value_share
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** Largest day-over-day level shift per event type — the single-point
    * changepoint detector behind "did the pipeline break / launch land
    * on this day" triage: for each type, the CONSECUTIVE-day pair with
    * the biggest absolute count change (ties → earliest day), with the
    * before/after counts and the signed delta. Gap days (no traffic)
    * are not treated as zero — the probe asks "when traffic flowed,
    * when did its level jump", the same observed-day frame as
    * events_autocorr.
    *
    * Scale shape: the corpus collapses to the (type, day) frame in ONE
    * partial agg; the lag is a type-partitioned calendar-bounded
    * window (never global); the argmax is ONE more partial agg via
    * min(struct(-|Δ|, day, …)) — lexicographic struct ordering encodes
    * "largest |Δ|, then earliest day" without any sort of the frame.
    * |Δ| ≤ daily count ≤ 10¹² — every field BIGINT-safe.
    */
  def eventsChangepoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
    Tables.events(s, dir)
      .groupBy(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_day", lag("day", 1).over(w))
      .withColumn("prev_n", lag("n", 1).over(w))
      .filter(col("prev_day") === col("day") - 1)
      .groupBy("event_type")
      .agg(min(struct(expr("-abs(n - prev_n)").as("neg"), col("day"),
        col("prev_n"), col("n"))).as("best"))
      .select(col("event_type"), col("best.day").as("day"),
        col("best.prev_n").as("before_n"), col("best.n").as("after_n"),
        expr("best.n - best.prev_n").as("delta"))
      .orderBy("event_type")
  }

  val eventsChangepointSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_us(ts) // $dayUs AS day, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2
       |), lagged AS (
       |  SELECT event_type, day, n,
       |    LAG(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day,
       |    LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
       |  FROM daily
       |), best AS (
       |  SELECT event_type, day, prev_n, n,
       |    ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY abs(n - prev_n) DESC, day) AS r
       |  FROM lagged WHERE prev_day = day - 1
       |)
       |SELECT event_type, day, prev_n AS before_n, n AS after_n,
       |  n - prev_n AS delta
       |FROM best WHERE r = 1 ORDER BY event_type""".stripMargin

  /** Seasonal-naive forecast skill score per event type: predict each
    * day's event count with the count from 7 days earlier (the
    * strongest trivial baseline for weekly-seasonal traffic) and report
    * the error mass — MAE and WAPE, both in ppm. This is the capacity-
    * planning / alerting-threshold calibration query: a type whose
    * WAPE is small is predictable enough for threshold alerts, a large
    * one needs anomaly scoring instead (events_anomaly). Only days with
    * an observed lag-7 partner are scored (observed-day frame, same
    * convention as events_autocorr — silence is not zero traffic).
    *
    * Scale shape: the corpus collapses to the calendar-bounded
    * (type, day) frame in ONE partial agg; the forecast pairing is a
    * co-partitioned self-equi-join on (type, day+7) over that frame;
    * the rollup is a types-bounded partial agg. Numeric bounds:
    * Σ|err| ≤ total event count, so the ppm numerator is accumulated
    * in DECIMAL(38,0) (10¹³ events × 10⁶ passes 2⁶³; BIGINT would wrap
    * where DuckDB's HUGEINT does not) and divides back to BIGINT ppm.
    */
  def eventsForecast(s: SparkSession, dir: String): DataFrame =
    eventsForecastFor(Tables.events(s, dir), dayUs, 7).orderBy("event_type")

  /** The events_forecast body over (event_type, ts_us): `bucketUs`
    * buckets, each predicted by the bucket `season` earlier; shared
    * with [[graft.api.EventOps.forecastSkill]].
    */
  private[graft] def eventsForecastFor(e: DataFrame, bucketUs: Long, season: Int): DataFrame = {
    val daily = e
      .groupBy(col("event_type"), expr(s"ts_us div $bucketUs").as("day"))
      .agg(count(lit(1)).as("n"))
    val pred = daily.select(col("event_type"), (col("day") + season).as("day"),
      col("n").as("n_pred"))
    daily.join(pred, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("n").as("sum_actual"),
        sum(expr("abs(n - n_pred)")).as("sum_abs_err"))
      .withColumn("mae_ppm", expr(
        "CAST(CAST(sum_abs_err AS DECIMAL(38,0)) * 1000000 div n_days AS BIGINT)"))
      .withColumn("wape_ppm", expr(
        "CAST(CAST(sum_abs_err AS DECIMAL(38,0)) * 1000000 div sum_actual AS BIGINT)"))
      .select("event_type", "n_days", "sum_actual", "sum_abs_err", "mae_ppm", "wape_ppm")
  }

  val eventsForecastSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_us(ts) // $dayUs AS day, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2
       |), scored AS (
       |  SELECT a.event_type, a.n, f.n AS n_pred
       |  FROM daily a JOIN daily f
       |    ON a.event_type = f.event_type AND f.day = a.day - 7
       |), m AS (
       |  SELECT event_type, COUNT(*) AS n_days,
       |    CAST(SUM(n) AS BIGINT) AS sum_actual,
       |    CAST(SUM(abs(n - n_pred)) AS BIGINT) AS sum_abs_err
       |  FROM scored GROUP BY 1
       |)
       |SELECT event_type, n_days, sum_actual, sum_abs_err,
       |  CAST(CAST(sum_abs_err AS HUGEINT) * 1000000 // n_days AS BIGINT) AS mae_ppm,
       |  CAST(CAST(sum_abs_err AS HUGEINT) * 1000000 // sum_actual AS BIGINT) AS wape_ppm
       |FROM m ORDER BY event_type""".stripMargin

  /** Top-3 highest-value events per (type, day) — the "biggest
    * transactions today" dashboard tile. The point at scale is the
    * PLAN: rank-then-filter compiles to a Partial → shuffle → Final
    * WindowGroupLimit (each map task keeps only its local top-3 per
    * group before the exchange), so the shuffle carries ≤ 3·\|groups\|
    * rows — never a per-group sort of the corpus. Ties break on
    * event_id for a total order.
    */
  def eventsDailyTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type", "day")
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, dir)
      .withColumn("day", expr(s"ts_us div $dayUs"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("event_type"), col("day"), col("rk").cast("long").as("rk"),
        col("event_id"), col("value"))
      .orderBy("event_type", "day", "rk")
  }

  val eventsDailyTopkSql: String =
    s"""SELECT event_type, day, CAST(rk AS BIGINT) AS rk, event_id, value FROM (
       |  SELECT event_type, epoch_us(ts) // $dayUs AS day, event_id, value,
       |    ROW_NUMBER() OVER (PARTITION BY event_type, epoch_us(ts) // $dayUs
       |      ORDER BY value DESC, event_id) AS rk
       |  FROM events) t
       |WHERE rk <= 3 ORDER BY event_type, day, rk""".stripMargin

  /** Time-to-convert distribution: for every user whose first purchase
    * follows their first signup, the signup→purchase gap in whole
    * days, as a histogram — the funnel-velocity readout next to
    * events_funnel's stage counts (how FAST do converters convert, not
    * just how many).
    *
    * Scale shape: first-signup is ONE filtered user partial agg; the
    * qualifying first purchase comes from a co-partitioned user
    * equi-join + one more partial agg (both shuffles on user_id, AQE
    * reuses the partitioning); the histogram is a gap-bounded final
    * agg. Integer epoch-day math throughout.
    */
  def eventsTtconvert(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_us").as("su_ts"))
    ev.filter(col("event_type") === "purchase")
      .join(signup, Seq("user_id"))
      .filter(col("ts_us") > col("su_ts"))
      .groupBy("user_id")
      .agg(min("ts_us").as("pu_ts"), max("su_ts").as("su_ts"))
      .groupBy(expr(s"pu_ts div $dayUs - su_ts div $dayUs").as("gap_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("gap_days")
  }

  val eventsTtconvertSql: String =
    s"""WITH signup AS (
       |  SELECT user_id, MIN(epoch_us(ts)) AS su_ts
       |  FROM events WHERE event_type = 'signup' GROUP BY 1
       |), conv AS (
       |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS pu_ts, MAX(s.su_ts) AS su_ts
       |  FROM events e JOIN signup s ON e.user_id = s.user_id
       |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.su_ts
       |  GROUP BY 1
       |)
       |SELECT pu_ts // $dayUs - su_ts // $dayUs AS gap_days,
       |  COUNT(*) AS n_users
       |FROM conv GROUP BY 1 ORDER BY 1""".stripMargin

  /** Rolling-baseline anomaly gate: per (type, day), is today's count
    * more than 2σ from the TRAILING 7-day window (previous 7 days,
    * current day excluded)? The production alerting shape —
    * events_anomaly's global z-score can't see a Tuesday spike on a
    * series with weekday seasonality; a trailing local baseline can.
    *
    * Scale shape: corpus → calendar-bounded (type, day) frame in ONE
    * partial agg; the axis is gap-filled from the AGGREGATED frame
    * (events_gap_fill's rule — silent days are real zeros, not missing
    * rows, or the window math lies); both rolling sums are
    * type-partitioned ROWS-frame windows over the dense axis — bounded
    * by the calendar, never the corpus. The 2σ predicate cross-
    * multiplies in wide integers ((7c−Σ)² > 4(7Σx²−Σ²) — the σ and μ
    * denominators cancel), DECIMAL(38,0) on Spark / HUGEINT on DuckDB
    * (the events_srm convention): no float anywhere, Σx² safe past
    * 10⁹-event days.
    */
  def eventsRollingAnomaly(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(s, dir)
      .withColumn("day", expr(s"ts_us div $dayUs"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
    val axis = counts.groupBy("event_type")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
    val dense = axis.join(counts, Seq("event_type", "day"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    dense
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("win_sum", sum("n_events").over(w))
      .withColumn("win_sumsq",
        sum(expr("CAST(n_events AS DECIMAL(38,0)) * n_events")).over(w))
      .filter(col("win_n") === 7)
      .withColumn("dev", expr("7 * n_events - win_sum"))
      .withColumn("is_anomaly", expr(
        """CAST(CASE WHEN CAST(dev AS DECIMAL(38,0)) * dev >
          |  4 * (7 * win_sumsq - CAST(win_sum AS DECIMAL(38,0)) * win_sum)
          |  THEN 1 ELSE 0 END AS BIGINT)""".stripMargin))
      .select("event_type", "day", "n_events", "win_sum", "is_anomaly")
      .orderBy("event_type", "day")
  }

  val eventsRollingAnomalySql: String =
    s"""WITH c AS (
       |  SELECT event_type, epoch_us(ts) // $dayUs AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1, 2
       |), b AS (
       |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM c GROUP BY 1
       |), axis AS (
       |  SELECT event_type, UNNEST(generate_series(d0, d1)) AS day FROM b
       |), dense AS (
       |  SELECT axis.event_type, axis.day, COALESCE(c.n_events, 0) AS n_events
       |  FROM axis LEFT JOIN c ON axis.event_type = c.event_type AND axis.day = c.day
       |), wf AS (
       |  SELECT event_type, day, n_events,
       |    COUNT(*) OVER w AS win_n,
       |    CAST(SUM(n_events) OVER w AS BIGINT) AS win_sum,
       |    SUM(CAST(n_events AS HUGEINT) * n_events) OVER w AS win_sumsq
       |  FROM dense
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
       |)
       |SELECT event_type, day, n_events, win_sum,
       |  CAST(CASE WHEN CAST(7 * n_events - win_sum AS HUGEINT) * (7 * n_events - win_sum) >
       |    4 * (7 * win_sumsq - CAST(win_sum AS HUGEINT) * win_sum)
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
       |FROM wf WHERE win_n = 7 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_rolling_anomaly" -> (eventsRollingAnomaly _),
    "events_daily_topk" -> (eventsDailyTopk _),
    "events_ttconvert" -> (eventsTtconvert _),
    "events_forecast" -> (eventsForecast _),
    "events_changepoint" -> (eventsChangepoint _),
    "events_seasonality" -> (eventsSeasonality _),
    "events_value_pareto" -> (eventsValuePareto _),
    "events_dwell" -> (eventsDwell _),
    "events_decay" -> (eventsDecay _),
    "events_gap_fill" -> (eventsGapFill _),
    "events_hop_window" -> (eventsHopWindow _),
    "events_markov" -> (eventsMarkov _),
    "events_median_exact" -> (eventsMedianExact _),
    "events_activity_hist" -> (eventsActivityHist _),
    "events_streaks" -> (eventsStreaks _),
    "events_type_overlap" -> (eventsTypeOverlap _)
  )

  val oracles: Map[String, String] = Map(
    "events_rolling_anomaly" -> eventsRollingAnomalySql,
    "events_daily_topk" -> eventsDailyTopkSql,
    "events_ttconvert" -> eventsTtconvertSql,
    "events_forecast" -> eventsForecastSql,
    "events_changepoint" -> eventsChangepointSql,
    "events_seasonality" -> eventsSeasonalitySql,
    "events_value_pareto" -> eventsValueParetoSql,
    "events_dwell" -> eventsDwellSql,
    "events_decay" -> eventsDecaySql,
    "events_gap_fill" -> eventsGapFillSql,
    "events_hop_window" -> eventsHopWindowSql,
    "events_markov" -> eventsMarkovSql,
    "events_median_exact" -> eventsMedianExactSql,
    "events_activity_hist" -> eventsActivityHistSql,
    "events_streaks" -> eventsStreaksSql,
    "events_type_overlap" -> eventsTypeOverlapSql
  )
}
