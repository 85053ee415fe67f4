package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AnalyticsMore, AnalyticsPlus, EventsMore}

/** Event-series analytics as library entry points over ANY frame —
  * the parameterized twins of the fixed-table contract queries in
  * [[graft.operators.EventsMore]] / [[graft.operators.AnalyticsMore]] /
  * [[graft.operators.AnalyticsPlus]]. Each twin renames the caller's
  * columns to the contract key's, runs the key's own body (the
  * `…For(frame, params)` beside the key) and renames the outputs back,
  * so the api computes exactly what the oracle checks.
  */
object EventOps {

  /** `df` narrowed to the body's input columns: (caller's column →
    * body's name). With [[out]], shared by the [[CorpusOps]] twins.
    */
  private[api] def in(df: DataFrame, cols: (String, String)*): DataFrame =
    df.select(cols.map { case (c, name) => col(c).as(name) }: _*)

  /** `df` with (name → new name) renamed, every other column kept in place. */
  private[api] def out(df: DataFrame, names: (String, String)*): DataFrame = {
    val m = names.toMap
    df.select(df.columns.map(c => col(c).as(m.getOrElse(c, c))): _*)
  }

  /** Exponentially decayed score per key with a one-`unitUs` half-life
    * as of `anchorUs`: exact powers-of-two weights on exact cents,
    * two-level integer aggregation, one IEEE division at output
    * (events_decay's body, [[EventsMore.eventsDecayFor]]).
    */
  def decayScore(df: DataFrame, keyCol: String, tsUsCol: String, valueCol: String,
      anchorUs: Long, unitUs: Long = 86400L * 1000000, maxAge: Int = 30): DataFrame =
    out(EventsMore.eventsDecayFor(
      in(df, keyCol -> "user_id", tsUsCol -> "ts_us", valueCol -> "value"),
      anchorUs, unitUs, maxAge), "user_id" -> keyCol)

  /** Dense per-group time series: every bucket in [min, max] of each
    * group's own range appears, silent buckets as zero
    * (events_gap_fill's body, [[EventsMore.eventsGapFillFor]]).
    */
  def gapFill(df: DataFrame, groupCol: String, tsUsCol: String,
      bucketUs: Long = 3600000000L): DataFrame =
    out(EventsMore.eventsGapFillFor(
      in(df, groupCol -> "event_type", tsUsCol -> "ts_us"), bucketUs),
      "event_type" -> groupCol, "hour_bucket" -> "bucket", "n_events" -> "n")

  /** Hopping-window counts: `width = hops × hopUs` windows advancing
    * every `hopUs`, per group (events_hop_window's body without its
    * value sum, [[EventsMore.eventsHopWindowFor]]).
    */
  def hopWindow(df: DataFrame, groupCol: String, tsUsCol: String,
      hopUs: Long = 900000000L, hops: Int = 4): DataFrame =
    out(EventsMore.eventsHopWindowFor(
      in(df, groupCol -> "event_type", tsUsCol -> "ts_us"), hopUs, hops),
      "event_type" -> groupCol)

  /** First-order Markov transition counts over each key's stream in
    * (ts, tiebreak) order; first events transition from `startState`
    * (events_markov's body, [[EventsMore.eventsMarkovFor]]).
    */
  def markovTransitions(df: DataFrame, keyCol: String, stateCol: String,
      tsUsCol: String, tieCol: String, startState: String = "<start>"): DataFrame =
    out(EventsMore.eventsMarkovFor(
      in(df, keyCol -> "user_id", stateCol -> "event_type", tsUsCol -> "ts_us",
        tieCol -> "event_id"), startState),
      "from_type" -> "from_state", "to_type" -> "to_state")

  /** Inter-event dwell-time histogram: gaps between a key's
    * consecutive events, log2-bucketed by `gap div unitUs` units
    * (bucket −1 = zero-unit bursts; events_dwell's body,
    * [[EventsMore.eventsDwellFor]]).
    */
  def dwellHistogram(df: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, unitUs: Long = 1000000L): DataFrame =
    out(EventsMore.eventsDwellFor(
      in(df, keyCol -> "user_id", tsUsCol -> "ts_us", tieCol -> "event_id"), unitUs),
      "sum_gap_s" -> "sum_gap_units")

  /** Cohort retention triangle: keys bucketed by first-seen period,
    * counted in each later period they appear
    * (events_cohort_matrix's body, [[AnalyticsPlus.eventsCohortMatrixFor]]).
    */
  def cohortMatrix(df: DataFrame, keyCol: String, tsUsCol: String,
      periodUs: Long = 86400L * 1000000): DataFrame =
    out(AnalyticsPlus.eventsCohortMatrixFor(
      in(df, keyCol -> "user_id", tsUsCol -> "ts_us"), periodUs),
      "cohort_day" -> "cohort_period", "age_days" -> "age")

  /** Inter-arrival burstiness per group: the Goh–Barabási index
    * (σ−μ)/(σ+μ) and CV over within-key gaps in `unitUs` units, the
    * squared moment in DECIMAL(38,0) (events_burstiness's body,
    * [[AnalyticsMore.eventsBurstinessFor]]).
    */
  def burstiness(df: DataFrame, groupCol: String, keyCol: String,
      tsUsCol: String, tieCol: String, unitUs: Long = 60000000L): DataFrame =
    out(AnalyticsMore.eventsBurstinessFor(
      in(df, groupCol -> "event_type", keyCol -> "user_id", tsUsCol -> "ts_us",
        tieCol -> "event_id"), unitUs),
      "event_type" -> groupCol, "mean_gap_min" -> "mean_gap_units")

  /** Behavioural-diversity histogram: Shannon entropy of each key's
    * category distribution, floor-quantized per cell, binned by
    * `binPpm` (events_entropy's body, [[AnalyticsMore.eventsEntropyFor]]).
    */
  def entropyHistogram(df: DataFrame, keyCol: String, categoryCol: String,
      binPpm: Long = 250000L): DataFrame =
    out(AnalyticsMore.eventsEntropyFor(
      in(df, keyCol -> "user_id", categoryCol -> "event_type"), binPpm),
      "n_users" -> "n_keys")

  /** Herfindahl–Hirschman concentration of `weightCol` (exact BIGINT
    * units) across members of each group: weights sum per (group,
    * member), then supplier_hhi's body ([[AnalyticsMore.supplierHhiFor]])
    * floors shares once to ppm.
    */
  def concentration(df: DataFrame, groupCol: String, memberCol: String,
      weightCol: String): DataFrame =
    out(AnalyticsMore.supplierHhiFor(
      df.groupBy(col(groupCol).as("n_name"), col(memberCol)).agg(sum(weightCol).as("rev_u"))),
      "n_name" -> groupCol, "n_suppliers" -> "n_members")

  /** Seasonal-naive forecast skill per group: each bucket's count
    * predicted by the count `season` buckets earlier, MAE + WAPE in ppm
    * (events_forecast's body, [[EventsMore.eventsForecastFor]]).
    */
  def forecastSkill(df: DataFrame, groupCol: String, tsUsCol: String,
      bucketUs: Long = 86400L * 1000000, season: Int = 7): DataFrame =
    out(EventsMore.eventsForecastFor(
      in(df, groupCol -> "event_type", tsUsCol -> "ts_us"), bucketUs, season),
      "event_type" -> groupCol, "n_days" -> "n_buckets")

  /** Open/close sweep line: per day, how many `opens` rows started, how
    * many `closes` rows finished, and the running count still open
    * (orders_backlog's body, [[AnalyticsPlus.ordersBacklogFor]]).
    */
  def backlogSweep(opens: DataFrame, closes: DataFrame, dayCol: String): DataFrame =
    AnalyticsPlus.ordersBacklogFor(in(opens, dayCol -> "day"), in(closes, dayCol -> "day"))
}
