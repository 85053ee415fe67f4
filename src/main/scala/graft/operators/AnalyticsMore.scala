package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Second-order analytics over the star schema and the event stream:
  * market-basket affinity, daily-series autocorrelation, the full CUBE
  * lattice, and a robust (median/MAD) outlier gate.
  *
  * Reference scope: rehiver (TimMikeladze/rehiver, src/index.ts) serves
  * partitioned lake data to exactly these downstream consumers; the
  * operators here are the next ring of queries an analytics stack runs
  * on what it serves, in shapes that survive a 100 TB fact table.
  *
  * Scale shapes: the basket self-join is equi-keyed on the order and
  * its fanout is bounded by basket size squared (≤13 lines/order in
  * TPC-H, a constant); the autocorrelation join lives on the
  * day×type frame (calendar-bounded, not data-bounded); the CUBE
  * expands BEFORE the partial aggregate so the shuffle carries lattice
  * partials, never the fact rows; the MAD pass pays two type-
  * partitioned sorts — the documented price of exact order statistics
  * (the events_median_exact audit-path contract).
  */
object AnalyticsMore {

  private val DayUs = 86400L * 1000000

  /** Market-basket brand affinity: for every unordered pair of part
    * brands co-purchased in one order, the co-occurrence count, each
    * brand's order reach, support and lift. The classic association
    * signal (lift > 1 = brands bought together more than chance).
    *
    * Scale shape: lineitem joins the broadcast part projection, then
    * collapses to the distinct (order, brand) grid — the pair self-join
    * is equi-keyed on the order and fans out at most |basket|² ≈ 13²
    * rows per order, a constant multiple of the fact scan, never n².
    * The aggregate lands on the |brands|²-bounded pair frame; per-brand
    * reach and the ONE-ROW order total attach as broadcasts (the q22
    * idiom). Lift's cross term n_co·n_orders can pass 2⁶³ at 100 TB, so
    * it is evaluated in IEEE doubles (identical op order on both
    * engines) and floor-quantized once to ppm.
    */
  def ordersBasketPairs(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
    val ob = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
      .distinct()
    val totals = ob.agg(countDistinct("okey").as("n_orders"))
    val brandN = ob.groupBy("brand").agg(count(lit(1)).as("n_brand"))
    ob.join(ob.select(col("okey"), col("brand").as("brand_b")), Seq("okey"))
      .filter(col("brand") < col("brand_b"))
      .groupBy(col("brand").as("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("n_co"))
      .join(broadcast(brandN.select(col("brand").as("brand_a"), col("n_brand").as("n_a"))),
        Seq("brand_a"))
      .join(broadcast(brandN.select(col("brand").as("brand_b"), col("n_brand").as("n_b"))),
        Seq("brand_b"))
      .crossJoin(broadcast(totals))
      .withColumn("support_ppm", expr("n_co * 1000000 div n_orders"))
      .withColumn("lift_ppm", expr(
        "CAST(floor(CAST(n_co AS DOUBLE) * CAST(n_orders AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1000000) AS BIGINT)"))
      .select("brand_a", "brand_b", "n_co", "n_a", "n_b", "support_ppm", "lift_ppm")
      .orderBy("brand_a", "brand_b")
  }

  val ordersBasketPairsSql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), totals AS (
      |  SELECT COUNT(DISTINCT okey) AS n_orders FROM ob
      |), brandn AS (
      |  SELECT brand, COUNT(*) AS n_brand FROM ob GROUP BY 1
      |), pairs AS (
      |  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_co
      |  FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      |  GROUP BY 1, 2
      |)
      |SELECT brand_a, brand_b, n_co, na.n_brand AS n_a, nb.n_brand AS n_b,
      |  n_co * 1000000 // n_orders AS support_ppm,
      |  CAST(floor(CAST(n_co AS DOUBLE) * CAST(n_orders AS DOUBLE)
      |    / (CAST(na.n_brand AS DOUBLE) * CAST(nb.n_brand AS DOUBLE)) * 1000000) AS BIGINT) AS lift_ppm
      |FROM pairs
      |JOIN brandn na ON pairs.brand_a = na.brand
      |JOIN brandn nb ON pairs.brand_b = nb.brand
      |CROSS JOIN totals
      |ORDER BY brand_a, brand_b""".stripMargin

  /** Daily-count autocorrelation per event type at lags 1 and 7 — the
    * "is this series weekly-periodic" probe behind seasonality-aware
    * anomaly baselines (a high lag-7 r on traffic means Monday predicts
    * Monday). Pearson r over (count(d), count(d+lag)) pairs on observed
    * days.
    *
    * Scale shape: the raw stream collapses to the (type, day) frame in
    * ONE partial agg; the lag pairing is a self-equi-join on
    * (type, day+lag) over that calendar-bounded frame; linear moments
    * stay exact BIGINT (Σn ≤ 3.65×10¹¹ at 10⁹-event days × 365 days,
    * 2.5×10⁷× under 2⁶³) while the SQUARED moments accumulate in
    * DECIMAL(38,0): Σn² reaches 3.65×10²⁰ at the same design point —
    * 40× past 2⁶³, where a BIGINT sum wraps silently (DuckDB promotes
    * to int128, so the engines would diverge without the widening).
    * That is also why no raw cross-moment appears in the OUTPUT: sxy's
    * true value is not BIGINT-representable at scale, so the contract
    * carries the linear sums and r_ppm only. The Pearson quotient runs
    * in IEEE doubles with an identical op order on both engines, and is
    * floor-quantized once to ppm; a zero-variance series yields NULL,
    * not a NaN cast.
    */
  def eventsAutocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr(s"ts_us div $DayUs").as("day"))
      .agg(count(lit(1)).as("n"))
    val paired = Seq(1, 7).map { lag =>
      daily.join(
          daily.select(col("event_type"), (col("day") - lag).as("day"), col("n").as("n_lead")),
          Seq("event_type", "day"))
        .withColumn("lag", lit(lag.toLong))
    }.reduce(_ unionByName _)
    paired.groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum("n").as("sx"), sum("n_lead").as("sy"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * n_lead")).as("sxy"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * n")).as("sxx"),
        sum(expr("CAST(n_lead AS DECIMAL(38,0)) * n_lead")).as("syy"))
      .withColumn("r_ppm", expr(
        """CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
          |       OR CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0
          |  THEN NULL
          |  ELSE CAST(floor(
          |    (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |    / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |         * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          |    * 1000000) AS BIGINT) END""".stripMargin))
      .select("event_type", "lag", "n_pairs", "sx", "sy", "r_ppm")
      .orderBy("event_type", "lag")
  }

  val eventsAutocorrSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_us(ts) // $DayUs AS day, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2
       |), paired AS (
       |  SELECT a.event_type, CAST(1 AS BIGINT) AS lag, a.n, b.n AS n_lead
       |  FROM daily a JOIN daily b ON a.event_type = b.event_type AND b.day = a.day + 1
       |  UNION ALL
       |  SELECT a.event_type, CAST(7 AS BIGINT) AS lag, a.n, b.n AS n_lead
       |  FROM daily a JOIN daily b ON a.event_type = b.event_type AND b.day = a.day + 7
       |), m AS (
       |  SELECT event_type, lag, COUNT(*) AS n_pairs,
       |    CAST(SUM(n) AS BIGINT) AS sx, CAST(SUM(n_lead) AS BIGINT) AS sy,
       |    SUM(CAST(n AS HUGEINT) * n_lead) AS sxy,
       |    SUM(CAST(n AS HUGEINT) * n) AS sxx,
       |    SUM(CAST(n_lead AS HUGEINT) * n_lead) AS syy
       |  FROM paired GROUP BY 1, 2
       |)
       |SELECT event_type, lag, n_pairs, sx, sy,
       |  CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
       |         OR CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0
       |    THEN NULL
       |    ELSE CAST(floor(
       |      (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |           * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |      * 1000000) AS BIGINT) END AS r_ppm
       |FROM m ORDER BY event_type, lag""".stripMargin

  /** Traffic/value CUBE over (event_type, day-of-week): all four
    * lattice levels — per cell, per type, per dow, grand total — in ONE
    * fact pass. The q_rollup contract extended to the full CUBE: Spark
    * Expands the lattice BEFORE the partial aggregate, so the shuffle
    * carries one partial row per (group, level) — 4× the cell
    * cardinality (≤ 4·|types|·7 rows), never 4 scans. dow uses the
    * events_seasonality convention: (epoch_days + 4) % 7, Sunday = 0.
    */
  def eventsCube(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .withColumn("dow", expr(s"CAST((ts_us div $DayUs + 4) % 7 AS INT)"))
      .cube(col("event_type"), col("dow"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("dow"), lit(-1)).as("dow"),
        col("gid"), col("n_events"), col("sum_cents"))
      .orderBy("gid", "event_type", "dow")
  }

  val eventsCubeSql: String =
    s"""SELECT COALESCE(event_type, 'ALL') AS event_type,
       |  COALESCE(dow, -1) AS dow,
       |  CAST(GROUPING(event_type, dow) AS BIGINT) AS gid,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(cents) AS BIGINT) AS sum_cents
       |FROM (
       |  SELECT event_type,
       |    CAST((epoch_us(ts) // $DayUs + 4) % 7 AS INTEGER) AS dow,
       |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
       |  FROM events) t
       |GROUP BY CUBE (event_type, dow)
       |ORDER BY gid, event_type, dow""".stripMargin

  /** Robust outlier gate per event type: exact lower median of the
    * value, exact MAD (median absolute deviation), and the count of
    * events beyond 3·MAD — the outlier rule that, unlike
    * events_anomaly's z-score, a few extreme values cannot drag (the
    * median and MAD are insensitive to the tail they're gating).
    *
    * Scale shape: two type-partitioned sort windows (value rank, then
    * deviation rank) — the documented price of EXACT order statistics,
    * same contract as events_median_exact, the audit path for the
    * sketch_quantile estimates you'd run at full scale. Both medians
    * ride back onto the stream as type-cardinality broadcasts; ties
    * break on (value, event_id) so both engines pick the identical row.
    * Integer cents end to end; the 3·MAD threshold compares in BIGINT.
    */
  def eventsMad(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("cents"))
    val all = Window.partitionBy("event_type")
    val byVal = Window.partitionBy("event_type").orderBy("cents", "event_id")
    val med = ev.withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(all))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("cents").as("med_cents"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("cents") - col("med_cents")))
    val byDev = Window.partitionBy("event_type").orderBy("dev", "event_id")
    val mad = dev.withColumn("rn", row_number().over(byDev))
      .withColumn("n", count(lit(1)).over(all))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("dev").as("mad_cents"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        max("med_cents").as("med_cents"),
        max("mad_cents").as("mad_cents"),
        sum(when(col("dev") > col("mad_cents") * 3, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  val eventsMadSql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events
      |), med AS (
      |  SELECT event_type, cents AS med_cents FROM (
      |    SELECT event_type, cents,
      |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM ev) t WHERE rn = (n + 1) // 2
      |), dv AS (
      |  SELECT ev.event_type, ev.event_id, med_cents,
      |    abs(ev.cents - med_cents) AS dev
      |  FROM ev JOIN med USING (event_type)
      |), mad AS (
      |  SELECT event_type, dev AS mad_cents FROM (
      |    SELECT event_type, dev, event_id,
      |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM dv) t WHERE rn = (n + 1) // 2
      |)
      |SELECT event_type, COUNT(*) AS n_events,
      |  MAX(med_cents) AS med_cents, MAX(mad_cents) AS mad_cents,
      |  CAST(SUM(CASE WHEN dev > mad_cents * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dv JOIN mad USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Inter-arrival burstiness per event type: the Goh–Barabási index
    * B = (σ−μ)/(σ+μ) over within-user gap minutes, plus the coefficient
    * of variation. B → −1 is a metronome (bot cadence), B ≈ 0 is
    * Poisson, B → +1 is bursty human traffic — the standard
    * temporal-fingerprint gate next to events_dwell's histogram.
    *
    * Scale shape: ONE (type, user)-keyed shuffle + in-partition sort
    * for the lag (events_dwell's shape), then a partial agg onto the
    * |types|-bounded moment frame (n, Σx, Σx²). Σx stays exact BIGINT
    * by a telescoping bound — each user's gaps sum to at most the
    * observation window, so Σx ≤ 10⁹ users × 5×10⁵ min ≈ 5×10¹⁴ —
    * but no such bound exists for Σx²: Σx² ≤ max_gap·Σx ≈ 2.5×10²⁰
    * at the same design point, 27× past 2⁶³, so the squared moment
    * accumulates in DECIMAL(38,0) (matching DuckDB's int128
    * promotion; the streaming twin's incremental state stays LONG —
    * its per-restart micro-batch volumes sit far below the wrap
    * point). The quotient runs once per
    * type in IEEE doubles with identical op order on both engines —
    * σ/μ = √(nΣx²−(Σx)²)/Σx after the 1/n cancels — then
    * floor-quantizes to ppm.
    */
  def eventsBurstiness(s: SparkSession, dir: String): DataFrame =
    eventsBurstinessFor(Tables.events(s, dir), 60000000L)

  /** The events_burstiness body over (event_type, user_id, ts_us,
    * event_id), gaps in `unitUs` units (`gap_min` names the key's
    * one-minute unit); shared with [[graft.api.EventOps.burstiness]].
    */
  private[graft] def eventsBurstinessFor(e: DataFrame, unitUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type", "user_id").orderBy("ts_us", "event_id")
    val moments = e
      .withColumn("prev_us", lag("ts_us", 1).over(w))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_min", expr(s"(ts_us - prev_us) div $unitUs"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap_min").as("s1"),
        sum(expr("CAST(gap_min AS DECIMAL(38,0)) * gap_min")).as("s2"))
    burstinessStats(moments)
  }

  /** the moment frame → (CV, burstiness) tail, shared by the batch
    * operator and the streaming twin's equivalence check — the
    * quotients are a pure function of the (n, Σx, Σx²) BIGINTs, so any
    * path that accumulates the same integer moments (batch lag window,
    * streamed per-gap rows) lands on identical output.
    */
  private[graft] def burstinessStats(moments: DataFrame): DataFrame =
    moments
      .withColumn("sd_n", expr(
        "sqrt(greatest(CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0))"))
      .withColumn("mean_gap_min", expr("s1 div n_gaps"))
      .withColumn("cv_ppm", expr(
        "CASE WHEN s1 > 0 THEN CAST(floor(sd_n / CAST(s1 AS DOUBLE) * 1000000) AS BIGINT) ELSE NULL END"))
      .withColumn("burst_ppm", expr(
        "CASE WHEN s1 > 0 THEN CAST(floor((sd_n - CAST(s1 AS DOUBLE)) / (sd_n + CAST(s1 AS DOUBLE)) * 1000000) AS BIGINT) ELSE NULL END"))
      .select("event_type", "n_gaps", "mean_gap_min", "cv_ppm", "burst_ppm")
      .orderBy("event_type")

  val eventsBurstinessSql: String =
    """WITH gaps AS (
      |  SELECT event_type, (ts_us - prev_us) // 60000000 AS gap_min FROM (
      |    SELECT event_type, epoch_us(ts) AS ts_us,
      |      LAG(epoch_us(ts)) OVER (PARTITION BY event_type, user_id
      |        ORDER BY epoch_us(ts), event_id) AS prev_us
      |    FROM events) t
      |  WHERE prev_us IS NOT NULL
      |), m AS (
      |  SELECT event_type, COUNT(*) AS n_gaps,
      |    CAST(SUM(gap_min) AS BIGINT) AS s1,
      |    SUM(CAST(gap_min AS HUGEINT) * gap_min) AS s2
      |  FROM gaps GROUP BY 1
      |), sd AS (
      |  SELECT event_type, n_gaps, s1, s2,
      |    sqrt(greatest(CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0)) AS sd_n
      |  FROM m
      |)
      |SELECT event_type, n_gaps, s1 // n_gaps AS mean_gap_min,
      |  CASE WHEN s1 > 0 THEN CAST(floor(sd_n / CAST(s1 AS DOUBLE) * 1000000) AS BIGINT)
      |       ELSE NULL END AS cv_ppm,
      |  CASE WHEN s1 > 0 THEN CAST(floor((sd_n - CAST(s1 AS DOUBLE))
      |         / (sd_n + CAST(s1 AS DOUBLE)) * 1000000) AS BIGINT)
      |       ELSE NULL END AS burst_ppm
      |FROM sd ORDER BY 1""".stripMargin

  /** Behavioural-diversity histogram: Shannon entropy of each user's
    * event-type distribution, binned to quarter-bits — the audience
    * segmentation between single-purpose users (H≈0) and full-surface
    * users (H≈log2|types|). Bot farms show up as mass at exactly one
    * bin; the histogram is the monitor.
    *
    * Scale shape: the corpus collapses to the (user, type) grid in ONE
    * partial agg, then to user-cardinality rows, then to the ≤14-bin
    * histogram — no windows, no sort. Determinism: per-cell terms
    * floor-quantize c·log2(c) to ppm BIGINTs FIRST, so the per-user sum
    * is integer (order-free under shuffle); H_ppm = floor(log2(n)·10⁶)
    * − T div n is then pure integer arithmetic (provably ≥ 0: floor(ny)
    * div n ≤ floor(y)). The only cross-engine float surface is log2 of
    * a bare integer — identical-input single calls, no accumulation.
    */
  def eventsEntropy(s: SparkSession, dir: String): DataFrame =
    eventsEntropyFor(Tables.events(s, dir), 250000L)

  /** The events_entropy body over (user_id, event_type), entropies
    * binned by `binPpm`; shared with [[graft.api.EventOps.entropyHistogram]].
    */
  private[graft] def eventsEntropyFor(e: DataFrame, binPpm: Long): DataFrame =
    entropyHistogram(e.groupBy("user_id", "event_type").agg(count(lit(1)).as("c")), binPpm)

  /** the (user, type, c) grid → entropy-histogram tail, shared by the
    * batch operator and the streaming twin's equivalence check: H is a
    * pure function of the per-user count multiset, and the twin's
    * last-write-wins (user, type) count upserts rebuild exactly this
    * grid — so both paths land on the identical histogram, with every
    * log2 evaluated by the same engine expression.
    */
  private[graft] def entropyHistogram(grid: DataFrame, binPpm: Long = 250000L): DataFrame =
    grid
      .withColumn("term", expr("CAST(floor(log2(c) * c * 1000000) AS BIGINT)"))
      .groupBy("user_id")
      .agg(sum("c").as("n"), sum("term").as("t"))
      .withColumn("h_ppm", expr("CAST(floor(log2(n) * 1000000) AS BIGINT) - t div n"))
      .groupBy(expr(s"h_ppm div $binPpm").as("ent_bin"))
      .agg(count(lit(1)).as("n_users"), sum("h_ppm").as("sum_h_ppm"))
      .orderBy("ent_bin")

  val eventsEntropySql: String =
    """WITH grid AS (
      |  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
      |), u AS (
      |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(CAST(floor(log2(c) * c * 1000000) AS BIGINT)) AS BIGINT) AS t
      |  FROM grid GROUP BY 1
      |), h AS (
      |  SELECT user_id,
      |    CAST(floor(log2(n) * 1000000) AS BIGINT) - t // n AS h_ppm
      |  FROM u
      |)
      |SELECT h_ppm // 250000 AS ent_bin, COUNT(*) AS n_users,
      |  CAST(SUM(h_ppm) AS BIGINT) AS sum_h_ppm
      |FROM h GROUP BY 1 ORDER BY 1""".stripMargin

  /** Supply-chain concentration: the Herfindahl–Hirschman index of
    * supplier revenue share within each nation, plus the top supplier's
    * share — the antitrust-style single-point-of-failure audit (HHI
    * above ~0.25 = a nation's supply hangs on one or two suppliers).
    *
    * Scale shape: ONE fact shuffle — lineitem partial-aggregates to the
    * supplier revenue frame map-side; everything after is
    * supplier-cardinality with broadcast dimension joins, and nation
    * totals re-attach by the q22 broadcast idiom. Determinism is
    * scale-FREE: revenue stays exact DECIMAL→BIGINT 10⁻⁴-dollar units,
    * each share floors once to ppm (one IEEE division of exact
    * integers), and because shares sum to ≤10⁶ per nation,
    * Σ share_ppm² ≤ 10¹² — the HHI sum can never overflow BIGINT at
    * any corpus size.
    */
  def supplierHhi(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy("l_suppkey")
      .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT)").as("rev_u"))
    val sup = rev
      .join(broadcast(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("rev_u"))
    supplierHhiFor(sup).orderBy("n_name")
  }

  /** The supplier_hhi body over one (n_name, rev_u) row per member:
    * member count, top share and HHI per n_name; shared with
    * [[graft.api.EventOps.concentration]].
    */
  private[graft] def supplierHhiFor(sup: DataFrame): DataFrame = {
    val totals = sup.groupBy("n_name").agg(sum("rev_u").as("total_u"))
    sup.join(broadcast(totals), Seq("n_name"))
      .withColumn("share_ppm", expr(
        "CAST(floor(CAST(rev_u AS DOUBLE) / CAST(total_u AS DOUBLE) * 1000000) AS BIGINT)"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        max("share_ppm").as("top_share_ppm"),
        expr("SUM(share_ppm * share_ppm) div 1000000").as("hhi_ppm"))
  }

  val supplierHhiSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS rev_u
      |  FROM lineitem GROUP BY 1
      |), sup AS (
      |  SELECT n_name, rev_u
      |  FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |), tot AS (
      |  SELECT n_name, CAST(SUM(rev_u) AS BIGINT) AS total_u FROM sup GROUP BY 1
      |), shares AS (
      |  SELECT s.n_name,
      |    CAST(floor(CAST(rev_u AS DOUBLE) / CAST(total_u AS DOUBLE) * 1000000) AS BIGINT) AS share_ppm
      |  FROM sup s JOIN tot t ON s.n_name = t.n_name
      |)
      |SELECT n_name, COUNT(*) AS n_suppliers, MAX(share_ppm) AS top_share_ppm,
      |  CAST(SUM(share_ppm * share_ppm) AS BIGINT) // 1000000 AS hhi_ppm
      |FROM shares GROUP BY 1 ORDER BY 1""".stripMargin

  /** ABC (Pareto-band) inventory classification of parts by revenue:
    * rank every part by revenue descending, sweep the cumulative
    * revenue share, and band A = parts inside the first 80% of
    * revenue, B = 80–95%, C = the tail — the classic "20% of SKUs are
    * 80% of the business" cut that decides which parts get premium
    * treatment. Output is the 3-row class summary (count, revenue,
    * share, rank range).
    *
    * Scale shape: ONE fact shuffle (lineitem → part revenue frame,
    * map-side partials), then [[Ranks.distributedRankSum]] — the
    * part frame is DATA-sized (10⁸ parts), so the rank AND the
    * cumulative-revenue sweep both run as the two-level
    * range-partitioned pass, never a global-order window. The grand
    * total re-attaches via the one-row broadcast idiom.
    *
    * Overflow bounds: revenue stays exact 10⁻⁴-dollar BIGINTs
    * (supplier_hhi's idiom); the cumulative sweep accumulates
    * DECIMAL(38,0) (at 10¹² lineitems the grand total ≈ 3×10¹⁶ u is
    * BIGINT-safe, but cum·100 for the band test would wrap, so the
    * comparison runs in DECIMAL).
    */
  def ordersAbc(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT)").as("rev_u"))
    val swept = Ranks.distributedRankSum(rev, "rnk", "rev_u", "cum_u",
      col("rev_u").desc, col("l_partkey").asc)
    // grand total off the SWEPT (already-materialized) frame — reading
    // it from `rev` would re-scan lineitem and re-run the fact agg
    val totals = swept.agg(sum("rev_u").as("total_u"))
    swept.crossJoin(broadcast(totals))
      .withColumn("abc_class", expr(
        """CASE WHEN cum_u * 100 <= CAST(total_u AS DECIMAL(38,0)) * 80 THEN 'A'
          |     WHEN cum_u * 100 <= CAST(total_u AS DECIMAL(38,0)) * 95 THEN 'B'
          |     ELSE 'C' END""".stripMargin))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum("rev_u").as("class_rev_u"),
        min("rnk").as("min_rank"), max("rnk").as("max_rank"))
      .crossJoin(broadcast(totals))
      .withColumn("rev_share_ppm", expr(
        "CAST(floor(CAST(class_rev_u AS DOUBLE) / CAST(total_u AS DOUBLE) * 1000000) AS BIGINT)"))
      .select("abc_class", "n_parts", "class_rev_u", "rev_share_ppm", "min_rank", "max_rank")
      .orderBy("abc_class")
  }

  val ordersAbcSql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2)))) * 10000 AS BIGINT) AS rev_u
      |  FROM lineitem GROUP BY 1
      |), swept AS (
      |  SELECT l_partkey, rev_u,
      |    ROW_NUMBER() OVER (ORDER BY rev_u DESC, l_partkey) AS rnk,
      |    CAST(SUM(rev_u) OVER (ORDER BY rev_u DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_u,
      |    CAST(SUM(rev_u) OVER () AS BIGINT) AS total_u
      |  FROM rev
      |), banded AS (
      |  SELECT rnk, rev_u, total_u,
      |    CASE WHEN cum_u * 100 <= CAST(total_u AS HUGEINT) * 80 THEN 'A'
      |         WHEN cum_u * 100 <= CAST(total_u AS HUGEINT) * 95 THEN 'B'
      |         ELSE 'C' END AS abc_class
      |  FROM swept
      |)
      |SELECT abc_class, COUNT(*) AS n_parts,
      |  CAST(SUM(rev_u) AS BIGINT) AS class_rev_u,
      |  CAST(floor(CAST(CAST(SUM(rev_u) AS BIGINT) AS DOUBLE) / CAST(MAX(total_u) AS DOUBLE) * 1000000) AS BIGINT) AS rev_share_ppm,
      |  MIN(rnk) AS min_rank, MAX(rnk) AS max_rank
      |FROM banded GROUP BY 1 ORDER BY 1""".stripMargin

  /** Observational A/B readout: for every exposure event type, the
    * purchase-conversion rate of users WITH that exposure vs users
    * without it, with the two-proportion z statistic — the growth-team
    * query behind "does clicking correlate with buying" dashboards
    * (observational, so it reads association, not causation; a real
    * experiment would bring its own assignment column and reuse this
    * exact shape).
    *
    * Determinism: rates are exact integer ppm (BIGINT cross-products);
    * only z runs in doubles — ONE fixed-shape expression, identical
    * text on both engines, floor-quantized once to milli. Zero-size or
    * degenerate (p ∈ {0,1}) control arms yield NULL z, not NaN.
    *
    * Scale shape: per-user flags are ONE user-keyed partial agg; the
    * exposure census is ONE (user, type) distinct; the 2×2 cells fold
    * in a \|types\|-bounded agg, and the corpus-wide arm rides back as
    * a one-row broadcast. Counts ≤ users, products ≤ users·10⁶ —
    * BIGINT-safe to 9×10¹² users.
    */
  def eventsAbtest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val users = Materialize.stable(ev.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv")))
    val grid = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type")).distinct()
    val treat = grid.join(users, Seq("user_id"))
      .groupBy(col("event_type").as("exposure_type"))
      .agg(count(lit(1)).as("n_treat"), sum("conv").as("conv_treat"))
    val totals = users.agg(count(lit(1)).as("n_all"), sum("conv").as("conv_all"))
    treat.join(broadcast(totals))
      .withColumn("n_ctrl", col("n_all") - col("n_treat"))
      .withColumn("conv_ctrl", col("conv_all") - col("conv_treat"))
      .withColumn("cr_treat_ppm", expr("conv_treat * 1000000 div n_treat"))
      .withColumn("cr_ctrl_ppm", expr(
        "CASE WHEN n_ctrl > 0 THEN conv_ctrl * 1000000 div n_ctrl END"))
      .withColumn("z_milli", expr(
        """CASE WHEN n_ctrl > 0 AND conv_all > 0 AND conv_all < n_all THEN
          |CAST(floor((CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
          |  - CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE))
          |  / sqrt(CAST(conv_all AS DOUBLE) / CAST(n_all AS DOUBLE)
          |    * (1.0 - CAST(conv_all AS DOUBLE) / CAST(n_all AS DOUBLE))
          |    * (1.0 / CAST(n_treat AS DOUBLE) + 1.0 / CAST(n_ctrl AS DOUBLE)))
          |  * 1000) AS BIGINT) END""".stripMargin.replaceAll("\\s+", " ")))
      .select("exposure_type", "n_treat", "conv_treat", "cr_treat_ppm",
        "n_ctrl", "conv_ctrl", "cr_ctrl_ppm", "z_milli")
      .orderBy("exposure_type")
  }

  val eventsAbtestSql: String =
    """WITH users AS (
      |  SELECT user_id,
      |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
      |  FROM events GROUP BY 1
      |), grid AS (
      |  SELECT DISTINCT user_id, event_type FROM events WHERE event_type <> 'purchase'
      |), treat AS (
      |  SELECT g.event_type AS exposure_type, COUNT(*) AS n_treat,
      |    CAST(SUM(u.conv) AS BIGINT) AS conv_treat
      |  FROM grid g JOIN users u ON g.user_id = u.user_id GROUP BY 1
      |), t AS (
      |  SELECT COUNT(*) AS n_all, CAST(SUM(conv) AS BIGINT) AS conv_all FROM users
      |)
      |SELECT exposure_type, n_treat, conv_treat,
      |  conv_treat * 1000000 // n_treat AS cr_treat_ppm,
      |  n_all - n_treat AS n_ctrl, conv_all - conv_treat AS conv_ctrl,
      |  CASE WHEN n_all - n_treat > 0
      |    THEN (conv_all - conv_treat) * 1000000 // (n_all - n_treat) END AS cr_ctrl_ppm,
      |  CASE WHEN n_all - n_treat > 0 AND conv_all > 0 AND conv_all < n_all THEN
      |    CAST(floor((CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
      |      - CAST(conv_all - conv_treat AS DOUBLE) / CAST(n_all - n_treat AS DOUBLE))
      |      / sqrt(CAST(conv_all AS DOUBLE) / CAST(n_all AS DOUBLE)
      |        * (1.0 - CAST(conv_all AS DOUBLE) / CAST(n_all AS DOUBLE))
      |        * (1.0 / CAST(n_treat AS DOUBLE) + 1.0 / CAST(n_all - n_treat AS DOUBLE)))
      |      * 1000) AS BIGINT) END AS z_milli
      |FROM treat, t ORDER BY exposure_type""".stripMargin

  /** Sample-ratio-mismatch (SRM) gate for the A/B readout: assign each
    * user to the arm of their FIRST click-or-view exposure (the
    * deterministic (ts, event_id) total order — no window, one
    * struct-argmin partial agg), then test the arm split against the
    * designed 50/50 with the one-degree chi-square
    * (a−b)²/(a+b) — the standard trust check that runs BEFORE anyone
    * reads events_abtest's effect column (an SRM'd experiment's effect
    * estimate is garbage regardless of its z-score). All integer: the
    * statistic is emitted in centi-units ((a−b)²·100 div (a+b)) and the
    * flag compares against the χ²₁ 5% critical value 3.84 → 384 — no
    * float in the predicate. (a−b)² caps at n², so DECIMAL(38,0) keeps
    * the numerator exact at any population; flag semantics match at
    * every scale.
    *
    * Scale shape: one user-keyed partial agg over the filtered scan
    * (first-exposure argmin), one 2-row arm rollup, one-row output.
    */
  def eventsSrm(s: SparkSession, dir: String): DataFrame = {
    val first = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy("user_id")
      .agg(min(struct(col("ts_us"), col("event_id"), col("event_type"))).as("f"))
      .select(col("user_id"), col("f.event_type").as("arm"))
    first.agg(
        sum(when(col("arm") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("arm") === "view", 1L).otherwise(0L)).as("n_view"))
      .withColumn("chi2_centi", expr(
        "CAST(CAST((n_click - n_view) AS DECIMAL(38,0)) * (n_click - n_view) * 100 div (n_click + n_view) AS BIGINT)"))
      .withColumn("srm_flag", expr("CASE WHEN chi2_centi > 384 THEN 1 ELSE 0 END").cast("long"))
      .select("n_click", "n_view", "chi2_centi", "srm_flag")
  }

  val eventsSrmSql: String =
    """WITH first AS (
      |  -- zero-padded (ts, event_id) string key: DuckDB 1.0's arg_min
      |  -- has no struct-key overload; lexicographic == numeric when
      |  -- both fields are fixed-width (20 covers any BIGINT — lpad
      |  -- TRUNCATES overlong strings, so a narrower pad would corrupt
      |  -- the ordering past its width)
      |  SELECT user_id, arg_min(event_type,
      |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
      |    lpad(CAST(event_id AS VARCHAR), 20, '0')) AS arm
      |  FROM events WHERE event_type IN ('click', 'view')
      |  GROUP BY 1
      |), counts AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |    CAST(SUM(CASE WHEN arm = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
      |  FROM first
      |)
      |SELECT n_click, n_view,
      |  CAST(CAST((n_click - n_view) AS HUGEINT) * (n_click - n_view) * 100 // (n_click + n_view) AS BIGINT) AS chi2_centi,
      |  CAST(CASE WHEN CAST((n_click - n_view) AS HUGEINT) * (n_click - n_view) * 100 // (n_click + n_view) > 384 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
      |FROM counts""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_srm" -> (eventsSrm _),
    "events_abtest" -> (eventsAbtest _),
    "orders_abc" -> (ordersAbc _),
    "orders_basket_pairs" -> (ordersBasketPairs _),
    "events_autocorr" -> (eventsAutocorr _),
    "events_cube" -> (eventsCube _),
    "events_mad" -> (eventsMad _),
    "events_burstiness" -> (eventsBurstiness _),
    "events_entropy" -> (eventsEntropy _),
    "supplier_hhi" -> (supplierHhi _))

  val oracles: Map[String, String] = Map(
    "events_srm" -> eventsSrmSql,
    "events_abtest" -> eventsAbtestSql,
    "orders_abc" -> ordersAbcSql,
    "orders_basket_pairs" -> ordersBasketPairsSql,
    "events_autocorr" -> eventsAutocorrSql,
    "events_cube" -> eventsCubeSql,
    "events_mad" -> eventsMadSql,
    "events_burstiness" -> eventsBurstinessSql,
    "events_entropy" -> eventsEntropySql,
    "supplier_hhi" -> supplierHhiSql)
}
