package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Customer/user analytics depth: RFM segmentation, the cohort
  * retention matrix, and a Bloom-prefiltered join — the runtime-filter
  * technique that matters at 100 TB spelled out in pure DataFrame
  * algebra.
  */
object AnalyticsPlus {
  private def dec(c: String) = col(c).cast("decimal(12,2)")
  private val one = lit(1).cast("decimal(3,2)")

  /** 2001-08-02 00:00:00 UTC — one day past the last order date; the
    * "as of" a nightly segmentation job would use.
    */
  private val RfmAnchorUs = 996710400000000L

  /** RFM (recency / frequency / monetary) customer segmentation with
    * FIXED scoring bands — the deployed form of RFM (fixed bands keep
    * scores comparable across runs; quantile bands would need a global
    * sort or a quantile sketch and re-score every customer whenever the
    * distribution drifts). ONE custkey-keyed partial agg, then pure
    * map-side band math: integer day recency, BIGINT frequency, exact
    * DECIMAL monetary rounded once to double.
    */
  def ordersRfm(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.groupBy(col("o_custkey").as("custkey"))
      .agg(
        // o_orderdate is TIMESTAMP_NTZ in the parquet; the session TZ is
        // pinned UTC so the cast is the identity the oracle's epoch_us does
        expr(s"($RfmAnchorUs - max(unix_micros(CAST(o_orderdate AS TIMESTAMP)))) div ${86400L * 1000000}")
          .as("r_days"),
        count(lit(1)).as("frequency"),
        round(sum(dec("o_totalprice")), 2).cast("double").as("monetary"))
      .withColumn("r_score",
        when(col("r_days") <= 90, 5).when(col("r_days") <= 365, 4)
          .when(col("r_days") <= 730, 3).when(col("r_days") <= 1095, 2).otherwise(1))
      .withColumn("f_score",
        when(col("frequency") >= 18, 5).when(col("frequency") >= 13, 4)
          .when(col("frequency") >= 9, 3).when(col("frequency") >= 5, 2).otherwise(1))
      .withColumn("m_score",
        when(col("monetary") >= 4000000.0, 5).when(col("monetary") >= 3000000.0, 4)
          .when(col("monetary") >= 2000000.0, 3).when(col("monetary") >= 1000000.0, 2).otherwise(1))
      .withColumn("rfm", col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("custkey")
  }

  val ordersRfmSql: String =
    s"""WITH agg AS (
       |  SELECT o_custkey AS custkey,
       |    ($RfmAnchorUs - MAX(epoch_us(o_orderdate))) // ${86400L * 1000000} AS r_days,
       |    COUNT(*) AS frequency,
       |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS monetary
       |  FROM orders GROUP BY 1)
       |SELECT custkey, r_days, frequency, monetary,
       |  CASE WHEN r_days <= 90 THEN 5 WHEN r_days <= 365 THEN 4
       |       WHEN r_days <= 730 THEN 3 WHEN r_days <= 1095 THEN 2 ELSE 1 END AS r_score,
       |  CASE WHEN frequency >= 18 THEN 5 WHEN frequency >= 13 THEN 4
       |       WHEN frequency >= 9 THEN 3 WHEN frequency >= 5 THEN 2 ELSE 1 END AS f_score,
       |  CASE WHEN monetary >= 4000000.0 THEN 5 WHEN monetary >= 3000000.0 THEN 4
       |       WHEN monetary >= 2000000.0 THEN 3 WHEN monetary >= 1000000.0 THEN 2 ELSE 1 END AS m_score,
       |  (CASE WHEN r_days <= 90 THEN 5 WHEN r_days <= 365 THEN 4
       |        WHEN r_days <= 730 THEN 3 WHEN r_days <= 1095 THEN 2 ELSE 1 END) * 100 +
       |  (CASE WHEN frequency >= 18 THEN 5 WHEN frequency >= 13 THEN 4
       |        WHEN frequency >= 9 THEN 3 WHEN frequency >= 5 THEN 2 ELSE 1 END) * 10 +
       |  (CASE WHEN monetary >= 4000000.0 THEN 5 WHEN monetary >= 3000000.0 THEN 4
       |        WHEN monetary >= 2000000.0 THEN 3 WHEN monetary >= 1000000.0 THEN 2 ELSE 1 END) AS rfm
       |FROM agg ORDER BY custkey""".stripMargin

  /** Full cohort retention matrix: users bucketed by FIRST-seen day
    * (the cohort), counted on each later day they were active —
    * (cohort_day, age_days, n_active). Generalizes events_retention's
    * fixed d1/d7 probes to the whole triangle. Shape: the corpus
    * collapses to the (user, day) grid in one partial agg (dedup
    * before any join), the cohort day is a second user-keyed agg, and
    * the grid⋈cohort join is co-partitioned on user_id — the matrix
    * itself is |days|²/2-bounded.
    */
  def eventsCohortMatrix(s: SparkSession, dir: String): DataFrame =
    eventsCohortMatrixFor(Tables.events(s, dir), 86400L * 1000000)
      .orderBy("cohort_day", "age_days")

  /** The events_cohort_matrix body over (user_id, ts_us) in `periodUs`
    * periods; shared with [[graft.api.EventOps.cohortMatrix]].
    */
  private[graft] def eventsCohortMatrixFor(e: DataFrame, periodUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = e
      .select(col("user_id"), expr(s"ts_us div $periodUs").as("day"))
      .distinct()
    // cohort day as a user-partitioned window min over the grid — ONE
    // corpus scan and no grid⋈cohort self-join (the agg+join spelling
    // evaluates the distinct subtree twice; AQE does not reuse the
    // exchange across the two branches)
    grid
      .withColumn("cohort_day", min("day").over(Window.partitionBy("user_id")))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
      .agg(count(lit(1)).as("n_active"))
  }

  val eventsCohortMatrixSql: String =
    s"""WITH grid AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // ${86400L * 1000000} AS day FROM events),
       |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM grid GROUP BY 1)
       |SELECT cohort_day, day - cohort_day AS age_days, COUNT(*) AS n_active
       |FROM grid JOIN cohort USING (user_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** TPC-H Q3 computed through a DISTRIBUTED BLOOM RUNTIME FILTER —
    * the semi-join reduction that matters when the fact side is 100 TB:
    * the qualifying-order keys (segment + date filtered, ~10% of
    * orders) are folded into a 64-slot × 64-bit Bloom bitmap by a tiny
    * aggregation (`bit_or` partial agg → 64 rows), the bitmap rides a
    * broadcast equi-join onto the lineitem scan, and only rows whose
    * bit survives reach the real shuffle join. False positives are
    * harmless (the exact join follows); false negatives are impossible
    * (same two hashes both sides) — which is exactly why the oracle
    * for this query is PLAIN q3 SQL: bit-identical output proves the
    * no-false-negative property end to end. Spark's own AQE runtime
    * filters do this inside the engine; spelling it in DataFrame
    * algebra makes the technique available where AQE can't see it
    * (e.g. pre-filtering before an expensive UDF stage).
    */
  def q3BloomPrejoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1998-03-15"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    // the qualifying set feeds BOTH the bloom build and the exact join —
    // materialize once so the orders scan doesn't run twice (DISK_ONLY
    // with lineage kept: cluster-safe, recomputes on executor loss)
    val qual = Materialize.stable(
      o.join(broadcast(c), col("o_custkey") === col("c_custkey")))

    def slot(k: String) = pmod(xxhash64(col(k), lit(1)), lit(64)).cast("int")
    def bit(k: String) =
      expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64($k, 2), 64) AS INT))")

    val bloom = qual
      .select(slot("o_orderkey").as("slot"), bit("o_orderkey").as("b"))
      .groupBy("slot").agg(expr("bit_or(b)").as("mask"))

    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1998-03-15"))
      .withColumn("slot", slot("l_orderkey"))
      .withColumn("b", bit("l_orderkey"))
    val lpre = l.join(broadcast(bloom), Seq("slot"))
      .filter((col("mask").bitwiseAND(col("b"))) =!= 0)

    lpre.join(qual, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(dec("l_extendedprice") * (one - dec("l_discount"))), 2).cast("double").as("revenue"))
      .select(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Oracle: PLAIN Q3 — equality proves the Bloom pass dropped nothing. */
  val q3BloomPrejoinSql: String = Queries.q3JoinSql

  /** Last-touch revenue attribution: every purchase's exact cents
    * credited to the channel (event type) of the user's most recent
    * PRIOR non-purchase event, 'direct' when none exists — the
    * marketing-attribution pass, built on the same O(n) carry-forward
    * window as events_asof (never an inequality join: ONE user-keyed
    * shuffle + in-partition sort, then a channel-cardinality partial
    * agg). The grand total re-attaches via the q22
    * `crossJoin(broadcast(one-row agg))` idiom — not an unpartitioned
    * window — so a `WindowExec: No Partition Defined` warning anywhere
    * in this engine always means a real single-task sort, never a
    * benign totals pass; the channel frame is materialized once so the
    * events scan is not repeated. Integer cents; one floored share
    * division at output.
    */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val per = Materialize.stable(Tables.events(s, dir)
      .withColumn("touch", when(col("event_type") =!= "purchase", col("event_type")))
      .withColumn("last_touch", last(col("touch"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel", coalesce(col("last_touch"), lit("direct")))
      .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("attributed_cents")))
    per.crossJoin(broadcast(per.agg(sum("attributed_cents").as("total_cents"))))
      .withColumn("cents_share", expr(
        "floor(CAST(attributed_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .select("channel", "n_purchases", "attributed_cents", "cents_share")
      .orderBy("channel")
  }

  val eventsAttributionSql: String =
    """WITH touched AS (
      |  SELECT event_type, value,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_touch
      |  FROM events
      |), per AS (
      |  SELECT COALESCE(last_touch, 'direct') AS channel,
      |    COUNT(*) AS n_purchases,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS attributed_cents
      |  FROM touched WHERE event_type = 'purchase' GROUP BY 1
      |)
      |SELECT channel, n_purchases, attributed_cents,
      |  floor(CAST(attributed_cents AS DOUBLE)
      |    / CAST(CAST(SUM(attributed_cents) OVER () AS BIGINT) AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) AS cents_share
      |FROM per ORDER BY channel""".stripMargin

  /** Customer-cohort lifetime value: customers bucketed by FIRST-order
    * year, exact-cents revenue summed by (cohort, years-since-first) —
    * the LTV triangle behind payback dashboards. First year via a
    * custkey-partitioned window min (one scan, no self-join, same
    * trick as events_cohort_matrix); the shuffle carries the
    * (custkey, year) grid, the output is the |years|² triangle.
    */
  def ordersCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.orders(s, dir)
      .withColumn("yr", expr("CAST(year(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)"))
      .withColumn("cents", expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
      .withColumn("cohort_yr", min("yr").over(Window.partitionBy("o_custkey")))
      .groupBy(col("cohort_yr"), (col("yr") - col("cohort_yr")).as("age_years"))
      .agg(countDistinct("o_custkey").as("n_customers"),
        count(lit(1)).as("n_orders"), sum("cents").as("ltv_cents"))
      .orderBy("cohort_yr", "age_years")
  }

  val ordersCohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey, year(o_orderdate) AS yr,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
      |    MIN(year(o_orderdate)) OVER (PARTITION BY o_custkey) AS cohort_yr
      |  FROM orders
      |)
      |SELECT cohort_yr, yr - cohort_yr AS age_years,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS ltv_cents
      |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Market-basket co-occurrence: the top part pairs ordered together
    * (association-rule support mining on the order⋈part bipartite
    * graph). Pair generation is an orderkey equi-self-join over the
    * DISTINCT (order, part) projection, so the quadratic term is
    * Σ C(parts-per-order, 2) — basket-bounded (TPC-H ≤ 7 lines/order ⇒
    * ≤ 21 pairs/order), never corpus². The pair-keyed partial agg lands
    * on the co-occurrence frame; top-20 ships as TakeOrdered with a
    * full (count, part, part) tiebreak.
    */
  def ordersBasket(s: SparkSession, dir: String): DataFrame = {
    val lp = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    lp.as("a").join(lp.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val ordersBasketSql: String =
    """WITH lp AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |)
      |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
      |FROM lp a JOIN lp b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin

  /** Open-order backlog sweep line: per day, orders opened (by order
    * date), orders completed (an order closes on its LAST line-item
    * ship day), and the running count still open — the fulfillment-
    * health series an ops dashboard tracks (a rising backlog = shipping
    * is falling behind intake).
    *
    * Scale shape: intake is ONE orders partial agg to the calendar
    * frame; completion is ONE lineitem shuffle on orderkey (max
    * shipdate per order) then a calendar partial agg; the running sum
    * over the ~10³-row day frame uses [[Ranks.boundedRunningSum]]
    * (one-row fold) — never a global-order window, so the plan shape
    * is identical at 10¹² orders, where the day frame is STILL
    * calendar-bounded. All integer: epoch-day keys, BIGINT counts;
    * backlog ≤ total orders — no overflow at any scale.
    */
  def ordersBacklog(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000
    ordersBacklogFor(
      Tables.orders(s, dir)
        .select(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $dayUs").as("day")),
      Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(max(expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $dayUs")).as("day")))
      .orderBy("day")
  }

  /** The orders_backlog body over one `day` row per opened and per
    * closed entity: opened, closed and running backlog per day; shared
    * with [[graft.api.EventOps.backlogSweep]].
    */
  private[graft] def ordersBacklogFor(opens: DataFrame, closes: DataFrame): DataFrame = {
    val opened = opens.groupBy("day").agg(count(lit(1)).as("opened"))
    val closed = closes.groupBy("day").agg(count(lit(1)).as("closed"))
    val perDay = Materialize.stable(opened.join(closed, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("opened"), lit(0L)).as("opened"),
        coalesce(col("closed"), lit(0L)).as("closed")))
    val run = Ranks.boundedRunningSum(
      perDay.select(col("day"), (col("opened") - col("closed")).as("net")),
      "day", "net", "backlog")
    perDay.join(run.select("day", "backlog"), Seq("day"))
      .select("day", "opened", "closed", "backlog")
  }

  val ordersBacklogSql: String =
    """WITH opened AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day, COUNT(*) AS opened
      |  FROM orders GROUP BY 1
      |), closed AS (
      |  SELECT day, COUNT(*) AS closed FROM (
      |    SELECT l_orderkey, MAX(epoch_us(l_shipdate) // 86400000000) AS day
      |    FROM lineitem GROUP BY 1) t
      |  GROUP BY 1
      |), per_day AS (
      |  SELECT COALESCE(o.day, c.day) AS day,
      |    COALESCE(opened, 0) AS opened, COALESCE(closed, 0) AS closed
      |  FROM opened o FULL OUTER JOIN closed c ON o.day = c.day
      |)
      |SELECT day, opened, closed,
      |  CAST(SUM(opened - closed) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
      |FROM per_day ORDER BY day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_backlog" -> (ordersBacklog _),
    "orders_basket" -> (ordersBasket _),
    "orders_rfm" -> (ordersRfm _),
    "events_cohort_matrix" -> (eventsCohortMatrix _),
    "q3_bloom_prejoin" -> (q3BloomPrejoin _),
    "events_attribution" -> (eventsAttribution _),
    "orders_cohort_ltv" -> (ordersCohortLtv _)
  )

  val oracles: Map[String, String] = Map(
    "orders_backlog" -> ordersBacklogSql,
    "orders_basket" -> ordersBasketSql,
    "orders_rfm" -> ordersRfmSql,
    "events_cohort_matrix" -> eventsCohortMatrixSql,
    "q3_bloom_prejoin" -> q3BloomPrejoinSql,
    "events_attribution" -> eventsAttributionSql,
    "orders_cohort_ltv" -> ordersCohortLtvSql
  )
}
