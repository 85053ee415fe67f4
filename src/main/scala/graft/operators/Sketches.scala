package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.sources.Tables

/** Probabilistic sketches as PORTABLE ARITHMETIC (SURVEY §2): a
  * HyperLogLog distinct-count and a Count-Min frequency sketch built
  * from the same poly-hash family as the dedup signatures — no
  * engine-native approx functions (Spark's approx_count_distinct and
  * DuckDB's are different HLL implementations and can never
  * hash-match; these are bit-identical on both engines).
  *
  * Portability discipline: every sketch internal is an INTEGER
  * (bucket maxima, 2^(R-M) numerators, counter minima). The only
  * double math is literal-constant multiplication/division at the very
  * end (correctly-rounded IEEE ops) — never ln/pow/libm calls, whose
  * last-ulp behavior differs across runtimes.
  *
  * Scale shape = the textbook distributed sketch merge: partial
  * aggregation computes per-partition bucket maxima / counter sums
  * map-side, the shuffle carries ONE row per (group, bucket) — the
  * sketch merge IS the aggregate. At 100 TB the shuffle volume is the
  * sketch size (KBs per group), not the data.
  */
object Sketches {
  import PortableHash.P

  // ---- HyperLogLog ------------------------------------------------------

  val HllP = 9 // 2^9 = 512 buckets
  val HllM = 1 << HllP
  val HllWBits = 22 // 31-bit hash - 9 bucket bits
  // alpha for m >= 128 (Flajolet et al.): literal-only arithmetic so the
  // constant folds identically on both engines
  def alphaExpr(m: Int) = s"(CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST($m AS DOUBLE)))"

  /** distinct active user-days per event_type: exact vs portable-HLL
    * estimate. The cardinality (users × days, thousands) sits in the
    * raw-estimate regime (n > 2.5m), where HLL needs NO ln-based
    * small-range correction — which matters here because ln is a libm
    * call whose last ulp differs across runtimes, while the raw
    * estimate is all exactly-rounded mult/div. rank = leading zeros of
    * the 22-bit suffix + 1, via binary string length (integer-exact on
    * both engines); the harmonic denominator is an exact BIGINT
    * numerator over the implicit 2^23. The hash is the char-wise
    * poly-31 kernel over the key's decimal string — an affine
    * (a·x+b) mod P hash has structured high bits and blows up HLL
    * variance (measured: 24% vs 10% max error) — finished with the
    * [[sparkMix]] avalanche (round 9: poly-31 alone is non-uniform in
    * its low bits on decimal keys; the finisher restores Poisson
    * occupancy, see SCALE.md). This is the RAW estimator (no HLL++
    * bias table, whose ln-based small-range correction would drag
    * libm's last-ulp differences into the oracle); n_present is
    * emitted so a consumer can apply linear counting themselves —
    * sketch_hll_sliding does exactly that via its LC-until-saturation
    * regime column.
    */
  def sketchHll(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type"),
        expr("user_id * 1000003 + ts_us div 86400000000").as("user_day"))
      .withColumn("h0", expr(PortableHash.sparkWordHash("CAST(user_day AS STRING)")))
      .withColumn("h", expr(sparkMix("h0")))
      .withColumn("bucket", expr(s"h % $HllM"))
      .withColumn("w", expr(s"h div $HllM"))
      .withColumn("rank", expr(s"CASE WHEN w = 0 THEN ${HllWBits + 1} ELSE ${HllWBits + 1} - length(bin(w)) END"))
    val buckets = e.groupBy("event_type", "bucket").agg(max("rank").as("mr"))
    buckets.groupBy("event_type")
      .agg(count(lit(1)).as("n_present"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $HllWBits + 1 - mr)")).as("present_num"))
      .withColumn("numerator",
        expr(s"present_num + (CAST($HllM AS BIGINT) - n_present) * CAST(${1L << (HllWBits + 1)} AS BIGINT)"))
      .withColumn("hll_estimate", expr(
        s"floor(${alphaExpr(HllM)} * CAST($HllM AS DOUBLE) * CAST($HllM AS DOUBLE) * CAST(${1L << (HllWBits + 1)} AS DOUBLE) / CAST(numerator AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .join(Tables.events(s, dir).groupBy("event_type")
        .agg(countDistinct(expr("user_id * 1000003 + ts_us div 86400000000")).as("n_exact")),
        Seq("event_type"))
      .select("event_type", "n_exact", "n_present", "numerator", "hll_estimate")
      .orderBy("event_type")
  }

  val sketchHllSql: String =
    s"""WITH hashed0 AS (
       |  SELECT event_type,
       |    ${PortableHash.duckWordHash("CAST(user_id * 1000003 + epoch_us(ts) // 86400000000 AS VARCHAR)")} AS h0
       |  FROM events
       |), hashed AS (
       |  SELECT event_type, ${duckMix("h0")} AS h FROM hashed0
       |), ranked AS (
       |  SELECT event_type, h % $HllM AS bucket,
       |    CASE WHEN h // $HllM = 0 THEN ${HllWBits + 1}
       |         ELSE ${HllWBits + 1} - length(bin(h // $HllM)) END AS rank
       |  FROM hashed
       |), buckets AS (
       |  SELECT event_type, bucket, MAX(rank) AS mr FROM ranked GROUP BY 1, 2
       |), merged AS (
       |  SELECT event_type,
       |    COUNT(*) AS n_present,
       |    CAST(SUM(CAST(1 AS BIGINT) << ($HllWBits + 1 - mr)) AS BIGINT)
       |      + (CAST($HllM AS BIGINT) - COUNT(*)) * ${1L << (HllWBits + 1)} AS numerator
       |  FROM buckets GROUP BY 1
       |)
       |SELECT m.event_type, x.n_exact, m.n_present, m.numerator,
       |  floor(${alphaExpr(HllM)} * CAST($HllM AS DOUBLE) * CAST($HllM AS DOUBLE) * CAST(${1L << (HllWBits + 1)} AS DOUBLE) / CAST(numerator AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) AS hll_estimate
       |FROM merged m JOIN (
       |  SELECT event_type,
       |    COUNT(DISTINCT user_id * 1000003 + epoch_us(ts) // 86400000000) AS n_exact
       |  FROM events GROUP BY 1) x
       |  USING (event_type)
       |ORDER BY event_type""".stripMargin

  // ---- Count-Min --------------------------------------------------------

  val CmsDepth = 4
  val CmsWidth = 1024

  /** Count-Min frequency sketch over user_id traffic: build depth×width
    * integer counters from the whole events table, then point-query the
    * heaviest users. Estimate = min over rows — pure integer ops; the
    * output pins estimate vs exact count (estimate >= exact always; the
    * spec-visible property of CMS).
    */
  def sketchCms(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"))
    val rows = e
      .withColumn("i", explode(expr(s"sequence(0, ${CmsDepth - 1})")))
      .withColumn("bucket", expr(s"((1 + i * 604297) * (user_id % $P) + (i * 8191 + 12289)) % $P % $CmsWidth"))
      .groupBy("i", "bucket").agg(count(lit(1)).as("c"))
    val heavy = e.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(20)
    val probes = heavy
      .withColumn("i", explode(expr(s"sequence(0, ${CmsDepth - 1})")))
      .withColumn("bucket", expr(s"((1 + i * 604297) * (user_id % $P) + (i * 8191 + 12289)) % $P % $CmsWidth"))
    probes.join(rows, Seq("i", "bucket"))
      .groupBy("user_id", "n_exact")
      .agg(min("c").as("cms_estimate"))
      .withColumn("overestimate", col("cms_estimate") - col("n_exact"))
      .select("user_id", "n_exact", "cms_estimate", "overestimate")
      .orderBy(col("n_exact").desc, col("user_id"))
  }

  val sketchCmsSql: String =
    s"""WITH rows_ AS (
       |  SELECT i, ((1 + i * 604297) * (user_id % $P) + (i * 8191 + 12289)) % $P % $CmsWidth AS bucket,
       |    COUNT(*) AS c
       |  FROM events CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS i) d
       |  GROUP BY 1, 2
       |), heavy AS (
       |  SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY 1
       |  ORDER BY n_exact DESC, user_id LIMIT 20
       |), probes AS (
       |  SELECT user_id, n_exact, i,
       |    ((1 + i * 604297) * (user_id % $P) + (i * 8191 + 12289)) % $P % $CmsWidth AS bucket
       |  FROM heavy CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS i) d
       |)
       |SELECT p.user_id, p.n_exact, MIN(r.c) AS cms_estimate,
       |  MIN(r.c) - p.n_exact AS overestimate
       |FROM probes p JOIN rows_ r ON p.i = r.i AND p.bucket = r.bucket
       |GROUP BY p.user_id, p.n_exact
       |ORDER BY p.n_exact DESC, p.user_id""".stripMargin

  // ---- Bloom filter -----------------------------------------------------

  val BloomBits = 256 // 8 × 32-bit words: shifts stay ≤ 31, because
  // DuckDB's signed << range-checks and rejects 1<<63 while Spark's
  // shiftleft wraps — 32-bit words keep the two engines in the lane
  // where both agree
  val BloomWordBits = 32
  val BloomWords: Int = BloomBits / BloomWordBits // 8
  val BloomProbeMax = 20L // membership probes: user_id 1..20

  private def bloomHash(u: String, a: Long, b: Long): String =
    s"(((($u % $P) * $a + $b) % $P) % $BloomBits)"
  private val BloomA1 = 604297L
  private val BloomB1 = 12289L
  private val BloomA2 = 1103515245L
  private val BloomB2 = 12345L

  /** Per-type Bloom membership sketch over user_id: k=2 portable integer
    * hashes set bits in a 256-bit filter held as eight BIGINT words
    * merged with `bit_or` — partial aggregation ORs words map-side, the
    * shuffle carries 8 longs per (partition, type). The probe pass
    * tests users 1..[[BloomProbeMax]] with an HOF fold over the merged
    * words (no join); the oracle pins the exact words, the popcount,
    * and the no-false-negative property (probe hits ⊇ true members).
    */
  def sketchBloom(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"), col("user_id"))
    def word(w: Int): String = {
      def part(h: String) =
        s"CASE WHEN $h div $BloomWordBits = $w THEN shiftleft(CAST(1 AS BIGINT), CAST($h % $BloomWordBits AS INT)) ELSE CAST(0 AS BIGINT) END"
      s"${part(bloomHash("user_id", BloomA1, BloomB1))} | ${part(bloomHash("user_id", BloomA2, BloomB2))}"
    }
    val wordsArr = (0 until BloomWords).map(w => s"bits$w").mkString("array(", ", ", ")")
    val probe = {
      def hit(h: String) =
        s"(element_at($wordsArr, CAST($h div $BloomWordBits AS INT) + 1) & shiftleft(CAST(1 AS BIGINT), CAST($h % $BloomWordBits AS INT))) != 0"
      // sequence() yields INTs — the hash multiply needs 64-bit room
      s"""aggregate(sequence(1, $BloomProbeMax), CAST(0 AS BIGINT), (acc, u) ->
         |  acc + CASE WHEN ${hit(bloomHash("CAST(u AS BIGINT)", BloomA1, BloomB1))}
         |    AND ${hit(bloomHash("CAST(u AS BIGINT)", BloomA2, BloomB2))} THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
        .stripMargin.replaceAll("\\s+", " ")
    }
    val wordAggs = (0 until BloomWords).map(w => expr(s"bit_or(${word(w)})").as(s"bits$w"))
    val popcount = (0 until BloomWords).map(w => s"CAST(bit_count(bits$w) AS BIGINT)").mkString(" + ")
    e.groupBy("event_type")
      .agg(wordAggs.head, wordAggs.tail :+
        countDistinct(when(col("user_id").between(1L, BloomProbeMax), col("user_id")))
          .as("n_probe_present"): _*)
      .withColumn("set_bits", expr(popcount))
      .withColumn("n_probe_hits", expr(probe))
      .select(col("event_type") +: (0 until BloomWords).map(w => col(s"bits$w")) :+
        col("set_bits") :+ col("n_probe_present") :+ col("n_probe_hits"): _*)
      .orderBy("event_type")
  }

  /** Base id for the FPR gate's NEGATIVE membership probes — far above
    * any real user_id at every contract and smoke scale (the ×10
    * harness tops out near 10⁸; the invariant spec asserts
    * max(user_id) < this), so every probe is provably absent and every
    * hit is a false positive.
    */
  val BloomNegProbeBase = 1000000000L
  val BloomNegProbes = 1000L

  /** Bloom false-positive-rate gate — the missing half of the sketch's
    * grade ([[sketchBloom]] pins no-false-NEGATIVES; this measures the
    * false-POSITIVE side): probe each group's merged filter with
    * [[BloomNegProbes]] provably-absent ids and report the measured
    * hit rate next to the standard k=2 prediction p² (p = set-bit
    * fraction), both in integer ppm. At the contract load the 256-bit
    * filter carries ~210 set bits ⇒ predicted ≈ 0.67 — the gate's
    * verdict is that the filter is SATURATED and m must be sized to n
    * before membership answers mean anything; that, not a green
    * number, is what an acceptance gate is for.
    *
    * Scale shape: identical to [[sketchBloom]] (bit_or partial agg —
    * the shuffle carries 8 longs per group); the probe pass is a
    * constant-width HOF fold per GROUP ROW (types-bounded), not a
    * join. All integer ⇒ oracle bit-exact.
    */
  def sketchBloomFpr(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"), col("user_id"))
    def word(w: Int): String = {
      def part(h: String) =
        s"CASE WHEN $h div $BloomWordBits = $w THEN shiftleft(CAST(1 AS BIGINT), CAST($h % $BloomWordBits AS INT)) ELSE CAST(0 AS BIGINT) END"
      s"${part(bloomHash("user_id", BloomA1, BloomB1))} | ${part(bloomHash("user_id", BloomA2, BloomB2))}"
    }
    val wordsArr = (0 until BloomWords).map(w => s"bits$w").mkString("array(", ", ", ")")
    val probe = {
      def hit(h: String) =
        s"(element_at($wordsArr, CAST($h div $BloomWordBits AS INT) + 1) & shiftleft(CAST(1 AS BIGINT), CAST($h % $BloomWordBits AS INT))) != 0"
      val u = s"(CAST(u AS BIGINT) + $BloomNegProbeBase)"
      s"""aggregate(sequence(1, $BloomNegProbes), CAST(0 AS BIGINT), (acc, u) ->
         |  acc + CASE WHEN ${hit(bloomHash(u, BloomA1, BloomB1))}
         |    AND ${hit(bloomHash(u, BloomA2, BloomB2))} THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
        .stripMargin.replaceAll("\\s+", " ")
    }
    val wordAggs = (0 until BloomWords).map(w => expr(s"bit_or(${word(w)})").as(s"bits$w"))
    val popcount = (0 until BloomWords).map(w => s"CAST(bit_count(bits$w) AS BIGINT)").mkString(" + ")
    e.groupBy("event_type")
      .agg(wordAggs.head, wordAggs.tail: _*)
      .withColumn("set_bits", expr(popcount))
      .withColumn("false_pos", expr(probe))
      .withColumn("fpr_ppm", expr(s"false_pos * 1000000 div $BloomNegProbes"))
      .withColumn("predicted_ppm",
        expr(s"set_bits * set_bits * 1000000 div ${BloomBits.toLong * BloomBits}"))
      .select("event_type", "set_bits", "false_pos", "fpr_ppm", "predicted_ppm")
      .orderBy("event_type")
  }

  val sketchBloomFprSql: String = {
    def word(w: Int): String = {
      def part(h: String) =
        s"CASE WHEN $h // $BloomWordBits = $w THEN (CAST(1 AS BIGINT) << CAST($h % $BloomWordBits AS INT)) ELSE CAST(0 AS BIGINT) END"
      s"${part(bloomHash("user_id", BloomA1, BloomB1))} | ${part(bloomHash("user_id", BloomA2, BloomB2))}"
    }
    val wordsArr = (0 until BloomWords).map(w => s"bits$w").mkString("[", ", ", "]")
    val probe = {
      def hit(h: String) =
        s"(($wordsArr[CAST($h // $BloomWordBits AS INT) + 1] & (CAST(1 AS BIGINT) << CAST($h % $BloomWordBits AS INT))) != 0)"
      val u = s"(u + $BloomNegProbeBase)"
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, ${BloomNegProbes + 1})), (acc, u) ->
         |  acc + CASE WHEN ${hit(bloomHash(u, BloomA1, BloomB1))}
         |    AND ${hit(bloomHash(u, BloomA2, BloomB2))} THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
        .stripMargin.replaceAll("\\s+", " ")
    }
    val wordCols = (0 until BloomWords).map(w => s"bit_or(${word(w)}) AS bits$w").mkString(",\n       |    ")
    val popcount = (0 until BloomWords).map(w => s"CAST(bit_count(bits$w) AS BIGINT)").mkString(" + ")
    s"""WITH merged AS (
       |  SELECT event_type,
       |    $wordCols
       |  FROM events GROUP BY 1
       |)
       |SELECT event_type,
       |  $popcount AS set_bits,
       |  $probe AS false_pos,
       |  ($probe) * 1000000 // $BloomNegProbes AS fpr_ppm,
       |  ($popcount) * ($popcount) * 1000000 // ${BloomBits.toLong * BloomBits} AS predicted_ppm
       |FROM merged ORDER BY event_type""".stripMargin
  }

  val sketchBloomSql: String = {
    def word(w: Int): String = {
      def part(h: String) =
        s"CASE WHEN $h // $BloomWordBits = $w THEN (CAST(1 AS BIGINT) << CAST($h % $BloomWordBits AS INT)) ELSE CAST(0 AS BIGINT) END"
      s"${part(bloomHash("user_id", BloomA1, BloomB1))} | ${part(bloomHash("user_id", BloomA2, BloomB2))}"
    }
    val wordsArr = (0 until BloomWords).map(w => s"bits$w").mkString("[", ", ", "]")
    val probe = {
      def hit(h: String) =
        s"(($wordsArr[CAST($h // $BloomWordBits AS INT) + 1] & (CAST(1 AS BIGINT) << CAST($h % $BloomWordBits AS INT))) != 0)"
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, ${BloomProbeMax + 1})), (acc, u) ->
         |  acc + CASE WHEN ${hit(bloomHash("u", BloomA1, BloomB1))}
         |    AND ${hit(bloomHash("u", BloomA2, BloomB2))} THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
        .stripMargin.replaceAll("\\s+", " ")
    }
    val wordCols = (0 until BloomWords).map(w => s"bit_or(${word(w)}) AS bits$w").mkString(",\n       |    ")
    val bitsList = (0 until BloomWords).map(w => s"bits$w").mkString(", ")
    val popcount = (0 until BloomWords).map(w => s"CAST(bit_count(bits$w) AS BIGINT)").mkString(" + ")
    s"""WITH merged AS (
       |  SELECT event_type,
       |    $wordCols,
       |    COUNT(DISTINCT CASE WHEN user_id BETWEEN 1 AND $BloomProbeMax THEN user_id END) AS n_probe_present
       |  FROM events GROUP BY 1
       |)
       |SELECT event_type, $bitsList,
       |  $popcount AS set_bits,
       |  n_probe_present,
       |  $probe AS n_probe_hits
       |FROM merged ORDER BY event_type""".stripMargin
  }

  // ---- histogram quantiles ----------------------------------------------

  val QuantBinInv = 10L // bin width 1/10

  /** Per-type histogram quantile sketch of `value`: 0.1-wide integer
    * bins, cumulative counts, quantile estimate = lower edge of the
    * first bin whose cumulative count crosses q·total — ALL integer
    * comparisons (cum·100 ≥ total·q), no interpolation, no libm.
    *
    * Scale shape: one partial aggregate to (type, bin) — the shuffle
    * carries bin counts, not rows — then a window over the few hundred
    * bins per type. The sketch is mergeable by construction (bin counts
    * add), which is what a 1000-executor percentile job needs.
    */
  def sketchQuantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = Tables.events(s, dir)
      .select(col("event_type"),
        expr(s"CAST(floor(value * $QuantBinInv) AS BIGINT)").as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("event_type")
    def est(q: Int) =
      s"CAST(MIN(CASE WHEN cum * 100 >= total * $q THEN bin END) AS DOUBLE) / CAST($QuantBinInv AS DOUBLE)"
    binned
      .withColumn("cum", sum("c").over(wc))
      .withColumn("total", sum("c").over(wt))
      .groupBy("event_type")
      .agg(max(col("total")).as("n"),
        expr(est(50)).as("p50_est"),
        expr(est(95)).as("p95_est"),
        expr(est(99)).as("p99_est"))
      .orderBy("event_type")
  }

  val sketchQuantileSql: String = {
    def est(q: Int) =
      s"CAST(MIN(CASE WHEN cum * 100 >= total * $q THEN bin END) AS DOUBLE) / CAST($QuantBinInv AS DOUBLE)"
    s"""WITH binned AS (
       |  SELECT event_type, CAST(floor(value * $QuantBinInv) AS BIGINT) AS bin, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2
       |), cum AS (
       |  SELECT event_type, bin,
       |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
       |  FROM binned
       |)
       |SELECT event_type, MAX(total) AS n,
       |  ${est(50)} AS p50_est, ${est(95)} AS p95_est, ${est(99)} AS p99_est
       |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Quantile-sketch acceptance gate: per type, the histogram sketch's
    * p50/p95/p99 estimates next to the EXACT discrete quantiles, with
    * the signed error in centi-units — the grade-the-approximate-path
    * audit the ANN family gets from knn_recall, applied to
    * [[sketchQuantile]]. The sketch's contract is "within one 0.1-wide
    * bin below the exact value"; this operator measures where inside
    * that bin each estimate lands (err_centi ∈ [0, 10) by
    * construction — an excursion outside is a sketch bug).
    *
    * Scale shape: the exact side pays the documented
    * exact-order-statistic price (type-partitioned sort window, the
    * events_median_exact contract) — run it at audit time, not on the
    * hot path; the estimate side is the mergeable bin sketch. Exact
    * quantile at q = min value whose rank satisfies 100·rn ≥ q·n
    * (values are rank-monotone, so min-over-tail IS the rank-k value,
    * no filter collision at tiny n).
    */
  def sketchQuantileError(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    val wt = Window.partitionBy("event_type")
    val exact = Tables.events(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wt))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        min(when(expr("rn * 100 >= n * 50"), col("value"))).as("p50_exact"),
        min(when(expr("rn * 100 >= n * 95"), col("value"))).as("p95_exact"),
        min(when(expr("rn * 100 >= n * 99"), col("value"))).as("p99_exact"))
    def err(q: Int) =
      s"CAST(floor((p${q}_exact - p${q}_est) * 100) AS BIGINT)"
    exact.join(sketchQuantile(s, dir).drop("n"), Seq("event_type"))
      .withColumn("p50_err_centi", expr(err(50)))
      .withColumn("p95_err_centi", expr(err(95)))
      .withColumn("p99_err_centi", expr(err(99)))
      .select("event_type", "n", "p50_exact", "p50_est", "p50_err_centi",
        "p95_exact", "p95_est", "p95_err_centi",
        "p99_exact", "p99_est", "p99_err_centi")
      .orderBy("event_type")
  }

  val sketchQuantileErrorSql: String = {
    def err(q: Int) =
      s"CAST(floor((p${q}_exact - p${q}_est) * 100) AS BIGINT) AS p${q}_err_centi"
    s"""WITH ranked AS (
       |  SELECT event_type, value,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM events
       |), exact AS (
       |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       |    MIN(CASE WHEN rn * 100 >= n * 50 THEN value END) AS p50_exact,
       |    MIN(CASE WHEN rn * 100 >= n * 95 THEN value END) AS p95_exact,
       |    MIN(CASE WHEN rn * 100 >= n * 99 THEN value END) AS p99_exact
       |  FROM ranked GROUP BY 1
       |), est AS ($sketchQuantileSql)
       |SELECT e.event_type, e.n, p50_exact, p50_est, ${err(50)},
       |  p95_exact, p95_est, ${err(95)},
       |  p99_exact, p99_est, ${err(99)}
       |FROM exact e JOIN est ON e.event_type = est.event_type
       |ORDER BY e.event_type""".stripMargin
  }

  // ---- HLL set operations ------------------------------------------------

  /** the raw-regime HLL estimate from (n_present, numerator) columns —
    * the exact same literal-arithmetic chain as [[sketchHll]].
    */
  private def hllEst(nPresent: String, presentNum: String): String = {
    val num = s"($presentNum + (CAST($HllM AS BIGINT) - $nPresent) * CAST(${1L << (HllWBits + 1)} AS BIGINT))"
    s"floor(${alphaExpr(HllM)} * CAST($HllM AS DOUBLE) * CAST($HllM AS DOUBLE) * CAST(${1L << (HllWBits + 1)} AS DOUBLE) / CAST($num AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"
  }

  /** HLL set operations across groups — the property that makes
    * sketches matter at 100 TB: two groups' sketches MERGE (per-bucket
    * max) into the union's sketch without touching the data again, and
    * inclusion–exclusion turns union estimates into intersection
    * estimates. Here: for every event-type pair, the estimated and
    * exact count of shared active user-days ("days a user did both").
    *
    * Scale shape: the per-type bucket sketches are built once (one
    * partial-agg pass over events); every pair's union sketch derives
    * from those 512-bucket tables — pair work is sketch-sized,
    * corpus-free. The exact intersection (the verification baseline) is
    * the thing that does NOT scale — it self-joins the distinct
    * (type, user_day) grid — which is exactly why the sketch path
    * exists.
    */
  def sketchHllSetops(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type"),
        expr("user_id * 1000003 + ts_us div 86400000000").as("user_day"))
      .withColumn("h0", expr(PortableHash.sparkWordHash("CAST(user_day AS STRING)")))
      .withColumn("h", expr(sparkMix("h0")))
      .withColumn("bucket", expr(s"h % $HllM"))
      .withColumn("rank", expr(s"CASE WHEN h div $HllM = 0 THEN ${HllWBits + 1} ELSE ${HllWBits + 1} - length(bin(h div $HllM)) END"))
    val buckets = Materialize.stable(
      e.groupBy("event_type", "bucket").agg(max("rank").as("mr")))
    def merged(b: DataFrame, keys: Seq[String]): DataFrame =
      b.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n_present"),
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), $HllWBits + 1 - mr)")).as("present_num"))
    val singles = merged(buckets, Seq("event_type"))
      .select(col("event_type"), expr(hllEst("n_present", "present_num")).as("est"))
    val pairs = buckets.select(col("event_type").as("type_a")).distinct()
      .crossJoin(buckets.select(col("event_type").as("type_b")).distinct())
      .filter(col("type_a") < col("type_b"))
    // each pair's union sketch: the pair list joins the bucket table
    // once per side (two EQUI-joins unioned — no nested-loop OR join),
    // then per-bucket max merges the two sketches
    val unionBuckets = pairs
      .join(buckets, col("event_type") === col("type_a"))
      .select(col("type_a"), col("type_b"), col("bucket"), col("mr"))
      .union(pairs
        .join(buckets, col("event_type") === col("type_b"))
        .select(col("type_a"), col("type_b"), col("bucket"), col("mr")))
      .groupBy("type_a", "type_b", "bucket").agg(max("mr").as("mr"))
    val unions = merged(unionBuckets, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"),
        expr(hllEst("n_present", "present_num")).as("est_union"))
    val exact = {
      val d = e.select(col("event_type"), col("user_day")).distinct()
      d.select(col("event_type").as("type_a"), col("user_day"))
        .join(d.select(col("event_type").as("type_b"), col("user_day")), Seq("user_day"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_exact_intersect"))
    }
    unions
      .join(singles.select(col("event_type").as("type_a"), col("est").as("hll_a")), Seq("type_a"))
      .join(singles.select(col("event_type").as("type_b"), col("est").as("hll_b")), Seq("type_b"))
      .join(exact, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        coalesce(col("n_exact_intersect"), lit(0L)).as("n_exact_intersect"),
        col("hll_a"), col("hll_b"), col("est_union").as("hll_union"),
        expr("floor((hll_a + hll_b - est_union) * 1000000) / CAST(1000000 AS DOUBLE)").as("hll_intersect"))
      .orderBy("type_a", "type_b")
  }

  val sketchHllSetopsSql: String = {
    def duckMerged(src: String, keys: String) =
      s"""SELECT $keys, COUNT(*) AS n_present,
         |    CAST(SUM(CAST(1 AS BIGINT) << ($HllWBits + 1 - mr)) AS BIGINT) AS present_num
         |  FROM $src GROUP BY ${(1 to keys.split(",").length).mkString(", ")}"""
        .stripMargin
    def est(np: String, pn: String) = {
      val num = s"($pn + (CAST($HllM AS BIGINT) - $np) * ${1L << (HllWBits + 1)})"
      s"floor(${alphaExpr(HllM)} * CAST($HllM AS DOUBLE) * CAST($HllM AS DOUBLE) * CAST(${1L << (HllWBits + 1)} AS DOUBLE) / CAST($num AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"
    }
    s"""WITH hashed0 AS (
       |  SELECT event_type, user_day,
       |    ${PortableHash.duckWordHash("CAST(user_day AS VARCHAR)")} AS h0
       |  FROM (SELECT event_type, user_id * 1000003 + epoch_us(ts) // 86400000000 AS user_day FROM events) t
       |), hashed AS (
       |  SELECT event_type, user_day, ${duckMix("h0")} AS h FROM hashed0
       |), ranked AS (
       |  SELECT event_type, user_day, h % $HllM AS bucket,
       |    CASE WHEN h // $HllM = 0 THEN ${HllWBits + 1}
       |         ELSE ${HllWBits + 1} - length(bin(h // $HllM)) END AS rank
       |  FROM hashed
       |), buckets AS (
       |  SELECT event_type, bucket, MAX(rank) AS mr FROM ranked GROUP BY 1, 2
       |), singles AS (
       |  SELECT event_type, ${est("n_present", "present_num")} AS est FROM (
       |  ${duckMerged("buckets", "event_type")}) m
       |), pairs AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b
       |  FROM (SELECT DISTINCT event_type FROM buckets) a
       |  CROSS JOIN (SELECT DISTINCT event_type FROM buckets) b
       |  WHERE a.event_type < b.event_type
       |), union_buckets AS (
       |  SELECT p.type_a, p.type_b, k.bucket, MAX(k.mr) AS mr
       |  FROM pairs p JOIN buckets k
       |    ON k.event_type = p.type_a OR k.event_type = p.type_b
       |  GROUP BY 1, 2, 3
       |), unions AS (
       |  SELECT type_a, type_b, ${est("n_present", "present_num")} AS est_union FROM (
       |  ${duckMerged("union_buckets", "type_a, type_b")}) m
       |), exact AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_exact_intersect
       |  FROM (SELECT DISTINCT event_type, user_day FROM hashed) a
       |  JOIN (SELECT DISTINCT event_type, user_day FROM hashed) b
       |    ON a.user_day = b.user_day AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT u.type_a, u.type_b,
       |  COALESCE(x.n_exact_intersect, 0) AS n_exact_intersect,
       |  sa.est AS hll_a, sb.est AS hll_b, u.est_union AS hll_union,
       |  floor((sa.est + sb.est - u.est_union) * 1000000) / CAST(1000000 AS DOUBLE) AS hll_intersect
       |FROM unions u
       |JOIN singles sa ON sa.event_type = u.type_a
       |JOIN singles sb ON sb.event_type = u.type_b
       |LEFT JOIN exact x ON x.type_a = u.type_a AND x.type_b = u.type_b
       |ORDER BY u.type_a, u.type_b""".stripMargin
  }

  // ---- source vocabulary similarity: MinHash estimate vs exact ----------

  /** Slots in the source-level MinHash signature — more than the doc
    * dedup signature (12) because source vocabularies are large and
    * the estimate is graded against the exact answer in the output.
    */
  val SourceSimK = 24

  /** Pairwise vocabulary similarity between sources — "which corpus
    * slices say the same things" — as BOTH the exact Jaccard and a
    * [[SourceSimK]]-slot MinHash estimate side by side (the sketch
    * audit shape sketch_hll_setops uses for distinct counts).
    *
    * Scale shape: the corpus collapses to the distinct (source,
    * word-hash) vocabulary grid map-side; the exact pair pass is an
    * inverted-index join on the hash (volume Σ_word |sources(word)|² ≤
    * |sources|²/word); the sketch pass carries |sources|×K signature
    * rows — at 100 TB you keep the sketch pass and sample the exact
    * one, and the estimate column is the evidence you can. Integer
    * mins end to end; two floored divisions at output.
    */
  def sourceSimilarity(s: SparkSession, dir: String): DataFrame =
    sourceSimilarityFor(Tables.documents(s, dir).select("source", "text"), SourceSimK)
      .orderBy("source_a", "source_b")

  /** [[sourceSimilarity]] over ANY (source, text) frame with a
    * caller-chosen signature width — the library entry point
    * (api.CorpusOps.groupSimilarity).
    */
  def sourceSimilarityFor(docs: DataFrame, k: Int): DataFrame = {
    val grid = Materialize.stable(docs
      .select(col("source"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .select(col("source"), expr(PortableHash.sparkWordHash("w")).as("wh"))
      .distinct())
    val sizes = grid.groupBy("source").agg(count(lit(1)).as("n_vocab"))
    val exact = grid.as("a").join(grid.as("b"),
        col("a.wh") === col("b.wh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    val sig = grid
      .withColumn("i", explode(expr(s"sequence(0, ${k - 1})")))
      .groupBy("source", "i")
      .agg(min(expr(s"(${PortableHash.aCoef("i")} * wh + ${PortableHash.bCoef("i")}) % $P")).as("mh"))
    val est = sig.as("x").join(sig.as("y"),
        col("x.i") === col("y.i") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(sum(when(col("x.mh") === col("y.mh"), 1L).otherwise(0L)).as("n_slots_match"))
    est
      .join(exact, Seq("source_a", "source_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .join(sizes.select(col("source").as("source_a"), col("n_vocab").as("n_a")), Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n_vocab").as("n_b")), Seq("source_b"))
      .withColumn("jaccard_exact", expr(
        "floor(CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .withColumn("jaccard_est", expr(
        s"floor(CAST(n_slots_match AS DOUBLE) / CAST($k AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .select("source_a", "source_b", "n_a", "n_b", "n_common",
        "jaccard_exact", "n_slots_match", "jaccard_est")
  }

  val sourceSimilaritySql: String =
    s"""WITH grid AS (
       |  SELECT DISTINCT source, ${PortableHash.duckWordHash("w")} AS wh FROM (
       |    SELECT source, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
       |    FROM documents) t
       |), sizes AS (
       |  SELECT source, COUNT(*) AS n_vocab FROM grid GROUP BY 1
       |), exact AS (
       |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
       |  FROM grid a JOIN grid b ON a.wh = b.wh AND a.source < b.source
       |  GROUP BY 1, 2
       |), sig AS (
       |  SELECT source, i.i AS i,
       |    MIN((${PortableHash.aCoef("i.i")} * wh + ${PortableHash.bCoef("i.i")}) % $P) AS mh
       |  FROM grid CROSS JOIN (SELECT unnest(range(0, $SourceSimK)) AS i) i
       |  GROUP BY 1, 2
       |), est AS (
       |  SELECT x.source AS source_a, y.source AS source_b,
       |    CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_slots_match
       |  FROM sig x JOIN sig y ON x.i = y.i AND x.source < y.source
       |  GROUP BY 1, 2
       |)
       |SELECT e.source_a, e.source_b, sa.n_vocab AS n_a, sb.n_vocab AS n_b,
       |  COALESCE(x.n_common, 0) AS n_common,
       |  floor(CAST(COALESCE(x.n_common, 0) AS DOUBLE)
       |    / CAST(sa.n_vocab + sb.n_vocab - COALESCE(x.n_common, 0) AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) AS jaccard_exact,
       |  e.n_slots_match,
       |  floor(CAST(e.n_slots_match AS DOUBLE) / CAST($SourceSimK AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) AS jaccard_est
       |FROM est e
       |LEFT JOIN exact x ON x.source_a = e.source_a AND x.source_b = e.source_b
       |JOIN sizes sa ON sa.source = e.source_a
       |JOIN sizes sb ON sb.source = e.source_b
       |ORDER BY e.source_a, e.source_b""".stripMargin

  val SlidingWindowDays = 7

  /** 7-day sliding distinct users per day — rolling reach — via
    * MERGEABLE per-day HLL sketches, graded in-row against the exact
    * recount. This is THE query shape that justifies sketches at
    * 100 TB: exact rolling distinct must re-touch every event in the
    * window for every window (7× the corpus per sweep, and distinct
    * counts don't decompose — yesterday's exact count is unusable),
    * while the sketch path builds ONE 512-bucket sketch per day (a
    * (day, bucket) partial agg over the scan) and each window is then a
    * bucket-wise max of ≤7 day sketches — window cost is days·512 rows,
    * corpus-free, and the same daily sketches serve any window length.
    *
    * Output per present day d: the window [d−6, d] day count, the
    * sketch internals (n_present, numerator — pins the merge, not just
    * the estimate), the raw-regime HLL estimate, the exact distinct
    * (audit-path: a 7× offset-explode of the distinct (day, user)
    * frame — the cost the sketch path avoids), and the signed error in
    * ppm. Same portable integer sketch as [[sketchHll]]; the estimate
    * division is one fixed-shape double op, floor-quantized.
    */
  def sketchHllSliding(s: SparkSession, dir: String): DataFrame =
    hllSlidingFor(Tables.events(s, dir)
      .select(expr("ts_us div 86400000000").as("day"),
        expr("CAST(user_id AS STRING)").as("key")))

  /** the sliding-reach sketch over ANY (day: BIGINT, key: STRING)
    * activity frame — the library entry point (keys are hashed with
    * the portable kernel, so any id type cast to string works).
    */
  /** splitmix-style avalanche finisher over the 31-bit poly hash,
    * masked back to 31 bits — portable integer ops only (xor, shifts
    * as div, multiply bounded < 2⁶³, mod 2³²). The poly-31 hash of
    * SHORT DECIMAL STRINGS (sequential ids) is badly non-uniform in
    * its low bits: measured at sf0.1, 1500 distinct keys hit only
    * 435/512 buckets (Poisson expects 485), deflating linear counting
    * −35%; with this finisher they hit 488 and LC lands +4.5%, and the
    * raw regime at 10⁵ keys lands −1.8%. A bare multiplicative
    * bijection is NOT enough (measured: over-disperses to 509 buckets
    * → LC +75%); the double xor-shift-multiply is what restores
    * Poisson-like occupancy.
    */
  private def sparkMix(h: String): String = {
    val m1 = s"(($h ^ shiftright($h, 16)) * 73244475) % 4294967296"
    val m2 = s"((($m1) ^ shiftright(($m1), 16)) * 73244475) % 4294967296"
    s"(((($m2) ^ shiftright(($m2), 16))) % 2147483648)"
  }
  private def duckMix(h: String): String = {
    val m1 = s"(xor($h, $h >> 16) * 73244475) % 4294967296"
    val m2 = s"(xor(($m1), ($m1) >> 16) * 73244475) % 4294967296"
    s"(xor(($m2), ($m2) >> 16) % 2147483648)"
  }

  def hllSlidingFor(e: DataFrame): DataFrame = {
    val off = expr(s"explode(sequence(0, ${SlidingWindowDays - 1}))")
    val hashed = e
      .withColumn("h0", expr(PortableHash.sparkWordHash("key")))
      .withColumn("h", expr(sparkMix("h0")))
      .select(col("day"), expr(s"h % $HllM").as("bucket"),
        expr(s"CASE WHEN h div $HllM = 0 THEN ${HllWBits + 1} " +
          s"ELSE ${HllWBits + 1} - length(bin(h div $HllM)) END").as("rank"))
    val daily = Materialize.stable(
      hashed.groupBy("day", "bucket").agg(max("rank").as("mr")))
    val days = Materialize.stable(daily.select("day").distinct())
    val ends = days.select(col("day").as("wday"))
    // merge: every day sketch feeds the ≤7 windows that contain it
    // (generators can't nest in expressions — explode first, then add)
    val win = daily.select(col("day"), col("bucket"), col("mr"), off.as("o"))
      .select((col("day") + col("o")).as("wday"), col("bucket"), col("mr"))
      .join(ends, Seq("wday"))
      .groupBy("wday", "bucket").agg(max("mr").as("mr"))
    // hybrid estimator: linear counting m·ln(m/n_zero) while ANY
    // bucket is empty; the raw harmonic estimate once the register
    // saturates. Flajolet's 2.5m raw cutoff was measured WRONG here:
    // at sf0.1 (reach ≈ 1.5k ≈ 3m) the raw estimate ran +65% while LC
    // held ≈ 6% — the 2.5m..saturation transition is raw HLL's known
    // bias zone (HLL++ ships empirical bias tables for exactly this
    // band; LC-until-saturation is the table-free fix, worst ~14% just
    // before saturation, and a saturated register means n ≫ 5m where
    // raw is accurate). ln is ONE fixed-shape double op floor-quantized
    // to micros (the source_kl_drift discipline) and its argument takes
    // ≤ m distinct values, so both engines evaluate ln on identical
    // doubles.
    val rawExpr =
      s"${alphaExpr(HllM)} * CAST($HllM AS DOUBLE) * CAST($HllM AS DOUBLE) * CAST(${1L << (HllWBits + 1)} AS DOUBLE) / CAST(numerator AS DOUBLE)"
    val est = win.groupBy("wday")
      .agg(count(lit(1)).as("n_present"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $HllWBits + 1 - mr)")).as("present_num"))
      .withColumn("numerator",
        expr(s"present_num + (CAST($HllM AS BIGINT) - n_present) * CAST(${1L << (HllWBits + 1)} AS BIGINT)"))
      .withColumn("raw_est", expr(s"floor(($rawExpr) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .withColumn("regime", expr(
        s"CASE WHEN n_present < $HllM THEN 'lc' ELSE 'raw' END"))
      .withColumn("hll_estimate", expr(
        s"CASE WHEN regime = 'lc' THEN floor(CAST($HllM AS DOUBLE) * ln(CAST($HllM AS DOUBLE) / CAST($HllM - n_present AS DOUBLE)) * 1000000) / CAST(1000000 AS DOUBLE) ELSE raw_est END"))
      .select("wday", "n_present", "numerator", "regime", "hll_estimate")
    val nDays = days.select(col("day"), off.as("o"))
      .select((col("day") + col("o")).as("wday"))
      .join(ends, Seq("wday"))
      .groupBy("wday").agg(count(lit(1)).as("n_window_days"))
    val exact = e.distinct()
      .select(col("day"), col("key"), off.as("o"))
      .select((col("day") + col("o")).as("wday"), col("key"))
      .join(ends, Seq("wday"))
      .groupBy("wday").agg(countDistinct("key").as("n_exact"))
    est.join(nDays, Seq("wday")).join(exact, Seq("wday"))
      .withColumn("err_ppm", expr(
        "CAST(floor((hll_estimate - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) * 1000000) AS BIGINT)"))
      .select(expr("date_add(DATE'1970-01-01', CAST(wday AS INT))").as("window_end"),
        col("n_window_days"), col("n_present"), col("numerator"), col("regime"),
        col("hll_estimate"), col("n_exact"), col("err_ppm"))
      .orderBy("window_end")
  }

  val sketchHllSlidingSql: String =
    s"""WITH e AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events
       |), hashed AS (
       |  SELECT day, h % $HllM AS bucket,
       |    CASE WHEN h // $HllM = 0 THEN ${HllWBits + 1}
       |         ELSE ${HllWBits + 1} - length(bin(h // $HllM)) END AS rank
       |  FROM (SELECT day, ${duckMix("h0")} AS h FROM (SELECT day,
       |    ${PortableHash.duckWordHash("CAST(user_id AS VARCHAR)")} AS h0 FROM e) t0) t
       |), daily AS (
       |  SELECT day, bucket, MAX(rank) AS mr FROM hashed GROUP BY 1, 2
       |), days AS (
       |  SELECT DISTINCT day FROM daily
       |), offs AS (
       |  SELECT unnest(range(0, $SlidingWindowDays)) AS o
       |), win AS (
       |  SELECT d.day + os.o AS wday, d.bucket, MAX(d.mr) AS mr
       |  FROM daily d, offs os
       |  JOIN days e2 ON d.day + os.o = e2.day
       |  GROUP BY 1, 2
       |), est0 AS (
       |  SELECT wday, COUNT(*) AS n_present,
       |    CAST(SUM(CAST(1 AS BIGINT) << ($HllWBits + 1 - mr)) AS BIGINT)
       |      + (CAST($HllM AS BIGINT) - COUNT(*)) * ${1L << (HllWBits + 1)} AS numerator
       |  FROM win GROUP BY 1
       |), est AS (
       |  SELECT wday, n_present, numerator,
       |    CASE WHEN n_present < $HllM THEN 'lc' ELSE 'raw' END AS regime,
       |    CASE WHEN n_present < $HllM
       |      THEN floor(CAST($HllM AS DOUBLE) * ln(CAST($HllM AS DOUBLE) / CAST($HllM - n_present AS DOUBLE)) * 1000000) / CAST(1000000 AS DOUBLE)
       |      ELSE floor((${alphaExpr(HllM)} * CAST($HllM AS DOUBLE) * CAST($HllM AS DOUBLE) * CAST(${1L << (HllWBits + 1)} AS DOUBLE) / CAST(numerator AS DOUBLE)) * 1000000) / CAST(1000000 AS DOUBLE)
       |    END AS hll_estimate
       |  FROM est0
       |), ndays AS (
       |  SELECT d.day + os.o AS wday, CAST(COUNT(*) AS BIGINT) AS n_window_days
       |  FROM days d, offs os
       |  JOIN days e2 ON d.day + os.o = e2.day
       |  GROUP BY 1
       |), exact AS (
       |  SELECT du.day + os.o AS wday, COUNT(DISTINCT du.user_id) AS n_exact
       |  FROM (SELECT DISTINCT day, user_id FROM e) du, offs os
       |  JOIN days e2 ON du.day + os.o = e2.day
       |  GROUP BY 1
       |)
       |SELECT DATE '1970-01-01' + CAST(est.wday AS INT) AS window_end,
       |  n.n_window_days, est.n_present, est.numerator, est.regime, est.hll_estimate,
       |  x.n_exact,
       |  CAST(floor((est.hll_estimate - CAST(x.n_exact AS DOUBLE)) / CAST(x.n_exact AS DOUBLE) * 1000000) AS BIGINT) AS err_ppm
       |FROM est JOIN ndays n ON est.wday = n.wday JOIN exact x ON est.wday = x.wday
       |ORDER BY window_end""".stripMargin

  // ---- KLL-style deterministic compactor quantile sketch -----------------

  /** per-level buffer capacity of the [[kllState]] compactor. */
  val KllCapacity = 32L

  /** static rung count in the DuckDB oracle replay — enough for
    * [[KllCapacity]]·2²⁴ ≈ 5×10⁸ items per group; rungs past
    * convergence are no-ops (no level exceeds capacity), so the
    * Spark side running exactly the needed rungs matches bit-for-bit.
    */
  val KllOracleLevels = 24

  /** ONE deterministic compaction rung over a KLL state frame
    * (group, cents, tie, lvl): every (group, lvl) buffer over
    * [[KllCapacity]] ranks its items by (cents, tie), pairs
    * consecutive ranks, and promotes one survivor per pair to lvl+1
    * (weight doubles implicitly — weight IS 2^lvl); the unpaired
    * leftover of an odd buffer stays at lvl. The kept pair element
    * alternates with level parity (rank%2 == 1−lvl%2) — the classic
    * deterministic de-biasing coin, portable because it depends only
    * on rank. Items promoted into an occupied level MERGE with it —
    * which is exactly why two independently-built states can be
    * unioned and re-compacted (mergeability; total weight Σ2^lvl is
    * conserved by construction: a (w, w) pair becomes one 2w item).
    */
  private[graft] def kllCompactRung(state: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCnt = Window.partitionBy("event_type", "lvl")
    val wOrd = Window.partitionBy("event_type", "lvl").orderBy("cents", "tie")
    val paired = col("rk") <= col("cnt") - pmod(col("cnt"), lit(2L))
    state
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .withColumn("rk", row_number().over(wOrd).cast("long"))
      .filter(col("cnt") <= KllCapacity || !paired ||
        pmod(col("rk"), lit(2L)) === lit(1L) - pmod(col("lvl"), lit(2L)))
      .select(col("event_type"), col("cents"), col("tie"),
        when(col("cnt") > KllCapacity && paired, col("lvl") + 1L)
          .otherwise(col("lvl")).as("lvl"))
  }

  /** Compact ANY (event_type, cents, tie, lvl) item frame to a fixed
    * point — no (group, level) buffer over capacity. The rungs climb a
    * [[Ladder.fixpoint]], which checkpoints each one so the plan stays
    * flat, and the loop stops on a COUNT fixpoint (compaction strictly
    * shrinks the state, so rungs ≈ log₂(n/K) and the convergence read
    * is one shuffle-free agg per rung). Library entry point: the
    * MERGE of two sketches is `kllState(a.union(b))` — union the
    * states, re-compact (the error bound, not the exact state, is the
    * merge invariant; OperatorInvariantSpec grades a split-corpus
    * merge against the same rank-error bar as the one-shot build).
    */
  def kllState(items: DataFrame): DataFrame = {
    // convergence by COUNT FIXPOINT, not a per-rung group census: a
    // rung that compacts anything strictly shrinks the item count (an
    // over-capacity level loses (cnt - cnt%2)/2 ≥ 16 items), and a rung
    // that shrinks nothing passes every row through untouched — so
    // "count unchanged" ⟺ "no (group, level) buffer over capacity", and
    // the (count, max level) census repeats exactly at the fixpoint.
    // The census is therefore ONE shuffle-free agg over the
    // already-checkpointed rung output (the old groupBy census paid a
    // key shuffle per rung), at the price of one trailing no-op rung.
    //
    // round 16: the INITIAL state is the raw item frame — corpus-sized,
    // flat-planned (a scan projection or a union of two states), and
    // referenced twice (census + rung 1). A lineage-truncating
    // checkpoint here wrote the whole corpus as rung-0 state, so the
    // seed is a lazy persist instead (the ladder's `persistSeed`),
    // serving both references from one computation; the rungs still
    // checkpoint — they are the frames the self-referencing loop would
    // otherwise re-expand.
    val (state, census) = Ladder.fixpoint("kllState", items, 64, persistSeed = true)(
      kllCompactRung) { df =>
      val r = df.agg(count(lit(1)), coalesce(max(col("lvl")), lit(0L))).head()
      Some((r.getLong(0), r.getLong(1)))
    }
    val maxLvl = census.fold(0L)(_._2)
    // fail LOUD where the oracle-replayability precondition breaks
    // instead of silently returning a state DuckDB cannot reproduce:
    // past ~capacity·2^KllOracleLevels items per group the static
    // oracle replay runs out of rungs (the ladder's convergence require
    // is the same discipline).
    require(maxLvl <= KllOracleLevels,
      s"kllState: max level $maxLvl exceeds the $KllOracleLevels-rung oracle replay")
    state
  }

  /** Executor-local spelling of the SAME rung semantics as
    * [[kllCompactRung]] — the production path ([[kllState]]'s scaladoc:
    * "runs the same compactor executor-local over stream chunks and
    * merges") and the kernel of the `stream_kll` keyed-state twin:
    * every over-capacity level compacts SIMULTANEOUSLY per rung
    * (sort by (cents, tie), pair consecutive ranks, promote the
    * parity-kept survivor, odd leftover stays), promotions merge into
    * the next level, repeat to fixpoint. Items are (cents, tie, lvl);
    * output is canonically sorted so state bytes are deterministic
    * under any input order.
    */
  private[graft] def kllCompactLocal(items: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] = {
    var cur = items
    var rung = 0
    var changed = true
    while (changed && rung < 64) {
      changed = false
      val next = Seq.newBuilder[(Long, Long, Long)]
      cur.groupBy(_._3).foreach { case (lvl, rows) =>
        if (rows.size <= KllCapacity) next ++= rows
        else {
          changed = true
          val sorted = rows.sortBy(r => (r._1, r._2))
          val cnt = sorted.size.toLong
          val keepParity = 1L - (lvl % 2L)
          sorted.zipWithIndex.foreach { case ((c, t, _), i) =>
            val rk = i + 1L
            if (rk > cnt - cnt % 2) next += ((c, t, lvl)) // odd leftover stays
            else if (rk % 2 == keepParity) next += ((c, t, lvl + 1))
          }
        }
      }
      cur = next.result()
      rung += 1
    }
    require(!changed, s"kllCompactLocal: no fixpoint within $rung rungs")
    cur.sortBy(r => (r._3, r._1, r._2))
  }

  private def kllItems(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_type"),
      expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
      col("event_id").as("tie"), lit(0L).as("lvl"))

  /** The KLL-style mergeable RANK-error quantile sketch —
    * [[sketchQuantile]]'s 0.1-wide integer bins assume a known bounded
    * value range; the compactor does not (production telemetry has
    * none): per event type, items enter at level 0 / weight 1 and
    * deterministic pair compaction (see [[kllCompactRung]]) halves any
    * over-capacity level into the next, so the retained state is
    * ≤ [[KllCapacity]] + log₂(n) weighted order statistics whose rank
    * error is capacity-bounded regardless of the value distribution.
    * Output = the per-(type, level) state digest: item count, weight
    * (2^lvl), Σ/min/max cents and a portable checksum — the exact
    * state, oracle-replayed level by level.
    *
    * Contract honesty: THIS query materializes the compactor
    * deterministically with per-(type, level) rank windows — the
    * exact-order-statistic price (events_median_exact's documented
    * contract), paid so the DuckDB oracle can replay compaction
    * bit-for-bit (audit tier). The production path runs the SAME
    * compactor executor-local over stream chunks and merges states
    * (union + re-compact, [[kllState]]); its state differs item-wise
    * but obeys the identical capacity/weight invariants and rank-error
    * bound — that path is graded in OperatorInvariantSpec's
    * split-merge test against [[sketchKllError]]'s bar.
    */
  def sketchKll(s: SparkSession, dir: String): DataFrame =
    kllState(kllItems(s, dir))
      .groupBy(col("event_type"), col("lvl"))
      .agg(count(lit(1)).as("n_items"),
        sum("cents").as("sum_cents"),
        min("cents").as("min_cents"),
        max("cents").as("max_cents"),
        sum(expr("pmod(cents * 1000003 + tie, 1000000007)")).as("chk"))
      .select(col("event_type"), col("lvl"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(lvl AS INT))").as("weight"),
        col("n_items"), col("sum_cents"), col("min_cents"), col("max_cents"), col("chk"))
      .orderBy("event_type", "lvl")

  /** shared oracle replay: items at level 0 → [[KllOracleLevels]]
    * chained compaction rungs (each a rank window over the shrinking
    * state; rungs past convergence are no-ops).
    */
  private val duckKllState: String = {
    val rungs = (1 to KllOracleLevels).map { r =>
      s"""l$r AS (
         |  SELECT event_type, cents, tie,
         |    CASE WHEN cnt > $KllCapacity AND rk <= cnt - cnt % 2
         |         THEN lvl + 1 ELSE lvl END AS lvl
         |  FROM (
         |    SELECT event_type, cents, tie, lvl,
         |      CAST(COUNT(*) OVER (PARTITION BY event_type, lvl) AS BIGINT) AS cnt,
         |      CAST(ROW_NUMBER() OVER (PARTITION BY event_type, lvl
         |        ORDER BY cents, tie) AS BIGINT) AS rk
         |    FROM l${r - 1}) t
         |  WHERE cnt <= $KllCapacity OR rk > cnt - cnt % 2
         |     OR rk % 2 = 1 - lvl % 2
         |)""".stripMargin
    }.mkString(", ")
    s"""l0 AS (
       |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
       |    event_id AS tie, CAST(0 AS BIGINT) AS lvl
       |  FROM events
       |), $rungs""".stripMargin
  }

  val sketchKllSql: String =
    s"""WITH $duckKllState
       |SELECT event_type, lvl,
       |  (CAST(1 AS BIGINT) << CAST(lvl AS INT)) AS weight,
       |  CAST(COUNT(*) AS BIGINT) AS n_items,
       |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
       |  MIN(cents) AS min_cents, MAX(cents) AS max_cents,
       |  CAST(SUM(((cents * 1000003 + tie) % 1000000007 + 1000000007) % 1000000007) AS BIGINT) AS chk
       |FROM l$KllOracleLevels
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** the three graded quantiles, in ppm of the rank axis. */
  val KllQuantilesPpm: Seq[Long] = Seq(500000L, 950000L, 990000L)

  /** The sketch's acceptance gate (sketch_quantile_error's idiom on
    * the RANK axis, where KLL's guarantee actually lives): estimate
    * p50/p95/p99 from the weighted state (smallest item whose
    * cumulative weight reaches ⌈q·W⌉), then grade each estimate by its
    * TRUE rank interval in the corpus — err = distance from the target
    * rank to [count(<est)+1, count(≤est)], 0 when the target falls
    * inside (ties make rank an interval), in ppm of n. All integer:
    * rank targets ceil-divide in BIGINT, the corpus-side rank count is
    * one broadcast of the 3·|types| estimate rows onto a single scan.
    * Audit tier (the state build pays the oracle-replayable
    * materialization; the grade pays one exact corpus rank pass).
    */
  def sketchKllError(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val state = kllState(kllItems(s, dir))
      .withColumn("weight", expr("shiftleft(CAST(1 AS BIGINT), CAST(lvl AS INT))"))
    val wOrd = Window.partitionBy("event_type").orderBy("cents", "tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val cum = state
      .withColumn("cumw", sum("weight").over(wOrd))
      .withColumn("w_total", sum("weight").over(wAll))
    val qs = KllQuantilesPpm.map { q =>
      cum.groupBy("event_type")
        .agg(max("w_total").as("n"),
          min(when(col("cumw") * 1000000L >= col("w_total") * q, col("cents"))).as("est_cents"))
        .select(col("event_type"), lit(q).as("q_ppm"), col("n"),
          expr(s"(n * $q + 999999) div 1000000").as("target_rank"), col("est_cents"))
    }.reduce(_ union _)
    Tables.events(s, dir)
      .select(col("event_type"), expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      .join(broadcast(qs), Seq("event_type"))
      .groupBy("event_type", "q_ppm")
      .agg(max("n").as("n"), max("target_rank").as("target_rank"),
        max("est_cents").as("est_cents"),
        (sum(when(col("cents") < col("est_cents"), 1L).otherwise(0L)) + 1L).as("rank_lo"),
        sum(when(col("cents") <= col("est_cents"), 1L).otherwise(0L)).as("rank_hi"))
      .withColumn("rank_err_ppm", expr(
        """CASE WHEN target_rank BETWEEN rank_lo AND rank_hi THEN CAST(0 AS BIGINT)
          |ELSE least(abs(target_rank - rank_lo), abs(target_rank - rank_hi)) * 1000000 div n END"""
          .stripMargin.replaceAll("\\s+", " ")))
      .select("event_type", "q_ppm", "n", "target_rank", "est_cents",
        "rank_lo", "rank_hi", "rank_err_ppm")
      .orderBy("event_type", "q_ppm")
  }

  val sketchKllErrorSql: String = {
    val qVals = KllQuantilesPpm.map(q => s"(CAST($q AS BIGINT))").mkString(", ")
    s"""WITH $duckKllState, cum AS (
       |  SELECT event_type, cents,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST(lvl AS INT)) OVER (PARTITION BY event_type
       |      ORDER BY cents, tie ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST(lvl AS INT)) OVER (PARTITION BY event_type) AS BIGINT) AS w_total
       |  FROM l$KllOracleLevels
       |), qs AS (
       |  SELECT event_type, q.q_ppm, MAX(w_total) AS n,
       |    (MAX(w_total) * q.q_ppm + 999999) // 1000000 AS target_rank,
       |    MIN(CASE WHEN cumw * 1000000 >= w_total * q.q_ppm THEN cents END) AS est_cents
       |  FROM cum CROSS JOIN (SELECT * FROM (VALUES $qVals) v(q_ppm)) q
       |  GROUP BY 1, 2
       |), graded AS (
       |  SELECT e.event_type, q.q_ppm, MAX(q.n) AS n, MAX(q.target_rank) AS target_rank,
       |    MAX(q.est_cents) AS est_cents,
       |    CAST(SUM(CASE WHEN CAST(floor(e.value * 100) AS BIGINT) < q.est_cents
       |      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS rank_lo,
       |    CAST(SUM(CASE WHEN CAST(floor(e.value * 100) AS BIGINT) <= q.est_cents
       |      THEN 1 ELSE 0 END) AS BIGINT) AS rank_hi
       |  FROM events e JOIN qs q USING (event_type)
       |  GROUP BY 1, 2
       |)
       |SELECT event_type, q_ppm, n, target_rank, est_cents, rank_lo, rank_hi,
       |  CASE WHEN target_rank BETWEEN rank_lo AND rank_hi THEN CAST(0 AS BIGINT)
       |       ELSE least(abs(target_rank - rank_lo), abs(target_rank - rank_hi)) * 1000000 // n END
       |    AS rank_err_ppm
       |FROM graded ORDER BY event_type, q_ppm""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_kll" -> (sketchKll _),
    "sketch_kll_error" -> (sketchKllError _),
    "sketch_hll_sliding" -> (sketchHllSliding _),
    "sketch_hll_setops" -> (sketchHllSetops _),
    "sketch_hll" -> (sketchHll _),
    "sketch_cms" -> (sketchCms _),
    "sketch_bloom" -> (sketchBloom _),
    "sketch_bloom_fpr" -> (sketchBloomFpr _),
    "sketch_quantile" -> (sketchQuantile _),
    "sketch_quantile_error" -> (sketchQuantileError _),
    "source_similarity" -> (sourceSimilarity _))

  val oracles: Map[String, String] = Map(
    "sketch_kll" -> sketchKllSql,
    "sketch_kll_error" -> sketchKllErrorSql,
    "sketch_hll_sliding" -> sketchHllSlidingSql,
    "sketch_hll_setops" -> sketchHllSetopsSql,
    "sketch_hll" -> sketchHllSql,
    "sketch_cms" -> sketchCmsSql,
    "sketch_bloom" -> sketchBloomSql,
    "sketch_bloom_fpr" -> sketchBloomFprSql,
    "sketch_quantile" -> sketchQuantileSql,
    "sketch_quantile_error" -> sketchQuantileErrorSql,
    "source_similarity" -> sourceSimilaritySql)
}
