package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * prints one JSON line of per-query seconds. A warmup action first —
  * session/codegen/parquet-footer costs land there, not on whichever
  * query the map happens to iterate first.
  */
object Bench {
  /** Five timed runs per query, report the MEDIAN — the min hides
    * cache-placement luck and the mean is polluted by one-off JIT/GC
    * stalls; at the 0.1-1s per-query scale those artifacts are ±60%
    * (round-2's "content_type regression" was exactly this). The
    * per-query relative spread (max-min)/median is emitted alongside so
    * a cross-round delta is adjudicable as signal vs jitter without
    * re-running.
    *
    * Adjudication rule (measured on clean back-to-back runs): the TOTAL
    * is reproducible to ~2%; sub-second per-query medians still move up
    * to ~30% run-to-run (shared-JVM JIT/GC placement). Treat a
    * cross-round per-query delta as signal only when it exceeds the
    * query's own emitted spread AND the query is ≥1s, or when the total
    * moves.
    *
    * The emitted spread is TRIMMED — (2nd-highest − 2nd-lowest)/median
    * over the five runs — because with a single extreme the raw
    * (max−min)/median only measures C2-JIT placement of the HOF-heavy
    * kernels (round-5 verdict: corpus_bigrams spread 4.2, knn_bruteforce
    * 3.6, on 0.3s medians), which makes cross-round benchdiff
    * meaningless on exactly the keys it should guard. One extreme run
    * never moves the median either, so the trimmed band is the honest
    * "could the median have moved this much by luck" envelope. A SECOND
    * untimed warmup also runs before the clock starts — profile-driven
    * C2 recompilation usually lands during run 1 of 5 otherwise.
    */
  val Runs = 5

  /** Session warm-up before the first timed query: session, codegen and
    * parquet-footer costs land here, not on whichever query runs first.
    * Guarded: a table-level failure (e.g. a testdata layout change, the
    * round-7 rc=1) must degrade to per-query -1s, never kill the run
    * before the first timed query.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    Seq[SparkSession => org.apache.spark.sql.DataFrame](
      sources.Tables.lineitem(_, sfDir), sources.Tables.events(_, sfDir),
      sources.Tables.documents(_, sfDir))
      .foreach(f => try f(spark).count() catch {
        case t: Throwable => System.err.println(s"[bench] warmup failed: $t")
      })

  /** `Runs` timed seconds, sorted, and the Janino compiles they paid. */
  case class Timed(seconds: Seq[Double], compiles: Long)

  /** The one timing loop, shared by the suite, the control keys and
    * [[graft.tools.BenchProbe]]: the `Runs` timed `count()`s of `name`,
    * or None when a timed run throws.
    */
  def time(spark: SparkSession, sfDir: String, name: String): Option[Timed] = {
    val fn = SparkEntry.queries(name)
    // drop the PREVIOUS query's Materialize.stable blocks before this
    // query starts: across 100+ queries the CacheManager otherwise
    // accumulates every persisted plan in one JVM, and each later query
    // pays plan-cache lookup + disk-cache pressure for all of them
    // (round-4's 12-query "regression" on untouched code was exactly
    // this accumulation, not any plan change)
    spark.catalog.clearCache()
    // two UNTIMED warmups per query: codegen compilation + the
    // CacheManager materialization of any Materialize.stable state
    // land in the first; profile-driven C2 recompilation of the
    // HOF-heavy kernels lands in the second — so the timed runs
    // measure steady-state throughput, the number a long-lived
    // cluster actually sees. Codegen stays in the first warm-up only
    // because GraftSession.codegenCache holds a whole pass: with
    // Spark's 100-entry default a key needing more classes than that
    // compiled again on every timed run (bench.json's codegen_compiles)
    try { fn(spark, sfDir).count(); fn(spark, sfDir).count() }
    catch { case _: Throwable => () }
    // drain inherited allocation debt so the string-heavy queries
    // don't pay the PREVIOUS query's GC on their own clock
    System.gc()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val times = (1 to Runs).map { _ =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case t: Throwable =>
        System.err.println(s"[bench] $name FAILED: $t"); Double.NaN }
    }
    if (times.exists(_.isNaN)) None
    else Some(Timed(times.sorted, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark: SparkSession = GraftSession.build("graft-bench")
    warmup(spark, sfDir)
    val results = SparkEntry.queries.map { case (name, _) =>
      // a failed query reports -1, never its time-to-fail
      time(spark, sfDir, name).fold(name -> (-1.0, 0.0, -1L)) { case Timed(sorted, compiles) =>
        val med = sorted(Runs / 2)
        // trimmed spread: drop the single highest and lowest run
        name -> (med,
          if (med > 0) (sorted(Runs - 2) - sorted(1)) / med else 0.0, compiles)
      }
    }
    // CONTROL KEYS, re-measured at a FIXED position (end of suite, same
    // protocol: cache-clear, two untimed warmups, five timed runs,
    // median) — the host-noise adjudication written INTO the artifact.
    // A contended-host run inflates the controls by the same factor as
    // the totals (round-11's 1.6× driver artifact needed manual solo
    // probes to prove that); with the controls in-band, a uniform drift
    // is machine-readable: compare control medians across rounds before
    // believing any total. Keys cover both tiers and all three shapes:
    // q_rollup (shuffle agg) and glob_match (scan + regex) are
    // sub-second CONTRACT-tier probes; dedup_banding_sweep is a stable
    // multi-second AUDIT-tier probe — round 13 proved the sub-second
    // controls are blind to bursts that land on the long-running audit
    // keys (the driver's 241s artifact had CLEAN contract controls
    // while the audit tier ran 1.86×; adjudication needed out-of-band
    // reruns). A clean contract control + an inflated audit control
    // now reads "audit-window host burst" from the artifact alone.
    val controlKeys = Seq("q_rollup", "glob_match", "dedup_banding_sweep")
    val controls = controlKeys.map { name =>
      name -> time(spark, sfDir, name).fold(-1.0)(_.seconds(Runs / 2))
    }
    val controlJson = controls
      .map { case (k, m) => "\"" + k + "\":" + (if (m < 0) "-1" else f"$m%.6f") }
      .mkString("{", ",", "}")
    def jnum(v: Double, fmt: String) = if (v == -1.0) "-1" else fmt.format(v)
    def qmap(fmt: String) = results
      .map { case (k, (m, _, _)) => s"\"" + k + "\":" + jnum(m, fmt) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, (_, sp, _)) => s"\"" + k + "\":" + f"$sp%.3f" }
      .mkString("{", ",", "}")
    // Janino compiles during each key's timed runs (-1: the key failed);
    // 0 unless the codegen cache lost a class the warm-ups compiled
    val compiles = results.map { case (k, (_, _, c)) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val total = results.values.map(_._1).filter(_ >= 0).sum
    val failed = results.values.count(_._1 < 0)
    // tier split (SparkEntry.auditTier): the audit gates are expensive
    // BY CONTRACT and grow round over round — reporting their total
    // separately keeps the contract-tier number comparable across
    // rounds (benchdiff compares within tiers)
    val auditTotal = results.collect {
      case (k, (m, _, _)) if SparkEntry.auditTier(k) && m >= 0 => m }.sum
    val contractTotal = total - auditTotal
    val auditKeys = results.keys.filter(SparkEntry.auditTier)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full-precision record (+ per-query spread) goes to bench.json — the
    // durable artifact. STDOUT gets a TOTAL-ONLY line (~150 bytes): the
    // harness captures only the last 2000 bytes of run output, and any
    // per-query map at 100+ queries overflows that window and parses as
    // nothing (rounds 3 AND 4 had BENCH parsed:null from exactly this).
    // The line stays parse-able at any future query count by construction.
    val full = s"""{"metric":"total","value":$total,"unit":"sec","runs":$Runs,"stat":"median","tiers":{"contract":${"%.3f".format(contractTotal)},"audit":${"%.3f".format(auditTotal)}},"audit_keys":$auditKeys,"control":$controlJson,"queries":${qmap("%.6f")},"spread":$spreads,"codegen_compiles":$compiles,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench.json"),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val compact = s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","runs":$Runs,"stat":"median","n_queries":${results.size},"failed":$failed,"contract_sec":${"%.3f".format(contractTotal)},"audit_sec":${"%.3f".format(auditTotal)},"control":$controlJson,"sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
