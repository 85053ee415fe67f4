package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The sample with exactly ten samples above it: the highest percentile
    * that has at least ten samples beyond it. Below 21 samples no such
    * percentile lies above the median, so the median stands in. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    if (s.length <= 20) (median(s), s"median of ${s.length} (under 21 samples)")
    else (s(s.length - 11), f"p${100.0 * (s.length - 10) / s.length}%.0f of ${s.length}")
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** full-precision JSON number; a metric with no samples reads 0 */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

/** Metric values with units, plus human-readable notes run.py prints
  * before the result line, and the traced ops' tallies. */
final case class Result(metrics: Seq[(String, (Double, String))], notes: Seq[String],
                        tracedOps: Int = 0, tracedFailed: Int = 0)

object Metrics {
  import Stats._

  private def good(ops: Seq[Op]): Seq[Op] = ops.filter(o => o.ok && o.span.isDefined)

  private def keyMedians(ops: Seq[Op]): Map[String, Double] =
    good(ops).groupBy(_.key).map { case (k, os) => k -> median(os.map(_.latency)) }

  /** End-to-end metrics of the untraced window. */
  def endToEnd(ops: Seq[Op], setupS: Double): Result = {
    val lat = good(ops).map(_.latency)
    val (tailS, tailDesc) = tail(lat)
    val keys = keyMedians(ops).values.toSeq
    Result(Seq(
      "setup_s" -> (setupS, "s"),
      "op_p50_s" -> (median(lat), "s"),
      "op_tail_s" -> (tailS, "s"),
      "ops_per_s" -> (lat.size / lat.sum, "1/s"),
      "key_geomean_s" -> (math.exp(mean(keys.map(math.log))), "s")),
      Seq(s"op_p50_s is the median of ${lat.size} ops; op_tail_s is the $tailDesc",
        s"key_geomean_s is over ${keys.size} keys") ++
        good(ops).groupBy(_.key).toSeq.sortBy(_._1).map { case (k, os) =>
          s"$k: " + os.map(o => f"${o.latency}%.3f").mkString(" ") + " s" })
  }

  /** Per-layer metrics of the traced window: per-op means unless named
    * otherwise, 0 for a layer the workload does not reach. */
  def perLayer(ops: Seq[Op], untraced: Seq[Op], gcPerOp: Double, peakRssMb: Double,
               cores: Int): Result = {
    val ok = good(ops)
    val n = ok.size.max(1).toDouble
    def phases(names: String*): Seq[Span] = ok.flatMap(o => o.phases.filter(p => names.contains(p.name)))
    def secs(names: String*): Double = phases(names: _*).map(_.seconds).sum / n
    def count(names: String*)(f: Counts => Long): Double = phases(names: _*).map(p => f(p.counts)).sum / n
    def mb(names: String*)(f: Counts => Long): Double = count(names: _*)(f) / 1e6
    def extra(name: String): Double = ok.map(_.extra.getOrElse(name, 0.0)).sum / n
    // the phases that run the result's jobs
    val exec = Seq("action", "diff", "commit")
    val execSpans = phases(exec: _*)
    val skews = execSpans.filter(_.counts.taskMedianMs > 0)
      .map(s => s.counts.taskMaxMs.toDouble / s.counts.taskMedianMs)
    val listed = ok.map(_.extra.getOrElse("listed_keys", 0.0)).sum
    val tracked = ok.map(_.extra.getOrElse("tracked_keys", 0.0)).sum
    val meanTraced = mean(ok.map(_.latency))
    val meanPlain = mean(good(untraced).map(_.latency))
    val perKey = keyMedians(untraced)
    Result(Seq(
      "sources.list_s" -> (secs("list"), "s"),
      "sources.list_jobs" -> (count("list")(_.jobs), "count"),
      "sources.listed_keys" -> (listed / n, "count"),
      "sources.keys_per_s" -> (if (listed == 0) 0.0 else listed / ok.map(_.latency).sum, "1/s"),
      "api.match_s" -> (secs("match"), "s"),
      "api.matched_ratio" -> (if (listed == 0) 0.0 else tracked / listed, "ratio"),
      "api.diff_s" -> (secs("diff"), "s"),
      "api.diff_shuffle_mb" -> (mb("diff")(_.shuffleWriteBytes), "MB"),
      "api.commit_s" -> (secs("commit"), "s"),
      "api.commit_files" -> (extra("commit_files"), "count"),
      "api.commit_tasks" -> (count("commit")(_.tasks), "count"),
      "catalyst.plan_s" -> (secs("plan"), "s"),
      "operators.build_s" -> (secs("build"), "s"),
      "operators.build_jobs" -> (count("build")(_.jobs), "count"),
      "materialize.checkpoint_files" -> (extra("checkpoint_files"), "count"),
      "materialize.checkpoint_mb" -> (extra("checkpoint_mb"), "MB"),
      "materialize.cache_entries_left" -> (extra("cache_entries_left"), "count"),
      "exec.action_s" -> (secs(exec: _*), "s"),
      "exec.jobs" -> (count(exec: _*)(_.jobs), "count"),
      "exec.stages" -> (count(exec: _*)(_.stages), "count"),
      "exec.tasks" -> (count(exec: _*)(_.tasks), "count"),
      "exec.task_cpu_s" -> (count(exec: _*)(_.taskCpuNs) / 1e9, "s"),
      "exec.core_util" -> (execSpans.map(_.counts.taskRunMs).sum / 1e3 /
        (execSpans.map(_.seconds).sum * cores).max(1e-9), "ratio"),
      "exec.task_skew" -> (if (skews.isEmpty) 0.0 else median(skews), "ratio"),
      "exec.shuffle_write_mb" -> (mb(exec: _*)(_.shuffleWriteBytes), "MB"),
      "exec.shuffle_read_mb" -> (mb(exec: _*)(_.shuffleReadBytes), "MB"),
      "exec.spill_mb" -> (mb(exec: _*)(_.spillBytes), "MB"),
      "jvm.gc_s" -> (gcPerOp, "s"),
      "jvm.peak_rss_mb" -> (peakRssMb, "MB"),
      "trace.overhead_pct" -> (100.0 * (meanTraced / meanPlain - 1), "%")) ++
      Workloads.queryMix.map(k =>
        s"key.$k.p50_s" -> (perKey.getOrElse(k, 0.0), "s")),
      Seq(s"per-layer figures are per-op means over ${ok.size} traced ops (jvm.gc_s: over all ops of the window)",
        f"tracing overhead: mean op ${meanTraced}%.4f s traced vs ${meanPlain}%.4f s untraced"),
      tracedOps = ops.size, tracedFailed = ops.count(!_.ok))
  }
}

/** Writes spans as one JSON object: the workload name and a list of
  * spans with id, parent, op, name, key, start/end (ns, monotonic) and
  * the scheduler counts inside each. spans.py reduces them to self time. */
object Spans {
  def write(path: String, workload: String, spans: Seq[Span]): Unit = {
    val rows = spans.map { s =>
      val c = s.counts
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","key":"${s.key}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"task_cpu_ns":${c.taskCpuNs},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""shuffle_read_bytes":${c.shuffleReadBytes},"spill_bytes":${c.spillBytes}}"""
    }
    val json = s"""{"workload":"$workload","spans":[\n""" + rows.mkString(",\n") + "\n]}\n"
    Files.write(Paths.get(path), json.getBytes(UTF_8))
  }
}
