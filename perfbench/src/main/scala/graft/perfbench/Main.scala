package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark JVM, launched by run.py with the inputs it generated.
  *
  * `run`: set up the workload's session three times (the last one is
  * kept), run untimed warm-up steps, then a timed window of `--seconds`.
  * With `--trace 1` the window is twice as long and half its steps run
  * with the benchmark's SparkListener and spans: those give the per-layer
  * metrics, and the two halves give the tracing overhead. Writes the
  * result JSON to `--out` and the spans to `--spans`.
  *
  * `keys <out>`: writes query_mix's keys and their oracle SQL.
  */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(args.drop(1).grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    case Some("keys") => writeKeys(args(1))
    case _ => System.err.println("usage: Main run --workload W ... | Main keys <out.json>"); sys.exit(2)
  }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeKeys(out: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val json = "{\"oracle_sql\": " +
      Workloads.queryMix.map(k => jstr(k) + ": " + jstr(sql(k))).mkString("{", ",\n", "}") + "}\n"
    Files.write(Paths.get(out), json.getBytes(UTF_8))
  }

  private def session(): SparkSession = graft.GraftSession.build("graft-perfbench")

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  /** `key<TAB>digest` lines, as run.py writes them from expected.json */
  private def readExpected(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    finally src.close()
  }

  /** Steps until `seconds` have passed or the workload runs out; step i
    * runs under `pick(i)`. Returns each step's tracer, ops, start and end. */
  private def window(spark: SparkSession, w: Workload, seconds: Double,
                     pick: Int => Tracer): Seq[(Tracer, Seq[Op], Long, Long)] = {
    val t0 = System.nanoTime()
    val steps = Seq.newBuilder[(Tracer, Seq[Op], Long, Long)]
    var i = 0
    var last: Seq[Op] = Nil
    do {
      val tr = pick(i)
      val s0 = System.nanoTime()
      last = tr.listening(w.step(spark, tr))
      steps += ((tr, last, s0, System.nanoTime()))
      i += 1
    } while (last.nonEmpty && (System.nanoTime() - t0) / 1e9 < seconds)
    steps.result()
  }

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val rng = new java.util.Random(a("seed").toLong)
    val w: Workload = workload match {
      case "lake_sync" =>
        new LakeSync(a("lake"), a("state"), LakePlan.read(a("plan")))
      case "query_mix" =>
        new QueryWorkload(Workloads.queryMix, a("tables"), readExpected(a("expected")), rng)
    }
    var spark: SparkSession = null
    val setups = (1 to SetupRepeats).map { i =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session()
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = a.get("gen-setup-s").fold(0.0)(_.toDouble) + Stats.median(setups)
    Workloads.log(s"set-ups took ${setups.map(t => f"$t%.2f").mkString(", ")} s")

    val tw = System.nanoTime()
    val plainTracer = new Tracer(spark.sparkContext, None)
    val warm = (1 to w.warmupSteps).flatMap(_ => w.step(spark, plainTracer))
    Workloads.log(f"warm-up: ${warm.size} ops in ${(System.nanoTime() - tw) / 1e9}%.2f s")
    val (plain, result) = if (!traced) {
      val plain = window(spark, w, seconds, _ => plainTracer).flatMap(_._2)
      (plain, Metrics.endToEnd(plain, setupS))
    } else {
      // Untraced and traced steps alternate A B B A over twice the window,
      // so the JIT's drift over the run lands on both sides alike.
      val tr = new Tracer(spark.sparkContext, Some(new CountingListener))
      val gc0 = gcSeconds
      val t0 = System.nanoTime()
      val steps = window(spark, w, 2 * seconds, i => if (i % 4 == 1 || i % 4 == 2) tr else plainTracer)
      val t1 = System.nanoTime()
      val plain = steps.filterNot(_._1.traced).flatMap(_._2)
      val ops = steps.filter(_._1.traced).flatMap(_._2)
      val untracedSpans = steps.filterNot(_._1.traced).map { case (_, _, s0, s1) =>
        Span(tr.newId(), 0, 0, "untraced", workload, s0, s1, Counts()) }
      val root = Span(0, -1, 0, "workload", workload, t0, t1, Counts())
      Spans.write(a("spans"), workload, (root +: tr.spans.toSeq) ++ untracedSpans)
      val gcPerOp = (gcSeconds - gc0) / (ops.size + plain.size).max(1)
      (plain, Metrics.perLayer(ops, plain, gcPerOp, peakRssMb, spark.sparkContext.defaultParallelism))
    }
    val all = warm ++ plain
    val attempted = all.size + result.tracedOps
    val failed = all.count(!_.ok) + result.tracedFailed
    val metrics = result.metrics.map { case (k, (v, u)) =>
      jstr(k) + ": {\"value\": " + Stats.num(v) + ", \"unit\": " + jstr(u) + "}"
    }.mkString("{", ", ", "}")
    val json = s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metrics}"""
    Files.write(Paths.get(a("out")), (result.notes.map("# " + _) :+ json).mkString("", "\n", "\n").getBytes(UTF_8))
    stop(spark)
  }
}
