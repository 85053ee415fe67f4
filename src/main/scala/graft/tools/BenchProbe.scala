package graft.tools

import graft.GraftSession

/** Fresh-JVM per-query timing probe — the adjudication tool for
  * suite-level bench drift: `Bench` times all 103 queries in ONE JVM
  * (codegen classes, JIT code cache, and GC history accumulate across
  * the run), so a query's suite-time can drift with SUITE SIZE while
  * its own plan is unchanged. Running the same query here isolates
  * the query-intrinsic cost; `suite_time − solo_time` is the shared
  * JVM's accumulation tax, not plan regression. The probe runs Bench's
  * own warm-up and timing loop ([[graft.Bench.time]]).
  *
  *   sbt "runMain graft.tools.BenchProbe glob_match q5_region"
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench-probe")
    graft.Bench.warmup(spark, sfDir)
    for (name <- args) {
      val times = graft.Bench.time(spark, sfDir, name).getOrElse(sys.error(s"$name failed")).seconds
      // machine-parsed by the BENCH_SOLO collector (one fresh JVM per
      // query): name, median of 5, min, max
      println(f"[solo] $name median=${times(graft.Bench.Runs / 2)}%.3f min=${times.head}%.3f max=${times.last}%.3f")
    }
    spark.stop()
  }
}
