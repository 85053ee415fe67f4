package graft.tools

import java.nio.file.{Files, Paths}
import graft.{GraftSession, SparkEntry}

/** Dumps the final (AQE-resolved) formatted plans of EVERY contract
  * query to PLANS.md — the reviewable record that filters push down,
  * dims broadcast, and nothing falls back to cartesian/nested-loop.
  * For the iterative queries (dedup_clusters) the dumped plan is the
  * final one the returned frame executes — the per-round propagation
  * join reads the checkpointed label state, so the round shape is the
  * visible join itself. Each plan goes through [[PlanDump.normalise]],
  * so a regeneration's diff shows only the plans that changed.
  *
  *   sbt "runMain graft.tools.ExplainDump /root/testdata/sf0.01"
  */
object ExplainDump {
  def headline: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.build("graft-explain")
    val sb = new StringBuilder
    sb.append("# PLANS — final physical plans of all contract queries\n\n")
    sb.append(s"Generated by `graft.tools.ExplainDump` on `$sfDir` " +
      "(AQE final plans, after execution).\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize THIS dataframe's adaptive plan (count() would plan a copy)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(PlanDump.normalise(df.queryExecution.executedPlan.toString.take(6000)))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[explain-dump] wrote PLANS.md (${headline.size} queries)")
    spark.stop()
  }
}
