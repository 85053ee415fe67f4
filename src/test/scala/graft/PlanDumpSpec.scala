package graft

import graft.tools.PlanDump

/** PlanDump strips the tokens that change between two dumps of the same
  * tree, so plans/rNN before/after pairs compare with a plain diff.
  */
class PlanDumpSpec extends SparkSpec {

  test("PlanDump: two dumps of dedup_clusters in one JVM are byte-identical") {
    val a = PlanDump.dump(spark, sfDir, "dedup_clusters")
    val b = PlanDump.dump(spark, sfDir, "dedup_clusters")
    assert(a.contains("Exchange") && a.contains("plan_id="), "no exchange dumped")
    assert(a == b)
  }

  test("PlanDump.normalise: expression ids, plan ids and call-site lines go, RDD identities stay") {
    val raw = "Exchange hashpartitioning(doc_id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=1158]\n" +
      "Scan ExistingRDD[doc_id#7L] MapPartitionsRDD[42] at checkpoint at Materialize.scala:48\n" +
      "MapPartitionsRDD[17] at checkpoint at Ladder.scala:60 MapPartitionsRDD[42]"
    assert(PlanDump.normalise(raw) ==
      "Exchange hashpartitioning(doc_idL, 4), ENSURE_REQUIREMENTS, [plan_id=]\n" +
      "Scan ExistingRDD[doc_idL] MapPartitionsRDD[0] at checkpoint at Materialize.scala\n" +
      "MapPartitionsRDD[1] at checkpoint at Ladder.scala MapPartitionsRDD[0]")
  }

  test("PLANS.md holds no expression id and no plan id") {
    val plans = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("PLANS.md")), "UTF-8")
    assert(plans.contains("## q1_agg"), "PLANS.md lost its sections")
    val ids = "#\\d+|plan_id=\\d+".r.findAllIn(plans).take(5).toList
    assert(ids.isEmpty, s"PLANS.md carries run-specific ids, first: $ids")
  }

  test("PlanDump.normalise: a closure's lambda number, address and hash go") {
    val raw = "MapPartitions graft.operators.Ranks$$$Lambda$3905/0x00007f994d04d688@207d6c18, obj#41: org.apache.spark.sql.Row"
    assert(PlanDump.normalise(raw) ==
      "MapPartitions graft.operators.Ranks$$$Lambda, obj: org.apache.spark.sql.Row")
  }
}
