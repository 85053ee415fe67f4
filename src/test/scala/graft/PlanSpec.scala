package graft

import org.apache.spark.sql.DataFrame
import graft.operators._

/** Physical-plan shape assertions (SURVEY §7 step 7): the plans must be
  * the ones that survive a 100 TB scale-up — filters pushed into the
  * scan, dims broadcast, top-k as TakeOrdered, no accidental cartesian
  * products.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("q6_filter: predicates reach the parquet scan (PushedFilters)") {
    val plan = planOf(Queries.q6Filter(spark, sfDir))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("l_shipdate"), plan)
    // projection pruned to the needed columns only
    assert(plan.contains("ReadSchema") && !plan.contains("l_comment"), plan)
  }

  test("q3_join: customer dim is broadcast, not shuffled") {
    val plan = planOf(Queries.q3Join(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q5_region: all four dims broadcast; no cartesian") {
    val plan = planOf(Queries.q5Region(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_topk: global top-k is TakeOrderedAndProject (no full sort)") {
    val plan = planOf(Queries.qTopk(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("glob_match: compiled regex filter sits on the scan, no shuffle before agg") {
    val df = PathMatching.globMatch(spark, sfDir)
    val plan = planOf(df)
    assert(plan.toUpperCase.contains("RLIKE"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("change_detect: single co-partitioned join, no nested-loop") {
    val plan = planOf(ChangeDetection.changeDetect(spark, sfDir))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("dedup_minhash: LSH band join is an equi-join on (b, bv)") {
    val plan = planOf(Dedup.dedupMinhash(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("knn_bruteforce: query set is broadcast") {
    val plan = planOf(Similarity.knnBruteforce(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("sweep: no accidental cartesian/nested-loop join in ANY query") {
    // brute-force scoring legitimately broadcasts the query/centroid set
    // across the corpus (an intentional broadcast cross product);
    // events_funnel combines three ONE-ROW aggregates and
    // tfidf_topterms attaches the ONE-ROW corpus count N (1×n
    // broadcasts, not data-sized cartesians); sketch_hll_setops
    // enumerates type PAIRS by crossing the 5-row distinct-type list
    // with itself (group-cardinality-sized, corpus-free)
    // dedup_semantic shares knn_ivf's centroid-broadcast assignment
    // cross; its pair join is a (cell, cell) equi-join;
    // q22_antijoin broadcasts the ONE-ROW (Σbal, n) aggregate onto the
    // customer scan (the decorrelated scalar subquery — 1×n, not n×m)
    // web_domains broadcasts its ONE-ROW (n_domains, Σchars) totals
    // back onto the per-domain frame (same 1×n shape as q22)
    // dedup_ngram / text_contamination broadcast their ONE-ROW corpus
    // doc-count aggregate onto the shingle-df frame (the in-plan df
    // ceiling — 1×n, replaces a driver-side .count())
    // knn_classify inherits knn_join's centroid-broadcast cross
    // events_value_pareto / events_attribution / corpus_mix attach
    // their ONE-ROW totals via crossJoin(broadcast) — the q22 idiom,
    // adopted engine-wide in round 6 so that the WindowExec
    // "No Partition Defined" warning always means a real defect
    // knn_recall / knn_pq_recall compose knn_bruteforce + the indexed
    // path, inheriting their broadcast crosses; text_zipf attaches its
    // one-row token total
    val intendedCross = Set("knn_bruteforce", "knn_ivf", "knn_join", "events_funnel",
      "tfidf_topterms", "sketch_hll_setops", "dedup_semantic", "q22_antijoin",
      "web_domains", "partition_skew", "dedup_ngram", "text_contamination",
      "knn_classify", "events_value_pareto", "events_attribution", "corpus_mix",
      "knn_recall", "text_zipf", "knn_pq_recall",
      // corpus_lm_buckets attaches its one-row doc-count total
      "corpus_lm_buckets",
      // orders_basket_pairs attaches its ONE-ROW order-count total via
      // crossJoin(broadcast); knn_degree inherits knn_join's
      // centroid-broadcast cross
      "orders_basket_pairs", "knn_degree",
      // orders_abc attaches its ONE-ROW revenue grand total twice (once
      // on the swept frame for the band test, once on the 3-row class
      // summary for the share) — both the q22 idiom
      "orders_abc",
      // round 8 one-row broadcast attaches: web_pagerank_step (P +
      // total chars), source_kl_drift (corpus token total),
      // embed_pca_power (L∞ max), events_abtest (corpus arm totals)
      "web_pagerank_step", "source_kl_drift", "embed_pca_power",
      "events_abtest",
      // knn_ivf_balance inherits cellAssign's centroid-broadcast cross
      // and attaches its one-row totals
      "knn_ivf_balance",
      // round 9: knn_ivf_pq inherits the centroid-broadcast assignment
      // cross from knn_ivf's build; quality_dup_lift /
      // corpus_dsir_weights / web_triangles attach their ONE-ROW totals
      // via the q22 broadcast idiom
      "knn_ivf_pq", "quality_dup_lift",
      "corpus_dsir_weights", "web_triangles",
      // knn_ivf_pq_recall composes knn_bruteforce + the composite index,
      // inheriting their broadcast crosses (the knn_recall shape)
      "knn_ivf_pq_recall",
      // split_leakage attaches its ONE-ROW pair total (the q22 idiom)
      "split_leakage",
      // round 10: knn_mrl_recall composes knn_bruteforce twice (the
      // knn_recall shape — broadcast query-set crosses); web_reciprocity
      // attaches the one-row p_count total (the q22 idiom)
      "knn_mrl_recall", "web_reciprocity",
      // round 10 batch 2: knn_probe_sweep ranks every query against
      // every centroid (the probe × centroid broadcast cross), builds
      // its index through cellAssign's centroid-broadcast cross and
      // grades its exact side from knn_bruteforce's query-set cross;
      // knn_hamming_recall composes knn_bruteforce's broadcast cross
      "knn_probe_sweep", "knn_hamming_recall",
      // round 10 batch 4: knn_rerank_gain composes the hamming broadcast
      // cross (knn_hamming_recall's shape) + knn_bruteforce's — both
      // query-set-sized broadcasts, the graded-ANN family idiom
      "knn_rerank_gain",
      // round 10 batch 5: embed_bitext is two knn_bruteforce-shaped
      // broadcast crosses (query slice over the B scan, ≤|Q|·k
      // candidates over the A scan) — both query-bounded by contract;
      // corpus_temp_mix attaches its ONE-ROW (total_chars, total_tw)
      // aggregate onto the sources-bounded frame (the q22 idiom)
      "embed_bitext", "corpus_temp_mix",
      // round 10 batch 6: corpus_shards / text_lang_mix attach their
      // ONE-ROW totals (the q22 idiom)
      "corpus_shards", "text_lang_mix",
      // round 10 batch 7: corpus_ngram_inflation attaches its ONE-ROW
      // occurrence total; web_hits_step attaches the one-row
      // (p_count, total_chars) frame (both the q22 idiom)
      "corpus_ngram_inflation", "web_hits_step",
      // round 10 batch 8: knn_ivf_drift inherits cellAssign's
      // centroid-broadcast cross (twice: index + batch) and attaches
      // its one-row totals
      "knn_ivf_drift",
      // round 10 batch 9: text_vocab_coverage attaches its ONE-ROW
      // (n_total, n_types) aggregate (the q22 idiom)
      "text_vocab_coverage",
      // round 11: embed_geometry_sweep's exact side is a slice-anchored
      // broadcast cross (the knn_bruteforce idiom); its grade is one
      // join and one aggregate by bits
      "embed_geometry_sweep",
      // round 12: knn_ivf_refresh composes knn_ivf_drift's shapes — the
      // slice-anchored broadcast cross for its exact side (the
      // knn_bruteforce idiom, NOT-self-pair predicate) and cellAssign's
      // centroid-broadcast cross per phase; audit-tier,
      // query-slice-bounded by contract
      "knn_ivf_refresh",
      // round 13: dedup_attribution inherits dedup_semantic's
      // centroid-broadcast assignment cross and attaches its ONE-ROW
      // (total docs, total tokens) aggregate (the q22 idiom);
      // embed_kmeans_converge joins each rung's two ONE-ROW aggregates
      // (movement × churn — the events_funnel count-combine shape)
      "dedup_attribution", "embed_kmeans_converge",
      // round 14: knn_ivf_pq_refresh composes knn_ivf_refresh's shapes —
      // the slice-anchored broadcast cross for its shared exact side
      // (knn_bruteforce idiom) plus the centroid-broadcast crosses of
      // its index build and probes; audit-tier, query-slice-bounded
      "knn_ivf_pq_refresh",
      // round 15: dedup_incremental_semantic inherits cellAssign's
      // centroid-broadcast cross (twice: corpus index + batch assign —
      // the knn_ivf_drift shape); bpe_train_converge attaches each
      // rung's ONE-ROW selected-merge frame and ONE-ROW vocab-mass
      // aggregate via crossJoin(broadcast) (the q22 idiom, ladder form)
      "dedup_incremental_semantic", "bpe_train_converge")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      val cartesian = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !intendedCross(name)
      if (cartesian || bnlj) Some(name) else None
    }
    assert(offenders.isEmpty, s"unscalable join shapes in: $offenders")
  }

  test("sweep: no global-order window (empty partitionSpec) in ANY query") {
    // A window with no partition spec plans as Exchange SinglePartition
    // + a ONE-TASK sort of the whole frame — fine at 10⁵ rows, fatal at
    // 10⁸ (round-5 verdict: events_value_pareto's rank). Round 6
    // removed every such window: unbounded frames use
    // Ranks.distributedRank, bounded running sums use
    // Ranks.boundedRunningSum, and one-row totals use
    // crossJoin(broadcast). The whitelist is EMPTY by design — a new
    // global-order window must either justify itself here or use those
    // helpers. (Global aggregates still exchange SinglePartition over
    // per-partition PARTIALS — bounded by cluster size, not data size —
    // which is why this sweep keys on window nodes, not exchanges.)
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import PlanSpec.flatten
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.count() // finalize AQE
      val globalWindows = flatten(df.queryExecution.executedPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
      }
      if (globalWindows.nonEmpty) Some(s"$name: ${globalWindows.mkString(",")}") else None
    }
    assert(offenders.isEmpty, s"single-task global-order windows in: $offenders")
  }

  test("sweep: every persisted frame is read at least twice in ANY query") {
    // Materialize.stable's rule: a persist costs a cache-building job of
    // its own under AQE, so a frame one plan reads once should flow into
    // that plan instead. The reads are counted over every plan the key
    // executes, build-time collects and checkpoints included.
    val reads = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      spark.catalog.clearCache()
      PlanSpec.cacheReads(spark)(fn(spark, sfDir).collect()).map { case (cols, n) =>
        (s"$name: (${cols.mkString(", ")})", n)
      }
    }
    spark.catalog.clearCache()
    info(s"${reads.size} cache entries read")
    // video_band_sweep's exact side is read once, but its persist keeps
    // the key's action jobs at 24 (26 inline; see Video.videoBandSweep)
    val kept = Set("video_band_sweep: (pa, pb)")
    val offenders = reads.collect { case (entry, 1) if !kept(entry) => entry }
    assert(offenders.isEmpty, s"frames persisted but read once: $offenders")
  }
}

object PlanSpec {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
  import org.apache.spark.sql.util.QueryExecutionListener

  /** Every node of an executed plan, entering AQE's final plan, each
    * query stage's plan and a reused exchange's child.
    */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    }
    p +: (p.children ++ extra).flatMap(flatten)
  }

  /** Runs `body` and counts the reads of each cache entry over every
    * plan it executes: the `InMemoryTableScanExec` nodes per cache
    * builder, with each cached plan entered once, so a cache read while
    * another is built counts once. One (output columns, reads) pair per
    * entry read.
    */
  def cacheReads(spark: SparkSession)(body: => Any): Seq[(Seq[String], Int)] = {
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerDrain(sc)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerDrain(sc)
    } finally spark.listenerManager.unregister(listener)
    val reads = new java.util.IdentityHashMap[AnyRef, (Seq[String], Int)]
    def visit(p: SparkPlan): Unit = flatten(p).foreach {
      case scan: InMemoryTableScanExec =>
        val b = scan.relation.cacheBuilder
        val n = Option(reads.get(b)).fold(0)(_._2)
        reads.put(b, (scan.relation.output.map(_.name), n + 1))
        if (n == 0) visit(b.cachedPlan)
      case _ =>
    }
    plans.forEach(p => visit(p))
    import scala.jdk.CollectionConverters._
    reads.values.asScala.toSeq
  }
}
