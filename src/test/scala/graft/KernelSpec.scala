package graft

import org.apache.spark.sql.functions._
import graft.functions.{PortableHash, VectorFns}
import graft.sources.Tables

/** The custom codegen kernels (graft_*) must be bit-identical to their
  * interpreted HOF twins — the twins are the spec (and what the DuckDB
  * oracle mirrors); the kernels are only an execution strategy.
  */
class KernelSpec extends SparkSpec {

  private def assertSame(colA: String, colB: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.filter(expr(s"NOT ($colA <=> $colB)")).count()
    assert(bad == 0, s"$colA != $colB on $bad rows")
  }

  test("graft_polyhash == HOF poly hash") {
    val d = Tables.documents(spark, sfDir)
      .withColumn("a", expr(PortableHash.sparkWordHash("text")))
      .withColumn("b", expr(PortableHash.sparkWordHashHof("text")))
    assertSame("a", "b", d)
  }

  test("graft_minhash == HOF minhash") {
    val d = Tables.documents(spark, sfDir)
      .withColumn("sh", expr(PortableHash.sparkShingleHashes("text")))
      .withColumn("a", expr(PortableHash.sparkMinhash("sh")))
      .withColumn("b", expr(PortableHash.sparkMinhashHof("sh")))
    assertSame("a", "b", d)
  }

  test("graft_simhash_bands == HOF simhash") {
    val d = Tables.documents(spark, sfDir)
      .withColumn("sh", expr(PortableHash.sparkShingleHashes("text")))
      .withColumn("a", expr(PortableHash.sparkSimhashBands("sh")))
      .withColumn("b", expr(PortableHash.sparkSimhashBandsHof("sh")))
    assertSame("a", "b", d)
  }

  test("graft_lsh_buckets == HOF lsh buckets") {
    val d = Tables.embeddings(spark, sfDir)
      .withColumn("v", expr(VectorFns.sparkToDouble("embedding")))
      .withColumn("a", expr(VectorFns.sparkLshBuckets("v")))
      .withColumn("b", expr(VectorFns.sparkLshBucketsHof("v")))
    assertSame("a", "b", d)
  }

  test("param lsh buckets at the contract geometry (16, 4) == graft_lsh_buckets") {
    // the plane-index stream t*bits+p makes tables=16/bits=4 reproduce
    // the contract sketch bit-for-bit — embed_geometry_sweep's bits=4
    // row therefore prices embed_neardup's OWN setting
    val d = Tables.embeddings(spark, sfDir)
      .withColumn("v", expr(VectorFns.sparkToDouble("embedding")))
      .withColumn("a", expr(VectorFns.sparkLshBuckets("v")))
      .withColumn("b", expr(VectorFns.sparkLshBucketsParam("v", 16, 4)))
    assertSame("a", "b", d)
  }

  test("graft_lsh_buckets_param == HOF twin off the contract floor") {
    // the compiled kernel must match the interpreted HOF spec at a
    // geometry the contract never exercises (7 bits = the lshBitsFor
    // answer for n = 2·10⁴) — the equivalence that keeps the sweep and
    // rule gates' kernel switch an execution-strategy change only
    val d = Tables.embeddings(spark, sfDir)
      .withColumn("v", expr(VectorFns.sparkToDouble("embedding")))
      .withColumn("a", expr(VectorFns.sparkLshBucketsParam("v", 16, 7)))
      .withColumn("b", expr(VectorFns.sparkLshBucketsParamHof("v", 16, 7)))
    assertSame("a", "b", d)
  }

  test("graft_lsh_buckets_param rejects bad geometry literals when the query is analysed") {
    val v = Tables.embeddings(spark, sfDir)
      .withColumn("v", expr(VectorFns.sparkToDouble("embedding")))
    val sc = spark.sparkContext
    // 4294967312L = 2^32 + 16: a plain toInt would quietly read it as 16
    Seq("0, 4" -> "tables must be > 0", "-2, 4" -> "tables must be > 0",
      "16, 0" -> "bits must be in 1..63", "16, 64" -> "bits must be in 1..63",
      "4294967312L, 4" -> "must be an Int literal",
      "16, 4294967300L" -> "must be an Int literal").foreach { case (args, msg) =>
      sc.setJobGroup("lsh-geometry", s"bad geometry ($args)")
      try {
        // withColumn analyses eagerly; nothing here runs a job
        val e = intercept[Exception](
          v.withColumn("b", expr(s"graft_lsh_buckets_param(v, $args)")))
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString(" | ")
        assert(msgs.contains(msg), s"($args): $msgs")
      } finally sc.clearJobGroup()
      assert(sc.statusTracker.getJobIdsForGroup("lsh-geometry").isEmpty,
        s"($args) failed inside a job, not at analysis")
    }
  }

  test("lshBitsFor: occupancy law held by geometry, contract floor intact") {
    import VectorFns._
    // floor: every contract scale (500 / 2000 vectors, and headroom to
    // 4096) stays on the 4-bit contract geometry — oracles unchanged
    Seq(1L, 500L, 2000L, 4096L).foreach(n => assert(lshBitsFor(n) == LshBits))
    assert(lshBitsFor(4097L) == 5)
    // the law: expected occupancy n/2^bits ≤ LshTargetOcc at every n,
    // and bits is MINIMAL (one fewer bit would break the bound)
    Seq(4097L, 20000L, 200000L, 20000000L, 2000000000L, Long.MaxValue / 4).foreach { n =>
      val b = lshBitsFor(n)
      assert(b <= LshMaxBits)
      if (b < LshMaxBits) assert(n <= LshTargetOcc * (1L << b), s"n=$n bits=$b")
      if (b > LshBits) assert(n > LshTargetOcc * (1L << (b - 1)), s"n=$n bits=$b not minimal")
    }
    // monotone in n (rebuild stability: a growing corpus never drops bits)
    val pts = Seq(1L, 4096L, 4097L, 1e5.toLong, 1e7.toLong, 1e9.toLong, 1e12.toLong)
    pts.zip(pts.tail).foreach { case (a, b) => assert(lshBitsFor(a) <= lshBitsFor(b)) }
    // the SCALE.md anchor points the scaladoc claims
    assert(lshBitsFor(20000L) == 7 && lshBitsFor(2000000000L) == 23)
  }

  test("graft_project == HOF JL projection (bit-identical IEEE)") {
    val d = Tables.embeddings(spark, sfDir)
      .withColumn("v", expr(VectorFns.sparkToDouble("embedding")))
      .withColumn("a", expr(VectorFns.sparkProject("v")))
      .withColumn("b", expr(VectorFns.sparkProjectHof("v")))
    assertSame("a", "b", d)
  }

  test("graft_shingle_hashes == HOF shingle hashes (as sets)") {
    val d = Tables.documents(spark, sfDir)
      .withColumn("a", expr(s"array_sort(${PortableHash.sparkShingleHashes("text")})"))
      .withColumn("b", expr(s"array_sort(${PortableHash.sparkShingleHashesHof("text")})"))
    assertSame("a", "b", d)
  }

  test("graft_cosine == HOF cosine (bit-identical IEEE)") {
    val v = Tables.embeddings(spark, sfDir)
      .withColumn("v", expr(VectorFns.sparkToDouble("embedding")))
    val d = v.limit(50).crossJoin(v.limit(50).select(col("v").as("w")))
      .withColumn("a", expr(VectorFns.sparkCosine("v", "w")))
      .withColumn("b", expr(VectorFns.sparkCosineHof("v", "w")))
    assertSame("a", "b", d)
  }

  test("graft_jaccard == array_intersect formulation") {
    val d = Tables.documents(spark, sfDir)
      .withColumn("sh", expr(PortableHash.sparkShingleHashes("text")))
    val pairs = d.select(col("doc_id").as("ida"), col("sh").as("sa"))
      .crossJoin(d.limit(20).select(col("doc_id").as("idb"), col("sh").as("sb")))
      .withColumn("a", expr("graft_jaccard(sa, sb)"))
      .withColumn("b", expr(
        "CAST(size(array_intersect(sa, sb)) AS DOUBLE) / (size(sa) + size(sb) - size(array_intersect(sa, sb)))"))
    assertSame("a", "b", pairs)
  }

  test("kernels participate in whole-stage codegen (no CodegenFallback)") {
    val d = Tables.documents(spark, sfDir)
      .select(expr(PortableHash.sparkWordHash("text")).as("h"))
    d.collect() // finalize the adaptive plan
    val plan = d.queryExecution.executedPlan.toString
    // "*(n) Project [polyhash(...)]" — the * prefix marks a
    // WholeStageCodegen span containing the kernel projection
    assert(plan.contains("*(") && plan.contains("polyhash"), plan)
  }
}
