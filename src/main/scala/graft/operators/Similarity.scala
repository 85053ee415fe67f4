package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash.q6
import graft.functions.VectorFns._
import graft.sources.Tables

/** Similarity search over the embeddings table (SURVEY §2): cosine
  * near-dup pairs via random-hyperplane LSH, brute-force top-k as the
  * exact baseline, and an IVF-style cell-probed ANN as the scale path.
  *
  * 100 TB shapes: LSH buckets bound the pair join (never all-pairs);
  * brute-force broadcasts the (small) query set across the corpus scan;
  * IVF broadcasts the centroid table, assigns cells map-side, and
  * probes a single cell per query.
  */
object Similarity {

  val NearDupThreshold = 0.45
  val KnnK = 3
  val QuerySetSize = 10 // vec_id < 10 is the query set
  val MinCentroidMod = 50L // seed-rule floor: rules below ~5.6k vectors pin here
  val CentroidGrid = 25L // seed modulus moves on a 25-step grid (rebuild stability)
  val SeedResidue = 7 // vec_id % mod == 7 are the coarse-centroid seeds
  val Nprobe = 2 // IVF: queries search their 2 nearest cells

  /** Deterministic √n centroid modulus — the IVF cell-count rule.
    *
    * `mod(n) = max(MinCentroidMod, (⌊√n⌋ div CentroidGrid)·CentroidGrid)`,
    * so seeds (`vec_id % mod == SeedResidue`) number ≈ n/mod ≈ √n: cell
    * count GROWS with the corpus and mean cell size stays ~√n. That
    * balances the two cost terms that pull against each other — the
    * assign pass pays n·cells cosines against a cells-sized broadcast
    * (n·√n work, √n·Dim·8B ≈ 16 MB at 10⁹ vectors), and the within-cell
    * pair/kNN joins pay Σ|cell|² ≈ n·√n — versus a FIXED modulus, whose
    * cells = n/50 made the assign broadcast corpus-sized and its compute
    * n²/50 (the round-8 scale defect). IVF practice (and DEPLOY.md's
    * capacity math) is exactly this ~√n sizing.
    *
    * Portability: both engines compute the SAME mod from arithmetic
    * alone — `floor(sqrt(CAST(n AS DOUBLE)))` is bit-identical on the
    * JVM and DuckDB because IEEE-754 requires sqrt correctly rounded and
    * any realistic corpus count is exact in a double (n < 2⁵³). The
    * 25-step grid keeps the seed set insensitive to sub-grid count
    * jitter between index rebuilds. At the test scales (n = 500 / 2000)
    * the rule pins at the 50 floor, so the oracle frames are unchanged;
    * the curve bends where it matters (n = 10⁶ → mod 1000, 10⁹ → 31600).
    *
    * `spark.graft.ivf.centroidMod` (> 0) overrides the rule with a fixed
    * modulus — the operator knob for corpora whose id density makes the
    * residue rule pick too few seeds. The DuckDB oracle always replays
    * the default rule, so the contract queries run with the conf unset.
    */
  def centroidModFor(n: Long): Long = {
    val isqrt = math.floor(math.sqrt(n.toDouble)).toLong
    math.max(MinCentroidMod, isqrt / CentroidGrid * CentroidGrid)
  }

  /** The √n rule as a one-row (`cmod`) frame computed IN-PLAN from the
    * corpus count, so library callers ([[knnJoinFor]],
    * [[dedupSemanticFor]]) stay fully lazy — no driver-side count
    * action — and the modulus always describes the frame it seeds.
    */
  private def centroidModFrame(vecs: DataFrame): DataFrame =
    vecs.sparkSession.conf.getOption("spark.graft.ivf.centroidMod")
      .map(_.toLong).filter(_ > 0) match {
      case Some(m) => vecs.sparkSession.range(1).select(lit(m).as("cmod"))
      case None => vecs.agg(expr(
        s"greatest(CAST($MinCentroidMod AS BIGINT), " +
          s"CAST(floor(sqrt(CAST(count(1) AS DOUBLE))) AS BIGINT) div $CentroidGrid * $CentroidGrid)")
        .as("cmod"))
    }

  /** vectors with the double-cast embedding, materialized once
    * ([[Materialize.stable]]) — every similarity query references it
    * 2-3 times and the cast/HOF tree must not be re-evaluated per
    * reference.
    */
  private def withVec(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(sparkToDouble("embedding")).as("v"))

  /** embedding near-dup pairs: 16 LSH tables × 4 hyperplanes generate
    * candidates; exact cosine ≥ threshold verifies.
    *
    * EXACT-CLASS COLLAPSE first (the video_dedup / audio_dedup rule,
    * SCALE.md's twice-measured pair-explosion lesson, third sighting):
    * byte-identical vectors — re-ingested embeddings, mirrored shards,
    * the ×10 replication harness — share EVERY LSH bucket, so a k-copy
    * content class mints C(k,2) candidates in all 16 tables (measured:
    * 101.7M raw candidates at ×10, 397s warm). The band join therefore
    * sees ONE row per content class (min-id representative, classes
    * keyed by the full vector — exact, no hash-collision caveat), and
    * the member expansion afterwards restores EXACTLY the original
    * candidate set: identical vectors have identical buckets, so a
    * member pair is bucket-colliding iff its representative pair is.
    * Output (and the plain-LSH DuckDB oracle) bit-identical; only the
    * candidate volume changes — Σ C(k·m,2) → Σ C(k,2) + output-sized
    * expansion.
    *
    * CENSUS GATE: the collapse machinery (window + snapshot + two
    * expansion joins + a self-join) is a fixed ~1.4s constant that is
    * pure overhead on a duplicate-free corpus (the audit-scale regime:
    * zero duplicate classes at sf0.1, measured r10 benchdiff 0.63→2.06s).
    * One partial-aggregated census — count vs countDistinct over the
    * 64-bit vector hash — decides the plan: distinct hashes PROVE
    * distinct vectors (no false dup-free verdict is possible; a hash
    * collision merely takes the safe slow path), so the plain-LSH plan
    * runs when the corpus provably has no exact classes, and the
    * collapse runs whenever it might. Both branches emit bit-identical
    * output; the oracle is branchless plain LSH either way.
    */
  def embedNeardup(s: SparkSession, dir: String): DataFrame = {
    // census over the RAW float column (float→double is injective, so
    // raw-distinct ⇔ cast-distinct) — skips the per-row double cast.
    // EAGER BY DESIGN: `.head()` runs the census at CONSTRUCTION time,
    // so merely building this frame costs one partial-aggregated corpus
    // scan — the price of plan selection (collapse vs plain) and of the
    // census-driven bit geometry below happening before Catalyst sees
    // the plan. Callers that need plan-only construction should call
    // [[neardupImpl]] with an explicit census verdict instead.
    val census = Tables.embeddings(s, dir)
      .agg(count(lit(1)).as("n"), countDistinct(xxhash64(col("embedding"))).as("nh")).head()
    neardupImpl(withVec(s, dir), collapse = census.getLong(0) != census.getLong(1),
      bits = lshBitsFor(census.getLong(0)))
  }

  /** library entry point over ANY (vec_id, v: array&lt;double&gt;) frame;
    * census on the double column (equivalent gate, one cast paid —
    * eager at construction time, see [[embedNeardup]]).
    */
  def embedNeardupFor(vecs: DataFrame, bucketCap: Long = Long.MaxValue,
      anchors: Long = 16L): DataFrame = {
    val census = vecs
      .agg(count(lit(1)).as("n"), countDistinct(xxhash64(col("v"))).as("nh")).head()
    neardupImpl(vecs, collapse = census.getLong(0) != census.getLong(1),
      bucketCap, anchors, bits = lshBitsFor(census.getLong(0)))
  }

  /** both plans, switched by the census (asserted output-identical in
    * OperatorInvariantSpec on a planted-duplicate corpus).
    * `bucketCap`/`anchors`: the shared hyperplane-bucket occupancy rule
    * ([[graft.operators.Dedup.cappedPairs]]) — default inert (oracle
    * byte-identical). The collapse removes BYTE-identical vectors; the
    * cap guards near-identical FAMILIES (k re-embeddings of boilerplate
    * text differing in low-order float bits) that land distinct vectors
    * in one bucket of every table — measured in tools.BandOccupancy.
    *
    * `bits`: the hyperplane count per table — callers pass
    * [[graft.functions.VectorFns.lshBitsFor]] of their census count, so
    * the per-table bucket occupancy n/2^bits is held ≤ LshTargetOcc by
    * GEOMETRY at any corpus size (the cap stays as backstop for skewed
    * families). At every contract scale the rule pins at the 4-bit
    * floor, where the native codegen'd `graft_lsh_buckets` expression
    * runs — the plan and the oracle are unchanged; off the floor the
    * parameterized HOF twin computes the same plane-index stream.
    */
  private[graft] def neardupImpl(vecs0: DataFrame, collapse: Boolean,
      bucketCap: Long = Long.MaxValue, anchors: Long = 16L,
      bits: Int = LshBits): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketsExpr =
      if (bits == LshBits) sparkLshBuckets("v")
      else sparkLshBucketsParam("v", LshTables, bits)
    val cand =
      if (!collapse) {
        // provably duplicate-free: plain LSH over the raw vectors, no
        // collapse — the pre-r10 plan, 0.6s-class at audit scale
        val buckets = vecs0
          .select(col("vec_id"), posexplode(expr(bucketsExpr)).as(Seq("t", "bucket")))
        Dedup.cappedPairs(buckets, Seq("t", "bucket"), "vec_id", bucketCap, anchors)
          .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
      } else {
        // class key = (hash prefix, full vector): the hash makes the
        // window's shuffle-sort compare 8 bytes in the common case, the
        // full vector keeps equality EXACT (hash collisions just co-sort).
        // snapshot, not persist: the frame feeds 4 downstream references
        // and re-reads of a populated DISK_ONLY InMemoryRelation measured
        // 13× slower than plain file scans on the big-join path
        val members = Materialize.snapshot(vecs0
          .withColumn("rep", min("vec_id")
            .over(Window.partitionBy(xxhash64(col("v")), col("v")))))
        val reps = members.filter(col("vec_id") === col("rep"))
          .select(col("vec_id"), col("v"))
        val buckets = reps
          .select(col("vec_id"), posexplode(expr(bucketsExpr)).as(Seq("t", "bucket")))
        // representative-pair candidates (cross-class)
        val candRep = Dedup.cappedPairs(buckets, Seq("t", "bucket"), "vec_id",
            bucketCap, anchors)
          .select(col("doc_a").as("ra"), col("doc_b").as("rb"))
        val ids = members.select(col("rep"), col("vec_id"))
        // expand back to member pairs — exactly the pre-collapse candidate
        // set, no distinct needed: a member pair maps to ONE class pair
        // (cross branch) or ONE class (self branch, a0 < b0 dedups)
        val cross = candRep
          .join(ids.select(col("rep").as("ra"), col("vec_id").as("a0")), Seq("ra"))
          .join(ids.select(col("rep").as("rb"), col("vec_id").as("b0")), Seq("rb"))
          .select(least(col("a0"), col("b0")).as("vec_a"),
            greatest(col("a0"), col("b0")).as("vec_b"))
        // self-pairs of every multi-member class (identical vectors always
        // collide in every table)
        val self = ids.as("m1").join(ids.as("m2"),
            col("m1.rep") === col("m2.rep") && col("m1.vec_id") < col("m2.vec_id"))
          .select(col("m1.vec_id").as("vec_a"), col("m2.vec_id").as("vec_b"))
        cross.union(self)
      }
    cand
      .join(vecs0.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(vecs0.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .withColumn("cosine", expr(s"floor(${sparkCosine("va", "vb")} * 1000000) / CAST(1000000 AS DOUBLE)"))
      .filter(col("cosine") >= NearDupThreshold)
      .select("vec_a", "vec_b", "cosine")
      .orderBy("vec_a", "vec_b")
  }

  val embedNeardupSql: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), buckets AS (
       |  SELECT vec_id, ts.t AS t, (${duckLshBuckets("v")})[ts.t + 1] AS bucket
       |  FROM vecs CROSS JOIN (SELECT unnest(range(0, $LshTables)) AS t) ts
       |), cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM buckets x JOIN buckets y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
       |)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT c.vec_a, c.vec_b, floor(${duckCosine("a.v", "b.v")} * 1000000) / CAST(1000000 AS DOUBLE) AS cosine
       |  FROM cand c JOIN vecs a ON c.vec_a = a.vec_id JOIN vecs b ON c.vec_b = b.vec_id) t
       |WHERE cosine >= $NearDupThreshold ORDER BY vec_a, vec_b""".stripMargin

  /** exact top-k cosine neighbors for the query set — broadcast the
    * queries, scan the corpus once, TakeOrdered per query.
    */
  def knnBruteforce(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = withVec(s, dir)
    val queries = vecs.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = vecs.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", expr(sparkCosine("qv", "v")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KnnK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        expr("floor(cosine * 1000000) / CAST(1000000 AS DOUBLE)").as("cosine"))
      .orderBy("query_id", "rank")
  }

  val knnBruteforceSql: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${duckCosine("q.v", "c.v")} AS cosine
       |  FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $QuerySetSize
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank, floor(cosine * 1000000) / CAST(1000000 AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $KnnK ORDER BY query_id, rank""".stripMargin

  /** IVF-style ANN: coarse centroids (a deterministic corpus subset),
    * map-side cell assignment via broadcast, queries probe their
    * [[Nprobe]] nearest cells (the standard IVF recall knob).
    *
    * Scale shape: neighbor assignment is ONE struct-argmin aggregate
    * (n rows shuffled, never the n×k scored cross product). Query
    * probes are one rank window over the query×centroid scores
    * ([[probesOf]]) — it only runs on the query set, which is tiny
    * next to the corpus.
    */
  def knnIvf(s: SparkSession, dir: String): DataFrame = knnIvfAt(Nprobe)(s, dir)

  /** deterministic seed centroids: the √n-rule residue class of the
    * corpus ids ([[centroidModFor]]). The one-row modulus broadcasts
    * onto the scan — the filter stays map-side.
    */
  private def seedCents(vecs: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centroidModFrame(vecs)))
      .filter(pmod(col("vec_id"), col("cmod")) === SeedResidue)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))

  /** One Lloyd (k-means) refinement of the seed centroids: assign every
    * vector to its nearest seed, replace each seed with the element-wise
    * mean of its cell. The mean is computed on INTEGER milli-quantized
    * components (`floor(x·1000)`), because integer sums are associative
    * — the aggregation is order-independent, so Spark's partial
    * aggregation and DuckDB's serial sum produce the identical centroid
    * and the oracle stays bit-exact. (A double sum would differ in the
    * last ulp depending on partition order.)
    *
    * Scale shape: assignment is the same broadcast + struct-argmin as
    * the index build (one row per vector pre-shuffle); the component
    * sum is a (cell, pos) partial aggregate — the shuffle carries
    * cells×64 rows, not the corpus.
    */
  private def refineCents(vecs: DataFrame): DataFrame =
    refineCentsFromSeeds(vecs, seedCents(vecs))

  /** the Lloyd step from an EXPLICIT seed table — split out so
    * knn_ivf_refresh can re-seed from a drifted union with the
    * mix-hash residue rule instead of the plain id residue.
    */
  private[graft] def refineCentsFromSeeds(vecs: DataFrame, seeds: DataFrame): DataFrame = {
    val assign0 = vecs.crossJoin(broadcast(seeds))
      .withColumn("ccos", expr(sparkCosine("v", "cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct((col("ccos") * -1).as("neg"), col("cent_id"))).as("best"),
        first(col("v")).as("v"))
      .select(col("best.cent_id").as("cell"), col("v"))
    assign0
      .select(col("cell"),
        posexplode(expr("transform(v, x -> CAST(floor(x * 1000) AS BIGINT))"))
          .as(Seq("pos", "q")))
      .groupBy("cell", "pos")
      .agg(sum("q").as("qs"), count(lit(1)).as("n"))
      .withColumn("c",
        expr("floor(CAST(qs AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(1000 AS DOUBLE)"))
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("cv"))
      .select(col("cell").as("cent_id"), col("cv"))
  }

  /** knn_ivf with an explicit probe count — the recall/cost knob
    * (ScaleOpsSpec measures recall vs brute force at 1/2/4 probes).
    */
  /** nearest-centroid cell assignment via struct-argmin aggregate, NOT
    * a window: the broadcast cross product is map-side, partial
    * aggregation shrinks it to one row per vector BEFORE the shuffle —
    * a window would shuffle all n×k scored rows. min(struct(-cos,
    * cent_id)) picks max cosine with deterministic min-cent_id
    * tie-break. Shared by [[knnIvfAt]] and [[knnJoin]].
    */
  private def cellAssign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("ccos", expr(sparkCosine("v", "cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct((col("ccos") * -1).as("neg"), col("cent_id"))).as("best"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("best.cent_id").as("cell"), col("v"))

  /** Cell occupancy profile of the IVF index over ANY (`vec_id`,
    * `v`: array<double>) frame: one row per occupied cell with its
    * member count. The library-facing balance audit (knn_ivf_balance is
    * its contract twin on the embeddings table) and the cost probe
    * behind tools/IvfSweep's assign-time measurements — it runs exactly
    * the index build (seed → Lloyd refine → argmin assign) and a
    * cells-bounded agg, nothing else.
    */
  def cellProfileFor(vecs: DataFrame): DataFrame = {
    val cents = Materialize.stable(refineCents(vecs))
    cellAssign(vecs, cents).groupBy("cell").agg(count(lit(1)).as("n_vecs"))
  }

  /** Query-side probe list: `nprobe` argmin passes over the
    * query×centroid scores, pass p excluding the cells picked by
    * passes < p. Returns (query_id, cell, qv) — shared by [[knnIvfAt]]
    * and [[knnIvfPq]].
    */
  private def queryProbes(vecs: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    probesOf(vecs.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("query_id"), col("v").as("qv")), cents, nprobe)

  /** [[queryProbes]] over an EXPLICIT (query_id, qv) set — shared with
    * the refresh gates, whose probe queries are the planted mode batch
    * rather than the `vec_id < QuerySetSize` contract slice.
    *
    * Round 16: one rank window over the query×centroid scores instead
    * of nprobe iterative argmin passes (each pass paid a groupBy, a
    * collect_set join and a union over the same scored frame). The
    * top-np by (neg cosine, cent_id) is the identical cell set — pass
    * p's argmin over the not-yet-picked cells IS lexicographic rank
    * p+1, and the DuckDB oracle already spells it `crank <= np`. The
    * window shuffles only the query×centroid scores (queries are tiny
    * by contract; cells are √n), never corpus rows.
    */
  private def probesOf(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("neg"), col("cent_id"))
    queries.crossJoin(broadcast(cents))
      .withColumn("neg", expr(sparkCosine("qv", "cv")) * -1)
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cell"), col("qv"))
  }

  def knnIvfAt(nprobe: Int)(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = withVec(s, dir)
    val cents = Materialize.stable(refineCents(vecs))
    val assign = cellAssign(vecs, cents)
    // every vector indexed in exactly its best cell
    val probes = queryProbes(vecs, cents, nprobe)
    val byQuery = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    probes.join(assign.select(col("vec_id").as("neighbor_id"), col("cell"), col("v")), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", expr(sparkCosine("qv", "v")))
      .withColumn("rank", row_number().over(byQuery).cast("long"))
      .filter(col("rank") <= KnnK)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        expr("floor(cosine * 1000000) / CAST(1000000 AS DOUBLE)").as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** The shared oracle CTE chain (vectors → seed cells → refined
    * centroids → final cell assignment) behind knn_ivf AND knn_join.
    */
  private val knnAssignCte: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), cmod AS (
       |  SELECT greatest(CAST($MinCentroidMod AS BIGINT),
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) // $CentroidGrid * $CentroidGrid) AS m
       |  FROM vecs
       |), seeds AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM vecs, cmod WHERE vec_id % m = $SeedResidue
       |), assign0 AS (
       |  SELECT cell, v FROM (
       |    SELECT vecs.vec_id, seeds.cent_id AS cell, vecs.v,
       |      ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
       |        ORDER BY ${duckCosine("vecs.v", "seeds.cv")} DESC, seeds.cent_id) AS crank
       |    FROM vecs CROSS JOIN seeds) t
       |  WHERE crank = 1
       |), comp AS (
       |  SELECT cell, p.pos AS pos,
       |    SUM(CAST(floor(v[p.pos + 1] * 1000) AS BIGINT)) AS qs, COUNT(*) AS n
       |  FROM assign0 CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |  GROUP BY 1, 2
       |), cents AS (
       |  SELECT cell AS cent_id,
       |    list(floor(CAST(qs AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(1000 AS DOUBLE) ORDER BY pos) AS cv
       |  FROM comp GROUP BY 1
       |), assign AS (
       |  SELECT vec_id, cell, v FROM (
       |    SELECT vecs.vec_id, cents.cent_id AS cell, vecs.v,
       |      ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
       |        ORDER BY ${duckCosine("vecs.v", "cents.cv")} DESC, cents.cent_id) AS crank
       |    FROM vecs CROSS JOIN cents) t
       |  WHERE crank = 1
       |)""".stripMargin

  val knnIvfSql: String =
    s"""$knnAssignCte, qprobe AS (
       |  SELECT query_id, cell, qv FROM (
       |    SELECT vecs.vec_id AS query_id, cents.cent_id AS cell, vecs.v AS qv,
       |      ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
       |        ORDER BY ${duckCosine("vecs.v", "cents.cv")} DESC, cents.cent_id) AS crank
       |    FROM vecs CROSS JOIN cents WHERE vecs.vec_id < $QuerySetSize) t
       |  WHERE crank <= $Nprobe
       |), scored AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id,
       |    ${duckCosine("q.qv", "a.v")} AS cosine
       |  FROM qprobe q JOIN assign a ON q.cell = a.cell AND a.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank, floor(cosine * 1000000) / CAST(1000000 AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $KnnK ORDER BY query_id, rank""".stripMargin

  /** int8 symmetric quantization of the embedding column — the vector-
    * store compression step (4× smaller than f32, 8× than f64). Per
    * vector: scale = 127/max|v|, q_i = floor(v_i·scale + 0.5). Output
    * is the quantized checksum + floor-quantized reconstruction MSE, so
    * the oracle pins BOTH the integer codes and the error math. Pure
    * map-side HOF column work; every double op is written identically
    * on both engines (same IEEE chain → bit-equal, the PortableHash
    * discipline applied to vector math).
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(col("vec_id"), expr(sparkToDouble("embedding")).as("v"))
      .withColumn("maxabs", expr(
        "greatest(aggregate(v, CAST(0 AS DOUBLE), (m, x) -> greatest(m, abs(x))), CAST(1e-12 AS DOUBLE))"))
      .withColumn("q", expr(
        "transform(v, x -> CAST(floor(x * (CAST(127 AS DOUBLE) / maxabs) + CAST(0.5 AS DOUBLE)) AS BIGINT))"))
      .select(col("vec_id"),
        expr(q6("maxabs")).as("maxabs_q"),
        expr("aggregate(q, 0L, (acc, x) -> acc + x)").as("q_sum"),
        expr("aggregate(q, 0L, (acc, x) -> greatest(acc, abs(x)))").as("q_maxabs"),
        expr(q6(
          """aggregate(transform(sequence(1, size(v)), i ->
            |  (element_at(v, i) - CAST(element_at(q, i) AS DOUBLE) * (maxabs / CAST(127 AS DOUBLE))) *
            |  (element_at(v, i) - CAST(element_at(q, i) AS DOUBLE) * (maxabs / CAST(127 AS DOUBLE)))),
            |  CAST(0 AS DOUBLE), (acc, x) -> acc + x) / CAST(size(v) AS DOUBLE)""".stripMargin.replaceAll("\\s+", " ")))
          .as("mse_q"))
      .orderBy("vec_id")
  }

  val embedQuantizeSql: String =
    s"""SELECT vec_id,
       |  floor(maxabs * 1000000) / CAST(1000000 AS DOUBLE) AS maxabs_q,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), q), (acc, x) -> acc + x) AS q_sum,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), q), (acc, x) -> greatest(acc, abs(x))) AS q_maxabs,
       |  floor((list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(v) + 1), i ->
       |    (v[i] - CAST(q[i] AS DOUBLE) * (maxabs / CAST(127 AS DOUBLE))) *
       |    (v[i] - CAST(q[i] AS DOUBLE) * (maxabs / CAST(127 AS DOUBLE))))), (acc, x) -> acc + x)
       |    / CAST(len(v) AS DOUBLE)) * 1000000) / CAST(1000000 AS DOUBLE) AS mse_q
       |FROM (
       |  SELECT vec_id, v, maxabs,
       |    list_transform(v, x -> CAST(floor(x * (CAST(127 AS DOUBLE) / maxabs) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS q
       |  FROM (
       |    SELECT vec_id, v,
       |      greatest(list_reduce(list_prepend(CAST(0 AS DOUBLE), v), (m, x) -> greatest(m, abs(x))), CAST(1e-12 AS DOUBLE)) AS maxabs
       |    FROM (
       |      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings) t0) t1) t2
       |ORDER BY vec_id""".stripMargin

  /** Johnson–Lindenstrauss random projection 64 → 16 dims — the cheap
    * dimensionality reduction in front of clustering / coarse ANN.
    * Coefficients come from the portable PRN family (disjoint index
    * stream from the LSH planes), so both engines generate the SAME
    * projection matrix from arithmetic alone — nothing is shipped.
    * Output pins the milli-quantized projected components (rolling
    * integer fingerprint) and the norm ratio — JL says it concentrates
    * around sqrt(16/64) = 0.5 · sqrt(Dim/ProjDim) scaling aside.
    * Pure map-side HOF column math; zero shuffles beyond the sort.
    */
  def embedProject(s: SparkSession, dir: String): DataFrame = {
    val P = graft.functions.PortableHash.P
    withVec(s, dir)
      .withColumn("p", expr(sparkProject("v")))
      .select(col("vec_id"),
        expr(s"aggregate(transform(p, x -> CAST(floor(x * 1000) AS BIGINT)), 0L, " +
          s"(acc, q) -> (((acc * 1000003 + q) % $P) + $P) % $P)").as("proj_fp"),
        expr(q6(s"${sparkNorm("p")} / ${sparkNorm("v")}")).as("norm_ratio"))
      .orderBy("vec_id")
  }

  val embedProjectSql: String = {
    val P = graft.functions.PortableHash.P
    s"""SELECT vec_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(p, x -> CAST(floor(x * 1000) AS BIGINT))),
       |    (acc, q) -> (((acc * 1000003 + q) % $P) + $P) % $P) AS proj_fp,
       |  floor((${duckNorm("p")} / ${duckNorm("v")}) * 1000000) / CAST(1000000 AS DOUBLE) AS norm_ratio
       |FROM (
       |  SELECT vec_id, v, ${duckProject("v")} AS p
       |  FROM (
       |    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings) t0) t1
       |ORDER BY vec_id""".stripMargin
  }

  // ---- product quantization ---------------------------------------------

  val PqM = 8        // subspaces
  val PqSubDim: Int = graft.functions.VectorFns.Dim / PqM // 8 dims each
  val PqK = 16       // centroids per subspace
  val PqSeedMod = 5  // codebook seeds: first PqK of vec_id % 5 == 2
  val PqSeedOffset = 2
  /** rung count of the PQ training ladder (knn_pq_train_converge) and
    * of knn_ivf_pq_refresh's warm-start retrain — enough to show the
    * SSE curve flattening on this geometry (rung 1 buys 13-27% per
    * subspace; rungs 2-3 price the diminishing tail). Declared with the
    * PQ constants: the oracle SQL vals below interpolate it at object
    * init, which runs in declaration order.
    */
  val PqTrainIters = 3
  val PqShortlist = 50 // ADC candidates per query that get an exact rerank

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search"): split each vector into [[PqM]]
    * subvectors, quantize each against a [[PqK]]-entry per-subspace
    * codebook (seeded from a deterministic corpus subset), and answer
    * queries with the asymmetric distance computation — approx L2² =
    * Σₘ d(query subvector m, codeword m) read from a per-query distance
    * table. The index stores M bytes per vector instead of Dim floats
    * (32× compression here), which is what makes billion-vector ANN
    * memory-feasible.
    *
    * Portability: the per-(query, subspace, codeword) distances are
    * floor-quantized to integer micros BEFORE the Σₘ sum — integer sums
    * are order-independent, so Spark's partial aggregation and the
    * serial oracle agree exactly (a double Σ would drift in the last
    * ulp with partition order; same discipline as the knn_ivf Lloyd
    * step).
    *
    * Scale shape: encoding scores n×M×K codebook rows MAP-SIDE (the
    * codebook broadcasts — it is M·K·SubDim doubles, KBs) and partial-
    * aggregates the struct-argmin to n×M code rows before any shuffle.
    * The ADC scan joins codes against the broadcast distance table
    * (Q·M·K integers) and partial-aggregates the per-(query, vector)
    * sums — the shuffle carries candidate scores, never raw vectors.
    * The ADC [[PqShortlist]] then gets an EXACT rerank — only Q·R full
    * vectors are ever touched post-index, the memory-hierarchy split
    * (compressed scan → exact shortlist) every production PQ system
    * uses; measured here it more than doubles recall@3 over raw ADC
    * ranking (0.33 → 0.73 at sf0.01).
    */
  /** unit-normalize so L2² = 2 − 2·cosine — the PQ index then ranks by
    * the same metric as the cosine brute force (without this the two
    * metrics disagree wherever norms vary and recall collapses)
    */
  private def pqNormalize(vecs: DataFrame): DataFrame = vecs
    .withColumn("nrm", expr(sparkNorm("v")))
    .withColumn("v", expr("transform(v, x -> x / nrm)"))
    .drop("nrm")

  private def pqMs = expr(s"explode(sequence(0, ${PqM - 1}))")

  private def pqSubvecs(nvecs: DataFrame): DataFrame = nvecs
    .select(col("vec_id"), pqMs.as("m"), col("v"))
    .withColumn("sub", expr(s"slice(v, m * $PqSubDim + 1, $PqSubDim)"))
    .drop("v")

  /** deterministic codebook: subvectors of the PqK seed rows at
    * vec_id = offset + mod·j — the codeword index is pure arithmetic
    * (no global ranking window, which would single-partition the seeds)
    */
  private def pqCodebook(nvecs: DataFrame, subvecs: DataFrame): DataFrame = {
    val seeds = nvecs
      .filter(pmod(col("vec_id"), lit(PqSeedMod)) === PqSeedOffset &&
        col("vec_id") < PqSeedOffset + PqSeedMod * PqK)
      .select(col("vec_id"), expr(s"(vec_id - $PqSeedOffset) div $PqSeedMod").as("j"))
    subvecs.join(seeds, Seq("vec_id"))
      .select(col("m"), col("j"), col("sub").as("cvec"))
  }

  /** encode: per (vector, subspace) argmin over the broadcast codebook */
  private def pqCodes(subvecs: DataFrame, codebook: DataFrame): DataFrame =
    subvecs.join(broadcast(codebook), Seq("m"))
      .withColumn("d", expr(sparkSqDist("sub", "cvec")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d"), col("j"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.j").as("j"))

  /** per-query distance table, integer-micro quantized pre-sum */
  private def pqDistTable(nvecs: DataFrame, codebook: DataFrame): DataFrame =
    nvecs.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("query_id"), pqMs.as("m"), col("v"))
      .withColumn("qsub", expr(s"slice(v, m * $PqSubDim + 1, $PqSubDim)"))
      .join(broadcast(codebook), Seq("m"))
      .select(col("query_id"), col("m"), col("j"),
        expr(s"CAST(floor(${sparkSqDist("qsub", "cvec")} * 1000000) AS BIGINT)").as("dti"))

  def knnPq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = pqNormalize(withVec(s, dir))
    val subvecs = pqSubvecs(vecs)
    val codebook = pqCodebook(vecs, subvecs)
    val codes = pqCodes(subvecs, codebook)
    val dt = pqDistTable(vecs, codebook)
    // ADC scan: codes ⋈ broadcast table, Σ over subspaces → shortlist
    val byAdc = Window.partitionBy("query_id").orderBy(col("adc_i"), col("neighbor_id"))
    val shortlist = codes.join(broadcast(dt), Seq("m", "j"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("dti").as("adc_i"))
      .withColumn("srank", row_number().over(byAdc))
      .filter(col("srank") <= PqShortlist)
    // exact rerank of the shortlist: only Q·R full vectors touched
    val byCos = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    shortlist
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("v")), Seq("neighbor_id"))
      .join(vecs.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .withColumn("cosine", expr(sparkCosine("qv", "v")))
      .withColumn("rank", row_number().over(byCos).cast("long"))
      .filter(col("rank") <= KnnK)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        expr("floor(cosine * 1000000) / CAST(1000000 AS DOUBLE)").as("cosine"),
        expr("CAST(adc_i AS DOUBLE) / CAST(1000000 AS DOUBLE)").as("adc_dist"))
      .orderBy("query_id", "rank")
  }

  val knnPqSql: String =
    s"""WITH vecs0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), vecs AS (
       |  SELECT vec_id, list_transform(v, x -> x / nrm) AS v
       |  FROM (SELECT vec_id, v, ${duckNorm("v")} AS nrm FROM vecs0) t
       |), subvecs AS (
       |  SELECT vec_id, ms.m AS m, list_slice(v, ms.m * $PqSubDim + 1, ms.m * $PqSubDim + $PqSubDim) AS sub
       |  FROM vecs CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms
       |), seeds AS (
       |  SELECT vec_id, (vec_id - $PqSeedOffset) // $PqSeedMod AS j
       |  FROM vecs
       |  WHERE vec_id % $PqSeedMod = $PqSeedOffset
       |    AND vec_id < $PqSeedOffset + $PqSeedMod * $PqK
       |), codebook AS (
       |  SELECT sv.m, s.j, sv.sub AS cvec
       |  FROM subvecs sv JOIN seeds s ON sv.vec_id = s.vec_id
       |), codes AS (
       |  SELECT vec_id, m, j FROM (
       |    SELECT sv.vec_id, sv.m, cb.j,
       |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.m
       |        ORDER BY ${duckSqDist("sv.sub", "cb.cvec")}, cb.j) AS r
       |    FROM subvecs sv JOIN codebook cb ON sv.m = cb.m) t
       |  WHERE r = 1
       |), dt AS (
       |  SELECT sv.vec_id AS query_id, sv.m, cb.j,
       |    CAST(floor(${duckSqDist("sv.sub", "cb.cvec")} * 1000000) AS BIGINT) AS dti
       |  FROM subvecs sv JOIN codebook cb ON sv.m = cb.m
       |  WHERE sv.vec_id < $QuerySetSize
       |), adc AS (
       |  SELECT d.query_id, c.vec_id AS neighbor_id, CAST(SUM(d.dti) AS BIGINT) AS adc_i
       |  FROM codes c JOIN dt d ON c.m = d.m AND c.j = d.j
       |  WHERE c.vec_id <> d.query_id
       |  GROUP BY 1, 2
       |), shortlist AS (
       |  SELECT query_id, neighbor_id, adc_i FROM (
       |    SELECT query_id, neighbor_id, adc_i,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_i, neighbor_id) AS srank
       |    FROM adc) t
       |  WHERE srank <= $PqShortlist
       |), rerank AS (
       |  SELECT s.query_id, s.neighbor_id, s.adc_i,
       |    ${duckCosine("q.v", "n.v")} AS cosine
       |  FROM shortlist s
       |  JOIN vecs n ON s.neighbor_id = n.vec_id
       |  JOIN vecs q ON s.query_id = q.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, adc_i, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM rerank
       |)
       |SELECT query_id, neighbor_id, rank,
       |  floor(cosine * 1000000) / CAST(1000000 AS DOUBLE) AS cosine,
       |  CAST(adc_i AS DOUBLE) / CAST(1000000 AS DOUBLE) AS adc_dist
       |FROM ranked WHERE rank <= $KnnK ORDER BY query_id, rank""".stripMargin

  /** IVF + PQ composite — the billion-vector production index (FAISS's
    * IVFADC, Jégou et al. §IV): the coarse quantizer restricts each
    * query's ADC scan to its [[Nprobe]] probed cells, and within those
    * cells distance comes from the M-byte PQ codes — so query cost is
    * nprobe·|cell|·M table lookups instead of n·M, and the index
    * stores codes + one cell id per vector (the only corpus-sized
    * state; vectors themselves are touched just for the
    * [[PqShortlist]]-bounded exact rerank). This is the composition
    * the standalone contract pieces exist for: cells from knn_ivf's
    * √n-rule build, codes/ADC from knn_pq, probes from the shared
    * query-probe pass — all reused verbatim, so parity here certifies
    * the COMPOSITE, not re-derived math.
    *
    * Scale shape: the only corpus-sized joins are vec_id-keyed
    * (codes ⋈ cell assignment) and cell-keyed (probes ⋈ indexed
    * codes, cell-bounded); the distance table broadcasts (Q·M·K
    * integers); the ADC sum partial-aggregates per (query, vector)
    * before its shuffle; shortlist + rerank are query-bounded.
    */
  def knnIvfPq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = withVec(s, dir)
    val cents = Materialize.stable(refineCents(vecs))
    val assign = cellAssign(vecs, cents)
    val probes = queryProbes(vecs, cents, Nprobe).select("query_id", "cell")
    val nvecs = pqNormalize(vecs)
    val subvecs = pqSubvecs(nvecs)
    val codebook = pqCodebook(nvecs, subvecs)
    val codes = pqCodes(subvecs, codebook)
    val dt = pqDistTable(nvecs, codebook)
    val cellCodes = codes.join(assign.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val byAdc = Window.partitionBy("query_id").orderBy(col("adc_i"), col("neighbor_id"))
    val shortlist = probes.join(cellCodes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(dt), Seq("query_id", "m", "j"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("dti").as("adc_i"))
      .withColumn("srank", row_number().over(byAdc))
      .filter(col("srank") <= PqShortlist)
    val byCos = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    shortlist
      .join(nvecs.select(col("vec_id").as("neighbor_id"), col("v")), Seq("neighbor_id"))
      .join(nvecs.filter(col("vec_id") < QuerySetSize)
        .select(col("vec_id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .withColumn("cosine", expr(sparkCosine("qv", "v")))
      .withColumn("rank", row_number().over(byCos).cast("long"))
      .filter(col("rank") <= KnnK)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        expr("floor(cosine * 1000000) / CAST(1000000 AS DOUBLE)").as("cosine"),
        expr("CAST(adc_i AS DOUBLE) / CAST(1000000 AS DOUBLE)").as("adc_dist"))
      .orderBy("query_id", "rank")
  }

  val knnIvfPqSql: String =
    s"""$knnAssignCte, nvecs AS (
       |  SELECT vec_id, list_transform(v, x -> x / nrm) AS v
       |  FROM (SELECT vec_id, v, ${duckNorm("v")} AS nrm FROM vecs) t
       |), psub AS (
       |  SELECT vec_id, ms.m AS m, list_slice(v, ms.m * $PqSubDim + 1, ms.m * $PqSubDim + $PqSubDim) AS sub
       |  FROM nvecs CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms
       |), pseeds AS (
       |  SELECT vec_id, (vec_id - $PqSeedOffset) // $PqSeedMod AS j
       |  FROM nvecs
       |  WHERE vec_id % $PqSeedMod = $PqSeedOffset
       |    AND vec_id < $PqSeedOffset + $PqSeedMod * $PqK
       |), pcb AS (
       |  SELECT sv.m, s.j, sv.sub AS cvec
       |  FROM psub sv JOIN pseeds s ON sv.vec_id = s.vec_id
       |), pcodes AS (
       |  SELECT vec_id, m, j FROM (
       |    SELECT sv.vec_id, sv.m, cb.j,
       |      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.m
       |        ORDER BY ${duckSqDist("sv.sub", "cb.cvec")}, cb.j) AS r
       |    FROM psub sv JOIN pcb cb ON sv.m = cb.m) t
       |  WHERE r = 1
       |), pdt AS (
       |  SELECT sv.vec_id AS query_id, sv.m, cb.j,
       |    CAST(floor(${duckSqDist("sv.sub", "cb.cvec")} * 1000000) AS BIGINT) AS dti
       |  FROM psub sv JOIN pcb cb ON sv.m = cb.m
       |  WHERE sv.vec_id < $QuerySetSize
       |), qprobe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT vecs.vec_id AS query_id, cents.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
       |        ORDER BY ${duckCosine("vecs.v", "cents.cv")} DESC, cents.cent_id) AS crank
       |    FROM vecs CROSS JOIN cents WHERE vecs.vec_id < $QuerySetSize) t
       |  WHERE crank <= $Nprobe
       |), adc AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id, CAST(SUM(d.dti) AS BIGINT) AS adc_i
       |  FROM qprobe q
       |  JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.query_id
       |  JOIN pcodes c ON c.vec_id = a.vec_id
       |  JOIN pdt d ON d.query_id = q.query_id AND d.m = c.m AND d.j = c.j
       |  GROUP BY 1, 2
       |), shortlist AS (
       |  SELECT query_id, neighbor_id, adc_i FROM (
       |    SELECT query_id, neighbor_id, adc_i,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_i, neighbor_id) AS srank
       |    FROM adc) t
       |  WHERE srank <= $PqShortlist
       |), rerank AS (
       |  SELECT s.query_id, s.neighbor_id, s.adc_i,
       |    ${duckCosine("q.v", "n.v")} AS cosine
       |  FROM shortlist s
       |  JOIN nvecs n ON s.neighbor_id = n.vec_id
       |  JOIN nvecs q ON s.query_id = q.vec_id
       |), rankedpq AS (
       |  SELECT query_id, neighbor_id, adc_i, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM rerank
       |)
       |SELECT query_id, neighbor_id, rank,
       |  floor(cosine * 1000000) / CAST(1000000 AS DOUBLE) AS cosine,
       |  CAST(adc_i AS DOUBLE) / CAST(1000000 AS DOUBLE) AS adc_dist
       |FROM rankedpq WHERE rank <= $KnnK ORDER BY query_id, rank""".stripMargin

  // ---- semantic dedup (SemDeDup-style) -----------------------------------

  val SemTau = 0.45 // same cosine bar as embed_neardup

  /** Cluster-bounded semantic dedup (the SemDeDup recipe, Abbas et al.
    * 2023): assign every embedding to its IVF cell (the same
    * Lloyd-refined centroids as knn_ivf), score pairs ONLY within a
    * cell, connect pairs at cosine ≥ [[SemTau]] into components
    * (transitive — A~B, B~C is one group even if A~C dips below the
    * bar), and keep exactly the min-id representative of each
    * component. Output = one row per vector with its cell, component
    * id, and keep flag.
    *
    * Scale shape: the clustering exists precisely to BOUND the
    * quadratic term — pair scoring is per-cell all-pairs, so cell
    * count must grow with the corpus (SemDeDup sizes clusters to keep
    * cells ~constant); cross-cell duplicates are the documented recall
    * tradeoff. Components run on the verified-pair graph
    * (pointer-doubled min-label propagation), which is output-sized,
    * not corpus-sized.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    dedupSemanticFor(withVec(s, dir), SemTau).orderBy("vec_id")

  /** [[dedupSemantic]] over ANY (`vec_id`, `v`: array<double>) frame
    * with a caller-chosen cosine bar — the library entry point
    * (`api.CorpusOps.semanticKeepList` adapts arbitrary column names).
    */
  def dedupSemanticFor(vecs: DataFrame, tau: Double): DataFrame = {
    val cents = refineCents(vecs)
    val assign = Materialize.stable(vecs.crossJoin(broadcast(cents))
      .withColumn("ccos", expr(sparkCosine("v", "cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct((col("ccos") * -1).as("neg"), col("cent_id"))).as("best"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("best.cent_id").as("cell"), col("v")))
    val pairs = assign.as("a").join(assign.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(expr(s"${sparkCosine("a.v", "b.v")} >= $tau"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
    val comps = Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    assign.select("vec_id", "cell").join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster_id"), col("vec_id")).as("component"),
        (col("cluster_id").isNull || col("vec_id") === col("cluster_id")).as("keep"))
  }

  val dedupSemanticSql: String =
    s"""WITH RECURSIVE vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), cmod AS (
       |  SELECT greatest(CAST($MinCentroidMod AS BIGINT),
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) // $CentroidGrid * $CentroidGrid) AS m
       |  FROM vecs
       |), seeds AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM vecs, cmod WHERE vec_id % m = $SeedResidue
       |), assign0 AS (
       |  SELECT cell, v FROM (
       |    SELECT vecs.vec_id, seeds.cent_id AS cell, vecs.v,
       |      ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
       |        ORDER BY ${duckCosine("vecs.v", "seeds.cv")} DESC, seeds.cent_id) AS crank
       |    FROM vecs CROSS JOIN seeds) t
       |  WHERE crank = 1
       |), comp AS (
       |  SELECT cell, p.pos AS pos,
       |    SUM(CAST(floor(v[p.pos + 1] * 1000) AS BIGINT)) AS qs, COUNT(*) AS n
       |  FROM assign0 CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |  GROUP BY 1, 2
       |), cents AS (
       |  SELECT cell AS cent_id,
       |    list(floor(CAST(qs AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(1000 AS DOUBLE) ORDER BY pos) AS cv
       |  FROM comp GROUP BY 1
       |), assign AS (
       |  SELECT vec_id, cell, v FROM (
       |    SELECT vecs.vec_id, cents.cent_id AS cell, vecs.v,
       |      ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
       |        ORDER BY ${duckCosine("vecs.v", "cents.cv")} DESC, cents.cent_id) AS crank
       |    FROM vecs CROSS JOIN cents) t
       |  WHERE crank = 1
       |), pairs AS (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${duckCosine("a.v", "b.v")} >= $SemTau
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |), reach(node, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
       |), comps AS (
       |  SELECT node AS vec_id, MIN(label) AS cluster_id FROM reach GROUP BY node
       |)
       |SELECT a.vec_id, a.cell,
       |  COALESCE(c.cluster_id, a.vec_id) AS component,
       |  c.cluster_id IS NULL OR a.vec_id = c.cluster_id AS keep
       |FROM assign a LEFT JOIN comps c ON a.vec_id = c.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // ---- semantic incremental admission (the FOURTH admission gate) --------

  /** id shift for the semantic-ingestion batch — its own namespace
    * after the 200000 exact / 300000 near-dup / 400000 containment
    * doc batches and the 400000 drift batch on the EMBEDDINGS id
    * space (distinct per-table namespaces; globally unique among the
    * embeddings-side plants so refresh/drift/semantic batches can
    * never alias in a union).
    */
  val SemBatchShift = 500000L

  /** plane-PRN stream bases for the semantic plants — their own slots
    * far above the LSH/projection planes (≤ 80), the sweep geometries
    * and the refresh audit's 90000, so no stream ever collides.
    */
  val SemPerturbIdx = 95000L
  val SemNewIdx = 96000L

  /** the semantic admit bar: reject a batch vector whose best corpus
    * cosine reaches this. Measured geometry at every contract scale
    * (sf0.001/0.01/0.1): planted paraphrases sit ≥ 0.971 against
    * their origin and ≤ 0.54 against every OTHER corpus vector;
    * new-mode vectors peak at 0.60 against the corpus — 0.8 splits
    * the plants with ≥ 0.17 margin either side, and (unlike the 0.45
    * near-dup bar) sits above the tail of chance cosines between
    * unrelated vectors in this 64-dim geometry, which is what an
    * ADMISSION decision needs: a borderline 0.5-cosine stranger must
    * not block ingestion.
    */
  val SemAdmitTau = 0.8

  /** the paraphrased re-ingestion vector for plant id `idExpr`: the
    * original plus a 0.05-weighted per-vector PRN spread — cosine to
    * its origin ≥ 0.971 at every contract scale (the "same content,
    * new embedding noise" shape: re-encoded text, a fine-tuned
    * encoder checkpoint). Block-local ids ([[newModeVec]]'s overflow
    * fold).
    */
  private def semPerturbVec(idExpr: String): String =
    s"transform(sequence(0, ${graft.functions.VectorFns.Dim - 1}), j -> " +
      s"element_at(v, j + 1) + CAST(0.05 AS DOUBLE) * " +
      s"${graft.functions.VectorFns.planeCoef(s"($SemPerturbIdx + 1 + $idExpr)", "j")})"

  private def duckSemPerturbVec(idExpr: String): String =
    s"list_transform(range(0, ${graft.functions.VectorFns.Dim}), j -> " +
      s"v[j + 1] + CAST(0.05 AS DOUBLE) * " +
      s"${graft.functions.VectorFns.planeCoef(s"($SemPerturbIdx + 1 + $idExpr)", "j")})"

  /** the genuinely-new vector for plant id `idExpr`: [[newModeVec]]'s
    * mode-plus-spread shape on the [[SemNewIdx]] PRN stream — corpus
    * cosines peak at 0.60, far under [[SemAdmitTau]].
    */
  private def semNewVec(idExpr: String): String =
    s"transform(sequence(0, ${graft.functions.VectorFns.Dim - 1}), j -> " +
      s"${graft.functions.VectorFns.planeCoef(SemNewIdx.toString, "j")} + " +
      s"CAST(0.8 AS DOUBLE) * ${graft.functions.VectorFns.planeCoef(s"($SemNewIdx + 1 + $idExpr)", "j")})"

  private def duckSemNewVec(idExpr: String): String =
    s"list_transform(range(0, ${graft.functions.VectorFns.Dim}), j -> " +
      s"${graft.functions.VectorFns.planeCoef(SemNewIdx.toString, "j")} + " +
      s"CAST(0.8 AS DOUBLE) * ${graft.functions.VectorFns.planeCoef(s"($SemNewIdx + 1 + $idExpr)", "j")})"

  /** Semantic incremental admission — the FOURTH admission gate,
    * closing the leak all three text gates provably pass: a PARAPHRASE
    * re-ingestion (same content re-embedded — new wording, new byte
    * stream) shares no 3-gram shingles with its origin, so the exact
    * fingerprint probe admits it, the minhash est-J verify admits it
    * (J ≈ 0), and the winnow-print containment probe admits it (no
    * shared 12-word run → no shared print) — the cross-gate leak is
    * asserted in OperatorInvariantSpec, mirroring the containment
    * gate's. This gate probes the corpus EMBEDDING index instead: the
    * IVF cells (the dedup_semantic / knn_ivf centroids) plus the
    * 16-table hyperplane buckets ([[lshBitsFor]] census geometry),
    * and verifies candidates with embed_neardup's exact-cosine
    * predicate at the [[SemAdmitTau]] bar. The synthetic batch mixes
    * paraphrase re-ingestions (vec_id%10==2, [[semPerturbVec]]) with
    * genuinely-new vectors (vec_id%10==6, [[semNewVec]] — a new
    * content mode, admitted).
    *
    * 100 TB shape: the index (cell assignment + bucket postings per
    * corpus vector) is built once and amortized across batches — in
    * production it persists through [[annIndexWrite]]'s bucketed
    * layout, making the probe join exchange-free on the index side;
    * the probe shuffles only the BATCH (delta-sized); verification is
    * candidate-bounded, and candidate volume per probe is held to
    * ~[[graft.functions.VectorFns.LshTables]]·[[graft.functions.VectorFns.LshTargetOcc]]
    * + one cell by the census bit geometry at ANY corpus size.
    */
  def dedupIncrementalSemantic(s: SparkSession, dir: String): DataFrame = {
    val vecs = Materialize.stable(withVec(s, dir))
    semanticAdmissionFor(vecs, semanticPlantBatch(vecs))
  }

  /** the gate's synthetic ingestion delta over ANY (`vec_id`, `v`)
    * corpus frame — shared with the streaming twin and the cross-gate
    * leak spec so all three feed the IDENTICAL plant.
    */
  private[graft] def semanticPlantBatch(vecs: DataFrame): DataFrame =
    vecs.filter(pmod(col("vec_id"), lit(10)) === 2)
      .select(Dedup.plantId(col("vec_id"), SemBatchShift).as("new_id"),
        expr(semPerturbVec("pmod(vec_id, 10000000)")).as("v"))
      .union(vecs.filter(pmod(col("vec_id"), lit(10)) === 6)
        .select(Dedup.plantId(col("vec_id"), SemBatchShift).as("new_id"),
          expr(semNewVec("pmod(vec_id, 10000000)")).as("v")))

  /** The semantic index's posting shape over ANY (`idCol`, `v`) frame,
    * geometry frozen from `corpus`: space 0 rows are hyperplane-bucket
    * postings (key = table·2³² + bucket, bit count from the corpus
    * census via [[lshBitsFor]]), space 1 rows the IVF cell assignment
    * (key = cell id; cells are the corpus centroids). ONE shape serves
    * the whole family: the batch gate equi-joins batch postings to
    * index postings on (space, key), the streaming twin keys its state
    * store by them, and the persisted layout buckets by key — so a
    * candidate is "co-posted under some (space, key)" identically in
    * all three.
    */
  def semanticPostings(corpus: DataFrame, frame: DataFrame,
      idCol: String): DataFrame = {
    val n = corpus.agg(count(lit(1))).head().getLong(0)
    val cents = Materialize.stable(refineCents(corpus))
    semPostingsOf(
      Materialize.stable(cellAssign(frame.select(col(idCol).as("vec_id"), col("v")), cents)),
      lshBitsFor(n))
      .withColumnRenamed("vec_id", idCol)
  }

  /** posting rows from an already-computed cell assignment — the
    * internal path [[semanticAdmissionFor]] uses so corpus and batch
    * share one centroid build and one census.
    */
  private def semPostingsOf(assign: DataFrame, bits: Int): DataFrame = {
    val bucketsExpr =
      if (bits == LshBits) sparkLshBuckets("v")
      else sparkLshBucketsParam("v", LshTables, bits)
    assign
      .select(col("vec_id"), col("v"), posexplode(expr(bucketsExpr)).as(Seq("t", "bucket")))
      .select(col("vec_id"), lit(0).as("space"),
        expr("CAST(t AS BIGINT) * 4294967296 + bucket").as("key"), col("v"))
      .unionByName(assign.select(col("vec_id"), lit(1).as("space"),
        col("cell").as("key"), col("v")))
  }

  /** the semantic admission gate over ANY corpus (`vec_id`, `v`) /
    * batch (`new_id`, `v`) frames — the library entry point.
    * `bucketCap`/`anchors`: the posting-occupancy rule on the probe
    * join, applied per (space, key) — hyperplane buckets AND cells —
    * for near-identical vector FAMILIES (the
    * [[Dedup.containmentAdmissionFor]] anchor discipline on a
    * bipartite join; default inert, oracle byte-identical). `tau`:
    * the admit bar (see [[SemAdmitTau]]).
    *
    * EAGER BY DESIGN: one corpus census (count → [[lshBitsFor]] bit
    * geometry) runs at construction — the embed_neardup discipline.
    */
  def semanticAdmissionFor(corpus: DataFrame, batch: DataFrame,
      tau: Double = SemAdmitTau, bucketCap: Long = Long.MaxValue,
      anchors: Long = 16L): DataFrame = {
    val n = corpus.agg(count(lit(1))).head().getLong(0)
    val bits = lshBitsFor(n)
    val cents = Materialize.stable(refineCents(corpus))
    val idx = Materialize.stable(cellAssign(corpus, cents))
    val bAssign = Materialize.stable(
      cellAssign(batch.select(col("new_id").as("vec_id"), col("v")), cents))
    val iPost0 = semPostingsOf(idx, bits).select("vec_id", "space", "key")
    val iPost =
      if (bucketCap == Long.MaxValue) iPost0
      else {
        val bw = org.apache.spark.sql.expressions.Window
          .partitionBy("space", "key").orderBy("vec_id")
        val bwAll = org.apache.spark.sql.expressions.Window.partitionBy("space", "key")
        iPost0.withColumn("rn", row_number().over(bw))
          .withColumn("bsize", count(lit(1)).over(bwAll))
          .filter(col("bsize") <= bucketCap || col("rn") <= anchors)
          .select("vec_id", "space", "key")
      }
    val bPost = semPostingsOf(bAssign, bits)
      .select(col("vec_id").as("new_id"), col("space"), col("key"))
    val cand = bPost.join(iPost, Seq("space", "key"))
      .select("new_id", "vec_id").distinct()
    val verified = cand
      .join(bAssign.select(col("vec_id").as("new_id"), col("v").as("bv")), Seq("new_id"))
      .join(idx.select(col("vec_id"), col("v").as("cv")), Seq("vec_id"))
      .withColumn("cosine",
        expr(s"floor(${sparkCosine("bv", "cv")} * 1000000) / CAST(1000000 AS DOUBLE)"))
      .filter(col("cosine") >= tau)
      .groupBy("new_id").agg(min("vec_id").as("dup_of"))
    bAssign.select(col("vec_id").as("new_id")).join(verified, Seq("new_id"), "left")
      .select(col("new_id"), col("dup_of").isNull.as("admitted"), col("dup_of"))
      .orderBy("new_id")
  }

  val dedupIncrementalSemanticSql: String =
    s"""$knnAssignCte, batch AS (
       |  SELECT vec_id + $SemBatchShift AS new_id,
       |    ${duckSemPerturbVec("(vec_id % 10000000)")} AS v
       |  FROM vecs WHERE vec_id % 10 = 2
       |  UNION ALL
       |  SELECT vec_id + $SemBatchShift, ${duckSemNewVec("(vec_id % 10000000)")}
       |  FROM vecs WHERE vec_id % 10 = 6
       |), bassign AS (
       |  SELECT new_id, cell, v FROM (
       |    SELECT batch.new_id, cents.cent_id AS cell, batch.v,
       |      ROW_NUMBER() OVER (PARTITION BY batch.new_id
       |        ORDER BY ${duckCosine("batch.v", "cents.cv")} DESC, cents.cent_id) AS crank
       |    FROM batch CROSS JOIN cents) t
       |  WHERE crank = 1
       |), ibuck AS (
       |  SELECT vec_id, ts.t AS t, (${duckLshBuckets("v")})[ts.t + 1] AS bucket
       |  FROM assign CROSS JOIN (SELECT unnest(range(0, $LshTables)) AS t) ts
       |), bbuck AS (
       |  SELECT new_id, ts.t AS t, (${duckLshBuckets("v")})[ts.t + 1] AS bucket
       |  FROM bassign CROSS JOIN (SELECT unnest(range(0, $LshTables)) AS t) ts
       |), cand AS (
       |  SELECT DISTINCT new_id, vec_id FROM (
       |    SELECT b.new_id, i.vec_id
       |    FROM bbuck b JOIN ibuck i ON b.t = i.t AND b.bucket = i.bucket
       |    UNION ALL
       |    SELECT b.new_id, a.vec_id
       |    FROM bassign b JOIN assign a ON b.cell = a.cell) u
       |), ver AS (
       |  SELECT new_id, MIN(vec_id) AS dup_of FROM (
       |    SELECT c.new_id, c.vec_id,
       |      floor(${duckCosine("b.v", "a.v")} * 1000000) / CAST(1000000 AS DOUBLE) AS cosine
       |    FROM cand c JOIN bassign b USING (new_id) JOIN assign a USING (vec_id)) t
       |  WHERE cosine >= $SemAdmitTau
       |  GROUP BY 1
       |)
       |SELECT b.new_id, v.dup_of IS NULL AS admitted, v.dup_of
       |FROM bassign b LEFT JOIN ver v USING (new_id)
       |ORDER BY new_id""".stripMargin

  /** kNN JOIN: top-k cosine neighbors for EVERY corpus vector, not
    * just a query set — the all-pairs problem that builds similarity
    * graphs (SemDeDup's input, recommendation candidate sets). The
    * quadratic term is BOUNDED BY THE IVF CELLS: vectors only score
    * against their own cell's members (same within-cell restriction
    * dedup_semantic uses), so the self-join volume is Σ|cell|² — and
    * because the seed rule keeps cell count growing with the corpus,
    * mean cell size stays roughly constant. Per-vector top-k goes
    * through WindowGroupLimit (partition-local top-k ships before the
    * shuffle). Recall story is knn_ivf's at nprobe=1; the oracle
    * replays the identical deterministic cell math, so parity is
    * exact, not approximate.
    */
  def knnJoin(s: SparkSession, dir: String): DataFrame =
    knnJoinFor(withVec(s, dir), KnnK)

  /** [[knnJoin]] over ANY (vec_id, v) frame with a caller-chosen k —
    * the library entry point (api.CorpusOps.neighborGraph). Requires
    * at least one seed id (`vec_id % centroidModFor(n) == 7`) in the frame;
    * a seedless frame fails LOUDLY here rather than returning an empty
    * graph a caller would misread as "no neighbors".
    */
  def knnJoinFor(vecs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = Materialize.stable(refineCents(vecs))
    // the emptiness probe runs against the just-persisted (tiny)
    // centroid frame, so it costs one lookup of state the join below
    // materializes anyway — not an extra corpus scan
    require(cents.head(1).nonEmpty,
      s"knnJoinFor: no seed centroids (no vec_id % centroidModFor(n) == $SeedResidue in the " +
        "frame) — IVF cells cannot be built; an empty result here would be wrong, not 'no neighbors'")
    val assign = Materialize.stable(cellAssign(vecs, cents))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("neighbor_id"))
    assign
      .join(assign.select(col("vec_id").as("neighbor_id"), col("cell"), col("v").as("nv")),
        Seq("cell"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .withColumn("cosine", expr(sparkCosine("v", "nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("rank"),
        expr("floor(cosine * 1000000) / CAST(1000000 AS DOUBLE)").as("cosine"))
      .orderBy("vec_id", "rank")
  }

  val knnJoinSql: String =
    s"""$knnAssignCte, scored AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    ${duckCosine("a.v", "b.v")} AS cosine
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.vec_id <> a.vec_id
       |), ranked AS (
       |  SELECT vec_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT vec_id, neighbor_id, rank,
       |  floor(cosine * 1000000) / CAST(1000000 AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= $KnnK ORDER BY vec_id, rank""".stripMargin

  /** In-degree distribution of the [[knnJoin]] similarity graph: for
    * every vector, how many OTHER vectors list it among their top-k
    * neighbors, histogrammed. The hubness audit every ANN index needs —
    * a fat right tail (hub vectors referenced by thousands) means the
    * graph's neighborhoods collapse onto a few centroids and
    * downstream dedup/retrieval quality degrades; a spike at 0 means
    * orphan vectors no search will ever surface.
    *
    * Scale shape: the cost IS [[knnJoin]] (cell-bounded, see there);
    * the rollup is one neighbor-keyed partial agg on the k·n edge list,
    * a LEFT join against the (vec_id) projection to restore zero-degree
    * vectors, and a histogram-bounded final agg. Nothing here adds a
    * vector shuffle.
    */
  def knnDegree(s: SparkSession, dir: String): DataFrame = {
    val deg = knnJoin(s, dir)
      .groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("indeg"))
    Tables.embeddings(s, dir).select("vec_id")
      .join(deg, Seq("vec_id"), "left_outer")
      .withColumn("indeg", coalesce(col("indeg"), lit(0L)))
      .groupBy("indeg").agg(count(lit(1)).as("n_vectors"))
      .orderBy("indeg")
  }

  val knnDegreeSql: String =
    s"""WITH knn AS (
       |$knnJoinSql
       |), deg AS (
       |  SELECT neighbor_id AS vec_id, COUNT(*) AS indeg FROM knn GROUP BY 1
       |)
       |SELECT COALESCE(indeg, 0) AS indeg, COUNT(*) AS n_vectors
       |FROM embeddings e LEFT JOIN deg d ON e.vec_id = d.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Label-noise audit via k-nearest-neighbor voting: every vector's
    * within-cell top-k neighbors vote with their labels (majority,
    * count-then-min-label tiebreak); per true label, how many vectors'
    * neighborhoods agree with their own label. Low agreement for a
    * label = mislabeled or boundary-heavy slice — the cheap pass every
    * labeled-training-set intake runs.
    *
    * Scale shape: the expensive part IS [[knnJoin]] (cell-bounded, see
    * there); everything after is two label equi-joins against the
    * (vec_id, label) projection and label-cardinality aggregates. The
    * vote mode is a max(struct(count, −label)) — one partial-aggregate
    * pass, no per-vector sort.
    */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = knnJoin(s, dir)
      .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")),
        Seq("neighbor_id"))
      .groupBy("vec_id", "nlabel").agg(count(lit(1)).as("c"))
    val pred = votes
      .groupBy("vec_id")
      .agg(max(struct(col("c"), (-col("nlabel")).as("neg"))).as("m"))
      .select(col("vec_id"), (-col("m.neg")).as("predicted"))
    pred.join(labels, Seq("vec_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("predicted") === col("label"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("agree_frac", expr(
        "floor(CAST(n_agree AS DOUBLE) / CAST(n_vecs AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .orderBy("label")
  }

  val knnClassifySql: String =
    s"""$knnAssignCte, scored AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |    ${duckCosine("a.v", "b.v")} AS cosine
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.vec_id <> a.vec_id
       |), ranked AS (
       |  SELECT vec_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored
       |), votes AS (
       |  SELECT r.vec_id, e.label AS nlabel, COUNT(*) AS c
       |  FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
       |  WHERE r.rank <= $KnnK GROUP BY 1, 2
       |), pred AS (
       |  SELECT vec_id, nlabel AS predicted FROM (
       |    SELECT vec_id, nlabel,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, nlabel) AS vr
       |    FROM votes) t
       |  WHERE vr = 1
       |)
       |SELECT CAST(e.label AS BIGINT) AS label, COUNT(*) AS n_vecs,
       |  CAST(SUM(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  floor(CAST(SUM(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) AS agree_frac
       |FROM pred p JOIN embeddings e ON e.vec_id = p.vec_id
       |GROUP BY e.label ORDER BY 1""".stripMargin

  /** Per-label integer centroid table: for every (label, dimension),
    * the vector count, the exact BIGINT sum of milli-quantized
    * components, and the integer-division mean — the class-prototype
    * summary behind drift dashboards and the seed for label-conditioned
    * clustering. Quantize-then-sum keeps the aggregate
    * order-independent (IEEE double sums are not), so the oracle is
    * bit-exact. Map-side posexplode → ONE partial aggregate; the
    * shuffle carries labels×dims rows, never the corpus.
    */
  def embedCentroid(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(expr(sparkToDouble("embedding"))).as(Seq("pos", "x")))
      .withColumn("milli", expr("CAST(floor(x * 1000) AS BIGINT)"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n_vecs"), sum("milli").as("sum_milli"))
      .withColumn("centroid_milli", expr("sum_milli div n_vecs"))
      .select(col("label"), col("pos").cast("long").as("pos"),
        col("n_vecs"), col("sum_milli"), col("centroid_milli"))
      .orderBy("label", "pos")
  }

  val embedCentroidSql: String =
    s"""WITH vecs AS (
       |  SELECT CAST(label AS BIGINT) AS label, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), grid AS (
       |  SELECT label, p.pos AS pos, CAST(floor(v[p.pos + 1] * 1000) AS BIGINT) AS milli
       |  FROM vecs CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |)
       |SELECT label, pos, COUNT(*) AS n_vecs,
       |  CAST(SUM(milli) AS BIGINT) AS sum_milli,
       |  CAST(SUM(milli) AS BIGINT) // COUNT(*) AS centroid_milli
       |FROM grid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ANN quality audit: recall@k of the IVF index against the exact
    * brute-force neighbors, per query — the acceptance gate every
    * approximate index needs before it replaces the exact path at
    * scale (the same estimate-vs-exact in-row grading shape as
    * source_similarity for MinHash). Reuses both contract operators
    * verbatim: the exact side is broadcast-query brute force (bounded
    * by the query set), the approximate side probes Nprobe cells —
    * recall is then a query-cardinality join + agg, costless next to
    * either input. Integer hit counts; one floored ppm division.
    */
  def knnRecall(s: SparkSession, dir: String): DataFrame = {
    Grade.recallAtK(knnBruteforce(s, dir), knnIvf(s, dir))
  }

  val knnRecallSql: String =
    Grade.recallAtKSql(knnBruteforceSql, knnIvfSql)

  /** knn_recall's twin for the PQ index: recall@k of the
    * quantized-shortlist+rerank path against exact brute force — the
    * second half of the ANN acceptance gate (IVF audited by
    * knn_recall, PQ audited here; an index that loses recall in the
    * ADC shortlist shows up as recall_ppm < 10⁶ per query). Same
    * query-cardinality join+agg grading shape; both inputs reused
    * verbatim.
    */
  def knnPqRecall(s: SparkSession, dir: String): DataFrame = {
    Grade.recallAtK(knnBruteforce(s, dir), knnPq(s, dir))
  }

  val knnPqRecallSql: String =
    Grade.recallAtKSql(knnBruteforceSql, knnPqSql)

  /** Matryoshka truncation dims: retrieval over the first 16 of 64
    * components — the MRL production lever (Kusupati et al. 2022):
    * trained-nested embeddings keep most retrieval quality at a prefix
    * of the dims, and a 4× dim cut is a 4× cut in ANN compute, index
    * bytes, AND broadcast size.
    */
  val MrlDims = 16

  /** MRL truncation gate: recall@k of brute-force retrieval over the
    * [[MrlDims]]-prefix of each embedding vs full-dim exact — the
    * measurement that tells you whether the cheap prefix index is safe
    * BEFORE rebuilding the IVF/PQ family at the lower dim (every
    * downstream index cost scales linearly in dims). Same
    * query-cardinality grading join as knn_recall.
    *
    * Scale shape: the truncated scan is the knn_bruteforce shape
    * (broadcast query set, map-side cosines, WindowGroupLimit top-k)
    * at 1/4 the per-row arithmetic; the slice happens in the scan
    * projection, so the full vector never leaves the row.
    *
    * On the synthetic testdata the gate reads ~0 recall — the
    * embeddings are NOT matryoshka-trained, their prefix carries no
    * privileged mass, and REFUSING the truncation is the gate doing
    * its job (on MRL-trained vectors the same query reads near 10⁶).
    */
  def knnMrlRecall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = withVec(s, dir)
      .select(col("vec_id"), expr(s"slice(v, 1, $MrlDims)").as("vt"))
    val queries = vecs.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("query_id"), col("vt").as("qt"))
    val scored = vecs.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", expr(sparkCosine("qt", "vt")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    Grade.recallAtK(knnBruteforce(s, dir), scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .select(col("query_id"), col("vec_id").as("neighbor_id")))
  }

  val knnMrlRecallSql: String = Grade.recallAtKSql(knnBruteforceSql,
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), tv AS (
       |  SELECT vec_id, list_slice(v, 1, $MrlDims) AS vt FROM vecs
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${duckCosine("q.vt", "c.vt")} AS cosine
       |  FROM tv q JOIN tv c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $QuerySetSize
       |)
       |SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) r
       |WHERE rank <= $KnnK""".stripMargin)

  /** The composite's own acceptance gate: recall@k of [[knnIvfPq]]
    * against exact brute force — completes the graded-ANN triple
    * (knn_recall grades the coarse quantizer, knn_pq_recall the code
    * distances; this grades their composition, whose loss is the union
    * of cell-miss AND quantization-swap errors and is NOT derivable
    * from the two component gates).
    */
  def knnIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    Grade.recallAtK(knnBruteforce(s, dir), knnIvfPq(s, dir))
  }

  val knnIvfPqRecallSql: String =
    Grade.recallAtKSql(knnBruteforceSql, knnIvfPqSql)

  /** The nprobe sweep's probe counts — the IVF recall/cost knob's
    * candidate settings ([[Nprobe]] = 2 is the production choice this
    * table justifies).
    */
  val ProbeSweepConfigs: Seq[Int] = Seq(1, 2, 4)

  /** IVF nprobe sweep: candidate volume + recall@k vs exact brute
    * force for EVERY probe count in [[ProbeSweepConfigs]] — the
    * evidence table behind the nprobe choice, the ANN mirror of
    * dedup_banding_sweep (one table that shows where recall saturates
    * while cost keeps climbing linearly in nprobe).
    *
    * Cost shape: the index build (centroids → assignment) and the
    * exact grading side are each paid ONCE and shared across configs;
    * each config adds only query-bounded work (its probe list × cell
    * members — nprobe·(n/cells) candidate rows per query). At 100 TB
    * the whole sweep is a driver-table-sized artifact computed from
    * one corpus pass plus query-bounded probes.
    */
  def knnProbeSweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = withVec(s, dir)
    val cents = Materialize.stable(refineCents(vecs))
    val assign = cellAssign(vecs, cents)
    val exact = knnBruteforce(s, dir).select(col("query_id"), col("neighbor_id"))
    // round 16 (guide §5 sweep reuse): the per-config probe lists and
    // candidate scoring used to be re-derived per nprobe — the probe
    // list at the LARGEST nprobe with a per-query cell rank subsumes
    // every config (rank ≤ np ⟺ [[probesOf]]'s np iterative argmin
    // passes: both are the (neg, cent_id) lexicographic top-np — the
    // oracle's own `crank <= np` spelling), so the index join and the
    // exact-cosine scoring of candidates run ONCE and each config just
    // filters the shared scored frame.
    val maxNp = ProbeSweepConfigs.max
    val wc = Window.partitionBy("query_id").orderBy(col("neg"), col("cent_id"))
    val probes = vecs.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("neg", expr(sparkCosine("qv", "cv")) * -1)
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= maxNp)
      .select(col("query_id"), col("cent_id").as("cell"), col("qv"), col("crank"))
    val scored = probes.join(
        assign.select(col("vec_id").as("neighbor_id"), col("cell"), col("v")),
        Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", expr(sparkCosine("qv", "v")))
      .select("query_id", "neighbor_id", "crank", "cosine")
    // each config's candidates are the scored rows within its probe
    // rank; its approx top-k is their rank ≤ k flag, and one grading
    // pass counts candidates and hits for every config
    val configs = ProbeSweepConfigs.map(np => struct(lit(np.toLong).as("nprobe")))
    val cand = scored.select(col("*"), inline(array(configs: _*)))
      .filter(col("crank") <= col("nprobe"))
      .withColumn("rank", row_number().over(Window.partitionBy("nprobe", "query_id")
        .orderBy(col("cosine").desc, col("neighbor_id"))))
      .select("nprobe", "query_id", "neighbor_id", "rank")
    ProbeGrade.sweep(exact, cand, Seq("query_id", "neighbor_id"), configs,
        detected = col("rank") <= KnnK, more = Seq(count(col(Grade.InFound)).as("n_candidates")))
      .select(col("nprobe"), col("n_candidates"), col("n_exact"), col("n_hits").as("n_hit"),
        ProbeGrade.recall).orderBy("nprobe")
  }

  private val ProbeGrade = Grade.Pairs("n_exact", "n_approx")

  val knnProbeSweepSql: String = {
    val ctes = ProbeSweepConfigs.map { np =>
      s"""cand_$np AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    ${duckCosine("q.qv", "a.v")} AS cosine
         |  FROM qscore q JOIN assign a ON q.cell = a.cell AND a.vec_id <> q.query_id
         |  WHERE q.crank <= $np
         |), approx_$np AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM cand_$np) r
         |  WHERE rank <= $KnnK
         |), hit_$np AS (
         |  SELECT e.query_id, e.neighbor_id FROM exact e
         |  JOIN approx_$np a USING (query_id, neighbor_id)
         |)""".stripMargin
    }
    val rows = ProbeSweepConfigs.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_$np) AS n_candidates,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit_$np) AS n_hit""".stripMargin
    }
    s"""$knnAssignCte, qscore AS (
       |  SELECT vecs.vec_id AS query_id, cents.cent_id AS cell, vecs.v AS qv,
       |    ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
       |      ORDER BY ${duckCosine("vecs.v", "cents.cv")} DESC, cents.cent_id) AS crank
       |  FROM vecs CROSS JOIN cents WHERE vecs.vec_id < $QuerySetSize
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM ($knnBruteforceSql) e
       |), ${ctes.mkString(", ")},
       |nex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact)
       |SELECT nprobe, n_candidates, n_exact, n_hit,
       |  n_hit * 1000000 // n_exact AS recall_ppm
       |FROM (${rows.mkString(" UNION ALL ")}) u, nex
       |ORDER BY nprobe""".stripMargin
  }

  /** 1-bit (sign) binary quantization retrieval gate: recall@k of
    * Hamming-distance top-k over sign-bit codes vs full-precision
    * exact cosine — the binary-embedding production lever (64 dims →
    * 8 BYTES per vector, a 32× cut vs f32; Hamming is two XOR+popcount
    * instructions, so candidate scoring is ~100× cheaper than a float
    * dot product). Read this gate before switching the retrieval tier
    * to binary codes with an exact rerank.
    *
    * Scale shape: the code build is one map-side HOF pass (bits live
    * in two BIGINT words — 32 bits each, so the fold never touches the
    * sign bit under ANSI overflow checking); scoring is the
    * knn_bruteforce broadcast shape with integer XOR/popcount in place
    * of the 64-term float dot product. Every arithmetic step is
    * integer, so the oracle is bit-exact by construction.
    */
  /** sign-bit binary codes over ANY (vec_id, v: array<double>) frame:
    * 64 dims → two 32-bit words in BIGINT columns `w0`/`w1` (the fold
    * never touches BIGINT's sign bit, so it is safe under ANSI
    * overflow checking). Map-side HOF column math — the library
    * entry point behind knn_hamming_recall.
    */
  def signBitCodes(vecs: DataFrame): DataFrame = {
    def word(lo: Int): String =
      s"""aggregate(transform(sequence(0, 31),
         |  i -> IF(element_at(v, i + $lo) > CAST(0 AS DOUBLE),
         |          shiftleft(CAST(1 AS BIGINT), 31 - i), CAST(0 AS BIGINT))),
         |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin.replaceAll("\n\\s*", " ")
    vecs.select(col("vec_id"), expr(word(1)).as("w0"), expr(word(33)).as("w1"))
  }

  /** Hamming top-k over a [[signBitCodes]] frame: for every code row
    * satisfying `isQuery`, the k nearest corpus codes by XOR+popcount
    * distance (ties on the smaller vec_id). The query side broadcasts
    * (knn_bruteforce's shape); scoring is integer-only.
    */
  def hammingTopK(codes: DataFrame, isQuery: org.apache.spark.sql.Column,
                  k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = codes.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("w0").as("q0"), col("w1").as("q1"))
    val scored = codes.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ham", expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)"))
    val w = Window.partitionBy("query_id").orderBy(col("ham").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("ham").cast("long").as("hamming"))
  }

  def knnHammingRecall(s: SparkSession, dir: String): DataFrame =
    Grade.recallAtK(knnBruteforce(s, dir),
      hammingTopK(signBitCodes(withVec(s, dir)), col("vec_id") < QuerySetSize, KnnK))

  val knnHammingRecallSql: String = {
    def word(lo: Int): String =
      s"CAST(list_aggregate(list_transform(range(0, 32), i -> CASE WHEN v[i + $lo] > 0 " +
        s"THEN (CAST(1 AS BIGINT) << (31 - i)) ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT)"
    Grade.recallAtKSql(knnBruteforceSql, s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), codes AS (
       |  SELECT vec_id, ${word(1)} AS w0, ${word(33)} AS w1 FROM vecs
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1)) AS ham
       |  FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $QuerySetSize
       |)
       |SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ham ASC, neighbor_id) AS rank
       |  FROM scored) r
       |WHERE rank <= $KnnK""".stripMargin)
  }

  /** Binary-tier shortlist size for the rerank gate: Hamming top-S
    * candidates per query survive into the exact-cosine rerank. S/k
    * is the cost multiplier of the rerank stage (S·dims float ops per
    * query vs n·dims for brute force), so the gate's question is
    * "how much recall does S=20 buy back over raw Hamming top-k".
    */
  val RerankShortlist = 20

  /** Rerank-gain gate for the binary retrieval tier: recall@k of (a)
    * raw Hamming top-k over sign codes and (b) exact-cosine rerank of
    * the Hamming top-[[RerankShortlist]], both graded against the
    * full-precision exact top-k. knn_hamming_recall measures that raw
    * sign-bit retrieval is not enough on this corpus; THIS table
    * measures whether the standard fix — binary scan for a shortlist,
    * float rerank of S candidates — recovers the recall, i.e. whether
    * the 32×-smaller index plus a per-query S·dims float pass can
    * replace the full float scan. Read it before wiring binary codes
    * into production retrieval.
    *
    * Scale shape: code build and Hamming scoring are
    * [[knnHammingRecall]]'s map-side/broadcast shape; the rerank joins
    * the query-bounded shortlist (|Q|·S rows) back to full vectors —
    * the shortlist side BROADCASTS, so the corpus is touched by ONE
    * semi-join-shaped probe, never shuffled; the exact grading side is
    * paid once ([[knnBruteforce]]). Per-query invariant (asserted in
    * OperatorInvariantSpec): rerank hits ⊇ raw hits — an exact-top-k
    * member in the shortlist can only be outranked by other exact-top-k
    * members, so rerank recall is monotone in S.
    */
  /** Exact-cosine rerank of a candidate shortlist over ANY
    * (vec_id, v: array<double>) frame: candidates (query_id,
    * neighbor_id) — query-bounded — BROADCAST back onto the vector
    * scan, score by full-precision cosine, keep top-k per query. The
    * library piece behind knn_rerank_gain; pair with [[hammingTopK]]
    * (binary shortlist) or any other candidate generator.
    */
  def rerankTopK(vecs: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = vecs.join(
        broadcast(candidates.select(col("query_id").as("vec_id")).distinct()), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    vecs.select(col("vec_id").as("neighbor_id"), col("v"))
      .join(broadcast(candidates.select("query_id", "neighbor_id")), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cosine", expr(sparkCosine("qv", "v")))
      .withColumn("rrank", row_number().over(w).cast("long"))
      .filter(col("rrank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rrank"),
        expr("floor(cosine * 1000000) / CAST(1000000 AS DOUBLE)").as("cosine"))
  }

  def knnRerankGain(s: SparkSession, dir: String): DataFrame = {
    val vecs = withVec(s, dir)
    val shortlist = hammingTopK(signBitCodes(vecs),
      col("vec_id") < QuerySetSize, RerankShortlist)
    val raw = shortlist.filter(col("rank") <= KnnK)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit_raw"))
    val reranked = rerankTopK(vecs, shortlist.select("query_id", "neighbor_id"), KnnK)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit_rerank"))
    val exact = knnBruteforce(s, dir).select(col("query_id"), col("neighbor_id"))
    exact
      .join(raw, Seq("query_id", "neighbor_id"), "left")
      .join(reranked, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        count(col("hit_raw")).as("n_hit_raw"),
        count(col("hit_rerank")).as("n_hit_rerank"))
      .withColumn("recall_raw_ppm", expr("n_hit_raw * 1000000 div n_exact"))
      .withColumn("recall_rerank_ppm", expr("n_hit_rerank * 1000000 div n_exact"))
      .orderBy("query_id")
  }

  val knnRerankGainSql: String = {
    def word(lo: Int): String =
      s"CAST(list_aggregate(list_transform(range(0, 32), i -> CASE WHEN v[i + $lo] > 0 " +
        s"THEN (CAST(1 AS BIGINT) << (31 - i)) ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT)"
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), codes AS (
       |  SELECT vec_id, ${word(1)} AS w0, ${word(33)} AS w1 FROM vecs
       |), scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1)) AS ham
       |  FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $QuerySetSize
       |), shortlist AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ham ASC, neighbor_id) AS rank
       |    FROM scored) r
       |  WHERE rank <= $RerankShortlist
       |), raw AS (
       |  SELECT query_id, neighbor_id FROM shortlist WHERE rank <= $KnnK
       |), rr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT sl.query_id, sl.neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY sl.query_id
       |        ORDER BY ${duckCosine("q.v", "c.v")} DESC, sl.neighbor_id) AS rrank
       |    FROM shortlist sl
       |    JOIN vecs q ON sl.query_id = q.vec_id
       |    JOIN vecs c ON sl.neighbor_id = c.vec_id) t
       |  WHERE rrank <= $KnnK
       |), exact AS (SELECT query_id, neighbor_id FROM ($knnBruteforceSql) e
       |)
       |SELECT exact.query_id, COUNT(*) AS n_exact,
       |  COUNT(raw.neighbor_id) AS n_hit_raw,
       |  COUNT(rr.neighbor_id) AS n_hit_rerank,
       |  COUNT(raw.neighbor_id) * 1000000 // COUNT(*) AS recall_raw_ppm,
       |  COUNT(rr.neighbor_id) * 1000000 // COUNT(*) AS recall_rerank_ppm
       |FROM exact
       |LEFT JOIN raw ON exact.query_id = raw.query_id
       |  AND exact.neighbor_id = raw.neighbor_id
       |LEFT JOIN rr ON exact.query_id = rr.query_id
       |  AND exact.neighbor_id = rr.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Farthest-from-centroid outliers per label: the label-noise /
    * drift audit over embed_centroid's prototype table ("which vectors
    * least belong to their assigned class"). Distances stay exact
    * BIGINT end to end — vectors quantize to milli (embed_centroid's
    * convention), the centroid joins back as a BROADCAST (labels×dims
    * rows), and Σ(milli−c)² folds in ONE vector-keyed partial agg; the
    * per-label top-k is a rank-filtered label-partitioned window, which
    * plans as WindowGroupLimit (per-partition local top-k, no per-label
    * full sort materialized).
    */
  val OutlierTopK = 5

  def embedOutlier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"), col("vec_id"),
        posexplode(expr(sparkToDouble("embedding"))).as(Seq("pos", "x")))
      .withColumn("milli", expr("CAST(floor(x * 1000) AS BIGINT)"))
    val cent = grid.groupBy("label", "pos")
      .agg(sum("milli").as("sum_milli"), count(lit(1)).as("n_vecs"))
      .withColumn("c_milli", expr("sum_milli div n_vecs"))
      .select("label", "pos", "c_milli")
    val byLabel = Window.partitionBy("label").orderBy(col("dist_sq").desc, col("vec_id"))
    grid.join(broadcast(cent), Seq("label", "pos"))
      .withColumn("d", col("milli") - col("c_milli"))
      .groupBy("label", "vec_id")
      .agg(sum(expr("d * d")).as("dist_sq"))
      .withColumn("rank", row_number().over(byLabel).cast("long"))
      .filter(col("rank") <= OutlierTopK)
      .select("label", "rank", "vec_id", "dist_sq")
      .orderBy("label", "rank")
  }

  val embedOutlierSql: String =
    s"""WITH vecs AS (
       |  SELECT CAST(label AS BIGINT) AS label, vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |), grid AS (
       |  SELECT label, vec_id, p.pos AS pos,
       |    CAST(floor(v[p.pos + 1] * 1000) AS BIGINT) AS milli
       |  FROM vecs CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |), cent AS (
       |  SELECT label, pos, CAST(SUM(milli) AS BIGINT) // COUNT(*) AS c_milli
       |  FROM grid GROUP BY 1, 2
       |), dist AS (
       |  SELECT g.label, g.vec_id,
       |    CAST(SUM((g.milli - c.c_milli) * (g.milli - c.c_milli)) AS BIGINT) AS dist_sq
       |  FROM grid g JOIN cent c ON g.label = c.label AND g.pos = c.pos
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT label, vec_id, dist_sq,
       |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist_sq DESC, vec_id) AS rank
       |  FROM dist
       |)
       |SELECT label, rank, vec_id, dist_sq FROM ranked
       |WHERE rank <= $OutlierTopK ORDER BY 1, 2""".stripMargin

  /** Per-dimension embedding health audit: mean, spread, range and a
    * near-zero count for every coordinate of the embedding space — the
    * pre-index check that catches dead dimensions (sd ≈ 0 wastes index
    * bits), scale drift between batches, and clipped coordinates
    * (min/max pinned at a bound). Run before building IVF/PQ structures:
    * a dead or degenerate dimension silently halves their recall.
    *
    * Scale shape: map-side posexplode → ONE partial aggregate; the
    * shuffle carries dims-bounded moment rows, never the corpus.
    * Determinism: coordinates floor-quantize to milli BIGINTs first
    * (embed_centroid's convention) so every sum is exact. Overflow
    * bounds: |milli| ≤ ~4×10³ keeps the linear sum s1 safe BIGINT up
    * to 10¹⁵ vectors (s1·10³ ≈ 4×10²¹ would wrap, so the mean's ppm
    * numerator widens to DECIMAL(38,0) first), while milli² ≈ 1.6×10⁷
    * per row pushes Σq² past 2⁶³ at ~6×10¹¹ vectors — exactly the
    * 100 TB design point — so s2 accumulates in DECIMAL(38,0)
    * (DuckDB: HUGEINT). Both stay internal; outputs are ppm/milli
    * BIGINTs. The sd quotient runs once per dimension in
    * identical-order IEEE doubles, floored to ppm.
    */
  def embedDimStats(s: SparkSession, dir: String): DataFrame =
    embedDimStatsFor(Tables.embeddings(s, dir)).orderBy("pos")

  /** The embed_dim_stats body over (embedding); shared with
    * [[graft.api.CorpusOps.embeddingDimStats]].
    */
  private[graft] def embedDimStatsFor(e: DataFrame): DataFrame =
    e
      .select(posexplode(expr(sparkToDouble("embedding"))).as(Seq("pos", "x")))
      .withColumn("milli", expr("CAST(floor(x * 1000) AS BIGINT)"))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        sum("milli").as("s1"),
        sum(expr("CAST(milli AS DECIMAL(38,0)) * milli")).as("s2"),
        min("milli").as("min_milli"),
        max("milli").as("max_milli"),
        sum(when(col("milli") === 0L, 1L).otherwise(0L)).as("n_nearzero"))
      .withColumn("mean_ppm", expr("CAST(CAST(s1 AS DECIMAL(38,0)) * 1000 div n_vecs AS BIGINT)"))
      .withColumn("sd_ppm", expr(
        """CAST(floor(sqrt(greatest(CAST(n_vecs AS DOUBLE) * CAST(s2 AS DOUBLE)
          |  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0))
          |  / CAST(n_vecs AS DOUBLE) * 1000) AS BIGINT)""".stripMargin.replaceAll("\\s+", " ")))
      .select("pos", "n_vecs", "mean_ppm", "sd_ppm", "min_milli", "max_milli", "n_nearzero")

  val embedDimStatsSql: String =
    s"""WITH grid AS (
       |  SELECT p.pos AS pos,
       |    CAST(floor(v[p.pos + 1] * 1000) AS BIGINT) AS milli
       |  FROM (SELECT list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings) t
       |  CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |), m AS (
       |  SELECT pos, COUNT(*) AS n_vecs,
       |    CAST(SUM(milli) AS BIGINT) AS s1,
       |    SUM(CAST(milli AS HUGEINT) * milli) AS s2,
       |    MIN(milli) AS min_milli, MAX(milli) AS max_milli,
       |    CAST(SUM(CASE WHEN milli = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nearzero
       |  FROM grid GROUP BY 1
       |)
       |SELECT pos, n_vecs, CAST(CAST(s1 AS HUGEINT) * 1000 // n_vecs AS BIGINT) AS mean_ppm,
       |  CAST(floor(sqrt(greatest(CAST(n_vecs AS DOUBLE) * CAST(s2 AS DOUBLE)
       |    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0))
       |    / CAST(n_vecs AS DOUBLE) * 1000) AS BIGINT) AS sd_ppm,
       |  min_milli, max_milli, n_nearzero
       |FROM m ORDER BY 1""".stripMargin

  /** One exact Lloyd (k-means) iteration from deterministic seeds: the
    * K lowest-vec_id vectors seed the clusters, every vector assigns to
    * its nearest seed (squared milli distance, ties → lowest seed), and
    * the step emits the reassigned centroid table — the building block
    * an IVF coarse quantizer trains with, made oracle-checkable by
    * fixing the seeds and quantizing to milli BIGINTs (embed_centroid's
    * convention; IEEE mean sums would be partition-order-dependent).
    *
    * Scale shape: the K×dims seed grid BROADCASTS onto the map-side
    * posexplode, distances partial-agg per (vector, seed) — K-bounded
    * fanout, never corpus² — argmin folds via lexicographic
    * min(struct(dist, seed)), and the recompute is ONE (cluster, pos)
    * partial agg. Σ milli per cell ≤ 4×10³·10¹² = 4×10¹⁵ — BIGINT-safe.
    */
  val KmeansK = 8

  def embedKmeansStep(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(expr(sparkToDouble("embedding"))).as(Seq("pos", "x")))
      .withColumn("milli", expr("CAST(floor(x * 1000) AS BIGINT)"))
    val seeds = grid.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("seed"), col("pos"), col("milli").as("s_milli"))
    val assign = grid.join(broadcast(seeds), Seq("pos"))
      .withColumn("d", col("milli") - col("s_milli"))
      .groupBy("vec_id", "seed")
      .agg(sum(expr("d * d")).as("dist_sq"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist_sq"), col("seed"))).as("best"))
      .select(col("vec_id"), col("best.seed").as("cluster"))
    grid.join(assign, Seq("vec_id"))
      .groupBy("cluster", "pos")
      .agg(count(lit(1)).as("n_assigned"), sum("milli").as("sum_milli"))
      .withColumn("centroid_milli", expr("sum_milli div n_assigned"))
      .select(col("cluster"), col("pos").cast("long").as("pos"),
        col("n_assigned"), col("centroid_milli"))
      .orderBy("cluster", "pos")
  }

  val embedKmeansStepSql: String =
    s"""WITH grid AS (
       |  SELECT vec_id, p.pos AS pos,
       |    CAST(floor(list_transform(embedding, x -> x::DOUBLE)[p.pos + 1] * 1000) AS BIGINT) AS milli
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |), seeds AS (
       |  SELECT vec_id AS seed, pos, milli AS s_milli FROM grid WHERE vec_id < $KmeansK
       |), dists AS (
       |  SELECT g.vec_id, s.seed, CAST(SUM((g.milli - s.s_milli) * (g.milli - s.s_milli)) AS BIGINT) AS dist_sq
       |  FROM grid g JOIN seeds s ON g.pos = s.pos
       |  GROUP BY 1, 2
       |), assign AS (
       |  SELECT vec_id, seed AS cluster,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_sq, seed) AS r
       |  FROM dists
       |)
       |SELECT a.cluster, g.pos, COUNT(*) AS n_assigned,
       |  CAST(SUM(g.milli) AS BIGINT) // COUNT(*) AS centroid_milli
       |FROM grid g JOIN assign a ON g.vec_id = a.vec_id AND a.r = 1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Squared-distance silhouette per label over the labeled embedding
    * table: for every vector, a = distance² to its OWN label centroid,
    * b = distance² to the nearest OTHER centroid; the per-point
    * silhouette (b−a)/max(a,b) floor-quantizes to ppm and averages per
    * label — the clustering-quality audit (mean s → 1 = labels well
    * separated, → 0 = touching, < 0 = misassigned) run before trusting
    * labels for stratified sampling or IVF seeding.
    *
    * Scale shape: centroids (labels×dims rows) BROADCAST onto the
    * map-side grid; per-(vector, candidate-label) distances partial-agg
    * with |labels|-bounded fanout; everything after is per-vector
    * arithmetic + ONE label-cardinality agg. The per-label Σa/Σb sums
    * accumulate DECIMAL(38,0): dist² ≤ 4×10⁹ per vector × 10¹² vectors
    * passes 2⁶³ (the numeric-bounds rule); means divide back to safe
    * BIGINTs, and the s quotient is per-point IEEE with identical op
    * order on both engines.
    */
  def knnSilhouette(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("label"), col("vec_id"),
        posexplode(expr(sparkToDouble("embedding"))).as(Seq("pos", "x")))
      .withColumn("milli", expr("CAST(floor(x * 1000) AS BIGINT)"))
    val cent = grid.groupBy("label", "pos")
      .agg(sum("milli").as("sum_milli"), count(lit(1)).as("n_vecs"))
      .withColumn("c_milli", expr("sum_milli div n_vecs"))
      .select(col("label").as("cand"), col("pos"), col("c_milli"))
    val dists = grid.join(broadcast(cent), Seq("pos"))
      .withColumn("d", col("milli") - col("c_milli"))
      .groupBy("label", "vec_id", "cand")
      .agg(sum(expr("d * d")).as("dist_sq"))
    val ab = dists.groupBy("label", "vec_id")
      .agg(min(when(col("cand") === col("label"), col("dist_sq"))).as("a"),
        min(when(col("cand") =!= col("label"), col("dist_sq"))).as("b"))
      .withColumn("s_ppm", expr(
        """CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(floor(CAST(b - a AS DOUBLE) / CAST(greatest(a, b) AS DOUBLE) * 1000000) AS BIGINT) END""".stripMargin))
    ab.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("CAST(a AS DECIMAL(38,0))")).as("sa"),
        sum(expr("CAST(b AS DECIMAL(38,0))")).as("sb"),
        sum("s_ppm").as("ss"))
      .select(col("label"), col("n_vecs"),
        expr("CAST(sa div n_vecs AS BIGINT)").as("mean_own_sq"),
        expr("CAST(sb div n_vecs AS BIGINT)").as("mean_other_sq"),
        expr("ss div n_vecs").as("mean_s_ppm"))
      .orderBy("label")
  }

  val knnSilhouetteSql: String =
    s"""WITH grid AS (
       |  SELECT CAST(label AS BIGINT) AS label, vec_id, p.pos AS pos,
       |    CAST(floor(list_transform(embedding, x -> x::DOUBLE)[p.pos + 1] * 1000) AS BIGINT) AS milli
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |), cent AS (
       |  SELECT label AS cand, pos, CAST(SUM(milli) AS BIGINT) // COUNT(*) AS c_milli
       |  FROM grid GROUP BY 1, 2
       |), dists AS (
       |  SELECT g.label, g.vec_id, c.cand,
       |    CAST(SUM((g.milli - c.c_milli) * (g.milli - c.c_milli)) AS BIGINT) AS dist_sq
       |  FROM grid g JOIN cent c ON g.pos = c.pos
       |  GROUP BY 1, 2, 3
       |), ab AS (
       |  SELECT label, vec_id,
       |    MIN(CASE WHEN cand = label THEN dist_sq END) AS a,
       |    MIN(CASE WHEN cand <> label THEN dist_sq END) AS b
       |  FROM dists GROUP BY 1, 2
       |), pts AS (
       |  SELECT label, a, b,
       |    CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(floor(CAST(b - a AS DOUBLE) / CAST(greatest(a, b) AS DOUBLE) * 1000000) AS BIGINT) END AS s_ppm
       |  FROM ab
       |)
       |SELECT label, COUNT(*) AS n_vecs,
       |  CAST(SUM(a) // COUNT(*) AS BIGINT) AS mean_own_sq,
       |  CAST(SUM(b) // COUNT(*) AS BIGINT) AS mean_other_sq,
       |  CAST(SUM(s_ppm) AS BIGINT) // COUNT(*) AS mean_s_ppm
       |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin

  /** One PCA power-iteration step over the embedding table: w = Xᵀ(Xv₀)
    * with the deterministic all-ones start vector v₀ — the building
    * block that finds the corpus's dominant variance direction (the
    * axis [[embedProject]]-style 2-bit quantizers and whitening passes
    * want first). Components come back L∞-normalized in exact integer
    * ppm so the oracle is bit-checkable: per-dim raw sums would need
    * IEEE addition (partition-order-dependent), so everything runs on
    * the milli grid ([[embedCentroid]]'s convention).
    *
    * Scale shape: ONE posexplode grid feeds BOTH the per-vector dot
    * (vec_id partial agg) and the weighted recombination — a
    * co-partitioned vec_id equi-join, dims-bounded output partial agg,
    * one-row L∞ max broadcast back. Numeric bounds: |milli·dot| ≤
    * 10³·(10³·64) = 6.4×10⁷ per cell; the per-dim sum reaches 6.4×10⁷·n
    * — past 2⁶³ at n ≈ 1.4×10¹¹ vectors, so it accumulates
    * DECIMAL(38,0) (the numeric-bounds rule); the outputs divide back
    * to BIGINTs bounded by n·64·10³ (w_unit) and 10⁶ (comp_ppm).
    */
  def embedPcaPower(s: SparkSession, dir: String): DataFrame =
    embedPcaPowerFor(Tables.embeddings(s, dir)).orderBy("pos")

  /** The embed_pca_power body over (vec_id, embedding); shared with
    * [[graft.api.CorpusOps.pcaPowerStep]].
    */
  private[graft] def embedPcaPowerFor(e: DataFrame): DataFrame = {
    val grid = Materialize.stable(e
      .select(col("vec_id"), posexplode(expr(sparkToDouble("embedding"))).as(Seq("pos", "x")))
      .withColumn("milli", expr("CAST(floor(x * 1000) AS BIGINT)"))
      .select("vec_id", "pos", "milli"))
    val dots = grid.groupBy("vec_id").agg(sum("milli").as("dot"))
    val w = grid.join(dots, Seq("vec_id"))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("CAST(milli AS DECIMAL(38,0)) * dot")).as("w"))
    val wmax = w.agg(max(expr("abs(w)")).as("w_max"))
    w.join(broadcast(wmax))
      .withColumn("w_unit", expr("CAST(w div 1000000 AS BIGINT)"))
      .withColumn("comp_ppm", expr("CAST(w * 1000000 div w_max AS BIGINT)"))
      .select("pos", "n_vecs", "w_unit", "comp_ppm")
  }

  val embedPcaPowerSql: String =
    s"""WITH grid AS (
       |  SELECT vec_id, p.pos AS pos,
       |    CAST(floor(list_transform(embedding, x -> x::DOUBLE)[p.pos + 1] * 1000) AS BIGINT) AS milli
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |), dots AS (
       |  SELECT vec_id, CAST(SUM(milli) AS BIGINT) AS dot FROM grid GROUP BY 1
       |), w AS (
       |  SELECT g.pos, COUNT(*) AS n_vecs,
       |    SUM(CAST(g.milli AS HUGEINT) * d.dot) AS w
       |  FROM grid g JOIN dots d ON g.vec_id = d.vec_id
       |  GROUP BY 1
       |), m AS (SELECT MAX(abs(w)) AS w_max FROM w)
       |SELECT pos, n_vecs, CAST(w // 1000000 AS BIGINT) AS w_unit,
       |  CAST(w * 1000000 // w_max AS BIGINT) AS comp_ppm
       |FROM w, m ORDER BY pos""".stripMargin

  /** IVF cell-balance audit: per coarse cell, its member count, corpus
    * share, and imbalance factor (10⁶ = perfectly balanced) — the
    * audit run before trusting any IVF cost bound, because BOTH the
    * index's probe cost and knn_join's candidate volume scale with
    * Σ\|cell\|²: one hot cell quietly turns "cell-bounded" into
    * "quadratic on the hot cell". ScaleOpsSpec asserts balance holds
    * at ×10; this operator is the production form of that check,
    * cheap enough to run on every index rebuild.
    *
    * Scale shape: the assignment reuses [[cellAssign]] verbatim
    * (broadcast centroids + struct-argmin partial agg — one row per
    * vector pre-shuffle); the audit itself is ONE cells-bounded agg
    * plus a one-row totals broadcast. Numeric bounds: share_ppm's
    * numerator n_vecs·10⁶ is BIGINT-safe to 9×10¹² vectors, but
    * imbalance_ppm's carries the extra n_cells factor (√n under the
    * seed rule), which crosses 2⁶³ at ~9·10¹²/n_cells — so that product
    * accumulates in DECIMAL(38,0) (DuckDB: HUGEINT) and divides back to
    * a safe BIGINT (≤ 10⁶·n_cells).
    */
  def knnIvfBalance(s: SparkSession, dir: String): DataFrame = {
    val vecs = withVec(s, dir)
    val cents = Materialize.stable(refineCents(vecs))
    val sizes = cellAssign(vecs, cents)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val totals = sizes.agg(sum("n_vecs").as("total"), count(lit(1)).as("n_cells"))
    sizes.join(broadcast(totals))
      .withColumn("share_ppm", expr("n_vecs * 1000000 div total"))
      .withColumn("imbalance_ppm",
        expr("CAST(CAST(n_vecs AS DECIMAL(38,0)) * n_cells * 1000000 div total AS BIGINT)"))
      .select("cell", "n_vecs", "share_ppm", "imbalance_ppm")
      .orderBy("cell")
  }

  val knnIvfBalanceSql: String =
    s"""$knnAssignCte, sizes AS (
       |  SELECT cell, COUNT(*) AS n_vecs FROM assign GROUP BY 1
       |), t AS (
       |  SELECT CAST(SUM(n_vecs) AS BIGINT) AS total, COUNT(*) AS n_cells FROM sizes
       |)
       |SELECT cell, n_vecs,
       |  n_vecs * 1000000 // total AS share_ppm,
       |  CAST(CAST(n_vecs AS HUGEINT) * n_cells * 1000000 // total AS BIGINT) AS imbalance_ppm
       |FROM sizes, t ORDER BY cell""".stripMargin

  /** id shift for the drift audit's synthetic ingestion batch —
    * distinct from every other planted shift (the DedupCopyShift
    * convention).
    */
  val DriftBatchShift = 400000L

  /** IVF index-maintenance drift audit: assign a NEW vector batch to
    * the EXISTING index's centroids and compare per-cell occupancy
    * shares — the when-to-rebuild gate. A production ANN index is
    * appended to, not rebuilt nightly; appended vectors are routed by
    * the FROZEN centroids, and quality degrades exactly when the
    * batch's cell distribution drifts from the index's (new modality,
    * new embedding model, new domain). The synthetic batch mixes
    * in-distribution re-ingestions (vec_id%10==5, vectors verbatim —
    * drift-free mass) with distribution-shifted vectors (vec_id%10==9,
    * dimension order REVERSED — a different direction that lands in
    * different cells).
    *
    * 100 TB shape: the index build (cents + assignment rollup) is the
    * amortized once cost; the batch pass is cellAssign's broadcast-
    * centroid struct-argmin partial agg over the DELTA only; the
    * compare is a cells-bounded full-outer join + one-row totals
    * broadcast. drift_ppm = \|idx_share − batch_share\| in integer ppm.
    */
  def knnIvfDrift(s: SparkSession, dir: String): DataFrame = {
    val vecs = withVec(s, dir)
    val cents = Materialize.stable(refineCents(vecs))
    val idx = cellAssign(vecs, cents).groupBy("cell").agg(count(lit(1)).as("n_idx"))
    val batch = vecs.filter(pmod(col("vec_id"), lit(10)) === 5)
      .select(Dedup.plantId(col("vec_id"), DriftBatchShift).as("vec_id"), col("v"))
      .union(vecs.filter(pmod(col("vec_id"), lit(10)) === 9)
        .select(Dedup.plantId(col("vec_id"), DriftBatchShift).as("vec_id"), reverse(col("v")).as("v")))
    val bat = cellAssign(batch, cents).groupBy("cell").agg(count(lit(1)).as("n_batch"))
    val joined = idx.join(bat, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_idx"), lit(0L)).as("n_idx"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"))
    val totals = joined.agg(sum("n_idx").as("t_idx"), sum("n_batch").as("t_batch"))
    joined.join(broadcast(totals))
      .withColumn("idx_share_ppm", expr("n_idx * 1000000 div t_idx"))
      .withColumn("batch_share_ppm", expr("n_batch * 1000000 div t_batch"))
      .withColumn("drift_ppm", expr("abs(idx_share_ppm - batch_share_ppm)"))
      .select("cell", "n_idx", "n_batch", "idx_share_ppm", "batch_share_ppm", "drift_ppm")
      .orderBy("cell")
  }

  val knnIvfDriftSql: String =
    s"""$knnAssignCte, idx AS (
       |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_idx FROM assign GROUP BY 1
       |), batch AS (
       |  SELECT vec_id + $DriftBatchShift AS vec_id, v FROM vecs WHERE vec_id % 10 = 5
       |  UNION ALL
       |  SELECT vec_id + $DriftBatchShift, list_reverse(v) FROM vecs WHERE vec_id % 10 = 9
       |), bassign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT batch.vec_id, cents.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY batch.vec_id
       |        ORDER BY ${duckCosine("batch.v", "cents.cv")} DESC, cents.cent_id) AS crank
       |    FROM batch CROSS JOIN cents) t
       |  WHERE crank = 1
       |), bat AS (
       |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_batch FROM bassign GROUP BY 1
       |), joined AS (
       |  SELECT COALESCE(idx.cell, bat.cell) AS cell,
       |    COALESCE(n_idx, 0) AS n_idx, COALESCE(n_batch, 0) AS n_batch
       |  FROM idx FULL OUTER JOIN bat ON idx.cell = bat.cell
       |), t AS (
       |  SELECT CAST(SUM(n_idx) AS BIGINT) AS t_idx,
       |    CAST(SUM(n_batch) AS BIGINT) AS t_batch FROM joined
       |)
       |SELECT cell, n_idx, n_batch,
       |  n_idx * 1000000 // t_idx AS idx_share_ppm,
       |  n_batch * 1000000 // t_batch AS batch_share_ppm,
       |  abs(n_idx * 1000000 // t_idx - n_batch * 1000000 // t_batch) AS drift_ppm
       |FROM joined, t ORDER BY cell""".stripMargin

  /** id cap bounding the refresh audit's query slice: shifted %10==9
    * plant ids below DriftBatchShift + cap are the probe queries.
    */
  val RefreshQueryCap = 200L

  /** plane-PRN stream base for the refresh audit's new-mode plant —
    * far above every LSH/projection plane slot (≤ 80) and the sweep
    * geometries, so the streams never collide.
    */
  val NewModeIdx = 90000L

  /** the drifted-mode vector for plant id `idExpr`: a fixed mode
    * direction plus a 0.8-weighted per-vector PRN spread, every
    * coefficient from the portable integer plane PRN — bit-identical
    * across engines, intra-mode cosine ≈ 0.6 (coherent: a mode
    * vector's true top-k ARE mode vectors), mode-to-corpus ≈ 0.
    * Callers pass the BLOCK-LOCAL id (`pmod(vec_id, 10⁷)` — the
    * ScaleSmoke replication-block convention): the plane PRN's
    * `idx·64·2654435761` product overflows Long past idx ≈ 4.5×10⁶,
    * so replicated-block ids must fold back first; at contract scales
    * ids sit below 10⁷ and the fold is a no-op (oracle unchanged).
    */
  private def newModeVec(idExpr: String): String =
    s"transform(sequence(0, ${graft.functions.VectorFns.Dim - 1}), j -> " +
      s"${graft.functions.VectorFns.planeCoef(NewModeIdx.toString, "j")} + " +
      s"CAST(0.8 AS DOUBLE) * ${graft.functions.VectorFns.planeCoef(s"($NewModeIdx + 1 + $idExpr)", "j")})"

  private def duckNewModeVec(idExpr: String): String =
    s"list_transform(range(0, ${graft.functions.VectorFns.Dim}), j -> " +
      s"${graft.functions.VectorFns.planeCoef(NewModeIdx.toString, "j")} + " +
      s"CAST(0.8 AS DOUBLE) * ${graft.functions.VectorFns.planeCoef(s"($NewModeIdx + 1 + $idExpr)", "j")})"


  /** IVF index REFRESH audit — the closure of [[knnIvfDrift]]'s loop:
    * drift says WHEN to rebuild; this gate proves the rebuild WORKED.
    * Two phases over the SAME drifted union (corpus + %10==5 verbatim
    * re-ingestions + a %10==9 NEW-MODE batch: [[newModeVec]], the
    * "new embedding model" shape — one common direction per batch with
    * a strong per-vector spread): `frozen` routes the union through
    * the UNREFRESHED index's centroids (the production state the drift
    * gate fires on); `refreshed` re-seeds and re-refines from the
    * union itself. Each phase emits cell balance (cell count, max cell
    * share) and recall@[[KnnK]] at nprobe=1 for the MODE queries
    * against the exact brute-force top-k over the union (computed
    * once, both phases graded against the same side — the
    * knn_probe_sweep rule). Frozen centroids see the mode at near-zero
    * near-TIED cosines, so per-vector spread flips the argmax and the
    * mode's mutual neighbors scatter across cells (recall collapses);
    * the refreshed index seeds inside the mode and recovers them.
    *
    * Why not the drift gate's dimension-REVERSAL plant here: reversal
    * shifts cell occupancy (what knn_ivf_drift measures) but is
    * NN-incoherent in this embedding geometry — a reversed query's
    * exact top-k are 82% ORIGINAL vectors (measured, r12), so no index
    * geometry can "recover" what was never a retrievable mode; its
    * frozen/refreshed recall both sit at the in-distribution nprobe=1
    * baseline. A refresh gate needs a mode whose neighbors exist.
    *
    * The refresh re-seed hashes the id's DECIMAL STRING with the
    * portable poly-31 word hash ([[graft.functions.PortableHash]])
    * before taking the residue, not the plain id residue — and not a
    * multiplicative mix either: an appended batch lives in a shifted id
    * namespace whose congruence classes STRUCTURALLY exclude it from
    * `id % m == r` seeding (this plant: shift ≡ 0 (mod 50) and
    * %10∈{5,9} ids can never hit residue 7), and any affine mix
    * `(id % m)·c % m` is a BIJECTION of residues mod m, so it provably
    * cannot escape those classes either (measured: zero batch seeds,
    * recall unrecovered). The digit-string hash depends on every digit
    * through distinct powers of 31 mod P, so seed eligibility is
    * congruence-free and the drifted mass seeds in proportion to its
    * share — the rebuild rule an ingest-shifted corpus actually needs.
    * Censuses (union count → the √n modulus) are eager at
    * construction, the audit-tier discipline.
    *
    * 100 TB shape: both phases are cellAssign broadcast argmins over
    * the union (one row per vector pre-shuffle); the exact side is
    * query-slice × union (broadcast cross, knn_bruteforce's plan);
    * everything else is cells- or queries-bounded.
    */
  def knnIvfRefresh(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = Materialize.stable(withVec(s, dir))
    val batch = vecs.filter(pmod(col("vec_id"), lit(10)) === 5)
      .select(Dedup.plantId(col("vec_id"), DriftBatchShift).as("vec_id"), col("v"))
      .union(vecs.filter(pmod(col("vec_id"), lit(10)) === 9)
        .select(Dedup.plantId(col("vec_id"), DriftBatchShift).as("vec_id"),
          expr(newModeVec("pmod(vec_id, 10000000)")).as("v")))
    val union = Materialize.stable(vecs.union(batch))
    val queries = union
      .filter(col("vec_id") >= DriftBatchShift && pmod(col("vec_id"), lit(10)) === 9
        && col("vec_id") < DriftBatchShift + RefreshQueryCap)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = union.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", expr(sparkCosine("qv", "v")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= KnnK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // one phase's IVF top-k and its one-row cell balance, both tagged
    // with the phase
    def phase(name: String, cents: DataFrame): (DataFrame, DataFrame) = {
      val assign = Materialize.stable(cellAssign(union, cents))
      val bal = assign.groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_cells"), max("n").as("max_n"), sum("n").as("t"))
        .select(lit(name).as("phase"), col("n_cells"),
          expr("max_n * 1000000 div t").as("max_cell_share_ppm"))
      val qc = assign.join(queries, col("vec_id") === col("query_id"))
        .select(col("query_id"), col("cell"), col("qv"))
      val ivf = qc
        .join(assign.select(col("cell"), col("vec_id").as("neighbor_id"),
          col("v").as("nv")), Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", expr(sparkCosine("qv", "nv")))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
        .filter(col("rank") <= KnnK)
        .select(lit(name).as("phase"), col("query_id"), col("neighbor_id"))
      (ivf, bal)
    }
    val nUnion = union.count()
    val mR = centroidModFor(nUnion)
    val seedsR = union
      .filter(expr(s"pmod(${graft.functions.PortableHash.sparkWordHash(
        "CAST(vec_id AS STRING)")}, $mR)") === lit(SeedResidue.toLong))
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val (ivf, bal) = Seq("frozen" -> refineCents(vecs),
      "refreshed" -> refineCentsFromSeeds(union, seedsR)).map((phase _).tupled).unzip
    RefreshGrade.sweep(exact, ivf.reduce(_ union _), Seq("query_id", "neighbor_id"),
        Seq("frozen", "refreshed").map(p => struct(lit(p).as("phase"))))
      .join(bal.reduce(_ union _), Seq("phase"))
      .select(col("phase"), col("n_cells"), col("max_cell_share_ppm"), col("n_exact"),
        col("n_hits"), RefreshGrade.recall).orderBy("phase")
  }

  private val RefreshGrade = Grade.Pairs("n_exact", "n_ivf")

  val knnIvfRefreshSql: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), batch AS (
       |  SELECT vec_id + $DriftBatchShift AS vec_id, v FROM vecs WHERE vec_id % 10 = 5
       |  UNION ALL
       |  SELECT vec_id + $DriftBatchShift, ${duckNewModeVec("(vec_id % 10000000)")} FROM vecs WHERE vec_id % 10 = 9
       |), uni AS (
       |  SELECT * FROM vecs UNION ALL SELECT * FROM batch
       |), cmodf AS (
       |  SELECT greatest(CAST($MinCentroidMod AS BIGINT),
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) // $CentroidGrid * $CentroidGrid) AS m
       |  FROM vecs
       |), seedsf AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM vecs, cmodf WHERE vec_id % m = $SeedResidue
       |), assign0f AS (
       |  SELECT cell, v FROM (
       |    SELECT vecs.vec_id, s.cent_id AS cell, vecs.v,
       |      ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
       |        ORDER BY ${duckCosine("vecs.v", "s.cv")} DESC, s.cent_id) AS crank
       |    FROM vecs CROSS JOIN seedsf s) t
       |  WHERE crank = 1
       |), compf AS (
       |  SELECT cell, p.pos AS pos,
       |    SUM(CAST(floor(v[p.pos + 1] * 1000) AS BIGINT)) AS qs, COUNT(*) AS n
       |  FROM assign0f CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |  GROUP BY 1, 2
       |), centsf AS (
       |  SELECT cell AS cent_id,
       |    list(floor(CAST(qs AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(1000 AS DOUBLE) ORDER BY pos) AS cv
       |  FROM compf GROUP BY 1
       |), cmodr AS (
       |  SELECT greatest(CAST($MinCentroidMod AS BIGINT),
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) // $CentroidGrid * $CentroidGrid) AS m
       |  FROM uni
       |), seedsr AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM uni, cmodr
       |  WHERE (${graft.functions.PortableHash.duckWordHash("CAST(vec_id AS VARCHAR)")}) % m = $SeedResidue
       |), assign0r AS (
       |  SELECT cell, v FROM (
       |    SELECT uni.vec_id, s.cent_id AS cell, uni.v,
       |      ROW_NUMBER() OVER (PARTITION BY uni.vec_id
       |        ORDER BY ${duckCosine("uni.v", "s.cv")} DESC, s.cent_id) AS crank
       |    FROM uni CROSS JOIN seedsr s) t
       |  WHERE crank = 1
       |), compr AS (
       |  SELECT cell, p.pos AS pos,
       |    SUM(CAST(floor(v[p.pos + 1] * 1000) AS BIGINT)) AS qs, COUNT(*) AS n
       |  FROM assign0r CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |  GROUP BY 1, 2
       |), centsr AS (
       |  SELECT cell AS cent_id,
       |    list(floor(CAST(qs AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(1000 AS DOUBLE) ORDER BY pos) AS cv
       |  FROM compr GROUP BY 1
       |), af AS (
       |  SELECT vec_id, cell, v FROM (
       |    SELECT uni.vec_id, c.cent_id AS cell, uni.v,
       |      ROW_NUMBER() OVER (PARTITION BY uni.vec_id
       |        ORDER BY ${duckCosine("uni.v", "c.cv")} DESC, c.cent_id) AS crank
       |    FROM uni CROSS JOIN centsf c) t
       |  WHERE crank = 1
       |), ar AS (
       |  SELECT vec_id, cell, v FROM (
       |    SELECT uni.vec_id, c.cent_id AS cell, uni.v,
       |      ROW_NUMBER() OVER (PARTITION BY uni.vec_id
       |        ORDER BY ${duckCosine("uni.v", "c.cv")} DESC, c.cent_id) AS crank
       |    FROM uni CROSS JOIN centsr c) t
       |  WHERE crank = 1
       |), queries AS (
       |  SELECT vec_id AS query_id, v AS qv FROM uni
       |  WHERE vec_id >= $DriftBatchShift AND vec_id % 10 = 9
       |    AND vec_id < ${DriftBatchShift + RefreshQueryCap}
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, u.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${duckCosine("q.qv", "u.v")} DESC, u.vec_id) AS rank
       |    FROM queries q JOIN uni u ON u.vec_id <> q.query_id) t
       |  WHERE rank <= $KnnK
       |), ivff AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, n.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${duckCosine("q.qv", "n.v")} DESC, n.vec_id) AS rank
       |    FROM queries q
       |    JOIN af mine ON mine.vec_id = q.query_id
       |    JOIN af n ON n.cell = mine.cell AND n.vec_id <> q.query_id) t
       |  WHERE rank <= $KnnK
       |), ivfr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, n.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${duckCosine("q.qv", "n.v")} DESC, n.vec_id) AS rank
       |    FROM queries q
       |    JOIN ar mine ON mine.vec_id = q.query_id
       |    JOIN ar n ON n.cell = mine.cell AND n.vec_id <> q.query_id) t
       |  WHERE rank <= $KnnK
       |), balf AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       |    CAST(MAX(n) AS BIGINT) AS max_n, CAST(SUM(n) AS BIGINT) AS t
       |  FROM (SELECT cell, COUNT(*) AS n FROM af GROUP BY 1)
       |), balr AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       |    CAST(MAX(n) AS BIGINT) AS max_n, CAST(SUM(n) AS BIGINT) AS t
       |  FROM (SELECT cell, COUNT(*) AS n FROM ar GROUP BY 1)
       |), ne AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact
       |), hf AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM exact e JOIN ivff i ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
       |), hr AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM exact e JOIN ivfr i ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
       |)
       |SELECT 'frozen' AS phase, b.n_cells,
       |  b.max_n * 1000000 // b.t AS max_cell_share_ppm,
       |  ne.n_exact, hf.n_hits,
       |  ${Grade.ppmSql("hf.n_hits", "ne.n_exact")} AS recall_ppm
       |FROM balf b, ne, hf
       |UNION ALL
       |SELECT 'refreshed', b.n_cells,
       |  b.max_n * 1000000 // b.t,
       |  ne.n_exact, hr.n_hits,
       |  ${Grade.ppmSql("hr.n_hits", "ne.n_exact")}
       |FROM balr b, ne, hr
       |ORDER BY phase""".stripMargin

  /** The COMPOSITE staleness gate [[knnIvfRefresh]] leaves open: that
    * audit proves a coarse-quantizer rebuild recovers a drifted mode —
    * but the IVFADC index has TWO trained halves, and at 10⁹ vectors
    * the PQ codebook is the cheaper one to retrain. This gate holds the
    * coarse cells FIXED (the refreshed quantizer over the same drifted
    * union — the post-knn_ivf_refresh production state) and swaps ONLY
    * the codebook: `frozen` scores the union's codes against the
    * [[knnPqTrain]]-refined book trained on the PRE-DRIFT corpus (what
    * production has when drift fires); `retrained` WARM-STARTS from
    * that same frozen book and runs [[PqTrainIters]] more Lloyd rungs
    * on the drifted UNION — the production codebook-refresh move
    * (fine-tune on the new mixture, FAISS's IVFADC retraining shape;
    * no re-seed needed because Lloyd reallocates codewords toward the
    * new mass in proportion to its share). The drifted batch is a
    * HALF-CORPUS re-embedding (every odd vec_id re-lands as a coherent
    * new mode, [[newModeVec]]) — big enough that the stale book's
    * codeword budget is visibly misallocated. Both phases share the
    * exact brute-force side, the cell assignment and the probe lists,
    * so every delta in the row is attributable to the codebook alone.
    *
    * What the gate MEASURES (and the readout a deployment should act
    * on): codebook staleness is an SSE problem, not — at production
    * shortlist settings — a recall problem. The `sse` column carries
    * the staleness invoice and its retrain recovery (22-28% on this
    * plant, Lloyd-descent-provable as in [[knnPqTrainConverge]]); the
    * post-rerank `recall_ppm` stays at/near 10⁶ under BOTH books,
    * because the [[PqShortlist]]-deep exact rerank absorbs the stale
    * book's quantization bias (the ADC's coarse ordering still lands
    * the true neighbors inside the 50-candidate shortlist). The
    * diagnostic `recall_adc_ppm` (raw ADC top-[[KnnK]], no rerank)
    * shows why a recall-based staleness alert is a trap in BOTH
    * directions: reconstruction-optimal retraining can LOWER raw-ADC
    * order precision inside a coherent new mode (codewords consolidate
    * onto the mode and candidates' codes lose accidental diversity)
    * while the production path is unaffected. Watch SSE drift to
    * schedule codebook retrains; grade the retrain with this gate's
    * recall columns to confirm the retrieval tier held.
    *
    * Portability: distances are integer squared-milli end to end (the
    * codes, the per-query distance tables and the ADC sums — no
    * micro-floor needed), so partial aggregation and the serial replay
    * agree exactly; only the final [[PqShortlist]] rerank uses the
    * established bit-portable cosine.
    *
    * Scale shape: codebooks and distance tables BROADCAST (M·K·SubDim
    * and Q·M·K integers); code assignment is the map-side K-bounded
    * argmin paid once per phase + once per warm rung; the ADC scan is
    * probe-cell-bounded (nprobe·|cell| code rows per query);
    * shortlist/rerank are query-bounded; the exact side is the
    * query-slice broadcast cross (knn_bruteforce's plan), paid ONCE
    * and shared.
    */
  def knnIvfPqRefresh(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = Materialize.stable(withVec(s, dir))
    val batch = vecs.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(Dedup.plantId(col("vec_id"), DriftBatchShift).as("vec_id"),
        expr(newModeVec("pmod(vec_id, 10000000)")).as("v"))
    val union = Materialize.stable(vecs.union(batch))
    val queries = union
      .filter(col("vec_id") >= DriftBatchShift
        && col("vec_id") < DriftBatchShift + RefreshQueryCap)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = union.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", expr(sparkCosine("qv", "v")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= KnnK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val nUnion = union.count()
    val mR = centroidModFor(nUnion)
    val seedsR = union
      .filter(expr(s"pmod(${graft.functions.PortableHash.sparkWordHash(
        "CAST(vec_id AS STRING)")}, $mR)") === lit(SeedResidue.toLong))
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val cents = Materialize.stable(refineCentsFromSeeds(union, seedsR))
    val assign = Materialize.stable(cellAssign(union, cents))
    val probes = Materialize.stable(probesOf(queries, cents, Nprobe)
      .select("query_id", "cell"))
    val gridU = Materialize.stable(pqMilliGrid(pqNormalize(union)))
    val gridO = gridU.filter(col("vec_id") < DriftBatchShift)
    // the MULTI-REFERENCE code frames checkpoint (the ladder's
    // [[Ladder.retrain]] rule): each rung derives from the previous one,
    // and with lazy persists alone the logical tree re-expanded the
    // whole chain at every reference — measured 35-39s of driver-side
    // plan processing PER ACTION at sf0.1 before the checkpoints, ~3s
    // after, identical results. The frozen codes are referenced twice
    // (rung-1 refine + the frozen phaseRow); the books read twice stay
    // stable-persisted (1k rows).
    val frozenB = Materialize.stable(pqRefineFromAssign(gridO,
      pqAssign(gridO, pqMilliSeeds(gridO))
        .select(col("vec_id"), col("m"), col("best.j").as("j"))))
    // warm-start retrain: [[PqTrainIters]] Lloyd rungs on the UNION
    // from the frozen book (the knn_pq_train_converge ladder as the
    // refresh move) — rung 1 alone recovers most of the SSE but leaves
    // the mode mass on FEW codewords; the later rungs are what SPLIT
    // it (Lloyd's variance-proportional allocation), which is where
    // the ADC ranking quality inside the new mode comes back
    val (frozen, retrained) = Ladder.retrain(frozenB, PqTrainIters)(
      codes => pqRefineFromAssign(gridU,
        codes.select(col("vec_id"), col("m"), col("best.j").as("j"))),
      pqAssign(gridU, _))
    // one phase's reranked shortlist and its one-row code SSE, both
    // tagged with the phase
    def phase(name: String, book: DataFrame, codesD: DataFrame): (DataFrame, DataFrame) = {
      val sse = codesD.agg(
        expr("CAST(SUM(CAST(best.dist_sq AS DECIMAL(38,0))) AS BIGINT)").as("sse"))
        .select(lit(name).as("phase"), col("sse"))
      val codes = codesD.select(col("vec_id"), col("m"), col("best.j").as("j"))
      val dt = gridU.join(broadcast(queries.select(col("query_id"))),
          col("vec_id") === col("query_id"))
        .join(broadcast(book), Seq("m", "pos"))
        .withColumn("d", col("milli") - col("c_milli"))
        .groupBy("query_id", "m", "j")
        .agg(sum(expr("d * d")).as("dti"))
      val cellCodes = codes.join(assign.select("vec_id", "cell"), Seq("vec_id"))
      val adc = probes.join(cellCodes, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .join(broadcast(dt), Seq("query_id", "m", "j"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum("dti").as("adc_i"))
      val ranked = adc.withColumn("srank",
        row_number().over(Window.partitionBy("query_id")
          .orderBy(col("adc_i"), col("neighbor_id"))))
      // the shortlist holds the ADC top-k (srank ≤ k ≤ shortlist) and
      // the reranked top-k (rank ≤ k) as two flags on one frame
      val shortlist = ranked.filter(col("srank") <= PqShortlist)
        .join(union.select(col("vec_id").as("neighbor_id"), col("v")), Seq("neighbor_id"))
        .join(broadcast(queries), Seq("query_id"))
        .withColumn("cosine", expr(sparkCosine("qv", "v")))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))))
        .select(lit(name).as("phase"), col("query_id"), col("neighbor_id"), col("srank"), col("rank"))
      (shortlist, sse)
    }
    val (shortlist, sse) = Seq(phase("frozen", frozen.book, frozen.assign),
      phase("retrained", retrained.book, retrained.assign)).unzip
    PqRefreshGrade.sweep(exact, shortlist.reduce(_ union _), Seq("query_id", "neighbor_id"),
        Seq("frozen", "retrained").map(p => struct(lit(p).as("phase"))),
        detected = col("rank") <= KnnK,
        more = Seq(count(when(col(Grade.InExact) && col("srank") <= KnnK, 1)).as("n_hit_adc")))
      .join(sse.reduce(_ union _), Seq("phase"))
      .select(col("phase"), col("sse"), col("n_exact"), col("n_hit_adc"),
        Grade.ppm("n_hit_adc", "n_exact").as("recall_adc_ppm"),
        col("n_hits").as("n_hit"), PqRefreshGrade.recall).orderBy("phase")
  }

  private val PqRefreshGrade = Grade.Pairs("n_exact", "n_rerank")

  val knnIvfPqRefreshSql: String = {
    val wh = (e: String) => graft.functions.PortableHash.duckWordHash(s"CAST($e AS VARCHAR)")
    // warm-start ladder: wb1 refines from the frozen phase's own
    // assignment (fa); each later rung re-assigns and refines again
    val warmChain = (1 to PqTrainIters).map { t =>
      val src = if (t == 1) "fa" else s"wa${t - 1}"
      s"""wb$t AS (
         |  SELECT g.m, a.j, g.pos, CAST(SUM(g.milli) AS BIGINT) // COUNT(*) AS c_milli
         |  FROM gridu g JOIN $src a ON g.vec_id = a.vec_id AND g.m = a.m
         |  GROUP BY 1, 2, 3
         |), wd$t AS (
         |  SELECT g.vec_id, g.m, b.j,
         |    CAST(SUM((g.milli - b.c_milli) * (g.milli - b.c_milli)) AS BIGINT) AS dist_sq
         |  FROM gridu g JOIN wb$t b ON g.m = b.m AND g.pos = b.pos
         |  GROUP BY 1, 2, 3
         |), wa$t AS (
         |  SELECT vec_id, m, j FROM (
         |    SELECT vec_id, m, j,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist_sq, j) AS r
         |    FROM wd$t) t WHERE r = 1
         |)""".stripMargin
    }.mkString(", ")
    def phaseSql(p: String, book: String) =
      s"""${p}d AS (
         |  SELECT g.vec_id, g.m, b.j,
         |    CAST(SUM((g.milli - b.c_milli) * (g.milli - b.c_milli)) AS BIGINT) AS dist_sq
         |  FROM gridu g JOIN $book b ON g.m = b.m AND g.pos = b.pos
         |  GROUP BY 1, 2, 3
         |), ${p}a AS (
         |  SELECT vec_id, m, j, dist_sq FROM (
         |    SELECT vec_id, m, j, dist_sq,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist_sq, j) AS r
         |    FROM ${p}d) t WHERE r = 1
         |), ${p}sse AS (
         |  SELECT CAST(SUM(CAST(dist_sq AS HUGEINT)) AS BIGINT) AS sse FROM ${p}a
         |), ${p}dt AS (
         |  SELECT g.vec_id AS query_id, g.m, b.j,
         |    CAST(SUM((g.milli - b.c_milli) * (g.milli - b.c_milli)) AS BIGINT) AS dti
         |  FROM gridu g
         |  JOIN queries q ON g.vec_id = q.query_id
         |  JOIN $book b ON g.m = b.m AND g.pos = b.pos
         |  GROUP BY 1, 2, 3
         |), ${p}adc AS (
         |  SELECT pr.query_id, n.vec_id AS neighbor_id, CAST(SUM(d.dti) AS BIGINT) AS adc_i
         |  FROM probes pr
         |  JOIN ar n ON n.cell = pr.cell
         |  JOIN ${p}a c ON c.vec_id = n.vec_id
         |  JOIN ${p}dt d ON d.query_id = pr.query_id AND d.m = c.m AND d.j = c.j
         |  WHERE n.vec_id <> pr.query_id
         |  GROUP BY 1, 2
         |), ${p}rank AS (
         |  SELECT query_id, neighbor_id, adc_i,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_i, neighbor_id) AS srank
         |  FROM ${p}adc
         |), ${p}hadc AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n
         |  FROM exact e JOIN ${p}rank a
         |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |   AND a.srank <= $KnnK
         |), ${p}rr AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT s.query_id, s.neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY s.query_id
         |        ORDER BY ${duckCosine("q.qv", "u.v")} DESC, s.neighbor_id) AS rank
         |    FROM ${p}rank s
         |    JOIN uni u ON u.vec_id = s.neighbor_id
         |    JOIN queries q ON q.query_id = s.query_id
         |    WHERE s.srank <= $PqShortlist) t
         |  WHERE rank <= $KnnK
         |), ${p}hrr AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n
         |  FROM exact e JOIN ${p}rr a USING (query_id, neighbor_id)
         |)""".stripMargin
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), batch AS (
       |  SELECT vec_id + $DriftBatchShift AS vec_id, ${duckNewModeVec("(vec_id % 10000000)")} AS v
       |  FROM vecs WHERE vec_id % 2 = 1
       |), uni AS (
       |  SELECT * FROM vecs UNION ALL SELECT * FROM batch
       |), cmodr AS (
       |  SELECT greatest(CAST($MinCentroidMod AS BIGINT),
       |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) // $CentroidGrid * $CentroidGrid) AS m
       |  FROM uni
       |), seedsr AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM uni, cmodr
       |  WHERE (${wh("vec_id")}) % m = $SeedResidue
       |), assign0r AS (
       |  SELECT cell, v FROM (
       |    SELECT uni.vec_id, s.cent_id AS cell, uni.v,
       |      ROW_NUMBER() OVER (PARTITION BY uni.vec_id
       |        ORDER BY ${duckCosine("uni.v", "s.cv")} DESC, s.cent_id) AS crank
       |    FROM uni CROSS JOIN seedsr s) t
       |  WHERE crank = 1
       |), compr AS (
       |  SELECT cell, p.pos AS pos,
       |    SUM(CAST(floor(v[p.pos + 1] * 1000) AS BIGINT)) AS qs, COUNT(*) AS n
       |  FROM assign0r CROSS JOIN (SELECT unnest(range(0, ${graft.functions.VectorFns.Dim})) AS pos) p
       |  GROUP BY 1, 2
       |), centsr AS (
       |  SELECT cell AS cent_id,
       |    list(floor(CAST(qs AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(1000 AS DOUBLE) ORDER BY pos) AS cv
       |  FROM compr GROUP BY 1
       |), ar AS (
       |  SELECT vec_id, cell, v FROM (
       |    SELECT uni.vec_id, c.cent_id AS cell, uni.v,
       |      ROW_NUMBER() OVER (PARTITION BY uni.vec_id
       |        ORDER BY ${duckCosine("uni.v", "c.cv")} DESC, c.cent_id) AS crank
       |    FROM uni CROSS JOIN centsr c) t
       |  WHERE crank = 1
       |), queries AS (
       |  SELECT vec_id AS query_id, v AS qv FROM uni
       |  WHERE vec_id >= $DriftBatchShift
       |    AND vec_id < ${DriftBatchShift + RefreshQueryCap}
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, u.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${duckCosine("q.qv", "u.v")} DESC, u.vec_id) AS rank
       |    FROM queries q JOIN uni u ON u.vec_id <> q.query_id) t
       |  WHERE rank <= $KnnK
       |), ne AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact
       |), probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${duckCosine("q.qv", "c.cv")} DESC, c.cent_id) AS crank
       |    FROM queries q CROSS JOIN centsr c) t
       |  WHERE crank <= $Nprobe
       |), nuni AS (
       |  SELECT vec_id, list_transform(v, x -> x / nrm) AS v
       |  FROM (SELECT vec_id, v, ${duckNorm("v")} AS nrm FROM uni) t
       |), gridu AS (
       |  SELECT vec_id, ms.m AS m, p.pos AS pos,
       |    CAST(floor(v[ms.m * $PqSubDim + p.pos + 1] * 1000) AS BIGINT) AS milli
       |  FROM nuni
       |  CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms
       |  CROSS JOIN (SELECT unnest(range(0, $PqSubDim)) AS pos) p
       |), grido AS (
       |  SELECT * FROM gridu WHERE vec_id < $DriftBatchShift
       |), fseed AS (
       |  SELECT (vec_id - $PqSeedOffset) // $PqSeedMod AS j, m, pos, milli AS c_milli
       |  FROM grido
       |  WHERE vec_id % $PqSeedMod = $PqSeedOffset
       |    AND vec_id < $PqSeedOffset + $PqSeedMod * $PqK
       |), f0d AS (
       |  SELECT g.vec_id, g.m, b.j,
       |    CAST(SUM((g.milli - b.c_milli) * (g.milli - b.c_milli)) AS BIGINT) AS dist_sq
       |  FROM grido g JOIN fseed b ON g.m = b.m AND g.pos = b.pos
       |  GROUP BY 1, 2, 3
       |), f0a AS (
       |  SELECT vec_id, m, j FROM (
       |    SELECT vec_id, m, j,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist_sq, j) AS r
       |    FROM f0d) t WHERE r = 1
       |), fbook AS (
       |  SELECT g.m, a.j, g.pos, CAST(SUM(g.milli) AS BIGINT) // COUNT(*) AS c_milli
       |  FROM grido g JOIN f0a a ON g.vec_id = a.vec_id AND g.m = a.m
       |  GROUP BY 1, 2, 3
       |), ${phaseSql("f", "fbook")}, $warmChain, ${phaseSql("r", s"wb$PqTrainIters")}
       |SELECT 'frozen' AS phase, fsse.sse, ne.n_exact, fhadc.n AS n_hit_adc,
       |  ${Grade.ppmSql("fhadc.n", "ne.n_exact")} AS recall_adc_ppm,
       |  fhrr.n AS n_hit,
       |  ${Grade.ppmSql("fhrr.n", "ne.n_exact")} AS recall_ppm
       |FROM fsse, ne, fhadc, fhrr
       |UNION ALL
       |SELECT 'retrained', rsse.sse, ne.n_exact, rhadc.n,
       |  ${Grade.ppmSql("rhadc.n", "ne.n_exact")},
       |  rhrr.n,
       |  ${Grade.ppmSql("rhrr.n", "ne.n_exact")}
       |FROM rsse, ne, rhadc, rhrr
       |ORDER BY phase""".stripMargin
  }

  /** Margin-based bitext mining (the CCMatrix / LASER production
    * shape): the corpus splits into two "language" sides (synthetic
    * stand-in: even / odd vec_id — on a real multilingual lake the
    * side is the lang column), and candidate translation pairs are
    * scored by the RATIO of their cosine to the mean cosine of each
    * endpoint's own k-NN neighborhood — the margin criterion that
    * fixes raw-cosine mining's hubness problem (a generically-central
    * vector scores high against everything; dividing by its
    * neighborhood mean cancels that). score(x,y) =
    * cos(x,y) / ((avgNN_k(x→B) + avgNN_k(y→A)) / 2); pairs are
    * "aligned" at margin > 1 and "mutual" when each endpoint is in the
    * other's top-k.
    *
    * Scale shape: everything is query-bounded — the x side is the
    * [[QuerySetSize]] query set broadcast over ONE B-side corpus scan
    * (WindowGroupLimit top-k, the knn_bruteforce plan); the y side is
    * the ≤ |X|·k distinct neighbors broadcast over ONE A-side scan.
    * The corpus is never shuffled and never joined to itself. Margin
    * arithmetic runs on floor-truncated integer cos_ppm (sums of k
    * BIGINTs are order-free — no float-accumulation parity risk),
    * ratio as one BIGINT cross-multiplication. At 100 TB the x side
    * is a partition of the smaller language and candidate generation
    * swaps to the IVF/Hamming tier ([[rerankTopK]] composes) — this
    * operator is the exact-scored gate for that path.
    */
  def embedBitext(s: SparkSession, dir: String): DataFrame = {
    val vecs = withVec(s, dir)
    val sideB = vecs.filter(pmod(col("vec_id"), lit(2)) === 1)
    val sideA = vecs.filter(pmod(col("vec_id"), lit(2)) === 0)
    val xs = sideA.filter(col("vec_id") < 2 * QuerySetSize)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    bitextMine(xs, sideA, sideB, KnnK)
  }

  /** margin mining over ANY two (vec_id, v) sides — the library entry
    * point. `xs` is the (query_id, qv) query slice of side A (keep it
    * broadcastable; partition a big language and loop). Returns each
    * query's top-k B-side candidates scored by the margin criterion.
    */
  def bitextMine(xs: DataFrame, sideA: DataFrame, sideB: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wx = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    val xnn = Materialize.stable(sideB.crossJoin(broadcast(xs))
      .withColumn("cosine", expr(sparkCosine("qv", "v")))
      .withColumn("rank", row_number().over(wx).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("cos_ppm", expr("CAST(floor(cosine * 1000000) AS BIGINT)"))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("rank"), col("cos_ppm")))
    val sx = xnn.groupBy("query_id").agg(sum("cos_ppm").as("sx"))
    val ys = sideB.join(
        broadcast(xnn.select(col("cand_id").as("vec_id")).distinct()), Seq("vec_id"))
      .select(col("vec_id").as("cand_id"), col("v").as("yv"))
    val wy = Window.partitionBy("cand_id").orderBy(col("cosine").desc, col("vec_id"))
    val ynn = Materialize.stable(sideA.crossJoin(broadcast(ys))
      .withColumn("cosine", expr(sparkCosine("yv", "v")))
      .withColumn("yrank", row_number().over(wy).cast("long"))
      .filter(col("yrank") <= k)
      .withColumn("cos_ppm", expr("CAST(floor(cosine * 1000000) AS BIGINT)"))
      .select(col("cand_id"), col("vec_id").as("back_id"), col("cos_ppm")))
    val sy = ynn.groupBy("cand_id").agg(sum("cos_ppm").as("sy"))
    xnn
      .join(broadcast(sx), Seq("query_id"))
      .join(broadcast(sy), Seq("cand_id"))
      .join(broadcast(ynn.select(col("cand_id").as("m_cand"), col("back_id")).distinct()
          .withColumn("is_mutual", lit(1L))),
        col("back_id") === col("query_id") && col("m_cand") === col("cand_id"), "left")
      .withColumn("is_mutual", coalesce(col("is_mutual"), lit(0L)))
      .withColumn("margin_ppm", expr(
        s"CASE WHEN sx + sy <= 0 THEN 0 ELSE cos_ppm * ${2 * k} * 1000000 div (sx + sy) END"))
      .withColumn("is_aligned",
        expr("CASE WHEN margin_ppm > 1000000 THEN 1 ELSE 0 END").cast("long"))
      .select("query_id", "cand_id", "rank", "cos_ppm", "margin_ppm", "is_mutual", "is_aligned")
      .orderBy("query_id", "rank")
  }

  val embedBitextSql: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), xs AS (
       |  SELECT vec_id AS query_id, v AS qv FROM vecs
       |  WHERE vec_id % 2 = 0 AND vec_id < ${2 * QuerySetSize}
       |), xnn AS (
       |  SELECT query_id, cand_id, rank,
       |    CAST(floor(cosine * 1000000) AS BIGINT) AS cos_ppm FROM (
       |    SELECT x.query_id, b.vec_id AS cand_id,
       |      ${duckCosine("x.qv", "b.v")} AS cosine,
       |      ROW_NUMBER() OVER (PARTITION BY x.query_id
       |        ORDER BY ${duckCosine("x.qv", "b.v")} DESC, b.vec_id) AS rank
       |    FROM xs x JOIN vecs b ON b.vec_id % 2 = 1) t
       |  WHERE rank <= $KnnK
       |), sx AS (
       |  SELECT query_id, CAST(SUM(cos_ppm) AS BIGINT) AS sx FROM xnn GROUP BY 1
       |), ys AS (
       |  SELECT DISTINCT xnn.cand_id, v.v AS yv FROM xnn JOIN vecs v ON v.vec_id = xnn.cand_id
       |), ynn AS (
       |  SELECT cand_id, back_id,
       |    CAST(floor(cosine * 1000000) AS BIGINT) AS cos_ppm FROM (
       |    SELECT y.cand_id, a.vec_id AS back_id,
       |      ${duckCosine("y.yv", "a.v")} AS cosine,
       |      ROW_NUMBER() OVER (PARTITION BY y.cand_id
       |        ORDER BY ${duckCosine("y.yv", "a.v")} DESC, a.vec_id) AS yrank
       |    FROM ys y JOIN vecs a ON a.vec_id % 2 = 0) t
       |  WHERE yrank <= $KnnK
       |), sy AS (
       |  SELECT cand_id, CAST(SUM(cos_ppm) AS BIGINT) AS sy FROM ynn GROUP BY 1
       |)
       |SELECT x.query_id, x.cand_id, x.rank, x.cos_ppm,
       |  CASE WHEN sx.sx + sy.sy <= 0 THEN 0
       |       ELSE x.cos_ppm * ${2 * KnnK} * 1000000 // (sx.sx + sy.sy) END AS margin_ppm,
       |  CAST(CASE WHEN EXISTS (SELECT 1 FROM ynn n
       |         WHERE n.cand_id = x.cand_id AND n.back_id = x.query_id)
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_mutual,
       |  CAST(CASE WHEN (CASE WHEN sx.sx + sy.sy <= 0 THEN 0
       |         ELSE x.cos_ppm * ${2 * KnnK} * 1000000 // (sx.sx + sy.sy) END) > 1000000
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_aligned
       |FROM xnn x JOIN sx ON x.query_id = sx.query_id
       |JOIN sy ON x.cand_id = sy.cand_id
       |ORDER BY x.query_id, x.rank""".stripMargin

  /** Semantic-duplicate cluster census: connected components of the
    * verified embedding near-dup graph — the embedding-side twin of
    * dedup_clusters (A≈B, B≈C ⇒ {A,B,C} one cluster even when A·C
    * sits below threshold; keep-one-per-cluster needs the component,
    * not the pair list). Pairs come from [[embedNeardup]] (hyperplane
    * LSH buckets → exact-cosine verify), so the component pass runs on
    * the OUTPUT-sized pair frame; the engine is
    * [[Dedup.connectedComponents]] (min-label propagation + pointer
    * doubling, O(log d) rounds, per-round checkpoint), already proven
    * empty-graph-safe. Vectors in no pair keep their own id implicitly
    * (they are absent from the output — the dedup_clusters
    * convention).
    */
  def embedClusters(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.connectedComponents(
        embedNeardup(s, dir).select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")

  val embedClustersSql: String =
    s"""WITH RECURSIVE epairs AS (
       |  SELECT vec_a, vec_b FROM ($embedNeardupSql) ep
       |), edges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM epairs
       |  UNION ALL
       |  SELECT vec_b, vec_a FROM epairs
       |), reach(node, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
       |)
       |SELECT node AS vec_id, MIN(label) AS cluster_id
       |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin

  /** The GEOMETRY dial for hyperplane LSH — the evidence table behind
    * SCALE.md's round-11 geometry law (a band join's expected bucket
    * occupancy is n / 2^bits per table, so candidate volume is
    * Θ(n²/2^bits): bits must grow ~log₂ n, the knn_ivf √n-cells rule's
    * sibling). One row per bits ∈ {3,4,5,6} at the contract's 16
    * tables; bits=4 IS the contract geometry (identical plane-index
    * stream), so the sweep prices embed_neardup's own setting against
    * its neighbors. Columns per config: slice-anchored true pair count
    * (cosine ≥ [[NearDupThreshold]], computed ONCE — the
    * knn_probe_sweep share-the-exact-side rule), candidate volume,
    * hits, recall/precision ppm, and the measured max bucket occupancy
    * (the n/2^bits law read directly).
    *
    * Scale shape: the exact side and candidate joins are all anchored
    * on a [[GeomSliceSize]] query slice (broadcast crosses, the
    * knn_bruteforce idiom — audit-tier slice contract); max_occupancy
    * is a full-corpus (t, bucket) rollup, bucket-count-bounded. Nothing
    * here is corpus²: the gate measures the quadratic so production
    * never pays it.
    */
  val GeomBitsConfigs = Seq(3, 4, 5, 6)
  val GeomSliceSize = 100L
  private val GeomGrade = Grade.Pairs("n_true", "n_candidates")

  def embedGeometrySweep(s: SparkSession, dir: String): DataFrame = {
    val vecs = Materialize.stable(withVec(s, dir))
    val slice = vecs.filter(col("vec_id") < GeomSliceSize)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = vecs.crossJoin(broadcast(slice))
      .filter(col("vec_id") =!= col("qid"))
      .filter(expr(s"${sparkCosine("qv", "v")} >= $NearDupThreshold"))
      .select(least(col("qid"), col("vec_id")).as("pa"),
        greatest(col("qid"), col("vec_id")).as("pb"))
      .distinct()
    val (cand, occ) = GeomBitsConfigs.map { bits =>
      // round 16 (guide §5): the bucket frame is referenced THREE times
      // per config (query side, index side of the candidate self-join,
      // occupancy census) — materialize it so the tables·bits·Dim
      // sign-sketch computation runs once per config, not three times
      val buckets = Materialize.stable(vecs.select(col("vec_id"),
        posexplode(expr(sparkLshBucketsParam("v", LshTables, bits))).as(Seq("t", "bucket"))))
      val qb = buckets.filter(col("vec_id") < GeomSliceSize)
        .select(col("t"), col("bucket"), col("vec_id").as("qid"))
      val cand = qb.join(buckets, Seq("t", "bucket"))
        .filter(col("vec_id") =!= col("qid"))
        .select(lit(bits.toLong).as("bits"), least(col("qid"), col("vec_id")).as("pa"),
          greatest(col("qid"), col("vec_id")).as("pb"))
        .distinct()
      val occ = buckets.groupBy("t", "bucket").count()
        .agg(lit(bits.toLong).as("bits"), max("count").as("max_occupancy"))
      (cand, occ)
    }.unzip
    GeomGrade.sweep(exact, cand.reduce(_ union _), Seq("pa", "pb"),
        GeomBitsConfigs.map(bits => struct(lit(bits.toLong).as("bits"))))
      .join(occ.reduce(_ union _), Seq("bits"))
      .select(col("bits") +: GeomGrade.graded :+ col("max_occupancy"): _*).orderBy("bits")
  }

  val embedGeometrySweepSql: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), slice AS (
       |  SELECT vec_id AS qid, v AS qv FROM vecs WHERE vec_id < $GeomSliceSize
       |), exact AS (
       |  SELECT DISTINCT least(qid, vec_id) AS pa, greatest(qid, vec_id) AS pb
       |  FROM vecs CROSS JOIN slice
       |  WHERE vec_id <> qid AND ${duckCosine("qv", "v")} >= $NearDupThreshold
       |), cfg AS (
       |  SELECT unnest([${GeomBitsConfigs.mkString(", ")}]) AS bits
       |), buckets AS (
       |  SELECT c.bits, vec_id, ts.t AS t,
       |    ${duckLshBucketValue("v", "ts.t", "c.bits")} AS bucket
       |  FROM vecs CROSS JOIN cfg c
       |  CROSS JOIN (SELECT unnest(range(0, $LshTables)) AS t) ts
       |), cand AS (
       |  SELECT DISTINCT q.bits, least(q.vec_id, b.vec_id) AS pa,
       |    greatest(q.vec_id, b.vec_id) AS pb
       |  FROM buckets q JOIN buckets b
       |    ON q.bits = b.bits AND q.t = b.t AND q.bucket = b.bucket
       |   AND q.vec_id <> b.vec_id
       |  WHERE q.vec_id < $GeomSliceSize
       |), hits AS (
       |  SELECT c.bits, c.pa FROM cand c
       |  JOIN exact e ON c.pa = e.pa AND c.pb = e.pb
       |), occ AS (
       |  SELECT bits, MAX(n) AS max_occupancy FROM (
       |    SELECT bits, t, bucket, CAST(COUNT(*) AS BIGINT) AS n
       |    FROM buckets GROUP BY 1, 2, 3) GROUP BY 1
       |), n AS (
       |  SELECT CAST(c.bits AS BIGINT) AS bits,
       |    ${GeomGrade.countsSql("cand", " WHERE bits = c.bits")},
       |    o.max_occupancy
       |  FROM cfg c JOIN occ o USING (bits)
       |)
       |SELECT bits, ${GeomGrade.gradedSql},
       |  max_occupancy
       |FROM n ORDER BY bits""".stripMargin

  /** The PRODUCTION geometry rule graded as an evidence table — the
    * round-11 sweep (embed_geometry_sweep) PRICED the n/2^bits law;
    * this query proves the [[graft.functions.VectorFns.lshBitsFor]]
    * rule that now DRIVES [[embedNeardup]]'s hyperplane count is
    * replayable by an independent engine at off-contract corpus sizes.
    * One row per projected scale factor ([[BitsRuleScales]]): the rule
    * input n·scale, the bits it selects, the buckets-per-table and
    * expected occupancy that follow (expected ≤ LshTargetOcc by
    * construction — the geometry holding the ceiling), plus the
    * MEASURED max occupancy and occupied-bucket count of the REAL
    * corpus hashed at that geometry — occupancy falls as the rule adds
    * bits, read directly. The DuckDB oracle recomputes the min-b scan
    * in SQL (range(4,32) + the same integer inequality) and the
    * parameterized bucket value per config row, so the cross-engine
    * claim covers the rule OFF the 4-bit contract floor (scale ≥ 10
    * moves it) without needing an off-contract corpus.
    *
    * Census is eager ([[embedNeardup]]'s documented discipline); the
    * five geometries rescan one materialized corpus frame.
    */
  val BitsRuleScales = Seq(1L, 10L, 100L, 10000L, 1000000L)

  def embedBitsRule(s: SparkSession, dir: String): DataFrame = {
    val vecs = Materialize.stable(withVec(s, dir))
    val n = vecs.count()
    BitsRuleScales.map { f =>
      val nProj = n * f
      val bits = graft.functions.VectorFns.lshBitsFor(nProj)
      val buckets = vecs.select(col("vec_id"),
        posexplode(expr(sparkLshBucketsParam("v", LshTables, bits))).as(Seq("t", "bucket")))
      buckets.groupBy("t", "bucket").count()
        .agg(max("count").as("max_occupancy"),
          count(lit(1)).as("occupied_buckets"))
        .select(lit(f).as("scale"), lit(nProj).as("n_projected"),
          lit(bits.toLong).as("bits"),
          lit(1L << bits).as("buckets_per_table"),
          lit(nProj / (1L << bits)).as("expected_occupancy"),
          col("max_occupancy"), col("occupied_buckets"))
    }.reduce(_ unionByName _).orderBy("scale")
  }

  val embedBitsRuleSql: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
       |), census AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vecs
       |), cfg AS (
       |  SELECT unnest([${BitsRuleScales.mkString(", ")}]::BIGINT[]) AS scale
       |), rule AS (
       |  SELECT c.scale, census.n * c.scale AS n_projected,
       |    (SELECT MIN(b) FROM range(${graft.functions.VectorFns.LshBits}, ${graft.functions.VectorFns.LshMaxBits + 1}) t(b)
       |     WHERE census.n * c.scale <= ${graft.functions.VectorFns.LshTargetOcc} * (CAST(1 AS BIGINT) << b)) AS bits
       |  FROM cfg c, census
       |), buckets AS (
       |  SELECT r.scale, vec_id, ts.t AS t,
       |    ${duckLshBucketValue("v", "ts.t", "r.bits")} AS bucket
       |  FROM vecs CROSS JOIN rule r
       |  CROSS JOIN (SELECT unnest(range(0, $LshTables)) AS t) ts
       |), occ AS (
       |  SELECT scale, MAX(c) AS max_occupancy, CAST(COUNT(*) AS BIGINT) AS occupied_buckets
       |  FROM (SELECT scale, t, bucket, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM buckets GROUP BY 1, 2, 3)
       |  GROUP BY 1
       |)
       |SELECT r.scale, r.n_projected, CAST(r.bits AS BIGINT) AS bits,
       |  (CAST(1 AS BIGINT) << r.bits) AS buckets_per_table,
       |  r.n_projected // (CAST(1 AS BIGINT) << r.bits) AS expected_occupancy,
       |  o.max_occupancy, o.occupied_buckets
       |FROM rule r JOIN occ o USING (scale)
       |ORDER BY r.scale""".stripMargin

  // ---- k-means convergence audit ------------------------------------------

  /** iterations of the [[embedKmeansConverge]] ladder — small and FIXED
    * so the oracle replays the identical chain.
    */
  val KmeansConvIters = 4

  /** The when-to-stop gate for Lloyd training ([[embedKmeansStep]] run
    * as a ladder — the knn_ivf_drift idiom applied to TRAINING): from
    * the same deterministic seeds, run [[KmeansConvIters]] exact Lloyd
    * iterations and emit one row per iteration with the two numbers a
    * training loop stops on — centroid movement (integer milli L∞ vs
    * the previous iteration's table) and assignment churn (ppm of
    * vectors that changed cluster). Movement/churn falling to ~0 IS
    * convergence; a deployment reads the ladder once per corpus and
    * fixes its iteration budget from it.
    *
    * Portability: the entire ladder is integer milli math (floored
    * means, squared-milli distances, lexicographic (dist, cluster)
    * tie-break), so Spark's partial aggregation and DuckDB's serial
    * replay produce bit-identical tables at every rung. Iteration 1's
    * centroid table equals embed_kmeans_step's output by construction
    * (asserted in OperatorInvariantSpec).
    *
    * Scale shape: the milli grid materializes ONCE ([[Materialize]]
    * discipline) and every iteration is embed_kmeans_step's plan —
    * K×dims centroids BROADCAST onto the map-side grid, K-bounded
    * fanout, argmin via min(struct), ONE (cluster, pos) partial agg.
    * The iterations climb a [[Ladder.lloyd]] ladder, which checkpoints
    * every iteration's state so the logical plan stays FLAT across rungs
    * instead of doubling per round. Movement/churn rows are cluster- and
    * vector-cardinality joins + one-row folds (the q22 broadcast idiom —
    * intended BroadcastNestedLoopJoin).
    */
  def embedKmeansConverge(s: SparkSession, dir: String): DataFrame = {
    val grid = Materialize.stable(Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(expr(sparkToDouble("embedding"))).as(Seq("pos", "x")))
      .withColumn("milli", expr("CAST(floor(x * 1000) AS BIGINT)"))
      .select("vec_id", "pos", "milli"))
    def assignTo(cents: DataFrame): DataFrame =
      grid.join(broadcast(cents), Seq("pos"))
        .withColumn("d", col("milli") - col("c_milli"))
        .groupBy("vec_id", "cluster")
        .agg(sum(expr("d * d")).as("dist_sq"))
        .groupBy("vec_id")
        .agg(min(struct(col("dist_sq"), col("cluster"))).as("best"))
        .select(col("vec_id"), col("best.cluster").as("cluster"))
    def recompute(assign: DataFrame): DataFrame =
      grid.join(assign, Seq("vec_id"))
        .groupBy("cluster", "pos")
        .agg(sum("milli").as("sum_milli"), count(lit(1)).as("n"))
        .select(col("cluster"), col("pos"), expr("sum_milli div n").as("c_milli"))
    val seeds = grid.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("cluster"), col("pos"), col("milli").as("c_milli"))
    Ladder.lloyd(seeds, KmeansConvIters)(recompute, assignTo) { (t, prev, next) =>
      val moved = prev.book.select(col("cluster"), col("pos"), col("c_milli").as("prev"))
        .join(next.book, Seq("cluster", "pos"))
        .agg(countDistinct("cluster").as("n_clusters"),
          max(abs(col("c_milli") - col("prev"))).as("moved_linf_milli"))
      val churn = prev.assign.select(col("vec_id"), col("cluster").as("prev"))
        .join(next.assign, Seq("vec_id"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("cluster") =!= col("prev"), 1L).otherwise(0L)).as("n_churn"))
      moved.crossJoin(broadcast(churn))
        .select(lit(t.toLong).as("iter"), col("n_clusters"), col("moved_linf_milli"),
          col("n_vecs"), col("n_churn"),
          expr("n_churn * 1000000 div n_vecs").as("churn_ppm"))
    }
  }

  val embedKmeansConvergeSql: String = {
    val dim = graft.functions.VectorFns.Dim
    def dists(t: Int, cents: String) =
      s"""d$t AS (
         |  SELECT g.vec_id, c.cluster,
         |    CAST(SUM((g.milli - c.c_milli) * (g.milli - c.c_milli)) AS BIGINT) AS dist_sq
         |  FROM grid g JOIN $cents c USING (pos) GROUP BY 1, 2
         |), a$t AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT vec_id, cluster,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_sq, cluster) AS r
         |    FROM d$t) t WHERE r = 1
         |)""".stripMargin
    val iters = (1 to KmeansConvIters).map { t =>
      s"""cents$t AS (
         |  SELECT a.cluster, g.pos,
         |    CAST(SUM(g.milli) AS BIGINT) // COUNT(*) AS c_milli
         |  FROM grid g JOIN a${t - 1} a USING (vec_id) GROUP BY 1, 2
         |), ${dists(t, s"cents$t")}, row$t AS (
         |  SELECT CAST($t AS BIGINT) AS iter, mv.n_clusters, mv.moved_linf_milli,
         |    ch.n_vecs, ch.n_churn, ch.n_churn * 1000000 // ch.n_vecs AS churn_ppm
         |  FROM (
         |    SELECT CAST(COUNT(DISTINCT n.cluster) AS BIGINT) AS n_clusters,
         |      CAST(MAX(ABS(n.c_milli - p.c_milli)) AS BIGINT) AS moved_linf_milli
         |    FROM cents$t n JOIN cents${t - 1} p ON n.cluster = p.cluster AND n.pos = p.pos) mv
         |  CROSS JOIN (
         |    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |      CAST(SUM(CASE WHEN n.cluster <> p.cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_churn
         |    FROM a$t n JOIN a${t - 1} p USING (vec_id)) ch
         |)""".stripMargin
    }.mkString(", ")
    val unions = (1 to KmeansConvIters).map(t => s"SELECT * FROM row$t").mkString(" UNION ALL ")
    s"""WITH grid AS (
       |  SELECT vec_id, p.pos AS pos,
       |    CAST(floor(list_transform(embedding, x -> x::DOUBLE)[p.pos + 1] * 1000) AS BIGINT) AS milli
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, $dim)) AS pos) p
       |), cents0 AS (
       |  SELECT vec_id AS cluster, pos, milli AS c_milli FROM grid WHERE vec_id < $KmeansK
       |), ${dists(0, "cents0")}, $iters
       |$unions ORDER BY iter""".stripMargin
  }

  // ---- PQ codebook training -----------------------------------------------

  /** milli-quantized per-subspace grid of the NORMALIZED corpus:
    * (vec_id, m, pos, milli) — the integer training substrate shared by
    * [[knnPqTrain]] and its gain gate.
    */
  private def pqMilliGrid(nvecs: DataFrame): DataFrame =
    pqSubvecs(nvecs)
      .select(col("vec_id"), col("m"), posexplode(col("sub")).as(Seq("pos", "x")))
      .withColumn("milli", expr("CAST(floor(x * 1000) AS BIGINT)"))
      .select("vec_id", "m", "pos", "milli")

  /** milli seed codebook: the SAME deterministic rows [[knnPq]] seeds
    * from (vec_id % PqSeedMod == PqSeedOffset, first PqK), per subspace.
    */
  private def pqMilliSeeds(grid: DataFrame): DataFrame =
    grid.filter(pmod(col("vec_id"), lit(PqSeedMod)) === PqSeedOffset &&
        col("vec_id") < PqSeedOffset + PqSeedMod * PqK)
      .select(expr(s"(vec_id - $PqSeedOffset) div $PqSeedMod").as("j"),
        col("m"), col("pos"), col("milli").as("c_milli"))

  /** one per-subspace Lloyd assignment: nearest codeword per
    * (vector, subspace), squared-milli distance, (dist, j) tie-break.
    */
  private def pqAssign(grid: DataFrame, codebook: DataFrame): DataFrame =
    grid.join(broadcast(codebook), Seq("m", "pos"))
      .withColumn("d", col("milli") - col("c_milli"))
      .groupBy("vec_id", "m", "j")
      .agg(sum(expr("d * d")).as("dist_sq"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("dist_sq"), col("j"))).as("best"))

  /** TRAIN the PQ codebook — one exact Lloyd step PER SUBSPACE (the
    * FAISS IVFADC training shape, Jégou et al. §IV: codebooks come from
    * per-subspace k-means, not raw sample rows): every normalized
    * subvector assigns to its nearest seed codeword (squared milli
    * distance), and each (subspace, codeword) recomputes as the integer
    * milli mean of its assignees. Output = the refined codebook table
    * (m, j, pos, n_assigned, c_milli); the [[knnPqTrainGain]] gate
    * prices what the step buys.
    *
    * Scale shape: [[embedKmeansStep]]'s machinery applied M times in
    * ONE plan — the M×K×SubDim seed grid (1k rows) BROADCASTS onto the
    * map-side subvector grid, distance fanout is K-bounded per
    * (vector, subspace), argmin folds via min(struct), and the
    * recompute is ONE (m, j, pos) partial agg. Σ milli per cell is
    * BIGINT-safe (|milli| ≤ 10³ · vectors).
    */
  def knnPqTrain(s: SparkSession, dir: String): DataFrame = {
    val grid = Materialize.stable(pqMilliGrid(pqNormalize(withVec(s, dir))))
    val assign = pqAssign(grid, pqMilliSeeds(grid))
      .select(col("vec_id"), col("m"), col("best.j").as("j"))
    grid.join(assign, Seq("vec_id", "m"))
      .groupBy("m", "j", "pos")
      .agg(count(lit(1)).as("n_assigned"), sum("milli").as("sum_milli"))
      .select(col("m").cast("long").as("m"), col("j"), col("pos").cast("long").as("pos"),
        col("n_assigned"), expr("sum_milli div n_assigned").as("c_milli"))
      .orderBy("m", "j", "pos")
  }

  /** shared oracle prefix: normalized corpus → milli subvector grid →
    * seed codebook → Lloyd assignment → refined codebook.
    */
  private val duckPqTrainWith: String =
    s"""grid AS (
       |  SELECT vec_id, ms.m AS m, p.pos AS pos,
       |    CAST(floor(v[ms.m * $PqSubDim + p.pos + 1] * 1000) AS BIGINT) AS milli
       |  FROM (
       |    SELECT vec_id, list_transform(v, x -> x / nrm) AS v
       |    FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
       |            ${graft.functions.VectorFns.duckNorm("list_transform(embedding, x -> x::DOUBLE)")} AS nrm
       |          FROM embeddings) t0) t1
       |  CROSS JOIN (SELECT unnest(range(0, $PqM)) AS m) ms
       |  CROSS JOIN (SELECT unnest(range(0, $PqSubDim)) AS pos) p
       |), seedbook AS (
       |  SELECT (vec_id - $PqSeedOffset) // $PqSeedMod AS j, m, pos, milli AS c_milli
       |  FROM grid
       |  WHERE vec_id % $PqSeedMod = $PqSeedOffset
       |    AND vec_id < $PqSeedOffset + $PqSeedMod * $PqK
       |), sdist AS (
       |  SELECT g.vec_id, g.m, c.j,
       |    CAST(SUM((g.milli - c.c_milli) * (g.milli - c.c_milli)) AS BIGINT) AS dist_sq
       |  FROM grid g JOIN seedbook c ON g.m = c.m AND g.pos = c.pos
       |  GROUP BY 1, 2, 3
       |), sassign AS (
       |  SELECT vec_id, m, j, dist_sq FROM (
       |    SELECT vec_id, m, j, dist_sq,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist_sq, j) AS r
       |    FROM sdist) t WHERE r = 1
       |), refined AS (
       |  SELECT g.m, a.j, g.pos, CAST(COUNT(*) AS BIGINT) AS n_assigned,
       |    CAST(SUM(g.milli) AS BIGINT) // COUNT(*) AS c_milli
       |  FROM grid g JOIN sassign a ON g.vec_id = a.vec_id AND g.m = a.m
       |  GROUP BY 1, 2, 3
       |)""".stripMargin

  val knnPqTrainSql: String =
    s"""WITH $duckPqTrainWith
       |SELECT m, j, pos, n_assigned, c_milli FROM refined ORDER BY m, j, pos""".stripMargin

  /** The training gate: per-subspace reconstruction SSE (squared milli,
    * each subvector against its NEAREST codeword) under the seed
    * codebook vs the Lloyd-refined one, with the improvement in ppm —
    * the evidence that the train step is worth running (Lloyd
    * monotonically decreases SSE; the floor-quantized means keep the
    * claim oracle-checkable). Audit tier: the exact nearest-codeword
    * scoring is paid TWICE over the corpus by contract.
    *
    * SSE sums accumulate DECIMAL(38,0)/HUGEINT — per-subvector dist²
    * ≤ SubDim·(2·10³)² ≈ 3×10⁷, which crosses 2⁶³ past ~3×10¹¹
    * vectors (the numeric-bounds rule); the ppm quotient divides back
    * to a safe BIGINT.
    */
  def knnPqTrainGain(s: SparkSession, dir: String): DataFrame = {
    val grid = Materialize.stable(pqMilliGrid(pqNormalize(withVec(s, dir))))
    val seeds = pqMilliSeeds(grid)
    val seedAssign = pqAssign(grid, seeds)
      .select(col("vec_id"), col("m"), col("best.j").as("j"), col("best.dist_sq").as("d_seed"))
    val refined = grid.join(seedAssign.select("vec_id", "m", "j"), Seq("vec_id", "m"))
      .groupBy("m", "j", "pos")
      .agg(sum("milli").as("sum_milli"), count(lit(1)).as("n"))
      .select(col("m"), col("j"), col("pos"), expr("sum_milli div n").as("c_milli"))
    val refAssign = pqAssign(grid, refined)
      .select(col("vec_id"), col("m"), col("best.dist_sq").as("d_ref"))
    seedAssign.select("vec_id", "m", "d_seed")
      .join(refAssign, Seq("vec_id", "m"))
      .groupBy(col("m").cast("long").as("m"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("CAST(d_seed AS DECIMAL(38,0))")).as("sse_seed_d"),
        sum(expr("CAST(d_ref AS DECIMAL(38,0))")).as("sse_refined_d"))
      .select(col("m"), col("n_vecs"),
        expr("CAST(sse_seed_d AS BIGINT)").as("sse_seed"),
        expr("CAST(sse_refined_d AS BIGINT)").as("sse_refined"),
        expr("CAST((sse_seed_d - sse_refined_d) * 1000000 div sse_seed_d AS BIGINT)")
          .as("gain_ppm"))
      .orderBy("m")
  }

  val knnPqTrainGainSql: String =
    s"""WITH $duckPqTrainWith, rdist AS (
       |  SELECT g.vec_id, g.m, c.j,
       |    CAST(SUM((g.milli - c.c_milli) * (g.milli - c.c_milli)) AS BIGINT) AS dist_sq
       |  FROM grid g JOIN refined c ON g.m = c.m AND g.pos = c.pos
       |  GROUP BY 1, 2, 3
       |), rassign AS (
       |  SELECT vec_id, m, dist_sq AS d_ref FROM (
       |    SELECT vec_id, m, dist_sq,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist_sq, j) AS r
       |    FROM rdist) t WHERE r = 1
       |)
       |SELECT s.m, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(SUM(CAST(s.dist_sq AS HUGEINT)) AS BIGINT) AS sse_seed,
       |  CAST(SUM(CAST(r.d_ref AS HUGEINT)) AS BIGINT) AS sse_refined,
       |  CAST((SUM(CAST(s.dist_sq AS HUGEINT)) - SUM(CAST(r.d_ref AS HUGEINT))) * 1000000
       |    // SUM(CAST(s.dist_sq AS HUGEINT)) AS BIGINT) AS gain_ppm
       |FROM sassign s JOIN rassign r ON s.vec_id = r.vec_id AND s.m = r.m
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** recompute every (subspace, codeword) as the integer milli mean of
    * its assignees — the Lloyd recompute shared by the training ladder
    * and the codebook-refresh gate. assign = (vec_id, m, j).
    */
  private def pqRefineFromAssign(grid: DataFrame, assign: DataFrame): DataFrame =
    grid.join(assign.select("vec_id", "m", "j"), Seq("vec_id", "m"))
      .groupBy("m", "j", "pos")
      .agg(sum("milli").as("sum_milli"), count(lit(1)).as("n"))
      .select(col("m"), col("j"), col("pos"), expr("sum_milli div n").as("c_milli"))

  /** The PQ training ladder — [[knnPqTrain]] is ONE Lloyd rung; this is
    * [[embedKmeansConverge]]'s when-to-stop idiom applied per subspace
    * (the full FAISS IVFADC codebook training loop, Jégou et al. §IV):
    * from the same deterministic seeds, [[PqTrainIters]] exact Lloyd
    * iterations per subspace, each emitting the numbers a training loop
    * stops on — surviving codeword count, centroid movement (integer
    * milli L∞), assignment churn (ppm of (vector, subspace) codes that
    * changed) and the per-subspace assignment-time SSE. Lloyd's descent
    * makes the SSE column non-increasing per subspace (exact on the
    * real-valued step; the floor-quantized integer means can in
    * principle give back sub-ppm slack near convergence — measured
    * strictly decreasing at every rung here, graded in
    * OperatorInvariantSpec), and rung 1 reproduces [[knnPqTrain]] /
    * [[knnPqTrainGain]] by construction (rung-1 SSE ≡ sse_refined,
    * asserted).
    *
    * Portability: the whole ladder is integer milli math — floored
    * means, squared-milli distances, (dist, j) tie-break — so partial
    * aggregation and the serial oracle replay agree bit-for-bit at
    * every rung; SSE sums accumulate DECIMAL(38,0)/HUGEINT (the
    * [[knnPqTrainGain]] numeric-bounds rule).
    *
    * Scale shape: [[knnPqTrain]]'s plan per rung — the M×K×SubDim
    * codebook (1k rows) BROADCASTS onto the map-side subvector grid,
    * K-bounded fanout, argmin via min(struct), ONE (m, j, pos) partial
    * agg; the grid materializes once ([[Materialize.stable]]) and the
    * rungs climb a [[Ladder.lloyd]] ladder, which checkpoints each rung's
    * codebook and assignment so the plan stays flat. Movement/churn/SSE
    * rows are codebook- and (vector × M)-cardinality folds to an M-row
    * table.
    */
  def knnPqTrainConverge(s: SparkSession, dir: String): DataFrame = {
    val grid = Materialize.stable(pqMilliGrid(pqNormalize(withVec(s, dir))))
    def assignOf(book: DataFrame): DataFrame =
      pqAssign(grid, book).select(col("vec_id"), col("m"),
        col("best.j").as("j"), col("best.dist_sq").as("d"))
    Ladder.lloyd(pqMilliSeeds(grid), PqTrainIters, "m")(
        pqRefineFromAssign(grid, _), assignOf) { (t, prev, next) =>
      val moved = prev.book.select(col("m"), col("j"), col("pos"), col("c_milli").as("prev"))
        .join(next.book, Seq("m", "j", "pos"))
        .groupBy("m")
        .agg(countDistinct("j").as("n_codewords"),
          max(abs(col("c_milli") - col("prev"))).as("moved_linf_milli"))
      val churnSse = prev.assign.select(col("vec_id"), col("m"), col("j").as("pj"))
        .join(next.assign, Seq("vec_id", "m"))
        .groupBy("m")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("j") =!= col("pj"), 1L).otherwise(0L)).as("n_churn"),
          sum(expr("CAST(d AS DECIMAL(38,0))")).as("sse_d"))
      moved.join(churnSse, Seq("m"))
        .select(lit(t.toLong).as("iter"), col("m").cast("long").as("m"),
          col("n_codewords"), col("moved_linf_milli"), col("n_vecs"), col("n_churn"),
          expr("n_churn * 1000000 div n_vecs").as("churn_ppm"),
          expr("CAST(sse_d AS BIGINT)").as("sse"))
    }
  }

  val knnPqTrainConvergeSql: String = {
    def assignCte(t: Int, cb: String) =
      s"""pd$t AS (
         |  SELECT g.vec_id, g.m, c.j,
         |    CAST(SUM((g.milli - c.c_milli) * (g.milli - c.c_milli)) AS BIGINT) AS dist_sq
         |  FROM grid g JOIN $cb c ON g.m = c.m AND g.pos = c.pos
         |  GROUP BY 1, 2, 3
         |), pa$t AS (
         |  SELECT vec_id, m, j, dist_sq FROM (
         |    SELECT vec_id, m, j, dist_sq,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist_sq, j) AS r
         |    FROM pd$t) t WHERE r = 1
         |)""".stripMargin
    val iters = (1 to PqTrainIters).map { t =>
      s"""pcb$t AS (
         |  SELECT g.m, a.j, g.pos,
         |    CAST(SUM(g.milli) AS BIGINT) // COUNT(*) AS c_milli
         |  FROM grid g JOIN pa${t - 1} a ON g.vec_id = a.vec_id AND g.m = a.m
         |  GROUP BY 1, 2, 3
         |), ${assignCte(t, s"pcb$t")}, prow$t AS (
         |  SELECT CAST($t AS BIGINT) AS iter, mv.m, mv.n_codewords, mv.moved_linf_milli,
         |    ch.n_vecs, ch.n_churn, ch.n_churn * 1000000 // ch.n_vecs AS churn_ppm, ch.sse
         |  FROM (
         |    SELECT CAST(n.m AS BIGINT) AS m,
         |      CAST(COUNT(DISTINCT n.j) AS BIGINT) AS n_codewords,
         |      CAST(MAX(ABS(n.c_milli - p.c_milli)) AS BIGINT) AS moved_linf_milli
         |    FROM pcb$t n JOIN pcb${t - 1} p ON n.m = p.m AND n.j = p.j AND n.pos = p.pos
         |    GROUP BY 1) mv
         |  JOIN (
         |    SELECT CAST(n.m AS BIGINT) AS m, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |      CAST(SUM(CASE WHEN n.j <> p.j THEN 1 ELSE 0 END) AS BIGINT) AS n_churn,
         |      CAST(SUM(CAST(n.dist_sq AS HUGEINT)) AS BIGINT) AS sse
         |    FROM pa$t n JOIN pa${t - 1} p ON n.vec_id = p.vec_id AND n.m = p.m
         |    GROUP BY 1) ch ON mv.m = ch.m
         |)""".stripMargin
    }.mkString(", ")
    val unions = (1 to PqTrainIters).map(t => s"SELECT * FROM prow$t").mkString(" UNION ALL ")
    s"""WITH $duckPqTrainWith, pcb0 AS (
       |  SELECT m, j, pos, c_milli FROM seedbook
       |), ${assignCte(0, "pcb0")}, $iters
       |$unions ORDER BY iter, m""".stripMargin
  }

  // ---- persisted ANN index (bucketed layout) -----------------------------

  /** Persist the ANN index corpus-side through the bucketed layout —
    * the knn family's cells and PQ codes rebuild per query in the
    * contract queries (amortized-once by scaladoc); this makes the
    * amortization REAL: one table `(vec_id, cell, v, codes)` bucketed
    * AND sorted by `cell` (probe joins on cell are then EXCHANGE-FREE
    * on the index side — asserted in ScaleOpsSpec; the remaining
    * per-bucket Sort is partition-local CPU, no network — Spark ≥3
    * ignores sortBy file order unless
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` is set,
    * SPARK-24528, and the one-file-per-bucket write below keeps that
    * option sound for deployments that enable it), the
    * refined centroids at `path/cents`, the PQ codebook at
    * `path/codebook`. Build pays the full index once (seed → Lloyd →
    * assign; normalize → subvec → codebook → encode); every probe
    * afterwards reads its buckets in place.
    *
    * dedup_incremental already proves the exchange-free bucketed-index
    * probe for the TEXT fingerprint index; this is the embedding
    * family's twin of that layout.
    */
  def annIndexWrite(vecs: DataFrame, name: String, path: String,
      nBuckets: Int): Unit = {
    val cents = Materialize.stable(refineCents(vecs))
    val assign = Materialize.stable(cellAssign(vecs, cents))
    val nvecs = pqNormalize(vecs)
    val subvecs = pqSubvecs(nvecs)
    val codebook = Materialize.stable(pqCodebook(nvecs, subvecs))
    val codes = pqCodes(subvecs, codebook)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, j))), s -> s.j)").as("codes"))
    cents.write.mode("overwrite").parquet(s"$path/cents")
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    // one writer task per bucket (repartition hash == bucket hash), so
    // every bucket lands in ONE file and the sortBy(cell) layout holds
    // at read time — multiple files per bucket would force the probe
    // join to re-Sort the index side, defeating half the layout
    graft.sources.BucketedSink.writeBucketed(
      assign.join(codes, Seq("vec_id")).repartition(nBuckets, col("cell")),
      name, s"$path/index", "cell", nBuckets)
  }

  /** load the persisted index: (bucketed index table, centroids,
    * codebook).
    */
  def annIndexLoad(s: SparkSession, name: String,
      path: String): (DataFrame, DataFrame, DataFrame) =
    (graft.sources.BucketedSink.table(s, name),
      s.read.parquet(s"$path/cents"),
      s.read.parquet(s"$path/codebook"))

  /** knn_ivf's probe path over the PERSISTED index — bit-identical
    * output to [[knnIvfAt]] on the same corpus (asserted in
    * ScaleOpsSpec), but the corpus side comes from the bucketed table:
    * the cell equi-join plans as a sort-merge join with NO Exchange
    * on the index side (`bucketBy(cell)` — see [[annIndexWrite]] on
    * the residual partition-local sort), so a probe pays shuffling
    * the QUERY probes only. The `merge` hint
    * pins the join shape the layout was built for (a tiny probe side
    * would otherwise broadcast — also index-side-exchange-free, but
    * then the assert would not witness the bucketed path).
    */
  def knnIvfFromIndex(s: SparkSession, name: String, path: String,
      nprobe: Int = Nprobe, k: Int = KnnK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (idx, cents, _) = annIndexLoad(s, name, path)
    val queries = idx.filter(col("vec_id") < QuerySetSize)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val probes = probesOf(queries, cents, nprobe)
    val byQuery = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    probes.hint("merge")
      .join(idx.select(col("vec_id").as("neighbor_id"), col("cell"), col("v")), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", expr(sparkCosine("qv", "v")))
      .withColumn("rank", row_number().over(byQuery).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        expr("floor(cosine * 1000000) / CAST(1000000 AS DOUBLE)").as("cosine"))
      .orderBy("query_id", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_ivf_pq_refresh" -> (knnIvfPqRefresh _),
    "knn_pq_train_converge" -> (knnPqTrainConverge _),
    "embed_kmeans_converge" -> (embedKmeansConverge _),
    "knn_pq_train" -> (knnPqTrain _),
    "knn_pq_train_gain" -> (knnPqTrainGain _),
    "embed_bits_rule" -> (embedBitsRule _),
    "embed_geometry_sweep" -> (embedGeometrySweep _),
    "embed_bitext" -> (embedBitext _),
    "embed_clusters" -> (embedClusters _),
    "knn_ivf_balance" -> (knnIvfBalance _),
    "knn_ivf_drift" -> (knnIvfDrift _),
    "knn_ivf_refresh" -> (knnIvfRefresh _),
    "embed_pca_power" -> (embedPcaPower _),
    "embed_kmeans_step" -> (embedKmeansStep _),
    "knn_silhouette" -> (knnSilhouette _),
    "knn_recall" -> (knnRecall _),
    "embed_dim_stats" -> (embedDimStats _),
    "knn_pq_recall" -> (knnPqRecall _),
    "knn_mrl_recall" -> (knnMrlRecall _),
    "knn_probe_sweep" -> (knnProbeSweep _),
    "knn_hamming_recall" -> (knnHammingRecall _),
    "knn_rerank_gain" -> (knnRerankGain _),
    "embed_outlier" -> (embedOutlier _),
    "knn_classify" -> (knnClassify _),
    "embed_centroid" -> (embedCentroid _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_incremental_semantic" -> (dedupIncrementalSemantic _),
    "knn_pq" -> (knnPq _),
    "knn_ivf_pq" -> (knnIvfPq _),
    "knn_ivf_pq_recall" -> (knnIvfPqRecall _),
    "embed_neardup" -> (embedNeardup _),
    "knn_bruteforce" -> (knnBruteforce _),
    "knn_ivf" -> (knnIvf _),
    "knn_join" -> (knnJoin _),
    "knn_degree" -> (knnDegree _),
    "embed_quantize" -> (embedQuantize _),
    "embed_project" -> (embedProject _))

  val oracles: Map[String, String] = Map(
    "knn_ivf_pq_refresh" -> knnIvfPqRefreshSql,
    "knn_pq_train_converge" -> knnPqTrainConvergeSql,
    "embed_kmeans_converge" -> embedKmeansConvergeSql,
    "knn_pq_train" -> knnPqTrainSql,
    "knn_pq_train_gain" -> knnPqTrainGainSql,
    "embed_bits_rule" -> embedBitsRuleSql,
    "embed_geometry_sweep" -> embedGeometrySweepSql,
    "embed_bitext" -> embedBitextSql,
    "embed_clusters" -> embedClustersSql,
    "knn_ivf_balance" -> knnIvfBalanceSql,
    "knn_ivf_drift" -> knnIvfDriftSql,
    "knn_ivf_refresh" -> knnIvfRefreshSql,
    "embed_pca_power" -> embedPcaPowerSql,
    "embed_kmeans_step" -> embedKmeansStepSql,
    "knn_silhouette" -> knnSilhouetteSql,
    "knn_recall" -> knnRecallSql,
    "embed_dim_stats" -> embedDimStatsSql,
    "knn_pq_recall" -> knnPqRecallSql,
    "knn_mrl_recall" -> knnMrlRecallSql,
    "knn_probe_sweep" -> knnProbeSweepSql,
    "knn_hamming_recall" -> knnHammingRecallSql,
    "knn_rerank_gain" -> knnRerankGainSql,
    "embed_outlier" -> embedOutlierSql,
    "knn_classify" -> knnClassifySql,
    "embed_centroid" -> embedCentroidSql,
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_incremental_semantic" -> dedupIncrementalSemanticSql,
    "knn_pq" -> knnPqSql,
    "knn_ivf_pq" -> knnIvfPqSql,
    "knn_ivf_pq_recall" -> knnIvfPqRecallSql,
    "embed_neardup" -> embedNeardupSql,
    "knn_bruteforce" -> knnBruteforceSql,
    "knn_ivf" -> knnIvfSql,
    "knn_join" -> knnJoinSql,
    "knn_degree" -> knnDegreeSql,
    "embed_quantize" -> embedQuantizeSql,
    "embed_project" -> embedProjectSql)
}
