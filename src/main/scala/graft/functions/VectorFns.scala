package graft.functions

/** Vector math over `array<float>` embedding columns, as paired Spark /
  * DuckDB expressions (same strict left-to-right double fold on both
  * sides ⇒ bit-identical IEEE results, so the oracle can reproduce
  * cosine scores exactly).
  *
  * Spark side is pure HOFs (`zip_with` + `aggregate`), no UDF; a dot
  * product never leaves the row, so similarity scans are map-side until
  * the top-k / bucket join. The HOFs do not codegen: in Spark 4.1.2
  * `ArrayAggregate`, `ZipWith` and `ArrayTransform` are
  * `CodegenFallback`, so `sparkDot`/`sparkSqDist`/`sparkNorm`/
  * `sparkToDouble` evaluate every element through an interpreted
  * `eval` (the `graft_*` kernels in [[graft.expressions]] are the
  * compiled spelling).
  */
object VectorFns {

  /** cast array<float> → array<double> (exact widening). */
  def sparkToDouble(v: String): String = s"transform($v, x -> CAST(x AS DOUBLE))"

  /** strict sequential dot product of two array<double> exprs. */
  def sparkDot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a) + 1), i -> ($a)[i]::DOUBLE * ($b)[i]::DOUBLE)), (acc, v) -> acc + v)"

  def sparkNorm(a: String): String = s"sqrt(${sparkDot(a, a)})"
  def duckNorm(a: String): String = s"sqrt(${duckDot(a, a)})"

  /** strict sequential squared L2 distance of two array<double> exprs. */
  def sparkSqDist(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  def duckSqDist(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a) + 1), " +
      s"i -> (($a)[i]::DOUBLE - ($b)[i]::DOUBLE) * (($a)[i]::DOUBLE - ($b)[i]::DOUBLE))), (acc, v) -> acc + v)"

  /** cosine similarity (callers pre-compute norms where possible). */
  def sparkCosine(a: String, b: String): String = s"graft_cosine($a, $b)"

  /** the HOF twin of graft_cosine (kept for the equivalence spec). */
  def sparkCosineHof(a: String, b: String): String =
    s"${sparkDot(a, b)} / (${sparkNorm(a)} * ${sparkNorm(b)})"

  def duckCosine(a: String, b: String): String =
    s"${duckDot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)})"

  // ---- random-hyperplane LSH (sign sketches) ----------------------------
  // Hyperplane coefficient c(idx, j) ∈ [-1, 1]: portable integer PRN
  // (idx·64+j)·2654435761 mod P mod 2001, shifted/scaled. T tables of
  // `bits` planes each; a vector's bucket in table t packs the dot-product
  // signs. Near-dup recall comes from T independent tables, precision
  // from exact cosine verification on candidates.

  val LshTables = 16
  val LshBits = 4
  val Dim = 64

  /** Census-driven hyperplane-count rule — the n/2^bits occupancy law
    * (embed_geometry_sweep; SCALE.md round-11 geometry law) turned into
    * a production dial: the smallest `bits ≥ LshBits` that holds the
    * EXPECTED per-table bucket occupancy n/2^bits at or under
    * [[LshTargetOcc]], so candidate volume is bounded by geometry at
    * every corpus size instead of by the `bucketCap` backstop.
    *
    * Portable + floor-quantized (the `centroidModFor` isqrt idiom):
    * pure integer arithmetic, replayed bit-identically by the DuckDB
    * oracle (embed_bits_rule computes the same min-b scan in SQL). The
    * target is the largest power of two keeping every contract scale on
    * the contract 4-bit geometry (n ≤ 4096 → bits = 4 — testdata peaks
    * at 2000 vectors), so all existing oracle frames are unchanged; the
    * curve bends exactly where the sweep priced it (n = 2·10⁴ → 7 bits,
    * 2·10⁹ → 23 bits — occupancy ≤ 256 throughout).
    */
  val LshTargetOcc = 256L
  val LshMaxBits = 31

  def lshBitsFor(n: Long): Int = {
    var b = LshBits
    while (b < LshMaxBits && n > LshTargetOcc * (1L << b)) b += 1
    b
  }

  private[graft] def planeCoef(idx: String, j: String): String =
    s"(CAST((($idx) * 64 + $j) * 2654435761 % 2147483647 % 2001 - 1000 AS DOUBLE) / 1000.0)"

  /** per-table bucket ids for vector expr `v` (array<double>, len 64) →
    * array of LshTables bucket longs.
    */
  def sparkLshBuckets(v: String): String = s"graft_lsh_buckets($v)"

  /** the HOF twin of graft_lsh_buckets (kept for the equivalence spec). */
  def sparkLshBucketsHof(v: String): String =
    s"""transform(sequence(0, ${LshTables - 1}), t ->
       |  aggregate(sequence(0, ${LshBits - 1}), 0L, (acc, p) ->
       |    acc + CASE WHEN aggregate(sequence(0, ${Dim - 1}), CAST(0 AS DOUBLE), (s, j) ->
       |      s + element_at($v, j + 1) * ${planeCoef(s"t * $LshBits + p", "j")}) > 0
       |    THEN shiftleft(1L, p) ELSE 0L END))""".stripMargin.replaceAll("\\s+", " ")

  /** parameterized-geometry buckets: `tables` sign-sketch tables of
    * `bits` planes each, same portable plane-coefficient PRN (index
    * stream t·bits+p — so tables=16/bits=4 reproduces the contract
    * buckets bit-for-bit). The geometry DIAL: expected bucket occupancy
    * is n / 2^bits per table, so bits must grow ~log₂(n) to hold
    * candidate volume — embed_geometry_sweep is the gate that prices
    * this (SCALE.md round-11 geometry law). Compiled kernel since
    * round 16 ([[sparkLshBucketsParamHof]] is the interpreted spec it
    * must match, asserted in KernelSpec at on- and off-floor
    * geometries).
    */
  def sparkLshBucketsParam(v: String, tables: Int, bits: Int): String =
    s"graft_lsh_buckets_param($v, $tables, $bits)"

  /** the HOF twin of graft_lsh_buckets_param (kept for the equivalence
    * spec).
    */
  def sparkLshBucketsParamHof(v: String, tables: Int, bits: Int): String =
    s"""transform(sequence(0, ${tables - 1}), t ->
       |  aggregate(sequence(0, ${bits - 1}), 0L, (acc, p) ->
       |    acc + CASE WHEN aggregate(sequence(0, ${Dim - 1}), CAST(0 AS DOUBLE), (s, j) ->
       |      s + element_at($v, j + 1) * ${planeCoef(s"t * $bits + p", "j")}) > 0
       |    THEN shiftleft(1L, p) ELSE 0L END))""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB bucket value for ONE (table, geometry) — `t` and `bits` are
    * SQL expressions (column references allowed), so an oracle can cross
    * join a config relation and compute every geometry in one pass.
    */
  def duckLshBucketValue(v: String, t: String, bits: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, $bits)), (acc, p) ->
       |  acc + CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, $Dim), j ->
       |    ($v)[j + 1]::DOUBLE * ${planeCoef(s"(($t) * ($bits) + p)", "j")})), (s, x) -> s + x) > 0
       |  THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)""".stripMargin.replaceAll("\\s+", " ")

  // ---- random projection (Johnson–Lindenstrauss dim reduction) ----------
  // Project Dim=64 → ProjDim=16 with coefficients from the same portable
  // PRN family as the LSH planes but a DISJOINT index stream (offset by
  // LshTables·LshBits = 64 plane slots), so the projection is
  // uncorrelated with the LSH sketches. Strict left-to-right double
  // fold on both engines ⇒ bit-equal projected components.

  val ProjDim = 16

  def sparkProject(v: String): String = s"graft_project($v)"

  /** the HOF twin of graft_project (kept for the equivalence spec). */
  def sparkProjectHof(v: String): String =
    s"""transform(sequence(0, ${ProjDim - 1}), j ->
       |  aggregate(sequence(0, ${Dim - 1}), CAST(0 AS DOUBLE), (s, i) ->
       |    s + element_at($v, i + 1) * ${planeCoef(s"j + ${LshTables * LshBits}", "i")}))"""
      .stripMargin.replaceAll("\\s+", " ")

  def duckProject(v: String): String =
    s"""list_transform(range(0, $ProjDim), j ->
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, $Dim), i ->
       |    ($v)[i + 1]::DOUBLE * ${planeCoef(s"j + ${LshTables * LshBits}", "i")})), (s, x) -> s + x))"""
      .stripMargin.replaceAll("\\s+", " ")

  def duckLshBuckets(v: String): String =
    s"""list_transform(range(0, $LshTables), t ->
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, $LshBits)), (acc, p) ->
       |    acc + CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, $Dim), j ->
       |      ($v)[j + 1]::DOUBLE * ${planeCoef(s"t * $LshBits + p", "j")})), (s, x) -> s + x) > 0
       |    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END))""".stripMargin.replaceAll("\\s+", " ")
}
