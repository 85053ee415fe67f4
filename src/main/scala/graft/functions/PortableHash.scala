package graft.functions

/** Portable integer hashing: every hash the engine uses is plain
  * poly-arithmetic mod P = 2³¹-1, expressed twice — once as a Spark SQL
  * expression (HOFs: aggregate/transform/filter, all codegen-friendly,
  * no UDFs) and once as the equivalent DuckDB expression for the oracle.
  * Same integers on both sides, bit-exact (SURVEY §5: results must be
  * engine-independent, the property the reference gets from etags).
  *
  * Spark-side evaluation is map-side only: signatures (minhash, simhash
  * bands, fingerprints) are computed inside the scan's projection — at
  * 100 TB nothing here shuffles; only the LSH bucket joins that consume
  * these signatures do.
  */
object PortableHash {
  val P = 2147483647L // 2^31 - 1 (Mersenne)

  /** floor to 6 decimals, one spelling for Spark and DuckDB SQL: floor,
    * not round(), so both engines land on bit-identical doubles.
    */
  private[graft] def q6(e: String): String = s"floor(($e) * 1000000) / CAST(1000000 AS DOUBLE)"

  /** a_i, b_i for the i-th universal hash h_i(x) = (a_i·x + b_i) mod P.
    * Products stay < 2⁶³: a_i < 2²⁶, x < 2³¹.
    */
  def aCoef(i: String) = s"(1 + ($i) * 604297)"
  def bCoef(i: String) = s"(($i) * 8191 + 12289)"

  // ---- word hash: poly-31 over character codes --------------------------

  def sparkWordHash(w: String): String = s"graft_polyhash($w)"

  /** the HOF twin of graft_polyhash (kept for the equivalence spec). */
  def sparkWordHashHof(w: String): String =
    s"aggregate(filter(split($w, ''), c -> c <> ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % $P)"

  def duckWordHash(w: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($w, ''), c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * 31 + c) % $P)"

  // ---- word-array → 3-gram shingle strings ------------------------------

  def sparkShingles(words: String): String =
    s"CASE WHEN size($words) < 3 THEN array() ELSE transform(sequence(1, size($words) - 2), i -> concat(element_at($words, i), ' ', element_at($words, i + 1), ' ', element_at($words, i + 2))) END"

  def duckShingles(words: String): String =
    s"list_transform(range(1, len($words) - 1), i -> ($words)[i] || ' ' || ($words)[i + 1] || ' ' || ($words)[i + 2])"

  /** distinct 3-gram shingle hashes of a text column (the near-dup
    * feature set used by minhash / simhash / ngram-jaccard).
    */
  def sparkShingleHashes(text: String): String = s"graft_shingle_hashes($text)"

  /** the HOF twin of graft_shingle_hashes (kept for the equivalence
    * spec; element ORDER may differ — consumers are order-free sets).
    */
  def sparkShingleHashesHof(text: String): String = {
    val sh = sparkShingles(s"filter(split($text, ' '), w -> w <> '')")
    s"array_distinct(transform($sh, s -> ${sparkWordHash("s")}))"
  }

  def duckShingleHashes(text: String): String = {
    val sh = duckShingles(s"list_filter(string_split($text, ' '), w -> w <> '')")
    s"list_distinct(list_transform($sh, s -> ${duckWordHash("s")}))"
  }

  // ---- minhash signature (k independent permutation mins) ---------------

  val MinhashK = 12
  val MinhashBands = 4 // × 3 rows per band

  def sparkMinhash(hashes: String): String = s"graft_minhash($hashes)"

  /** the HOF twin of graft_minhash (kept for the equivalence spec). */
  def sparkMinhashHof(hashes: String): String =
    s"transform(sequence(0, ${MinhashK - 1}), i -> aggregate($hashes, ${P}L, (m, h) -> least(m, (${aCoef("i")} * h + ${bCoef("i")}) % $P)))"

  def duckMinhash(hashes: String): String =
    s"list_transform(range(0, $MinhashK), i -> list_reduce(list_prepend(CAST($P AS BIGINT), $hashes), (m, h) -> least(m, (${aCoef("i")} * h + ${bCoef("i")}) % $P)))"

  /** poly-combine one 3-row band of a minhash signature into a bucket id
    * (`sig` is the signature array expr, `b` the 0-based band expr).
    */
  def sparkBandValue(sig: String, b: String): String =
    s"((element_at($sig, ($b) * 3 + 1) * 31 + element_at($sig, ($b) * 3 + 2)) % $P * 31 + element_at($sig, ($b) * 3 + 3)) % $P"

  def duckBandValue(sig: String, b: String): String =
    s"((($sig)[($b) * 3 + 1] * 31 + ($sig)[($b) * 3 + 2]) % $P * 31 + ($sig)[($b) * 3 + 3]) % $P"

  // ---- simhash: 64 bits as 4 × 16-bit bands -----------------------------
  // bit i = majority vote over feature hashes of pseudo-random bit
  // parity((a_i·h + b_i) mod P). 4 bands ⇒ hamming ≤ 3 pairs must share
  // at least one exact band (pigeonhole) — the LSH join key.

  val SimhashBands = 4
  val SimhashBandBits = 16

  def sparkSimhashBands(hashes: String): String = s"graft_simhash_bands($hashes)"

  /** the HOF twin of graft_simhash_bands (kept for the equivalence spec). */
  def sparkSimhashBandsHof(hashes: String): String =
    s"""transform(sequence(0, ${SimhashBands - 1}), b ->
       |  aggregate(sequence(0, ${SimhashBandBits - 1}), 0L, (acc, j) ->
       |    acc + CASE WHEN aggregate($hashes, 0L, (v, h) ->
       |      v + (${aCoef(s"b * $SimhashBandBits + j")} * h + ${bCoef(s"b * $SimhashBandBits + j")}) % $P % 2 * 2 - 1) > 0
       |    THEN shiftleft(1L, j) ELSE 0L END))""".stripMargin.replaceAll("\\s+", " ")

  def duckSimhashBands(hashes: String): String =
    s"""list_transform(range(0, $SimhashBands), b ->
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, $SimhashBandBits)), (acc, j) ->
       |    acc + CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), $hashes), (v, h) ->
       |      v + (${aCoef(s"b * $SimhashBandBits + j")} * h + ${bCoef(s"b * $SimhashBandBits + j")}) % $P % 2 * 2 - 1) > 0
       |    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END))""".stripMargin.replaceAll("\\s+", " ")

  // ---- rolling document fingerprint over word hashes --------------------

  def sparkFingerprint(text: String): String =
    s"aggregate(transform(filter(split($text, ' '), w -> w <> ''), w -> ${sparkWordHash("w")}), 0L, (acc, h) -> (acc * 1000003 + h) % $P)"

  def duckFingerprint(text: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_filter(string_split($text, ' '), w -> w <> ''), w -> ${duckWordHash("w")})), (acc, h) -> (acc * 1000003 + h) % $P)"
}
