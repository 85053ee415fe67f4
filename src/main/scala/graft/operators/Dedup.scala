package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash._
import graft.sources.Tables

/** Deduplication family (LLM-pipeline surface, SURVEY §2): exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection over the
  * documents table.
  *
  * 100 TB shape shared by all four: signatures are computed map-side in
  * the scan projection (HOFs, no UDFs); the only shuffles are (a) one
  * hash-partition on the signature/band key, and (b) candidate
  * verification joins that are bounded by bucket — NEVER all-pairs.
  */
object Dedup {

  /** The corpus has no byte-exact duplicates, so exact dedup runs on the
    * corpus UNION a deterministic re-ingestion of every doc_id%10==3 doc
    * under a shifted id (the "same file landed twice" case).
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val copies = d.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    d.union(copies)
      .withColumn("fp", expr(sparkFingerprint("text")))
      .groupBy("fp")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("rep_id", "n_copies", "fp")
      .orderBy("rep_id")
  }

  val dedupExactSql: String =
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 3
       |), fps AS (
       |  SELECT doc_id, ${duckFingerprint("text")} AS fp FROM all_docs
       |)
       |SELECT min(doc_id) AS rep_id, COUNT(*) AS n_copies, fp
       |FROM fps GROUP BY fp HAVING COUNT(*) > 1 ORDER BY rep_id""".stripMargin

  /** prefix fingerprint window (words) — long enough that unrelated
    * docs don't collide, short enough that appended-tail edits leave
    * it unchanged.
    */
  val PrefixWords = 24

  /** Prefix-fingerprint dedup: group docs whose first [[PrefixWords]]
    * words fingerprint identically — the crawl-dedup production rule
    * for the "same article, republished with an appended correction /
    * footer / comment section" case, which byte-exact dedup provably
    * misses (the tail differs) and near-dup LSH may miss when the
    * appended tail is large. The corpus has no natural prefix dups, so
    * (dedup_exact's convention) it runs on the corpus UNION a
    * deterministic re-ingestion of every doc_id%10==4 doc with a
    * trailing edit under a shifted id.
    *
    * Scale shape: the prefix fingerprint is map-side codegen column
    * math on a BOUNDED slice of each doc (the first ~[[PrefixWords]]
    * words — the full text never feeds the hash, so cost per row is
    * O(prefix), not O(doc)); the only shuffle is ONE hash-partition on
    * the 64-bit fingerprint; output is group-sized.
    */
  def dedupPrefix(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val copies = d.filter(pmod(col("doc_id"), lit(10)) === 4)
      .select(plantId(col("doc_id"), 200000L).as("doc_id"),
        concat(col("text"), lit(" editor note appended after republish")).as("text"))
    d.union(copies)
      .withColumn("p", expr(
        s"array_join(slice(filter(split(text, ' '), w -> w <> ''), 1, $PrefixWords), ' ')"))
      .withColumn("prefix_fp", expr(sparkFingerprint("p")))
      .groupBy("prefix_fp")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select("rep_id", "n_docs", "prefix_fp")
      .orderBy("rep_id")
  }

  val dedupPrefixSql: String =
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 200000, text || ' editor note appended after republish'
       |  FROM documents WHERE doc_id % 10 = 4
       |), pref AS (
       |  SELECT doc_id, array_to_string(
       |    list_slice(list_filter(string_split(text, ' '), w -> w <> ''), 1, $PrefixWords),
       |    ' ') AS p
       |  FROM all_docs
       |), fps AS (
       |  SELECT doc_id, ${duckFingerprint("p")} AS prefix_fp FROM pref
       |)
       |SELECT min(doc_id) AS rep_id, COUNT(*) AS n_docs, prefix_fp
       |FROM fps GROUP BY prefix_fp HAVING COUNT(*) > 1 ORDER BY rep_id""".stripMargin

  /** Distinct shingle sets of a (doc_id, text) frame as (doc_id, sh,
    * n_sh), materialized: the input of every exact Jaccard and
    * containment verdict.
    */
  private def shingleSets(docs: DataFrame): DataFrame =
    Materialize.stable(docs
      .select(col("doc_id"),
        expr(s"array_distinct(${sparkShingleHashes("text")})").as("sh"))
      .withColumn("n_sh", expr("CAST(size(sh) AS BIGINT)")))

  /** [[shingleSets]] as the DuckDB CTE `sets` over the (doc_id, text)
    * relation `from`.
    */
  private def shingleSetsSql(from: String): String =
    s"""sets AS (
       |  SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n_sh FROM (
       |    SELECT doc_id, list_distinct(${duckShingleHashes("text")}) AS sh FROM $from)
       |)""".stripMargin

  /** The exact side of the shingle gates: every pair that shares at
    * least one shingle, as (doc_a, doc_b, i = |A∩B|, na = |A|,
    * nb = |B|). The inverted-index self-join on the shingle hash
    * enumerates exactly the pairs with a nonzero overlap, so any
    * Jaccard or containment threshold above zero is decided completely,
    * with no all-pairs product. Its cost is Σ df² over distinct
    * shingles, the documented audit-path price: run it on a slice.
    */
  private def shingleOverlap(docs: DataFrame): DataFrame = {
    val sets = shingleSets(docs)
    val ex = sets.select(col("doc_id"), explode(col("sh")).as("h"))
    ex.as("x").join(ex.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
      .join(sets.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
  }

  /** [[shingleOverlap]] as the DuckDB CTEs `sets` and
    * `overlap` (doc_a, doc_b, i, na, nb) over the relation `from`.
    */
  private def shingleOverlapSql(from: String): String =
    s"""${shingleSetsSql(from)}, ex AS (
       |  SELECT doc_id, unnest(sh) AS h FROM sets
       |), inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS i
       |  FROM ex x JOIN ex y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |), overlap AS (
       |  SELECT doc_a, doc_b, i, sa.n_sh AS na, sb.n_sh AS nb
       |  FROM inter
       |  JOIN sets sa ON inter.doc_a = sa.doc_id
       |  JOIN sets sb ON inter.doc_b = sb.doc_id
       |)""".stripMargin

  /** LSH recall by document length: the recall gate
    * ([[minhashRecallFor]]) disaggregated into log2 shingle-count
    * buckets of each pair's SHORTER side — the bias audit that tells
    * you WHO the near-dup pass misses. MinHash variance scales with
    * 1/|shingle set|, so short docs are where the S-curve gamble
    * fails first; a pipeline that reads only the corpus-wide recall
    * number ships a dedup that silently under-cleans tweets while
    * over-trusting its gate on long-form text.
    *
    * Scale: same audit-path contract as the recall gate (the exact
    * side's Σ df² price, run on a slice); the bucket key is integer
    * length(bin(n))−1 on the already-computed set sizes — zero extra
    * passes, one ≤~14-row rollup.
    */
  def dedupLenBias(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val exact = shingleOverlap(docs)
      .filter(expr("3 * i >= na + nb"))
      .withColumn("bucket", expr("CAST(length(bin(least(na, nb))) - 1 AS BIGINT)"))
      .select("doc_a", "doc_b", "bucket")
    val det = minhashPairs(docs).select("doc_a", "doc_b")
    LenBiasGrade.sweep(exact, det, Seq("doc_a", "doc_b"), by = Seq("bucket"))
      .filter(col("bucket").isNotNull)
      .select(col("bucket"), col("n_exact"), col("n_hits"), LenBiasGrade.recall)
      .orderBy("bucket")
  }

  private val LenBiasGrade = Grade.Pairs("n_exact", "n_detected")

  // lazy: interpolates dedupMinhashSql, declared later in this object —
  // a strict val here would capture null (Scala init order), which
  // silently corrupts the oracle into unparseable SQL.
  lazy val dedupLenBiasSql: String =
    s"""WITH ${shingleOverlapSql("documents")}, exact AS (
       |  SELECT doc_a, doc_b, CAST(length(bin(least(na, nb))) - 1 AS BIGINT) AS bucket
       |  FROM overlap WHERE 3 * i >= na + nb
       |), det AS (
       |  SELECT doc_a, doc_b FROM ($dedupMinhashSql) d
       |), hits AS (
       |  SELECT e.bucket FROM exact e JOIN det USING (doc_a, doc_b)
       |), eb AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact GROUP BY 1
       |), hb AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits GROUP BY 1
       |)
       |SELECT eb.bucket, eb.n_exact, COALESCE(hb.n_hits, 0) AS n_hits,
       |  COALESCE(hb.n_hits, 0) * 1000000 // eb.n_exact AS recall_ppm
       |FROM eb LEFT JOIN hb ON eb.bucket = hb.bucket ORDER BY 1""".stripMargin

  /** Shifted-id namespace for the containment plant (distinct from
    * dedup_prefix's 200000 and the modality dedups' copy shift).
    */
  val ContainmentShift = 300000L

  /** Fail-loud plant-id shift: planted ids live at base+shift WITHIN
    * each 10⁷ replication block (ScaleSmoke's offset) — a corpus whose
    * per-block ids reach the shift would silently alias planted copies
    * onto genuine ids in BOTH engines (parity hides it). Same guard
    * Audio.offsetCopies / Video.cornerSwappedCopies apply row-wise;
    * here it is a codegen'd CASE that raises instead of corrupting.
    */
  def plantId(id: org.apache.spark.sql.Column, shift: Long): org.apache.spark.sql.Column =
    when(pmod(id, lit(10000000L)) >= lit(shift),
      raise_error(format_string(
        s"plant-id collision: id %d mod 1e7 reaches the +$shift shift", id)))
      .otherwise(id + lit(shift))

  /** Minimum distinct-shingle count of the SMALLER side for a
    * containment verdict. Tiny docs are trivially ≥90%-contained in
    * any long doc sharing their (common-word) shingles — without a
    * floor every short boilerplate line pairs with half the corpus,
    * which is both semantically empty and the pair-explosion shape at
    * scale (output would grow as |tiny docs|·|long docs|). ~26 words.
    */
  val MinContainSetSize = 24L

  /** The containment verdict over (i, na, nb), spelled identically in
    * Spark SQL and DuckDB: the smaller set is ≥ 90% contained in the
    * larger, symmetric Jaccard is < 0.5, and the smaller set clears the
    * [[MinContainSetSize]] floor. Integer cross-multiplication, no
    * floats.
    */
  val ContainedPredicate: String = s"least(na, nb) >= $MinContainSetSize" +
    " AND 10 * i >= 9 * least(na, nb) AND 3 * i < na + nb"

  /** The containment plant of the documents table `base` (doc_id,
    * text): every doc_id%10==6 doc re-ingested under `shift` as column
    * `id`, concatenated with its two successor docs, so the original is
    * fully contained in the composite at J ≈ 1/3.
    */
  private def containmentPlant(base: DataFrame, shift: Long = ContainmentShift,
      id: String = "doc_id"): DataFrame =
    base.filter(pmod(col("doc_id"), lit(10)) === 6)
      .join(base.select(col("doc_id").as("id1"), col("text").as("t1")),
        col("id1") === col("doc_id") + 1)
      .join(base.select(col("doc_id").as("id2"), col("text").as("t2")),
        col("id2") === col("doc_id") + 2)
      .select(plantId(col("doc_id"), shift).as(id),
        concat_ws(" ", col("text"), col("t1"), col("t2")).as("text"))

  private def containmentPlantSql(shift: Long = ContainmentShift, id: String = "doc_id"): String =
    s"""SELECT a.doc_id + $shift AS $id,
       |    a.text || ' ' || b.text || ' ' || c.text AS text
       |  FROM documents a
       |  JOIN documents b ON b.doc_id = a.doc_id + 1
       |  JOIN documents c ON c.doc_id = a.doc_id + 2
       |  WHERE a.doc_id % 10 = 6""".stripMargin

  /** The documents table plus its [[containmentPlant]]: the corpus
    * every containment key runs on.
    */
  private def containmentCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    base.union(containmentPlant(base))
  }

  /** [[containmentCorpus]] as the DuckDB CTE `all_docs`. */
  private def containmentCorpusSql: String =
    s"""all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL ${containmentPlantSql()}
       |)""".stripMargin

  /** Containment dedup: pairs where the SMALLER shingle set is ≥ 90%
    * contained in the larger one while symmetric Jaccard is < 0.5 —
    * exactly the duplication that every Jaccard-thresholded pass
    * (dedup_minhash / dedup_simhash / dedup_ngram) provably misses.
    * This is the "article republished inside a longer digest" / "doc
    * quoted wholesale in an aggregator page" crawl case: containment
    * C = |A∩B| / min(|A|,|B|) ≈ 1 but J = |A∩B| / |A∪B| ≈ |A|/|B|,
    * which a J ≥ 0.5 rule never fires on once the host is > 2× the
    * embedded doc. Planted pairs: every doc_id%10==6 doc re-ingested
    * (shift [[ContainmentShift]]) concatenated with its two successor
    * docs — the original is fully contained (its shingles are a prefix
    * slice of the composite) at J ≈ 1/3.
    *
    * Scale shape: same audit-path contract as the recall gate — the
    * exact pair enumeration is the shared-shingle inverted index
    * (Σ df² postings join), priced as run-on-a-slice; the containment
    * and Jaccard predicates are integer cross-multiplications on the
    * already-computed (i, na, nb) triple (no floats); output is
    * pair-bounded by the ≥90% containment filter PLUS the
    * [[MinContainSetSize]] floor on the smaller side — without the
    * floor, tiny common-word docs are trivially contained in half the
    * corpus and the output goes |tiny|·|long|. The production
    * scale path reuses the LSH band infrastructure with the signature
    * of the SHORTER side only (containment LSH); this operator is the
    * gate that measures what that path must catch.
    */
  /** containment pairs over ANY (doc_id, text) frame — the library
    * entry point behind dedup_containment (audit-path Σ df² contract).
    */
  def containmentPairsFor(docs: DataFrame): DataFrame =
    shingleOverlap(docs)
      .filter(expr(ContainedPredicate))
      .withColumn("containment_ppm", expr("i * 1000000 div least(na, nb)"))
      .select("doc_a", "doc_b", "na", "nb", "i", "containment_ppm")

  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    containmentPairsFor(containmentCorpus(s, dir)).orderBy("doc_a", "doc_b")

  val dedupContainmentSql: String =
    s"""WITH $containmentCorpusSql, ${shingleOverlapSql("all_docs")}
       |SELECT doc_a, doc_b, na, nb, i, i * 1000000 // least(na, nb) AS containment_ppm
       |FROM overlap WHERE $ContainedPredicate
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Window width (words) of a containment fingerprint and the Manber
    * mod-[[PrintMod]] selection divisor: a position's 8-word rolling
    * hash is KEPT iff hash % 3 == 0 — selection depends only on window
    * CONTENT, so a doc republished inside a longer host selects the
    * same prints regardless of its offset in the host (the property a
    * stride-aligned span grid lacks, and the reason dedup_spans can
    * miss middle-embedded copies).
    */
  val PrintWindow = 8
  val PrintMod = 3

  /** content-defined containment fingerprints of a text column:
    * positional [[PrintWindow]]-word rolling hashes (stride 1, the
    * FULL word sequence — positional, unlike the distinct shingle
    * SETS), Manber-selected at density 1/[[PrintMod]]. Pure map-side
    * HOF arithmetic.
    */
  def sparkContainmentPrints(text: String): String = {
    val wh = s"transform(filter(split($text, ' '), w -> w <> ''), w -> ${sparkWordHash("w")})"
    s"""CASE WHEN size($wh) < $PrintWindow THEN array()
       | ELSE array_distinct(filter(
       |   transform(sequence(1, size($wh) - ${PrintWindow - 1}),
       |     i -> aggregate(slice($wh, i, $PrintWindow), 0L, (acc, h) -> (acc * 1000003 + h) % $P)),
       |   h -> h % $PrintMod = 0)) END""".stripMargin.replaceAll("\\s+", " ")
  }

  def duckContainmentPrints(text: String): String = {
    val wh = s"list_transform(list_filter(string_split($text, ' '), w -> w <> ''), w -> ${duckWordHash("w")})"
    s"""CASE WHEN len($wh) < $PrintWindow THEN []
       | ELSE list_distinct(list_filter(
       |   list_transform(range(1, len($wh) - ${PrintWindow - 2}),
       |     i -> list_reduce(list_prepend(CAST(0 AS BIGINT), ($wh)[i:i+${PrintWindow - 1}]), (acc, h) -> (acc * 1000003 + h) % $P)),
       |   h -> h % $PrintMod = 0)) END""".stripMargin.replaceAll("\\s+", " ")
  }

  /** Winnowing window (in rolling hashes): each length-[[WinnowWindow]]
    * window of consecutive [[PrintWindow]]-word rolling hashes selects
    * its MINIMUM hash. W=5 matches Manber mod-3's expected 1/3 density
    * (winnowing's is 2/(W+1)), so the two schemes' candidate volumes
    * compare like-for-like; what W buys is the HARD guarantee Manber
    * lacks: ANY shared verbatim run of ≥ PrintWindow+W−1 = 12 words
    * shares ≥ 1 selected print (Schleimer/Wilkerson/Aiken's winnowing
    * theorem), vs Manber's (1−1/3)^(L−7) per-pair miss probability.
    */
  val WinnowWindow = 5

  /** winnowing-selected containment fingerprints: same positional
    * rolling hashes as [[sparkContainmentPrints]], selection = min per
    * W-window instead of hash ≡ 0 mod p. Content-defined (a window
    * minimum depends only on the W+w−1 words under it), hence
    * offset-invariant exactly like Manber selection. Docs shorter than
    * one full winnow window still select their global minimum, so every
    * ≥ [[PrintWindow]]-word doc fingerprints.
    */
  def sparkWinnowPrints(text: String): String = {
    val wh = s"transform(filter(split($text, ' '), w -> w <> ''), w -> ${sparkWordHash("w")})"
    val rhs = s"transform(sequence(1, size($wh) - ${PrintWindow - 1}), i -> aggregate(slice($wh, i, $PrintWindow), 0L, (acc, h) -> (acc * 1000003 + h) % $P))"
    s"""CASE WHEN size($wh) < $PrintWindow THEN array()
       | ELSE element_at(transform(array($rhs), rh ->
       |   CASE WHEN size(rh) < $WinnowWindow THEN array(array_min(rh))
       |        ELSE array_distinct(transform(sequence(1, size(rh) - ${WinnowWindow - 1}),
       |          i -> array_min(slice(rh, i, $WinnowWindow)))) END), 1) END""".stripMargin.replaceAll("\\s+", " ")
  }

  def duckWinnowPrints(text: String): String = {
    val wh = s"list_transform(list_filter(string_split($text, ' '), w -> w <> ''), w -> ${duckWordHash("w")})"
    val rhs = s"list_transform(range(1, len($wh) - ${PrintWindow - 2}), i -> list_reduce(list_prepend(CAST(0 AS BIGINT), ($wh)[i:i+${PrintWindow - 1}]), (acc, h) -> (acc * 1000003 + h) % $P))"
    s"""CASE WHEN len($wh) < $PrintWindow THEN []
       | ELSE list_transform([$rhs], rh ->
       |   CASE WHEN len(rh) < $WinnowWindow THEN [list_min(rh)]
       |        ELSE list_distinct(list_transform(range(1, len(rh) - ${WinnowWindow - 2}),
       |          i -> list_min(rh[i:i+${WinnowWindow - 1}]))) END)[1] END""".stripMargin.replaceAll("\\s+", " ")
  }

  /** The containment-LSH acceptance gate — the production-path twin
    * [[dedupContainment]]'s scaladoc promises. dedup_containment is the
    * audit-tier EXACT enumeration (Σ df² postings join, run-on-a-slice
    * contract); the path you'd actually run at 100 TB generates
    * candidates from content-defined fingerprints: per doc, hash every
    * [[PrintWindow]]-word window (stride 1) and keep hashes ≡ 0 mod
    * [[PrintMod]] (Manber's mod-p selection — the same content-defined
    * sampling CDC backup dedup uses for chunk boundaries). A doc
    * contained as a contiguous slice of a host shares its selected
    * prints with the host AT ANY OFFSET, because selection is a
    * function of window content alone. This gate measures that path
    * against the exact containment pair set on the SAME planted
    * corpus: candidates = pairs sharing ≥ 1 print; recall = fraction
    * of exact ≥90%-containment pairs among candidates; the candidate
    * count prices the verify stage.
    *
    * The gate prices BOTH selection schemes side by side, one row per
    * scheme: `manber` (hash ≡ 0 mod [[PrintMod]] — probabilistic:
    * P(no selected print on an L-word run) = (1−1/3)^(L−7), ≈ 4·10⁻⁴
    * at the plant's ≥26 words) and `winnow` ([[sparkWinnowPrints]] —
    * the hard ≥ w+W−1 = 12-word guarantee at the same expected 1/3
    * density). The row pair IS the manber-vs-winnow evidence table:
    * same corpus, same exact side, recall and candidate volume
    * directly comparable. Scale shape: prints are map-side; the
    * candidate join is an equi-join on the print hash whose bucket
    * sizes follow 8-gram phrase df — orders sparser than 3-gram
    * shingle df, with the same mega-bucket audit obligation as every
    * LSH band join (boilerplate 8-word phrases = hot prints; the
    * occupancy histogram is measured in tools.BandOccupancy, and
    * `printCap` is [[minhashPairsFromSigs]]'s bucketCap rule wired to
    * the print join for template-heavy corpora).
    */
  def dedupContainmentRecall(s: SparkSession, dir: String): DataFrame =
    containmentRecallFor(containmentCorpus(s, dir))

  /** the gate over ANY (doc_id, text) frame — the library entry point
    * (the exact side is the Σ df² audit path: price it for slices,
    * like [[minhashRecallFor]]). One row per selection scheme
    * (manber / winnow) against the SAME exact pair set, computed once
    * in the one grading pass. `printCap`/`anchors`: the band-join occupancy
    * rule ([[minhashPairsFromSigs]]) applied to print buckets — at or
    * below the cap a bucket emits all pairs (default Long.MaxValue
    * keeps the contract query and its DuckDB oracle byte-identical);
    * above it only the `anchors` lowest-id docs pair with the rest,
    * A·k candidates per hot boilerplate print instead of C(k,2).
    */
  def containmentRecallFor(docs: DataFrame, printCap: Long = Long.MaxValue,
                           anchors: Long = 16L): DataFrame = {
    val d = Materialize.stable(docs)
    val exact = containmentPairsFor(d).select("doc_a", "doc_b")
    val schemes = Seq("manber" -> sparkContainmentPrints("text"), "winnow" -> sparkWinnowPrints("text"))
    val cand = schemes.map { case (scheme, printsExpr) =>
      containmentCandidates(d, printsExpr, printCap, anchors)
        .select(lit(scheme).as("scheme"), col("doc_a"), col("doc_b"))
    }
    ContainmentGrade.sweep(exact, cand.reduce(_ union _), Seq("doc_a", "doc_b"),
        schemes.map { case (scheme, _) => struct(lit(scheme).as("scheme")) })
      .select(col("scheme") +: ContainmentGrade.graded: _*).orderBy("scheme")
  }

  private def containmentCandidates(d: DataFrame, printsExpr: String,
      printCap: Long, anchors: Long): DataFrame =
    cappedPairs(
      d.select(col("doc_id"), explode(expr(printsExpr)).as("pr")),
      Seq("pr"), "doc_id", printCap, anchors)

  /** PRODUCTION containment candidates over ANY (doc_id, text) frame —
    * the path [[dedupContainment]]'s scaladoc prices: content-defined
    * print buckets generate (doc_a, doc_b) candidates for the verify
    * stage, never the Σ df² exact enumeration. `scheme` = "manber"
    * (mod-[[PrintMod]] selection) or "winnow" (window-minimum, hard
    * ≥ 12-word-run guarantee at the same density);
    * [[containmentRecallFor]] is the gate that grades both against the
    * exact pair set. `printCap`/`anchors` = the shared mega-bucket rule
    * ([[cappedPairs]]) for boilerplate-heavy corpora.
    */
  def containmentCandidatesFor(docs: DataFrame, scheme: String = "manber",
      printCap: Long = Long.MaxValue, anchors: Long = 16L): DataFrame = {
    require(scheme == "manber" || scheme == "winnow", s"unknown scheme $scheme")
    containmentCandidates(docs,
      if (scheme == "winnow") sparkWinnowPrints("text") else sparkContainmentPrints("text"),
      printCap, anchors)
  }

  /** The PRODUCTION containment dedup — the full scale path whose
    * recall [[containmentRecallFor]] certifies and whose output
    * contract [[containmentPairsFor]] defines: winnow-print candidates
    * (the hard ≥ 12-word-run guarantee at 1/3 density), then each
    * CANDIDATE pair verified directly on its two shingle sets
    * (`size(array_intersect)`) — verify cost is candidates ×
    * min(set size), never the exact side's Σ df² postings join, and
    * the corpus text is read once (prints and shingle sets from the
    * same scan). Same output schema and predicates as
    * dedup_containment (≥90% containment, J < 0.5,
    * [[MinContainSetSize]] floor). The semantic difference IS the
    * contract: pairs whose shared runs all sit below winnowing's
    * 12-word guarantee can be missed — the gate's measured winnow
    * recall (10⁶ ppm on the planted corpus) prices exactly that, and
    * on corpora inside the guarantee the output equals the exact
    * enumeration's (asserted in OperatorInvariantSpec).
    */
  def containmentLshPairsFor(docs: DataFrame, printCap: Long = Long.MaxValue,
      anchors: Long = 16L): DataFrame = {
    val d = Materialize.stable(docs)
    val cand = containmentCandidates(d, sparkWinnowPrints("text"), printCap, anchors)
    val sets = shingleSets(d)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
        col("n_sh").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
        col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("i", expr("CAST(size(array_intersect(sha, shb)) AS BIGINT)"))
      .filter(expr(ContainedPredicate))
      .withColumn("containment_ppm", expr("i * 1000000 div least(na, nb)"))
      .select("doc_a", "doc_b", "na", "nb", "i", "containment_ppm")
      .orderBy("doc_a", "doc_b")
  }

  def dedupContainmentLsh(s: SparkSession, dir: String): DataFrame =
    containmentLshPairsFor(containmentCorpus(s, dir))

  val dedupContainmentLshSql: String =
    s"""WITH $containmentCorpusSql, prints AS (
       |  SELECT doc_id, unnest(${duckWinnowPrints("text")}) AS pr FROM all_docs
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM prints x JOIN prints y ON x.pr = y.pr AND x.doc_id < y.doc_id
       |), ${shingleSetsSql("all_docs")}, scored AS (
       |  SELECT doc_a, doc_b, sa.n_sh AS na, sb.n_sh AS nb,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS i
       |  FROM cand
       |  JOIN sets sa ON cand.doc_a = sa.doc_id
       |  JOIN sets sb ON cand.doc_b = sb.doc_id
       |)
       |SELECT doc_a, doc_b, na, nb, i,
       |  i * 1000000 // least(na, nb) AS containment_ppm
       |FROM scored WHERE $ContainedPredicate
       |ORDER BY doc_a, doc_b""".stripMargin

  /** dedup_containment_recall's grade: one row per print scheme. */
  private val ContainmentGrade = Grade.Pairs("n_exact_pairs", "n_candidate_pairs")

  val dedupContainmentRecallSql: String =
    s"""WITH $containmentCorpusSql, prints AS (
       |  SELECT 'manber' AS scheme, doc_id, unnest(${duckContainmentPrints("text")}) AS pr FROM all_docs
       |  UNION ALL
       |  SELECT 'winnow' AS scheme, doc_id, unnest(${duckWinnowPrints("text")}) AS pr FROM all_docs
       |), cand AS (
       |  SELECT DISTINCT x.scheme, x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM prints x JOIN prints y
       |    ON x.scheme = y.scheme AND x.pr = y.pr AND x.doc_id < y.doc_id
       |), ${shingleOverlapSql("all_docs")}, exact AS (
       |  SELECT doc_a, doc_b FROM overlap WHERE $ContainedPredicate
       |), hits AS (
       |  SELECT c.scheme, e.doc_a FROM exact e JOIN cand c
       |    ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
       |), n AS (
       |  SELECT c.scheme, ${ContainmentGrade.countsSql("cand", " WHERE scheme = c.scheme")}
       |  FROM (SELECT 'manber' AS scheme UNION ALL SELECT 'winnow') c
       |)
       |SELECT scheme, ${ContainmentGrade.gradedSql}
       |FROM n ORDER BY scheme""".stripMargin

  /** MinHash (k=12) + LSH (4 bands × 3 rows): candidates share a band
    * bucket; verified by signature agreement ≥ 0.5.
    */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.documents(s, dir))

  /** library entry point: near-dup pairs over ANY (doc_id, text)
    * DataFrame — the oracle query above is this applied to the test
    * corpus.
    */
  def minhashPairs(docs: DataFrame): DataFrame = {
    // signatures: computed once, materialized (Materialize.stable) so
    // the self-join + verification joins reuse them instead of
    // re-evaluating the HOF tree per reference — at scale you persist
    // signatures before any LSH pipeline for exactly this reason
    minhashPairsFromSigs(Materialize.stable(docs
      .select(col("doc_id"), expr(sparkMinhash(sparkShingleHashes("text"))).as("mh"))))
  }

  /** THE shared occupancy-capped bucket self-join — the one primitive
    * under every LSH candidate stage in the library (text minhash
    * bands, containment prints, video first-frame aHash bands,
    * embedding hyperplane buckets; audio_dedup keeps its own inline
    * copy because its cap is CONTRACT semantics its DuckDB oracle
    * replays). `rows` = one row per (id, bucket-key); emits distinct
    * (doc_a, doc_b) id pairs sharing any bucket, doc_a < doc_b.
    *
    * With `bucketCap` = Long.MaxValue (the default) every bucket emits
    * all C(k,2) pairs — bit-identical to a plain self-join, which keeps
    * the contract queries and their oracles unchanged. Below it, a
    * bucket larger than the cap pairs only its `anchors` lowest-id
    * members with the rest: A·k candidates per mega-bucket, never
    * C(k,2), and the anchor star keeps the bucket CONNECTED for
    * connected-components consumers (every member that verifies against
    * an anchor joins the cluster). The cap plans as two window
    * functions over the bucket partitioning — one shuffle, no
    * driver-side inspection; the uncapped branch adds nothing.
    */
  def cappedPairs(rows: DataFrame, bucketCols: Seq[String], idCol: String,
                  bucketCap: Long = Long.MaxValue, anchors: Long = 16L): DataFrame = {
    val left =
      if (bucketCap == Long.MaxValue) rows
      else {
        val bw = org.apache.spark.sql.expressions.Window
          .partitionBy(bucketCols.map(col): _*).orderBy(idCol)
        val bwAll = org.apache.spark.sql.expressions.Window
          .partitionBy(bucketCols.map(col): _*)
        rows.withColumn("rn", row_number().over(bw))
          .withColumn("bsize", count(lit(1)).over(bwAll))
          .filter(col("bsize") <= bucketCap || col("rn") <= anchors)
          .select(idCol, bucketCols: _*)
      }
    val cond = bucketCols.map(c => col(s"x.$c") === col(s"y.$c"))
      .reduce(_ && _) && col(s"x.$idCol") < col(s"y.$idCol")
    left.as("x").join(rows.as("y"), cond)
      .select(col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"))
      .distinct()
  }

  /** the LSH band join + verification over an ALREADY-materialized
    * (doc_id, mh) signature frame — the composition point for pipelines
    * that compute signatures once and feed several dedup stages
    * (CorpusOps.curationPipeline): no second corpus materialization.
    *
    * `bucketCap`/`anchors`: optional band-bucket occupancy cap (the
    * audio_dedup rule — SCALE.md round 10). Buckets at or below
    * `bucketCap` emit ALL pairs (the default `Long.MaxValue` keeps the
    * contract queries and their DuckDB oracles byte-identical); above
    * it only the `anchors` lowest-id members pair with the rest — A·k
    * candidates per over-full bucket, never C(k,2). A mega-bucket here
    * is a near-identical TEMPLATE FAMILY (exact dedup removes identical
    * text; what survives into one band bucket shares the band's
    * signature rows), and anchor pairs keep the family CONNECTED for
    * the dedup_clusters consumer: every member that verifies against
    * any anchor joins the component. Measured: tools.TextMegaBucket.
    */
  def minhashPairsFromSigs(sig: DataFrame, bucketCap: Long = Long.MaxValue,
                           anchors: Long = 16L): DataFrame = {
    val bands = sig
      .select(col("doc_id"), explode(expr(s"sequence(0, ${MinhashBands - 1})")).as("b"), col("mh"))
      .select(col("doc_id"), col("b"), expr(sparkBandValue("mh", "b")).as("bv"))
    val cand = cappedPairs(bands, Seq("b", "bv"), "doc_id", bucketCap, anchors)
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("mh").as("ma")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("mh").as("mb")), Seq("doc_b"))
      .withColumn("est_jaccard", expr(
        s"floor(CAST(size(filter(sequence(1, $MinhashK), i -> element_at(ma, i) = element_at(mb, i))) AS DOUBLE) / $MinhashK * 1000000) / CAST(1000000 AS DOUBLE)"))
      .filter(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b", "est_jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val dedupMinhashSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id, ${duckMinhash(duckShingleHashes("text"))} AS mh FROM documents
       |), bands AS (
       |  SELECT doc_id, bs.b AS b, ${duckBandValue("mh", "bs.b")} AS bv
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $MinhashBands)) AS b) bs
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
       |)
       |SELECT doc_a, doc_b,
       |  floor(CAST(len(list_filter(range(1, ${MinhashK + 1}), i -> ma[i] = mb[i])) AS DOUBLE) / $MinhashK * 1000000) / CAST(1000000 AS DOUBLE) AS est_jaccard
       |FROM (
       |  SELECT c.doc_a, c.doc_b, sa.mh AS ma, sb.mh AS mb
       |  FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id JOIN sig sb ON c.doc_b = sb.doc_id) t
       |WHERE floor(CAST(len(list_filter(range(1, ${MinhashK + 1}), i -> ma[i] = mb[i])) AS DOUBLE) / $MinhashK * 1000000) / CAST(1000000 AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash: 64-bit sketch over shingle hashes as 4 × 16-bit bands;
    * hamming ≤ 3 ⇒ at least one band equal (pigeonhole) ⇒ the band join
    * finds every qualifying pair; verified with exact hamming.
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val sig = Materialize.stable(Tables.documents(s, dir)
      .select(col("doc_id"), expr(sparkSimhashBands(sparkShingleHashes("text"))).as("sh")))
    val bands = sig.select(col("doc_id"), posexplode(col("sh")).as(Seq("b", "bv")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
      .withColumn("hamming", expr(
        s"aggregate(sequence(1, $SimhashBands), 0, (acc, i) -> acc + bit_count(element_at(sa, i) ^ element_at(sb, i)))"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  val dedupSimhashSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id, ${duckSimhashBands(duckShingleHashes("text"))} AS sh FROM documents
       |), bands AS (
       |  SELECT doc_id, bs.b AS b, sh[bs.b + 1] AS bv
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $SimhashBands)) AS b) bs
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
       |)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, ${SimhashBands + 1})), (acc, i) -> acc + bit_count(xor(sa.sh[i], sb.sh[i]))) AS INT) AS hamming
       |  FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id JOIN sig sb ON c.doc_b = sb.doc_id) t
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin

  /** n-gram Jaccard via an inverted shingle index with document-frequency
    * pruning: stop-shingles generate no candidates (prefix-filtering —
    * keeps the index join bounded at scale), then exact Jaccard ≥ 0.5 on
    * candidate pairs. The df ceiling is CORPUS-RELATIVE
    * (max(20, nDocs/50)): an absolute ceiling silently loses all recall
    * when the corpus grows — caught by the ×10 scale smoke.
    */
  val NgramMaxDf = 20
  val NgramDfFraction = 50 // ceiling = max(NgramMaxDf, nDocs/NgramDfFraction)
  val NgramMinShared = 3 // candidate pairs must share >=3 indexed shingles
  /** bottom-k sketch prefix (Broder): only each doc's K smallest shingle
    * hashes are indexed. Candidates for Jaccard>=0.5 share ~K/3 prefix
    * elements in expectation, so >=3-shared recall is ~1 while the
    * inverted-index join volume stays K-bounded per doc — without this,
    * duplicate-heavy corpora make high-df shingles generate quadratic
    * candidate rows (caught by the x10 scale smoke).
    */
  val NgramPrefixK = 24

  def dedupNgram(s: SparkSession, dir: String): DataFrame = {
    val shs = Materialize.stable(Tables.documents(s, dir)
      .select(col("doc_id"), expr(sparkShingleHashes("text")).as("sh"))
      .withColumn("n_sh", expr("size(sh)")))
    // the corpus-relative df ceiling is derived INSIDE the job: a
    // one-row doc-count aggregate broadcast onto the df frame — no
    // standalone driver-side .count() action (one fewer corpus pass;
    // at 100 TB a ceiling should be plan state, not driver state)
    val nDocs = shs.agg(count(lit(1)).as("n_docs"))
    val rare = shs.select(col("doc_id"),
        explode(expr(s"slice(array_sort(sh), 1, $NgramPrefixK)")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df").between(2,
        greatest(lit(NgramMaxDf.toLong), expr(s"n_docs div $NgramDfFraction"))))
      .select("h")
    val ex = shs.select(col("doc_id"),
      explode(expr(s"slice(array_sort(sh), 1, $NgramPrefixK)")).as("h"))
    val rareEx = ex.join(rare, Seq("h"))
    val cand = rareEx.as("x").join(rareEx.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_rare"))
      .filter(col("n_shared_rare") >= NgramMinShared)
      .select("doc_a", "doc_b")
    cand
      .join(shs.select(col("doc_id").as("doc_a"), col("sh").as("sa"), col("n_sh").as("na")), Seq("doc_a"))
      .join(shs.select(col("doc_id").as("doc_b"), col("sh").as("sb"), col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", expr("floor(graft_jaccard(sa, sb) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val dedupNgramSql: String =
    s"""WITH shs AS (
       |  SELECT doc_id, ${duckShingleHashes("text")} AS sh FROM documents
       |), ex AS (
       |  SELECT doc_id, unnest(list_sort(sh)[1:$NgramPrefixK]) AS h FROM shs
       |), rare AS (
       |  SELECT h FROM ex GROUP BY h
       |  HAVING COUNT(*) BETWEEN 2 AND greatest($NgramMaxDf, (SELECT COUNT(*) FROM documents) // $NgramDfFraction)
       |), rex AS (
       |  SELECT ex.doc_id, ex.h FROM ex JOIN rare ON ex.h = rare.h
       |), cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM rex x JOIN rex y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $NgramMinShared
       |)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT c.doc_a, c.doc_b,
       |    floor(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 1000000) / CAST(1000000 AS DOUBLE) AS jaccard
       |  FROM cand c JOIN shs sa ON c.doc_a = sa.doc_id JOIN shs sb ON c.doc_b = sb.doc_id) t
       |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** Rounds cap for [[connectedComponents]]. With pointer doubling the
    * reachable diameter doubles each round, so 25 rounds covers any
    * component with diameter ≤ 2²⁵ — hitting the cap means the input
    * graph is pathological, and the loop fails LOUDLY rather than
    * returning unconverged labels.
    */
  val ComponentMaxRounds = 25

  /** Connected components of an undirected pair graph, as a library
    * primitive over ANY (doc_a, doc_b) edge frame: returns one
    * (doc_id, cluster_id) row per node that appears in some pair, with
    * cluster_id = the component's min doc_id. Pair lists alone
    * under-dedup (A~B, B~C ⇒ {A,B,C} is ONE cluster even when A~C is
    * below threshold), so production dedup keeps one doc per component.
    *
    * Min-label propagation WITH pointer doubling: each round a node
    * takes the min of its own label, its neighbors' labels, and its
    * label's label (path shortcutting). The shortcut halves remaining
    * component diameter per round ⇒ O(log d) rounds instead of O(d) —
    * chain-shaped components that would starve plain propagation
    * converge in a handful of joins. Per round: two equi-joins + one
    * partial-aggregated groupBy; the driver sees only the label-SUM
    * convergence scalar (labels are monotone non-increasing, so an
    * unchanged sum is a strict fixpoint witness) — labels never leave
    * the executors. The rounds climb a [[Ladder.fixpoint]], which
    * checkpoints each round's labels (lineage-TRUNCATING): the hop
    * self-join would otherwise double the logical plan every round, and
    * at 100 TB the label table is corpus-cardinality rows that must not
    * pin executor memory.
    */
  def connectedComponents(pairs0: DataFrame): DataFrame = {
    // snapshot: the pair frame is typically an expensive verified-LSH
    // plan; the reversed union below references it twice and the
    // propagation loop many times — pay its cost exactly ONCE, with
    // full AQE (Materialize.snapshot scaladoc has the measured 20×)
    val pairs = Materialize.snapshot(pairs0.toDF("doc_a", "doc_b"))
    val edges = Materialize.stable(
      pairs.union(pairs.select(col("doc_b"), col("doc_a"))).toDF("src", "dst"))
    // Init fuses round 1: label = min(self, min neighbor).
    val seed = edges.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("node"), least(col("mn"), col("src")).as("label"))
    // census: sum(label) is NULL on zero rows, so an empty pair frame is
    // its own fixpoint — an empty component table, not a crash (found by
    // the sf0.1 parity run, where the intra-domain subgraph of an even
    // page count is provably empty)
    val (labels, _) = Ladder.fixpoint("connectedComponents", seed, ComponentMaxRounds) { labels =>
      val prop = edges.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("label"))
      // pointer doubling: node -> label(label(node)). Every label value
      // is itself a node id in the same component, so the self-join is
      // total where it matters and the hop is always a valid label.
      val hop = labels.as("a")
        .join(labels.select(col("node").as("l"), col("label").as("ll")).as("b"),
          col("a.label") === col("b.l"))
        .select(col("a.node").as("node"), col("b.ll").as("label"))
      prop.union(hop).union(labels).groupBy("node").agg(min("label").as("label"))
    }(labels => Option(labels.agg(sum("label")).head.getAs[java.lang.Long](0)).map(_.longValue))
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Transitive closure of the verified minhash pairs over the test
    * corpus — [[connectedComponents]] applied to [[dedupMinhash]].
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(dedupMinhash(s, dir).select(col("doc_a"), col("doc_b")))
      .orderBy("doc_id")

  val dedupClustersSql: String =
    s"""WITH RECURSIVE mpairs AS (
       |  SELECT doc_a, doc_b FROM ($dedupMinhashSql) mp
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM mpairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM mpairs
       |), reach(node, label) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
       |)
       |SELECT node AS doc_id, MIN(label) AS cluster_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  // ---- benchmark decontamination ----------------------------------------

  val ContamEvalMod = 10L // doc_id % 10 == 7 is the "benchmark" set
  val ContamMinShared = 5L // flag at >= 5 shared distinct shingles
  // CMS pre-filter for the stop-shingle ceiling: 2 hash rows × 64k
  // cells. Capacity rule: mean cell mass P/CmsFilterW must sit well
  // under the df ceiling or every posting becomes a suspect — size
  // CmsFilterW ≳ 8·P/ceiling (P = train postings; at sf0.1 that is
  // 235k/64k ≈ 3.6 vs ceiling 100, ~30× slack; at 100 TB widen the
  // sketch with the corpus — it is executor-local array state, never
  // shuffled mass).
  val CmsFilterDepth = 2
  val CmsFilterW = 65536L

  /** Train/eval contamination check — the decontamination pass every
    * LLM data pipeline runs before training: flag training docs that
    * share ≥ [[ContamMinShared]] distinct 3-gram shingles with any
    * benchmark doc (here a deterministic doc_id-mod subset stands in
    * for the benchmark suite).
    *
    * Scale shape: the eval side is benchmark-suite-sized (KBs against
    * a 100 TB corpus), so its shingle index effectively broadcasts;
    * the train side streams through the equi-join on the shingle hash
    * map-side. Stop-shingles (common trigrams) are dropped by the same
    * corpus-relative df ceiling as dedup_ngram BEFORE the join, so one
    * "the end." in an eval doc can't pull in the whole corpus. Shared
    * counts are a per-(train, eval) partial aggregate.
    *
    * The ceiling itself is CMS-pre-filtered (the round-8 verdict's one
    * corpus-sized pass): a count-min grid over the train postings
    * partial-aggregates to ≤ [[CmsFilterDepth]]·[[CmsFilterW]] rows per
    * partition (sketch-sized shuffle, not posting-sized), broadcasts
    * back as two map-side lookups, and only SUSPECT postings (estimate
    * over the ceiling) pay the exact df count. CMS estimates only
    * over-count, so every true stop-shingle is a suspect — the final
    * heavy set is still decided by EXACT counts and the oracle is
    * unchanged; the sketch merely shrinks the exact pass's input to the
    * suspects.
    */
  def textContamination(s: SparkSession, dir: String): DataFrame = {
    val shs = Materialize.stable(Tables.documents(s, dir)
      .select(col("doc_id"), expr(sparkShingleHashes("text")).as("sh"))
      .withColumn("n_sh", expr("CAST(size(sh) AS BIGINT)")))
    val isEval = pmod(col("doc_id"), lit(ContamEvalMod)) === 7
    val trainEx = shs.filter(!isEval)
      .select(col("doc_id").as("train_doc"), col("n_sh"), explode(col("sh")).as("h"))
    // same in-plan ceiling derivation as dedupNgram: one-row doc count
    // broadcast onto the df frame, no driver-side corpus action
    val nDocs = shs.agg(count(lit(1)).as("n_docs"))
    val ceiling = greatest(lit(NgramMaxDf.toLong), expr(s"n_docs div $NgramDfFraction"))
    // count-min grid: the sketch_cms hash family over the shingle hash
    val P = graft.functions.PortableHash.P
    def cmsCell(i: Int) =
      expr(s"((1 + $i * 604297) * pmod(h, $P) + ($i * 8191 + 12289)) % $P % $CmsFilterW")
    def gridRow(i: Int) = trainEx
      .select(cmsCell(i).as(s"cell$i"))
      .groupBy(s"cell$i").agg(count(lit(1)).as(s"cnt$i"))
    // suspects: postings whose CMS estimate clears the ceiling — the
    // two grid lookups broadcast (≤ 2·64k rows), the filter is map-side
    val suspects = trainEx
      .withColumn("cell0", cmsCell(0)).withColumn("cell1", cmsCell(1))
      .join(broadcast(gridRow(0)), Seq("cell0"))
      .join(broadcast(gridRow(1)), Seq("cell1"))
      .crossJoin(broadcast(nDocs))
      .filter(least(col("cnt0"), col("cnt1")) > ceiling)
      .select("h")
    // exact adjudication ONLY over suspect postings; heavy = true df
    // over the ceiling — identical to the old full-corpus df filter
    // because non-suspects are PROVABLY under it (CMS never undercounts)
    val heavy = suspects.groupBy("h").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > ceiling)
      .select("h")
    val evalEx = shs.filter(isEval)
      .select(col("doc_id").as("eval_doc"), explode(col("sh")).as("h"))
      .join(broadcast(heavy), Seq("h"), "left_anti")
    trainEx.join(evalEx, Seq("h"))
      .groupBy("train_doc", "eval_doc", "n_sh")
      .agg(count(lit(1)).as("n_shared")) // shingle sets are distinct per doc
      .filter(col("n_shared") >= ContamMinShared)
      .withColumn("overlap", expr(
        "floor(CAST(n_shared AS DOUBLE) / CAST(n_sh AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .select("train_doc", "eval_doc", "n_shared", "overlap")
      .orderBy("train_doc", "eval_doc")
  }

  val textContaminationSql: String =
    s"""WITH shs AS (
       |  SELECT doc_id, ${duckShingleHashes("text")} AS sh FROM documents
       |), train_ex AS (
       |  SELECT doc_id AS train_doc, CAST(len(sh) AS BIGINT) AS n_sh, unnest(sh) AS h
       |  FROM shs WHERE doc_id % $ContamEvalMod <> 7
       |), informative AS (
       |  SELECT h FROM train_ex GROUP BY h
       |  HAVING COUNT(*) <= greatest($NgramMaxDf, (SELECT COUNT(*) FROM documents) // $NgramDfFraction)
       |), eval_ex AS (
       |  SELECT u.doc_id AS eval_doc, u.h FROM (
       |    SELECT doc_id, unnest(sh) AS h FROM shs WHERE doc_id % $ContamEvalMod = 7) u
       |  JOIN informative i ON i.h = u.h
       |)
       |SELECT train_doc, eval_doc, n_shared, overlap FROM (
       |  SELECT t.train_doc, e.eval_doc, t.n_sh, COUNT(*) AS n_shared,
       |    floor(CAST(COUNT(*) AS DOUBLE) / CAST(t.n_sh AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) AS overlap
       |  FROM train_ex t JOIN eval_ex e ON t.h = e.h
       |  GROUP BY 1, 2, 3) x
       |WHERE n_shared >= $ContamMinShared
       |ORDER BY train_doc, eval_doc""".stripMargin

  /** Words per span for [[dedupSpans]] — CCNet deduplicates paragraphs;
    * the synthetic corpus has no paragraph breaks, so the unit is a
    * fixed 8-word span (non-overlapping), which the planted duplicate
    * docs share across doc boundaries.
    */
  val SpanWords = 8

  /** CCNet-style sub-document dedup: fingerprint every consecutive
    * [[SpanWords]]-word span, count span frequency CORPUS-WIDE, and
    * score each doc by its duplicated-span fraction (the signal CCNet
    * thresholds to drop boilerplate-heavy docs).
    *
    * 100 TB shape: the span frame is computed map-side in the scan
    * projection (split + slice HOFs, one 64-bit fingerprint per span —
    * the strings never shuffle); the frequency pass is one partial-agg
    * groupBy on the fingerprint; the probe join is equi-keyed against
    * the DUPLICATED fingerprints only (output-bound build side — unique
    * spans, the overwhelming majority, never enter the join build).
    */
  def dedupSpans(s: SparkSession, dir: String): DataFrame =
    spanStats(Tables.documents(s, dir))

  /** library entry point: span-dedup stats over ANY (doc_id, text)
    * DataFrame.
    */
  def spanStats(docs: DataFrame, window: Int = SpanWords): DataFrame = {
    val spans = Materialize.stable(
      docs.withColumn("__ws", split(col("text"), " "))
        .withColumn("span", explode(expr(
          s"transform(sequence(0, (size(__ws) + ${window - 1}) div $window - 1), " +
            s"i -> array_join(slice(__ws, i * $window + 1, $window), ' '))")))
        .select(col("doc_id"), expr(sparkFingerprint("span")).as("h")))
    val dup = spans.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"), lit(1).as("is_dup"))
    spans.join(dup, Seq("h"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("is_dup"), lit(0))).cast("long").as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans")).as("dup_frac"),
        (lit(2) * col("n_dup_spans") <= col("n_spans")).as("keep"))
      .orderBy("doc_id")
  }

  val dedupSpansSql: String =
    s"""SELECT doc_id, n_spans, n_dup_spans,
       |  CAST(n_dup_spans AS DOUBLE) / n_spans AS dup_frac,
       |  2 * n_dup_spans <= n_spans AS keep
       |FROM (
       |  SELECT doc_id, COUNT(*) AS n_spans,
       |    CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
       |  FROM (
       |    SELECT doc_id, ${duckFingerprint("span")} AS h
       |    FROM (
       |      SELECT doc_id, array_to_string(ws[(i-1)*$SpanWords+1 : i*$SpanWords], ' ') AS span
       |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w,
       |        UNNEST(generate_series(1, (len(ws) + ${SpanWords - 1}) // $SpanWords)) AS t(i))) hs
       |  JOIN (SELECT h AS h2, COUNT(*) AS c
       |        FROM (SELECT ${duckFingerprint("span")} AS h
       |              FROM (SELECT array_to_string(ws[(i-1)*$SpanWords+1 : i*$SpanWords], ' ') AS span
       |                    FROM (SELECT string_split(text, ' ') AS ws FROM documents) w2,
       |                      UNNEST(generate_series(1, (len(ws) + ${SpanWords - 1}) // $SpanWords)) AS t2(i)) s2) f
       |        GROUP BY h) freq ON hs.h = freq.h2
       |  GROUP BY doc_id) agg
       |ORDER BY doc_id""".stripMargin

  /** Incremental ingestion dedup — the batch twin of `stream_dedup`:
    * a NEW batch of documents is admitted or rejected against the
    * fingerprint index of the existing corpus (the shape a daily
    * ingestion job has: never re-dedup the lake, join the delta against
    * the index). The synthetic new batch mixes true re-ingestions
    * (doc_id%10==3, byte-identical) with genuinely new docs
    * (doc_id%10==7, text suffixed).
    *
    * 100 TB shape: the index is one (fp, min_id) row per distinct doc —
    * built once, reusable across batches (in production it's a bucketed
    * table on fp, making this join exchange-free per
    * [[graft.sources.BucketedSink]]); the probe shuffles only the
    * BATCH, which is deltas-sized, not corpus-sized.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val index = d.select(col("doc_id"), expr(sparkFingerprint("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("dup_of"))
    val batch = d.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(plantId(col("doc_id"), 200000L).as("new_id"), col("text"))
      .union(d.filter(pmod(col("doc_id"), lit(10)) === 7)
        .select(plantId(col("doc_id"), 200000L).as("new_id"),
          concat(col("text"), lit(" fresh-suffix")).as("text")))
    batch.withColumn("fp", expr(sparkFingerprint("text")))
      .join(index, Seq("fp"), "left_outer")
      .select(col("new_id"), col("dup_of").isNull.as("admitted"), col("dup_of"))
      .orderBy("new_id")
  }

  val dedupIncrementalSql: String =
    s"""WITH idx AS (
       |  SELECT ${duckFingerprint("text")} AS fp, MIN(doc_id) AS dup_of
       |  FROM documents GROUP BY 1),
       |batch AS (
       |  SELECT doc_id + 200000 AS new_id, text FROM documents WHERE doc_id % 10 = 3
       |  UNION ALL
       |  SELECT doc_id + 200000, text || ' fresh-suffix' FROM documents WHERE doc_id % 10 = 7)
       |SELECT new_id, dup_of IS NULL AS admitted, dup_of
       |FROM (SELECT new_id, ${duckFingerprint("text")} AS fp FROM batch) b
       |LEFT JOIN idx USING (fp)
       |ORDER BY new_id""".stripMargin

  /** id shift for the near-dup ingestion batch — distinct from
    * [[dedupIncremental]]'s 200000 so the two planted batches can
    * never alias; base doc_ids stay far below it (the DedupCopyShift
    * convention, Video.scala).
    */
  val NearBatchShift = 300000L

  /** Ingestion-delta NEAR-dup admission against the corpus LSH index —
    * the near-dup twin of [[dedupIncremental]], which probes by EXACT
    * fingerprint and therefore wrongly ADMITS the most common real
    * delta: the same doc re-ingested with a tail edit (appended
    * correction, tracking footer, new timestamp line). The index here
    * is the corpus minhash-signature + band-bucket table — built ONCE
    * and reusable across batches (bucketed on the band key in
    * production → exchange-free probes, the [[dedupIncremental]]
    * contract); the batch computes its own signatures map-side and
    * probes. The synthetic batch mixes tail-edited re-ingestions
    * (doc_id%10==4, one appended word — byte-unequal, exact probe
    * blind) with genuinely-new docs (doc_id%10==8, word order
    * reversed — every 3-gram shingle changes, est-Jaccard ≈ 0).
    *
    * 100 TB shape: index signatures/bands are corpus-sized but
    * amortized across every future batch; the probe join shuffles only
    * the BATCH bands (deltas-sized); verification is candidate-bounded
    * — the est-Jaccard ≥ 1/2 predicate decided in integers
    * (2·matches ≥ k, the banding-sweep convention). dup_of = the min
    * qualifying corpus doc; admitted = no qualifying candidate.
    */
  def dedupIncrementalLsh(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val idxSig = Materialize.stable(d.select(col("doc_id"),
      expr(sparkMinhash(sparkShingleHashes("text"))).as("mh")))
    val idxBands = idxSig
      .select(col("doc_id"), explode(expr(s"sequence(0, ${MinhashBands - 1})")).as("b"), col("mh"))
      .select(col("doc_id"), col("b"), expr(sparkBandValue("mh", "b")).as("bv"))
    val batch = d.filter(pmod(col("doc_id"), lit(10)) === 4)
      .select(plantId(col("doc_id"), NearBatchShift).as("new_id"),
        concat(col("text"), lit(" appendix")).as("text"))
      .union(d.filter(pmod(col("doc_id"), lit(10)) === 8)
        // ≥3 words: a shorter doc has an EMPTY 3-gram shingle set, whose
        // minhash signature equals every other empty doc's (est-J = k/k)
        // — the "genuinely new" reversal would be rejected as a dup and
        // the operator's admit semantics would not hold on short docs
        .filter(expr("size(filter(split(text, ' '), w -> w <> '')) >= 3"))
        .select(plantId(col("doc_id"), NearBatchShift).as("new_id"),
          array_join(reverse(split(col("text"), " ")), " ").as("text")))
    val bSig = Materialize.stable(batch.select(col("new_id"),
      expr(sparkMinhash(sparkShingleHashes("text"))).as("mh")))
    val bBands = bSig
      .select(col("new_id"), explode(expr(s"sequence(0, ${MinhashBands - 1})")).as("b"), col("mh"))
      .select(col("new_id"), col("b"), expr(sparkBandValue("mh", "b")).as("bv"))
    val cand = bBands.as("x").join(idxBands.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv"))
      .select(col("x.new_id"), col("y.doc_id")).distinct()
    val verified = cand
      .join(bSig.select(col("new_id"), col("mh").as("ma")), Seq("new_id"))
      .join(idxSig.select(col("doc_id"), col("mh").as("mb")), Seq("doc_id"))
      .filter(expr(
        s"size(filter(sequence(1, $MinhashK), i -> element_at(ma, i) = element_at(mb, i))) * 2 >= $MinhashK"))
      .groupBy("new_id").agg(min("doc_id").as("dup_of"))
    batch.select("new_id").join(verified, Seq("new_id"), "left")
      .select(col("new_id"), col("dup_of").isNull.as("admitted"), col("dup_of"))
      .orderBy("new_id")
  }

  val dedupIncrementalLshSql: String =
    s"""WITH isig AS (
       |  SELECT doc_id, ${duckMinhash(duckShingleHashes("text"))} AS mh FROM documents
       |), ibands AS (
       |  SELECT doc_id, bs.b AS b, ${duckBandValue("mh", "bs.b")} AS bv
       |  FROM isig CROSS JOIN (SELECT unnest(range(0, $MinhashBands)) AS b) bs
       |), batch AS (
       |  SELECT doc_id + $NearBatchShift AS new_id, text || ' appendix' AS text
       |  FROM documents WHERE doc_id % 10 = 4
       |  UNION ALL
       |  SELECT doc_id + $NearBatchShift,
       |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |  FROM documents WHERE doc_id % 10 = 8
       |    AND len(list_filter(string_split(text, ' '), w -> w <> '')) >= 3
       |), bsig AS (
       |  SELECT new_id, ${duckMinhash(duckShingleHashes("text"))} AS mh FROM batch
       |), bbands AS (
       |  SELECT new_id, bs.b AS b, ${duckBandValue("mh", "bs.b")} AS bv
       |  FROM bsig CROSS JOIN (SELECT unnest(range(0, $MinhashBands)) AS b) bs
       |), cand AS (
       |  SELECT DISTINCT x.new_id, y.doc_id
       |  FROM bbands x JOIN ibands y ON x.b = y.b AND x.bv = y.bv
       |), ver AS (
       |  SELECT new_id, MIN(doc_id) AS dup_of FROM (
       |    SELECT c.new_id, c.doc_id, bs.mh AS ma, i.mh AS mb
       |    FROM cand c JOIN bsig bs USING (new_id) JOIN isig i USING (doc_id)) t
       |  WHERE len(list_filter(range(1, ${MinhashK + 1}), i -> ma[i] = mb[i])) * 2 >= $MinhashK
       |  GROUP BY 1
       |)
       |SELECT b.new_id, v.dup_of IS NULL AS admitted, v.dup_of
       |FROM batch b LEFT JOIN ver v USING (new_id)
       |ORDER BY new_id""".stripMargin

  /** id shift for the containment-ingestion batch — distinct from the
    * 200000 exact batch, the 300000 near-dup batch / containment plant
    * namespaces (one query never mixes two plants, but the shifts stay
    * globally unique so cross-gate specs can union batches safely).
    */
  val ContainBatchShift = 400000L

  /** Containment-aware incremental admission — the THIRD admission
    * gate, closing the gap both existing gates provably leak: a corpus
    * doc re-ingested INSIDE a longer digest (the %10==6 composite —
    * doc + two successors concatenated) is byte-unequal, so
    * [[dedupIncremental]]'s exact-fingerprint probe admits it, and its
    * symmetric Jaccard vs the contained doc is ≈ 1/3 < 1/2, so
    * [[dedupIncrementalLsh]]'s est-J verify admits it too (the
    * cross-gate leak is asserted in OperatorInvariantSpec). This gate
    * probes the corpus WINNOW-PRINT index ([[sparkWinnowPrints]] — the
    * hard ≥ 12-word-run guarantee) with the batch's own prints and
    * verifies candidates with the dedup_containment predicates
    * (array_intersect of distinct shingle sets: ≥ 90% of the smaller
    * side, J < 0.5, [[MinContainSetSize]] floor). Genuinely-new docs
    * (%10==1, word order reversed — every 8-word window and every
    * 3-gram shingle changes) are admitted.
    *
    * 100 TB shape: the index (prints + shingle sets per corpus doc) is
    * built once and amortized across batches (bucketed on the print
    * hash in production → exchange-free probes); the probe join
    * shuffles only the BATCH postings (delta-sized); verification is
    * candidate-bounded, never Σ df². Docs under [[PrintWindow]] words
    * select no prints and are trivially admitted — too short for a
    * containment verdict either way.
    */
  def dedupIncrementalContainment(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val batch = containmentPlant(d, ContainBatchShift, "new_id")
      .union(d.filter(pmod(col("doc_id"), lit(10)) === 1)
        .select(plantId(col("doc_id"), ContainBatchShift).as("new_id"),
          array_join(reverse(split(col("text"), " ")), " ").as("text")))
    containmentAdmissionFor(d, batch)
  }

  /** the admission gate over ANY corpus/batch (doc_id|new_id, text)
    * frames — the library entry point (api.CorpusOps). `printCap`/
    * `anchors`: the posting-list occupancy rule for boilerplate-hot
    * prints — above the cap only the `anchors` lowest-id corpus docs
    * remain probe-able for that print (the [[cappedPairs]] anchor
    * discipline on a bipartite probe join; default inert, oracle
    * byte-identical).
    */
  def containmentAdmissionFor(corpus: DataFrame, batch: DataFrame,
      printCap: Long = Long.MaxValue, anchors: Long = 16L): DataFrame = {
    val idx = Materialize.stable(corpus
      .select(col("doc_id"), expr(sparkWinnowPrints("text")).as("prs"),
        expr(s"array_distinct(${sparkShingleHashes("text")})").as("sh"))
      .withColumn("n_sh", expr("CAST(size(sh) AS BIGINT)")))
    val iPost0 = idx.select(col("doc_id"), explode(col("prs")).as("pr"))
    val iPost =
      if (printCap == Long.MaxValue) iPost0
      else {
        val bw = org.apache.spark.sql.expressions.Window
          .partitionBy("pr").orderBy("doc_id")
        val bwAll = org.apache.spark.sql.expressions.Window.partitionBy("pr")
        iPost0.withColumn("rn", row_number().over(bw))
          .withColumn("bsize", count(lit(1)).over(bwAll))
          .filter(col("bsize") <= printCap || col("rn") <= anchors)
          .select("doc_id", "pr")
      }
    val b = Materialize.stable(batch
      .select(col("new_id"), expr(sparkWinnowPrints("text")).as("prs"),
        expr(s"array_distinct(${sparkShingleHashes("text")})").as("sh"))
      .withColumn("n_sh", expr("CAST(size(sh) AS BIGINT)")))
    val bPost = b.select(col("new_id"), explode(col("prs")).as("pr"))
    val cand = bPost.join(iPost, Seq("pr"))
      .select("new_id", "doc_id").distinct()
    val verified = cand
      .join(b.select(col("new_id"), col("sh").as("sha"), col("n_sh").as("na")), Seq("new_id"))
      .join(idx.select(col("doc_id"), col("sh").as("shb"), col("n_sh").as("nb")), Seq("doc_id"))
      .withColumn("i", expr("CAST(size(array_intersect(sha, shb)) AS BIGINT)"))
      .filter(expr(ContainedPredicate))
      .groupBy("new_id").agg(min("doc_id").as("dup_of"))
    b.select("new_id").join(verified, Seq("new_id"), "left")
      .select(col("new_id"), col("dup_of").isNull.as("admitted"), col("dup_of"))
      .orderBy("new_id")
  }

  val dedupIncrementalContainmentSql: String =
    s"""WITH batch AS (
       |  ${containmentPlantSql(ContainBatchShift, "new_id")}
       |  UNION ALL
       |  SELECT doc_id + $ContainBatchShift,
       |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |  FROM documents WHERE doc_id % 10 = 1
       |), idx AS (
       |  SELECT doc_id, ${duckWinnowPrints("text")} AS prs,
       |    list_distinct(${duckShingleHashes("text")}) AS sh
       |  FROM documents
       |), bidx AS (
       |  SELECT new_id, ${duckWinnowPrints("text")} AS prs,
       |    list_distinct(${duckShingleHashes("text")}) AS sh
       |  FROM batch
       |), ipost AS (
       |  SELECT doc_id, unnest(prs) AS pr FROM idx
       |), bpost AS (
       |  SELECT new_id, unnest(prs) AS pr FROM bidx
       |), cand AS (
       |  SELECT DISTINCT new_id, doc_id FROM bpost JOIN ipost USING (pr)
       |), ver AS (
       |  SELECT new_id, MIN(doc_id) AS dup_of FROM (
       |    SELECT c.new_id, c.doc_id,
       |      CAST(len(list_intersect(b.sh, i.sh)) AS BIGINT) AS i,
       |      CAST(len(b.sh) AS BIGINT) AS na, CAST(len(i.sh) AS BIGINT) AS nb
       |    FROM cand c JOIN bidx b USING (new_id) JOIN idx i USING (doc_id)) t
       |  WHERE $ContainedPredicate
       |  GROUP BY 1
       |)
       |SELECT b.new_id, v.dup_of IS NULL AS admitted, v.dup_of
       |FROM bidx b LEFT JOIN ver v USING (new_id)
       |ORDER BY new_id""".stripMargin

  /** Threshold sensitivity sweep over the verified minhash pair frame:
    * near-dup pair count and affected-doc count at est-Jaccard ≥ 1/2,
    * 3/4, 11/12 and = 1 — the dedup-aggressiveness dial read BEFORE
    * committing a threshold corpus-wide ([[minhashPairsFromSigs]]'s
    * ≥ 1/2 is a policy choice; this table shows how much mass each
    * tightening melts, the verify-side mirror of dedup_banding_sweep's
    * candidate-side S-curve). Thresholds are exact signature-match
    * counts (m of k=12) so every predicate is integer.
    *
    * 100 TB shape: the candidate frame and per-pair match counts are
    * paid ONCE (the dedup_minhash plan verbatim); each threshold row is
    * a conditional rollup of that output-sized frame — ≤4 more
    * output-sized passes, no new corpus work.
    */
  def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val sig = Materialize.stable(Tables.documents(s, dir)
      .select(col("doc_id"), expr(sparkMinhash(sparkShingleHashes("text"))).as("mh")))
    val bands = sig
      .select(col("doc_id"), explode(expr(s"sequence(0, ${MinhashBands - 1})")).as("b"), col("mh"))
      .select(col("doc_id"), col("b"), expr(sparkBandValue("mh", "b")).as("bv"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val scored = Materialize.stable(cand
      .join(sig.select(col("doc_id").as("doc_a"), col("mh").as("ma")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("mh").as("mb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), expr(
        s"size(filter(sequence(1, $MinhashK), i -> element_at(ma, i) = element_at(mb, i)))")
        .cast("long").as("m")))
    val thr = scored
      .select(col("doc_a"), col("doc_b"), col("m"),
        explode(expr("array(6L, 9L, 11L, 12L)")).as("min_matches"))
      .filter(col("m") >= col("min_matches"))
    val pairsAt = thr.groupBy("min_matches").agg(count(lit(1)).as("n_pairs"))
    val docsAt = thr
      .select(col("min_matches"), explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .groupBy("min_matches").agg(count(lit(1)).as("n_docs"))
    pairsAt.join(docsAt, Seq("min_matches"))
      .select("min_matches", "n_pairs", "n_docs")
      .orderBy("min_matches")
  }

  val dedupThresholdSweepSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id, ${duckMinhash(duckShingleHashes("text"))} AS mh FROM documents
       |), bands AS (
       |  SELECT doc_id, bs.b AS b, ${duckBandValue("mh", "bs.b")} AS bv
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $MinhashBands)) AS b) bs
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
       |), scored AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_filter(range(1, ${MinhashK + 1}), i -> sa.mh[i] = sb.mh[i])) AS BIGINT) AS m
       |  FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id JOIN sig sb ON c.doc_b = sb.doc_id
       |), thr AS (
       |  SELECT doc_a, doc_b, m, t.min_matches
       |  FROM scored, (SELECT unnest([6, 9, 11, 12]) AS min_matches) t
       |  WHERE m >= min_matches
       |)
       |, pairs_at AS (
       |  SELECT min_matches, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM thr GROUP BY 1
       |), docs_at AS (
       |  SELECT min_matches, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
       |    SELECT DISTINCT min_matches, doc_id FROM (
       |      SELECT min_matches, doc_a AS doc_id FROM thr
       |      UNION ALL
       |      SELECT min_matches, doc_b FROM thr) u) d
       |  GROUP BY 1
       |)
       |SELECT CAST(p.min_matches AS BIGINT) AS min_matches, p.n_pairs, d.n_docs
       |FROM pairs_at p JOIN docs_at d USING (min_matches)
       |ORDER BY min_matches""".stripMargin

  /** Cross-source contamination matrix: MinHash near-dup pairs rolled
    * up by unordered source pair — "which origins copy from each
    * other", the per-source overlap audit run before mixing corpora
    * (off-diagonal mass = cross-source contamination; diagonal =
    * within-source duplication). Reuses [[minhashPairs]] verbatim (the
    * LSH band-bucket join bounds the pair term); the rollup is two
    * source equi-joins on the doc-id projection + ONE pair-keyed
    * partial agg onto the \|sources\|²-bounded frame — the text column
    * never moves.
    */
  def dedupCrossSource(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    minhashPairs(docs)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  val dedupCrossSourceSql: String =
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($dedupMinhashSql) p)
       |SELECT least(da.source, db.source) AS source_a,
       |  greatest(da.source, db.source) AS source_b,
       |  COUNT(*) AS n_pairs
       |FROM pairs
       |JOIN documents da ON pairs.doc_a = da.doc_id
       |JOIN documents db ON pairs.doc_b = db.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** MinHash-LSH acceptance gate: recall AND precision of the
    * production near-dup path ([[minhashPairs]] — band buckets + k=12
    * signature agreement ≥ 0.5) against the EXACT set-Jaccard ≥ 0.5
    * pair set — the knn_recall-style grade for the dedup family. An
    * LSH configuration is a (bands, rows, k) gamble on the S-curve;
    * this is the query that checks the gamble against ground truth
    * before a 100 TB run trusts it.
    *
    * The exact side is complete, not sampled: a pair with J ≥ 0.5
    * shares ≥ one shingle, so the inverted-index join on shingle hash
    * ENUMERATES every qualifying pair (pairs sharing nothing have
    * J = 0 and can't qualify) — no all-pairs product. Its cost is
    * Σ df² over distinct shingles — the documented audit-path price
    * (same contract as sketch_quantile_error's exact side): run it on
    * a slice to grade the config, run only the LSH path at scale.
    * J ≥ 0.5 is decided in integers (3·|∩| ≥ |A| + |B|) — no float.
    *
    * Output (one row): exact/detected/hit pair counts, recall and
    * precision in ppm. Both ppm quotients are output-bounded integer
    * math; counts BIGINT-safe at any corpus (pair counts are
    * output-sized, not corpus²).
    */
  def dedupMinhashRecall(s: SparkSession, dir: String): DataFrame =
    minhashRecallFor(Tables.documents(s, dir))

  /** the gate over ANY (doc_id, text) frame — the library entry point
    * (run it on a stratified slice of the lake; the exact side is
    * priced for slices).
    */
  def minhashRecallFor(docs: DataFrame): DataFrame = {
    val exact = shingleOverlap(docs)
      .filter(expr("3 * i >= na + nb"))
      .select("doc_a", "doc_b")
    val det = minhashPairs(docs).select("doc_a", "doc_b")
    MinhashGrade.sweep(exact, det, Seq("doc_a", "doc_b")).select(MinhashGrade.graded: _*)
  }

  private val MinhashGrade = Grade.Pairs("n_exact_pairs", "n_detected_pairs")

  val dedupMinhashRecallSql: String =
    s"""WITH ${shingleOverlapSql("documents")}, exact AS (
       |  SELECT doc_a, doc_b FROM overlap WHERE 3 * i >= na + nb
       |), det AS (
       |  SELECT doc_a, doc_b FROM ($dedupMinhashSql) d
       |), hits AS (
       |  SELECT e.doc_a, e.doc_b FROM exact e JOIN det USING (doc_a, doc_b)
       |), c AS (
       |  SELECT ${MinhashGrade.countsSql("det")}
       |)
       |SELECT ${MinhashGrade.gradedSql}
       |FROM c""".stripMargin

  /** The banding sweep's configurations: every (bands, rows) split of
    * the k=12 signature. More bands × fewer rows = higher recall,
    * lower precision (the S-curve steepens left); the production
    * config (4×3) sits where this table says it should.
    */
  val BandingConfigs: Seq[(Int, Int)] = Seq((2, 6), (3, 4), (4, 3), (6, 2))

  private val BandingGrade = Grade.Pairs("n_exact", "n_detected")

  /** LSH banding S-curve sweep: candidate volume, detected pairs,
    * recall AND precision vs the exact J ≥ 0.5 set for EVERY (bands,
    * rows) split of the same k=12 signature — the table you read
    * before committing a banding config to a 100 TB run
    * (dedup_minhash_recall grades the ONE production config; this
    * grades the alternatives so the choice is evidence, not folklore).
    *
    * Cost: the exact side (Σ df² inverted-index enumeration — the
    * documented audit-path price) is paid ONCE and shared; the configs
    * ride one band frame, so one band-bucket self-join over the SAME
    * materialized signature frame serves them all, and one grading pass
    * ([[Grade.Pairs.sweep]]) counts every config. Audit-tier: run on a
    * stratified slice, like the recall gate.
    */
  def dedupBandingSweep(s: SparkSession, dir: String): DataFrame =
    bandingSweepFor(Tables.documents(s, dir))

  /** the sweep over ANY (doc_id, text) frame — library entry point. */
  def bandingSweepFor(docs: DataFrame): DataFrame = {
    val sig = Materialize.stable(docs
      .select(col("doc_id"), expr(sparkMinhash(sparkShingleHashes("text"))).as("mh")))
    val exact = shingleOverlap(docs)
      .filter(expr("3 * i >= na + nb"))
      .select("doc_a", "doc_b")
    // every config's bands on one frame: the self-join, the distinct
    // and the signature verify each run once for the whole sweep
    val configs = BandingConfigs.map { case (nb, r) =>
      struct(lit(nb.toLong).as("bands"), lit(r.toLong).as("rows_per_band"))
    }
    val bands = sig.select(col("doc_id"), col("mh"), inline(array(configs: _*)))
      .withColumn("b", explode(expr("sequence(0, CAST(bands AS INT) - 1)")))
      .withColumn("bv", expr("array_join(transform(slice(mh, b * CAST(rows_per_band AS INT) + 1, " +
        "CAST(rows_per_band AS INT)), x -> CAST(x AS STRING)), ':')"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bands") === col("y.bands") && col("x.b") === col("y.b") &&
          col("x.bv") === col("y.bv") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.bands"), col("x.rows_per_band"),
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .join(sig.select(col("doc_id").as("doc_a"), col("mh").as("ma")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("mh").as("mb")), Seq("doc_b"))
      .withColumn("det", expr(s"2 * size(filter(sequence(1, $MinhashK), " +
        s"i -> element_at(ma, i) = element_at(mb, i))) >= $MinhashK"))
      .select("bands", "rows_per_band", "doc_a", "doc_b", "det")
    BandingGrade.sweep(exact, cand, Seq("doc_a", "doc_b"), configs,
        detected = col("det"), more = Seq(count(col(Grade.InFound)).as("n_candidates")))
      .select(Seq("bands", "rows_per_band", "n_candidates", "n_detected", "n_exact", "n_hits")
        .map(col) ++ BandingGrade.ppms: _*).orderBy("bands")
  }

  val dedupBandingSweepSql: String = {
    val ctes = BandingConfigs.map { case (nb, r) =>
      s"""bands_$nb AS (
         |  SELECT doc_id, bs.b AS b,
         |    array_to_string(list_slice(mh, bs.b * $r + 1, bs.b * $r + $r), ':') AS bv
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, $nb)) AS b) bs
         |), cand_$nb AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands_$nb x JOIN bands_$nb y
         |    ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
         |), det_$nb AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand_$nb c JOIN sig sa ON c.doc_a = sa.doc_id
         |    JOIN sig sb ON c.doc_b = sb.doc_id
         |  WHERE 2 * len(list_filter(range(1, ${MinhashK + 1}), i -> sa.mh[i] = sb.mh[i])) >= $MinhashK
         |), hits_$nb AS (
         |  SELECT e.doc_a, e.doc_b FROM exact e JOIN det_$nb d USING (doc_a, doc_b)
         |)""".stripMargin
    }
    val rows = BandingConfigs.map { case (nb, r) =>
      s"""SELECT CAST($nb AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_$nb) AS n_candidates,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM det_$nb) AS n_detected,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hits_$nb) AS n_hits""".stripMargin
    }
    s"""WITH sig AS (
       |  SELECT doc_id, ${duckMinhash(duckShingleHashes("text"))} AS mh FROM documents
       |), ${shingleOverlapSql("documents")}, exact AS (
       |  SELECT doc_a, doc_b FROM overlap WHERE 3 * i >= na + nb
       |), ${ctes.mkString(", ")},
       |nex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact)
       |SELECT bands, rows_per_band, n_candidates, n_detected, n_exact, n_hits,
       |  ${BandingGrade.ppmsSql}
       |FROM (${rows.mkString(" UNION ALL ")}) u, nex
       |ORDER BY bands""".stripMargin
  }

  /** Duplicate-cluster size histogram — the headline "how duplicated
    * is my corpus" table every pipeline reports (cluster count and doc
    * mass per cluster size; dedup would keep one representative per
    * cluster, so Σ(size−1)·n_clusters docs are removable). Composes
    * [[connectedComponents]] over the verified near-dup pairs; the
    * rollup is two output-sized partial aggs (clusters, then the
    * size-bounded histogram).
    */
  def dedupClustersHist(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir)
    clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", expr("cluster_size * n_clusters"))
      .withColumn("n_removable", expr("(cluster_size - 1) * n_clusters"))
      .select("cluster_size", "n_clusters", "n_docs", "n_removable")
      .orderBy("cluster_size")
  }

  val dedupClustersHistSql: String =
    s"""WITH clusters AS (
       |  SELECT doc_id, cluster_id FROM ($dedupClustersSql) c
       |), sizes AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM clusters GROUP BY 1
       |)
       |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  cluster_size * CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  (cluster_size - 1) * CAST(COUNT(*) AS BIGINT) AS n_removable
       |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-source dedup impact: what near-dup dedup would DO to the
    * corpus mixture — doc and token mass removed per source if every
    * cluster kept only its min-id representative. The table you read
    * next to corpus_mix before training: dedup shifts the source
    * weights (boilerplate-heavy sources lose disproportionate mass),
    * and this quantifies the shift BEFORE you re-balance.
    *
    * Scale shape: token counts are map-side codegen column math (the
    * text_tokens expression); the cluster frame is output-sized
    * (docs-in-pairs only, dedup_clusters' artifact) and joins back on
    * doc_id; the rollup is one source-bounded partial agg. Drop rule =
    * cluster member with cluster_id ≠ doc_id (the min-id member IS the
    * cluster label, so exactly one survivor per cluster by
    * construction).
    */
  def corpusDedupImpact(s: SparkSession, dir: String): DataFrame =
    dedupImpactFor(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        expr("CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT)").as("n_tokens")),
      dedupClusters(s, dir))

  /** the impact rollup over ANY (doc_id, source, n_tokens) frame and
    * ANY (doc_id, cluster_id) cluster frame whose labels are min
    * member ids — library entry point (pair it with
    * [[connectedComponents]] over whichever near-dup pair frame the
    * pipeline trusts).
    */
  def dedupImpactFor(docs: DataFrame, clusters: DataFrame): DataFrame = {
    docs.join(clusters.select("doc_id", "cluster_id"), Seq("doc_id"), "left")
      .withColumn("dropped", expr(
        "CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dropped")).as("n_dropped"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(expr("dropped * n_tokens")).as("tokens_dropped"))
      .withColumn("doc_drop_ppm", expr("n_dropped * 1000000 div n_docs"))
      .withColumn("token_drop_ppm", expr(
        "CASE WHEN tokens_total = 0 THEN CAST(0 AS BIGINT) ELSE tokens_dropped * 1000000 div tokens_total END"))
      .select("source", "n_docs", "n_dropped", "tokens_total", "tokens_dropped",
        "doc_drop_ppm", "token_drop_ppm")
      .orderBy("source")
  }

  val corpusDedupImpactSql: String =
    s"""WITH clusters AS (
       |  SELECT doc_id, cluster_id FROM ($dedupClustersSql) c
       |), docs AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), flagged AS (
       |  SELECT source, n_tokens,
       |    CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id
       |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS dropped
       |  FROM docs LEFT JOIN clusters USING (doc_id)
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       |  CAST(SUM(dropped * n_tokens) AS BIGINT) AS tokens_dropped,
       |  CAST(SUM(dropped) AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT) AS doc_drop_ppm,
       |  CASE WHEN CAST(SUM(n_tokens) AS BIGINT) = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST(SUM(dropped * n_tokens) AS BIGINT) * 1000000
       |            // CAST(SUM(n_tokens) AS BIGINT) END AS token_drop_ppm
       |FROM flagged GROUP BY source ORDER BY source""".stripMargin

  /** fixed stage order of [[dedupAttribution]] — a production
    * pipeline's cost ordering, cheapest first: a doc removed by an
    * early stage never pays a later one.
    */
  val AttributionStages: Seq[String] =
    Seq("exact", "url", "prefix", "minhash", "containment", "semantic", "kept")

  /** Per-stage dedup attribution: ONE table saying which removal stage
    * fires FIRST on each document and what doc/token mass it takes —
    * the number a deployment reads to decide which stages are worth
    * their cost (corpus_dedup_impact prices only the near-dup stage;
    * this is the whole lattice). Stage rules are each stage's own
    * documented removal discipline over the union corpus (base ∪ the
    * three planted re-ingestion families, so every content stage
    * demonstrably fires):
    *   - exact / url / prefix: min-id keep within the byte-fingerprint /
    *     canonical-URL / prefix-fingerprint group (the synthesized
    *     4-variant URL groups make `url` the dominant remover on THIS
    *     corpus — exactly the mixture-shift readout the table exists
    *     to surface);
    *   - minhash: non-representative member of the verified near-dup
    *     components (dedup_clusters' min-label rule);
    *   - containment: the CONTAINED side (smaller shingle set; id
    *     tiebreak) of any verified containment pair — NOT components:
    *     a host doc is a hub joining unrelated contained docs, so
    *     transitive closure would wrongly merge them;
    *   - semantic: SemDeDup keep=false over the embeddings, linked by
    *     the shared id space (docs without an embedding — the corpus
    *     tail past the embedded slice — cannot fire this stage, as in
    *     production where the semantic pass sees only embedded docs).
    * First-to-fire attribution is per-doc and stage-independent, so the
    * lattice needs no sequential keep-list materialization.
    *
    * Measured lattice at sf0.01 (the readout in action): minhash
    * attributes ZERO docs — every verified near-dup in this corpus
    * shares its 24-word prefix, so the cheaper prefix stage fires
    * first. That is the table's purpose: it says a deployment on this
    * mixture could drop the minhash pass (or re-order it) and lose
    * nothing — the per-stage invoice no single-stage impact query
    * (corpus_dedup_impact) can produce.
    *
    * Scale shape: features (tokens, byte/prefix fingerprints, canonical
    * url) are map-side column math and TEXT IS DROPPED before the three
    * census windows, so each of the three key-shuffles carries ~40-byte
    * rows; minhash components and containment pairs are the frames the
    * dedup family already prices (output-sized, equi-joined back on
    * doc_id); the rollup is a 7-row axis LEFT JOIN + the q22 one-row
    * totals broadcast (intended BroadcastNestedLoopJoin).
    */
  def dedupAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // plantId guard on ALL THREE plants (the SQL side replays the bare
    // arithmetic — the guard asymmetry is deliberate: Spark fails loud
    // where parity would otherwise hide an id-space collision)
    val exactP = base.filter(pmod(col("doc_id"), lit(10)) === 3)
      .select(plantId(col("doc_id"), 100000L).as("doc_id"), col("text"))
    val prefixP = base.filter(pmod(col("doc_id"), lit(10)) === 4)
      .select(plantId(col("doc_id"), 200000L).as("doc_id"),
        concat(col("text"), lit(" editor note appended after republish")).as("text"))
    val containP = containmentPlant(base)
    // map-side features, then DROP the text: the census windows below
    // shuffle narrow (id, tokens, 3 keys) rows, never the corpus bytes
    val feat = base.union(exactP).union(prefixP).union(containP)
      .withColumn("n_tokens",
        expr("CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT)"))
      .withColumn("fp", expr(sparkFingerprint("text")))
      .withColumn("canon", WebCorpus.canonicalize(WebCorpus.urlCol))
      .withColumn("pfp", expr(sparkFingerprint(
        s"array_join(slice(filter(split(text, ' '), w -> w <> ''), 1, $PrefixWords), ' ')")))
      .select("doc_id", "n_tokens", "fp", "canon", "pfp")
    val mh = dedupClusters(s, dir).select(col("doc_id"), col("cluster_id"))
    val contDrops = dedupContainmentLsh(s, dir)
      .select(when(col("na") < col("nb"), col("doc_a"))
        .when(col("nb") < col("na"), col("doc_b"))
        .otherwise(greatest(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val semDrops = Similarity.dedupSemantic(s, dir).filter(!col("keep"))
      .select(col("vec_id").as("doc_id"))
    // one window pass computes the three census flags, materialized so
    // the per-stage drop frames are cheap filters over it; the
    // first-to-fire rollup then goes through the PARAMETERIZED lattice
    // entry (graft.api.CorpusOps.attributionFor) — this contract query
    // is the 7-stage instantiation of the library census, so a
    // deployment with its own stage order runs the same code path
    // (the neardupWeightsFor rewiring idiom)
    val flagged = Materialize.stable(feat
      .withColumn("drop_exact", col("doc_id") > min("doc_id").over(Window.partitionBy("fp")))
      .withColumn("drop_url", col("doc_id") > min("doc_id").over(Window.partitionBy("canon")))
      .withColumn("drop_prefix", col("doc_id") > min("doc_id").over(Window.partitionBy("pfp")))
      .select("doc_id", "n_tokens", "drop_exact", "drop_url", "drop_prefix"))
    val dropFrames = Map(
      "exact" -> flagged.filter(col("drop_exact")).select("doc_id"),
      "url" -> flagged.filter(col("drop_url")).select("doc_id"),
      "prefix" -> flagged.filter(col("drop_prefix")).select("doc_id"),
      "minhash" -> mh.filter(col("cluster_id") =!= col("doc_id")).select("doc_id"),
      "containment" -> contDrops.select("doc_id"),
      "semantic" -> semDrops.select("doc_id"))
    graft.api.CorpusOps.attributionFor(
      flagged.select("doc_id", "n_tokens"),
      AttributionStages.init.map(n => n -> dropFrames(n)))
  }

  val dedupAttributionSql: String = {
    val arr = WebCorpus.Domains.map(d => s"'$d'").mkString("[", ",", "]")
    val prefExpr = s"array_to_string(list_slice(list_filter(string_split(text, ' '), w -> w <> ''), 1, $PrefixWords), ' ')"
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 3
       |  UNION ALL
       |  SELECT doc_id + 200000, text || ' editor note appended after republish'
       |  FROM documents WHERE doc_id % 10 = 4
       |  UNION ALL ${containmentPlantSql()}
       |), urls AS (
       |  SELECT doc_id, ($arr)[CAST((doc_id // 4) % 8 + 1 AS INT)] AS dom,
       |    '/p' || CAST(doc_id // 4 AS VARCHAR) AS page
       |  FROM all_docs
       |), feat AS (
       |  SELECT d.doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens,
       |    ${duckFingerprint("text")} AS fp,
       |    ${WebCorpus.duckCanon(s"(${WebCorpus.duckUrl})")} AS canon,
       |    ${duckFingerprint(prefExpr)} AS pfp
       |  FROM all_docs d JOIN urls USING (doc_id)
       |), flags AS (
       |  SELECT doc_id, n_tokens,
       |    doc_id > MIN(doc_id) OVER (PARTITION BY fp) AS drop_exact,
       |    doc_id > MIN(doc_id) OVER (PARTITION BY canon) AS drop_url,
       |    doc_id > MIN(doc_id) OVER (PARTITION BY pfp) AS drop_prefix
       |  FROM feat
       |), mh AS (
       |  SELECT doc_id, cluster_id FROM ($dedupClustersSql) t
       |), cont AS (
       |  SELECT DISTINCT CASE WHEN na < nb THEN doc_a WHEN nb < na THEN doc_b
       |    ELSE greatest(doc_a, doc_b) END AS doc_id
       |  FROM ($dedupContainmentLshSql) t
       |), sem AS (
       |  SELECT vec_id AS doc_id FROM (${Similarity.dedupSemanticSql}) t WHERE NOT keep
       |), staged AS (
       |  SELECT fl.n_tokens,
       |    CASE WHEN fl.drop_exact THEN 'exact'
       |         WHEN fl.drop_url THEN 'url'
       |         WHEN fl.drop_prefix THEN 'prefix'
       |         WHEN m.cluster_id IS NOT NULL AND m.cluster_id <> fl.doc_id THEN 'minhash'
       |         WHEN co.doc_id IS NOT NULL THEN 'containment'
       |         WHEN se.doc_id IS NOT NULL THEN 'semantic'
       |         ELSE 'kept' END AS stage
       |  FROM flags fl
       |  LEFT JOIN mh m ON m.doc_id = fl.doc_id
       |  LEFT JOIN cont co ON co.doc_id = fl.doc_id
       |  LEFT JOIN sem se ON se.doc_id = fl.doc_id
       |), agg AS (
       |  SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |  FROM staged GROUP BY 1
       |), axis(stage_ord, stage) AS (
       |  VALUES ${AttributionStages.zipWithIndex.map { case (st, i) => s"(${i + 1}, '$st')" }.mkString(", ")}
       |), tot AS (
       |  SELECT CAST(SUM(n_docs) AS BIGINT) AS td, CAST(SUM(n_tokens) AS BIGINT) AS tt FROM agg
       |)
       |SELECT axis.stage_ord, axis.stage,
       |  COALESCE(a.n_docs, 0) AS n_docs, COALESCE(a.n_tokens, 0) AS n_tokens,
       |  COALESCE(a.n_docs, 0) * 1000000 // tot.td AS doc_ppm,
       |  COALESCE(a.n_tokens, 0) * 1000000 // tot.tt AS token_ppm
       |FROM axis LEFT JOIN agg a USING (stage) CROSS JOIN tot
       |ORDER BY stage_ord""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_attribution" -> (dedupAttribution _),
    "dedup_clusters_hist" -> (dedupClustersHist _),
    "corpus_dedup_impact" -> (corpusDedupImpact _),
    "dedup_minhash_recall" -> (dedupMinhashRecall _),
    "dedup_banding_sweep" -> (dedupBandingSweep _),
    "dedup_cross_source" -> (dedupCrossSource _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_incremental_lsh" -> (dedupIncrementalLsh _),
    "dedup_incremental_containment" -> (dedupIncrementalContainment _),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "dedup_spans" -> (dedupSpans _),
    "dedup_exact" -> (dedupExact _),
    "dedup_prefix" -> (dedupPrefix _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_containment_lsh" -> (dedupContainmentLsh _),
    "dedup_containment_recall" -> (dedupContainmentRecall _),
    "dedup_len_bias" -> (dedupLenBias _),
    "dedup_minhash" -> (dedupMinhash _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_ngram" -> (dedupNgram _),
    "dedup_clusters" -> (dedupClusters _),
    "text_contamination" -> (textContamination _))

  val oracles: Map[String, String] = Map(
    "dedup_attribution" -> dedupAttributionSql,
    "dedup_clusters_hist" -> dedupClustersHistSql,
    "corpus_dedup_impact" -> corpusDedupImpactSql,
    "dedup_minhash_recall" -> dedupMinhashRecallSql,
    "dedup_banding_sweep" -> dedupBandingSweepSql,
    "dedup_cross_source" -> dedupCrossSourceSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_incremental_lsh" -> dedupIncrementalLshSql,
    "dedup_incremental_containment" -> dedupIncrementalContainmentSql,
    "dedup_threshold_sweep" -> dedupThresholdSweepSql,
    "dedup_spans" -> dedupSpansSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_prefix" -> dedupPrefixSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_containment_lsh" -> dedupContainmentLshSql,
    "dedup_containment_recall" -> dedupContainmentRecallSql,
    "dedup_len_bias" -> dedupLenBiasSql,
    "dedup_minhash" -> dedupMinhashSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_ngram" -> dedupNgramSql,
    "dedup_clusters" -> dedupClustersSql,
    "text_contamination" -> textContaminationSql)
}
