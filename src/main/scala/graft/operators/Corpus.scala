package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.functions.PortableHash.q6
import graft.sources.Tables

/** Corpus-shaping operators for training-data pipelines (SURVEY §2):
  * deterministic stratified sampling, context-window chunking, and
  * token-budget sequence packing. All map-side column math plus the one
  * aggregation each op inherently needs — no sampling RNG (hash-based
  * sampling is reproducible run-to-run and engine-independent, which is
  * what a 100 TB ingest actually wants: re-running a failed partition
  * must select the same rows).
  */
object Corpus {

  // ---- stratified sampling ----------------------------------------------

  /** per-stratum keep-rates in parts-per-million (event_type strata). */
  val SampleRatesPpm: Seq[(String, Long)] =
    Seq("click" -> 200000L, "view" -> 50000L, "purchase" -> 1000000L)
  val SampleDefaultPpm = 500000L
  val SampleMixConst = 2654435761L // Knuth multiplicative constant

  /** Overflow-safe Knuth mix hash: `((id mod m) * SampleMixConst) mod m`.
    * Value-identical to `(id * const) mod m` for non-negative ids
    * (modular arithmetic: the product mod m depends only on id mod m),
    * but the intermediate product is bounded by (m-1)*const < 2^63 for
    * any m <= 1e9+7, so it never wraps Int64. Without the pre-reduce,
    * doc_id >= ~3.5e9 (inside the 100 TB regime) overflows the raw
    * product and JVM signed `%`, Spark `pmod` and DuckDB
    * sign-preserving `%` each diverge differently — the batch, stream
    * and oracle paths would silently select different rows. All three
    * paths (Spark column, oracle SQL, driver/stream JVM replay) use
    * these helpers so they agree at ANY id.
    */
  def mixHash(id: org.apache.spark.sql.Column, m: Long): org.apache.spark.sql.Column =
    pmod(pmod(id, lit(m)) * lit(SampleMixConst), lit(m))

  /** DuckDB/Spark-SQL twin of [[mixHash]] (non-negative ids ⇒ `%` == pmod). */
  def mixHashSql(idExpr: String, m: Long): String =
    s"((($idExpr) % $m) * $SampleMixConst) % $m"

  /** JVM twin of [[mixHash]] for stream-state and driver-recount paths. */
  def mixHashJvm(id: Long, m: Long): Long = ((id % m) * SampleMixConst) % m

  /** Deterministic stratified sampler: keep a row iff
    * `(event_id * knuth) mod 1e6 < rate(stratum)`. No RNG state, no
    * sampleBy seed drift across retries — the decision is a pure
    * function of the row. One partial-aggregated groupBy reports
    * per-stratum totals/kept so the realized rate is auditable.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val h = mixHash(col("event_id"), 1000000L)
    val rate = SampleRatesPpm.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (t, r)) => acc.when(col("event_type") === t, lit(r))
    }.otherwise(lit(SampleDefaultPpm))
    Tables.events(s, dir)
      .withColumn("kept", (h < rate).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(col("kept")).as("n_sampled"),
        expr("floor(CAST(sum(kept) AS DOUBLE) / count(1) * 1000000) / CAST(1000000 AS DOUBLE)")
          .as("realized_rate"),
        expr("CAST(ROUND(SUM(CASE WHEN kept = 1 THEN CAST(value AS DECIMAL(12,2)) END), 2) AS DOUBLE)")
          .as("sum_value_sampled"))
      .orderBy("event_type")
  }

  val sampleStratifiedSql: String = {
    val cases = SampleRatesPpm
      .map { case (t, r) => s"WHEN event_type = '$t' THEN $r" }
      .mkString(" ")
    s"""SELECT event_type,
       |  COUNT(*) AS n_total,
       |  CAST(SUM(kept) AS BIGINT) AS n_sampled,
       |  floor(CAST(SUM(kept) AS DOUBLE) / COUNT(*) * 1000000) / CAST(1000000 AS DOUBLE) AS realized_rate,
       |  CAST(ROUND(SUM(CASE WHEN kept = 1 THEN CAST(value AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS sum_value_sampled
       |FROM (
       |  SELECT event_type, value,
       |    CASE WHEN ${mixHashSql("event_id", 1000000L)} <
       |      (CASE $cases ELSE $SampleDefaultPpm END)
       |    THEN 1 ELSE 0 END AS kept
       |  FROM events) t
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---- context-window chunking ------------------------------------------

  val ChunkWords = 64 // context-window size, in words
  val ChunkStride = 48 // overlap = ChunkWords - ChunkStride

  /** Split every document into fixed-size overlapping word windows —
    * the context-window chunker in front of a tokenizer. One
    * explode per chunk (output-volume bound), everything else is
    * map-side array math; chunk identity is arithmetic on the start
    * offset, so no window function and no ordering shuffle.
    */
  def textChunk(s: SparkSession, dir: String): DataFrame = {
    val fp = s"(acc, h) -> (acc * 1000003 + h) % ${PortableHash.P}"
    textChunkFor(Tables.documents(s, dir), ChunkWords, ChunkStride)
      .select(col("doc_id"), col("chunk_idx"),
        expr("CAST(start AS BIGINT)").as("start_word"),
        expr("CAST(size(chunk) AS BIGINT)").as("n_chunk_words"),
        expr(s"aggregate(transform(chunk, w -> ${PortableHash.sparkWordHash("w")}), 0L, $fp)")
          .as("chunk_fp"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** The text_chunk body over a `text` column: one row per
    * `words`-word chunk every `stride` words, adding `words`, `start`,
    * `chunk` (the chunk's words) and `chunk_idx`; shared with
    * [[graft.api.CorpusOps.chunk]].
    */
  private[graft] def textChunkFor(docs: DataFrame, words: Int, stride: Int): DataFrame =
    docs
      .withColumn("words", expr("filter(split(text, ' '), w -> w <> '')"))
      .withColumn("start", explode(expr(s"sequence(1, greatest(1, size(words)), $stride)")))
      .withColumn("chunk", expr(s"slice(words, start, $words)"))
      .withColumn("chunk_idx", expr(s"CAST((start - 1) div $stride AS BIGINT)"))

  val textChunkSql: String =
    s"""SELECT doc_id,
       |  (start - 1) // $ChunkStride AS chunk_idx,
       |  CAST(start AS BIGINT) AS start_word,
       |  CAST(len(chunk) AS BIGINT) AS n_chunk_words,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(chunk, w -> ${PortableHash.duckWordHash("w")})),
       |    (acc, h) -> (acc * 1000003 + h) % ${PortableHash.P}) AS chunk_fp
       |FROM (
       |  SELECT doc_id, start, list_slice(words, start, start + ${ChunkWords - 1}) AS chunk
       |  FROM (
       |    SELECT doc_id, words, unnest(range(1, greatest(1, len(words)) + 1, $ChunkStride)) AS start
       |    FROM (
       |      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
       |      FROM documents) t0) t1) t2
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- token-budget sequence packing ------------------------------------

  val PackBudget = 8192L // tokens per packed sequence bin
  val PackShardDocs = 125L // docs per packing shard

  /** Greedy token-budget packing: concatenate documents in doc_id order
    * until the running token count crosses the budget, emit per-bin
    * stats. Packing is SHARDED (doc_id div [[PackShardDocs]]) — the
    * running sum is a window WITHIN a shard, so the plan never funnels
    * the corpus through one partition the way a global ORDER BY window
    * would; shards pack independently and in parallel, which is exactly
    * how a multi-writer training-data job lays out its output files.
    */
  def packBins(s: SparkSession, dir: String): DataFrame =
    packBinsFor(Tables.documents(s, dir)
        .select(col("doc_id"), expr(nTokensOf("text")).as("n_tokens")),
      PackBudget, PackShardDocs)
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard", "bin")

  /** whitespace token count of `textCol`, the n_tokens of pack_bins. */
  private[graft] def nTokensOf(textCol: String): String =
    s"CAST(size(filter(split($textCol, ' '), w -> w <> '')) AS BIGINT)"

  /** The pack_bins body over (doc_id, n_tokens): adds `shard` (doc_id
    * div `shardDocs`) and the greedy `bin` within it under
    * `budgetTokens`; shared with [[graft.api.CorpusOps.packBins]] and
    * [[graft.api.CorpusOps.curationPipeline]].
    */
  private[graft] def packBinsFor(docs: DataFrame, budgetTokens: Long, shardDocs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("shard", expr(s"doc_id div $shardDocs"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(cum - n_tokens) div $budgetTokens"))
      .drop("cum")
  }

  val packBinsSql: String =
    s"""SELECT shard, bin, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM (
       |  SELECT doc_id, shard, n_tokens,
       |    (CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens)
       |      // $PackBudget AS bin
       |  FROM (
       |    SELECT doc_id, doc_id // $PackShardDocs AS shard,
       |      CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens
       |    FROM documents) t0) t1
       |GROUP BY shard, bin ORDER BY shard, bin""".stripMargin

  // ---- end-to-end curation ----------------------------------------------

  val CurateMinWords = 20L
  val CurateMinScore = 0.27 // ~corpus median — the knob a real pipeline tunes

  /** The composite curation pass a real pipeline runs before training:
    * quality score + language ID + near-dup membership fold into one
    * keep/drop decision with a reason. Everything except the dup check
    * is map-side column math on the scan; the dup check is one
    * broadcast-able semi-join against the verified near-dup pairs (the
    * non-representative side of each pair drops). First failing check
    * wins the reason, so the decision is totally deterministic.
    */
  def corpusCurate(s: SparkSession, dir: String): DataFrame = {
    val langs = TextAnalysis.lexicons.map(_._1)
    val scored = TextAnalysis.qualityFor(TextAnalysis.lexicons.foldLeft(Tables.documents(s, dir)) {
      case (df, (lang, lex)) => df.withColumn(s"s_$lang", expr(TextAnalysis.sparkLexCount(lex)))
    })
    val pred = langs.foldRight(lit(langs.last)) { case (lang, acc) =>
      val others = langs.filterNot(_ == lang).map(l => col(s"s_$l"))
      when(col(s"s_$lang") >= greatest(others: _*), lang).otherwise(acc)
    }
    val dups = Dedup.dedupMinhash(s, dir)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("dup_mark", lit(true))
    val reason = when(col("n_words") < CurateMinWords, "too_short")
      .when(col("is_dup"), "near_dup")
      .when(col("score") < CurateMinScore, "low_quality")
      .otherwise("keep")
    scored
      .withColumn("predicted", pred)
      .join(dups, Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("dup_mark"), lit(false)))
      .withColumn("reason", reason)
      .select(col("doc_id"), col("n_words"), col("score"), col("predicted"),
        col("is_dup"), col("reason"), (col("reason") === "keep").as("keep"))
      .orderBy("doc_id")
  }

  val corpusCurateSql: String = {
    val langs = TextAnalysis.lexicons.map(_._1)
    val scores = TextAnalysis.lexicons
      .map { case (lang, lex) => s"${TextAnalysis.duckLexCount(lex)} AS s_$lang" }
      .mkString(",\n      ")
    val pred = langs.init.foldRight(s"'${langs.last}'") { case (lang, acc) =>
      val others = langs.filterNot(_ == lang).map(l => s"s_$l").mkString("greatest(", ", ", ")")
      s"CASE WHEN s_$lang >= $others THEN '$lang' ELSE $acc END"
    }
    val dr = q6("CAST(len(list_distinct(words)) AS DOUBLE) / n_words")
    val sr = q6("CAST(len(list_filter(words, w -> list_contains(['the', 'a', 'and', 'of', 'to'], w))) AS DOUBLE) / n_words")
    val score = q6(s"CAST(0.4 AS DOUBLE) * least(CAST(1 AS DOUBLE), CAST(n_words AS DOUBLE) / CAST(200 AS DOUBLE)) + CAST(0.3 AS DOUBLE) * ($dr) + CAST(0.3 AS DOUBLE) * ($sr)")
    s"""WITH dups AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (${Dedup.dedupMinhashSql}) mp
       |), feat AS (
       |  SELECT doc_id, n_words, $score AS score, $pred AS predicted
       |  FROM (
       |    SELECT doc_id, words, CAST(len(words) AS BIGINT) AS n_words,
       |      $scores
       |    FROM (
       |      SELECT doc_id, text, list_filter(string_split(text, ' '), w -> w <> '') AS words
       |      FROM documents) t0) t1
       |)
       |SELECT doc_id, n_words, score, predicted,
       |  (dup_id IS NOT NULL) AS is_dup,
       |  reason, (reason = 'keep') AS keep
       |FROM (
       |  SELECT f.*, d.doc_id AS dup_id,
       |    CASE WHEN n_words < $CurateMinWords THEN 'too_short'
       |         WHEN d.doc_id IS NOT NULL THEN 'near_dup'
       |         WHEN score < $CurateMinScore THEN 'low_quality'
       |         ELSE 'keep' END AS reason
       |  FROM feat f LEFT JOIN dups d USING (doc_id)) x
       |ORDER BY doc_id""".stripMargin
  }

  // ---- domain-mixture planning ------------------------------------------

  /** target mixture shares in ppm; sources absent here are excluded. */
  val MixTargetsPpm: Seq[(String, Long)] = Seq(
    "src0" -> 300000L, "src1" -> 300000L, "src2" -> 250000L, "src3" -> 150000L)

  /** Domain-mixture planner — the "how much of each source goes into
    * the training mix" pass: given per-source target shares, find the
    * largest corpus M every share can be served from availability
    * (M = min over sources of n_avail·1e6/target), then per-source
    * take counts and realized shares. All integer arithmetic until the
    * final q6 ratios.
    *
    * Scale shape: one partial-agg count per source collapses the
    * corpus to the SOURCE-CARDINALITY frame (dozens of rows,
    * materialized once); the two frame-wide scalars (min cap, Σtake)
    * re-attach via the q22 `crossJoin(broadcast(one-row agg))` idiom —
    * not unpartitioned windows, so the `No Partition Defined` warning
    * stays a real-defect signal. The corpus itself is never
    * reshuffled; the plan output feeds the deterministic hash sampler
    * ([[graft.api.CorpusOps.sampleStratified]]) which executes the mix
    * map-side.
    */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val taken = corpusMixFor(Tables.documents(s, dir), MixTargetsPpm)
    taken.crossJoin(broadcast(taken.agg(sum("n_take").as("total_take"))))
      .withColumn("realized_ppm", expr(
        "floor(CAST(n_take AS DOUBLE) / CAST(total_take AS DOUBLE) * 1000000 * 1000000) / CAST(1000000 AS DOUBLE)"))
      .select("source", "target_ppm", "n_avail", "n_take", "realized_ppm")
      .orderBy("source")
  }

  /** The corpus_mix plan over a `source` column: per source with a
    * positive target, `n_avail`, `target_ppm`, the largest servable
    * corpus `m` and `n_take`; shared with [[graft.api.CorpusOps.mixPlan]].
    */
  private[graft] def corpusMixFor(docs: DataFrame, targetsPpm: Seq[(String, Long)]): DataFrame = {
    val target = targetsPpm.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (src, ppm)) => acc.when(col("source") === src, lit(ppm))
    }.otherwise(lit(0L))
    val avail = Materialize.stable(docs
      .groupBy("source").agg(count(lit(1)).as("n_avail"))
      .withColumn("target_ppm", target)
      .filter(col("target_ppm") > 0)
      .withColumn("cap", expr("n_avail * 1000000 div target_ppm")))
    avail.crossJoin(broadcast(avail.agg(min("cap").as("m"))))
      .withColumn("n_take", expr("m * target_ppm div 1000000"))
  }

  val corpusMixSql: String = {
    val cases = MixTargetsPpm
      .map { case (src, ppm) => s"WHEN source = '$src' THEN $ppm" }
      .mkString(" ")
    s"""WITH avail AS (
       |  SELECT source, COUNT(*) AS n_avail,
       |    CAST(CASE $cases ELSE 0 END AS BIGINT) AS target_ppm
       |  FROM documents GROUP BY 1
       |), capped AS (
       |  SELECT source, n_avail, target_ppm,
       |    MIN(n_avail * 1000000 // target_ppm) OVER () AS m
       |  FROM avail WHERE target_ppm > 0
       |), taken AS (
       |  SELECT source, n_avail, target_ppm,
       |    CAST(m * target_ppm // 1000000 AS BIGINT) AS n_take,
       |    CAST(SUM(m * target_ppm // 1000000) OVER () AS BIGINT) AS total_take
       |  FROM capped
       |)
       |SELECT source, target_ppm, n_avail, n_take,
       |  floor(CAST(n_take AS DOUBLE) / CAST(total_take AS DOUBLE) * 1000000 * 1000000) / CAST(1000000 AS DOUBLE) AS realized_ppm
       |FROM taken ORDER BY source""".stripMargin
  }

  /** Per-stratum EXACT-k sampling: the k docs with the smallest
    * portable hash rank per source — where the ratio sampler
    * (sample_stratified) can only promise a rate, eval-set
    * construction needs exactly k rows per stratum, reproducibly.
    * Shape: `WindowGroupLimit` ships each partition's local top-k
    * before the one source-keyed shuffle; ties cannot occur (rank
    * tiebreaks on doc_id). Deterministic: retries and speculative
    * attempts pick identical rows.
    */
  val SampleTopK = 20

  def sampleTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("rank"), col("doc_id"))
    // pre-reduce doc_id mod the prime BEFORE the Knuth multiply: the
    // product then stays ≤ 1e6·2.65e9 ≈ 2.7e15 on both engines, where a
    // raw doc_id·C wraps Spark's Long (silently) and overflows DuckDB's
    // BIGINT (loudly) at doc_id ≳ 3.5e9 — same residue by modular
    // arithmetic, so ranks are unchanged
    Tables.documents(s, dir)
      .withColumn("rank",
        pmod(pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000003L)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SampleTopK)
      .select(col("source"), col("doc_id"), col("rank"))
      .orderBy("source", "rank", "doc_id")
  }

  val sampleTopkSql: String =
    s"""SELECT source, doc_id, ((doc_id % 1000003) * 2654435761) % 1000003 AS rank
       |FROM documents
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY source
       |  ORDER BY ((doc_id % 1000003) * 2654435761) % 1000003, doc_id) <= $SampleTopK
       |ORDER BY source, rank, doc_id""".stripMargin

  /** Deterministic train/val/test split (80/10/10 by hash bucket) with
    * per-(source, split) counts — the reproducible split every corpus
    * release needs: membership is a pure function of doc_id, so
    * re-running on a grown corpus never moves an old doc across
    * splits. Pure map-side bucket math + one partial agg.
    */
  def corpusSplit(s: SparkSession, dir: String): DataFrame = {
    // double-mod through a large prime: a direct `% 100` of a linear
    // hash collapses against any regular id stride (doc_id % 20 sources
    // made every source land wholly in ONE split — gcd arithmetic, not
    // randomness); the prime reduction destroys the stride structure
    // same pre-reduction as sampleTopk: keeps the product inside BIGINT
    // on both engines at any doc_id
    val b = pmod(pmod(pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000003L)), lit(100L))
    Tables.documents(s, dir)
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .orderBy("source", "split")
  }

  val corpusSplitSql: String =
    """SELECT source,
      |  CASE WHEN (((doc_id % 1000003) * 2654435761) % 1000003) % 100 < 80 THEN 'train'
      |       WHEN (((doc_id % 1000003) * 2654435761) % 1000003) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Exact per-source document-length deciles — the distribution audit
    * behind curation thresholds ("where does the p90 length sit per
    * source"), as exact order statistics, not a sketch: rank + group
    * size off ONE source-partitioned sort, then each row derives the
    * decile indices it IS (rn = ⌈d·n/10⌉) via a 9-element HOF filter —
    * no day⋈decile cross join, no second pass. A source with < 10 docs
    * emits one row per decile that lands on it (both engines explode
    * the same index list). sketch_quantile is the scaling path; this
    * is its audit, per group.
    */
  def sourceDeciles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    Tables.documents(s, dir)
      .select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("decile",
        explode(expr("filter(sequence(1L, 9L), d -> rn = (d * n + 9) div 10)")))
      .select("source", "decile", "n_chars", "doc_id")
      .orderBy("source", "decile", "doc_id")
  }

  val sourceDecilesSql: String =
    """WITH ranked AS (
      |  SELECT source, n_chars, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents
      |)
      |SELECT source, CAST(unnest(list_filter(range(1, 10), d -> rn = (d * n + 9) // 10)) AS BIGINT) AS decile,
      |  n_chars, doc_id
      |FROM ranked
      |ORDER BY source, decile, doc_id""".stripMargin

  /** Train/val/test LEAKAGE audit: near-dup pairs whose members land
    * in different corpus_split splits — the eval-hygiene check run
    * before any held-out number is trusted (a test doc whose near-dup
    * sits in train is a leaked answer; Lee et al. 2022 measured
    * benchmark inflation from exactly this). Split membership is
    * corpus_split's pure doc_id function (so this audits THE split the
    * pipeline ships); pairs reuse [[Dedup.minhashPairs]] verbatim.
    * Output: one row per unordered split pair with the pair count, a
    * leak flag (different splits), and its share of all near-dup
    * pairs in ppm — the headline number is the Σ share of leak rows.
    *
    * Scale shape: membership is map-side arithmetic joined onto the
    * output-sized pair frame by doc id (co-partitioned equi-joins);
    * the rollup is ≤6 rows + a one-row totals broadcast.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val splitOf = {
      val b = pmod(pmod(pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000003L)), lit(100L))
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    }
    val member = Tables.documents(s, dir).select(col("doc_id"), splitOf.as("split"))
    val pairs = Dedup.minhashPairs(Tables.documents(s, dir))
      .select("doc_a", "doc_b")
      .join(member.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(member.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
    val byPair = pairs.groupBy("split_lo", "split_hi").agg(count(lit(1)).as("n_pairs"))
    val total = byPair.agg(sum("n_pairs").as("n_total"))
    byPair.join(broadcast(total))
      .withColumn("is_leak", expr("CASE WHEN split_lo = split_hi THEN 0 ELSE 1 END").cast("long"))
      .withColumn("share_ppm", expr("n_pairs * 1000000 div n_total"))
      .select("split_lo", "split_hi", "n_pairs", "is_leak", "share_ppm")
      .orderBy("split_lo", "split_hi")
  }

  val splitLeakageSql: String =
    s"""WITH member AS (
       |  SELECT doc_id,
       |    CASE WHEN (((doc_id % 1000003) * 2654435761) % 1000003) % 100 < 80 THEN 'train'
       |         WHEN (((doc_id % 1000003) * 2654435761) % 1000003) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents
       |), pairs AS (
       |  SELECT least(ma.split, mb.split) AS split_lo,
       |    greatest(ma.split, mb.split) AS split_hi
       |  FROM (SELECT doc_a, doc_b FROM (${Dedup.dedupMinhashSql}) p) mp
       |  JOIN member ma ON mp.doc_a = ma.doc_id
       |  JOIN member mb ON mp.doc_b = mb.doc_id
       |), by_pair AS (
       |  SELECT split_lo, split_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM pairs GROUP BY 1, 2
       |), t AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total FROM by_pair)
       |SELECT split_lo, split_hi, n_pairs,
       |  CAST(CASE WHEN split_lo = split_hi THEN 0 ELSE 1 END AS BIGINT) AS is_leak,
       |  n_pairs * 1000000 // n_total AS share_ppm
       |FROM by_pair, t ORDER BY split_lo, split_hi""".stripMargin

  // ---- per-source quota cap ---------------------------------------------

  /** Max docs kept per source — the Gopher/FineWeb-style domain
    * balancing rule ("no source may contribute more than Q documents"),
    * as opposed to [[sampleStratified]]'s RATE cap (a rate cannot bound
    * a source whose size you don't know yet; a quota can).
    */
  val QuotaPerSource = 100L

  /** Per-source quota downsample: keep the [[QuotaPerSource]] docs
    * with the smallest deterministic hash rank inside each source —
    * hash-ranked so the selection is a pure function of doc_id
    * (uniform over the source, reproducible across retries/engines,
    * no RNG), quota'd so a 100×-oversized crawl source cannot drown
    * the mixture no matter its size. Output is the per-source audit:
    * totals, kept counts, and the kept-set id/char checksums that make
    * the selection verifiable without materializing it.
    *
    * Scale shape: the rank-filter plans as WindowGroupLimit — each map
    * task keeps only its local top-Q per source BEFORE the shuffle, so
    * the exchange carries ≤ Q·partitions rows per source, not the
    * corpus (the same primitive the top-k operators lean on; a plain
    * "rank then aggregate all rows" window would instead sort entire
    * sources on single reducers). Totals come from an ordinary partial
    * agg; the final join is sources×sources.
    */
  def corpusQuotaSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("h", mixHash(col("doc_id"), 1000000007L))
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    val kept = d.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= QuotaPerSource)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum("doc_id").as("sum_kept_ids"),
        sum("n_chars").as("kept_chars"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .join(kept, Seq("source"))
      .select("source", "n_docs", "n_kept", "sum_kept_ids", "total_chars", "kept_chars")
      .orderBy("source")
  }

  val corpusQuotaSampleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, n_chars,
       |    ${mixHashSql("doc_id", 1000000007L)} AS h
       |  FROM documents
       |), ranked AS (
       |  SELECT source, doc_id, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
       |  FROM d
       |), kept AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    CAST(SUM(doc_id) AS BIGINT) AS sum_kept_ids,
       |    CAST(SUM(n_chars) AS BIGINT) AS kept_chars
       |  FROM ranked WHERE rk <= $QuotaPerSource GROUP BY 1
       |), tot AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |  FROM d GROUP BY 1
       |)
       |SELECT tot.source, n_docs, n_kept, sum_kept_ids, total_chars, kept_chars
       |FROM tot JOIN kept ON tot.source = kept.source
       |ORDER BY tot.source""".stripMargin

  // ---- quality-weighted Bernoulli keep ----------------------------------

  /** Quality-weighted downsampling (the FineWeb-Edu / DCLM "soft
    * quality filter" shape): instead of a hard score threshold — which
    * throws away every mid-quality doc and keeps every high-scoring
    * near-duplicate — each doc is kept with probability proportional
    * to its quality score. The weight is an ALL-INTEGER ppm rendering
    * of text_quality's formula (0.4·length-saturation + 0.3·distinct
    * ratio + 0.3·stopword ratio, each term an integer division), and
    * the keep decision is the established deterministic uniform
    * (doc_id · Knuth) mod p — a pure function of doc_id: reproducible
    * across retries, partitions, and engines, no RNG state anywhere.
    *
    * Output is the per-source audit: actual vs expected keep mass
    * (expectation = Σ w_ppm, exact integer arithmetic — the SRM-style
    * check that the realized sample tracks the intended weights) plus
    * the kept-set id checksum making the selection verifiable without
    * materializing it.
    *
    * Scale shape: weights and keep decisions are map-side codegen HOF
    * arithmetic in the scan projection; the ONLY shuffle is the
    * sources-bounded partial agg. At 100 TB this is the cheapest
    * operator class there is — one pass, one tiny rollup.
    */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    weightedKeepFor(Tables.documents(s, dir)).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("kept").as("n_kept"),
        sum("w_ppm").as("sum_w_ppm"),
        sum(expr("kept * n_chars")).as("kept_chars"),
        sum(expr("kept * doc_id")).as("sum_kept_ids"))
      .withColumn("expected_ppm", expr("sum_w_ppm div n_docs"))
      .withColumn("actual_ppm", expr("n_kept * 1000000 div n_docs"))
      .select("source", "n_docs", "n_kept", "expected_ppm", "actual_ppm",
        "kept_chars", "sum_kept_ids")
      .orderBy("source")

  /** per-doc weight + keep decision over ANY (doc_id, text) frame —
    * the library entry point (input columns pass through; adds
    * `w_ppm` and `kept`). All map-side codegen arithmetic.
    */
  def weightedKeepFor(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", expr("filter(split(text, ' '), w -> w <> '')"))
      .withColumn("nw", expr("CAST(size(words) AS BIGINT)"))
      .withColumn("w_ppm", expr(
        """CASE WHEN nw = 0 THEN 0L ELSE
          | 400000 * least(nw, 200L) div 200 +
          | 300000 * CAST(size(array_distinct(words)) AS BIGINT) div nw +
          | 300000 * CAST(size(filter(words, w -> array_contains(array('the', 'a', 'and', 'of', 'to'), w))) AS BIGINT) div nw END"""
          .stripMargin.replaceAll("\\s+", " ")))
      .withColumn("kept", expr(
        s"CASE WHEN ${mixHashSql("doc_id", 1000000007L)} % 1000000 < w_ppm THEN 1L ELSE 0L END"))
      .drop("words", "nw")

  val sampleWeightedSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, n_chars,
       |    400000 * least(nw, 200) // 200 +
       |      300000 * len(list_distinct(words)) // nw +
       |      300000 * len(list_filter(words, w -> list_contains(['the', 'a', 'and', 'of', 'to'], w))) // nw
       |      AS w_ppm
       |  FROM (
       |    SELECT doc_id, source, n_chars, words, CAST(len(words) AS BIGINT) AS nw FROM (
       |      SELECT doc_id, source, n_chars,
       |        list_filter(string_split(text, ' '), w -> w <> '') AS words
       |      FROM documents) t0) t1
       |), k AS (
       |  SELECT *, CASE WHEN ${mixHashSql("doc_id", 1000000007L)} % 1000000 < w_ppm
       |    THEN 1 ELSE 0 END AS kept
       |  FROM d
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(kept) AS BIGINT) AS n_kept,
       |  CAST(SUM(w_ppm) AS BIGINT) // COUNT(*) AS expected_ppm,
       |  CAST(SUM(kept) AS BIGINT) * 1000000 // COUNT(*) AS actual_ppm,
       |  CAST(SUM(kept * n_chars) AS BIGINT) AS kept_chars,
       |  CAST(SUM(kept * doc_id) AS BIGINT) AS sum_kept_ids
       |FROM k GROUP BY source ORDER BY source""".stripMargin

  // ---- temperature-scaled source mixing ---------------------------------

  /** Temperature-scaled source mixing weights (the multilingual
    * temperature-sampling rule from mBERT/XLM-R/mT5: sample source s
    * with probability ∝ massₛ^(1/T)) at T = 2 — i.e. √mass, which
    * up-weights tail sources and caps head dominance. T = 2 is chosen
    * deliberately: √ is the one power whose floor is BIT-IDENTICAL
    * cross-engine (IEEE-754 requires sqrt correctly rounded — the same
    * parity argument the IVF √n rule rides; a fractional pow() would
    * not replay exactly in the oracle).
    *
    * Per source: raw char share, √-tempered share, the head-vs-tail
    * boost factor, and the epochs-per-pass the tempered mixture
    * implies at a one-corpus-pass token budget (tail sources repeat —
    * the capacity number a training run plans batches around;
    * epochs_permille > 1000 means that source is seen more than once
    * per pass).
    *
    * Scale shape: one sources-bounded partial agg + a one-row totals
    * broadcast; all arithmetic integer except the parity-proven
    * floor(sqrt).
    */
  def corpusTempMix(s: SparkSession, dir: String): DataFrame =
    temperatureSharesFor(Tables.documents(s, dir), "source", "n_chars")
      .orderBy("source")

  /** √-tempered mixing shares of ANY frame's group mass — the library
    * entry point (groupCol → one row per group). Integer arithmetic
    * except the parity-proven floor(sqrt).
    */
  def temperatureSharesFor(df: DataFrame, groupCol: String, massCol: String): DataFrame = {
    val byGrp = df
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), sum(massCol).as("chars"))
      .withColumn("tw", expr("CAST(floor(sqrt(CAST(chars AS DOUBLE))) AS BIGINT)"))
    val tot = byGrp.agg(sum("chars").as("total_chars"), sum("tw").as("total_tw"))
    // chars·10⁶ and temp_share_ppm·total_chars cross 2⁶³ at
    // total_chars ≈ 9.2×10¹² (~10 TB of text) — route the
    // cross-multiplications through DECIMAL(38,0) like the sibling ppm
    // operators (textVocabCoverage, tokenFertility); the oracle twin
    // uses HUGEINT. boost_permille's operands are ppm-bounded (≤10⁹)
    // and stay BIGINT.
    byGrp.join(broadcast(tot))
      .withColumn("raw_share_ppm", expr(
        "CAST(CAST(chars AS DECIMAL(38,0)) * 1000000 div total_chars AS BIGINT)"))
      .withColumn("temp_share_ppm", expr(
        "CAST(CAST(tw AS DECIMAL(38,0)) * 1000000 div total_tw AS BIGINT)"))
      .withColumn("boost_permille", expr(
        "CASE WHEN raw_share_ppm = 0 THEN 0L ELSE temp_share_ppm * 1000 div raw_share_ppm END"))
      .withColumn("epochs_permille", expr(
        "CAST(CAST(temp_share_ppm AS DECIMAL(38,0)) * total_chars div chars div 1000 AS BIGINT)"))
      .select(col(groupCol), col("n_docs"), col("chars"), col("raw_share_ppm"),
        col("temp_share_ppm"), col("boost_permille"), col("epochs_permille"))
  }

  val corpusTempMixSql: String =
    s"""WITH by_src AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars,
       |    CAST(floor(sqrt(CAST(SUM(n_chars) AS DOUBLE))) AS BIGINT) AS tw
       |  FROM documents GROUP BY 1
       |), t AS (
       |  SELECT CAST(SUM(chars) AS BIGINT) AS total_chars,
       |    CAST(SUM(tw) AS BIGINT) AS total_tw FROM by_src
       |)
       |SELECT source, n_docs, chars,
       |  CAST(CAST(chars AS HUGEINT) * 1000000 // total_chars AS BIGINT) AS raw_share_ppm,
       |  CAST(CAST(tw AS HUGEINT) * 1000000 // total_tw AS BIGINT) AS temp_share_ppm,
       |  CAST(CASE WHEN CAST(chars AS HUGEINT) * 1000000 // total_chars = 0 THEN 0
       |    ELSE (CAST(tw AS HUGEINT) * 1000000 // total_tw) * 1000 // (CAST(chars AS HUGEINT) * 1000000 // total_chars) END AS BIGINT) AS boost_permille,
       |  CAST((CAST(tw AS HUGEINT) * 1000000 // total_tw) * total_chars // chars // 1000 AS BIGINT) AS epochs_permille
       |FROM by_src, t ORDER BY source""".stripMargin

  // ---- training-shard assignment audit ----------------------------------

  /** Number of output shards the assignment audit models — at 100 TB
    * this is the writer's file count (thousands); the audit math is
    * shard-cardinality-bounded either way.
    */
  val NumShards = 16L

  /** Deterministic training-shard assignment + balance audit: every
    * doc lands in shard (doc_id·Knuth) mod p mod [[NumShards]] — a
    * pure function of doc_id (stable across retries/engines), and the
    * question a shard writer must answer BEFORE training reads the
    * files: are the shards balanced in docs AND chars, and is any
    * shard source-skewed (a shard dominated by one crawl source makes
    * per-shard loss curves incomparable and data-parallel workers
    * see different mixtures)? Output per shard: doc/char mass,
    * deviation from the uniform share, source count, and the largest
    * single-source share inside the shard.
    *
    * Scale shape: assignment is map-side hash arithmetic; ONE
    * (shard, source) partial agg (shards × sources rows), rolled up
    * to shards; totals are a one-row broadcast. Nothing corpus-sized
    * shuffles — the audit is as cheap as the scan.
    */
  def corpusShards(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("shard", pmod(mixHash(col("doc_id"), 1000000007L), lit(NumShards)))
    val byShardSrc = Materialize.stable(d.groupBy("shard", "source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("c")))
    val byShard = byShardSrc.groupBy("shard")
      .agg(sum("n").as("n_docs"), sum("c").as("chars"),
        count(lit(1)).as("n_sources"), max("n").as("top_src_docs"))
    val tot = byShard.agg(sum("n_docs").as("total_docs"))
    byShard.join(broadcast(tot))
      .withColumn("skew_ppm", expr(s"n_docs * $NumShards * 1000000 div total_docs"))
      .withColumn("top_source_ppm", expr("top_src_docs * 1000000 div n_docs"))
      .select("shard", "n_docs", "chars", "n_sources", "top_source_ppm", "skew_ppm")
      .orderBy("shard")
  }

  val corpusShardsSql: String =
    s"""WITH d AS (
       |  SELECT (${mixHashSql("doc_id", 1000000007L)}) % $NumShards AS shard,
       |    source, n_chars
       |  FROM documents
       |), bss AS (
       |  SELECT shard, source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(n_chars) AS BIGINT) AS c
       |  FROM d GROUP BY 1, 2
       |), bs AS (
       |  SELECT shard, CAST(SUM(n) AS BIGINT) AS n_docs,
       |    CAST(SUM(c) AS BIGINT) AS chars,
       |    CAST(COUNT(*) AS BIGINT) AS n_sources,
       |    CAST(MAX(n) AS BIGINT) AS top_src_docs
       |  FROM bss GROUP BY 1
       |), t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM bs)
       |SELECT shard, n_docs, chars, n_sources,
       |  top_src_docs * 1000000 // n_docs AS top_source_ppm,
       |  n_docs * $NumShards * 1000000 // total_docs AS skew_ppm
       |FROM bs, t ORDER BY shard""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_shards" -> (corpusShards _),
    "sample_weighted" -> (sampleWeighted _),
    "corpus_temp_mix" -> (corpusTempMix _),
    "corpus_quota_sample" -> (corpusQuotaSample _),
    "split_leakage" -> (splitLeakage _),
    "source_deciles" -> (sourceDeciles _),
    "sample_stratified" -> (sampleStratified _),
    "sample_topk" -> (sampleTopk _),
    "corpus_split" -> (corpusSplit _),
    "text_chunk" -> (textChunk _),
    "pack_bins" -> (packBins _),
    "corpus_curate" -> (corpusCurate _),
    "corpus_mix" -> (corpusMix _))

  val oracles: Map[String, String] = Map(
    "corpus_shards" -> corpusShardsSql,
    "sample_weighted" -> sampleWeightedSql,
    "corpus_temp_mix" -> corpusTempMixSql,
    "corpus_quota_sample" -> corpusQuotaSampleSql,
    "split_leakage" -> splitLeakageSql,
    "source_deciles" -> sourceDecilesSql,
    "sample_stratified" -> sampleStratifiedSql,
    "sample_topk" -> sampleTopkSql,
    "corpus_split" -> corpusSplitSql,
    "text_chunk" -> textChunkSql,
    "pack_bins" -> packBinsSql,
    "corpus_curate" -> corpusCurateSql,
    "corpus_mix" -> corpusMixSql)
}
