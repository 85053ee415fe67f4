package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash.q6
import graft.sources.Tables

/** Corpus-quality filters beyond per-doc column math ([[TextAnalysis]]):
  * repetition metrics in the style of the Gopher/MassiveText rules
  * (Rae et al. 2021 §A1.1 — "fraction of tokens in duplicate n-grams",
  * "fraction in the most common n-gram") and a corpus-level character
  * n-gram likelihood proxy (the cheap stand-in for a KenLM perplexity
  * gate à la CCNet): documents whose character bigrams are rare IN THIS
  * corpus score low and get flagged.
  *
  * Portability: every statistic is an integer count until one final
  * floor-quantized division — no libm, no RNG — so the DuckDB oracle
  * reproduces each score bit-for-bit.
  */
object CorpusQuality {

  // word bigrams as an array column; empty when the doc has < 2 words
  private[graft] def sparkWordBigramsOf(words: String): String =
    s"""CASE WHEN size($words) < 2 THEN array()
       |  ELSE transform(sequence(1, size($words) - 1),
       |    i -> concat(element_at($words, i), ' ', element_at($words, i + 1)))
       |END""".stripMargin.replaceAll("\\s+", " ")

  private val sparkWordBigrams = sparkWordBigramsOf("words")

  private val duckWordBigrams =
    "list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1])"

  /** Repetitive-document metrics per doc: total word-bigram count, the
    * most-common-bigram share, and the fraction of bigram occurrences
    * that are duplicates (appear ≥2× in the doc) — the two Gopher
    * repetition signals — plus the resulting keep/drop flag.
    *
    * Scale shape: explode to (doc, bigram) then ONE partial-aggregated
    * groupBy — the shuffle carries per-doc distinct bigram counts
    * (output-bound, ≪ corpus); the per-doc reduction that follows is on
    * the grouped frame, and docs re-enter via a doc_id equi-join so
    * zero-bigram documents still emit a row. Per-doc work is
    * O(len(doc)); nothing is corpus-quadratic.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    textRepetitionFor(Tables.documents(s, dir), 0.05, 0.3)
      .select("doc_id", "n_bigrams", "top_share", "dup_frac", "repetitive")
      .orderBy("doc_id")

  /** The text_repetition body over (doc_id, text): every column of
    * `docs` plus the four metrics, `repetitive` at the given
    * thresholds; shared with [[graft.api.CorpusOps.repetitionMetrics]].
    */
  private[graft] def textRepetitionFor(docs: DataFrame, topShareMax: Double,
      dupFracMax: Double): DataFrame = {
    val grouped = docs
      .withColumn("words", expr("filter(split(text, ' '), w -> w <> '')"))
      .select(col("doc_id"), explode(expr(sparkWordBigrams)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    val per = grouped.groupBy("doc_id").agg(
      sum("c").as("n_bigrams"),
      max("c").as("top_c"),
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_c"))
    docs.join(per, Seq("doc_id"), "left")
      .select(docs.columns.map(col).toSeq ++ Seq(
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        expr(s"CASE WHEN n_bigrams IS NULL OR n_bigrams = 0 THEN CAST(0 AS DOUBLE) ELSE ${q6("CAST(top_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE)")} END").as("top_share"),
        expr(s"CASE WHEN n_bigrams IS NULL OR n_bigrams = 0 THEN CAST(0 AS DOUBLE) ELSE ${q6("CAST(dup_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE)")} END").as("dup_frac")): _*)
      .withColumn("repetitive",
        col("top_share") > topShareMax || col("dup_frac") > dupFracMax)
  }

  val textRepetitionSql: String =
    s"""WITH grouped AS (
       |  SELECT doc_id, bg, COUNT(*) AS c FROM (
       |    SELECT doc_id, unnest($duckWordBigrams) AS bg FROM (
       |      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
       |      FROM documents) t0) t1
       |  GROUP BY 1, 2
       |), per AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_c,
       |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_c
       |  FROM grouped GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  COALESCE(p.n_bigrams, 0) AS n_bigrams,
       |  CASE WHEN p.n_bigrams IS NULL OR p.n_bigrams = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE ${q6("CAST(p.top_c AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)")} END AS top_share,
       |  CASE WHEN p.n_bigrams IS NULL OR p.n_bigrams = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE ${q6("CAST(p.dup_c AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)")} END AS dup_frac,
       |  (CASE WHEN p.n_bigrams IS NULL OR p.n_bigrams = 0 THEN CAST(0 AS DOUBLE)
       |        ELSE ${q6("CAST(p.top_c AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)")} END) > 0.05
       |    OR (CASE WHEN p.n_bigrams IS NULL OR p.n_bigrams = 0 THEN CAST(0 AS DOUBLE)
       |        ELSE ${q6("CAST(p.dup_c AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)")} END) > 0.3 AS repetitive
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // char bigrams of the raw text; empty when the text has < 2 chars
  private[graft] def sparkCharBigramsOf(text: String): String =
    s"""CASE WHEN length($text) < 2 THEN array()
       |  ELSE transform(sequence(1, length($text) - 1), i -> substring($text, i, 2))
       |END""".stripMargin.replaceAll("\\s+", " ")

  private val sparkCharBigrams = sparkCharBigramsOf("text")

  private val duckCharBigrams =
    "list_transform(range(1, length(text)), i -> substring(text, i, 2))"

  /** Corpus character-bigram likelihood proxy: build the corpus-wide
    * bigram frequency table (the "language model" — vocabulary-bounded,
    * ≤ charset², a few hundred rows here), then score each document by
    * the mean corpus frequency of its bigrams. Rare-charactered docs
    * (boilerplate, mojibake, wrong-language shards) score low — the
    * shape of a CCNet-style LM quality gate with the KenLM swapped for
    * corpus statistics both engines can reproduce exactly. The score is
    * a RATIONAL mean (Σ freq / n) — monotone-equivalent to mean log-
    * frequency rankings would need libm; the mean keeps IEEE exactness.
    *
    * Scale shape: ONE explode pass builds the (doc, bigram, count)
    * partial aggregate; the frequency table derives from it (a
    * vocabulary-sized aggregate — charset² rows, not the corpus) and
    * broadcasts back onto the same grouped frame. Zero corpus-sized
    * shuffles, and the text is scanned once.
    */
  /** Per-doc unigram-LM fit (shared by text_ngram_lm and
    * corpus_lm_buckets): ONE explode pass — the (doc, bigram, c)
    * partial aggregate both feeds the corpus frequency table
    * (freq = Σ c over docs) and carries the per-doc counts —
    * Σ_occurrences freq ≡ Σ_bg c·freq. lm_score is floor-quantized to
    * 6dp, so downstream ORDER BY on it is engine-independent.
    *
    * Overflow bound: freq is corpus-sized (≤ 2×10¹³ bigrams at 100 TB
    * of text), so one c·freq term reaches 10⁵·2×10¹³ = 2×10¹⁸ and the
    * per-doc Σ c·freq can pass 10²² — far over 2⁶³ — so freq_sum
    * accumulates in DECIMAL(38,0) (DuckDB reaches the same value via
    * HUGEINT SUM) and only the final mean is cast to DOUBLE.
    */
  private def lmScores(s: SparkSession, dir: String): DataFrame =
    lmScoresFor(Tables.documents(s, dir))

  /** The text_ngram_lm body over (doc_id, text): (doc_id, n_bigrams,
    * lm_score) for every doc with a char bigram; shared with
    * [[graft.api.CorpusOps.lmScore]].
    */
  private[graft] def lmScoresFor(docs: DataFrame): DataFrame = {
    val grouped = Materialize.stable(
      docs.select(col("doc_id"), explode(expr(sparkCharBigrams)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c")))
    val freq = grouped.groupBy("bg").agg(sum("c").as("freq"))
    grouped.join(broadcast(freq), Seq("bg"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), sum(expr("CAST(c AS DECIMAL(38,0)) * freq")).as("freq_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        expr(q6("CAST(freq_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE)")).as("lm_score"))
  }

  def textNgramLm(s: SparkSession, dir: String): DataFrame =
    lmScores(s, dir).orderBy("doc_id")

  val textNgramLmSql: String =
    s"""WITH bg AS (
       |  SELECT doc_id, unnest($duckCharBigrams) AS bg FROM documents
       |), freq AS (
       |  SELECT bg, COUNT(*) AS freq FROM bg GROUP BY 1
       |)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  ${q6("CAST(SUM(freq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS lm_score
       |FROM bg JOIN freq USING (bg)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // shared raw-quality chain (same formula as text_quality's score,
  // captured as exact integer MICROS so per-source means aggregate
  // order-independently — a mean of doubles would drift with partition
  // order and break the oracle)
  private def microQuality(q6d: String => String): String = {
    val dr = q6d("CAST(size(array_distinct(words)) AS DOUBLE) / n_words")
    val sr = q6d("CAST(size(filter(words, w -> array_contains(array('the', 'a', 'and', 'of', 'to'), w))) AS DOUBLE) / n_words")
    s"CAST(floor((CAST(0.4 AS DOUBLE) * least(CAST(1 AS DOUBLE), CAST(n_words AS DOUBLE) / CAST(200 AS DOUBLE)) + CAST(0.3 AS DOUBLE) * ($dr) + CAST(0.3 AS DOUBLE) * ($sr)) * 1000000) AS BIGINT)"
  }

  /** Source-level curation stats — the RefinedWeb/C4-style "filter by
    * origin" pass: per source, document count, English share, mean
    * length, and mean quality (aggregated as exact integer micro-scores
    * so the mean is order-independent), plus a keep decision with a
    * CROSS-MULTIPLIED integer threshold (Σmicro ≥ n·300000 ⟺ mean ≥
    * 0.3 — no double mean ever materializes in the predicate).
    *
    * Scale: per-doc features are map-side column math; the shuffle
    * carries one partial row per source. Dropping a source then becomes
    * one broadcast semi-join against this (source-cardinality) table.
    */
  def corpusSourceStats(s: SparkSession, dir: String): DataFrame = {
    val micro = microQuality(q6)
    Tables.documents(s, dir)
      .withColumn("words", expr("filter(split(text, ' '), w -> w <> '')"))
      .withColumn("n_words", expr("CAST(size(words) AS BIGINT)"))
      .withColumn("micro_q", expr(micro))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum("n_words").as("sum_words"),
        sum("micro_q").as("sum_micro"))
      .select(col("source"), col("n_docs"), col("n_en"),
        expr(q6("CAST(sum_words AS DOUBLE) / CAST(n_docs AS DOUBLE)")).as("mean_words"),
        expr(q6("CAST(sum_micro AS DOUBLE) / CAST(n_docs AS DOUBLE) / CAST(1000000 AS DOUBLE)")).as("mean_quality"),
        (col("n_docs") >= 15 && col("sum_micro") * 10 >= col("n_docs") * 3000000L).as("keep"))
      .orderBy("source")
  }

  val corpusSourceStatsSql: String = {
    val dr = q6("CAST(len(list_distinct(words)) AS DOUBLE) / n_words")
    val sr = q6("CAST(len(list_filter(words, w -> list_contains(['the', 'a', 'and', 'of', 'to'], w))) AS DOUBLE) / n_words")
    val micro = s"CAST(floor((CAST(0.4 AS DOUBLE) * least(CAST(1 AS DOUBLE), CAST(n_words AS DOUBLE) / CAST(200 AS DOUBLE)) + CAST(0.3 AS DOUBLE) * ($dr) + CAST(0.3 AS DOUBLE) * ($sr)) * 1000000) AS BIGINT)"
    s"""WITH feat AS (
       |  SELECT source, lang, len(words) AS n_words, $micro AS micro_q
       |  FROM (
       |    SELECT source, lang, list_filter(string_split(text, ' '), w -> w <> '') AS words
       |    FROM documents) t
       |), agg AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |    CAST(SUM(n_words) AS BIGINT) AS sum_words,
       |    CAST(SUM(micro_q) AS BIGINT) AS sum_micro
       |  FROM feat GROUP BY 1
       |)
       |SELECT source, n_docs, n_en,
       |  ${q6("CAST(sum_words AS DOUBLE) / CAST(n_docs AS DOUBLE)")} AS mean_words,
       |  ${q6("CAST(sum_micro AS DOUBLE) / CAST(n_docs AS DOUBLE) / CAST(1000000 AS DOUBLE)")} AS mean_quality,
       |  n_docs >= 15 AND sum_micro * 10 >= n_docs * 3000000 AS keep
       |FROM agg ORDER BY source""".stripMargin
  }

  /** Corpus-wide top-k word bigrams with document frequency — the
    * boilerplate detector's raw signal ("click here to", "all rights
    * reserved"): a bigram occurring across MANY documents marks
    * template text that repetition metrics (within-doc) can't see.
    *
    * Scale shape: explode to (doc, bigram) map-side, ONE
    * partial-aggregated groupBy carrying (occurrences, distinct docs)
    * per bigram — vocabulary-sized, ≪ corpus — then a global top-k
    * that ships as TakeOrdered (each partition contributes its local
    * top 20, no global sort). Count-distinct per bigram is a two-level
    * aggregate over the (bigram, doc) grid, partial on both levels.
    */
  val BigramTopK = 20

  def corpusBigrams(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.documents(s, dir)
      .withColumn("words", expr("filter(split(text, ' '), w -> w <> '')"))
      .select(col("doc_id"), explode(expr(sparkWordBigrams)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    grid.groupBy("bg")
      .agg(sum("c").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("bg"))
      .limit(BigramTopK)
  }

  val corpusBigramsSql: String =
    s"""WITH grid AS (
       |  SELECT doc_id, bg, COUNT(*) AS c FROM (
       |    SELECT doc_id, unnest($duckWordBigrams) AS bg FROM (
       |      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
       |      FROM documents) w) t
       |  GROUP BY 1, 2
       |)
       |SELECT bg, CAST(SUM(c) AS BIGINT) AS n_occurrences, COUNT(*) AS n_docs
       |FROM grid GROUP BY bg
       |ORDER BY n_occurrences DESC, bg LIMIT $BigramTopK""".stripMargin

  /** The Zipf head: the corpus's top [[ZipfTopK]] tokens with exact
    * global rank and frequency (ppm of all token occurrences) — the
    * vocabulary sanity check run before tokenizer training ("is the
    * head dominated by boilerplate?"). The corpus collapses to the
    * VOCABULARY frame in one partial agg; the exact rank is
    * [[Ranks.distributedRank]] (the vocabulary is data-sized at 100 TB
    * — tens of millions of types — so a global rank window is exactly
    * the single-task sort the plan sweep bans), and the grand total
    * re-attaches with the one-row broadcast idiom, reusing the frame
    * the rank already materialized.
    */
  val ZipfTopK = 40

  def textZipf(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(expr("filter(split(text, ' '), w -> w <> '')")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val ranked = Ranks.distributedRank(counts, "rank", col("n").desc, col("token"))
    val totals = ranked.agg(sum("n").as("n_total"))
    ranked.filter(col("rank") <= ZipfTopK)
      .crossJoin(broadcast(totals))
      // n·10⁶ passes 2⁶³ once a token type exceeds ~9.2×10¹² occurrences
      // (plausible for "the" at 100 TB of text) — widen before the div.
      .withColumn("freq_ppm", expr("CAST(CAST(n AS DECIMAL(38,0)) * 1000000 div n_total AS BIGINT)"))
      .select("rank", "token", "n", "freq_ppm")
      .orderBy("rank")
  }

  val textZipfSql: String =
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
       |  FROM documents
       |), counts AS (
       |  SELECT token, COUNT(*) AS n FROM tok GROUP BY 1
       |), ranked AS (
       |  SELECT token, n,
       |    ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank,
       |    CAST(SUM(n) OVER () AS BIGINT) AS n_total
       |  FROM counts
       |)
       |SELECT rank, token, n, CAST(CAST(n AS HUGEINT) * 1000000 // n_total AS BIGINT) AS freq_ppm
       |FROM ranked WHERE rank <= $ZipfTopK ORDER BY rank""".stripMargin

  /** Vocab sizes the coverage curve is evaluated at. The synthetic
    * corpus draws from a ~31-type vocabulary, so the contract ladder
    * is powers of 2 inside that range (a production run passes its own
    * ladder — 2^13..2^17 for a real tokenizer budget); what the gate
    * grades is the CURVE shape, and a ladder above the vocab size
    * would saturate every row into the same 100% line.
    */
  val VocabSizes = Seq(4L, 8L, 16L, 32L)

  /** Tokenizer vocab-sizing curve: for each candidate vocabulary size
    * N, the share of corpus TOKEN MASS covered by the top-N types
    * (rank by count desc, token asc — deterministic). The readout
    * read with [[bpePairStep]] and [[textZipf]] before fixing a
    * tokenizer budget: 1 − coverage is the OOV/fallback rate a size-N
    * vocab pays, and the curve's knee is where growing the vocab
    * stops buying coverage (Zipf's law makes it logarithmic).
    *
    * Scale shape: ONE corpus partial agg to the (token, count) vocab
    * frame; exact global rank via Ranks.distributedRank (two-level
    * range-partitioned — no single-task sort at 10⁷ types); the ×4
    * ladder explode + rollup run on the vocab frame, never the
    * corpus; totals one-row broadcast. covered·10⁶ in DECIMAL(38,0)
    * past 9×10¹² tokens (the textZipf bound).
    */
  def textVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(expr("filter(split(text, ' '), w -> w <> '')")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val ranked = Ranks.distributedRank(counts, "rank", col("n").desc, col("token"))
    val totals = counts.agg(sum("n").as("n_total"), count(lit(1)).as("n_types"))
    ranked
      .select(col("rank"), col("n"),
        explode(array(VocabSizes.map(lit): _*)).as("vocab_size"))
      .filter(col("rank") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(count(lit(1)).as("n_in_vocab"), sum("n").as("covered_tokens"))
      .join(broadcast(totals))
      .withColumn("coverage_ppm", expr(
        "CAST(CAST(covered_tokens AS DECIMAL(38,0)) * 1000000 div n_total AS BIGINT)"))
      .select("vocab_size", "n_in_vocab", "covered_tokens", "n_types", "coverage_ppm")
      .orderBy("vocab_size")
  }

  val textVocabCoverageSql: String = {
    val ladder = VocabSizes.mkString("[", ", ", "]")
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
       |  FROM documents
       |), counts AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1
       |), ranked AS (
       |  SELECT token, n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
       |  FROM counts
       |), t AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS n_total,
       |    CAST(COUNT(*) AS BIGINT) AS n_types FROM counts
       |)
       |SELECT CAST(v.vocab_size AS BIGINT) AS vocab_size,
       |  CAST(COUNT(*) AS BIGINT) AS n_in_vocab,
       |  CAST(SUM(n) AS BIGINT) AS covered_tokens,
       |  t.n_types,
       |  CAST(CAST(SUM(n) AS HUGEINT) * 1000000 // n_total AS BIGINT) AS coverage_ppm
       |FROM ranked, t, (SELECT unnest($ladder) AS vocab_size) v
       |WHERE rank <= v.vocab_size
       |GROUP BY 1, t.n_types, t.n_total ORDER BY 1""".stripMargin
  }

  /** Per-source lexical diversity: vocabulary size, token count, and
    * the Simpson repeat-probability (the chance two token draws from
    * the source are the same type — high = templated/boilerplate
    * source, the corpus-curation diversity gate). Σnᵢ(nᵢ−1)/(N(N−1))
    * stays in exact BIGINT arithmetic until ONE IEEE double division,
    * floor-quantized to 6dp — bit-identical cross-engine. Two-level
    * partial agg: (source, token) grid, then source-cardinality rows.
    */
  def sourceDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_vocab"), sum("n").as("n_tokens"),
        sum(expr("n * (n - 1)")).as("rep_pairs"))
      .withColumn("simpson", expr(
        "floor(CAST(rep_pairs AS DOUBLE) / CAST(n_tokens * (n_tokens - 1) AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE)"))
      .select("source", "n_vocab", "n_tokens", "simpson")
      .orderBy("source")

  val sourceDiversitySql: String =
    """WITH grid AS (
      |  SELECT source, token, COUNT(*) AS n FROM (
      |    SELECT source, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
      |    FROM documents) t
      |  GROUP BY 1, 2
      |), per_source AS (
      |  SELECT source, COUNT(*) AS n_vocab, CAST(SUM(n) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n * (n - 1)) AS BIGINT) AS rep_pairs
      |  FROM grid GROUP BY 1
      |)
      |SELECT source, n_vocab, n_tokens,
      |  floor(CAST(rep_pairs AS DOUBLE) / CAST(n_tokens * (n_tokens - 1) AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) AS simpson
      |FROM per_source ORDER BY 1""".stripMargin

  /** Per-source hapax share: how much of each source's vocabulary
    * occurs exactly once (hapax legomena). The tokenizer-health /
    * OCR-noise probe next to [[sourceDiversity]]'s Simpson index — a
    * hapax share near 1 means the source is mostly unique strings
    * (noise, IDs, mangled encodings) and will bloat a learned
    * vocabulary. Same two-level partial-agg shape: the (source, token)
    * grid is the only shuffle, the hapax slice is a conditional sum on
    * the grid row's count, and the output is source-cardinality.
    * Integer ppm — no doubles anywhere.
    */
  def textHapax(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum("n").as("n_tokens"), count(lit(1)).as("n_vocab"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("hapax_ppm", expr("n_hapax * 1000000 div n_vocab"))
      .orderBy("source")

  val textHapaxSql: String =
    """WITH grid AS (
      |  SELECT source, token, COUNT(*) AS n FROM (
      |    SELECT source, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
      |    FROM documents) t
      |  GROUP BY 1, 2
      |)
      |SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens, COUNT(*) AS n_vocab,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS hapax_ppm
      |FROM grid GROUP BY 1 ORDER BY 1""".stripMargin

  /** CCNet-style quality bucketing: every document assigned to the
    * head / middle / tail tercile of the corpus's unigram-LM fit
    * distribution (bucket 1 = worst fit — the slice you drop or
    * down-weight before pre-training). The global tercile assignment is
    * the exact rank of each doc's lm_score via [[Ranks.distributedRank]]
    * (a corpus-sized frame — the single-task global sort the plan
    * sweep bans), the doc count re-attaches as a one-row broadcast, and
    * the output collapses to 3 rows. Bucket boundaries are
    * rank-arithmetic ((rn−1)·3 div n), not score thresholds, so ties
    * split deterministically by doc_id on both engines.
    */
  def corpusLmBuckets(s: SparkSession, dir: String): DataFrame = {
    val ranked = Ranks.distributedRank(lmScores(s, dir), "rn",
      col("lm_score").asc, col("doc_id").asc)
    val totals = ranked.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(totals))
      .withColumn("bucket", expr("(rn - 1) * 3 div n_total + 1"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("sum_bigrams"),
        min("lm_score").as("min_score"), max("lm_score").as("max_score"))
      .orderBy("bucket")
  }

  val corpusLmBucketsSql: String =
    s"""WITH bg AS (
       |  SELECT doc_id, unnest($duckCharBigrams) AS bg FROM documents
       |), freq AS (
       |  SELECT bg, COUNT(*) AS freq FROM bg GROUP BY 1
       |), scored AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    ${q6("CAST(CAST(SUM(freq) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS lm_score
       |  FROM bg JOIN freq USING (bg)
       |  GROUP BY doc_id
       |), ranked AS (
       |  SELECT n_bigrams, lm_score,
       |    ROW_NUMBER() OVER (ORDER BY lm_score, doc_id) AS rn,
       |    COUNT(*) OVER () AS n_total
       |  FROM scored
       |)
       |SELECT (rn - 1) * 3 // n_total + 1 AS bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams,
       |  MIN(lm_score) AS min_score, MAX(lm_score) AS max_score
       |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-source Zipf-law fit: least-squares slope (and r²) of
    * ln(freq) vs ln(rank) over each source's top [[ZipfFitK]] tokens —
    * the one-number tokenizer-health / natural-language check next to
    * text_zipf's head listing (natural text ≈ −1.0; templated or
    * machine-generated sources run shallower, OCR noise steeper).
    *
    * Scale shape: corpus → (source, token) grid in one partial agg; the
    * rank≤K filter collapses the per-source window into a top-K group
    * limit (each source keeps a K-row heap, never materializing the
    * ranked vocabulary). Determinism: per-row ln products
    * floor-quantize to ppm BIGINTs so the moment sums are integer
    * (order-free); the slope/r² quotients run once per source in
    * identical-order IEEE doubles and floor-quantize to milli.
    */
  val ZipfFitK = 64

  def textZipfSlope(s: SparkSession, dir: String): DataFrame =
    textZipfSlopeFor(Tables.documents(s, dir), ZipfFitK).orderBy("source")

  /** The text_zipf_slope body over (source, text), fit over each
    * source's top `topK` tokens; shared with [[graft.api.CorpusOps.zipfSlope]].
    */
  private[graft] def textZipfSlopeFor(docs: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("n").desc, col("token"))
    val num = "CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    val den = "CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    val deny = "CAST(n_terms AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    docs
      .select(col("source"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .withColumn("lx", expr("ln(CAST(rank AS DOUBLE))"))
      .withColumn("ly", expr("ln(CAST(n AS DOUBLE))"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum(expr("CAST(floor(lx * 1000000) AS BIGINT)")).as("sx"),
        sum(expr("CAST(floor(ly * 1000000) AS BIGINT)")).as("sy"),
        sum(expr("CAST(floor(lx * ly * 1000000) AS BIGINT)")).as("sxy"),
        sum(expr("CAST(floor(lx * lx * 1000000) AS BIGINT)")).as("sxx"),
        sum(expr("CAST(floor(ly * ly * 1000000) AS BIGINT)")).as("syy"))
      .withColumn("slope_milli", expr(
        s"CASE WHEN $den > 0 THEN CAST(floor(($num) / ($den) * 1000) AS BIGINT) ELSE NULL END"))
      .withColumn("r2_milli", expr(
        s"CASE WHEN $den > 0 AND $deny > 0 THEN CAST(floor(($num) * ($num) / (($den) * ($deny)) * 1000) AS BIGINT) ELSE NULL END"))
      .select("source", "n_terms", "slope_milli", "r2_milli")
  }

  val textZipfSlopeSql: String = {
    val num = "CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    val den = "CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    val deny = "CAST(n_terms AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    s"""WITH counts AS (
       |  SELECT source, token, COUNT(*) AS n FROM (
       |    SELECT source, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
       |    FROM documents) t
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT source, token, n,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, token) AS rank
       |  FROM counts
       |), terms AS (
       |  SELECT source, ln(CAST(rank AS DOUBLE)) AS lx, ln(CAST(n AS DOUBLE)) AS ly
       |  FROM ranked WHERE rank <= $ZipfFitK
       |), m AS (
       |  SELECT source, COUNT(*) AS n_terms,
       |    CAST(SUM(CAST(floor(lx * 1000000) AS BIGINT)) AS BIGINT) AS sx,
       |    CAST(SUM(CAST(floor(ly * 1000000) AS BIGINT)) AS BIGINT) AS sy,
       |    CAST(SUM(CAST(floor(lx * ly * 1000000) AS BIGINT)) AS BIGINT) AS sxy,
       |    CAST(SUM(CAST(floor(lx * lx * 1000000) AS BIGINT)) AS BIGINT) AS sxx,
       |    CAST(SUM(CAST(floor(ly * ly * 1000000) AS BIGINT)) AS BIGINT) AS syy
       |  FROM terms GROUP BY 1
       |)
       |SELECT source, n_terms,
       |  CASE WHEN $den > 0 THEN CAST(floor(($num) / ($den) * 1000) AS BIGINT)
       |       ELSE NULL END AS slope_milli,
       |  CASE WHEN $den > 0 AND $deny > 0
       |       THEN CAST(floor(($num) * ($num) / (($den) * ($deny)) * 1000) AS BIGINT)
       |       ELSE NULL END AS r2_milli
       |FROM m ORDER BY 1""".stripMargin
  }

  /** Shingle novelty per document in doc_id order — "how much of this
    * doc's content is first seen HERE": for every doc, the fraction of
    * its distinct 3-gram shingles whose earliest owner (min doc_id
    * corpus-wide) is the doc itself. A crawl's novelty curve decays as
    * the corpus saturates; docs with novelty ≈ 0 are recombinations of
    * already-seen text (the incremental-crawl dedup gate, one level
    * softer than near-dup pairs).
    *
    * Scale shape: the exploded (shingle → doc) postings shuffle ONCE on
    * the shingle hash to find each shingle's min owner, then re-join
    * the postings on the same key (exchange reuse) and partial-agg per
    * doc — the dedup_ngram index family. n_novel·10⁶ ≤ |sh|·10⁶ ≤
    * ~10¹² per doc — BIGINT-safe by the doc-size bound.
    */
  def corpusNovelty(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash.sparkShingleHashes
    val postings = Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(sparkShingleHashes("text"))).as("h"))
    val firstOwner = postings.groupBy("h").agg(min("doc_id").as("first_doc"))
    postings.join(firstOwner, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_sh"))
      .orderBy("doc_id")
  }

  val corpusNoveltySql: String = {
    import graft.functions.PortableHash.duckShingleHashes
    s"""WITH postings AS (
       |  SELECT doc_id, unnest(${duckShingleHashes("text")}) AS h FROM documents
       |), first_owner AS (
       |  SELECT h, MIN(doc_id) AS first_doc FROM postings GROUP BY 1
       |)
       |SELECT p.doc_id, COUNT(*) AS n_sh,
       |  CAST(SUM(CASE WHEN p.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN p.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |    // COUNT(*) AS novelty_ppm
       |FROM postings p JOIN first_owner f USING (h)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Duplication-factor curve over 3-gram occurrences (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"
    * — their Fig. 1 readout): bucket every distinct 3-gram shingle by
    * floor(log2(occurrences corpus-wide)) and report, per bucket, how
    * many distinct shingles sit there and what share of TOTAL n-gram
    * mass they carry. This is the memorization-risk curve — the mass
    * sitting in high-duplication buckets is the text a model sees
    * hundreds of times per epoch, and the number dedup exists to move;
    * run it before/after dedup_* to measure the shift. Occurrences are
    * TOTAL (not per-doc-distinct), so within-doc repetition counts —
    * the quantity memorization actually responds to.
    *
    * Scale shape: shingle hashes are map-side in the scan projection
    * (the dedup family's kernel, NON-distinct variant); the only
    * corpus-sized shuffle is ONE partial-aggregated groupBy on the
    * 64-bit hash (the dedup_spans frequency pass); the log2 bucket
    * rolls that vocabulary-sized frame onto ≤ ~45 rows and the total
    * attaches as a one-row broadcast. Bucketing is length(bin(c))−1
    * integer math (no libm); mass_ppm cross-multiplies in
    * DECIMAL(38,0) (occurrences·10⁶ passes 2⁶³ at ~9×10¹² shingle
    * occurrences — a mere ~50 TB of text).
    */
  def corpusNgramInflation(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val sh = PortableHash.sparkShingles("filter(split(text, ' '), w -> w <> '')")
    val occ = Tables.documents(s, dir)
      .select(explode(expr(s"transform($sh, x -> ${PortableHash.sparkWordHash("x")})")).as("h"))
    val freq = occ.groupBy("h").agg(count(lit(1)).as("c"))
    val bucketed = freq
      .groupBy(expr("CAST(length(bin(c)) - 1 AS INT)").as("bucket"))
      .agg(count(lit(1)).as("n_shingles"), sum("c").as("occurrences"))
    val tot = bucketed.agg(sum("occurrences").as("total_occ"))
    bucketed.join(broadcast(tot))
      .withColumn("mass_ppm", expr(
        "CAST(CAST(occurrences AS DECIMAL(38,0)) * 1000000 div total_occ AS BIGINT)"))
      .select("bucket", "n_shingles", "occurrences", "mass_ppm")
      .orderBy("bucket")
  }

  val corpusNgramInflationSql: String = {
    import graft.functions.PortableHash
    val sh = PortableHash.duckShingles("list_filter(string_split(text, ' '), w -> w <> '')")
    s"""WITH occ AS (
       |  SELECT unnest(list_transform($sh, x -> ${PortableHash.duckWordHash("x")})) AS h
       |  FROM documents
       |), freq AS (
       |  SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY 1
       |), bucketed AS (
       |  SELECT CAST(length(bin(c)) - 1 AS INT) AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |    CAST(SUM(c) AS BIGINT) AS occurrences
       |  FROM freq GROUP BY 1
       |), t AS (SELECT CAST(SUM(occurrences) AS BIGINT) AS total_occ FROM bucketed)
       |SELECT bucket, n_shingles, occurrences,
       |  CAST(CAST(occurrences AS HUGEINT) * 1000000 // total_occ AS BIGINT) AS mass_ppm
       |FROM bucketed, t ORDER BY bucket""".stripMargin
  }

  /** Tokenizer fertility audit per (source, lang): subword tokens per
    * whitespace word (fertility) and characters per subword token
    * (compression) under the BPE-ish reference tokenization
    * ([[TextAnalysis.textTokens]]'s regex). THE pre-training fairness
    * readout — a tokenizer trained head-heavy spends 2-4× the tokens
    * per word on tail languages/sources, which silently re-weights the
    * mixture corpus_mix planned in WORDS (a doc budgeted as 200 words
    * of context costs 600 tokens of context window) and inflates their
    * training cost per unit of text. Read next to corpus_temp_mix:
    * the token-denominated mixture is the one training actually sees.
    *
    * Scale shape: the three counts are pure map-side column math in
    * the scan projection (regexp_extract_all + split sizes — codegen,
    * no UDF); the ONLY shuffle is one (source, lang)-keyed partial agg
    * onto a sources×langs-bounded frame. Ratios cross-multiply in
    * DECIMAL(38,0) (tokens·10⁶ passes 2⁶³ at ~9×10¹² tokens).
    */
  def tokenFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), col("lang"),
        expr("CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT)").as("w"),
        expr("CAST(size(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)").as("tk"),
        length(col("text")).cast("long").as("ch"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("words"),
        sum("tk").as("tokens"), sum("ch").as("chars"))
      .withColumn("fertility_ppm", expr(
        "CAST(CAST(tokens AS DECIMAL(38,0)) * 1000000 div words AS BIGINT)"))
      .withColumn("chars_per_token_ppm", expr(
        "CAST(CAST(chars AS DECIMAL(38,0)) * 1000000 div tokens AS BIGINT)"))
      .select("source", "lang", "n_docs", "words", "tokens",
        "fertility_ppm", "chars_per_token_ppm")
      .orderBy("source", "lang")

  val tokenFertilitySql: String =
    """WITH per AS (
      |  SELECT source, lang,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS w,
      |    CAST(len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS tk,
      |    CAST(length(text) AS BIGINT) AS ch
      |  FROM documents
      |)
      |SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(w) AS BIGINT) AS words, CAST(SUM(tk) AS BIGINT) AS tokens,
      |  CAST(CAST(SUM(tk) AS HUGEINT) * 1000000 // CAST(SUM(w) AS HUGEINT) AS BIGINT) AS fertility_ppm,
      |  CAST(CAST(SUM(ch) AS HUGEINT) * 1000000 // CAST(SUM(tk) AS HUGEINT) AS BIGINT) AS chars_per_token_ppm
      |FROM per GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** One BPE merge-selection step: the top-20 adjacent CHARACTER pairs
    * by corpus frequency — the argmax scan a byte-pair-encoding
    * tokenizer trainer runs once per merge. Distinct from
    * [[corpusBigrams]] (word-level collocations): BPE operates inside
    * words, and its classic scale trick is counting over the VOCAB
    * (distinct words weighted by frequency), never the raw corpus —
    * a 10¹³-token corpus has only ~10⁷ distinct words, so the pair scan
    * after the first partial agg is vocabulary-bounded.
    *
    * Scale shape: ONE corpus partial agg to the (word, count) vocab;
    * pair explosion is a map-side ≤\|word\|-fanout transform over that
    * vocab frame; the pair rollup is an alphabet²-bounded partial agg
    * and the top-20 is TakeOrdered. n_pairs ≤ total corpus tokens ×
    * avg word length ≤ 10¹⁴ — BIGINT-safe; n_types counts (word,
    * position) slots, so it is bounded by Σ(|word|−1) over the vocab,
    * NOT by vocab size — a pair occurring k times inside one word
    * contributes k (ApiSpec's hand case: 'aaa' gives n_types=2 for
    * 'aa').
    */
  def bpePairStep(s: SparkSession, dir: String): DataFrame =
    bpePairStepFor(Tables.documents(s, dir), 20)

  /** The bpe_pair_step body over (text): the `topK` pairs; shared with
    * [[graft.api.CorpusOps.bpePairCounts]].
    */
  private[graft] def bpePairStepFor(docs: DataFrame, topK: Int): DataFrame =
    docs
      .select(explode(expr("filter(split(text, ' '), w -> w <> '')")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"), col("cnt"))
      .groupBy("pair")
      .agg(sum("cnt").as("n_pairs"), count(lit(1)).as("n_types"))
      .orderBy(col("n_pairs").desc, col("pair")).limit(topK)

  val bpePairStepSql: String =
    """WITH vocab AS (
      |  SELECT token AS word, COUNT(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
      |    FROM documents) t
      |  GROUP BY 1
      |), pairs AS (
      |  SELECT unnest(list_transform(range(1, length(word)),
      |           i -> substr(word, CAST(i AS INT), 2))) AS pair, cnt
      |  FROM vocab WHERE length(word) >= 2
      |)
      |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_pairs,
      |  CAST(COUNT(*) AS BIGINT) AS n_types
      |FROM pairs GROUP BY 1 ORDER BY n_pairs DESC, pair LIMIT 20""".stripMargin

  /** rungs of the BPE training ladder — like the other converge
    * ladders, the iteration count is the CONTRACT (each rung pays one
    * vocab-bounded pair recount by design).
    */
  val BpeTrainIters = 4

  /** symbol-sequence string form of a vocab word: every symbol wrapped
    * in `|` bars (`abc` → `|a||b||c|`), so applying a merge is ONE
    * portable `replace` — both engines replace left-to-right
    * non-overlapping, which IS the standard BPE apply, and the bar
    * framing makes the pattern `|l||r|` match only at true symbol
    * boundaries (bar-free runs are exactly the symbols; a symbol never
    * contains a bar — guarded fail-loud below on the vocab frame).
    */
  private val bpeSymExpr =
    "concat('|', array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), '||'), '|')"

  /** The BPE TRAINING ladder — [[bpePairStep]] is one merge-selection
    * argmax; a real tokenizer trainer APPLIES the merge to the vocab
    * and recounts, N times. [[BpeTrainIters]] rungs over the
    * (word, count) vocab frame: per rung, count adjacent SYMBOL pairs
    * (corpus-weighted, overlapping — the classic selection statistic,
    * so rung 1's argmax IS bpe_pair_step's top row, asserted in
    * OperatorInvariantSpec), select the max-count pair (ties by pair,
    * the bpe_pair_step order), apply it greedily left-to-right via the
    * bar-framed `replace`, and emit (iter, merged, n_pairs, n_types,
    * vocab_mass) where vocab_mass = Σ count·|symbols| AFTER the merge
    * — the token-budget curve a tokenizer trainer reads to stop
    * (read with token_fertility / text_vocab_coverage). Mass strictly
    * decreases by the number of merges APPLIED, which is ≤ n_pairs
    * (overlapping occurrences count toward selection but merge once —
    * `aaa` has two `aa` pairs, one greedy merge).
    *
    * 100 TB shape: ONE corpus partial agg to the vocab (the
    * bpe_pair_step scale trick — a 10¹³-token corpus has ~10⁷ distinct
    * words); every rung after that is vocab-bounded (pair fanout ≤
    * Σ|word|, argmax a TakeOrdered, apply a map-side replace), climbed
    * as a [[Ladder.counted]] ladder, which checkpoints every rung's vocab
    * so the plan tree stays flat.
    */
  def bpeTrainConverge(s: SparkSession, dir: String): DataFrame =
    bpeTrainLadder(Tables.documents(s, dir)
      .select(explode(expr("filter(split(text, ' '), w -> w <> '')")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt")))

  /** the ladder over ANY (`word`, `cnt`) vocab frame — the library
    * entry point, and what lets OperatorInvariantSpec replay the
    * greedy-apply/overlap semantics on a hand vocab.
    */
  def bpeTrainLadder(vocabWords: DataFrame): DataFrame = {
    val vocab0 = vocabWords
      // separator guard on the vocab frame (vocab-sized, not corpus-
      // sized): a word containing the bar would corrupt the symbol
      // framing — fail loud, never mis-merge
      .select(expr("CASE WHEN word LIKE '%|%' THEN " +
        "raise_error(concat('bpe separator collision in word: ', word)) " +
        s"ELSE $bpeSymExpr END").as("sym"), col("cnt"))
    Ladder.counted(vocab0, BpeTrainIters) { (r, vocab) =>
      val pairs = vocab
        .select(expr("filter(split(sym, '\\\\|'), x -> x <> '')").as("syms"), col("cnt"))
        .filter(expr("size(syms) >= 2"))
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
            "named_struct('l', element_at(syms, i), 'r', element_at(syms, i + 1)))"))
          .as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("n_pairs"), count(lit(1)).as("n_types"))
      val sel = Materialize.stable(
        pairs.orderBy(col("n_pairs").desc, col("l"), col("r")).limit(1))
      val merged = vocab.crossJoin(broadcast(sel.select(col("l"), col("r"))))
        .select(expr(
          "replace(sym, concat('|', l, '||', r, '|'), concat('|', l, r, '|'))")
          .as("sym"), col("cnt"))
      (merged, next => {
        val mass = next.agg(
          sum(expr("cnt * ((length(sym) - length(replace(sym, '|', ''))) div 2)"))
            .as("vocab_mass"))
        sel.select(lit(r.toLong).as("iter"),
            concat(col("l"), col("r")).as("merged"),
            col("n_pairs"), col("n_types"))
          .crossJoin(broadcast(mass))
      })
    }
  }

  val bpeTrainConvergeSql: String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH vocab0 AS (
         |  SELECT '|' || array_to_string(list_transform(range(1, length(word) + 1),
         |    i -> word[CAST(i AS INT)]), '||') || '|' AS sym, cnt
         |  FROM (
         |    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |      SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
         |      FROM documents) t
         |    GROUP BY 1) v)""".stripMargin)
    (1 to BpeTrainIters).foreach { r =>
      sb.append(
        s""", pairs$r AS (
           |  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r, cnt
           |  FROM (SELECT list_filter(string_split(sym, '|'), x -> x <> '') AS syms, cnt
           |        FROM vocab${r - 1}) v,
           |    UNNEST(range(1, len(syms))) AS t(i)
           |), sel$r AS (
           |  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS n_pairs,
           |    CAST(COUNT(*) AS BIGINT) AS n_types
           |  FROM pairs$r GROUP BY 1, 2
           |  ORDER BY n_pairs DESC, l, r LIMIT 1
           |), vocab$r AS (
           |  SELECT replace(sym, '|' || s.l || '||' || s.r || '|',
           |    '|' || s.l || s.r || '|') AS sym, cnt
           |  FROM vocab${r - 1} CROSS JOIN sel$r s
           |), mass$r AS (
           |  SELECT CAST(SUM(cnt * ((length(sym) - length(replace(sym, '|', ''))) // 2)) AS BIGINT)
           |    AS vocab_mass
           |  FROM vocab$r
           |)""".stripMargin)
    }
    sb.append("\n")
    sb.append((1 to BpeTrainIters).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS iter, l || r AS merged, n_pairs, n_types, vocab_mass
         |FROM sel$r, mass$r""".stripMargin
    }.mkString("\nUNION ALL\n"))
    sb.append("\nORDER BY iter")
    sb.toString
  }

  /** Per-source distribution drift: KL(source ‖ corpus) over unigram
    * token distributions, in ppb — the "did this source's language
    * shift away from the mix" gate a corpus refresh runs before
    * re-weighting ([[sourceDiversity]] measures concentration WITHIN a
    * source; this measures divergence BETWEEN a source and the blend).
    *
    * Determinism: each token's contribution
    * (n_st/n_s)·log2(n_st·n_tot/(n_s·n_t)) is ONE fixed-shape double
    * expression (identical op order both engines, events_entropy's
    * log2 convention) floor-quantized to a ppb BIGINT per token —
    * summation is then exact integer math, so shuffle order can never
    * move a bit. \|term\| ≤ 10⁹·64 per token ≪ 2⁶³; the sum is
    * vocab-bounded × that, safe to 10⁸ vocab.
    *
    * Scale shape: ONE (source, token) corpus partial agg; token
    * marginals partial-agg over that grid and re-attach by a
    * co-partitioned token equi-join; source marginals and the one-row
    * corpus total ride back as broadcasts; final rollup is
    * sources-bounded.
    */
  def sourceKlDrift(s: SparkSession, dir: String): DataFrame =
    sourceKlDriftFor(Tables.documents(s, dir)).orderBy("source")

  /** The source_kl_drift body over (source, text); shared with
    * [[graft.api.CorpusOps.sourceDrift]].
    */
  private[graft] def sourceKlDriftFor(docs: DataFrame): DataFrame = {
    val grid = Materialize.stable(docs
      .select(col("source"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n_st")))
    val bySource = grid.groupBy("source")
      .agg(sum("n_st").as("n_s"), count(lit(1)).as("n_vocab"))
    val byToken = grid.groupBy("token").agg(sum("n_st").as("n_t"))
    val total = bySource.agg(sum("n_s").as("n_tot"))
    grid.join(byToken, Seq("token"))
      .join(broadcast(bySource), Seq("source"))
      .join(broadcast(total))
      .withColumn("term_ppb", expr(
        """CAST(floor(CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE)
          |  * log2(CAST(n_st AS DOUBLE) * CAST(n_tot AS DOUBLE)
          |         / (CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE)))
          |  * 1000000000) AS BIGINT)""".stripMargin.replaceAll("\\s+", " ")))
      .groupBy("source")
      .agg(max("n_s").as("n_tokens"), max("n_vocab").as("n_vocab"),
        sum("term_ppb").as("kl_ppb"))
  }

  val sourceKlDriftSql: String =
    """WITH grid AS (
      |  SELECT source, token, COUNT(*) AS n_st FROM (
      |    SELECT source, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
      |    FROM documents) t
      |  GROUP BY 1, 2
      |), by_source AS (
      |  SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_s, COUNT(*) AS n_vocab
      |  FROM grid GROUP BY 1
      |), by_token AS (
      |  SELECT token, CAST(SUM(n_st) AS BIGINT) AS n_t FROM grid GROUP BY 1
      |), t AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM by_source)
      |SELECT g.source, MAX(s.n_s) AS n_tokens, MAX(s.n_vocab) AS n_vocab,
      |  CAST(SUM(CAST(floor(CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE)
      |    * log2(CAST(n_st AS DOUBLE) * CAST(n_tot AS DOUBLE)
      |           / (CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE)))
      |    * 1000000000) AS BIGINT)) AS BIGINT) AS kl_ppb
      |FROM grid g
      |JOIN by_token k ON g.token = k.token
      |JOIN by_source s ON g.source = s.source
      |CROSS JOIN t
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DSIR feature space: word hashes folded into this many buckets.
    * 256 keeps the feature tables broadcast-trivial (two 256-row
    * frames) while still separating topical vocabularies; the paper
    * uses 10⁴ hashed n-gram buckets at pretraining scale — the bucket
    * count is the only knob that changes.
    */
  val DsirBuckets = 256L

  /** Hashed-feature importance weights for data selection (DSIR — Xie
    * et al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): fit two bag-of-hashed-word models — the TARGET
    * distribution (here: the `lang = 'en'` slice standing in for the
    * in-domain corpus) and the RAW distribution (the whole corpus) —
    * and score every doc with its log importance weight
    * log p_target(doc) − log p_raw(doc) = Σ_f c_f(doc) · log(p_t(f)/p_r(f))
    * (add-one smoothed). Docs with positive weight look more like the
    * target than the raw pool; sampling ∝ weight is the DSIR selection
    * step. Output: per-source weight profile (n_docs, mean weight in
    * ppb, share of target-leaning docs) — the table that says which
    * sources the resampling would up/down-weight.
    *
    * Portability: each feature's log-ratio is ONE fixed-shape log2
    * floor-quantized to ppb (the source_kl_drift discipline; its
    * argument is a ratio of exact integers, identical on both
    * engines); doc weights are then integer Σ c·term — order-free —
    * and the per-source sum accumulates in DECIMAL(38,0) (doc weight
    * ≤ ~5×10¹³ ppb, so a BIGINT source sum would cross 2⁶³ at ~10⁵
    * docs).
    *
    * Scale shape: ONE (doc, feature) partial agg off the exploded scan
    * (≤ [[DsirBuckets]] rows per doc pre-shuffle thanks to map-side
    * partial agg); the two feature tables are [[DsirBuckets]]-row
    * aggregates that BROADCAST back onto the grid; per-doc weight is
    * one doc-keyed partial agg; the rollup is sources-bounded. The
    * corpus text never shuffles — exactly the DSIR production shape
    * (hashed features make the model size independent of vocab).
    */
  /** per-doc DSIR log importance weights over ANY frame with (doc_id,
    * `textCol`) — the library entry point. `isTarget` marks the
    * in-domain slice the weights steer toward; `carry` lists extra
    * columns to thread through to the output (e.g. the rollup key).
    * Returns (doc_id, carry…, w_ppb).
    */
  def dsirDocWeightsFor(docs: DataFrame, textCol: String, isTarget: org.apache.spark.sql.Column,
      carry: Seq[String] = Nil): DataFrame = {
    import graft.functions.PortableHash
    val keys = Seq("doc_id") ++ carry
    val grid = Materialize.stable(docs
      .select(col("doc_id") +: carry.map(col) :+ isTarget.as("__tgt") :+
        explode(expr(s"filter(split($textCol, ' '), w -> w <> '')")).as("w"): _*)
      .withColumn("f", expr(s"${PortableHash.sparkWordHash("w")} % $DsirBuckets"))
      .groupBy((keys :+ "__tgt" :+ "f").map(col): _*)
      .agg(count(lit(1)).as("c")))
    val rawFeat = grid.groupBy("f").agg(sum("c").as("c_r"))
    val tgtFeat = grid.filter(col("__tgt"))
      .groupBy("f").agg(sum("c").as("c_t"))
    val feats = rawFeat.join(tgtFeat, Seq("f"), "left")
      .withColumn("c_t", coalesce(col("c_t"), lit(0L)))
    val totals = feats.agg(sum("c_r").as("tot_r"), sum("c_t").as("tot_t"))
    val terms = feats.join(broadcast(totals))
      .withColumn("term_ppb", expr(
        s"""CAST(floor(log2(CAST((c_t + 1) AS DOUBLE) * CAST(tot_r + $DsirBuckets AS DOUBLE)
           |  / (CAST((c_r + 1) AS DOUBLE) * CAST(tot_t + $DsirBuckets AS DOUBLE)))
           |  * 1000000000) AS BIGINT)""".stripMargin.replaceAll("\\s+", " ")))
      .select("f", "term_ppb")
    grid.join(broadcast(terms), Seq("f"))
      .groupBy(keys.map(col): _*)
      .agg(sum(expr("c * term_ppb")).as("w_ppb"))
  }

  def corpusDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    dsirDocWeightsFor(docs, "text", col("lang") === "en", carry = Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("CAST(w_ppb AS DECIMAL(38,0))")).as("sum_w"),
        sum(expr("CASE WHEN w_ppb > 0 THEN 1 ELSE 0 END")).as("n_target_like"))
      .withColumn("mean_w_ppb", expr("CAST(sum_w div n_docs AS BIGINT)"))
      .select(col("source"), col("n_docs"), col("mean_w_ppb"),
        col("n_target_like"),
        expr("CAST(n_target_like * 1000000 div n_docs AS BIGINT)").as("target_like_ppm"))
      .orderBy("source")
  }

  val corpusDsirWeightsSql: String = {
    import graft.functions.PortableHash
    s"""WITH grid AS (
       |  SELECT doc_id, source, lang, f, COUNT(*) AS c FROM (
       |    SELECT doc_id, source, lang, ${PortableHash.duckWordHash("w")} % $DsirBuckets AS f
       |    FROM (
       |      SELECT doc_id, source, lang,
       |        unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
       |      FROM documents) t0) t1
       |  GROUP BY 1, 2, 3, 4
       |), feats AS (
       |  SELECT f, CAST(SUM(c) AS BIGINT) AS c_r,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS c_t
       |  FROM grid GROUP BY 1
       |), t AS (
       |  SELECT CAST(SUM(c_r) AS BIGINT) AS tot_r, CAST(SUM(c_t) AS BIGINT) AS tot_t
       |  FROM feats
       |), terms AS (
       |  SELECT f,
       |    CAST(floor(log2(CAST((c_t + 1) AS DOUBLE) * CAST(tot_r + $DsirBuckets AS DOUBLE)
       |      / (CAST((c_r + 1) AS DOUBLE) * CAST(tot_t + $DsirBuckets AS DOUBLE)))
       |      * 1000000000) AS BIGINT) AS term_ppb
       |  FROM feats, t
       |), doc_w AS (
       |  SELECT g.doc_id, g.source, CAST(SUM(g.c * tm.term_ppb) AS BIGINT) AS w_ppb
       |  FROM grid g JOIN terms tm ON g.f = tm.f
       |  GROUP BY 1, 2
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(CAST(SUM(CAST(w_ppb AS HUGEINT)) AS HUGEINT) // COUNT(*) AS BIGINT) AS mean_w_ppb,
       |  CAST(SUM(CASE WHEN w_ppb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_target_like,
       |  CAST(SUM(CASE WHEN w_ppb > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS target_like_ppm
       |FROM doc_w GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Quality-score band edges (milli-units) for the dup-lift
    * calibration: fixed VALUE thresholds, not rank quartiles — band
    * membership is a pure map-side function of the doc (deterministic,
    * no global ranking pass), and the bands stay comparable across
    * corpus snapshots (a rank band silently moves when the corpus
    * drifts; a value band doesn't).
    */
  val LiftBandLowMax = 265L  // score_milli < 265 → "low"
  val LiftBandMidMax = 285L  // 265 ≤ score_milli < 285 → "mid"; else "high"

  /** Quality-score ↔ duplication calibration table: for each fixed
    * quality band, the share of docs that are near-dup members and its
    * lift vs the corpus-wide dup rate — the audit that answers "does
    * the cheap quality score actually predict duplication?" before a
    * pipeline uses score thresholds as a pre-dedup filter (if lift ≈ 1
    * everywhere, filtering by score saves no dedup work; if low-band
    * lift ≫ 1, the score is a cheap dup pre-screen).
    *
    * Scale shape: the score and band are map-side column math (same
    * expressions as text_quality); dup membership reuses
    * [[Dedup.minhashPairs]] verbatim (LSH-bounded, never all-pairs) and
    * collapses to a distinct doc-id frame that joins back LEFT on
    * doc_id — output-sized, co-partitioned; the rollup is a 3-row
    * partial agg with a one-row totals broadcast. Ratios are integer
    * ppm with DECIMAL(38,0) products (exact at any corpus size);
    * lift_ppm = 10⁶ · band_rate / corpus_rate.
    */
  def qualityDupLift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val banded = docs
      .withColumn("words", expr("filter(split(text, ' '), w -> w <> '')"))
      .withColumn("n_words", expr("CAST(size(words) AS BIGINT)"))
      .withColumn("score_milli", expr(
        "CAST(floor((CAST(0.4 AS DOUBLE) * least(CAST(1 AS DOUBLE), CAST(n_words AS DOUBLE) / CAST(200 AS DOUBLE)) " +
          "+ CAST(0.3 AS DOUBLE) * (CAST(size(array_distinct(words)) AS DOUBLE) / n_words) " +
          "+ CAST(0.3 AS DOUBLE) * (CAST(size(filter(words, w -> array_contains(array('the', 'a', 'and', 'of', 'to'), w))) AS DOUBLE) / n_words)) * 1000) AS BIGINT)"))
      .withColumn("band", expr(
        s"CASE WHEN score_milli < $LiftBandLowMax THEN 'low' " +
          s"WHEN score_milli < $LiftBandMidMax THEN 'mid' ELSE 'high' END"))
      .select("doc_id", "band")
    val dupIds = Dedup.minhashPairs(docs)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("is_dup", lit(1L))
    val byBand = banded.join(dupIds, Seq("doc_id"), "left")
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
    val totals = byBand.agg(sum("n_docs").as("tot_docs"), sum("n_dup").as("tot_dup"))
    byBand.join(broadcast(totals))
      .withColumn("dup_ppm",
        expr("CAST(CAST(n_dup AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)"))
      .withColumn("lift_ppm", expr(
        "CASE WHEN tot_dup = 0 THEN 0 ELSE " +
          "CAST(CAST(n_dup AS DECIMAL(38,0)) * tot_docs * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * tot_dup) AS BIGINT) END"))
      .select("band", "n_docs", "n_dup", "dup_ppm", "lift_ppm")
      .orderBy("band")
  }

  val qualityDupLiftSql: String = {
    val dr = "CAST(len(list_distinct(words)) AS DOUBLE) / n_words"
    val sr = "CAST(len(list_filter(words, w -> list_contains(['the', 'a', 'and', 'of', 'to'], w))) AS DOUBLE) / n_words"
    s"""WITH banded AS (
       |  SELECT doc_id,
       |    CASE WHEN score_milli < $LiftBandLowMax THEN 'low'
       |         WHEN score_milli < $LiftBandMidMax THEN 'mid' ELSE 'high' END AS band
       |  FROM (
       |    SELECT doc_id,
       |      CAST(floor((CAST(0.4 AS DOUBLE) * least(CAST(1 AS DOUBLE), CAST(n_words AS DOUBLE) / CAST(200 AS DOUBLE))
       |        + CAST(0.3 AS DOUBLE) * ($dr)
       |        + CAST(0.3 AS DOUBLE) * ($sr)) * 1000) AS BIGINT) AS score_milli
       |    FROM (
       |      SELECT doc_id, words, len(words) AS n_words FROM (
       |        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
       |        FROM documents) t0) t1) t2
       |), dup_ids AS (
       |  SELECT doc_a AS doc_id FROM (${Dedup.dedupMinhashSql}) p1
       |  UNION
       |  SELECT doc_b AS doc_id FROM (${Dedup.dedupMinhashSql}) p2
       |), by_band AS (
       |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup
       |  FROM banded b LEFT JOIN dup_ids d ON b.doc_id = d.doc_id
       |  GROUP BY 1
       |), t AS (
       |  SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
       |    CAST(SUM(n_dup) AS BIGINT) AS tot_dup FROM by_band
       |)
       |SELECT band, n_docs, n_dup,
       |  CAST(CAST(n_dup AS HUGEINT) * 1000000 // n_docs AS BIGINT) AS dup_ppm,
       |  CASE WHEN tot_dup = 0 THEN 0
       |       ELSE CAST(CAST(n_dup AS HUGEINT) * tot_docs * 1000000 // (CAST(n_docs AS HUGEINT) * tot_dup) AS BIGINT) END AS lift_ppm
       |FROM by_band, t ORDER BY band""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_ngram_inflation" -> (corpusNgramInflation _),
    "token_fertility" -> (tokenFertility _),
    "quality_dup_lift" -> (qualityDupLift _),
    "text_vocab_coverage" -> (textVocabCoverage _),
    "corpus_dsir_weights" -> (corpusDsirWeights _),
    "bpe_pair_step" -> (bpePairStep _),
    "bpe_train_converge" -> (bpeTrainConverge _),
    "source_kl_drift" -> (sourceKlDrift _),
    "corpus_novelty" -> (corpusNovelty _),
    "corpus_lm_buckets" -> (corpusLmBuckets _),
    "text_repetition" -> (textRepetition _),
    "text_ngram_lm" -> (textNgramLm _),
    "corpus_source_stats" -> (corpusSourceStats _),
    "corpus_bigrams" -> (corpusBigrams _),
    "text_zipf" -> (textZipf _),
    "source_diversity" -> (sourceDiversity _),
    "text_hapax" -> (textHapax _),
    "text_zipf_slope" -> (textZipfSlope _))

  val oracles: Map[String, String] = Map(
    "corpus_ngram_inflation" -> corpusNgramInflationSql,
    "token_fertility" -> tokenFertilitySql,
    "quality_dup_lift" -> qualityDupLiftSql,
    "text_vocab_coverage" -> textVocabCoverageSql,
    "corpus_dsir_weights" -> corpusDsirWeightsSql,
    "bpe_pair_step" -> bpePairStepSql,
    "bpe_train_converge" -> bpeTrainConvergeSql,
    "source_kl_drift" -> sourceKlDriftSql,
    "corpus_novelty" -> corpusNoveltySql,
    "corpus_lm_buckets" -> corpusLmBucketsSql,
    "text_repetition" -> textRepetitionSql,
    "text_ngram_lm" -> textNgramLmSql,
    "corpus_source_stats" -> corpusSourceStatsSql,
    "corpus_bigrams" -> corpusBigramsSql,
    "text_zipf" -> textZipfSql,
    "source_diversity" -> sourceDiversitySql,
    "text_hapax" -> textHapaxSql,
    "text_zipf_slope" -> textZipfSlopeSql)
}
