package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash._
import graft.sources.Tables

/** Text-analysis operators for the LLM-pipeline surface (SURVEY §2):
  * language ID (stopword-lexicon heuristic), quality scoring, token
  * counting, and rolling document fingerprints.
  *
  * Everything is pure column math + codegen HOFs over the scan — no
  * UDFs, no shuffle before the final small aggregate. Per-doc work is
  * O(len(text)), embarrassingly parallel at 100 TB.
  */
object TextAnalysis {

  /** per-language stopword lexicons (drawn from the corpus vocabulary —
    * the heuristic is the operator; the lexicon is config).
    */
  val lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "row", "window", "group"),
    "en" -> Seq("the", "a", "fast", "slow", "big", "small"),
    "es" -> Seq("data", "query", "filter", "sort"),
    "fr" -> Seq("join", "merge", "order", "value"),
    "zh" -> Seq("spark", "batch", "stream", "hash"))

  private[operators] def sparkLexCount(lex: Seq[String]): String = {
    val arr = lex.map(w => s"'$w'").mkString("array(", ", ", ")")
    s"size(filter(split(text, ' '), w -> array_contains($arr, w)))"
  }

  private[operators] def duckLexCount(lex: Seq[String]): String = {
    val arr = lex.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(string_split(text, ' '), w -> list_contains($arr, w)))"
  }

  /** appends the lexicon-argmax `predicted` column — the shared
    * predictor behind [[textLangid]]'s confusion matrix and
    * [[sourceLabelTrust]]'s per-source metadata audit. Deterministic
    * lexicographic tie-break; pure map-side column math.
    */
  private[operators] def withPredicted(d: DataFrame): DataFrame = {
    val scored = lexicons.foldLeft(d) { case (df, (lang, lex)) =>
      df.withColumn(s"s_$lang", expr(sparkLexCount(lex)))
    }
    val langs = lexicons.map(_._1)
    val pred = langs.foldRight(lit(langs.last)) { case (lang, acc) =>
      val others = langs.filterNot(_ == lang).map(l => col(s"s_$l"))
      when(col(s"s_$lang") >= greatest(others: _*), lang).otherwise(acc)
    }
    scored.withColumn("predicted", pred)
  }

  /** argmax over lexicon-hit counts with deterministic lexicographic
    * tie-break; output = confusion counts vs the labeled lang column.
    */
  def textLangid(s: SparkSession, dir: String): DataFrame =
    withPredicted(Tables.documents(s, dir))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  /** Metadata-trust audit: per source, how often the DECLARED language
    * label agrees with the content-based langid prediction — the "can
    * I trust this crawl's metadata" gate that decides whether a
    * pipeline keys its language filters on the label column or pays
    * for content ID everywhere ([[textLangid]] gives the corpus-wide
    * confusion matrix; this resolves it per origin, which is where
    * label quality actually varies).
    *
    * Scale shape: the predictor is map-side column math on the scan;
    * the rollup is ONE sources-bounded partial agg. n_agree·10⁶ ≤
    * docs·10⁶ — BIGINT-safe to 9×10¹² docs.
    */
  def sourceLabelTrust(s: SparkSession, dir: String): DataFrame =
    withPredicted(Tables.documents(s, dir))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted") === col("lang"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("agree_ppm", expr("n_agree * 1000000 div n_docs"))
      .orderBy("source")

  val textLangidSql: String = {
    val scores = lexicons.map { case (lang, lex) => s"${duckLexCount(lex)} AS s_$lang" }.mkString(",\n    ")
    val langs = lexicons.map(_._1)
    val pred = langs.init.foldRight(s"'${langs.last}'") { case (lang, acc) =>
      val others = langs.filterNot(_ == lang).map(l => s"s_$l").mkString("greatest(", ", ", ")")
      s"CASE WHEN s_$lang >= $others THEN '$lang' ELSE $acc END"
    }
    s"""SELECT lang, $pred AS predicted, COUNT(*) AS n
       |FROM (
       |  SELECT lang,
       |    $scores
       |  FROM documents) t
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val sourceLabelTrustSql: String = {
    val scores = lexicons.map { case (lang, lex) => s"${duckLexCount(lex)} AS s_$lang" }.mkString(",\n    ")
    val langs = lexicons.map(_._1)
    val pred = langs.init.foldRight(s"'${langs.last}'") { case (lang, acc) =>
      val others = langs.filterNot(_ == lang).map(l => s"s_$l").mkString("greatest(", ", ", ")")
      s"CASE WHEN s_$lang >= $others THEN '$lang' ELSE $acc END"
    }
    s"""WITH scored AS (
       |  SELECT source, lang, $pred AS predicted FROM (
       |    SELECT source, lang,
       |      $scores
       |    FROM documents) t
       |)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS agree_ppm
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** length / distinct-word / stopword-ratio quality score.
    *
    * Derived doubles are quantized with floor(x·10⁶)/10⁶, NOT round():
    * decimal rounding of binary doubles tie-breaks differently across
    * engines, floor is a pure IEEE op chain → bit-identical in the
    * oracle.
    */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    qualityFor(Tables.documents(s, dir))
      .withColumn("avg_word_len",
        expr(q6("CAST(aggregate(words, 0L, (acc, w) -> acc + length(w)) AS DOUBLE) / n_words")))
      .select("doc_id", "n_words", "distinct_ratio", "stop_ratio", "avg_word_len", "score")
      .orderBy("doc_id")

  /** The quality columns of text_quality over a `text` column: adds
    * `words`, `n_words`, `distinct_ratio`, `stop_ratio` and the
    * composite `score`. Shared by corpus_curate, the streaming
    * [[graft.streaming.IngestPipeline.curate]] and
    * [[graft.api.CorpusOps.qualityScore]].
    */
  private[graft] def qualityFor(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", expr("filter(split(text, ' '), w -> w <> '')"))
      .withColumn("n_words", expr("CAST(size(words) AS BIGINT)"))
      .withColumn("distinct_ratio",
        expr(q6("CAST(size(array_distinct(words)) AS DOUBLE) / n_words")))
      .withColumn("stop_ratio",
        expr(q6("CAST(size(filter(words, w -> array_contains(array('the', 'a', 'and', 'of', 'to'), w))) AS DOUBLE) / n_words")))
      .withColumn("score",
        expr(q6("CAST(0.4 AS DOUBLE) * least(CAST(1 AS DOUBLE), CAST(n_words AS DOUBLE) / CAST(200 AS DOUBLE)) + CAST(0.3 AS DOUBLE) * distinct_ratio + CAST(0.3 AS DOUBLE) * stop_ratio")))

  val textQualitySql: String = {
    val dr = q6("CAST(len(list_distinct(words)) AS DOUBLE) / n_words")
    val sr = q6("CAST(len(list_filter(words, w -> list_contains(['the', 'a', 'and', 'of', 'to'], w))) AS DOUBLE) / n_words")
    val awl = q6("CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(words, w -> CAST(length(w) AS BIGINT))), (acc, x) -> acc + x) AS DOUBLE) / n_words")
    s"""SELECT doc_id, n_words,
       |  $dr AS distinct_ratio,
       |  $sr AS stop_ratio,
       |  $awl AS avg_word_len,
       |  ${q6(s"CAST(0.4 AS DOUBLE) * least(CAST(1 AS DOUBLE), CAST(n_words AS DOUBLE) / CAST(200 AS DOUBLE)) + CAST(0.3 AS DOUBLE) * ($dr) + CAST(0.3 AS DOUBLE) * ($sr)")} AS score
       |FROM (
       |  SELECT doc_id, words, len(words) AS n_words FROM (
       |    SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
       |    FROM documents) t0) t
       |ORDER BY doc_id""".stripMargin
  }

  /** whitespace + BPE-ish (≤4-char chunk) token counts. */
  def textTokens(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT)").as("n_ws_tokens"),
        expr("CAST(size(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)").as("n_subword_tokens"),
        length(col("text")).cast("long").as("n_chars_actual"))
      .orderBy("doc_id")
  }

  val textTokensSql: String =
    """SELECT doc_id,
      |  len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+|[^a-z0-9 ]')) AS n_subword_tokens,
      |  length(text) AS n_chars_actual
      |FROM documents ORDER BY doc_id""".stripMargin

  /** rolling polynomial fingerprint over word hashes (order-sensitive —
    * the "content etag" of a document).
    */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr(sparkFingerprint("text")).as("fingerprint"),
        expr("CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT)").as("n_words"))
      .orderBy("doc_id")
  }

  val textFingerprintSql: String =
    s"""SELECT doc_id, ${duckFingerprint("text")} AS fingerprint,
       |  len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- PII scrubbing ------------------------------------------------------

  /** regex patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB). */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrub: count and redact emails / IPv4s per document. The corpus
    * has no organic PII, so a deterministic injection (doc_id-derived
    * emails on every 5th doc, IPs on every 7th) builds the ground truth
    * the scrubber must find; counts + a fingerprint of the REDACTED text
    * prove the rewrite. Pure map-side regex column math — the shape of
    * every production PII pass.
    */
  def textPiiScrub(s: SparkSession, dir: String): DataFrame =
    piiScrubFor(Tables.documents(s, dir)
      .withColumn("dirty", expr(
        """concat(text,
          |  CASE WHEN doc_id % 5 = 0 THEN concat(' contact user', doc_id, '@example.com now') ELSE '' END,
          |  CASE WHEN doc_id % 7 = 0 THEN concat(' from 10.0.', doc_id % 256, '.', doc_id % 100, ' logged') ELSE '' END)""".stripMargin)),
      "dirty")
      .select(col("doc_id"), col("n_emails"), col("n_ips"),
        expr(sparkFingerprint("dirty")).as("scrub_fp"))
      .orderBy("doc_id")

  /** The text_pii_scrub body: adds `n_emails` and `n_ips` counted in
    * `textCol` and redacts `textCol` in place; shared with
    * [[graft.api.CorpusOps.piiScrub]].
    */
  private[graft] def piiScrubFor(docs: DataFrame, textCol: String): DataFrame = {
    // Spark SQL string literals eat single backslashes (\b -> backspace),
    // so regexes embedded in expr() text must double them
    def sqlRe(re: String) = re.replace("\\", "\\\\")
    val (em, ip) = (sqlRe(EmailRe), sqlRe(Ipv4Re))
    docs
      .withColumn("n_emails",
        expr(s"CAST(size(regexp_extract_all($textCol, '$em', 0)) AS BIGINT)"))
      .withColumn("n_ips",
        expr(s"CAST(size(regexp_extract_all($textCol, '$ip', 0)) AS BIGINT)"))
      .withColumn(textCol,
        expr(s"regexp_replace(regexp_replace($textCol, '$em', '<EMAIL>'), '$ip', '<IP>')"))
  }

  val textPiiScrubSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(dirty, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(dirty, '$Ipv4Re')) AS BIGINT) AS n_ips,
       |  ${duckFingerprint(s"regexp_replace(regexp_replace(dirty, '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g')")} AS scrub_fp
       |FROM (
       |  SELECT doc_id, text ||
       |    (CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END) ||
       |    (CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || doc_id % 256 || '.' || doc_id % 100 || ' logged' ELSE '' END) AS dirty
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin

  val TfidfTopK = 3

  /** Per-document top-[[TfidfTopK]] terms by a tf·(N/df) salience score
    * — tf-idf with a RATIONAL idf (N/df instead of log(N/df)): the
    * ranking is identical (x ↦ log x is monotone) and the score is
    * three exact IEEE ops (int→double casts, one multiply, one divide)
    * that both engines reproduce bit-for-bit, where a libm `ln` could
    * differ in the last ulp and flip the q6 floor.
    *
    * Scale shape: explode → (doc, term) partial-agg count → term-level
    * df partial-agg (vocabulary-sized, shuffles terms not the corpus)
    * → df join back (AQE broadcasts a small vocabulary, degrades to a
    * shuffle equi-join on term at 100 TB) → per-doc top-k through a
    * WindowGroupLimit partial (per-partition top-k ships before the
    * shuffle).
    */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // feeds BOTH the df aggregate and the final join — materialize so
    // the corpus explode+agg (the expensive pass) runs once, not twice
    val tf = Materialize.stable(docs
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.groupBy().agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score",
        expr("CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("rank"), col("term"),
        expr("floor(score * 1000000) / CAST(1000000 AS DOUBLE)").as("score"))
      .orderBy("doc_id", "rank")
  }

  val tfidfTopTermsSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
       |    FROM documents) t
       |  GROUP BY 1, 2
       |), dfreq AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
       |), n AS (
       |  SELECT COUNT(*) AS n_docs FROM documents
       |)
       |SELECT doc_id, rank, term, floor(score * 1000000) / CAST(1000000 AS DOUBLE) AS score
       |FROM (
       |  SELECT tf.doc_id, tf.term,
       |    CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
       |      ORDER BY CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE) DESC, tf.term) AS rank
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN n) t
       |WHERE rank <= $TfidfTopK ORDER BY doc_id, rank""".stripMargin

  /** Character-class profile per document: alpha / digit / whitespace /
    * other counts plus the floored alpha fraction — the cheap "is this
    * text or line noise" gate (high digit/other share flags tables,
    * code dumps, binary spill). Pure map-side column math: each count
    * is `length(text) − length(regexp_replace(text, class, ''))`, all
    * integers until one floored division, so the oracle is bit-exact
    * and the 100 TB plan is a projection over the scan — no shuffle
    * before the final output sort.
    */
  def textCharclass(s: SparkSession, dir: String): DataFrame = {
    def nOf(cls: String) =
      expr(s"CAST(length(text) - length(regexp_replace(text, '$cls', '')) AS BIGINT)")
    Tables.documents(s, dir)
      .withColumn("n_total", expr("CAST(length(text) AS BIGINT)"))
      .withColumn("n_alpha", nOf("[A-Za-z]"))
      .withColumn("n_digit", nOf("[0-9]"))
      .withColumn("n_space", nOf("[ \\\\t\\\\n]"))
      .withColumn("n_other",
        col("n_total") - col("n_alpha") - col("n_digit") - col("n_space"))
      .withColumn("alpha_frac", expr(
        "CASE WHEN n_total = 0 THEN CAST(0 AS DOUBLE) ELSE floor(CAST(n_alpha AS DOUBLE) / CAST(n_total AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) END"))
      .select("doc_id", "n_total", "n_alpha", "n_digit", "n_space", "n_other", "alpha_frac")
      .orderBy("doc_id")
  }

  val textCharclassSql: String =
    """SELECT doc_id, n_total, n_alpha, n_digit, n_space,
      |  n_total - n_alpha - n_digit - n_space AS n_other,
      |  CASE WHEN n_total = 0 THEN CAST(0 AS DOUBLE)
      |       ELSE floor(CAST(n_alpha AS DOUBLE) / CAST(n_total AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) END AS alpha_frac
      |FROM (
      |  SELECT doc_id, length(text) AS n_total,
      |    length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
      |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
      |    length(text) - length(regexp_replace(text, '[ \t\n]', '', 'g')) AS n_space
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** Readability profile per document: sentence count (terminator
    * census), words-per-sentence, long-word (≥7 chars) fraction, and a
    * Flesch-style readable flag — the grade-level gate a curation
    * pipeline applies after the charclass/quality passes. Pure
    * map-side column math: integer counts until two floored divisions;
    * the flag's thresholds are cross-multiplied in integers so no
    * double mean enters the predicate.
    */
  def textReadability(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("words", expr("filter(split(text, ' '), w -> w <> '')"))
      .withColumn("n_words", expr("CAST(size(words) AS BIGINT)"))
      .withColumn("n_sentences", expr(
        "CAST(length(text) - length(regexp_replace(text, '[.!?]', '')) AS BIGINT)"))
      .withColumn("n_longwords", expr(
        "CAST(size(filter(words, w -> length(w) >= 7)) AS BIGINT)"))
      .withColumn("words_per_sentence", expr(
        "CASE WHEN n_sentences = 0 THEN CAST(n_words AS DOUBLE) ELSE floor(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) END"))
      .withColumn("longword_frac", expr(
        "CASE WHEN n_words = 0 THEN CAST(0 AS DOUBLE) ELSE floor(CAST(n_longwords AS DOUBLE) / CAST(n_words AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) END"))
      // readable ⟺ wps < 25 ∧ longword share < 40% — integers only
      .withColumn("readable",
        col("n_words") < col("n_sentences") * 25 &&
          col("n_longwords") * 10 < col("n_words") * 4)
      .select("doc_id", "n_words", "n_sentences", "n_longwords",
        "words_per_sentence", "longword_frac", "readable")
      .orderBy("doc_id")
  }

  val textReadabilitySql: String =
    """SELECT doc_id, n_words, n_sentences, n_longwords,
      |  CASE WHEN n_sentences = 0 THEN CAST(n_words AS DOUBLE)
      |       ELSE floor(CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) END AS words_per_sentence,
      |  CASE WHEN n_words = 0 THEN CAST(0 AS DOUBLE)
      |       ELSE floor(CAST(n_longwords AS DOUBLE) / CAST(n_words AS DOUBLE) * 1000000) / CAST(1000000 AS DOUBLE) END AS longword_frac,
      |  n_words < n_sentences * 25 AND n_longwords * 10 < n_words * 4 AS readable
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(words) AS BIGINT) AS n_words,
      |    CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT) AS n_sentences,
      |    CAST(len(list_filter(words, w -> length(w) >= 7)) AS BIGINT) AS n_longwords
      |  FROM (
      |    SELECT doc_id, text, list_filter(string_split(text, ' '), w -> w <> '') AS words
      |    FROM documents) w) t
      |ORDER BY doc_id""".stripMargin

  /** Minimum second-language lexicon hits for a code-switching verdict
    * and the ratio rule (2·s₂ ≥ s₁): one stray loanword must not flag
    * a doc; a secondary language carrying at least half the primary's
    * evidence (with ≥ [[MixMinHits]] hits of its own) does.
    */
  val MixMinHits = 2L

  /** Code-switching / mixed-language audit: per doc the TOP-2 lexicon
    * scores decide whether the doc is monolingual or mixed (s₂·2 ≥ s₁
    * with a [[MixMinHits]] floor), and mixed docs roll up into a
    * (primary, secondary) language-pair matrix — the audit run before
    * language-keyed filtering, because a lang-id ARGMAX silently
    * routes a 60/40 bilingual doc into the 60% bucket and the 40%
    * language's filter never sees it (the known failure mode of
    * doc-level language routing on code-switched text).
    *
    * Top-2 selection is ONE array_sort of a 5-element (score,
    * -lexicon_idx, lang) struct array — ties resolve to the EARLIEST
    * lexicon lang, matching [[withPredicted]]'s argmax exactly (the
    * invariant spec asserts primary == predicted). All map-side; the
    * rollup is language-pair-bounded (≤ |langs|²), the corpus share
    * attaches via the one-row broadcast idiom.
    */
  def textLangMix(s: SparkSession, dir: String): DataFrame = {
    val entries = lexicons.zipWithIndex.map { case ((lang, _), i) =>
      s"named_struct('s', CAST(s_$lang AS BIGINT), 'ni', ${-i}L, 'lang', '$lang')"
    }.mkString("array(", ", ", ")")
    val n = lexicons.size
    val scored = lexicons.foldLeft(Tables.documents(s, dir)) {
      case (df, (lang, lex)) => df.withColumn(s"s_$lang", expr(sparkLexCount(lex)))
    }
    val d = scored
      .withColumn("srt", expr(s"array_sort($entries)"))
      .withColumn("primary_lang", expr(s"element_at(srt, $n).lang"))
      .withColumn("s1", expr(s"element_at(srt, $n).s"))
      .withColumn("secondary_lang", expr(s"element_at(srt, ${n - 1}).lang"))
      .withColumn("s2", expr(s"element_at(srt, ${n - 1}).s"))
      .withColumn("mixed", expr(s"CASE WHEN 2 * s2 >= s1 AND s2 >= $MixMinHits THEN 1L ELSE 0L END"))
    val total = d.agg(count(lit(1)).as("total_docs"))
    d.filter(col("mixed") === 1L)
      .groupBy("primary_lang", "secondary_lang")
      .agg(count(lit(1)).as("n_mixed"))
      .crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("n_mixed * 1000000 div total_docs"))
      .select("primary_lang", "secondary_lang", "n_mixed", "share_ppm")
      .orderBy("primary_lang", "secondary_lang")
  }

  val textLangMixSql: String = {
    val scores = lexicons.map { case (lang, lex) => s"${duckLexCount(lex)} AS s_$lang" }.mkString(",\n    ")
    val entries = lexicons.zipWithIndex.map { case ((lang, _), i) =>
      s"{'s': CAST(s_$lang AS BIGINT), 'ni': CAST(${-i} AS BIGINT), 'lang': '$lang'}"
    }.mkString("[", ", ", "]")
    val n = lexicons.size
    s"""WITH scored AS (
       |  SELECT $scores FROM documents
       |), srt AS (
       |  SELECT list_sort($entries) AS l FROM scored
       |), top2 AS (
       |  SELECT l[$n].lang AS primary_lang, l[$n].s AS s1,
       |    l[${n - 1}].lang AS secondary_lang, l[${n - 1}].s AS s2
       |  FROM srt
       |), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_docs FROM top2)
       |SELECT primary_lang, secondary_lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_mixed,
       |  CAST(COUNT(*) AS BIGINT) * 1000000 // total_docs AS share_ppm
       |FROM top2, t
       |WHERE 2 * s2 >= s1 AND s2 >= $MixMinHits
       |GROUP BY 1, 2, total_docs ORDER BY 1, 2""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lang_mix" -> (textLangMix _),
    "text_readability" -> (textReadability _),
    "text_langid" -> (textLangid _),
    "source_label_trust" -> (sourceLabelTrust _),
    "text_quality" -> (textQuality _),
    "text_tokens" -> (textTokens _),
    "text_pii_scrub" -> (textPiiScrub _),
    "text_fingerprint" -> (textFingerprint _),
    "text_charclass" -> (textCharclass _),
    "tfidf_topterms" -> (tfidfTopTerms _))

  val oracles: Map[String, String] = Map(
    "text_lang_mix" -> textLangMixSql,
    "text_readability" -> textReadabilitySql,
    "text_langid" -> textLangidSql,
    "source_label_trust" -> sourceLabelTrustSql,
    "text_quality" -> textQualitySql,
    "text_tokens" -> textTokensSql,
    "text_pii_scrub" -> textPiiScrubSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_charclass" -> textCharclassSql,
    "tfidf_topterms" -> tfidfTopTermsSql)
}
