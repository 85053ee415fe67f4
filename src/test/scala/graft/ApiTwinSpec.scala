package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.{CorpusOps, EventOps}
import graft.operators.{Corpus, CorpusQuality}
import graft.sources.Tables

/** Each graft.api twin runs its contract key's Spark body: over the
  * sf0.001 tables, with the caller's column names renamed, the twin
  * reproduces the key's rows. One row per twin; a twin that grows its
  * own formula again drifts from the oracle-checked key and fails here.
  */
class ApiTwinSpec extends SparkSpec {

  private val dayUs = 86400L * 1000000

  /** events under caller-chosen names, so every twin's renaming runs */
  private def ev = Tables.events(spark, sfDir).select(col("user_id").as("uid"),
    col("event_type").as("kind"), col("ts_us").as("t"), col("event_id").as("tie"),
    col("value").as("v"))
  private def docs = Tables.documents(spark, sfDir)
    .withColumnRenamed("doc_id", "id").withColumnRenamed("text", "body")
  private def vecs = Tables.embeddings(spark, sfDir)
    .select(col("vec_id").as("vid"), col("embedding").as("emb"))

  /** (key, twin output, twin column → key column, key columns the twin lacks) */
  private case class Twin(key: String, twin: () => DataFrame,
      names: Map[String, String] = Map.empty, keyOnly: Seq[String] = Nil)

  private val twins = Seq(
    Twin("events_decay", () => EventOps.decayScore(ev, "uid", "t", "v",
      anchorUs = 1706659200000000L), Map("uid" -> "user_id")),
    Twin("events_gap_fill", () => EventOps.gapFill(ev, "kind", "t"),
      Map("kind" -> "event_type", "bucket" -> "hour_bucket", "n" -> "n_events")),
    Twin("events_hop_window", () => EventOps.hopWindow(ev, "kind", "t"),
      Map("kind" -> "event_type"), keyOnly = Seq("sum_value")),
    Twin("events_markov", () => EventOps.markovTransitions(ev, "uid", "kind", "t", "tie"),
      Map("from_state" -> "from_type", "to_state" -> "to_type")),
    Twin("events_dwell", () => EventOps.dwellHistogram(ev, "uid", "t", "tie"),
      Map("sum_gap_units" -> "sum_gap_s")),
    Twin("events_cohort_matrix", () => EventOps.cohortMatrix(ev, "uid", "t"),
      Map("cohort_period" -> "cohort_day", "age" -> "age_days")),
    Twin("events_burstiness", () => EventOps.burstiness(ev, "kind", "uid", "t", "tie"),
      Map("kind" -> "event_type", "mean_gap_units" -> "mean_gap_min")),
    Twin("events_entropy", () => EventOps.entropyHistogram(ev, "uid", "kind"),
      Map("n_keys" -> "n_users")),
    Twin("supplier_hhi", () => {
      val lines = Tables.lineitem(spark, sfDir).select(col("l_suppkey"), expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2))) * 10000 AS BIGINT)")
        .as("rev"))
      val sup = Tables.supplier(spark, sfDir)
        .join(Tables.nation(spark, sfDir), col("s_nationkey") === col("n_nationkey"))
      EventOps.concentration(lines.join(sup, col("l_suppkey") === col("s_suppkey"))
        .select(col("n_name").as("nation"), col("l_suppkey").as("supp"), col("rev")),
        "nation", "supp", "rev")
    }, Map("nation" -> "n_name", "n_members" -> "n_suppliers")),
    Twin("events_forecast", () => EventOps.forecastSkill(ev, "kind", "t"),
      Map("kind" -> "event_type", "n_buckets" -> "n_days")),
    Twin("orders_backlog", () => EventOps.backlogSweep(
      Tables.orders(spark, sfDir)
        .select(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $dayUs").as("d")),
      Tables.lineitem(spark, sfDir).groupBy("l_orderkey")
        .agg(max(expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $dayUs")).as("d")),
      "d")),
    Twin("text_quality", () => CorpusOps.qualityScore(Tables.documents(spark, sfDir)),
      keyOnly = Seq("avg_word_len")),
    Twin("text_chunk", () => CorpusOps.chunk(
        Tables.documents(spark, sfDir), Corpus.ChunkWords, Corpus.ChunkStride)
      .withColumn("start_word", col("start").cast("long")),
      keyOnly = Seq("n_chunk_words", "chunk_fp")),
    Twin("pack_bins", () => CorpusOps.packBins(docs, "id", "body",
        Corpus.PackBudget, Corpus.PackShardDocs)
      .groupBy("shard", "bin").agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"), min("id").as("first_doc"), max("id").as("last_doc"))),
    Twin("corpus_mix", () => CorpusOps.mixPlan(docs.withColumnRenamed("source", "src"), "src",
      Corpus.MixTargetsPpm.toMap), Map("src" -> "source"), keyOnly = Seq("realized_ppm")),
    Twin("text_repetition", () => CorpusOps.repetitionMetrics(docs, "id", "body", 0.05, 0.3),
      Map("id" -> "doc_id")),
    Twin("text_ngram_lm", () => CorpusOps.lmScore(docs, "id", "body")
      .filter(col("n_bigrams") > 0), Map("id" -> "doc_id")),
    Twin("text_pii_scrub", () => CorpusOps.piiScrub(Tables.documents(spark, sfDir)
        .withColumn("dirty", expr(
          """concat(text,
            |  CASE WHEN doc_id % 5 = 0 THEN concat(' contact user', doc_id, '@example.com now') ELSE '' END,
            |  CASE WHEN doc_id % 7 = 0 THEN concat(' from 10.0.', doc_id % 256, '.', doc_id % 100, ' logged') ELSE '' END)""".stripMargin)),
        "dirty")
      .withColumn("scrub_fp", expr(graft.functions.PortableHash.sparkFingerprint("dirty")))),
    Twin("text_zipf_slope", () => CorpusOps.zipfSlope(docs.withColumnRenamed("source", "src"),
      "src", "body", CorpusQuality.ZipfFitK), Map("src" -> "source")),
    Twin("embed_dim_stats", () => CorpusOps.embeddingDimStats(vecs, "emb")),
    Twin("bpe_pair_step", () => CorpusOps.bpePairCounts(docs, "body", 20)),
    Twin("source_kl_drift", () => CorpusOps.sourceDrift(docs.withColumnRenamed("source", "src"),
      "src", "body"), Map("src" -> "source")),
    Twin("embed_pca_power", () => CorpusOps.pcaPowerStep(vecs, "vid", "emb")))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  twins.foreach { t =>
    test(s"api twin reproduces ${t.key}") {
      val key = SparkEntry.queries(t.key)(spark, sfDir).drop(t.keyOnly: _*)
      val byKeyName = t.names.map(_.swap)
      val twin = t.twin().select(key.columns.toSeq.map(c => col(byKeyName.getOrElse(c, c)).as(c)): _*)
      assert(twin.schema.map(_.dataType) == key.schema.map(_.dataType), t.key)
      val (want, got) = (rows(key), rows(twin))
      assert(want.nonEmpty, s"${t.key}: empty key output proves nothing")
      assert(got == want, s"${t.key}: twin rows differ")
    }
  }
}
