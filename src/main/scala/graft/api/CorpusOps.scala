package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.PortableHash._
import graft.operators.{Corpus, CorpusQuality, Similarity, TextAnalysis}
import EventOps.{in, out}

/** User-facing corpus operators over ARBITRARY DataFrames — the same
  * column math the oracle-checked queries run on the test corpus,
  * parameterized so a library user points them at their own tables.
  * Contract: `docs` carries (`doc_id`: long, `text`: string); outputs
  * are deterministic (hash-based, no RNG) and engine-portable.
  */
object CorpusOps {

  /** graft_* kernels must parse in the caller's session (idempotent). */
  private def prepared(df: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    df
  }

  /** content fingerprint column (rolling poly hash over word hashes). */
  def fingerprint(textCol: String = "text") = expr(sparkFingerprint(textCol))

  /** exact-dup groups: one row per duplicated fingerprint with the
    * representative (min doc_id) and copy count.
    */
  def exactDupGroups(docs0: DataFrame): DataFrame = {
    val docs = prepared(docs0)
    docs.withColumn("fp", fingerprint())
      .groupBy("fp")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
  }

  /** MinHash-LSH verified near-dup pairs (est. Jaccard >= 0.5). */
  def nearDupPairs(docs: DataFrame): DataFrame =
    graft.operators.Dedup.minhashPairs(prepared(docs).select(col("doc_id"), col("text")))

  /** keep-list by CONNECTED COMPONENT of the near-dup graph: transitive
    * closure of the verified pairs (A~B, B~C ⇒ {A,B,C} is one cluster
    * even when A~C is below threshold), keep exactly the representative
    * (min doc_id) of each cluster; docs in no pair keep. Components via
    * [[graft.operators.Dedup.connectedComponents]] (pointer-doubled
    * min-label propagation, O(log diameter) rounds).
    */
  def dedupKeepList(docs: DataFrame): DataFrame = {
    val labels = graft.operators.Dedup.connectedComponents(
      nearDupPairs(docs).select("doc_a", "doc_b"))
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("keep", col("cluster_id").isNull || col("doc_id") === col("cluster_id"))
      .drop("cluster_id")
  }

  /** CCNet-style sub-document dedup stats over any (doc_id, text)
    * frame: corpus-wide duplicated-span fraction per doc and the keep
    * flag at the 0.5 threshold — see
    * [[graft.operators.Dedup.spanStats]] for the scale shape.
    */
  def spanDedupStats(docs: DataFrame, window: Int = graft.operators.Dedup.SpanWords): DataFrame =
    graft.operators.Dedup.spanStats(prepared(docs).select(col("doc_id"), col("text")), window)

  /** quality features + composite score: text_quality's columns
    * ([[graft.operators.TextAnalysis.qualityFor]], also corpus_curate's).
    */
  def qualityScore(docs: DataFrame): DataFrame =
    TextAnalysis.qualityFor(docs).drop("words")

  /** The end-to-end curation chain over ANY (doc_id, text) frame as ONE
    * composed Spark job: signature pass → exact-dup rep → near-dup
    * connected-component keep-list → quality gate → eval-set
    * decontamination → train/val/test split → token-budget packing,
    * returning one row per input doc carrying every gate's verdict
    * (`fp_rep`, `keep_neardup`, `score`, `contaminated`, `split`,
    * `shard`/`bin`).
    *
    * Composition cost: exactly ONE corpus-sized materialization — the
    * signature frame (fingerprint + minhash + shingle set + token
    * count, all from one scan of `text`). Every later stage either
    * joins a doc-count-sized derivative back on doc_id (dup groups,
    * component labels, contamination flags) or is pure scan-side
    * column math on the original frame (quality, split, packing);
    * connectedComponents' internal checkpoints are pair-frame-sized,
    * never the corpus. This is the shape that survives 100 TB: the
    * text is read once, the signatures are the only thing persisted,
    * and no stage re-shuffles the corpus except the shard-keyed
    * packing window at the very end.
    */
  def curationPipeline(docs0: DataFrame, evalDocs0: DataFrame,
      budgetTokens: Long = 8192L, shardDocs: Long = 125L): DataFrame = {
    val docs = prepared(docs0)
    val D = graft.operators.Dedup
    val sigs = graft.operators.Materialize.stable(docs.select(
      col("doc_id"),
      fingerprint().as("fp"),
      expr(sparkMinhash(sparkShingleHashes("text"))).as("mh"),
      expr(sparkShingleHashes("text")).as("sh"),
      expr(Corpus.nTokensOf("text")).as("n_tokens")))
    // exact dups: representative (min doc_id) per fingerprint
    val fpRep = sigs.groupBy("fp").agg(min("doc_id").as("fp_rep"))
    // near dups: LSH pairs from the SAME signatures → components → keep
    val labels = D.connectedComponents(
      D.minhashPairsFromSigs(sigs.select("doc_id", "mh")).select("doc_a", "doc_b"))
    // decontamination: benchmark-sized eval shingle set, df-ceiled
    // against the train corpus (one stop-shingle in an eval doc must
    // not pull in the whole corpus), broadcast onto the train side
    val trainEx = sigs.select(col("doc_id"), explode(col("sh")).as("h"))
    val nDocs = sigs.agg(count(lit(1)).as("n_docs"))
    val informative = trainEx.groupBy("h").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <=
        greatest(lit(D.NgramMaxDf.toLong), expr(s"n_docs div ${D.NgramDfFraction}")))
      .select("h")
    val evalSh = prepared(evalDocs0)
      .select(explode(expr(sparkShingleHashes("text"))).as("h")).distinct()
      .join(informative, Seq("h"))
    val contaminated = trainEx.join(broadcast(evalSh), Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= D.ContamMinShared)
      .select(col("doc_id"), lit(true).as("contaminated"))
    // assemble: doc-sized joins back on doc_id, then scan-side split +
    // the shard-keyed packing window (the chain's only corpus shuffle)
    val b = pmod(pmod(pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000003L)), lit(100L))
    val assembled = qualityScore(docs)
      .join(sigs.select("doc_id", "fp", "n_tokens"), Seq("doc_id"))
      // fpRep is distinct-fingerprint-sized (≈ corpus at low dup rates):
      // a plain equi-join — AQE broadcasts it at test scale, shuffles the
      // slim projection at 100 TB; never force a corpus-sized broadcast
      .join(fpRep, Seq("fp"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("keep_neardup",
        col("cluster_id").isNull || col("doc_id") === col("cluster_id"))
      .drop("cluster_id")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
    Corpus.packBinsFor(assembled, budgetTokens, shardDocs).drop("text")
  }

  /** Unified MULTIMODAL curation: one keep/drop verdict per doc with
    * per-modality reasons, over ONE frame carrying `doc_id` plus any
    * subset of `text` (string), `audio` (binary — a decodable audio
    * container), `video` (binary — a decodable video container);
    * absent modalities are null cells or missing columns. Each present
    * modality contributes its dedup family's drop-list:
    *
    *   - text: exact fingerprint non-reps (`text_exact`), near-dup
    *     component non-reps (`text_neardup`, minhash-LSH + connected
    *     components), containment drops (`text_containment`,
    *     winnow-print candidates + ≥90%/J<0.5 verify — the digest
    *     shape the other two gates pass)
    *   - audio: exact envelope-class non-reps (`audio_exact`) and the
    *     envelope band-LSH star (`audio_neardup`)
    *   - video: exact aHash-sequence-class non-reps (`video_exact`)
    *     and the first-frame band join verified on total hamming
    *     (`video_neardup`, min-id partner per dropped doc)
    *
    * Output: (doc_id, keep, reasons: sorted array — empty when keep).
    * The union IS the per-modality drops, nothing more (asserted in
    * OperatorInvariantSpec): a multimodal doc survives iff every one of
    * its modalities survives its own gate, and each modality's
    * signatures are computed once from one scan of that column.
    */
  def curateMultimodal(frame0: DataFrame): DataFrame = {
    val frame = prepared(frame0)
    val s = frame.sparkSession
    import s.implicits._
    val D = graft.operators.Dedup
    val has = frame.columns.toSet
    val noDrops = Seq.empty[(Long, String)].toDF("doc_id", "reason")
    def tagged(df: DataFrame, reason: String): DataFrame =
      df.select(col("doc_id"), lit(reason).as("reason"))

    val textDrops =
      if (!has("text")) noDrops
      else {
        val docs = frame.filter(col("text").isNotNull).select("doc_id", "text")
        val fpRep = docs.withColumn("fp", fingerprint())
          .groupBy("fp").agg(min("doc_id").as("rep"))
        val exact = tagged(docs.withColumn("fp", fingerprint())
          .join(fpRep, Seq("fp")).filter(col("doc_id") =!= col("rep")), "text_exact")
        val near = tagged(dedupKeepList(docs).filter(!col("keep")), "text_neardup")
        val contain = tagged(D.containmentLshPairsFor(docs)
          .select(col("doc_b").as("doc_id")), "text_containment")
        exact.unionByName(near).unionByName(contain)
      }

    val audioDrops =
      if (!has("audio")) noDrops
      else {
        val A = graft.operators.Audio
        val ds = frame.filter(col("audio").isNotNull)
          .select(col("doc_id"), col("audio"))
          .as[(Long, Array[Byte])].map { case (id, b) => A.AudioPayload(id, b) }
        val env = graft.operators.Materialize.stable(A.envelope16(ds))
        val exact = tagged(A.envelopeClasses(env)
          .filter(col("doc_id") =!= col("rep")), "audio_exact")
        val near = tagged(A.dedupFromEnvelopes(env), "audio_neardup")
        exact.unionByName(near)
      }

    val videoDrops =
      if (!has("video")) noDrops
      else {
        val V = graft.operators.Video
        val ds = frame.filter(col("video").isNotNull)
          .select(col("doc_id"), col("video"))
          .as[(Long, Array[Byte])].map { case (id, b) => V.VideoPayload(id, b) }
        val sigs = graft.operators.Materialize.stable(V.aHashLoHi(ds))
        val exact = tagged(V.signatureClasses(sigs)
          .filter(col("doc_id") =!= col("rep")), "video_exact")
        // pair frame between class reps → star: min-id partner per drop
        val near = tagged(V.videoDedupFromSigs(sigs)
          .groupBy(col("doc_b").as("doc_id"))
          .agg(min("doc_a").as("rep")), "video_neardup")
        exact.unionByName(near)
      }

    val allDrops = textDrops.unionByName(audioDrops).unionByName(videoDrops)
    frame.select("doc_id").distinct()
      .join(allDrops.groupBy("doc_id")
        .agg(sort_array(collect_set("reason")).as("reasons")), Seq("doc_id"), "left")
      .withColumn("keep", col("reasons").isNull)
      .withColumn("reasons",
        coalesce(col("reasons"), expr("CAST(array() AS array<string>)")))
  }

  /** fixed-size overlapping context-window chunks; one output row per
    * chunk with an arithmetic chunk id (no ordering shuffle) — text_chunk's
    * body ([[graft.operators.Corpus.textChunkFor]]) with the chunk's
    * words joined back into `chunk_text`.
    */
  def chunk(docs: DataFrame, words: Int = 64, stride: Int = 48): DataFrame =
    Corpus.textChunkFor(docs, words, stride)
      .withColumn("chunk_text", expr("array_join(chunk, ' ')"))
      .drop("words", "chunk")

  /** Deterministic stratified sampler over ANY frame: keep a row iff
    * `(hash(idCol) * knuth) mod 1e6 < ratesPpm(stratum)`. The decision
    * is a pure function of the row — no RNG seed, no `sampleBy` state,
    * so a retried partition at 100 TB selects exactly the same rows.
    * Strata absent from `ratesPpm` fall back to `defaultPpm`.
    */
  def sampleStratified(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      ratesPpm: Map[String, Long],
      defaultPpm: Long = 500000L): DataFrame = {
    require(ratesPpm.values.forall(r => r >= 0 && r <= 1000000L) &&
      defaultPpm >= 0 && defaultPpm <= 1000000L,
      "rates are parts-per-million: 0..1000000")
    val h = graft.operators.Corpus.mixHash(col(idCol).cast("long"), 1000000L)
    val rate = ratesPpm.toSeq.sortBy(_._1).foldLeft(when(lit(false), lit(0L))) {
      case (acc, (s0, r)) => acc.when(col(strataCol) === s0, lit(r))
    }.otherwise(lit(defaultPpm))
    df.filter(h < rate)
  }

  /** Greedy token-budget packing over ANY frame: assign every doc a
    * (shard, bin) so that concatenating a bin's docs in `idCol` order
    * stays under `budgetTokens`. Sharded (`idCol div shardDocs`) so the
    * running-sum window never funnels the corpus through one partition —
    * shards pack independently, matching multi-writer output layout.
    * Output = input + `n_tokens`, `shard`, `bin` (pack_bins' body,
    * [[graft.operators.Corpus.packBinsFor]]).
    */
  def packBins(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      budgetTokens: Long = 8192L,
      shardDocs: Long = 125L): DataFrame =
    out(Corpus.packBinsFor(
      out(docs, idCol -> "doc_id").withColumn("n_tokens", expr(Corpus.nTokensOf(textCol))),
      budgetTokens, shardDocs), "doc_id" -> idCol)

  /** Domain-mixture plan over ANY frame: given per-source target shares
    * (ppm), the largest corpus M every share can be served from
    * availability (M = min over sources of n_avail·1e6/target) and the
    * per-source take counts — corpus_mix's plan
    * ([[graft.operators.Corpus.corpusMixFor]]). Execute it with
    * [[sampleStratified]] using rate = n_take·1e6/n_avail per source.
    */
  def mixPlan(df: DataFrame, sourceCol: String, targetsPpm: Map[String, Long]): DataFrame = {
    require(targetsPpm.nonEmpty && targetsPpm.values.forall(p => p > 0 && p <= 1000000L),
      "target shares are parts-per-million: 1..1000000")
    Corpus.corpusMixFor(in(df, sourceCol -> "source"), targetsPpm.toSeq.sortBy(_._1))
      .select(col("source").as(sourceCol), col("target_ppm"), col("n_avail"), col("n_take"))
  }

  /** Gopher-style repetition metrics over ANY frame: word-bigram count,
    * most-common-bigram share, duplicate-bigram fraction, and the
    * resulting `repetitive` flag at the given thresholds. Output = input
    * plus the four columns; docs with < 2 words get zeroed metrics
    * (text_repetition's body, [[graft.operators.CorpusQuality.textRepetitionFor]]).
    */
  def repetitionMetrics(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      topShareMax: Double = 0.2,
      dupFracMax: Double = 0.5): DataFrame =
    out(CorpusQuality.textRepetitionFor(out(docs, idCol -> "doc_id", textCol -> "text"),
      topShareMax, dupFracMax), "doc_id" -> idCol, "text" -> textCol)

  /** Corpus character-bigram likelihood score over ANY frame — the
    * CCNet-style LM quality gate with corpus statistics standing in for
    * the KenLM. Output = input plus `n_bigrams` and `lm_score` (mean
    * corpus frequency of the doc's char bigrams; LOW = atypical
    * characters for this corpus) from text_ngram_lm's body
    * ([[graft.operators.CorpusQuality.lmScoresFor]]); docs without a
    * char bigram read 0 for both.
    */
  def lmScore(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.join(out(CorpusQuality.lmScoresFor(in(docs, idCol -> "doc_id", textCol -> "text")),
        "doc_id" -> idCol), Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("lm_score", coalesce(col("lm_score"), lit(0.0)))

  /** SemDeDup-style semantic keep-list over ANY frame carrying an
    * embedding column: IVF-cell-bounded cosine pairs at `tau`,
    * transitive components, min-id representative kept. Returns
    * (`idCol`, cell, component, keep). Ids should span at least the
    * centroid-seed modulus ([[graft.operators.Similarity.centroidModFor]])
    * so the corpus-relative seed rule selects centroids.
    */
  def semanticKeepList(
      df: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      tau: Double = graft.operators.Similarity.SemTau): DataFrame = {
    val vecs = prepared(df).select(col(idCol).cast("long").as("vec_id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
    graft.operators.Similarity.dedupSemanticFor(vecs, tau)
      .withColumnRenamed("vec_id", idCol)
  }

  /** k-nearest-neighbor graph over ANY embedding frame — top-k cosine
    * neighbors for EVERY row, the similarity-graph builder. Quadratic
    * work is bounded by the IVF cells (within-cell scoring only); see
    * Similarity.knnJoin for the scale analysis. The frame must contain
    * at least one seed id (id % 50 == 7) for the coarse cells.
    */
  def neighborGraph(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = 3): DataFrame = {
    val vecs = prepared(df).select(col(idCol).cast("long").as("vec_id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
    graft.operators.Similarity.knnJoinFor(vecs, k)
      .withColumnRenamed("vec_id", idCol)
  }

  /** PII scrub over ANY frame: redact emails and IPv4s in `textCol`
    * in place, reporting per-row match counts (text_pii_scrub's body,
    * [[graft.operators.TextAnalysis.piiScrubFor]]).
    */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame =
    TextAnalysis.piiScrubFor(docs, textCol)

  /** URL canonicalization over ANY frame with a `urlCol` column:
    * lowercase, strip scheme / leading www. / explicit default port /
    * query string / trailing slash. Adds `canonical_url` and `domain`
    * columns — pure codegen'd column math, no shuffle.
    */
  def canonicalizeUrls(df: DataFrame, urlCol: String = "url"): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    df.withColumn("canonical_url",
        graft.operators.WebCorpus.canonicalize(col(urlCol)))
      .withColumn("domain", regexp_extract(col("canonical_url"), "^([^/]+)", 1))
  }

  /** URL-canonicalization dedup keep-list over ANY frame: one row per
    * canonical URL with the min-id keeper and the variant count. ONE
    * canonical-key shuffle; no text column required or moved.
    */
  def urlDedupGroups(df: DataFrame, urlCol: String = "url",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions._
    canonicalizeUrls(df, urlCol)
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_variants"), min(idCol).as("keeper"))
  }

  /** Pairwise group vocabulary similarity over ANY (group, text)
    * frame: exact word-set Jaccard AND a k-slot MinHash estimate side
    * by side — see operators/Sketches.sourceSimilarity for the scale
    * analysis (the sketch pass is the one that survives 100 TB; the
    * exact column is its in-row audit).
    */
  def groupSimilarity(df: DataFrame, groupCol: String,
      textCol: String = "text", k: Int = graft.operators.Sketches.SourceSimK): DataFrame =
    graft.operators.Sketches.sourceSimilarityFor(
        df.select(col(groupCol).as("source"), col(textCol).as("text")), k)
      .withColumnRenamed("source_a", s"${groupCol}_a")
      .withColumnRenamed("source_b", s"${groupCol}_b")

  /** Domain-blocklist gate over ANY frame with a `urlCol`: keeps only
    * rows whose URL domain is absent from `blocked` — a LEFT ANTI
    * against the blocklist TABLE, which broadcasts at any scale while
    * the corpus streams through map-side (no corpus shuffle).
    */
  def blocklistFilter(df: DataFrame, blocked: Seq[String],
      urlCol: String = "url"): DataFrame = {
    import org.apache.spark.sql.functions._
    import df.sparkSession.implicits._
    canonicalizeUrls(df, urlCol)
      .join(broadcast(blocked.toDF("blocked_domain")),
        col("domain") === col("blocked_domain"), "left_anti")
  }

  /** Per-group Zipf-law fit over whitespace tokens: least-squares
    * slope and r² of ln(freq) vs ln(rank) over each group's top `topK`
    * tokens (text_zipf_slope's body,
    * [[graft.operators.CorpusQuality.textZipfSlopeFor]]; natural text ≈
    * −1.0, templated sources run shallower).
    */
  def zipfSlope(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", topK: Int = 64): DataFrame =
    out(CorpusQuality.textZipfSlopeFor(
      in(docs, groupCol -> "source", textCol -> "text"), topK), "source" -> groupCol)

  /** Per-dimension embedding health audit: mean/sd/range/near-zero
    * count for every coordinate (embed_dim_stats' body,
    * [[graft.operators.Similarity.embedDimStatsFor]]); run before any
    * IVF/PQ build (a dead dimension silently halves index recall).
    */
  def embeddingDimStats(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    Similarity.embedDimStatsFor(in(df, vecCol -> "embedding"))

  /** Top adjacent character pairs by corpus frequency — one BPE
    * merge-selection scan over the (word, count) vocab
    * (bpe_pair_step's body, [[graft.operators.CorpusQuality.bpePairStepFor]]).
    */
  def bpePairCounts(docs: DataFrame, textCol: String = "text",
      topK: Int = 20): DataFrame =
    CorpusQuality.bpePairStepFor(in(docs, textCol -> "text"), topK)

  /** Per-group unigram KL(group ‖ corpus) in ppb, pointable at any
    * (group, text) frame (source_kl_drift's body,
    * [[graft.operators.CorpusQuality.sourceKlDriftFor]]).
    */
  def sourceDrift(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text"): DataFrame =
    out(CorpusQuality.sourceKlDriftFor(in(docs, groupCol -> "source", textCol -> "text")),
      "source" -> groupCol)

  /** One damped PageRank power-iteration over an arbitrary edge frame:
    * `edges` (srcCol, dstCol) + current `ranks` (idCol, rank ppb) →
    * next ranks — the generic twin of web_pagerank_step, fed by real
    * href extraction at crawl scale. All ppb fixed point: Σ rank mass
    * stays ≤ 10⁹, so inflow sums are BIGINT-safe at any graph size;
    * out-degrees come from ONE edge partial agg and re-attach by a
    * co-partitioned src equi-join.
    */
  def pageRankStep(edges: DataFrame, ranks: DataFrame, srcCol: String,
      dstCol: String, idCol: String, rankCol: String,
      dampingPct: Int = 85): DataFrame = {
    val outdeg = edges.groupBy(col(srcCol)).agg(count(lit(1)).as("__deg"))
    val contrib = edges.join(outdeg, Seq(srcCol))
      .join(ranks.select(col(idCol).as(srcCol), col(rankCol).as("__r")), Seq(srcCol))
      .select(col(dstCol).as(idCol), expr(s"__r div __deg").as("__c"))
      .groupBy(idCol).agg(sum("__c").as("inflow_ppb"))
    val n = ranks.agg(count(lit(1)).as("__n"))
    ranks.select(col(idCol)).join(contrib, Seq(idCol), "left")
      .withColumn("inflow_ppb", coalesce(col("inflow_ppb"), lit(0L)))
      .join(broadcast(n))
      .withColumn(rankCol, expr(
        s"${(100 - dampingPct) * 10000000L} div __n + inflow_ppb * $dampingPct div 100"))
      .select(col(idCol), col(rankCol), col("inflow_ppb"))
  }

  /** One PCA power-iteration step over an embedding frame:
    * w = Xᵀ(Xv₀) from the all-ones seed on the milli-quantized grid,
    * components L∞-normalized to integer ppm (embed_pca_power's body,
    * [[graft.operators.Similarity.embedPcaPowerFor]]).
    */
  def pcaPowerStep(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Similarity.embedPcaPowerFor(in(df, idCol -> "vec_id", vecCol -> "embedding"))

  /** Directed-triangle (feed-forward-loop a→b→c with a→c) counts per
    * source vertex over an arbitrary edge frame — the generic twin of
    * web_triangles (hub-capped wedge join; see
    * [[graft.operators.WebCorpus.TriangleDegreeCap]]).
    */
  def triangleLoops(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    graft.operators.WebCorpus.feedForwardLoops(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))

  /** MinHash-LSH acceptance gate over any (id, text) frame: recall +
    * precision of the band-bucket near-dup path vs exact set-Jaccard
    * ≥ 0.5 — run on a stratified SLICE (the exact side is priced for
    * slices), trust the LSH path on the lake.
    */
  def minhashRecallGate(docs0: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.Dedup.minhashRecallFor(
      prepared(docs0).select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Mergeable sliding-window distinct (7-day HLL reach) over any
    * (day, key) activity frame — the generic twin of
    * sketch_hll_sliding; pair with EventStreams.hllDailyStream for the
    * incrementally-maintained register table.
    */
  def slidingDistinct(df: DataFrame, dayCol: String, keyCol: String): DataFrame =
    graft.operators.Sketches.hllSlidingFor(prepared(df)
      .select(col(dayCol).cast("long").as("day"), col(keyCol).cast("string").as("key")))

  /** DSIR importance weights (log p_target − log p_raw under hashed
    * bag-of-word models) per doc over any (id, text) frame; `isTarget`
    * marks the in-domain slice — the generic twin of
    * corpus_dsir_weights' per-doc stage.
    */
  def dsirWeights(docs0: DataFrame, isTarget: org.apache.spark.sql.Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.operators.CorpusQuality.dsirDocWeightsFor(
      prepared(docs0).select(col(idCol).as("doc_id"), col(textCol).as("text"), isTarget.as("__t")),
      "text", col("__t"))

  /** LSH banding S-curve sweep over any (id, text) frame: candidates /
    * detected / recall / precision for every (bands, rows) split of
    * the k=12 signature — audit-tier (the exact side is priced for
    * slices, like minhashRecallGate); the evidence table behind a
    * banding choice.
    */
  def bandingSweep(docs0: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.Dedup.bandingSweepFor(
      prepared(docs0).select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** reciprocal (mutually-linked) edges of any directed edge frame —
    * linear in |E|: dedup + one self-semi-join on the swapped key.
    */
  def reciprocalLinks(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    graft.operators.WebCorpus.reciprocalEdges(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))

  /** sign-bit binary codes over any embedding frame: 64 dims → two
    * 32-bit words (`w0`/`w1`) — the 32×-compressed retrieval tier
    * knn_hamming_recall gates.
    */
  def binaryCodes(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    graft.operators.Similarity.signBitCodes(
      df.select(col(idCol).as("vec_id"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v")))

  /** Hamming top-k neighbors over a [[binaryCodes]] frame for the rows
    * matching `isQuery` (XOR+popcount scoring, integer-only).
    */
  def hammingNeighbors(codes: DataFrame, isQuery: org.apache.spark.sql.Column,
      k: Int = 3): DataFrame =
    graft.operators.Similarity.hammingTopK(codes, isQuery, k)

  /** Per-group doc + token mass removed by near-dup dedup (min-id
    * representative survives per cluster) — the mixture-shift readout
    * behind corpus_dedup_impact, over any (id, group, text) frame and
    * any trusted near-dup pair frame.
    */
  def dedupImpact(docs0: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", groupCol: String = "source",
      textCol: String = "text"): DataFrame =
    graft.operators.Dedup.dedupImpactFor(
      prepared(docs0).select(col(idCol).as("doc_id"), col(groupCol).as("source"),
        expr(s"CAST(size(filter(split($textCol, ' '), w -> w <> '')) AS BIGINT)")
          .as("n_tokens")),
      graft.operators.Dedup.connectedComponents(pairs))

  /** Containment near-dup pairs over any (id, text) frame: smaller
    * side ≥90% contained at Jaccard < 0.5 — the asymmetric duplication
    * (doc embedded in a longer digest) that J-thresholded dedup misses.
    * Audit-path contract (Σ df² exact enumeration — run on a slice).
    */
  def containmentPairs(docs0: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.Dedup.containmentPairsFor(
      prepared(docs0).select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** PRODUCTION containment candidates over any (id, text) frame — the
    * scale path [[containmentPairs]]'s Σ df² exact enumeration prices:
    * content-defined print buckets → (doc_a, doc_b) candidates for a
    * verify stage. `scheme` = "manber" (mod-3 selection) or "winnow"
    * (window-minimum — hard ≥12-word-run guarantee at the same 1/3
    * density); [[containmentRecallGate]] grades both. `printCap`/
    * `anchors` = the shared mega-bucket rule for boilerplate-heavy
    * corpora (tools.BandOccupancy measured prints bounded at ×10).
    */
  def containmentCandidates(docs0: DataFrame, scheme: String = "manber",
      idCol: String = "doc_id", textCol: String = "text",
      printCap: Long = Long.MaxValue, anchors: Long = 16L): DataFrame =
    graft.operators.Dedup.containmentCandidatesFor(
      prepared(docs0).select(col(idCol).as("doc_id"), col(textCol).as("text")),
      scheme, printCap, anchors)

  /** The PRODUCTION containment dedup over any (id, text) frame —
    * winnow-print candidates verified per candidate pair by direct
    * shingle-set intersection (same output schema and ≥90% / J<0.5 /
    * set-size-floor predicates as [[containmentPairs]], but the verify
    * cost is candidates × min-set-size, never Σ df²). On corpora whose
    * embedded runs sit inside winnowing's ≥12-word guarantee the
    * output equals the exact enumeration's; [[containmentRecallGate]]
    * prices the boundary.
    */
  def containmentDedup(docs0: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", printCap: Long = Long.MaxValue,
      anchors: Long = 16L): DataFrame =
    graft.operators.Dedup.containmentLshPairsFor(
      prepared(docs0).select(col(idCol).as("doc_id"), col(textCol).as("text")),
      printCap, anchors)

  /** Per-group quota downsample of any frame: keep the `q` rows with
    * the smallest deterministic hash rank inside each group (pure
    * function of the id — reproducible, engine-independent, no RNG).
    * The rank filter plans as WindowGroupLimit, so map tasks ship only
    * their local top-q per group before the shuffle.
    */
  def quotaSample(df: DataFrame, groupCol: String, q: Int,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = graft.operators.Corpus.mixHash(col(idCol), 1000000007L)
    val w = Window.partitionBy(col(groupCol)).orderBy(h, col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= q).drop("__rk")
  }

  /** Exact-cosine rerank of a candidate (query_id, neighbor_id) frame
    * over any embedding frame — pair with [[hammingNeighbors]] for the
    * binary-scan-then-rerank retrieval tier knn_rerank_gain gates.
    */
  def rerankNeighbors(df: DataFrame, candidates: DataFrame, k: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    graft.operators.Similarity.rerankTopK(
      df.select(col(idCol).as("vec_id"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v")),
      candidates, k)

  /** Connected components of any undirected (a, b) pair frame —
    * min-label propagation with pointer doubling, O(log diameter)
    * rounds; returns (doc_id, cluster_id = component min id).
    */
  def components(pairs: DataFrame): DataFrame =
    graft.operators.Dedup.connectedComponents(pairs)

  /** The containment-LSH acceptance gate over any (id, text) frame:
    * content-defined fingerprint candidates (offset-invariant, unlike
    * a stride grid) graded against the exact ≥90%-containment pair
    * set — one row per selection scheme (`manber` mod-p at expected
    * 1/3 density; `winnow` window-minimum at the same density with the
    * hard ≥12-word-run guarantee). Recall/precision/candidate-volume
    * readout; the exact side is the Σ df² audit path — run on a slice,
    * like [[minhashRecallGate]]. `printCap`/`anchors` apply the
    * band-occupancy rule to hot boilerplate prints (default off).
    */
  def containmentRecallGate(docs0: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", printCap: Long = Long.MaxValue,
      anchors: Long = 16L): DataFrame =
    graft.operators.Dedup.containmentRecallFor(
      prepared(docs0).select(col(idCol).as("doc_id"), col(textCol).as("text")),
      printCap, anchors)

  /** Margin-based bitext mining (CCMatrix/LASER shape) between two
    * embedding frames: each query's top-k `b`-side candidates scored
    * by cos / neighborhood-mean-cos, with mutual-kNN and margin>1
    * alignment flags. `queries` must be a broadcastable slice of `a`
    * (partition a big language and loop). All sums on floor-truncated
    * integer cos_ppm — engine-portable, no float-accumulation order.
    */
  def bitextMine(a: DataFrame, b: DataFrame, queries: DataFrame, k: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def side(df: DataFrame) = df.select(col(idCol).as("vec_id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
    graft.operators.Similarity.bitextMine(
      side(queries).select(col("vec_id").as("query_id"), col("v").as("qv")),
      side(a), side(b), k)
  }

  /** Quality-weighted Bernoulli keep over any (doc_id, text) frame:
    * adds `w_ppm` (integer quality weight = keep probability) and
    * `kept` (deterministic hash decision — reproducible, no RNG).
    * The FineWeb-Edu-style soft quality filter; map-side only.
    */
  def weightedKeep(docs0: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.Corpus.weightedKeepFor(
      prepared(docs0).withColumn("doc_id", col(idCol)).withColumn("text", col(textCol)))

  /** √-tempered (T = 2) mixing shares of any frame's per-group mass —
    * the multilingual temperature-sampling rule; returns raw vs
    * tempered share, tail boost, and implied epochs per corpus pass.
    */
  def temperatureShares(df: DataFrame, groupCol: String, massCol: String): DataFrame =
    graft.operators.Corpus.temperatureSharesFor(df, groupCol, massCol)

  /** Line-level boilerplate census over ANY (doc_id, source, text)
    * frame — the CCNet/RefinedWeb pass: lines repeating verbatim across
    * ≥ sharePct% of a source's docs (nav chrome, subscribe footers).
    * Returns one row per flagged (source, line) with df / n_docs; see
    * [[graft.operators.CorpusClean.censusFrame]] for the scale shape
    * (shuffle key = 64-bit line fingerprint, never the raw line).
    */
  def boilerplateCensus(docs: DataFrame,
      sharePct: Int = graft.operators.CorpusClean.BoilerSharePct,
      minDf: Int = graft.operators.CorpusClean.BoilerMinDf): DataFrame =
    graft.operators.CorpusClean.censusFrame(
      prepared(docs), sharePct = sharePct, minDf = minDf)

  /** Apply the boilerplate census to the same frame: every doc's text
    * rewritten with flagged lines removed (rejoined in order). The
    * census is tiny by construction → broadcast anti-join; the only
    * shuffle is the per-doc regroup.
    */
  def scrubBoilerplate(docs: DataFrame,
      sharePct: Int = graft.operators.CorpusClean.BoilerSharePct,
      minDf: Int = graft.operators.CorpusClean.BoilerMinDf): DataFrame =
    graft.operators.CorpusClean.scrubFrame(
      prepared(docs), sharePct = sharePct, minDf = minDf)

  /** Duplication-aware sampling weights (soft dedup) over ANY frame:
    * adds `cluster_size` and `weight_ppm` = 1e6/cluster_size so a
    * training sampler sees every byte-exact duplicate cluster with
    * total mass 1 instead of dropping members — preserves the corpus
    * mixture where a hard dedup would shift it.
    */
  def dedupWeights(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.operators.CorpusClean.weightFrame(prepared(docs), textCol)

  /** Soft dedup over TRANSITIVE near-dup clusters of ANY (doc_id,
    * text) frame: weight = 1/component-size over the connected
    * components of the verified minhash pairs — family members are
    * down-weighted instead of dropped, so every near-dup cluster keeps
    * total sampling mass ~1 while its duplication skew disappears.
    * Adds `cluster_id`, `cluster_size`, `weight_ppm`.
    */
  def neardupWeights(docs: DataFrame): DataFrame =
    neardupWeightsFor(graft.operators.Dedup.connectedComponents(
      nearDupPairs(docs).select("doc_a", "doc_b")), docs)

  /** [[neardupWeights]] parameterized on a PRE-COMPUTED component
    * frame (doc_id, cluster_id — [[components]]' / dedup_clusters'
    * artifact): the component census is the expensive invoice of the
    * soft-dedup family, and weights, histograms and impact audits all
    * consume the SAME frame — pay it ONCE, pass it to every consumer
    * (`neardupWeightsFor(c, docs)`, `Dedup.dedupImpactFor(docs, c)`,
    * …) instead of re-deriving it snapshot-per-query. Docs in no
    * component are singletons at full weight. Adds `cluster_id`,
    * `cluster_size`, `weight_ppm`; the only work beyond the passed
    * frame is one component-keyed window (cluster-bounded partitions).
    */
  def neardupWeightsFor(components: DataFrame, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.join(components.select("doc_id", "cluster_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("weight_ppm", expr("1000000 div cluster_size"))
  }

  /** KLL-style mergeable rank-error quantile sketch over ANY
    * (group, value, tie) frame — the unbounded-range quantile path the
    * fixed-bin sketch can't cover, exposed as the library entry its
    * scaladoc promises ([[graft.operators.Sketches.kllState]]). Values
    * must be integral (cast your metric to fixed-point long first —
    * the sketch is exact-integer end to end); `tieCol` is any unique
    * id (deterministic tie-break). Returns the compacted state as
    * (group, value, tie, lvl) rows — item weight = 2^lvl, retained
    * rows ≤ capacity + capacity·log₂(n) per group. Feed the state to
    * [[kllQuantiles]] for estimates; MERGE two independently built
    * states with [[kllMerge]] (union + re-compact — the error bound,
    * not the item-wise state, is the merge invariant).
    */
  def kllSketch(rows: DataFrame, groupCol: String = "group",
      valueCol: String = "value", tieCol: String = "tie"): DataFrame =
    graft.operators.Sketches.kllState(rows.select(
        col(groupCol).cast("string").as("event_type"),
        col(valueCol).cast("long").as("cents"),
        col(tieCol).cast("long").as("tie"), lit(0L).as("lvl")))
      .select(col("event_type").as("group"), col("cents").as("value"),
        col("tie"), col("lvl"))

  /** Merge two [[kllSketch]] states: union + re-compact. Mergeability
    * is by construction — promotion into an occupied level is the same
    * operation whether items arrived raw or pre-compacted — so
    * distributed builds compose: sketch shards independently, merge
    * pairwise, the rank-error bar degrades by at most one compaction
    * generation per merge (graded in ApiTour and
    * OperatorInvariantSpec's split-merge test).
    */
  def kllMerge(a: DataFrame, b: DataFrame): DataFrame =
    graft.operators.Sketches.kllState(a.unionByName(b).select(
        col("group").as("event_type"), col("value").as("cents"),
        col("tie"), col("lvl")))
      .select(col("event_type").as("group"), col("cents").as("value"),
        col("tie"), col("lvl"))

  /** Quantile estimates from a [[kllSketch]] state: per (group, q) the
    * smallest value whose cumulative weight reaches ⌈q·W⌉ — the
    * weighted-order-statistic read, all integer. The state is KBs per
    * group, so the rank windows here are driver-trivial at any corpus
    * size; rank error is capacity-bounded (sketch_kll_error's gate:
    * ≤ the state's top weight, 2× after a merge).
    */
  def kllQuantiles(state: DataFrame,
      qsPpm: Seq[Long] = graft.operators.Sketches.KllQuantilesPpm): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("group").orderBy("value", "tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("group")
    val cum = state
      .withColumn("weight", expr("shiftleft(CAST(1 AS BIGINT), CAST(lvl AS INT))"))
      .withColumn("cumw", sum("weight").over(wOrd))
      .withColumn("w_total", sum("weight").over(wAll))
    // ONE aggregation pass for every requested quantile: cross the
    // KB-sized cumulative frame with the quantile axis and roll up by
    // (group, q) — not one scan-and-union per q (callers pass many qs)
    val qAxis = state.sparkSession
      .createDataFrame(qsPpm.map(Tuple1.apply)).toDF("q_ppm")
    cum.crossJoin(broadcast(qAxis))
      .groupBy("group", "q_ppm")
      .agg(max("w_total").as("n"),
        min(when(col("cumw") * 1000000L >= col("w_total") * col("q_ppm"), col("value")))
          .as("est"))
      .select(col("group"), col("q_ppm"), col("n"), col("est"))
  }

  /** First-to-fire dedup attribution over ANY weighted doc frame and
    * ANY ordered stage lattice — dedup_attribution's census
    * parameterized on the deployment's own pipeline (that query's
    * 7-stage order is "a production pipeline's cost ordering"; a
    * deployment that drops or reorders stages — e.g. the minhash pass
    * the contract table itself shows subsumed on its corpus — re-runs
    * the census here on its own lattice). `stages` is the ordered
    * (name → frame of REMOVED ids) list, each frame the owning
    * operator's already-priced removal output; a doc claimed by
    * several stages is attributed to the FIRST — it never pays a later
    * one. Output: the (k+1)-row invoice (stage_ord, stage, n_docs,
    * n_tokens, doc_ppm, token_ppm) with a trailing `kept` row; masses
    * partition the input exactly.
    *
    * Scale shape: each stage frame is distinct-ed and equi-joined back
    * on the id (narrow rows, dup-mass-sized — the frames the dedup
    * family already pays); the rollup is a (k+1)-row axis LEFT JOIN
    * plus the q22 one-row totals broadcast.
    */
  def attributionFor(docs: DataFrame, stages: Seq[(String, DataFrame)],
      idCol: String = "doc_id", weightCol: String = "n_tokens"): DataFrame = {
    require(stages.nonEmpty, "attributionFor: empty stage lattice")
    require(stages.map(_._1).distinct.size == stages.size &&
      !stages.exists(_._1 == "kept"),
      "attributionFor: stage names must be unique and none may be 'kept'")
    val base = docs.select(col(idCol).as("doc_id"),
      col(weightCol).cast("long").as("n_tokens"))
    val joined = stages.foldLeft(base) { case (acc, (name, drops)) =>
      acc.join(drops.select(col(idCol).as("doc_id")).distinct()
        .withColumn(s"__fires_$name", lit(true)), Seq("doc_id"), "left")
    }
    val stageCol = stages.foldRight(lit("kept")) { case ((name, _), els) =>
      when(col(s"__fires_$name"), lit(name)).otherwise(els)
    }
    val agg = joined.withColumn("stage", stageCol)
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    val sp = docs.sparkSession
    import sp.implicits._
    val axis = (stages.map(_._1) :+ "kept").zipWithIndex
      .map { case (st, i) => (i + 1, st) }.toDF("stage_ord", "stage")
    val tot = agg.agg(sum("n_docs").as("td"), sum("n_tokens").as("tt"))
    axis.join(agg, Seq("stage"), "left")
      .crossJoin(broadcast(tot))
      .select(col("stage_ord"), col("stage"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        expr("coalesce(n_docs, CAST(0 AS BIGINT)) * 1000000 div td").as("doc_ppm"),
        expr("coalesce(n_tokens, CAST(0 AS BIGINT)) * 1000000 div tt").as("token_ppm"))
      .orderBy("stage_ord")
  }
}
