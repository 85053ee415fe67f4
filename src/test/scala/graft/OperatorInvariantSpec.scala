package graft

import org.apache.spark.sql.functions._

/** Semantic invariants of the round-3/4 operators — properties the
  * DuckDB hash parity can't express (parity proves Spark == oracle;
  * these prove both compute the RIGHT thing).
  */
class OperatorInvariantSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.01"

  test("sketch_quantile: estimates monotone and within a bin of the exact quantile") {
    val est = operators.Sketches.sketchQuantile(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // exact DISCRETE quantile under the sketch's own definition:
    // smallest value whose rank k satisfies 100k >= q·n — the estimate
    // must be exactly that value's bin edge (not the INTERPOLATED
    // percentile, which at sparse tails sits several empty bins away)
    val byType = sources.Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    def disc(vs: Array[Double], q: Int): Double = {
      val n = vs.length
      val k = (q * n + 99) / 100 // smallest k with 100k >= q·n
      math.floor(vs(k - 1) * 10) / 10
    }
    est.foreach { case (t, (p50, p95, p99)) =>
      assert(p50 <= p95 && p95 <= p99, s"$t: quantiles not monotone ($p50, $p95, $p99)")
      val vs = byType(t)
      assert(p50 == disc(vs, 50), s"$t p50: est $p50 vs discrete ${disc(vs, 50)}")
      assert(p95 == disc(vs, 95), s"$t p95: est $p95 vs discrete ${disc(vs, 95)}")
      assert(p99 == disc(vs, 99), s"$t p99: est $p99 vs discrete ${disc(vs, 99)}")
    }
  }

  test("sketch_bloom: no false negatives — probe hits cover every true member") {
    operators.Sketches.sketchBloom(spark, sf).collect().foreach { r =>
      val hits = r.getAs[Long]("n_probe_hits")
      val present = r.getAs[Long]("n_probe_present")
      assert(hits >= present,
        s"${r.getString(0)}: $hits hits < $present true members — a Bloom filter may never false-negative")
    }
  }

  test("tfidf_topterms: per-doc ranks 1..k with non-increasing scores") {
    val rows = operators.TextAnalysis.tfidfTopTerms(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"), r.getAs[Double]("score")))
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to byRank.length).toSeq,
        s"doc $doc: ranks not dense: ${byRank.map(_._2).toSeq}")
      assert(byRank.length <= operators.TextAnalysis.TfidfTopK)
      assert(byRank.sliding(2).forall { case Array(a, b) => a._3 >= b._3; case _ => true },
        s"doc $doc: scores increase with rank")
    }
  }

  test("events_retention: rates bounded, retained never exceeds cohort") {
    operators.Queries.eventsRetention(spark, sf).collect().foreach { r =>
      val n = r.getAs[Long]("n_users")
      val d1 = r.getAs[Long]("d1_retained"); val d7 = r.getAs[Long]("d7_retained")
      assert(d1 <= n && d7 <= n, s"cohort ${r.getAs[Long]("cohort_day")}: retained > cohort")
      val r1 = r.getAs[Double]("d1_rate"); val r7 = r.getAs[Double]("d7_rate")
      assert(r1 >= 0 && r1 <= 1 && r7 >= 0 && r7 <= 1)
    }
  }

  test("corpus_mix: takes within availability, binding source taken fully") {
    val plan = operators.Corpus.corpusMix(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("target_ppm"), r.getAs[Long]("n_avail"), r.getAs[Long]("n_take")))
    plan.foreach { case (src, (_, avail, take)) =>
      assert(take <= avail, s"$src: take $take > avail $avail")
    }
    // the binding source (max target/avail ratio) is taken to within
    // the double-floor rounding loss (M and n_take each floor once)
    val binding = plan.minBy { case (_, (ppm, avail, _)) => avail * 1000000L / ppm }
    assert(binding._2._3 >= binding._2._2 - 1,
      s"binding source ${binding._1} underused: $binding")
  }

  test("compact_plan: bins bounded by target + one file, counts conserve the manifest") {
    val plan = operators.Maintenance.compactPlan(spark, sf).collect()
    val maxFile = 1024L + 4194304L // manifest synthesis size bound
    plan.foreach { r =>
      val pdir = r.getString(0)
      assert(r.getAs[Long]("max_bin_bytes") < operators.Maintenance.CompactTarget + maxFile,
        s"$pdir: a greedy first-fit bin may exceed the target by at most one file")
      assert(r.getAs[Long]("n_bins") >=
        r.getAs[Long]("total_bytes") / (operators.Maintenance.CompactTarget + maxFile),
        s"$pdir: too few bins for the byte volume")
    }
    val total = plan.map(_.getAs[Long]("n_files")).sum
    val manifestN = sources.Manifest.manifest(spark, sf).count()
    assert(total == manifestN, s"planned files $total != manifest $manifestN")
  }

  test("incr_agg: incremental path consistent with full recompute everywhere") {
    val rows = operators.Maintenance.incrAgg(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("consistent"),
        s"${r.getString(0)}: incremental (${r.getAs[Long]("n_files_incr")}, ${r.getAs[Long]("bytes_incr")}) " +
          s"!= full (${r.getAs[Long]("n_files_full")}, ${r.getAs[Long]("bytes_full")})")
    }
    val fullN = sources.Manifest.snapshotCur(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_files_full")).sum == fullN)
  }

  test("zorder_layout: every Z-bin is one aligned 32x32 quadtree cell") {
    val rows = operators.Maintenance.zorderLayout(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == sources.Tables.events(spark, sf).count())
    rows.foreach { r =>
      // bin width 1024 = 4^5 consecutive Z-values = a complete level-5
      // quadtree cell, so both dimension ranges fit in one 32-wide tile
      // — the tight two-dimensional bound zone-map skipping consumes.
      // A lexicographic (x, y) layout of the same 64 bins would give
      // every bin the full 256-wide y range.
      assert(r.getAs[Long]("max_x") - r.getAs[Long]("min_x") < 32,
        s"zbin ${r.getAs[Long]("zbin")}: x range escapes the quadtree cell")
      assert(r.getAs[Long]("max_y") - r.getAs[Long]("min_y") < 32,
        s"zbin ${r.getAs[Long]("zbin")}: y range escapes the quadtree cell")
      assert(r.getAs[Long]("bbox_area") <= 1024L)
    }
  }

  test("text_repetition: shares bounded, bigram counts consistent with token counts") {
    val rep = operators.CorpusQuality.textRepetition(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val toks = operators.TextAnalysis.textTokens(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_ws_tokens")).toMap
    rep.foreach { case (doc, r) =>
      val n = r.getAs[Long]("n_bigrams")
      assert(n == math.max(toks(doc) - 1, 0), s"doc $doc: $n bigrams vs ${toks(doc)} words")
      val top = r.getAs[Double]("top_share"); val dup = r.getAs[Double]("dup_frac")
      assert(top > 0 && top <= 1 && dup >= 0 && dup <= 1, s"doc $doc: shares out of range")
      // any bigram that repeats is itself duplicated, so a top share
      // above 1/n implies at least that much duplicated mass
      if (top * n >= 2) assert(dup >= top - 1e-9, s"doc $doc: top $top > dup $dup")
    }
  }

  test("text_ngram_lm: bigram counts match text length, score within corpus frequency range") {
    val docs = sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getString(1)).toMap
    val total = docs.values.map(t => math.max(t.length - 1, 0).toLong).sum
    operators.CorpusQuality.textNgramLm(spark, sf).collect().foreach { r =>
      val doc = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_bigrams") == docs(doc).length - 1)
      val score = r.getAs[Double]("lm_score")
      // each bigram occurs at least once (itself), at most `total` times
      assert(score >= 1.0 && score <= total.toDouble, s"doc $doc: score $score")
    }
  }

  test("q_rollup: subtotal lattice is internally consistent") {
    val rows = operators.Queries.qRollup(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("gid"),
        r.getAs[Double]("sum_qty"), r.getAs[Long]("count_order")))
    val leaves = rows.filter(_._3 == 0)
    val flags = rows.filter(_._3 == 1)
    val grand = rows.filter(_._3 == 3)
    assert(grand.length == 1)
    assert(grand.head._5 == leaves.map(_._5).sum, "grand total != sum of leaves")
    flags.foreach { case (rf, _, _, _, n) =>
      assert(n == leaves.filter(_._1 == rf).map(_._5).sum, s"flag $rf subtotal drift")
    }
  }

  test("events_pivot: per-day counts conserve the event table") {
    val rows = operators.Queries.eventsPivot(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_total")).sum
    assert(total == sources.Tables.events(spark, sf).count())
    rows.foreach { r =>
      val parts = operators.Queries.EventTypes.map(t => r.getAs[Long](s"n_$t")).sum
      assert(parts == r.getAs[Long]("n_total"))
    }
  }

  test("sketch_hll_setops: union/intersection estimates obey set algebra") {
    val rows = operators.Sketches.sketchHllSetops(spark, sf).collect()
    assert(rows.length == 10) // C(5,2) type pairs
    rows.foreach { r =>
      val (a, b) = (r.getAs[Double]("hll_a"), r.getAs[Double]("hll_b"))
      val u = r.getAs[Double]("hll_union")
      val i = r.getAs[Double]("hll_intersect")
      val pair = s"${r.getString(0)}-${r.getString(1)}"
      // merged sketch dominates both sides (per-bucket max can only grow)
      assert(u >= a - 1e-6 && u >= b - 1e-6, s"$pair: union $u below a side ($a, $b)")
      assert(u <= a + b + 1e-6, s"$pair: union $u above a+b")
      assert(i == math.floor((a + b - u) * 1e6) / 1e6, s"$pair: inclusion-exclusion broken")
      // estimate within a factor-of-2 band of exact: inclusion-exclusion
      // AMPLIFIES per-sketch error by ~|A|/|A∩B| (each side is ~5× the
      // intersection here), so a 512-bucket raw-regime HLL's few-percent
      // single-set error legitimately becomes tens of percent on the
      // intersection — the band catches collapse/sign errors, not noise
      val exact = r.getAs[Long]("n_exact_intersect").toDouble
      assert(i >= 0.4 * exact && i <= 1.7 * exact,
        s"$pair: intersect est $i vs exact $exact")
    }
  }

  test("corpus_source_stats: conserves the corpus and keeps only above-threshold sources") {
    val rows = operators.CorpusQuality.corpusSourceStats(spark, sf).collect()
    val docs = sources.Tables.documents(spark, sf)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(rows.map(_.getAs[Long]("n_en")).sum == docs.filter(col("lang") === "en").count())
    rows.foreach { r =>
      val keep = r.getAs[Boolean]("keep")
      // the flag is computed on exact integers; the displayed mean is
      // q6-floored, so compare with a one-micro tolerance
      val meets = r.getAs[Long]("n_docs") >= 15 && r.getAs[Double]("mean_quality") >= 0.3 - 1e-6
      assert(keep == meets, s"${r.getString(0)}: keep flag inconsistent with thresholds")
    }
  }

  test("q13_custdist: distribution conserves customers and qualifying orders") {
    val rows = operators.Queries.q13Custdist(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_count"), r.getAs[Long]("custdist")))
    val customers = sources.Tables.customer(spark, sf).count()
    val qualifying = sources.Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    // every customer lands in exactly one bucket; buckets weighted by
    // their count reproduce the filtered fact cardinality exactly
    assert(rows.map(_._2).sum == customers, "Σ custdist must equal |customer|")
    assert(rows.map(r => r._1 * r._2).sum == qualifying,
      "Σ c_count·custdist must equal the qualifying-order count")
    assert(rows.exists(_._1 == 0L), "the zero-order bucket must exist (outer-join zeros)")
  }

  test("q22_antijoin: every nation group's mean balance exceeds the global positive mean") {
    val c = sources.Tables.customer(spark, sf).select("c_custkey", "c_acctbal")
    val pos = c.filter(col("c_acctbal") > 0).agg(sum("c_acctbal"), count(lit(1))).head()
    val globalMean = pos.getDouble(0) / pos.getLong(1)
    val rows = operators.Queries.q22Antijoin(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mean = r.getAs[Double]("totacctbal") / r.getAs[Long]("numcust")
      // members all pass bal > globalMean, so any group mean does too
      assert(mean > globalMean - 0.01,
        s"nation ${r.get(0)}: group mean $mean <= global mean $globalMean")
    }
    // anti-join actually bit: some above-average customer has an urgent order
    val aboveAvg = c.filter(col("c_acctbal") > globalMean).count()
    assert(rows.map(_.getAs[Long]("numcust")).sum < aboveAvg,
      "anti join removed nothing — urgent-order customers not excluded")
  }

  test("events_dau_rolling: window dominates the day and is capped by the trailing-7 sum") {
    val rows = operators.Queries.eventsDauRolling(spark, sf).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("dau"), r.getAs[Long]("dau7")))
      .sortBy(_._1)
    val byDay = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (d, dau, dau7) =>
      assert(dau7 >= dau, s"day $d: dau7 $dau7 < dau $dau")
      val cap = (d - 6 to d).flatMap(byDay.get).sum
      assert(dau7 <= cap, s"day $d: dau7 $dau7 exceeds trailing-7 dau sum $cap")
    }
    // the first active day has no history: its window is exactly its day
    assert(rows.head._2 == rows.head._3, "first day's dau7 must equal its dau")
  }

  test("q21_late_supp: matches a brute-force recount of sole-late multi-supplier orders") {
    val rows = operators.Queries.q21LateSupp(spark, sf).collect()
      .map(r => r.getAs[Long]("suppkey") -> r.getAs[Long]("numwait"))
    assert(rows.nonEmpty)
    // NTZ timestamps surface as LocalDateTime — epoch-ms via UTC
    def ms(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[java.time.LocalDateTime](i).toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val l = sources.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_shipdate").collect()
      .map(r => (r.getLong(0), r.getLong(1), ms(r, 2)))
    val o = sources.Tables.orders(spark, sf).select("o_orderkey", "o_orderdate").collect()
      .map(r => r.getLong(0) -> ms(r, 1)).toMap
    val ninetyDaysMs = 90L * 86400 * 1000
    val byOrder = l.groupBy(_._1)
    val brute = byOrder.toSeq.flatMap { case (ok, items) =>
      val supps = items.groupBy(_._2)
      val late = supps.filter(_._2.exists(i => i._3 > o(ok) + ninetyDaysMs)).keys.toSeq
      if (supps.size >= 2 && late.size == 1) late else Nil
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val top = brute.toSeq.sortBy { case (k, n) => (-n, k) }.take(20)
    assert(rows.toSeq == top, s"engine ${rows.toSeq} vs brute-force $top")
  }

  test("events_ohlc: bounds hold and open/close match a per-group sort") {
    val rows = operators.Queries.eventsOhlc(spark, sf).collect()
    assert(rows.nonEmpty)
    val events = sources.Tables.events(spark, sf)
      .selectExpr("ts_us div 3600000000 as hb", "event_type", "ts_us", "event_id", "value")
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sortBy(v => (v._1, v._2)) }
    rows.foreach { r =>
      val key = (r.getAs[Long]("hour_bucket"), r.getAs[String]("event_type"))
      val (open, high, low, close) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(low <= open && open <= high && low <= close && close <= high, s"$key bounds")
      val sorted = events(key)
      assert(open == sorted.head._3 && close == sorted.last._3,
        s"$key: open/close disagree with the time-sorted group")
      assert(r.getAs[Long]("n") == sorted.length.toLong)
    }
  }

  test("dedup_incremental: re-ingestions rejected with a valid ancestor, fresh docs admitted") {
    val out = operators.Dedup.dedupIncremental(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val newId = r.getAs[Long]("new_id")
      val admitted = r.getAs[Boolean]("admitted")
      if ((newId - 200000) % 10 == 3) {
        assert(!admitted, s"$newId: byte-identical re-ingestion must be rejected")
        assert(r.getAs[Long]("dup_of") <= newId - 200000,
          s"$newId: ancestor must be an existing (earlier) doc")
      } else {
        assert(admitted, s"$newId: suffixed doc is genuinely new, must be admitted")
        assert(r.isNullAt(r.fieldIndex("dup_of")), s"$newId: admitted doc has an ancestor")
      }
    }
  }

  test("events_burstiness: B and CV bounded, gap counts tie to the (type, user) census") {
    val out = operators.AnalyticsMore.eventsBurstiness(spark, sf).collect()
    assert(out.nonEmpty)
    // n_gaps per type must equal Σ_users (events − 1) = n_events − n_users
    val census = sources.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("u"))
      .collect().map(r => r.getString(0) -> (r.getLong(1) - r.getLong(2))).toMap
    out.foreach { r =>
      val t = r.getString(0)
      assert(r.getAs[Long]("n_gaps") == census(t),
        s"$t: n_gaps ${r.getAs[Long]("n_gaps")} != census ${census(t)}")
      val b = r.getAs[Long]("burst_ppm")
      // (σ−μ)/(σ+μ) is bounded to (−1, 1] for non-negative gaps
      assert(b >= -1000000L && b <= 1000000L, s"$t: burst_ppm $b out of bounds")
      assert(r.getAs[Long]("cv_ppm") >= 0L, s"$t: negative CV")
      assert(r.getAs[Long]("mean_gap_min") >= 0L, s"$t: negative mean gap")
    }
  }

  test("events_entropy: histogram covers every user, H bounded by log2 of the type count") {
    val out = operators.AnalyticsMore.eventsEntropy(spark, sf).collect()
    val ev = sources.Tables.events(spark, sf)
    val nUsers = ev.select(countDistinct("user_id")).head().getLong(0)
    val nTypes = ev.select(countDistinct("event_type")).head().getLong(0)
    assert(out.map(_.getAs[Long]("n_users")).sum == nUsers,
      "histogram mass must equal the distinct-user count")
    val maxBin = (math.log(nTypes.toDouble) / math.log(2.0) * 1e6 / 250000).toLong
    out.foreach { r =>
      val bin = r.getAs[Long]("ent_bin")
      // scaladoc claim: H_ppm provably ≥ 0, and H ≤ log2(|types|)
      assert(bin >= 0L && bin <= maxBin, s"ent_bin $bin outside [0, $maxBin]")
      val n = r.getAs[Long]("n_users"); val s = r.getAs[Long]("sum_h_ppm")
      assert(s >= bin * 250000L * n && s < (bin + 1) * 250000L * n,
        s"bin $bin: sum_h_ppm $s inconsistent with $n members")
    }
  }

  test("text_zipf_slope: slope non-positive on rank-sorted frequencies, r2 in [0,1]") {
    val out = operators.CorpusQuality.textZipfSlope(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val src = r.getString(0)
      assert(r.getAs[Long]("n_terms") <= operators.CorpusQuality.ZipfFitK)
      // y = ln(freq) is non-increasing in x = ln(rank) by construction,
      // so the least-squares slope cannot be positive
      assert(r.getAs[Long]("slope_milli") <= 0L, s"$src: positive Zipf slope")
      val r2 = r.getAs[Long]("r2_milli")
      // Cauchy–Schwarz bounds r² ≤ 1 on exact moments; per-term floor
      // quantization can nudge the quotient a few milli past it
      assert(r2 >= 0L && r2 <= 1005L, s"$src: r2_milli $r2 out of bounds")
    }
  }

  test("embed_neardup census gate: collapse and plain-LSH plans emit identical pairs") {
    // planted-duplicate corpus (byte-identical replicas under shifted
    // ids — the ×10 harness shape): the census must route to the
    // collapse plan, and BOTH plans must emit bit-identical output
    // (the r10 pair-explosion fix is a plan change, never a semantics
    // change). sf0.001 keeps the quadratic plain-LSH side test-sized.
    val vecs = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val planted = vecs.union(
      vecs.filter(pmod(col("vec_id"), lit(10)) === 2)
        .select(col("vec_id") + lit(500000L), col("v")))
    val slow = operators.Similarity.neardupImpl(planted, collapse = true)
      .collect().map(_.toString).toSeq
    val fast = operators.Similarity.neardupImpl(planted, collapse = false)
      .collect().map(_.toString).toSeq
    assert(slow.nonEmpty, "planted replicas must produce at least the self-pairs")
    assert(slow == fast, "collapse vs plain-LSH plans diverged")
    // and the public census gate picks the collapse branch here,
    // the fast branch on the duplicate-free base corpus — both equal
    // the branchless result by the identity above
    assert(operators.Similarity.embedNeardupFor(planted).collect().map(_.toString).toSeq == slow)
  }

  test("embed_dim_stats: one row per dimension, moments consistent with the quantized range") {
    val out = operators.Similarity.embedDimStats(spark, sf).collect()
    assert(out.length == functions.VectorFns.Dim, "one row per embedding dimension")
    val nVecs = sources.Tables.embeddings(spark, sf).count()
    out.foreach { r =>
      val pos = r.getAs[Long]("pos")
      assert(r.getAs[Long]("n_vecs") == nVecs, s"dim $pos: row count drift")
      val mn = r.getAs[Long]("min_milli"); val mx = r.getAs[Long]("max_milli")
      val mean = r.getAs[Long]("mean_ppm"); val sd = r.getAs[Long]("sd_ppm")
      assert(mn <= mx, s"dim $pos: min > max")
      // mean_ppm = 1000·mean_milli must sit inside the quantized range
      assert(mean >= mn * 1000L - 1000L && mean <= mx * 1000L + 1000L,
        s"dim $pos: mean_ppm $mean outside [$mn, $mx] milli")
      // population sd is at most half the range (Popoviciu)
      assert(sd >= 0L && sd <= (mx - mn) * 500L + 1000L,
        s"dim $pos: sd_ppm $sd exceeds the Popoviciu bound for range [$mn, $mx]")
    }
  }

  test("supplier_hhi: index bounded by the uniform floor and the top-share square") {
    val out = operators.AnalyticsMore.supplierHhi(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nat = r.getString(0)
      val n = r.getAs[Long]("n_suppliers")
      val top = r.getAs[Long]("top_share_ppm")
      val hhi = r.getAs[Long]("hhi_ppm")
      assert(top <= 1000000L && top * n >= 1000000L - n,
        s"$nat: top share $top impossible for $n suppliers")
      // HHI lives between the uniform minimum 1/n and the monopoly 1,
      // and must cover at least the top supplier's own square
      assert(hhi <= 1000000L, s"$nat: hhi_ppm $hhi > 1")
      assert(hhi >= 1000000L / n - 2L, s"$nat: hhi_ppm $hhi below the uniform floor for n=$n")
      assert(hhi >= top * top / 1000000L - 1L,
        s"$nat: hhi_ppm $hhi smaller than top share's own square")
    }
  }

  test("orders_abc: classes partition the rank line in order, shares sum to ~1") {
    val out = operators.AnalyticsMore.ordersAbc(spark, sf).collect()
    val classes = out.map(_.getString(0)).toSeq
    assert(classes == classes.sorted && classes.toSet.subsetOf(Set("A", "B", "C")))
    val nParts = sources.Tables.lineitem(spark, sf)
      .select("l_partkey").distinct().count()
    assert(out.map(_.getAs[Long]("n_parts")).sum == nParts,
      "classes must partition the part universe")
    // rank ranges tile [1, nParts] contiguously in class order
    val ranges = out.map(r => (r.getAs[Long]("min_rank"), r.getAs[Long]("max_rank")))
    assert(ranges.head._1 == 1L && ranges.last._2 == nParts)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(lo == hi + 1, s"rank ranges must tile: $hi then $lo")
    case _ => () }
    val shares = out.map(_.getAs[Long]("rev_share_ppm"))
    assert(shares.sum >= 999997L && shares.sum <= 1000000L, s"shares sum ${shares.sum}")
    // A is the head of the Pareto curve: fewer parts than C, more revenue
    val byClass = out.map(r => r.getString(0) -> r).toMap
    for (a <- byClass.get("A"); c <- byClass.get("C")) {
      assert(a.getAs[Long]("rev_share_ppm") > c.getAs[Long]("rev_share_ppm"))
    }
  }

  test("events_changepoint: the reported shift is a real consecutive-day delta") {
    val out = operators.EventsMore.eventsChangepoint(spark, sf).collect()
    assert(out.nonEmpty)
    // recount the daily frame and check each reported shift is the max
    val daily = sources.Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    out.foreach { r =>
      val (t, day) = (r.getString(0), r.getAs[Long]("day"))
      val counts = daily(t)
      assert(counts(day) == r.getAs[Long]("after_n") &&
        counts(day - 1) == r.getAs[Long]("before_n"),
        s"$t: reported counts must match the daily frame")
      val best = counts.keys.filter(d => counts.contains(d - 1))
        .map(d => math.abs(counts(d) - counts(d - 1))).max
      assert(math.abs(r.getAs[Long]("delta")) == best,
        s"$t: reported |delta| must be the maximum consecutive-day shift")
    }
  }

  test("corpus_novelty: monotone-seeded — the lowest doc_id is fully novel, ppm bounded") {
    val out = operators.CorpusQuality.corpusNovelty(spark, sf).collect()
    assert(out.nonEmpty)
    val first = out.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("novelty_ppm") == 1000000L,
      "the earliest doc owns every one of its shingles")
    out.foreach { r =>
      val (n, nov, ppm) = (r.getAs[Long]("n_sh"), r.getAs[Long]("n_novel"),
        r.getAs[Long]("novelty_ppm"))
      assert(nov >= 0L && nov <= n && ppm == nov * 1000000L / n)
    }
  }

  test("embed_kmeans_step: assignment is total and centroids stay in the data range") {
    val out = operators.Similarity.embedKmeansStep(spark, sf).collect()
    val nVecs = sources.Tables.embeddings(spark, sf).count()
    // every dimension of every non-empty cluster is present, and each
    // cluster's n_assigned is constant across its dims
    val perCluster = out.groupBy(_.getAs[Long]("cluster"))
    perCluster.foreach { case (c, rows) =>
      assert(rows.length == functions.VectorFns.Dim, s"cluster $c: dims missing")
      assert(rows.map(_.getAs[Long]("n_assigned")).distinct.length == 1)
    }
    assert(perCluster.map(_._2.head.getAs[Long]("n_assigned")).sum == nVecs,
      "assignment must cover every vector exactly once")
    // each seed vector belongs to its own cluster, so no cluster is empty
    assert(perCluster.size == operators.Similarity.KmeansK)
  }

  test("knn_silhouette: s bounded, own-centroid distance below nearest-other on sane labels") {
    val out = operators.Similarity.knnSilhouette(spark, sf).collect()
    assert(out.nonEmpty)
    val nVecs = sources.Tables.embeddings(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_vecs")).sum == nVecs)
    out.foreach { r =>
      val s = r.getAs[Long]("mean_s_ppm")
      assert(s >= -1000000L && s <= 1000000L, s"silhouette out of [-1, 1]: $s")
      assert(r.getAs[Long]("mean_own_sq") >= 0L && r.getAs[Long]("mean_other_sq") >= 0L)
    }
    // the synthetic labels are NOT geometric clusters (labels assigned
    // independently of position), so the audit must read ≈ 0: slightly
    // NEGATIVE in expectation, because b = min over 15 other centroids
    // undershoots the own-centroid distance a on exchangeable labels.
    // A confidently positive or strongly negative reading here would
    // mean the distance math is wrong, not the data.
    out.foreach { r =>
      val s = r.getAs[Long]("mean_s_ppm")
      assert(s > -100000L && s < 50000L,
        s"label ${r.getAs[Long]("label")}: s_ppm $s inconsistent with exchangeable labels")
    }
  }

  test("embed_project: projections deterministic and norm ratios sane") {
    val out = operators.Similarity.embedProject(spark, sf)
    val a = out.collect(); val b = operators.Similarity.embedProject(spark, sf).collect()
    assert(a.sameElements(b), "projection must be a pure function of the input")
    a.foreach { r =>
      val ratio = r.getAs[Double]("norm_ratio")
      // 16 of 64 dims with unit-variance +-1 coefficient entries: the
      // ratio concentrates well away from 0 (no collapse) and below the
      // full-norm bound scaled by the coefficient mass
      assert(ratio > 0.0 && ratio < 10.0, s"vec ${r.getAs[Long]("vec_id")}: norm ratio $ratio")
    }
  }

  test("source_label_trust: agreement mass ties to the langid confusion diagonal") {
    val out = operators.TextAnalysis.sourceLabelTrust(spark, sf).collect()
    assert(out.nonEmpty)
    val nDocs = sources.Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // total agreements across sources == the confusion matrix diagonal
    val diag = operators.TextAnalysis.textLangid(spark, sf).collect()
      .filter(r => r.getString(0) == r.getString(1))
      .map(_.getAs[Long]("n")).sum
    assert(out.map(_.getAs[Long]("n_agree")).sum == diag)
    out.foreach { r =>
      val ppm = r.getAs[Long]("agree_ppm")
      assert(ppm >= 0L && ppm <= 1000000L)
      assert(ppm == r.getAs[Long]("n_agree") * 1000000L / r.getAs[Long]("n_docs"))
    }
  }

  test("sketch_quantile_error: every estimate lands within one bin below the exact") {
    val out = operators.Sketches.sketchQuantileError(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      Seq(50, 95, 99).foreach { q =>
        val err = r.getAs[Long](s"p${q}_err_centi")
        assert(err >= 0L && err < 10L,
          s"${r.getString(0)} p$q: err_centi $err outside the sketch's one-bin contract")
        // exact sits at or above the bin's lower edge
        assert(r.getAs[Double](s"p${q}_exact") >= r.getAs[Double](s"p${q}_est"))
      }
    }
  }

  test("knn_ivf_balance: shares partition the corpus, imbalance consistent") {
    val out = operators.Similarity.knnIvfBalance(spark, sf).collect()
    assert(out.nonEmpty)
    val nVecs = sources.Tables.embeddings(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_vecs")).sum == nVecs,
      "every vector must land in exactly one cell")
    val nCells = out.length.toLong
    out.foreach { r =>
      val (n, share, imb) = (r.getAs[Long]("n_vecs"),
        r.getAs[Long]("share_ppm"), r.getAs[Long]("imbalance_ppm"))
      assert(share == n * 1000000L / nVecs)
      assert(imb == n * nCells * 1000000L / nVecs)
    }
    // the synthetic corpus is near-uniform over refined centroids: no
    // cell should hold more than 5x its fair share (the Σ|cell|² audit
    // this operator exists to run)
    assert(out.map(_.getAs[Long]("imbalance_ppm")).max < 5000000L)
  }

  test("events_daily_topk: exactly the 3 largest per group, plan is a WindowGroupLimit") {
    val df = operators.EventsMore.eventsDailyTopk(spark, sf)
    val out = df.collect()
    val byGroup = out.groupBy(r => (r.getString(0), r.getLong(1)))
    byGroup.foreach { case (_, rows) =>
      assert(rows.length <= 3)
      val vals = rows.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("value"))
      assert(vals.sameElements(vals.sortBy(-_)), "ranked rows must descend")
    }
    // brute: every group's max is present at rk=1
    val brute = sources.Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .agg(max("value").as("mx")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    byGroup.foreach { case (k, rows) =>
      assert(rows.find(_.getAs[Long]("rk") == 1L).get.getAs[Double]("value") == brute(k))
    }
    // the scale claim: the plan must contain a WindowGroupLimit (the
    // shuffle carries per-group top-3 partials, not the corpus)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "rank-filter must compile to WindowGroupLimit")
  }

  test("events_ttconvert: histogram mass equals the converter census") {
    val out = operators.EventsMore.eventsTtconvert(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("gap_days") >= 0L))
    val ev = sources.Tables.events(spark, sf)
      .select("user_id", "event_type", "ts_us").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val converters = ev.groupBy(_._1).count { case (_, rows) =>
      val su = rows.filter(_._2 == "signup").map(_._3)
      su.nonEmpty && rows.exists(r => r._2 == "purchase" && r._3 > su.min)
    }
    assert(out.map(_.getAs[Long]("n_users")).sum == converters.toLong,
      "every qualifying converter lands in exactly one gap bucket")
  }

  test("brand_price_trend: slope sign matches endpoint drift on a recount") {
    val out = operators.QueriesDeep.brandPriceTrend(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_years") >= 1L && r.getAs[Long]("n_years") <= 7L)
      assert(r.getAs[Long]("avg_milli") > 0L, "unit prices are positive")
    }
    // OLS slope over an exactly-linear hand series must be exact: feed
    // the operator's own grid shape y = 5000 + 250x and check 250
    val xs = (0L to 6L)
    val n = xs.size.toLong
    val ys = xs.map(x => 5000L + 250L * x)
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val sxx = xs.map(x => x * x).sum
    assert((n * sxy - sx * sy) / (n * sxx - sx * sx) == 250L)
  }

  test("events_abtest: 2x2 cells tie to a census recount, z sign follows lift") {
    val out = operators.AnalyticsMore.eventsAbtest(spark, sf).collect()
    assert(out.length == 4) // click, error, signup, view
    val ev = sources.Tables.events(spark, sf)
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byUser = ev.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).toSet }
    val nAll = byUser.size.toLong
    val convAll = byUser.values.count(_.contains("purchase")).toLong
    out.foreach { r =>
      val t = r.getString(0)
      val treat = byUser.values.filter(_.contains(t))
      assert(r.getAs[Long]("n_treat") == treat.size.toLong)
      assert(r.getAs[Long]("conv_treat") == treat.count(_.contains("purchase")).toLong)
      assert(r.getAs[Long]("n_ctrl") == nAll - treat.size)
      assert(r.getAs[Long]("conv_ctrl") == convAll - treat.count(_.contains("purchase")))
      // z and the ppm lift must agree in sign (both compare the same rates)
      val lift = r.getAs[Long]("cr_treat_ppm") - r.getAs[Long]("cr_ctrl_ppm")
      val z = r.getAs[Long]("z_milli")
      assert(lift == 0 || z == 0 || (lift > 0) == (z >= 0),
        s"$t: lift $lift vs z $z disagree in sign")
    }
  }

  test("nation_lead_time: mean/median/max consistent with a brute recount") {
    val out = operators.QueriesDeep.nationLeadTime(spark, sf).collect()
    assert(out.nonEmpty)
    val brute = sources.Tables.lineitem(spark, sf)
      .join(sources.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .join(sources.Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(sources.Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), expr(
        "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000 - unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (nat, rs) => nat -> rs.map(_._2).sorted }
    out.foreach { r =>
      val days = brute(r.getString(0))
      assert(r.getAs[Long]("n_items") == days.length.toLong)
      assert(r.getAs[Long]("max_days") == days.last)
      assert(r.getAs[Long]("p50_days") == days((days.length + 1) / 2 - 1),
        s"${r.getString(0)}: exact median mismatch")
      val mean = days.map(BigInt(_)).sum * 1000 / days.length
      assert(r.getAs[Long]("mean_milli_days") == mean.toLong)
    }
  }

  test("events_forecast: error mass ties to a recount, WAPE bounded by worst day") {
    val out = operators.EventsMore.eventsForecast(spark, sf).collect()
    assert(out.nonEmpty)
    val daily = sources.Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("n")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    out.foreach { r =>
      val t = r.getString(0)
      val counts = daily(t)
      val scored = counts.keys.filter(d => counts.contains(d - 7)).toSeq
      assert(r.getAs[Long]("n_days") == scored.length.toLong)
      val absErr = scored.map(d => math.abs(counts(d) - counts(d - 7))).sum
      assert(r.getAs[Long]("sum_abs_err") == absErr, s"$t: error mass mismatch")
      assert(r.getAs[Long]("mae_ppm") == absErr * 1000000L / scored.length)
      // WAPE can exceed 1 only if some day more than doubles its lag-7
      assert(r.getAs[Long]("wape_ppm") >= 0L)
    }
  }

  test("orders_backlog: running sum telescopes to the never-shipping population") {
    val out = operators.AnalyticsPlus.ordersBacklog(spark, sf).collect()
    assert(out.nonEmpty)
    var run = 0L
    out.foreach { r =>
      run += r.getAs[Long]("opened") - r.getAs[Long]("closed")
      assert(r.getAs[Long]("backlog") == run, "backlog must equal the running net")
    }
    // every order opens; only orders with at least one lineitem ever
    // close (the synthetic data has ~1.7% empty orders, and — unlike
    // real TPC-H — ship dates that precede the order date, so the
    // intermediate backlog may dip negative; the telescoped END state
    // is what is invariant)
    val nOrders = sources.Tables.orders(spark, sf).count()
    val nShipping = sources.Tables.lineitem(spark, sf)
      .select("l_orderkey").distinct().count()
    assert(out.map(_.getAs[Long]("opened")).sum == nOrders)
    assert(out.map(_.getAs[Long]("closed")).sum == nShipping)
    assert(run == nOrders - nShipping,
      s"final backlog $run must be the never-shipping order count ${nOrders - nShipping}")
  }

  test("web_pagerank_step: rank mass conserved within fixed-point slack") {
    val out = operators.WebCorpus.webPagerankStep(spark, sf).collect()
    assert(out.length == 20)
    // top-20 ordered by r1 desc
    val r1s = out.map(_.getAs[Long]("r1_ppb")).toSeq
    assert(r1s == r1s.sorted.reverse, "top-20 must descend in r1")
    out.foreach { r =>
      // one damped step from a distribution: r1 = (1-d)/P + d·inflow,
      // inflow itself ≤ 1 (total mass) — so r1_ppb ≤ 10⁹ always
      assert(r.getAs[Long]("r1_ppb") >= 0L && r.getAs[Long]("r1_ppb") <= 1000000000L)
      assert(r.getAs[Long]("inflow_ppb") <= 1000000000L)
      assert(r.getAs[Long]("r0_ppb") <= 1000000000L)
    }
  }

  test("bpe_pair_step: reported pair counts match a hand recount of the vocab") {
    val out = operators.CorpusQuality.bpePairStep(spark, sf).collect()
    assert(out.length == 20)
    val ns = out.map(_.getAs[Long]("n_pairs")).toSeq
    assert(ns == ns.sorted.reverse)
    // brute-force recount over the collected vocab (sf0.01 is small)
    val vocab = sources.Tables.documents(spark, sf)
      .select(explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val brute = collection.mutable.Map.empty[String, (Long, Long)]
    vocab.foreach { case (w, c) =>
      if (w.length >= 2) w.sliding(2).foreach { p =>
        val (n, t) = brute.getOrElse(p, (0L, 0L))
        brute(p) = (n + c, t + 1)
      }
    }
    // sliding counts a pair TWICE inside one word (e.g. "aaaa" has aa
    // at 3 positions) — exactly like the operator's position transform
    out.foreach { r =>
      val (n, t) = brute(r.getString(0))
      assert(r.getAs[Long]("n_pairs") == n && r.getAs[Long]("n_types") == t,
        s"pair ${r.getString(0)}: ($n, $t) expected")
    }
  }

  test("source_kl_drift: non-negative within quantization slack, zero for a uniform source") {
    val out = operators.CorpusQuality.sourceKlDrift(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val kl = r.getAs[Long]("kl_ppb")
      val vocab = r.getAs[Long]("n_vocab")
      // Gibbs: true KL >= 0; each floor can shave < 1 ppb per token
      assert(kl >= -vocab, s"${r.getString(0)}: KL $kl below -|vocab| floor slack")
      assert(r.getAs[Long]("n_tokens") > 0L && vocab > 0L)
    }
  }

  test("web_triangles: feedForwardLoops counts hand-built directed triangles; hub cap binds") {
    import spark.implicits._
    // graph: 1→2, 2→3, 1→3 (one a→b→c with a→c loop, src 1);
    // 3→4, 4→5, 3→5 (loop at src 3); 5→1 closes nothing; a parallel
    // duplicate edge and a self-loop must be ignored.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (1L, 3L) /* dup */, (2L, 2L) /* self */,
      (3L, 4L), (4L, 5L), (3L, 5L), (5L, 1L)).toDF("src", "dst")
    val out = operators.WebCorpus.feedForwardLoops(edges).collect()
      .map(r => r.getAs[Long]("src") -> r.getAs[Long]("n_ffl")).toMap
    assert(out == Map(1L -> 1L, 3L -> 1L), s"got $out")
    // hub cap: middle vertex with outdeg > cap generates no wedges —
    // a star through a hub must count zero loops
    val cap = operators.WebCorpus.TriangleDegreeCap
    // build a→h, h→c_i (i = 1..cap+1), a→c_1: the h middle is over cap
    val hubEdges = (Seq((100L, 0L), (100L, 1L)) ++
      (1L to (cap + 1)).map(i => (0L, i))).toDF("src", "dst")
    val hubOut = operators.WebCorpus.feedForwardLoops(hubEdges).collect()
    assert(hubOut.isEmpty, s"hub middle over cap must yield no loops, got ${hubOut.toSeq}")
    // contract query: per-domain loop counts are non-negative and the
    // density column is exactly loops·10⁶ div pages
    operators.WebCorpus.webTriangles(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_loops") >= 0L)
      assert(r.getAs[Long]("loop_ppm") ==
        r.getAs[Long]("n_loops") * 1000000L / r.getAs[Long]("n_pages"))
    }
  }

  test("quality_dup_lift: bands partition the corpus; rates and lifts are self-consistent") {
    val out = operators.CorpusQuality.qualityDupLift(spark, sf).collect()
    assert(out.map(_.getString(0)).toSet == Set("low", "mid", "high"))
    val nDocs = sources.Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs, "bands must partition the corpus")
    val totDup = out.map(_.getAs[Long]("n_dup")).sum
    val dupMembers = operators.Dedup.minhashPairs(sources.Tables.documents(spark, sf))
      .select(explode(array(col("doc_a"), col("doc_b"))).as("d")).distinct().count()
    assert(totDup == dupMembers, s"Σ n_dup $totDup must equal distinct dup members $dupMembers")
    out.foreach { r =>
      val (n, d) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup"))
      assert(r.getAs[Long]("dup_ppm") == d * 1000000L / n)
      // lift re-derivation: band rate over corpus rate, floored
      val lift = (BigInt(d) * nDocs * 1000000 / (BigInt(n) * totDup)).toLong
      assert(r.getAs[Long]("lift_ppm") == lift)
    }
  }

  test("sketch_hll_sliding: window merge matches a driver recount; LC regime and error bounded") {
    val out = operators.Sketches.sketchHllSliding(spark, sf).collect()
    assert(out.nonEmpty)
    // exact side recount: distinct users over each 7-day window
    val dayUsers = sources.Tables.events(spark, sf)
      .select(expr("ts_us div 86400000000").as("day"), col("user_id"))
      .distinct().collect().map(r => r.getLong(0) -> r.getLong(1))
    val days = dayUsers.map(_._1).distinct.sorted
    out.foreach { r =>
      val end = r.getAs[java.sql.Date]("window_end").toLocalDate.toEpochDay
      val winDays = days.filter(d => d >= end - 6 && d <= end)
      assert(r.getAs[Long]("n_window_days") == winDays.length)
      val exact = dayUsers.filter { case (d, _) => d >= end - 6 && d <= end }
        .map(_._2).distinct.length.toLong
      assert(r.getAs[Long]("n_exact") == exact, s"window $end exact mismatch")
      // regime rule: below 2.5m with empty buckets → linear counting
      val m = operators.Sketches.HllM
      val present = r.getAs[Long]("n_present")
      if (r.getAs[String]("regime") == "lc") {
        assert(present < m)
        val lc = math.floor(m.toDouble * math.log(m.toDouble / (m - present).toDouble) * 1e6) / 1e6
        assert(r.getAs[Double]("hll_estimate") == lc, s"window $end LC formula mismatch")
      }
      // estimator quality: within ±15% at this cardinality (deterministic data)
      assert(math.abs(r.getAs[Long]("err_ppm")) < 150000L,
        s"window $end err ${r.getAs[Long]("err_ppm")} ppm out of band")
    }
  }

  test("corpus_dsir_weights: target-language docs outscore every other language slice") {
    // the semantic point of DSIR: importance weights must rank the
    // target distribution's own docs above the rest of the raw pool.
    // Rebuild per-DOC weights via the library pieces, group by lang.
    val out = operators.CorpusQuality.corpusDsirWeights(spark, sf).collect()
    assert(out.length == 20)
    out.foreach { r =>
      assert(r.getAs[Long]("n_docs") > 0L)
      assert(r.getAs[Long]("target_like_ppm") ==
        r.getAs[Long]("n_target_like") * 1000000L / r.getAs[Long]("n_docs"))
    }
    // per-lang mean via a direct recompute with the same bucket fold
    val grid = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .withColumn("f", expr(
        s"${graft.functions.PortableHash.sparkWordHash("w")} % ${operators.CorpusQuality.DsirBuckets}"))
      .groupBy("doc_id", "lang", "f").agg(count(lit(1)).as("c")).collect()
    val cr = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val ct = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    grid.foreach { r =>
      val (f, c) = (r.getAs[Long]("f"), r.getAs[Long]("c"))
      cr(f) += c
      if (r.getAs[String]("lang") == "en") ct(f) += c
    }
    val (totR, totT) = (cr.values.sum, ct.values.sum)
    val b = operators.CorpusQuality.DsirBuckets
    def term(f: Long): Long = math.floor(
      (math.log(((ct(f) + 1).toDouble * (totR + b)) / ((cr(f) + 1).toDouble * (totT + b))) / math.log(2.0)) * 1e9).toLong
    // .toSeq BEFORE .map: mapping a Map to duplicate (lang -> w) keys
    // would silently keep one doc per lang
    val byDoc = grid.groupBy(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang")))
      .toSeq.map { case ((_, lang), rows) =>
        lang -> rows.map(r => r.getAs[Long]("c") * term(r.getAs[Long]("f"))).sum
      }
    val meanByLang = byDoc.groupBy(_._1).map { case (l, ws) => l -> ws.map(_._2).sum / ws.size }
    val en = meanByLang("en")
    meanByLang.filter(_._1 != "en").foreach { case (l, m) =>
      assert(en > m, s"en mean $en must exceed $l mean $m")
    }
  }

  test("dedup_minhash_recall: hit set bounded by both sides; ppm quotients self-consistent") {
    val r = operators.Dedup.dedupMinhashRecall(spark, sf).collect().head
    val (ex, det, hits) = (r.getAs[Long]("n_exact_pairs"),
      r.getAs[Long]("n_detected_pairs"), r.getAs[Long]("n_hits"))
    assert(ex > 0L, "planted near-dups must produce exact pairs")
    assert(hits <= math.min(ex, det))
    assert(r.getAs[Long]("recall_ppm") == hits * 1000000L / ex)
    assert(r.getAs[Long]("precision_ppm") == hits * 1000000L / det)
    // the configured LSH (4 bands × 3 rows, agreement ≥ 0.5) should
    // catch the planted J ≥ 0.5 structure essentially completely —
    // recall below 80% means the banding broke, not the data
    assert(r.getAs[Long]("recall_ppm") >= 800000L,
      s"LSH recall collapsed: ${r.getAs[Long]("recall_ppm")} ppm")
  }

  test("video_dedup: every planted re-ingestion caught (exact class OR fuzzy edge); bounds hold") {
    val out = operators.Video.videoDedup(spark, sf).collect()
    val pairs = out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val nDocs = sources.Tables.documents(spark, sf).count()
    val shift = operators.Video.DedupCopyShift
    // originals' class reps via the library pieces (a copy's edge is
    // keyed by representatives after the exact-class collapse)
    val classes = operators.Video.signatureClasses(
      operators.Video.aHashLoHi(operators.Video.encodeVideos(spark, sf)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep")).toMap
    // every planted copy must be caught: as a fuzzy edge between its
    // own class rep and the original's rep, or by collapsing into the
    // original's exact class (absent from the pair frame entirely —
    // and then NO pair row references the copy id at all)
    val referenced = out.flatMap(r =>
      Seq(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    (0L until nDocs).filter(_ % 10 == 3).foreach { d =>
      val copy = d + shift
      val caughtAsEdge = pairs.contains((classes.getOrElse(d, d), copy)) ||
        pairs.contains((d, copy))
      val collapsed = !referenced.contains(copy)
      assert(caughtAsEdge || collapsed,
        s"planted copy $copy neither edged to $d nor collapsed")
      // the corner swap preserves the frame total: each frame's
      // hamming is EXACTLY 0 or 2 bits (the two swapped cells' bits
      // exchange or coincide), so the edge total is even and ≤ 2n
      if (caughtAsEdge) {
        val r = out.find(r => r.getAs[Long]("doc_b") == copy).get
        val (h, n) = (r.getAs[Long]("hamming_total"), r.getAs[Long]("n_frames"))
        assert(h % 2 == 0L && h <= 2L * n, s"copy $copy hamming $h over $n frames")
      }
    }
    out.foreach { r =>
      assert(r.getAs[Long]("hamming_total") <=
        operators.Video.VideoDedupMaxMeanHamming * r.getAs[Long]("n_frames"))
      assert(r.getAs[Long]("members_a") >= 1L && r.getAs[Long]("members_b") >= 1L)
      // pixel pattern repeats with doc period 256: those collisions are
      // content-identical on aligned frames — hamming exactly 0
      if (r.getAs[Long]("doc_b") - r.getAs[Long]("doc_a") == 256L)
        assert(r.getAs[Long]("hamming_total") == 0L)
    }
  }

  test("knn_ivf_pq: composite shape sound; agreement with full-precision IVF stays high") {
    val pq = operators.Similarity.knnIvfPq(spark, sf).collect()
    val ivf = operators.Similarity.knnIvf(spark, sf).collect()
    // per query exactly KnnK ranked neighbors
    pq.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to operators.Similarity.KnnK),
        s"query $q ranks broken")
      rows.foreach(r => assert(r.getAs[Double]("adc_dist") >= 0.0))
    }
    // the PQ compression (32×) may swap borderline neighbors, but the
    // composite must stay close to the same-probes full-precision path
    val a = pq.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val b = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val agree = a.intersect(b).size
    assert(agree * 10 >= b.size * 8,
      s"composite agreement collapsed: $agree of ${b.size}")
  }

  test("knn_ivf_pq_recall: composite recall dominated by the coarse gate per query") {
    // theorem, not tuning: the composite's candidate pool (ADC shortlist
    // ∩ probed cells) is a SUBSET of knn_ivf's pool (probed cells), and
    // both rerank by exact cosine — so a brute-force neighbor the
    // composite finds, the IVF path finds too: n_hit_pq ≤ n_hit_ivf.
    val comp = operators.Similarity.knnIvfPqRecall(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hit")).toMap
    val ivf = operators.Similarity.knnRecall(spark, sf).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hit")).toMap
    assert(comp.keySet == ivf.keySet)
    comp.foreach { case (q, h) =>
      assert(h <= ivf(q), s"query $q: composite hits $h exceed IVF hits ${ivf(q)}")
    }
    operators.Similarity.knnIvfPqRecall(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("recall_ppm") ==
        r.getAs[Long]("n_hit") * 1000000L / r.getAs[Long]("n_exact"))
    }
  }

  test("events_srm: arm assignment matches a driver recount of first exposures; chi2 exact") {
    val r = operators.AnalyticsMore.eventsSrm(spark, sf).collect().head
    val first = sources.Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .select("user_id", "ts_us", "event_id", "event_type").collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getString(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).min._3).toMap
    val nClick = first.values.count(_ == "click").toLong
    val nView = first.values.count(_ == "view").toLong
    assert(r.getAs[Long]("n_click") == nClick && r.getAs[Long]("n_view") == nView)
    val d = nClick - nView
    val chi2 = d * d * 100L / (nClick + nView)
    assert(r.getAs[Long]("chi2_centi") == chi2)
    assert(r.getAs[Long]("srm_flag") == (if (chi2 > 384L) 1L else 0L))
  }

  test("split_leakage: conserves the pair frame; shares and flags consistent") {
    val out = operators.Corpus.splitLeakage(spark, sf).collect()
    val nPairs = operators.Dedup.minhashPairs(sources.Tables.documents(spark, sf)).count()
    assert(out.map(_.getAs[Long]("n_pairs")).sum == nPairs,
      "rollup must conserve the near-dup pair frame")
    // floored ppm shares sum to 1e6 within one floor per row
    val shareSum = out.map(_.getAs[Long]("share_ppm")).sum
    assert(shareSum > 1000000L - out.length && shareSum <= 1000000L)
    out.foreach { r =>
      val leak = r.getAs[Long]("is_leak")
      assert(leak == (if (r.getString(0) == r.getString(1)) 0L else 1L))
    }
    // the planted near-dups are split-blind (membership is a hash of
    // doc_id), so SOME leakage must exist — a zero-leak result on this
    // corpus means the join broke, not that the split is clean
    assert(out.filter(_.getAs[Long]("is_leak") == 1L).map(_.getAs[Long]("n_pairs")).sum > 0L)
  }

  test("dedup_clusters_hist: conserves clustered docs; removable arithmetic exact") {
    val out = operators.Dedup.dedupClustersHist(spark, sf).collect()
    val clustered = operators.Dedup.dedupClusters(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == clustered)
    out.foreach { r =>
      assert(r.getAs[Long]("cluster_size") >= 2L, "a cluster needs two members")
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters"))
      assert(r.getAs[Long]("n_removable") ==
        (r.getAs[Long]("cluster_size") - 1L) * r.getAs[Long]("n_clusters"))
    }
  }

  test("audio_dedup: every planted re-ingestion caught (exact class OR rep assignment); bounds hold") {
    val out = operators.Audio.audioDedup(spark, sf).collect()
    val assigned = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep_id")).toMap
    val referenced = (assigned.keySet ++ assigned.values).toSet
    val nDocs = sources.Tables.documents(spark, sf).count()
    val shift = operators.Audio.DedupCopyShift
    (0L until nDocs).filter(_ % 10 == 3).foreach { d =>
      val copy = d + shift
      // caught = assigned a representative, or collapsed into an exact
      // envelope class (then it never appears at all)
      assert(assigned.contains(copy) || !referenced.contains(copy),
        s"planted copy $copy neither assigned nor collapsed")
      // when the chosen rep IS the original, the +16 DC offset bounds
      // the distance at 16 per window
      if (assigned.get(copy).contains(d)) {
        val r = out.find(_.getAs[Long]("doc_id") == copy).get
        assert(r.getAs[Long]("l1_dist") <= 16L * 16L)
      }
    }
    // star shape: one row per deduped doc, rep strictly smaller
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length == out.length)
    out.foreach { r =>
      val (rep, id) = (r.getAs[Long]("rep_id"), r.getAs[Long]("doc_id"))
      assert(rep < id)
      assert(r.getAs[Long]("l1_dist") <= operators.Audio.DedupMaxL1)
      assert(r.getAs[Long]("members_rep") >= 1L && r.getAs[Long]("members_doc") >= 1L)
      // amp staircases repeat with doc period 251 ((id+7)·C mod 251):
      // a rep relates to its doc by a 251 multiple, possibly through
      // the planted +100000 shift
      assert((id - rep) % 251L == 0L || (id - rep - shift) % 251L == 0L ||
        id - rep == shift, s"unexpected rep relation ($rep, $id)")
    }
  }

  test("embed_pca_power: components match a driver-side recompute of X^T(X·1)") {
    val out = operators.Similarity.embedPcaPower(spark, sf).collect()
    assert(out.length == graft.functions.VectorFns.Dim)
    val vecs = sources.Tables.embeddings(spark, sf)
      .select(expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .collect().map(_.getSeq[Long](0).toArray)
    val dots = vecs.map(_.sum)
    val w = Array.fill(graft.functions.VectorFns.Dim)(BigInt(0))
    vecs.zip(dots).foreach { case (v, d) =>
      var i = 0
      while (i < v.length) { w(i) += BigInt(v(i)) * d; i += 1 }
    }
    val wmax = w.map(_.abs).max
    out.foreach { r =>
      val pos = r.getAs[Long]("pos").toInt
      assert(r.getAs[Long]("w_unit") == (w(pos) / 1000000).toLong, s"pos $pos: w mismatch")
      assert(r.getAs[Long]("comp_ppm") == (w(pos) * 1000000 / wmax).toLong)
      assert(math.abs(r.getAs[Long]("comp_ppm")) <= 1000000L)
    }
  }

  test("dedup_banding_sweep: S-curve monotone in bands; 4x3 row == the recall gate's counts") {
    val rows = operators.Dedup.dedupBandingSweep(spark, sf).collect()
    assert(rows.map(r => (r.getAs[Long]("bands"), r.getAs[Long]("rows_per_band"))).toSeq ==
      operators.Dedup.BandingConfigs.map { case (b, r) => (b.toLong, r.toLong) })
    // every config grades against the SAME exact set
    assert(rows.map(_.getAs[Long]("n_exact")).distinct.length == 1)
    rows.foreach { r =>
      val (cand, det, hits, ex) = (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_detected"),
        r.getAs[Long]("n_hits"), r.getAs[Long]("n_exact"))
      assert(det <= cand, "detected pairs are a subset of candidates")
      assert(hits <= math.min(det, ex))
      assert(r.getAs[Long]("recall_ppm") == (if (ex == 0) 0L else hits * 1000000L / ex))
      assert(r.getAs[Long]("precision_ppm") == (if (det == 0) 0L else hits * 1000000L / det))
    }
    // more bands × fewer rows per band = a steeper left S-curve:
    // candidate volume and recall must both be non-decreasing in bands
    val byBands = rows.sortBy(_.getAs[Long]("bands"))
    byBands.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_candidates") <= b.getAs[Long]("n_candidates"),
        "candidate volume must grow with band count")
      assert(a.getAs[Long]("recall_ppm") <= b.getAs[Long]("recall_ppm"),
        "recall must not drop as bands increase")
    }
    // the production config's row must agree with dedup_minhash_recall
    // (same banding, same exact set — the sweep generalizes the gate)
    val gate = operators.Dedup.dedupMinhashRecall(spark, sf).collect().head
    val prod = rows.find(r =>
      r.getAs[Long]("bands") == graft.functions.PortableHash.MinhashBands.toLong).get
    assert(prod.getAs[Long]("n_exact") == gate.getAs[Long]("n_exact_pairs"))
    assert(prod.getAs[Long]("n_detected") == gate.getAs[Long]("n_detected_pairs"))
    assert(prod.getAs[Long]("n_hits") == gate.getAs[Long]("n_hits"))
  }

  test("recall gates: every config keeps its row, all zero, on an empty corpus") {
    // a grade that only groups the graded rows would drop a config that
    // found nothing; the gates must report it as a zero row instead
    val empty = spark.range(0).select(col("id").as("doc_id"), lit("").as("text"))
    for ((name, graded, nConfigs) <- Seq(
        ("minhashRecallFor", operators.Dedup.minhashRecallFor(empty), 1),
        ("bandingSweepFor", operators.Dedup.bandingSweepFor(empty), 4),
        ("containmentRecallFor", operators.Dedup.containmentRecallFor(empty), 2))) {
      val rows = graded.collect()
      assert(rows.length == nConfigs, s"$name: ${rows.length} rows, want $nConfigs")
      for (r <- rows; f <- r.schema.fieldNames if f.startsWith("n_") || f.endsWith("_ppm"))
        assert(r.getAs[Long](f) == 0L, s"$name: $f = ${r.getAs[Any](f)}")
      assert(rows.forall(r => r.getAs[Long]("recall_ppm") == 0L && r.getAs[Long]("precision_ppm") == 0L))
    }
  }

  test("knn_mrl_recall: grades every query against the exact top-k; refuses untrained prefixes") {
    val rows = operators.Similarity.knnMrlRecall(spark, sf).collect()
    assert(rows.length == operators.Similarity.QuerySetSize)
    rows.foreach { r =>
      val (ex, hit) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"))
      assert(ex == operators.Similarity.KnnK.toLong)
      assert(hit <= ex)
      assert(r.getAs[Long]("recall_ppm") == hit * 1000000L / ex)
    }
    // the synthetic embeddings are NOT matryoshka-trained: their
    // 16-dim prefix carries no privileged mass, so the gate must read
    // LOW overall — refusing the truncation is the gate working. (On
    // MRL-trained vectors the same query reads near 10^6.)
    val mean = rows.map(_.getAs[Long]("recall_ppm")).sum / rows.length
    assert(mean < 500000L, s"untrained prefix should not retrieve well (mean $mean ppm)")
  }

  test("web_reciprocity: reciprocalEdges matches a driver recount; ppm exact") {
    val rows = operators.WebCorpus.webReciprocity(spark, sf).collect()
    assert(rows.length == operators.WebCorpus.Domains.length)
    rows.foreach { r =>
      val (e, rec) = (r.getAs[Long]("n_edges"), r.getAs[Long]("n_reciprocal"))
      assert(rec <= e, "reciprocal edges are a subset of edges")
      assert(r.getAs[Long]("recip_ppm") == (if (e == 0) 0L else rec * 1000000L / e))
    }
    // hand-recount on a tiny hand graph: 1<->2 reciprocal, 1->3 not
    val edges = spark.createDataFrame(Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L)))
      .toDF("src", "dst")
    val got = operators.WebCorpus.reciprocalEdges(edges).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    assert(got == Set((1L, 2L), (2L, 1L)))
  }

  test("knn_probe_sweep: monotone in nprobe; production row == knn_recall's grade") {
    val rows = operators.Similarity.knnProbeSweep(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq ==
      operators.Similarity.ProbeSweepConfigs.map(_.toLong))
    assert(rows.map(_.getAs[Long]("n_exact")).distinct.length == 1)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("recall_ppm") ==
        r.getAs[Long]("n_hit") * 1000000L / r.getAs[Long]("n_exact"))
    }
    // probing MORE cells can only add candidates and hits
    rows.sortBy(_.getAs[Long]("nprobe")).sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_candidates") <= b.getAs[Long]("n_candidates"))
      assert(a.getAs[Long]("n_hit") <= b.getAs[Long]("n_hit"))
    }
    // the nprobe=2 row must agree with knn_recall (same index, same
    // probes, same exact side — the sweep generalizes the gate)
    val gate = operators.Similarity.knnRecall(spark, sf).collect()
    val gateHits = gate.map(_.getAs[Long]("n_hit")).sum
    val prod = rows.find(_.getAs[Long]("nprobe") == operators.Similarity.Nprobe.toLong).get
    assert(prod.getAs[Long]("n_hit") == gateHits,
      s"sweep nprobe=2 hits ${prod.getAs[Long]("n_hit")} vs knn_recall $gateHits")
  }

  test("knn_hamming_recall: sign codes recounted driver-side; recall beats random") {
    val rows = operators.Similarity.knnHammingRecall(spark, sf).collect()
    assert(rows.length == operators.Similarity.QuerySetSize)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("recall_ppm") ==
        r.getAs[Long]("n_hit") * 1000000L / r.getAs[Long]("n_exact"))
    }
    // driver recount of one query's hamming ranking (vec_id 0): the
    // top-k by (hamming, vec_id) over sign bits must reproduce n_hit
    val vecs = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect().map(r => r.getAs[Long](0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def bits(v: Array[Double]) = v.map(x => if (x > 0) 1 else 0)
    val q = bits(vecs.find(_._1 == 0L).get._2)
    val ranked = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (bits(v).zip(q).count { case (a, b) => a != b }, id) }
      .sorted.take(operators.Similarity.KnnK).map(_._2).toSet
    val exact = operators.Similarity.knnBruteforce(spark, sf).collect()
      .filter(_.getAs[Long]("query_id") == 0L).map(_.getAs[Long]("neighbor_id")).toSet
    val expectHit = (ranked & exact).size.toLong
    val got = rows.find(_.getAs[Long]("query_id") == 0L).get.getAs[Long]("n_hit")
    assert(got == expectHit, s"query 0: spark n_hit $got vs driver recount $expectHit")
    // 64 sign bits preserve coarse cosine structure even on synthetic
    // vectors — the family mean must beat the random-top-k baseline
    // (k/n ~ 0.6% at sf0.01) by a wide margin
    val mean = rows.map(_.getAs[Long]("recall_ppm")).sum / rows.length
    assert(mean > 100000L, s"sign-bit retrieval no better than chance (mean $mean ppm)")
  }

  test("corpus_dedup_impact: conserves the corpus; exactly one survivor per cluster") {
    val rows = operators.Dedup.corpusDedupImpact(spark, sf).collect()
    val docs = sources.Tables.documents(spark, sf)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dropped") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("tokens_dropped") <= r.getAs[Long]("tokens_total"))
      assert(r.getAs[Long]("doc_drop_ppm") ==
        r.getAs[Long]("n_dropped") * 1000000L / r.getAs[Long]("n_docs"))
    }
    // total dropped == clustered docs minus one representative per
    // cluster (the min-id member is the label, so it survives)
    val clusters = operators.Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val expectDropped = clusters.count { case (d, c) => d != c }
    assert(clusters.groupBy(_._2).forall { case (c, ms) => ms.map(_._1).min == c },
      "every cluster label must be its min member id")
    assert(rows.map(_.getAs[Long]("n_dropped")).sum == expectDropped.toLong)
  }

  test("dedup_prefix: groups match a driver-side recount; >=24-word tail-edits caught") {
    val groups = operators.Dedup.dedupPrefix(spark, sf).collect()
      .map(r => r.getAs[Long]("rep_id") -> r.getAs[Long]("n_docs")).toMap
    // full recount: prefix strings of corpus + planted tail-edit copies
    val texts = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val pw = operators.Dedup.PrefixWords
    def prefix(t: String) = t.split(" ").filter(_.nonEmpty).take(pw).mkString(" ")
    val all = texts ++ texts.filter(_._1 % 10 == 4)
      .map { case (d, t) => (d + 200000L) -> (t + " editor note appended after republish") }
    val expect = all.groupBy { case (_, t) => prefix(t) }.values
      .filter(_.length > 1)
      .map(ms => ms.map(_._1).min -> ms.length.toLong).toMap
    assert(groups == expect, s"group mismatch: spark-only=${groups.toSet -- expect.toSet}, " +
      s"recount-only=${expect.toSet -- groups.toSet}")
    // semantics: every planted tail-edit of a >=24-word doc shares its
    // original's prefix, so it lands in a caught group (possibly under
    // a smaller natural-prefix-collision rep); short docs hash part of
    // the appended tail and legitimately escape the prefix rule
    val caught = all.groupBy { case (_, t) => prefix(t) }.values
      .filter(_.length > 1).flatMap(_.map(_._1)).toSet
    texts.filter { case (d, t) =>
      d % 10 == 4 && t.split(" ").count(_.nonEmpty) >= pw
    }.foreach { case (d, _) =>
      assert(caught.contains(d + 200000L), s"planted tail-edit of $d not in any group")
    }
  }

  test("dedup_len_bias: buckets partition the recall gate's exact/hit sets") {
    val rows = operators.Dedup.dedupLenBias(spark, sf).collect()
    val gate = operators.Dedup.dedupMinhashRecall(spark, sf).collect().head
    assert(rows.map(_.getAs[Long]("n_exact")).sum == gate.getAs[Long]("n_exact_pairs"),
      "bucketed exact pairs must sum to the gate's total")
    assert(rows.map(_.getAs[Long]("n_hits")).sum == gate.getAs[Long]("n_hits"),
      "bucketed hits must sum to the gate's total")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("recall_ppm") ==
        r.getAs[Long]("n_hits") * 1000000L / r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("bucket") >= 0L && r.getAs[Long]("bucket") <= 14L)
    }
  }

  test("events_rolling_anomaly: flags match a driver recompute over the dense axis") {
    val out = operators.EventsMore.eventsRollingAnomaly(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("win_sum"), r.getAs[Long]("is_anomaly")))
      .toMap
    val counts = sources.Tables.events(spark, sf)
      .withColumn("day", expr("ts_us div 86400000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byType = counts.keys.groupBy(_._1)
    var checked = 0
    byType.foreach { case (t, ks) =>
      val d0 = ks.map(_._2).min
      val d1 = ks.map(_._2).max
      val dense = (d0 to d1).map(d => counts.getOrElse((t, d), 0L)).toArray
      // scored days = full-window days only
      assert(out.keys.count(_._1 == t) == math.max(0, dense.length - 7).toInt)
      (7 until dense.length).foreach { i =>
        val win = dense.slice(i - 7, i)
        val (c, s7, sq) = (dense(i), win.sum, win.map(x => BigInt(x) * x).sum)
        val dev = BigInt(7 * c - s7)
        val expectFlag = if (dev * dev > 4 * (7 * sq - BigInt(s7) * s7)) 1L else 0L
        val (gc, gs, gf) = out((t, d0 + i))
        assert(gc == c && gs == s7 && gf == expectFlag,
          s"$t day ${d0 + i}: got ($gc,$gs,$gf) want ($c,$s7,$expectFlag)")
        checked += 1
      }
    }
    assert(checked > 50, s"recompute covered only $checked scored days")
  }

  test("knn_rerank_gain: rerank recall dominates raw per query and buys real recall overall") {
    val rows = operators.Similarity.knnRerankGain(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_hit_raw"), r.getAs[Long]("n_hit_rerank")))
    assert(rows.length == operators.Similarity.QuerySetSize)
    rows.foreach { case (q, ne, raw, rr) =>
      assert(ne == operators.Similarity.KnnK)
      // provable: an exact-top-k member in the shortlist can only be
      // outranked in the rerank by OTHER exact-top-k members, so every
      // raw hit survives the rerank — rerank recall is monotone in S
      assert(rr >= raw, s"query $q: rerank hits $rr < raw hits $raw")
      assert(rr <= ne && raw >= 0)
    }
    val (sumRaw, sumRr) = (rows.map(_._3).sum, rows.map(_._4).sum)
    assert(sumRr > sumRaw,
      s"rerank bought no recall at all ($sumRr vs $sumRaw) — shortlist size degenerate")
  }

  test("web_domain_components: census conserves pages and matches a driver-side union-find") {
    val out = operators.WebCorpus.webDomainComponents(spark, sf).collect()
      .map(r => r.getAs[String]("domain") -> (r.getAs[Long]("n_pages"),
        r.getAs[Long]("n_components"), r.getAs[Long]("largest"),
        r.getAs[Long]("n_singletons"))).toMap
    val pages = sources.Tables.documents(spark, sf)
      .select(expr("doc_id div 4").as("page")).distinct()
      .collect().map(_.getLong(0)).sorted
    val p = pages.length.toLong
    // driver-side union-find over the same synthesized intra-domain edges
    val parent = scala.collection.mutable.Map(pages.map(x => x -> x): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for (u <- pages; v <- Seq((u * 7 + 1) % p, (u * 13 + 5) % p, (u * 29 + 11) % p)
         if u != v && u % 7 == v % 7) {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val byDomain = pages.groupBy(pg => operators.WebCorpus.Domains((pg % 7).toInt))
    byDomain.foreach { case (dom, ps) =>
      val comps = ps.groupBy(find).values.map(_.length.toLong).toSeq
      val (np, nc, lg, ns) = out(dom)
      assert(np == ps.length.toLong, s"$dom pages: $np vs ${ps.length}")
      assert(nc == comps.length.toLong, s"$dom components: $nc vs ${comps.length}")
      assert(lg == comps.max, s"$dom largest: $lg vs ${comps.max}")
      assert(ns == comps.count(_ == 1L).toLong, s"$dom singletons")
    }
    assert(out.values.map(_._1).sum == p, "page census does not conserve the page set")
  }

  test("dedup_containment: every planted embedding caught at >=90% containment, J < 0.5 holds") {
    val rows = operators.Dedup.dedupContainment(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("na"),
        r.getAs[Long]("nb"), r.getAs[Long]("i"), r.getAs[Long]("containment_ppm")))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, na, nb, i, c) =>
      assert(c >= 900000L && c <= 1000000L, s"($a,$b): containment_ppm $c out of band")
      assert(3 * i < na + nb, s"($a,$b): J >= 0.5 leaked through the miss filter")
      assert(i <= math.min(na, nb))
    }
    // the plant: doc d (d%10==6, with d+1/d+2 present) is FULLY contained
    // in its composite (its shingles are a prefix slice ⇒ i == na
    // exactly), so the pair appears iff the composite's distinct set is
    // strictly more than 2× the base's (J = na/ncomp < 0.5). Recompute
    // both sizes independently and assert the exact biconditional —
    // catches both misses AND J-filter leaks.
    import graft.functions.PortableHash
    val sizes = sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        expr(s"CAST(size(array_distinct(${PortableHash.sparkShingleHashes("text")})) AS BIGINT)").as("n"),
        col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    def distinctShingles(t: String): Long = {
      val ws = t.split(" ").filter(_.nonEmpty)
      ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet.size.toLong
    }
    val got = rows.map(r => (r._1, r._2)).toSet
    var checkedPairs = 0
    val plantBases = sizes.keys
      .filter(d => d % 10 == 6 && sizes.contains(d + 1) && sizes.contains(d + 2)).toSeq
    plantBases.foreach { d =>
      val compId = d + operators.Dedup.ContainmentShift
      val ncomp = distinctShingles(
        Seq(d, d + 1, d + 2).map(sizes(_)._2).mkString(" "))
      // ALL THREE members are fully contained (their shingle sets are
      // contiguous slices of the composite ⇒ i == n_member exactly)
      Seq(d, d + 1, d + 2).foreach { m =>
        val expectCaught = ncomp > 2 * sizes(m)._1 &&
          sizes(m)._1 >= operators.Dedup.MinContainSetSize
        assert(got((m, compId)) == expectCaught,
          s"pair ($m,$compId): caught=${got((m, compId))} but ncomp=$ncomp vs 2·n=${2 * sizes(m)._1}")
        checkedPairs += 1
      }
    }
    // the plant should dominate the output: non-member pairs (natural
    // containment of a common-shingle doc inside an unrelated composite
    // — real on this small-vocabulary corpus, legitimate output) must
    // stay a small minority, or the floor has stopped doing its job
    val members = plantBases.flatMap(d =>
      Seq(d, d + 1, d + 2).map(m => (m, d + operators.Dedup.ContainmentShift))).toSet
    val compositeRows = rows.filter(_._2 >= operators.Dedup.ContainmentShift)
    val natural = compositeRows.count(r => !members((r._1, r._2)))
    // ≤25%: the synthetic corpus draws from a ~30-word vocabulary, so
    // natural shingle coverage is far above any real crawl's — observed
    // 13/114 (11%) at sf0.01; a real corpus would be near zero
    assert(natural * 4 <= compositeRows.length,
      s"$natural of ${compositeRows.length} composite pairs are non-member — floor too weak")
    assert(checkedPairs > 100, s"plant census off: only $checkedPairs member pairs checked")
  }

  test("dedup_containment_recall: prints are offset-invariant; recall on the exact set holds") {
    // offset-invariance — the property that justifies content-defined
    // prints over dedup_spans' stride grid: a doc's selected prints are
    // a SUBSET of any host that embeds it verbatim at ANY word offset
    // (every window fully inside the embedded run has identical content,
    // hence identical hash and identical mod-3 selection)
    import spark.implicits._
    val doc = (1 to 40).map(i => s"w$i").mkString(" ")
    val hosts = Seq(doc, s"pad1 pad2 pad3 $doc", s"$doc tail1", s"a b c d e f g $doc z")
    val printSets = hosts.zipWithIndex.toDF("text", "id")
      .select(col("id"), expr(operators.Dedup.sparkContainmentPrints("text")).as("pr"))
      .collect().map(r => r.getAs[Int]("id") -> r.getSeq[Long](1).toSet).toMap
    val base = printSets(0)
    assert(base.nonEmpty, "40-word doc selected no prints — density rule broken")
    (1 to 3).foreach { h =>
      assert(base.subsetOf(printSets(h)),
        s"host $h lost ${(base -- printSets(h)).size} of the embedded doc's prints — selection is not content-defined")
    }
    // the gate itself, one row per scheme: sf0.01 measured recall is
    // 100% for both (deterministic corpus ⇒ fixed numbers; manber's
    // analytic floor is (1-1/3)^(L-7) miss probability per pair
    // ≈ 4·10⁻⁴, winnow's guarantee is hard at runs ≥ 12 words — so
    // anything under ~99% means the candidate join lost pairs)
    val rows = operators.Dedup.dedupContainmentRecall(spark, sf).collect()
      .map(r => r.getAs[String]("scheme") -> r).toMap
    assert(rows.keySet == Set("manber", "winnow"), s"schemes: ${rows.keySet}")
    rows.foreach { case (scheme, r) =>
      val (ex, cand, hits) = (r.getAs[Long]("n_exact_pairs"),
        r.getAs[Long]("n_candidate_pairs"), r.getAs[Long]("n_hits"))
      assert(ex > 100, s"[$scheme] exact side lost the plant: $ex pairs")
      assert(hits <= ex && hits <= cand)
      assert(r.getAs[Long]("recall_ppm") >= 990000L,
        s"[$scheme] containment-print recall ${r.getAs[Long]("recall_ppm")} ppm — candidate path is losing real pairs")
      // candidate volume prices the verify stage: it must stay within a
      // small multiple of the true pair count on this corpus, or the
      // print df distribution has a mega-bucket
      assert(cand <= 10 * ex, s"[$scheme] candidate volume $cand vs $ex exact — print buckets exploding")
    }
    // W=5 holds winnow's expected density at manber's 1/3, so its
    // candidate volume must be the same order — the like-for-like
    // comparison is the row pair's point
    val (cm, cw) = (rows("manber").getAs[Long]("n_candidate_pairs"),
      rows("winnow").getAs[Long]("n_candidate_pairs"))
    assert(cw <= 3 * cm && cm <= 3 * cw,
      s"scheme candidate volumes diverged: manber=$cm winnow=$cw — density mismatch")
  }

  test("embed_geometry_sweep: the n/2^bits occupancy law and candidate monotonicity hold") {
    val rows = operators.Similarity.embedGeometrySweep(spark, sf).collect()
      .map(r => r.getAs[Long]("bits") -> r).toMap
    assert(rows.keySet == Set(3L, 4L, 5L, 6L), s"configs: ${rows.keySet}")
    val trues = rows.values.map(_.getAs[Long]("n_true")).toSet
    assert(trues.size == 1 && trues.head > 0,
      s"exact side must be shared and non-empty: $trues")
    rows.foreach { case (b, r) =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_candidates"))
    }
    // the geometry law, read directly: widening the sketch (more bits)
    // must shrink both the hottest bucket and the candidate volume
    Seq((3L, 4L), (4L, 5L), (5L, 6L)).foreach { case (lo, hi) =>
      assert(rows(lo).getAs[Long]("max_occupancy") >= rows(hi).getAs[Long]("max_occupancy"),
        s"max_occupancy not monotone between bits=$lo and bits=$hi")
      assert(rows(lo).getAs[Long]("n_candidates") >= rows(hi).getAs[Long]("n_candidates"),
        s"candidate volume not monotone between bits=$lo and bits=$hi")
    }
    // and recall can only be paid FOR by volume: the narrowest sketch
    // must recall at least as much as the widest
    assert(rows(3L).getAs[Long]("recall_ppm") >= rows(6L).getAs[Long]("recall_ppm"))
  }

  test("dedup_incremental_containment: digest re-ingestion passes BOTH existing admission gates; this gate pins it") {
    // the cross-gate leak the operator exists for: a %10==6 composite
    // (corpus doc + two successors) is byte-UNEQUAL (exact-fp gate
    // admits) and sits at J ≈ 1/3 < 1/2 (minhash est-J gate admits) —
    // prove BOTH admissions hold for every doc the containment gate
    // rejects, so the rejection set is exactly the coverage gap
    import graft.functions.PortableHash._
    graft.expressions.GraftFunctions.register(spark)
    val d = sources.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val out = operators.Dedup.dedupIncrementalContainment(spark, sf).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Boolean]("admitted"))).toMap
    val rejected = out.collect { case (id, false) => id }.toSet
    assert(rejected.nonEmpty, "plant produced no containment rejections")
    assert(out.valuesIterator.exists(identity), "plant produced no admissions")
    val composites = d.filter(pmod(col("doc_id"), lit(10)) === 6)
      .join(d.select(col("doc_id").as("id1"), col("text").as("t1")),
        col("id1") === col("doc_id") + 1)
      .join(d.select(col("doc_id").as("id2"), col("text").as("t2")),
        col("id2") === col("doc_id") + 2)
      .select((col("doc_id") + operators.Dedup.ContainBatchShift).as("new_id"),
        concat_ws(" ", col("text"), col("t1"), col("t2")).as("text"))
    // gate 1 — exact fingerprint (dedup_incremental's probe): every
    // rejected composite must be byte-unequal to the whole corpus
    val corpusFps = d.select(expr(sparkFingerprint("text"))).collect()
      .map(_.getLong(0)).toSet
    val compFp = composites
      .select(col("new_id"), expr(sparkFingerprint("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rejected.foreach { id =>
      assert(!corpusFps.contains(compFp(id)),
        s"composite $id byte-equals a corpus doc — the exact gate would already catch it")
    }
    // gate 2 — minhash est-J ≥ 1/2 verify (dedup_incremental_lsh's
    // pipeline, run verbatim over the composite batch): no rejected
    // composite may have ANY qualifying corpus candidate
    val idxBands = d
      .select(col("doc_id"), expr(sparkMinhash(sparkShingleHashes("text"))).as("mb"))
      .select(col("doc_id"), explode(expr(s"sequence(0, ${MinhashBands - 1})")).as("b"), col("mb"))
      .select(col("doc_id"), col("b"), expr(sparkBandValue("mb", "b")).as("bv"), col("mb"))
    val bBands = composites
      .select(col("new_id"), expr(sparkMinhash(sparkShingleHashes("text"))).as("ma"))
      .select(col("new_id"), explode(expr(s"sequence(0, ${MinhashBands - 1})")).as("b"), col("ma"))
      .select(col("new_id"), col("b"), expr(sparkBandValue("ma", "b")).as("bv"), col("ma"))
    val caughtByLsh = bBands.join(idxBands, Seq("b", "bv"))
      .filter(expr(
        s"size(filter(sequence(1, $MinhashK), i -> element_at(ma, i) = element_at(mb, i))) * 2 >= $MinhashK"))
      .select("new_id").distinct().collect().map(_.getLong(0)).toSet
    // the LEAK SET: containment-rejected composites that BOTH existing
    // gates admit. Expected ratio ≈ 1/3 puts est-J's k=12 binomial tail
    // above the 6-match verify line for a minority of composites, so
    // the minhash gate may catch SOME — the gap this operator closes is
    // the (majority) remainder, and it must be non-empty and strictly
    // beyond both gates by construction
    val leak = rejected.filterNot(caughtByLsh)
    assert(leak.nonEmpty,
      s"no containment-only leak: all ${rejected.size} rejections already caught by the minhash gate")
    assert(2 * leak.size >= rejected.size,
      s"minhash gate catches most composites (${caughtByLsh.size}/${rejected.size}) — plant no longer pins the gap")
  }

  test("curateMultimodal: drop-list union == the per-modality contract operators' drops") {
    import spark.implicits._
    // text side carries the containment plant (the dedup_containment
    // composites) so the text_containment family actually fires — the
    // raw corpus has no natural ≥90%-containment pairs
    val base = sources.Tables.documents(spark, sf).select("doc_id", "text")
    val docs = base.union(base.filter(pmod(col("doc_id"), lit(10)) === 6)
      .join(base.select(col("doc_id").as("id1"), col("text").as("t1")),
        col("id1") === col("doc_id") + 1)
      .join(base.select(col("doc_id").as("id2"), col("text").as("t2")),
        col("id2") === col("doc_id") + 2)
      .select((col("doc_id") + operators.Dedup.ContainmentShift).as("doc_id"),
        concat_ws(" ", col("text"), col("t1"), col("t2")).as("text")))
    val aBase = operators.Audio.encodeAudio(spark, sf)
    val aAll = aBase.union(operators.Audio.offsetCopies(aBase))
    val audio = aAll.map(p => (p.doc_id, p.payload)).toDF("doc_id", "audio")
    val vBase = operators.Video.encodeVideos(spark, sf)
    val vAll = vBase.union(operators.Video.cornerSwappedCopies(vBase))
    val video = vAll.map(p => (p.doc_id, p.container)).toDF("doc_id", "video")
    val frame = docs.join(audio, Seq("doc_id"), "full_outer")
      .join(video, Seq("doc_id"), "full_outer")
    val got = api.CorpusOps.curateMultimodal(frame)
      .select(col("doc_id"), explode(col("reasons")).as("r")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    import graft.functions.PortableHash._
    val fpRep = docs.withColumn("fp", expr(sparkFingerprint("text")))
      .groupBy("fp").agg(min("doc_id").as("rep"))
    val textExact = ids(docs.withColumn("fp", expr(sparkFingerprint("text")))
      .join(fpRep, Seq("fp")).filter(col("doc_id") =!= col("rep")))
    val textNear = ids(api.CorpusOps.dedupKeepList(docs).filter(!col("keep")))
    val textContain = ids(operators.Dedup.containmentLshPairsFor(docs)
      .select(col("doc_b").as("doc_id")).distinct())
    val env = operators.Audio.envelope16(aAll)
    val audioExact = ids(operators.Audio.envelopeClasses(env)
      .filter(col("doc_id") =!= col("rep")))
    val audioNear = ids(operators.Audio.audioDedup(spark, sf))
    val vSigs = operators.Video.aHashLoHi(vAll)
    val videoExact = ids(operators.Video.signatureClasses(vSigs)
      .filter(col("doc_id") =!= col("rep")))
    val videoNear = ids(operators.Video.videoDedup(spark, sf)
      .select(col("doc_b").as("doc_id")).distinct())
    val expected =
      textExact.map(_ -> "text_exact") ++ textNear.map(_ -> "text_neardup") ++
        textContain.map(_ -> "text_containment") ++
        audioExact.map(_ -> "audio_exact") ++ audioNear.map(_ -> "audio_neardup") ++
        videoExact.map(_ -> "video_exact") ++ videoNear.map(_ -> "video_neardup")
    assert(got == expected,
      s"pipeline-only=${got -- expected}, modality-only=${expected -- got}")
    // every family must actually fire on the planted corpora
    assert(Set("text_neardup", "audio_neardup", "video_neardup", "text_containment")
      .subsetOf(got.map(_._2)))
  }

  test("embed_bits_rule: the occupancy law holds in the output, geometry monotone") {
    val rows = operators.Similarity.embedBitsRule(spark, sf).collect()
    assert(rows.length == operators.Similarity.BitsRuleScales.length)
    val target = graft.functions.VectorFns.LshTargetOcc
    rows.foreach { r =>
      val bits = r.getAs[Long]("bits")
      val nProj = r.getAs[Long]("n_projected")
      // the law: expected occupancy ≤ target at the selected bits, and
      // the selection is minimal (one fewer bit would break the bound)
      assert(r.getAs[Long]("expected_occupancy") <= target)
      assert(r.getAs[Long]("buckets_per_table") == (1L << bits))
      if (bits > graft.functions.VectorFns.LshBits)
        assert(nProj > target * (1L << (bits - 1)), s"bits $bits not minimal at n=$nProj")
      // the measured ceiling must actually fall as the rule adds bits
      assert(r.getAs[Long]("max_occupancy") >= 1L)
    }
    val byScale = rows.sortBy(_.getAs[Long]("scale"))
    byScale.zip(byScale.tail).foreach { case (a, b) =>
      assert(a.getAs[Long]("bits") <= b.getAs[Long]("bits"))
      assert(a.getAs[Long]("max_occupancy") >= b.getAs[Long]("max_occupancy"),
        "measured occupancy should not rise as the rule adds bits")
    }
    // the ×1 row grades the PRODUCTION setting: bits == lshBitsFor(corpus n)
    val n = sources.Tables.embeddings(spark, sf).count()
    assert(byScale.head.getAs[Long]("bits") ==
      graft.functions.VectorFns.lshBitsFor(n).toLong)
  }

  test("knn_ivf_refresh: rebuild recovers mode recall and improves balance") {
    val rows = operators.Similarity.knnIvfRefresh(spark, sf).collect()
      .map(r => r.getAs[String]("phase") ->
        (r.getAs[Long]("recall_ppm"), r.getAs[Long]("max_cell_share_ppm"))).toMap
    val (fr, fb) = rows("frozen")
    val (rr, rb) = rows("refreshed")
    assert(fr < 1000000L, s"frozen index shows no degradation on the mode plant (recall $fr ppm)")
    assert(rr > fr, s"refresh did not recover recall: frozen $fr -> refreshed $rr ppm")
    assert(rb <= fb, s"refresh worsened balance: max share $fb -> $rb ppm")
  }

  test("dedup_containment_lsh: the production path reproduces the exact enumeration on the contract corpus") {
    // the scaladoc's promise: with every planted embedded run ≥ 26
    // words (deep inside winnowing's ≥12-word guarantee), the
    // candidates-filtered pair set equals the Σ df² exact enumeration
    // bit for bit — same rows, same intersection counts
    val exact = operators.Dedup.dedupContainment(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("i"), r.getAs[Long]("containment_ppm"))).toSet
    val lsh = operators.Dedup.dedupContainmentLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("i"), r.getAs[Long]("containment_ppm"))).toSet
    assert(exact.nonEmpty, "exact side lost the plant")
    assert(lsh == exact,
      s"production path diverged: missing=${(exact -- lsh).size}, extra=${(lsh -- exact).size}")
  }

  test("video_band_sweep: wider bands shrink candidates and occupancy; recall never improves") {
    val rows = operators.Video.videoBandSweep(spark, sf).collect()
      .map(r => r.getAs[Long]("band_bits") -> r).toMap
    assert(rows.keySet == Set(4L, 8L, 16L), s"configs: ${rows.keySet}")
    val trues = rows.values.map(_.getAs[Long]("n_true")).toSet
    assert(trues.size == 1 && trues.head > 0, s"shared exact side: $trues")
    rows.foreach { case (w, r) =>
      assert(r.getAs[Long]("n_bands") == 64 / w)
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_candidates"))
    }
    Seq((4L, 8L), (8L, 16L)).foreach { case (lo, hi) =>
      assert(rows(lo).getAs[Long]("n_candidates") >= rows(hi).getAs[Long]("n_candidates"),
        s"candidates not monotone between w=$lo and w=$hi")
      assert(rows(lo).getAs[Long]("max_occupancy") >= rows(hi).getAs[Long]("max_occupancy"),
        s"occupancy not monotone between w=$lo and w=$hi")
    }
    assert(rows(4L).getAs[Long]("recall_ppm") >= rows(16L).getAs[Long]("recall_ppm"))
  }

  test("winnowing prints: offset-invariant and hard-guaranteed on >=12-word runs") {
    import spark.implicits._
    // offset-invariance: same property as manber selection (window
    // minima depend only on content)
    val doc = (1 to 40).map(i => s"w$i").mkString(" ")
    val hosts = Seq(doc, s"pad1 pad2 pad3 $doc", s"$doc tail1", s"a b c d e f g $doc z")
    val printSets = hosts.zipWithIndex.toDF("text", "id")
      .select(col("id"), expr(operators.Dedup.sparkWinnowPrints("text")).as("pr"))
      .collect().map(r => r.getAs[Int]("id") -> r.getSeq[Long](1).toSet).toMap
    val base = printSets(0)
    assert(base.nonEmpty, "40-word doc selected no winnow prints")
    (1 to 3).foreach { h =>
      assert(base.subsetOf(printSets(h)),
        s"host $h lost ${(base -- printSets(h)).size} winnow prints — selection not content-defined")
    }
    // the HARD guarantee manber lacks: EVERY >=12-word shared run
    // yields a shared print, including runs manber misses with
    // probability (2/3)^(L-7). Exhaustive over offsets of a 12-word
    // run inside two different hosts.
    val run = (1 to 12).map(i => s"shared$i").mkString(" ")
    val pads = (1 to 30).map(i => s"padA$i").mkString(" ")
    val padsB = (1 to 30).map(i => s"padB$i").mkString(" ")
    val embedded = (0 to 25).flatMap(off => Seq(
      (off * 2, s"${pads.split(" ").take(off).mkString(" ")} $run ${pads.split(" ").drop(off).mkString(" ")}".trim),
      (off * 2 + 1, s"${padsB.split(" ").take(off).mkString(" ")} $run ${padsB.split(" ").drop(off).mkString(" ")}".trim)))
    val sets = embedded.toDF("id", "text")
      .select(col("id"), expr(operators.Dedup.sparkWinnowPrints("text")).as("pr"))
      .collect().map(r => r.getAs[Int]("id") -> r.getSeq[Long](1).toSet).toMap
    (0 to 25).foreach { off =>
      val shared = sets(off * 2) intersect sets(off * 2 + 1)
      assert(shared.nonEmpty,
        s"offset $off: 12-word run produced no shared winnow print — guarantee broken")
    }
  }

  test("embed_bitext: margins, mutuality, and top-k match a full driver-side recompute") {
    val vecs = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr(graft.functions.VectorFns.sparkToDouble("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = operators.Similarity.KnnK
    val a = vecs.keys.filter(_ % 2 == 0).toSeq.sorted
    val b = vecs.keys.filter(_ % 2 == 1).toSeq.sorted
    val xs = a.filter(_ < 2 * operators.Similarity.QuerySetSize)
    def topk(q: Long, side: Seq[Long]): Seq[(Long, Long)] = // (id, cos_ppm)
      side.map(c => c -> cos(vecs(q), vecs(c)))
        .sortBy { case (id, c) => (-c, id) }.take(k)
        .map { case (id, c) => id -> math.floor(c * 1000000).toLong }
    val xnn = xs.map(q => q -> topk(q, b)).toMap
    val ys = xnn.values.flatten.map(_._1).toSet
    val ynn = ys.map(y => y -> topk(y, a)).toMap
    val sx = xnn.map { case (q, nn) => q -> nn.map(_._2).sum }
    val sy = ynn.map { case (y, nn) => y -> nn.map(_._2).sum }
    val out = operators.Similarity.embedBitext(spark, sf).collect()
    assert(out.length == xs.size * k, s"expected ${xs.size * k} rows, got ${out.length}")
    out.foreach { r =>
      val (q, c, rank) = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"), r.getAs[Long]("rank"))
      val (id, cp) = xnn(q)(rank.toInt - 1)
      assert(c == id && r.getAs[Long]("cos_ppm") == cp, s"($q,$c) rank $rank: top-k disagrees with driver")
      val denom = sx(q) + sy(c)
      val margin = if (denom <= 0) 0L else cp * 2 * k * 1000000L / denom
      assert(r.getAs[Long]("margin_ppm") == margin, s"($q,$c): margin ${r.getAs[Long]("margin_ppm")} vs driver $margin")
      assert(r.getAs[Long]("is_mutual") == (if (ynn(c).exists(_._1 == q)) 1L else 0L), s"($q,$c): mutual flag wrong")
      assert(r.getAs[Long]("is_aligned") == (if (margin > 1000000L) 1L else 0L))
    }
    // the criterion must actually discriminate on this corpus: some but
    // not all pairs aligned (margin > 1), and alignment concentrated at
    // rank 1 — a margin that fires uniformly has degenerated to raw cosine
    val aligned = out.filter(_.getAs[Long]("is_aligned") == 1L)
    assert(aligned.nonEmpty && aligned.length < out.length)
    val r1Rate = aligned.count(_.getAs[Long]("rank") == 1L).toDouble / aligned.length
    assert(r1Rate >= 0.5, s"aligned pairs not concentrated at rank 1 ($r1Rate)")
  }

  test("sample_weighted: per-source audit matches a driver recount; expectation tracks") {
    val docs = sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val stop = Set("the", "a", "and", "of", "to")
    def wppm(text: String): Long = {
      val ws = text.split(" ").filter(_.nonEmpty)
      val nw = ws.length.toLong
      400000L * math.min(nw, 200L) / 200L +
        300000L * ws.distinct.length / nw +
        300000L * ws.count(stop) / nw
    }
    val out = operators.Corpus.sampleWeighted(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val r = out(src)
      val kept = ds.filter { case (id, _, _, t) =>
        operators.Corpus.mixHashJvm(id, 1000000007L) % 1000000L < wppm(t) }
      assert(r.getAs[Long]("n_docs") == ds.length.toLong)
      assert(r.getAs[Long]("n_kept") == kept.length.toLong, s"$src: kept count differs from driver")
      assert(r.getAs[Long]("sum_kept_ids") == kept.map(_._1).sum, s"$src: kept-id checksum")
      assert(r.getAs[Long]("kept_chars") == kept.map(_._3).sum)
      val sumW = ds.map(d => wppm(d._4)).sum
      assert(r.getAs[Long]("expected_ppm") == sumW / ds.length)
      // w_ppm is a probability: every doc inside [0, 1e6]
      ds.foreach(d => assert(wppm(d._4) >= 0L && wppm(d._4) <= 1000000L))
    }
    // realized keep mass tracks expectation corpus-wide (SRM-style):
    // with ~500 independent-hash decisions per source the aggregate
    // deviation stays small even though per-source jitter is real
    val nk = out.values.map(_.getAs[Long]("n_kept")).sum.toDouble
    val expK = docs.map(d => wppm(d._4)).sum.toDouble / 1000000.0
    assert(math.abs(nk - expK) / expK < 0.10, s"realized $nk vs expected $expK keep mass")
  }

  test("corpus_temp_mix: shares match driver floor-sqrt recount; temperature compresses the head") {
    val bySrc = sources.Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, xs) => (s, xs.length.toLong, xs.map(_._2).sum) }.toSeq
    val tw = bySrc.map { case (s, _, c) => s -> math.floor(math.sqrt(c.toDouble)).toLong }.toMap
    val totalChars = bySrc.map(_._3).sum
    val totalTw = tw.values.sum
    val out = operators.Corpus.corpusTempMix(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out.size == bySrc.size)
    bySrc.foreach { case (s, nd, c) =>
      val r = out(s)
      assert(r.getAs[Long]("n_docs") == nd && r.getAs[Long]("chars") == c)
      assert(r.getAs[Long]("raw_share_ppm") == c * 1000000L / totalChars)
      assert(r.getAs[Long]("temp_share_ppm") == tw(s) * 1000000L / totalTw,
        s"$s: tempered share differs from driver floor-sqrt")
    }
    // integer-floor shares: each floor drops < 1 ppm, so totals land in
    // (1e6 - nSources, 1e6]
    val sumTemp = out.values.map(_.getAs[Long]("temp_share_ppm")).sum
    assert(sumTemp > 1000000L - out.size && sumTemp <= 1000000L)
    // temperature flattens: for any two sources the tempered ratio must
    // not exceed the raw mass ratio (√ compresses; +1 slack for floors)
    for ((sa, _, ca) <- bySrc; (sb, _, cb) <- bySrc if ca >= cb && cb > 0)
      assert(tw(sa) * cb <= (tw(sb) + 1) * ca,
        s"$sa/$sb: tempered ratio exceeds raw ratio — not a compression")
  }

  test("embed_clusters: census matches a driver-side union-find over the verified pairs") {
    val pairs = operators.Similarity.embedNeardup(spark, sf)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no near-dup pairs at sf0.01 — plant lost")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = operators.Similarity.embedClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == expected, "component labels differ from driver union-find")
    // min-label convention: every cluster id is a member of its cluster
    got.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keySet.min == cid, s"cluster $cid label is not its min member")
    }
  }

  test("corpus_shards: assignment recounted driver-side; masses conserve") {
    val docs = sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val ns = operators.Corpus.NumShards
    val byShard = docs.groupBy(d =>
      operators.Corpus.mixHashJvm(d._1, 1000000007L) % ns)
    val out = operators.Corpus.corpusShards(spark, sf).collect()
      .map(r => r.getAs[Long]("shard") -> r).toMap
    assert(out.size == ns.toInt, s"expected $ns shards, got ${out.size}")
    byShard.foreach { case (sh, ds) =>
      val r = out(sh)
      assert(r.getAs[Long]("n_docs") == ds.length.toLong)
      assert(r.getAs[Long]("chars") == ds.map(_._3).sum)
      val srcCounts = ds.groupBy(_._2).map(_._2.length.toLong)
      assert(r.getAs[Long]("n_sources") == srcCounts.size.toLong)
      assert(r.getAs[Long]("top_source_ppm") == srcCounts.max * 1000000L / ds.length)
      assert(r.getAs[Long]("skew_ppm") ==
        ds.length.toLong * ns * 1000000L / docs.length)
    }
    assert(out.values.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong,
      "shards do not conserve the corpus")
    // the hash must actually balance: no shard beyond ±25% of uniform
    out.values.foreach { r =>
      val skew = r.getAs[Long]("skew_ppm")
      assert(skew > 750000L && skew < 1250000L, s"shard ${r.getAs[Long]("shard")} skew $skew ppm")
    }
  }

  test("text_lang_mix: primary == langid argmax; mix rule recounted driver-side") {
    val lex = operators.TextAnalysis.lexicons
    val docs = sources.Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    def scores(t: String): Seq[(String, Long)] = {
      val ws = t.split(" ").filter(_.nonEmpty)
      lex.map { case (lang, l) => lang -> ws.count(l.toSet).toLong }
    }
    // driver recount of the (primary, secondary) matrix under the same
    // earliest-lexicon-order tie-break
    val minHits = operators.TextAnalysis.MixMinHits
    val counted = scala.collection.mutable.Map.empty[(String, String), Long]
    var primaryChecked = 0
    docs.foreach { t =>
      val sc = scores(t)
      val ordered = sc.zipWithIndex.sortBy { case ((_, s), i) => (-s, i) }
      val (p, s1) = ordered.head._1
      val (q, s2) = ordered(1)._1
      // primary must equal withPredicted's argmax (first lang in lexicon
      // order achieving the max — the shared predictor contract)
      val predicted = sc.find(_._2 == sc.map(_._2).max).get._1
      assert(p == predicted); primaryChecked += 1
      if (2 * s2 >= s1 && s2 >= minHits)
        counted((p, q)) = counted.getOrElse((p, q), 0L) + 1L
    }
    val got = operators.TextAnalysis.textLangMix(spark, sf).collect()
      .map(r => (r.getAs[String]("primary_lang"), r.getAs[String]("secondary_lang")) ->
        r.getAs[Long]("n_mixed")).toMap
    assert(got == counted.toMap, "mixed-pair matrix differs from driver recount")
    assert(primaryChecked == docs.length)
    got.foreach { case ((p, q), _) => assert(p != q, "primary == secondary leaked") }
  }

  test("corpus_ngram_inflation: histogram matches a driver recount; mass conserves") {
    val docs = sources.Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val P = 2147483647L
    def wordHash(w: String): Long = w.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    val freq = scala.collection.mutable.Map.empty[Long, Long]
    docs.foreach { t =>
      val ws = t.split(" ").filter(_.nonEmpty)
      (0 until math.max(0, ws.length - 2)).foreach { i =>
        val h = wordHash(s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}")
        freq(h) = freq.getOrElse(h, 0L) + 1L
      }
    }
    val expected = freq.values.groupBy(c => 63 - java.lang.Long.numberOfLeadingZeros(c))
      .map { case (b, cs) => b.toInt -> (cs.size.toLong, cs.sum) }
    val out = operators.CorpusQuality.corpusNgramInflation(spark, sf).collect()
    assert(out.map(_.getAs[Int]("bucket")).toSet == expected.keySet)
    val totalOcc = out.map(_.getAs[Long]("occurrences")).sum
    out.foreach { r =>
      val (n, occ) = expected(r.getAs[Int]("bucket"))
      assert(r.getAs[Long]("n_shingles") == n)
      assert(r.getAs[Long]("occurrences") == occ)
      assert(r.getAs[Long]("mass_ppm") == occ * 1000000L / totalOcc)
    }
    assert(totalOcc == freq.values.sum, "occurrence mass does not conserve")
  }

  test("token_fertility: per-source recount; fertility >= 1 token per word") {
    val docs = sources.Tables.documents(spark, sf)
      .select("source", "lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val re = "[a-z]{1,4}|[0-9]+|[^a-z0-9 ]".r
    val agg = docs.groupBy(d => (d._1, d._2)).map { case (k, ds) =>
      k -> ((ds.length.toLong,
        ds.map(_._3.split(" ").count(_.nonEmpty).toLong).sum,
        ds.map(d => re.findAllIn(d._3).length.toLong).sum,
        ds.map(_._3.length.toLong).sum))
    }
    val out = operators.CorpusQuality.tokenFertility(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) -> r).toMap
    assert(out.keySet == agg.keySet)
    agg.foreach { case (k, (n, w, tk, ch)) =>
      val r = out(k)
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("words") == w)
      assert(r.getAs[Long]("tokens") == tk)
      assert(r.getAs[Long]("fertility_ppm") == tk * 1000000L / w)
      assert(r.getAs[Long]("chars_per_token_ppm") == ch * 1000000L / tk)
      assert(r.getAs[Long]("fertility_ppm") >= 1000000L,
        s"$k: subword tokenization must not produce fewer tokens than words here")
    }
  }

  test("web_hits_step: hub/authority recounted driver-side; mass bounds hold") {
    val pages = sources.Tables.documents(spark, sf)
      .select(expr("doc_id div 4").as("page"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val pCount = pages.keys.max + 1
    val totalChars = pages.values.sum
    val h0 = pages.map { case (p, c) => p -> c * 1000000000L / totalChars }
    // toSeq: the operator's explode keeps DUPLICATE (src, dst) edges
    // (two stride formulas can land on the same target) — a Set here
    // would silently dedup them and lose authority mass
    val outEdges = h0.keys.toSeq.flatMap(p =>
      Seq((p * 7 + 1) % pCount, (p * 13 + 5) % pCount, (p * 29 + 11) % pCount).map(p -> _))
    val auth = outEdges.groupBy(_._2).map { case (d, es) => d -> es.map(e => h0(e._1)).sum }
    val hub = outEdges.groupBy(_._1).map { case (s0, es) =>
      s0 -> es.map(e => auth.getOrElse(e._2, 0L)).sum
    }
    val expected = h0.keys.toSeq
      .sortBy(p => (-auth.getOrElse(p, 0L), p)).take(20)
      .map(p => (p, h0(p), auth.getOrElse(p, 0L), hub.getOrElse(p, 0L)))
    val got = operators.WebCorpus.webHitsStep(spark, sf).collect()
      .map(r => (r.getAs[Long]("page"), r.getAs[Long]("h0_ppb"),
        r.getAs[Long]("auth_ppb"), r.getAs[Long]("hub_ppb")))
    assert(got.toSeq == expected, "HITS step differs from driver recount")
    // mass conservation bounds: Σauth = 3·Σh0 exactly (every page has
    // out-degree 3 and contributes its full h0 to each target)
    assert(auth.values.sum == 3 * h0.values.sum)
  }

  test("text_vocab_coverage: recounted driver-side; curve monotone, closes at 100%") {
    val docs = sources.Tables.documents(spark, sf).select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach(_.split(" ").filter(_.nonEmpty).foreach(w =>
      counts(w) = counts.getOrElse(w, 0L) + 1L))
    val ranked = counts.toSeq.sortBy { case (t, n) => (-n, t) }
    val total = counts.values.sum
    val out = operators.CorpusQuality.textVocabCoverage(spark, sf).collect()
    assert(out.map(_.getAs[Long]("vocab_size")).toSeq ==
      operators.CorpusQuality.VocabSizes)
    out.foreach { r =>
      val n = r.getAs[Long]("vocab_size").toInt
      val top = ranked.take(n)
      assert(r.getAs[Long]("n_in_vocab") == top.length.toLong)
      assert(r.getAs[Long]("covered_tokens") == top.map(_._2).sum)
      assert(r.getAs[Long]("n_types") == counts.size.toLong)
      assert(r.getAs[Long]("coverage_ppm") == top.map(_._2).sum * 1000000L / total)
    }
    val cov = out.map(_.getAs[Long]("coverage_ppm"))
    cov.sliding(2).foreach { case Array(a, b) => assert(a <= b, "coverage must be monotone") }
    assert(cov.last == 1000000L, "the full-vocab row must cover everything")
  }

  test("sketch_bloom_fpr: filter + probes recounted driver-side; probes provably absent") {
    val P = 2147483647L
    import operators.Sketches._
    val maxUser = sources.Tables.events(spark, sf).agg(max("user_id")).head.getLong(0)
    assert(maxUser < BloomNegProbeBase, "negative probes must be outside the id space")
    val rows = sources.Tables.events(spark, sf)
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def h(u: Long, a: Long, b: Long): Int = ((((u % P) * a + b) % P) % 256L).toInt
    // coefficient pairs mirror the operator's private BloomA/B constants
    val (a1, b1, a2, b2) = (604297L, 12289L, 1103515245L, 12345L)
    val out = operators.Sketches.sketchBloomFpr(spark, sf).collect()
    rows.groupBy(_._1).foreach { case (tpe, es) =>
      val bits = scala.collection.mutable.BitSet.empty
      es.foreach { case (_, u) => bits += h(u, a1, b1); bits += h(u, a2, b2) }
      val fp = (1L to BloomNegProbes).count { i =>
        val u = i + BloomNegProbeBase
        bits(h(u, a1, b1)) && bits(h(u, a2, b2))
      }
      val r = out.find(_.getAs[String]("event_type") == tpe).get
      assert(r.getAs[Long]("set_bits") == bits.size.toLong, s"$tpe set_bits")
      assert(r.getAs[Long]("false_pos") == fp.toLong, s"$tpe false positives")
      assert(r.getAs[Long]("fpr_ppm") == fp * 1000000L / BloomNegProbes)
      assert(r.getAs[Long]("predicted_ppm") ==
        bits.size.toLong * bits.size * 1000000L / (256L * 256L))
      // the k=2 independence prediction must track the measurement
      assert(math.abs(r.getAs[Long]("fpr_ppm") - r.getAs[Long]("predicted_ppm")) <= 100000L,
        s"$tpe: measured FPR far from the p^2 prediction")
    }
  }

  test("dedup_incremental_lsh: tail edits all caught, reversed docs all admitted") {
    val out = operators.Dedup.dedupIncrementalLsh(spark, sf).collect()
    val (edited, fresh) = out.partition(_.getAs[Long]("new_id") % 10 == 4)
    assert(edited.nonEmpty && fresh.nonEmpty)
    // the near-dup probe must catch EVERY tail-edited re-ingestion —
    // the case the exact-fingerprint probe (dedup_incremental) misses
    edited.foreach { r =>
      assert(!r.getAs[Boolean]("admitted"), s"${r.getAs[Long]("new_id")}: tail edit admitted")
      val dupOf = r.getAs[Long]("dup_of")
      assert(dupOf <= r.getAs[Long]("new_id") - operators.Dedup.NearBatchShift,
        "dup_of must be the min qualifying doc (never later than the original)")
    }
    // word-reversed docs share no 3-gram shingles with their source —
    // genuinely new content must pass
    fresh.foreach(r => assert(r.getAs[Boolean]("admitted"),
      s"${r.getAs[Long]("new_id")}: reversed doc wrongly deduped"))
    // most tail edits dedup to their own original (a few find an even
    // smaller near-dup of the original — legal under min-id semantics)
    val own = edited.count(r =>
      r.getAs[Long]("dup_of") == r.getAs[Long]("new_id") - operators.Dedup.NearBatchShift)
    assert(own * 10 >= edited.length * 9, s"only $own/${edited.length} dedup to their original")
  }

  test("dedup_threshold_sweep: monotone in the threshold; tau=1/2 row equals dedup_minhash") {
    val rows = operators.Dedup.dedupThresholdSweep(spark, sf).collect()
      .map(r => (r.getAs[Long]("min_matches"), r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs")))
    assert(rows.map(_._1).toSeq == Seq(6L, 9L, 11L, 12L))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 >= b._2 && a._3 >= b._3, s"tightening the threshold must shrink mass: $a -> $b")
    }
    val atHalf = operators.Dedup.dedupMinhash(spark, sf).count()
    assert(rows.head._2 == atHalf,
      s"min_matches=6 row (${rows.head._2}) must equal dedup_minhash's pair count ($atHalf)")
  }

  test("knn_ivf_drift: masses conserve; reversal produces measurable drift") {
    val out = operators.Similarity.knnIvfDrift(spark, sf).collect()
    val nVecs = sources.Tables.embeddings(spark, sf).count()
    val ids = sources.Tables.embeddings(spark, sf).select("vec_id").collect().map(_.getLong(0))
    val batchSize = ids.count(i => i % 10 == 5) + ids.count(i => i % 10 == 9)
    assert(out.map(_.getAs[Long]("n_idx")).sum == nVecs, "index mass must conserve")
    assert(out.map(_.getAs[Long]("n_batch")).sum == batchSize.toLong, "batch mass must conserve")
    val (tIdx, tBatch) = (nVecs, batchSize.toLong)
    out.foreach { r =>
      assert(r.getAs[Long]("idx_share_ppm") == r.getAs[Long]("n_idx") * 1000000L / tIdx)
      assert(r.getAs[Long]("batch_share_ppm") == r.getAs[Long]("n_batch") * 1000000L / tBatch)
      assert(r.getAs[Long]("drift_ppm") ==
        math.abs(r.getAs[Long]("idx_share_ppm") - r.getAs[Long]("batch_share_ppm")))
    }
    val totalDrift = out.map(_.getAs[Long]("drift_ppm")).sum
    assert(totalDrift > 0L, "reversed half must shift the cell distribution")
    assert(totalDrift <= 2000000L, "L1 distance of two distributions is bounded by 2")
  }

  test("corpus_quota_sample: quota binds exactly, kept set matches an independent hash rank") {
    val out = operators.Corpus.corpusQuotaSample(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("sum_kept_ids"),
        r.getAs[Long]("kept_chars"), r.getAs[Long]("total_chars"))).toMap
    val docs = sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val q = operators.Corpus.QuotaPerSource.toInt
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val (nd, nk, sk, kc, tc) = out(src)
      assert(nd == ds.length.toLong)
      assert(nk == math.min(q, ds.length).toLong, s"$src: quota not exact")
      val kept = ds.sortBy(d =>
        (operators.Corpus.mixHashJvm(d._1, 1000000007L), d._1)).take(q)
      assert(sk == kept.map(_._1).sum, s"$src: kept-id checksum differs from driver rank")
      assert(kc == kept.map(_._3).sum && tc == ds.map(_._3).sum)
      assert(kc <= tc)
    }
  }

  test("text_boilerplate: scrub conserves unflagged lines and is IDEMPOTENT") {
    // mass conservation: per doc, kept = total minus this doc's flagged
    // lines (recounted driver-side from the census)
    val census = operators.CorpusClean.textBoilerplate(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("line_fp"))).toSet
    val lines = operators.CorpusClean.lines(spark, sf)
      .select("doc_id", "source", "line_fp").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expectKept = lines.groupBy(_._1).map { case (id, ls) =>
      id -> ls.count(l => !census.contains((l._2, l._3))).toLong
    }
    val scrub = operators.CorpusClean.textBoilerplateScrub(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"))).toMap
    assert(scrub.keySet == expectKept.keySet)
    scrub.foreach { case (id, (nl, nk)) =>
      assert(nk == expectKept(id), s"doc $id: kept $nk != driver recount ${expectKept(id)}")
      assert(nk <= nl && nk >= 1, s"doc $id: kept $nk outside [1, $nl]")
    }
    // idempotence: a census over the SCRUBBED corpus flags nothing —
    // the pass converges in one application (the CCNet property; a
    // share-bar pass that re-flags its own output would loop forever)
    val scrubbed = graft.api.CorpusOps.scrubBoilerplate(
      operators.CorpusClean.lined(spark, sf)
        .select(col("doc_id"), col("source"), col("lt").as("text")))
    assert(graft.api.CorpusOps.boilerplateCensus(scrubbed).count() == 0L,
      "census over scrubbed corpus must be empty (idempotence)")
  }

  test("video_scene_cut: freeze plants score exactly 0, originals all clear the fitted dial") {
    val rows = operators.Video.videoSceneCut(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("hamming_bits"),
        r.getAs[Boolean]("is_cut")))
    val (plants, orig) = rows.partition(_._1 >= operators.Video.SceneCopyShift)
    assert(plants.nonEmpty && orig.nonEmpty)
    assert(plants.forall(r => r._2 == 0L && !r._3),
      "planted static transition scored nonzero / flagged as cut")
    assert(orig.forall(r => r._2 >= operators.Video.SceneCutBits && r._3),
      "original transition under the dial — the corpus dichotomy broke")
    // structural recount: transitions per video == n_frames - 1
    rows.groupBy(_._1).foreach { case (id, ts) =>
      val src = if (id >= operators.Video.SceneCopyShift)
        id - operators.Video.SceneCopyShift else id
      assert(ts.length == operators.Video.nFrames(src) - 1,
        s"doc $id: ${ts.length} transitions != ${operators.Video.nFrames(src) - 1}")
    }
  }

  test("embed_kmeans_converge: ladder equals a driver-side Lloyd replay, rung by rung") {
    // strongest possible ground truth: replay the ENTIRE integer-milli
    // Lloyd ladder in plain Scala on the driver and demand the
    // distributed operator's (n_clusters, movement, churn) row per
    // rung match exactly — parity proves Spark == DuckDB; this proves
    // both run the RIGHT iteration.
    val k = operators.Similarity.KmeansK
    val iters = operators.Similarity.KmeansConvIters
    val vecs = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    val dim = vecs.head._2.length
    var cents: Map[Long, Array[Long]] =
      vecs.filter(_._1 < k).map { case (id, v) => id -> v.clone() }.toMap
    def assign(cs: Map[Long, Array[Long]]): Map[Long, Long] =
      vecs.map { case (id, v) =>
        id -> cs.toSeq.map { case (c, cv) =>
          (v.indices.map(i => { val d = v(i) - cv(i); d * d }).sum, c)
        }.min._2
      }.toMap
    var as = assign(cents)
    val expected = (1 to iters).map { t =>
      val nc = as.groupBy(_._2).map { case (c, members) =>
        val ids = members.keys.toSeq
        // Spark `div` / DuckDB `//` truncate toward zero — Java `/`
        c -> Array.tabulate(dim)(i =>
          ids.map(id => vecs(id.toInt)._2(i)).sum / ids.size.toLong)
      }
      val moved = nc.toSeq.collect { case (c, cv) if cents.contains(c) =>
        cv.indices.map(i => math.abs(cv(i) - cents(c)(i))).max }.max
      if (t == 1) {
        // rung 1's centroid table IS embed_kmeans_step (scaladoc claim)
        val step = operators.Similarity.embedKmeansStep(spark, sf).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("centroid_milli")).toMap
        val replay = nc.flatMap { case (c, cv) =>
          cv.indices.map(i => (c, i.toLong) -> cv(i)) }.toMap
        assert(step == replay, "ladder rung 1 != embed_kmeans_step")
      }
      val na = assign(nc)
      val churn = vecs.count { case (id, _) => na(id) != as(id) }.toLong
      cents = nc; as = na
      (t.toLong, nc.size.toLong, moved, vecs.length.toLong, churn,
        churn * 1000000L / vecs.length)
    }
    val got = operators.Similarity.embedKmeansConverge(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"ladder diverges from driver replay:\n$got\nvs\n$expected")
    // and the ladder's convergence story holds: movement and churn
    // both strictly smaller at the last rung than the first
    assert(got.last._3 < got.head._3 && got.last._5 < got.head._5)
  }

  test("knn_pq_train: complete per-subspace assignment; the Lloyd step buys SSE in every subspace") {
    val m = operators.Similarity.PqM
    val subDim = operators.Similarity.PqSubDim
    val book = operators.Similarity.knnPqTrain(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nVecs = sources.Tables.embeddings(spark, sf).count()
    // every vector assigned exactly once per (subspace, position):
    // Σ_j n_assigned == n for each of the M×SubDim (m, pos) cells
    book.groupBy(b => (b._1, b._3)).foreach { case ((mm, pos), rows) =>
      assert(rows.map(_._4).sum == nVecs, s"(m=$mm, pos=$pos): assignment mass != corpus")
    }
    // a codeword's positions agree on n_assigned (one argmin per (vec, m))
    book.groupBy(b => (b._1, b._2)).foreach { case ((mm, j), rows) =>
      assert(rows.map(_._4).distinct.size == 1, s"(m=$mm, j=$j): n_assigned varies by pos")
      assert(rows.map(_._3).sorted.toSeq == (0 until subDim).map(_.toLong),
        s"(m=$mm, j=$j): incomplete position coverage")
    }
    assert(book.map(_._1).distinct.length == m)
    // the gate: refined SSE strictly below seed SSE in EVERY subspace
    val gain = operators.Similarity.knnPqTrainGain(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(gain.length == m)
    gain.foreach { case (mm, seed, refined, ppm) =>
      assert(refined < seed && ppm > 0L,
        s"subspace $mm: Lloyd step did not improve reconstruction ($seed -> $refined)")
      assert(ppm == (seed - refined) * 1000000L / seed, s"subspace $mm: ppm recount")
    }
  }

  test("knn_pq_train_converge: rung 1 == knn_pq_train_gain; Lloyd SSE descent per subspace") {
    val m = operators.Similarity.PqM
    val iters = operators.Similarity.PqTrainIters
    // (iter, m, n_codewords, moved, n_vecs, n_churn, churn_ppm, sse)
    val ladder = operators.Similarity.knnPqTrainConverge(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(ladder.length == m * iters, "ladder row count")
    // rung 1 IS knn_pq_train's step: its assignment-time SSE equals
    // knn_pq_train_gain's sse_refined in every subspace by construction
    val gain = operators.Similarity.knnPqTrainGain(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    ladder.filter(_._1 == 1L).foreach { r =>
      assert(r._8 == gain(r._2),
        s"subspace ${r._2}: rung-1 SSE ${r._8} != knn_pq_train_gain sse_refined ${gain(r._2)}")
    }
    // Lloyd descent: per-subspace SSE non-increasing rung over rung
    // (sliding(2) on a 1-element seq emits that element alone — guard
    // the window so a single-rung ladder config can't throw here)
    ladder.groupBy(_._2).foreach { case (mm, rows) =>
      rows.sortBy(_._1).map(_._8).sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(1) <= w(0), s"subspace $mm: SSE increased ${w(0)} -> ${w(1)}")
      }
    }
    // the when-to-stop story: movement and churn both NON-increasing
    // from the first rung to the last (<= not <: a ladder already
    // converged at rung 1 — churn 0 everywhere — is a legitimate
    // fixpoint, not a failure), plus a not-already-flat guard: if rung
    // 1 churned at all, the ladder must have made SOME progress by the
    // last rung, else the iteration is dead weight
    if (iters > 1) {
      val byIter = ladder.groupBy(_._1)
      assert(byIter(iters.toLong).map(_._4).max <= byIter(1L).map(_._4).max,
        "codeword movement did not shrink")
      val churnFirst = byIter(1L).map(_._6).sum
      val churnLast = byIter(iters.toLong).map(_._6).sum
      assert(churnLast <= churnFirst, "assignment churn increased")
      if (churnFirst > 0)
        assert(churnLast < churnFirst,
          "rung 1 churned but later rungs made no progress")
    }
  }

  test("knn_ivf_pq_refresh: retrain recovers SSE; the rerank tier holds under both books") {
    // (sse, n_exact, n_hit_adc, recall_adc_ppm, n_hit, recall_ppm)
    val rows = operators.Similarity.knnIvfPqRefresh(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(rows.keySet == Set("frozen", "retrained"))
    val f = rows("frozen")
    val t = rows("retrained")
    // both phases grade against the SAME exact side (the shared-side rule)
    assert(f._2 == t._2 && f._2 > 0, "exact side not shared")
    // the staleness invoice: warm-start Lloyd on the drifted union
    // strictly reduces reconstruction SSE (descent; the retrain
    // criterion the gate exists to calibrate)
    assert(t._1 < f._1, s"retrain did not reduce SSE (${f._1} -> ${t._1})")
    // the production path (PqShortlist exact rerank) holds under BOTH
    // books — the gate's documented robustness claim
    assert(f._6 >= 900000L && t._6 >= 900000L,
      s"rerank recall collapsed: frozen ${f._6}, retrained ${t._6}")
    // ppm accounting recounts
    Seq(f, t).foreach { p =>
      assert(p._4 == p._3 * 1000000L / p._2 && p._6 == p._5 * 1000000L / p._2,
        "recall ppm recount")
    }
  }

  test("sketch_kll: weight conservation, capacity, rank-error bound, and MERGE under the same bar") {
    import spark.implicits._
    val cap = operators.Sketches.KllCapacity
    val state = operators.Sketches.sketchKll(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nByType = sources.Tables.events(spark, sf)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // total weight Σ n_items·2^lvl == corpus count (pair compaction
    // conserves mass by construction) and no buffer exceeds capacity
    state.groupBy(_._1).foreach { case (t, rows) =>
      assert(rows.map(r => r._4 * r._3).sum == nByType(t), s"$t: weight mass != corpus")
      rows.foreach(r => assert(r._4 <= cap, s"$t lvl ${r._2}: buffer over capacity"))
    }
    // rank error ≤ the state's top weight (the deterministic
    // compactor's systematic-sampling gap) for every graded quantile
    val wmax = state.groupBy(_._1).map { case (t, rows) => t -> rows.map(_._3).max }
    operators.Sketches.sketchKllError(spark, sf).collect().foreach { r =>
      val (t, target, lo, hi) = (r.getString(0), r.getLong(3), r.getLong(5), r.getLong(6))
      val errAbs = if (target >= lo && target <= hi) 0L
        else math.min(math.abs(target - lo), math.abs(target - hi))
      assert(errAbs <= wmax(t),
        s"$t q=${r.getLong(1)}: rank error $errAbs exceeds top weight ${wmax(t)}")
    }
    // MERGE: build two sketches over an event_id-parity split, union
    // the states, re-compact — the merged sketch must obey the same
    // capacity/mass invariants and land its p50 within 2× the bar
    // (one extra generation of compaction) of the exact median rank
    val items = sources.Tables.events(spark, sf)
      .select(col("event_type"), expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
        col("event_id").as("tie"), lit(0L).as("lvl"))
    val sA = operators.Sketches.kllState(items.filter(pmod(col("tie"), lit(2)) === 0))
    val sB = operators.Sketches.kllState(items.filter(pmod(col("tie"), lit(2)) === 1))
    val merged = operators.Sketches.kllState(sA.union(sB)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    merged.groupBy(r => (r._1, r._4)).foreach { case ((t, lvl), rows) =>
      assert(rows.size <= cap, s"merged $t lvl $lvl: buffer over capacity")
    }
    val exact = sources.Tables.events(spark, sf)
      .select(col("event_type"), expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    merged.groupBy(_._1).foreach { case (t, rows) =>
      assert(rows.map(r => 1L << r._4.toInt).sum == nByType(t), s"merged $t: weight mass")
      val sorted = rows.sortBy(r => (r._2, r._3))
      val w = nByType(t)
      val target = (w * 500000L + 999999L) / 1000000L
      var cum = 0L
      val est = sorted.find { r => cum += 1L << r._4.toInt; cum >= target }.get._2
      val vs = exact(t)
      val lo = vs.count(_ < est) + 1L
      val hi = vs.count(_ <= est).toLong
      val errAbs = if (target >= lo && target <= hi) 0L
        else math.min(math.abs(target - lo), math.abs(target - hi))
      val mergedWmax = rows.map(r => 1L << r._4.toInt).max
      assert(errAbs <= 2L * mergedWmax,
        s"merged $t: p50 rank error $errAbs exceeds 2x top weight $mergedWmax")
    }
  }

  test("dedup_attribution: the lattice is an exact partition of the union corpus") {
    val out = operators.Dedup.dedupAttribution(spark, sf).collect()
      .map(r => r.getString(1) -> (r.getInt(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // the 7-row axis is complete and ordered
    assert(out.keySet == operators.Dedup.AttributionStages.toSet)
    operators.Dedup.AttributionStages.zipWithIndex.foreach { case (st, i) =>
      assert(out(st)._1 == i + 1, s"$st: stage_ord")
    }
    // first-to-fire is a PARTITION: doc and token masses sum to the
    // union corpus (base + the three planted re-ingestion families)
    val base = sources.Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0))
    val expectDocs = base.length + base.count(_ % 10 == 3) +
      base.count(_ % 10 == 4) + base.count(id => id % 10 == 6 &&
        base.contains(id + 1) && base.contains(id + 2))
    assert(out.values.map(_._2).sum == expectDocs.toLong, "doc mass != union corpus")
    val dppm = out.values.map(_._4).sum
    val tppm = out.values.map(_._5).sum
    assert(dppm <= 1000000L && dppm >= 1000000L - 7,
      s"doc ppm shares must sum to ~1e6 (integer floors): $dppm")
    assert(tppm <= 1000000L && tppm >= 1000000L - 7, s"token ppm shares: $tppm")
    // planted families land at their stage: exact >= the %10==3 plants,
    // prefix fires, containment fires, and something is kept
    assert(out("exact")._2 >= base.count(_ % 10 == 3).toLong)
    assert(out("prefix")._2 > 0L && out("containment")._2 > 0L && out("kept")._2 > 0L)
    // the documented lattice readout on THIS corpus: prefix subsumes
    // minhash (near-dups share their 24-word prefix)
    assert(out("minhash")._2 == 0L,
      "minhash attribution expected 0 on this corpus (prefix fires first)")
  }

  test("corpus_dedup_weights: every cluster carries total mass ~1e6 ppm; audit recounts") {
    val out = operators.CorpusClean.corpusDedupWeights(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_dup_docs"), r.getAs[Long]("effective_docs_ppm"),
        r.getAs[Long]("max_cluster"))).toMap
    val docs = sources.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val (nd, ndup, eff, maxc) = out(src)
      val c2 = ds.count(d => (d._1 / 20) % 10 == 3) // planted cluster-2 members
      val c3 = ds.count(d => (d._1 / 20) % 10 == 7) // planted cluster-3 members
      assert(nd == ds.length.toLong + c2 + 2 * c3, s"$src: raw doc mass")
      assert(ndup == 2L * c2 + 3L * c3, s"$src: dup-member census")
      // effective mass: uniques at 1e6 each; cluster-2 at 2·500000;
      // cluster-3 at 3·333333 (ppm floor — 1 ppm lost per 3-cluster,
      // the deterministic integer-truncation invoice)
      val expected = (ds.length - c2 - c3).toLong * 1000000L +
        c2.toLong * 1000000L + c3.toLong * 999999L
      assert(eff == expected, s"$src: effective mass $eff != $expected")
      assert(maxc == (if (c3 > 0) 3L else if (c2 > 0) 2L else 1L))
    }
  }

  test("dedup_incremental_semantic: paraphrase re-ingestion passes ALL THREE text gates; the embedding gate pins it") {
    // the cross-gate leak the fourth gate exists for: a paraphrase
    // (same content re-embedded, entirely new wording — modeled on the
    // text side as word reversal, the established plants' no-shared-
    // shingle shape) is byte-unequal (exact gate admits), shares no
    // 3-gram shingles (est-J ≈ 0, minhash gate admits) and no 12-word
    // window (no shared winnow print, containment gate admits) — yet
    // its EMBEDDING sits at cosine ≥ 0.97 to the origin, and only this
    // gate rejects it
    import graft.functions.PortableHash._
    graft.expressions.GraftFunctions.register(spark)
    val out = operators.Similarity.dedupIncrementalSemantic(spark, sf).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Boolean]("admitted"))).toMap
    val rejectedVecs = out.collect { case (id, false) =>
      id - operators.Similarity.SemBatchShift }.toSet
    assert(rejectedVecs.nonEmpty, "plant produced no semantic rejections")
    assert(out.valuesIterator.exists(identity), "plant produced no admissions")
    // rejections are exactly the %10==2 paraphrase plants; the %10==6
    // new-mode batch is admitted (measured-margin geometry)
    assert(rejectedVecs.forall(_ % 10 == 2),
      s"non-paraphrase ids rejected: ${rejectedVecs.filterNot(_ % 10 == 2)}")
    // the text twins of the rejected paraphrases (doc_id = vec_id):
    // reversed word order, >= 3 words, actually changed by reversal
    val d = sources.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val para = d.filter(col("doc_id").isin(rejectedVecs.toSeq: _*))
      .filter(expr("size(filter(split(text, ' '), w -> w <> '')) >= 3"))
      .select(col("doc_id").as("new_id"),
        array_join(reverse(split(col("text"), " ")), " ").as("text"),
        col("text").as("orig"))
      .filter(col("text") =!= col("orig"))
      .select("new_id", "text")
    val paraIds = para.select("new_id").collect().map(_.getLong(0)).toSet
    assert(paraIds.nonEmpty, "no reversible text twins for the rejected plants")
    // gate 1 — exact fingerprint: reversed text present in the corpus?
    val corpusFps = d.select(expr(sparkFingerprint("text"))).collect()
      .map(_.getLong(0)).toSet
    val caughtExact = para
      .select(col("new_id"), expr(sparkFingerprint("text")).as("fp")).collect()
      .collect { case r if corpusFps.contains(r.getLong(1)) => r.getLong(0) }.toSet
    // gate 2 — minhash est-J >= 1/2 verify, run verbatim
    val idxBands = d
      .select(col("doc_id"), expr(sparkMinhash(sparkShingleHashes("text"))).as("mb"))
      .select(col("doc_id"), explode(expr(s"sequence(0, ${MinhashBands - 1})")).as("b"), col("mb"))
      .select(col("doc_id"), col("b"), expr(sparkBandValue("mb", "b")).as("bv"), col("mb"))
    val pBands = para
      .select(col("new_id"), expr(sparkMinhash(sparkShingleHashes("text"))).as("ma"))
      .select(col("new_id"), explode(expr(s"sequence(0, ${MinhashBands - 1})")).as("b"), col("ma"))
      .select(col("new_id"), col("b"), expr(sparkBandValue("ma", "b")).as("bv"), col("ma"))
    val caughtLsh = pBands.join(idxBands, Seq("b", "bv"))
      .filter(expr(
        s"size(filter(sequence(1, $MinhashK), i -> element_at(ma, i) = element_at(mb, i))) * 2 >= $MinhashK"))
      .select("new_id").distinct().collect().map(_.getLong(0)).toSet
    // gate 3 — the containment gate itself over the reversed batch
    val caughtContain = operators.Dedup.containmentAdmissionFor(d, para).collect()
      .collect { case r if !r.getAs[Boolean]("admitted") => r.getAs[Long]("new_id") }.toSet
    // the LEAK SET: paraphrases every text gate admits — must be the
    // (overwhelming) majority, and every one of them is semantically
    // rejected by construction (paraIds ⊆ rejectedVecs)
    val leak = paraIds -- caughtExact -- caughtLsh -- caughtContain
    assert(leak.nonEmpty, "no paraphrase passed all three text gates")
    assert(2 * leak.size >= paraIds.size,
      s"text gates caught most paraphrases (${paraIds.size - leak.size} of ${paraIds.size}) — plant not leak-shaped")
  }

  test("bpe_train_converge: rung 1 == bpe_pair_step argmax; vocab mass descends by the applied merges") {
    val ladder = operators.CorpusQuality.bpeTrainConverge(spark, sf).collect()
      .map(r => (r.getAs[Long]("iter"), r.getAs[String]("merged"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_types"), r.getAs[Long]("vocab_mass")))
      .sortBy(_._1)
    assert(ladder.length == operators.CorpusQuality.BpeTrainIters)
    // rung 1 IS bpe_pair_step's selection: same statistic, same order
    val top = operators.CorpusQuality.bpePairStep(spark, sf).collect().head
    assert(ladder.head._2 == top.getAs[String]("pair") &&
      ladder.head._3 == top.getAs[Long]("n_pairs") &&
      ladder.head._4 == top.getAs[Long]("n_types"),
      s"rung 1 ${ladder.head} != bpe_pair_step top $top")
    // mass chain: strictly decreasing; each rung's drop equals the
    // number of merges APPLIED, which is positive and <= the selected
    // pair's overlapping count
    val mass0 = sources.Tables.documents(spark, sf)
      .select(explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .agg(sum(length(col("w")))).collect().head.getLong(0)
    val chain = mass0 +: ladder.map(_._5)
    chain.sliding(2).zip(ladder.iterator).foreach { case (w, rung) =>
      val delta = w(0) - w(1)
      assert(delta > 0L, s"rung ${rung._1}: vocab mass did not shrink")
      assert(delta <= rung._3,
        s"rung ${rung._1}: mass delta $delta exceeds selected pair count ${rung._3}")
    }
  }

  test("bpe_train_converge: hand-vocab replay pins greedy apply and overlap semantics") {
    import spark.implicits._
    // 'aaab'×3 exercises the overlap rule: (a,a) counts 2 per word
    // (overlapping, selection statistic) but merges ONCE (greedy
    // left-to-right apply) — n_pairs 6, mass drop 3
    val vocab = Seq(("aaab", 3L), ("ab", 2L), ("ba", 1L)).toDF("word", "cnt")
    val got = operators.CorpusQuality.bpeTrainLadder(vocab).collect()
      .map(r => (r.getAs[Long]("iter"), r.getAs[String]("merged"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_types"), r.getAs[Long]("vocab_mass")))
      .sortBy(_._1).toSeq
    // rung 1: (a,a) wins at 6 (2 slots in 'aaab'); greedy apply gives
    // |aa||a||b| — mass 18-3=15. rung 2: (a,b) at 3+2=5 over 2 slots;
    // 'aa|a|b'→|aa||ab|, 'ab'→|ab| — mass 15-5=10. rung 3: (aa,ab) at
    // 3 (one slot); mass 7. rung 4: (b,a) at 1; mass 6.
    assert(got.take(2) == Seq((1L, "aa", 6L, 2L, 15L), (2L, "ab", 5L, 2L, 10L)),
      s"first rungs diverge: $got")
    assert(got(2) == ((3L, "aaab", 3L, 1L, 7L)), s"rung 3 diverges: ${got(2)}")
    assert(got(3) == ((4L, "ba", 1L, 1L, 6L)), s"rung 4 diverges: ${got(3)}")
  }

  test("image_dedup: every planted corner-swap re-ingestion caught (exact class OR star edge); bounds hold") {
    val out = operators.Multimodal.imageDedup(spark, sf).collect()
    val nDocs = sources.Tables.documents(spark, sf).count()
    val shift = operators.Multimodal.ImageDedupShift
    val base = operators.Multimodal.encodeImages(spark, sf)
    val sigs = operators.Multimodal.imageAHashLoHi(
      base.union(operators.Multimodal.cornerSwappedImages(base))).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val starDocs = out.map(_.getAs[Long]("doc_id")).toSet
    // min-id representative per signature value — a copy whose corner
    // cells coincide collapses into SOME class (usually its origin's,
    // but any identical-signature doc's min id wins)
    val repOfSig = sigs.toSeq.groupBy(_._2).map { case (sg, ms) => sg -> ms.map(_._1).min }
    (0L until nDocs).filter(_ % 10 == 3).foreach { d =>
      val copy = d + shift
      if (repOfSig(sigs(copy)) != copy) {
        // caught by the exact-class collapse — the copy never reaches
        // the star frame as its own row
        assert(!starDocs.contains(copy),
          s"copy $copy collapsed exactly but still star-linked")
      } else {
        val r = out.find(_.getAs[Long]("doc_id") == copy)
        assert(r.isDefined, s"planted copy $copy neither collapsed nor star-linked")
        // the swap preserves the total: vs its ORIGIN exactly the two
        // swapped cells' bits exchange (hamming 2); the star edge may
        // pick an even closer smaller-id partner, never a farther one
        assert(r.get.getAs[Long]("hamming") >= 1L &&
          r.get.getAs[Long]("hamming") <= 2L,
          s"copy $copy hamming ${r.get.getAs[Long]("hamming")}")
      }
    }
    out.foreach { r =>
      assert(r.getAs[Long]("hamming") <= operators.Multimodal.ImageDedupMaxHamming)
      assert(r.getAs[Long]("members_rep") >= 1L && r.getAs[Long]("members_doc") >= 1L)
      assert(r.getAs[Long]("rep_id") < r.getAs[Long]("doc_id"),
        "star edge must point at the smaller-id representative")
    }
  }
}
