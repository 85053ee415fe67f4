package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.api._

/** The user-facing API layer, exercised with the reference's OWN test
  * cases (reference tests/index.test.ts) translated to DataFrames — a
  * reference user switching to graft keeps their semantics.
  */
class ApiSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def pathsDf(paths: String*) = {
    import spark.implicits._
    paths.toDF("key")
  }

  test("PathMatcher: isMatch / match / not (reference tests :28-100)") {
    val m = new PathMatcher
    val df = pathsDf("foo/bar.txt", "foo/baz.json", "qux/bar.png", "foo/bar.md")
    assert(m.filterMatching(df, Seq("**/*.txt")).collect().map(_.getString(0)).toSet
      == Set("foo/bar.txt"))
    assert(m.filterMatching(df, Seq("**/*.json", "**/*.png")).collect().map(_.getString(0)).toSet
      == Set("foo/baz.json", "qux/bar.png"))
    assert(m.filterNot(df, Seq("**/*.txt")).collect().map(_.getString(0)).toSet
      == Set("foo/baz.json", "qux/bar.png", "foo/bar.md"))
  }

  test("PathMatcher: ! negation entries in pattern lists (reference §3)") {
    val m = new PathMatcher
    val df = pathsDf("a/keep.txt", "a/secret.txt", "a/keep.md")
    val kept = df.filter(m.isMatch(col("key"), "**/*.txt", "!**/secret*"))
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("a/keep.txt"))
  }

  test("HivePartitionParser: transform rewrites values, keeps padding") {
    val parser = new HivePartitionParser(Seq(
      PartitionField("year", IntegerType), PartitionField("month", IntegerType)))
    val df = pathsDf("year=2024/month=07")
    val out = df.select(parser.transform(col("key"),
      Map("month" -> (c => c + 1))).as("p")).collect()(0).getString(0)
    assert(out == "year=2024/month=08") // zero-padding survives
  }

  test("PathMatcher: all requires every pattern (reference tests :102)") {
    val m = new PathMatcher
    val df = pathsDf("foo/bar.txt")
    // ["**/*", "*.txt"] → false (second can't cross the slash)
    assert(df.filter(m.all(col("key"), "**/*", "*.txt")).count() == 0)
    assert(df.filter(m.all(col("key"), "**/*", "**/bar.txt")).count() == 1)
  }

  test("PathMatcher: capture (reference tests :107-120)") {
    val m = new PathMatcher
    val df = pathsDf("users/123/posts/456")
    val captured = df.select(m.capture("users/:id/posts/:postId", col("key")).as("c"))
      .collect()(0).getSeq[String](0)
    assert(captured == Seq("123", "456"))
    val noMatch = df.select(m.capture("users/:id/comments/:cid", col("key")).as("c"))
      .collect()(0)
    assert(noMatch.isNullAt(0))
  }

  test("HivePartitionParser: parse coerces, validates, reports (reference §3)") {
    val parser = new HivePartitionParser(Seq(
      PartitionField("year", IntegerType, min = Some(2000), max = Some(2030)),
      PartitionField("month", IntegerType, min = Some(1), max = Some(12)),
      PartitionField("region", enumVals = Seq("us", "eu"))))
    val df = pathsDf(
      "table/year=2023/month=07/region=us/file.parquet", // valid; ignores non-k=v segs
      "year=2023/month=13/region=us",                    // month out of range
      "year=2023/region=eu")                             // month missing
    val out = df.select(
      parser.parse(col("key")).as("p"),
      parser.isValid(col("key")).as("ok"),
      parser.missingKeys(col("key")).as("missing")).collect()

    val r0 = out(0)
    assert(r0.getStruct(0).getInt(0) == 2023 && r0.getStruct(0).getInt(1) == 7) // 07 → 7
    assert(r0.getBoolean(1))
    val r1 = out(1)
    assert(!r1.getBoolean(1))
    val r2 = out(2)
    assert(!r2.getBoolean(1) && r2.getSeq[String](2) == Seq("month"))
  }

  test("HivePartitionParser: a malformed value reads as invalid, not a failed job (ANSI)") {
    val parser = new HivePartitionParser(Seq(
      PartitionField("year", IntegerType), PartitionField("month", IntegerType)))
    val r = pathsDf("year=abcd/month=07").select(
      parser.parse(col("key")).as("p"),
      parser.isValid(col("key")).as("ok"),
      parser.validationErrors(col("key")).as("errs")).collect()(0)
    assert(r.getStruct(0).isNullAt(0) && r.getStruct(0).getInt(1) == 7)
    assert(!r.getBoolean(1))
    assert(r.getSeq[String](2) == Seq("year: invalid or missing"))
  }

  test("HivePartitionParser: createGlobPattern + matchesGlob") {
    val parser = new HivePartitionParser(Seq(
      PartitionField("year", IntegerType), PartitionField("month", IntegerType)))
    assert(parser.createGlobPattern(Map("year" -> 2024)) == "year=2024/month=*")
    val df = pathsDf("year=2024/month=07", "year=2023/month=07", "year=2024")
    val matched = df.filter(parser.matchesGlob(col("key"), "year=2024/month=*"))
      .collect().map(_.getString(0)).toSet
    assert(matched == Set("year=2024/month=07")) // segment counts must line up
  }

  test("HivePartitionParser: format omits nulls, keeps key order") {
    val parser = new HivePartitionParser(Seq(
      PartitionField("year", IntegerType), PartitionField("month", IntegerType),
      PartitionField("day", IntegerType, required = false)))
    import spark.implicits._
    val df = Seq((2024, 7)).toDF("y", "m")
    val path = df.select(parser.format(Map(
      "year" -> col("y"), "month" -> lpad(col("m").cast("string"), 2, "0"),
      "day" -> lit(null))).as("p")).collect()(0).getString(0)
    assert(path == "year=2024/month=07")
  }

  test("TimePartitionGenerator: formats and granularities (reference tests)") {
    import spark.implicits._
    val ts = Seq("2023-07-15 14:30:00").toDF("s").select(to_timestamp(col("s")).as("ts"))

    def path(cfg: TimePartitionConfig): String =
      ts.select(new TimePartitionGenerator(cfg).generatePath(col("ts"))).collect()(0).getString(0)

    assert(path(TimePartitionConfig(TimeGranularity.Daily)) == "year=2023/month=07/day=15")
    assert(path(TimePartitionConfig(TimeGranularity.Hourly)) == "year=2023/month=07/day=15/hour=14")
    assert(path(TimePartitionConfig(TimeGranularity.Monthly, format = "path")) == "2023/07")
    assert(path(TimePartitionConfig(TimeGranularity.Daily, prefix = "data", format = "path")) == "data/2023/07/15")
    // includeMinute forces hour
    assert(path(TimePartitionConfig(TimeGranularity.Daily, includeMinute = true))
      == "year=2023/month=07/day=15/hour=14/minute=30")

    val range = new TimePartitionGenerator(TimePartitionConfig(TimeGranularity.Daily))
      .generatePathsForRange(spark, "2023-07-01 00:00:00", "2023-07-05 00:00:00")
      .collect().map(_.getString(0))
    assert(range.length == 5 && range.head == "year=2023/month=07/day=01")
  }

  test("ChangeDetector: quick vs full vs ignoreEtagOnSize (reference :390)") {
    import spark.implicits._
    val prev = Seq(
      ("a", 10L, "e1", 1000L), // etag changes only → full-only modification
      ("b", 20L, "e2", 2000L), // unchanged
      ("c", 30L, "e3", 3000L)  // deleted
    ).toDF("key", "size", "etag", "last_modified_us")
    val cur = Seq(
      ("a", 10L, "eX", 1000L),
      ("b", 20L, "e2", 2000L),
      ("d", 40L, "e4", 4000L)  // added
    ).toDF("key", "size", "etag", "last_modified_us")

    def types(opts: ChangeDetectionOptions) =
      new ChangeDetector(opts).detectChanges(prev, cur)
        .select("key", "change_type").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap

    val full = types(ChangeDetectionOptions(compareMode = "full"))
    assert(full == Map("a" -> "modified", "b" -> "unchanged", "c" -> "deleted", "d" -> "added"))

    val quick = types(ChangeDetectionOptions(compareMode = "quick"))
    assert(quick("a") == "unchanged") // etag ignored in quick mode

    val ign = types(ChangeDetectionOptions(ignoreEtagOnSize = true))
    assert(ign("a") == "unchanged") // same size → etag skipped

    val noDel = types(ChangeDetectionOptions(trackDeleted = false))
    assert(!noDel.contains("c"))
  }

  test("ChangeDetector: presence comes from the key, not from a null etag") {
    import spark.implicits._
    val cols = Seq("key", "size", "etag", "last_modified_us")
    val prev = Seq[(String, Long, String, Long)](
      ("same", 10L, null, 1000L),    // null etag on both sides
      ("etag_lost", 20L, "e2", 2000L), // etag null only in cur
      ("old", 30L, "e3", 3000L)
    ).toDF(cols: _*)
    val cur = Seq[(String, Long, String, Long)](
      ("same", 10L, null, 1000L),
      ("etag_lost", 20L, null, 2000L),
      ("new", 40L, null, 4000L)
    ).toDF(cols: _*)
    val got = new ChangeDetector(ChangeDetectionOptions(compareMode = "quick"))
      .detectChanges(prev, cur).select("key", "change_type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("same" -> "unchanged", "etag_lost" -> "unchanged",
      "old" -> "deleted", "new" -> "added"))
  }

  test("Graft facade: factory surface mirrors Rehiver statics (reference :1985)") {
    import org.apache.spark.sql.types.IntegerType
    val parser = Graft.partition.create(PartitionField("year", IntegerType))
    assert(parser.createGlobPattern(Map.empty) == "year=*")
    import spark.implicits._
    val ts = Seq("2023-07-15 14:30:00").toDF("s").select(to_timestamp(col("s")).as("ts"))
    val p = ts.select(Graft.time.daily(_.copy(prefix = "data")).generatePath(col("ts")))
      .collect()(0).getString(0)
    assert(p == "data/year=2023/month=07/day=15")
    assert(Graft.changes.detect().isInstanceOf[ChangeDetector])
    assert(Graft.matcher().isInstanceOf[PathMatcher])
  }

  test("ContentTypes: detect / isText / extension (reference :103-160)") {
    val df = pathsDf("a/b.json", "a/b.PNG", "a/b.weird", "a/b")
    val out = df.select(
      api.ContentTypes.detect(col("key")).as("mime"),
      api.ContentTypes.isText(api.ContentTypes.detect(col("key"))).as("txt")).collect()
    assert(out(0).getString(0) == "application/json" && out(0).getBoolean(1))
    assert(out(1).getString(0) == "image/png" && !out(1).getBoolean(1)) // case-insensitive ext
    assert(out(2).getString(0) == "application/octet-stream")
    assert(out(3).getString(0) == "application/octet-stream")
    val ext = df.sparkSession.range(1)
      .select(api.ContentTypes.extension(lit("text/csv"))).collect()(0).getString(0)
    assert(ext == "csv")
    val cs = df.sparkSession.range(1).select(
      api.ContentTypes.charset(lit("text/csv")),
      api.ContentTypes.charset(lit("image/png"))).collect()(0)
    assert(cs.getString(0) == "UTF-8" && cs.isNullAt(1))
  }

  test("TimePartitionGenerator: generateCurrentPath (reference :1977)") {
    // pinned clock: 2023-07-15T14:25:00Z
    val clock = java.time.Clock.fixed(
      java.time.Instant.parse("2023-07-15T14:25:00Z"), java.time.ZoneOffset.UTC)
    assert(Graft.time.daily().generateCurrentPath(clock) == "year=2023/month=07/day=15")
    assert(Graft.time.hourly().generateCurrentPath(clock) == "year=2023/month=07/day=15/hour=14")
    assert(Graft.time.monthly(_.copy(format = "path", prefix = "logs"))
      .generateCurrentPath(clock) == "logs/2023/07")
    // Column twin agrees: generatePath on the same pinned timestamp
    val viaCol = spark.sql("SELECT TIMESTAMP'2023-07-15 14:25:00' AS ts")
      .select(Graft.time.daily().generatePath(col("ts"))).collect()(0).getString(0)
    assert(viaCol == Graft.time.daily().generateCurrentPath(clock))
    // and the current_timestamp() form produces a path of the same shape
    val nowPath = spark.range(1)
      .select(Graft.time.daily().generateCurrentPath()).collect()(0).getString(0)
    assert(nowPath.matches("year=\\d{4}/month=\\d{2}/day=\\d{2}"))
  }

  test("ChangeDetector: commitChanges / resetState lifecycle (reference :589)") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft_state").toString + "/prev"
    val cd = Graft.changes.detect()
    val run1 = Seq(("a", 1L, "e1", 10L), ("b", 2L, "e2", 20L))
      .toDF("key", "size", "etag", "last_modified_us")
    // first commit: run1 becomes the previous state
    cd.commitChanges(run1, state)
    val run2 = Seq(("a", 1L, "e1", 10L), ("b", 3L, "e3", 30L), ("c", 4L, "e4", 40L))
      .toDF("key", "size", "etag", "last_modified_us")
    val changes = cd.detectChanges(cd.loadSnapshot(spark, state), run2)
      .select("key", "change_type").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(changes == Map("a" -> "unchanged", "b" -> "modified", "c" -> "added"))
    // commit run2, detect again → all unchanged
    cd.commitChanges(run2, state)
    val rerun = cd.detectChanges(cd.loadSnapshot(spark, state), run2)
    assert(rerun.filter(col("change_type") =!= "unchanged").count() == 0)
    // a failed swap never corrupts: old state survives a no-op re-commit
    cd.commitChanges(run2, state)
    assert(cd.loadSnapshot(spark, state).count() == 3)
    // reset: state gone
    cd.resetState(spark, state)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(state)))
  }

  test("CorpusOps: LLM-pipeline ops over an arbitrary user DataFrame") {
    import spark.implicits._
    val long1 = (1 to 80).map(i => s"tok$i the a").mkString(" ")
    val docs = Seq(
      (1L, long1), (2L, long1), // exact dups
      (3L, "the a short one"),
      (4L, (1 to 80).map(i => s"other$i of to").mkString(" ")))
      .toDF("doc_id", "text")

    val groups = api.CorpusOps.exactDupGroups(docs).collect()
    assert(groups.length == 1 &&
      groups(0).getAs[Long]("rep_id") == 1L && groups(0).getAs[Long]("n_copies") == 2L)

    val keep = api.CorpusOps.dedupKeepList(docs)
      .select("doc_id", "keep").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keep(1L) && !keep(2L) && keep(3L) && keep(4L))

    val q = api.CorpusOps.qualityScore(docs)
      .select("doc_id", "n_words", "score").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(q(1L)._1 == 240L && q(3L)._1 == 4L)
    assert(q(1L)._2 > q(3L)._2) // long diverse doc outranks short one

    val chunks = api.CorpusOps.chunk(docs.filter($"doc_id" === 1), words = 64, stride = 48)
    assert(chunks.count() == 5) // 240 words / stride 48
    assert(chunks.filter($"chunk_idx" === 0).select("chunk_text")
      .collect()(0).getString(0).startsWith("tok1 the a"))
  }

  test("CorpusOps.spanDedupStats: duplicated spans counted corpus-wide, keep flag at 0.5") {
    import spark.implicits._
    val shared = (1 to 16).map(i => s"same$i").mkString(" ")  // 2 spans, in both docs
    val docs = Seq(
      (1L, shared + " " + (1 to 16).map(i => s"only-a$i").mkString(" ")), // 2/4 dup -> keep
      (2L, shared + " " + (1 to 8).map(i => s"only-b$i").mkString(" ")),  // 2/3 dup -> drop
      (3L, (1 to 24).map(i => s"uniq$i").mkString(" ")))                  // 0/3 dup -> keep
      .toDF("doc_id", "text")
    val stats = api.CorpusOps.spanDedupStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"), r.getAs[Boolean]("keep"))).toMap
    assert(stats(1L) == ((4L, 2L, true)), s"doc 1: ${stats(1L)}")
    assert(stats(2L) == ((3L, 2L, false)), s"doc 2: ${stats(2L)}")
    assert(stats(3L) == ((3L, 0L, true)), s"doc 3: ${stats(3L)}")
  }

  test("CorpusOps.dedupKeepList: transitive chain keeps exactly one doc per component") {
    import spark.implicits._
    // C = X++Y++Z; A = X++Y; B = Y++Z. Shingle Jaccard(A,C) ≈ J(B,C) ≈
    // 0.65 (pairs), J(A,B) ≈ 0.32 (no pair) — a chain through C. C has
    // the MAX doc_id, so both pairs land as (end, 9): the old
    // drop-doc_b heuristic would keep BOTH ends of one cluster.
    val x = (1 to 30).map(i => s"xw$i").mkString(" ")
    val y = (1 to 30).map(i => s"yw$i").mkString(" ")
    val z = (1 to 30).map(i => s"zw$i").mkString(" ")
    val docs = Seq(
      (5L, s"$x $y"), (7L, s"$y $z"), (9L, s"$x $y $z"),
      (11L, (1 to 60).map(i => s"solo$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = api.CorpusOps.nearDupPairs(docs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((5L, 9L), (7L, 9L)), s"expected the chain shape, got $pairs")
    val keep = api.CorpusOps.dedupKeepList(docs)
      .select("doc_id", "keep").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keep == Map(5L -> true, 7L -> false, 9L -> false, 11L -> true),
      s"one doc per component must survive, got $keep")
  }

  test("CorpusOps.sampleStratified: deterministic, rate-respecting, rerun-stable") {
    import spark.implicits._
    val rows = (1L to 2000L).map(i =>
      (i, if (i % 3 == 0) "rare" else "common", s"payload$i"))
    val df = rows.toDF("id", "stratum", "payload")
    val rates = Map("rare" -> 1000000L, "common" -> 100000L)
    val sampled = api.CorpusOps.sampleStratified(df, "id", "stratum", rates)
    val byStratum = sampled.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rare keeps everything (1e6 ppm); common keeps ~10%
    assert(byStratum("rare") == rows.count(_._2 == "rare"))
    val commonTotal = rows.count(_._2 == "common")
    assert(byStratum("common") > commonTotal / 20 && byStratum("common") < commonTotal / 5,
      s"~10% expected, got ${byStratum("common")}/$commonTotal")
    // pure function of the row: a rerun selects the SAME ids
    val ids1 = sampled.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = api.CorpusOps.sampleStratified(df, "id", "stratum", rates)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // unseen stratum falls back to defaultPpm=0 → dropped entirely
    val none = api.CorpusOps.sampleStratified(
      df.withColumn("stratum", lit("other")), "id", "stratum", rates, defaultPpm = 0L)
    assert(none.count() == 0)
    assertThrows[IllegalArgumentException] {
      api.CorpusOps.sampleStratified(df, "id", "stratum", Map("x" -> 2000000L))
    }
  }

  test("CorpusOps.packBins: bins respect the token budget within each shard") {
    import spark.implicits._
    val docs = (1L to 400L).map(i =>
      (i, (1 to (i % 50 + 10).toInt).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = api.CorpusOps.packBins(docs, budgetTokens = 200L, shardDocs = 100L)
    assert(packed.count() == 400) // assignment, not aggregation: every doc lands
    val bins = packed.groupBy("shard", "bin")
      .agg(sum("n_tokens").as("tok"), count(lit(1)).as("n")).collect()
    // greedy invariant: a bin only exceeds budget by less than its last doc,
    // i.e. every bin's START offset is under budget → tok - last < 200
    val perBin = packed.collect().groupBy(r => (r.getAs[Long]("shard"), r.getAs[Long]("bin")))
    perBin.foreach { case ((s0, b), rs) =>
      val toks = rs.map(_.getAs[Long]("n_tokens"))
      assert(toks.sum - toks.max < 200L, s"bin ($s0,$b) start offset past budget")
    }
    // shards are independent: shard = doc_id div 100
    assert(packed.filter($"doc_id" === 101L).select("shard").head().getLong(0) == 1L)
  }

  test("CorpusOps.mixPlan: largest corpus every target share can be served from") {
    import spark.implicits._
    // availability: a=100, b=50, c=30, d=999 (untargeted)
    val rows = (1 to 100).map(i => (i.toLong, "a")) ++
      (1 to 50).map(i => (1000L + i, "b")) ++
      (1 to 30).map(i => (2000L + i, "c")) ++
      (1 to 999).map(i => (3000L + i, "d"))
    val df = rows.toDF("id", "src")
    val plan = api.CorpusOps.mixPlan(df, "src",
      Map("a" -> 500000L, "b" -> 300000L, "c" -> 200000L))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_avail"), r.getAs[Long]("n_take"))).toMap
    // binding source is c: M = min(100/.5, 50/.3, 30/.2) = min(200, 166, 150) = 150
    assert(plan == Map("a" -> (100L, 75L), "b" -> (50L, 45L), "c" -> (30L, 30L)),
      s"got $plan")
    // untargeted source excluded entirely
    assert(!plan.contains("d"))
    assertThrows[IllegalArgumentException] {
      api.CorpusOps.mixPlan(df, "src", Map("a" -> 0L))
    }
  }

  test("CorpusOps.piiScrub: redacts in place and counts matches on a user frame") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at alice@example.com or 10.0.0.1 thanks"),
      (2L, "no pii here at all"),
      (3L, "bob@corp.io and carol@corp.io wrote from 192.168.1.100"))
      .toDF("doc_id", "text")
    val out = api.CorpusOps.piiScrub(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Long]("n_emails"), r.getAs[Long]("n_ips"))).toMap
    assert(out(1L) == ("reach me at <EMAIL> or <IP> thanks", 1L, 1L))
    assert(out(2L) == ("no pii here at all", 0L, 0L))
    assert(out(3L)._2 == 2L && out(3L)._3 == 1L)
    assert(!out.values.exists(v => v._1.contains("@") || v._1.matches(".*\\d+\\.\\d+\\.\\d+\\.\\d+.*")))
  }

  test("EventOps: decay, gap-fill, hop-window, markov, cohort over a user-shaped frame") {
    import spark.implicits._
    val us = 1000000L
    val hour = 3600L * us
    // three users, hand-checkable timeline (hours 0, 1, 3; values in cents-friendly decimals)
    val df = Seq(
      (1L, 0L * hour, "a", 10.00),
      (1L, 1L * hour, "b", 20.00),
      (2L, 0L * hour, "a", 40.00),
      (2L, 3L * hour, "a", 8.00),
      (3L, 3L * hour, "b", 16.00))
      .toDF("uid", "ts_us", "kind", "v")

    // decay with 1-HOUR half-life anchored at hour 4: ages 4,3,4,1,1
    val dec = api.EventOps.decayScore(df, "uid", "ts_us", "v",
        anchorUs = 4L * hour, unitUs = hour, maxAge = 10)
      .collect().map(r => r.getAs[Long]("uid") -> r.getAs[Double]("decayed_score")).toMap
    assert(dec(1L) == 10.00 / 16 + 20.00 / 8)
    assert(dec(2L) == 40.00 / 16 + 8.00 / 2)
    assert(dec(3L) == 16.00 / 2)

    // gap-fill: user 2 spans hours 0..3 with silent hours 1, 2
    val gf = api.EventOps.gapFill(df.filter($"uid" === 2L), "kind", "ts_us", hour)
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("n")).toMap
    assert(gf == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 1L))

    // hop-window (2 hops of 1 hour): each event lands in 2 windows
    val hw = api.EventOps.hopWindow(df, "kind", "ts_us", hopUs = hour, hops = 2)
      .collect().map(r => (r.getAs[String]("kind"), r.getAs[Long]("window_start_us") / hour,
        r.getAs[Long]("n_events"))).toSet
    assert(hw.contains(("a", -1L, 2L)) && hw.contains(("a", 0L, 2L)))
    assert(hw.contains(("a", 2L, 1L)) && hw.contains(("a", 3L, 1L)))

    // markov: user1 a→b, user2 a→a, user3 <start>→b
    val mk = api.EventOps.markovTransitions(df, "uid", "kind", "ts_us", "v")
      .collect().map(r => (r.getAs[String]("from_state"), r.getAs[String]("to_state")) ->
        r.getAs[Long]("n_transitions")).toMap
    assert(mk == Map(("<start>", "a") -> 2L, ("<start>", "b") -> 1L,
      ("a", "b") -> 1L, ("a", "a") -> 1L))

    // cohort (1-hour periods): all three cohorts at age 0; user 2 returns at age 3
    val cm = api.EventOps.cohortMatrix(df, "uid", "ts_us", hour)
      .collect().map(r => (r.getAs[Long]("cohort_period"), r.getAs[Long]("age")) ->
        r.getAs[Long]("n_active")).toMap
    assert(cm == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 1L, (3L, 0L) -> 1L))
  }

  test("CorpusOps.urlDedupGroups: scheme/www/port/query/slash noise collapses to one page") {
    import spark.implicits._
    val df = Seq(
      (1L, "https://Alpha.Example.com/p1"),
      (2L, "HTTP://WWW.alpha.example.com/p1/"),
      (3L, "https://alpha.example.com:443/p1?utm_source=feed"),
      (4L, "https://www.alpha.example.com/p1?ref=rss"),
      (5L, "https://beta.example.org/p2"))
      .toDF("doc_id", "url")
    val canon = api.CorpusOps.canonicalizeUrls(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("canonical_url"), r.getAs[String]("domain"))).toMap
    assert((1L to 4L).forall(i => canon(i) == ("alpha.example.com/p1", "alpha.example.com")))
    assert(canon(5L) == ("beta.example.org/p2", "beta.example.org"))
    val groups = api.CorpusOps.urlDedupGroups(df).collect()
      .map(r => r.getAs[String]("canonical_url") ->
        (r.getAs[Long]("n_variants"), r.getAs[Long]("keeper"))).toMap
    assert(groups == Map(
      "alpha.example.com/p1" -> (4L, 1L),
      "beta.example.org/p2" -> (1L, 5L)))
    // blocklist gate: blocking alpha drops its four variants, keeps beta
    val kept = api.CorpusOps.blocklistFilter(df, Seq("alpha.example.com"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(5L))
  }

  test("CorpusOps.neighborGraph: planted clusters neighbor within themselves") {
    import spark.implicits._
    // two well-separated clusters of 20 vectors; id 7 provides the seed
    val rows = (0L until 40L).map { i =>
      val v = if (i < 20) Array(100f, i.toFloat, 1f, 0f) else Array(i.toFloat, 100f, 0f, 1f)
      (i, v)
    }
    val g = api.CorpusOps.neighborGraph(rows.toDF("vec_id", "embedding"), k = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id"))
    assert(g.length == 40)
    g.foreach { case (id, nb) =>
      assert((id < 20) == (nb < 20), s"$id's nearest neighbor $nb crossed clusters")
      assert(id != nb)
    }
  }

  test("EventOps.decayScore: exactly additive over any split of the stream") {
    import spark.implicits._
    // the integer-units design makes the score ORDER-INVARIANT
    // bit-exactly (any row order sums to the same BIGINT units before
    // the single division) — the property that makes retries and
    // speculative attempts safe. Additivity over a split holds to an
    // ulp (the one final division rounds once per operand).
    val rnd = new scala.util.Random(7)
    val hour = 3600L * 1000000
    val evs = (1 to 120).map { _ =>
      (rnd.nextInt(3).toLong, rnd.nextInt(72).toLong * hour,
        (rnd.nextInt(20000) + 1) / 100.0)
    }
    def scores(rows: Seq[(Long, Long, Double)]) =
      api.EventOps.decayScore(rows.toDF("uid", "ts_us", "v"),
          "uid", "ts_us", "v", anchorUs = 72L * hour, unitUs = hour, maxAge = 40)
        .collect().map(r => r.getAs[Long]("uid") -> r.getAs[Double]("decayed_score")).toMap
    val sAll = scores(evs)
    assert(sAll == scores(rnd.shuffle(evs)), "row order changed the score — not order-invariant")
    val (a, b) = evs.splitAt(47)
    val (sA, sB) = (scores(a), scores(b))
    sAll.foreach { case (uid, s) =>
      val sum = sA.getOrElse(uid, 0.0) + sB.getOrElse(uid, 0.0)
      assert(math.abs(s - sum) <= 4 * Math.ulp(s), s"user $uid drifted beyond rounding: $s vs $sum")
    }
  }

  test("canonicalizeUrls: idempotent and noise-invariant over 300 fuzzed URLs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789-"
    def seg(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val cases = (1 to 300).map { i =>
      val dom = s"${seg(5)}.${seg(4)}.${Seq("com", "org", "io", "dev")(rnd.nextInt(4))}"
      val path = if (rnd.nextBoolean()) s"/${seg(6)}" else s"/${seg(4)}/${seg(3)}"
      val scheme = Seq("http://", "https://", "HTTPS://", "HTTP://")(rnd.nextInt(4))
      val www = if (rnd.nextBoolean()) "www." else ""
      val port = if (rnd.nextBoolean()) ":443" else ""
      val slash = if (rnd.nextBoolean()) "/" else ""
      val query = if (rnd.nextBoolean()) s"?utm_${seg(3)}=${seg(2)}" else ""
      val domInUrl = if (rnd.nextBoolean()) dom.toUpperCase else dom
      (i.toLong, s"$scheme$www$domInUrl$port$path$slash$query", s"$dom$path")
    }
    val out = api.CorpusOps.canonicalizeUrls(cases.toDF("doc_id", "url", "expected"))
      .withColumn("again",
        graft.operators.WebCorpus.canonicalize(org.apache.spark.sql.functions.col("canonical_url")))
      .collect()
    out.foreach { r =>
      assert(r.getAs[String]("canonical_url") == r.getAs[String]("expected"),
        s"noise variant survived: ${r.getAs[String]("url")} -> ${r.getAs[String]("canonical_url")}")
      assert(r.getAs[String]("again") == r.getAs[String]("canonical_url"),
        s"not idempotent: ${r.getAs[String]("canonical_url")}")
    }
  }

  test("CorpusOps.repetitionMetrics: planted repetitive doc flagged, clean doc passes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (3L, "x") // single word → zero bigrams
    ).toDF("id", "body")
    val out = CorpusOps.repetitionMetrics(docs, idCol = "id", textCol = "body")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(!out(1L).getAs[Boolean]("repetitive"), "varied prose must pass")
    assert(out(2L).getAs[Boolean]("repetitive"), "one repeated bigram must flag")
    assert(out(2L).getAs[Double]("top_share") == 1.0 &&
      out(2L).getAs[Double]("dup_frac") == 1.0)
    assert(out(3L).getAs[Long]("n_bigrams") == 0L &&
      !out(3L).getAs[Boolean]("repetitive"))
    // original columns survive
    assert(out(1L).getAs[String]("body").startsWith("the quick"))
  }

  test("api twins keep the contract keys' overflow guards") {
    import spark.implicits._
    // one 1-hour gap at unitUs = 1: gap² = 1.296e19 passes 2⁶³, which
    // events_burstiness's DECIMAL(38,0) moment absorbs
    val ev = Seq((1L, "a", 0L, 1L), (1L, "a", 3600000000L, 2L)).toDF("k", "g", "ts_us", "id")
    val b = EventOps.burstiness(ev, "g", "k", "ts_us", "id", unitUs = 1L).collect()
    assert(b.length == 1 && b(0).getAs[Long]("n_gaps") == 1L)
    assert(b(0).getAs[Long]("mean_gap_units") == 3600000000L)
    // 4.0e6 → 4e9 milli, squared 1.6e19 > 2⁶³ (embed_dim_stats's s2)
    val v = Seq((1L, Seq(4.0e6, 1.0))).toDF("id", "embedding")
    val d = CorpusOps.embeddingDimStats(v).collect().map(r => r.getAs[Long]("pos") -> r).toMap
    assert(d.size == 2 && d(0L).getAs[Long]("max_milli") == 4000000000L)
    assert(d(0L).getAs[Long]("mean_ppm") == 4000000000000L)
  }

  test("CorpusOps.lmScore: mojibake-charactered doc scores lowest in its corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain english words here"),
      (2L, "plain english words there"),
      (3L, "Þ¶§þÐÞ¶§")
    ).toDF("id", "body")
    val out = CorpusOps.lmScore(docs, idCol = "id", textCol = "body")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("lm_score")).toMap
    assert(out(3L) < out(1L) && out(3L) < out(2L),
      s"rare-charactered doc must score lowest: $out")
  }

  test("Maintenance.compactPlanFor: caller manifest and target, bins within one file of target") {
    import spark.implicits._
    val manifest = Seq(
      ("logs/a/part-1", 60L), ("logs/a/part-2", 60L), ("logs/a/part-3", 60L),
      ("logs/b/part-1", 10L)).toDF("key", "size")
    val plan = graft.operators.Maintenance.compactPlanFor(manifest, target = 100L)
      .collect().map(r => r.getString(0) -> r).toMap
    // a: cum-before = 0,60,120 → bins 0,0,1 (two bins); b: one bin
    assert(plan("logs/a").getAs[Long]("n_bins") == 2L)
    assert(plan("logs/a").getAs[Long]("max_bin_bytes") == 120L)
    assert(plan("logs/b").getAs[Long]("n_bins") == 1L)
  }

  test("CorpusOps.semanticKeepList: planted identical pair keeps the min id") {
    import spark.implicits._
    // 100 deterministic 64-dim vectors (ids span the centroid-seed
    // modulus); id 9 carries id 3's exact vector — one semantic dup
    def vec(id: Long): Array[Float] = {
      val rnd = new scala.util.Random(id) // deterministic per id, well mixed
      Array.fill(64)((rnd.nextInt(1009) - 504).toFloat)
    }
    val rows = (0L until 100L).map(id => (id, if (id == 9L) vec(3L) else vec(id)))
    val df = rows.toDF("vid", "emb")
    val out = CorpusOps.semanticKeepList(df, idCol = "vid", vecCol = "emb", tau = 0.95)
      .collect().map(r => r.getAs[Long]("vid") -> r).toMap
    assert(out.size == 100)
    assert(out(3L).getAs[Boolean]("keep"), "representative (min id) must keep")
    assert(!out(9L).getAs[Boolean]("keep"), "the identical copy must drop")
    assert(out(9L).getAs[Long]("component") == 3L)
    val dropped = out.values.count(!_.getAs[Boolean]("keep"))
    assert(dropped == 1, s"exactly the planted dup drops, got $dropped")
  }

  test("S3Keys: isValidBucketName (reference :35)") {
    val cases = Seq(
      "my-bucket" -> true, "a.b.c" -> true, "abc" -> true,
      "ab" -> false, // too short
      ("a" * 64) -> false, // too long
      "My-Bucket" -> false, // uppercase
      "-leading" -> false, "trailing-" -> false,
      "bad..dots" -> false, "192.168.1.1" -> false,
      "xn--punycode" -> false, "name-s3alias" -> false)
    val df = pathsDf(cases.map(_._1): _*)
      .withColumn("ok", S3Keys.isValidBucketName(col("key")))
    val got = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (b, exp) => assert(got(b) == exp, s"bucket $b") }
  }

  test("S3Keys: encodeURIComponent-per-segment twin (reference :315-339)") {
    // expected values computed with JS encodeURIComponent per segment
    val vectors = Seq(
      "data/year=2024/file.parquet" -> "data/year%3D2024/file.parquet",
      "a b/c+d" -> "a%20b/c%2Bd",
      "ok-_.!~*'()/x" -> "ok-_.!~*'()/x", // all bare in encodeURIComponent
      "f#g?h&i=j" -> "f%23g%3Fh%26i%3Dj",
      "ünïcode/ß" -> "%C3%BCn%C3%AFcode/%C3%9F",
      "/leading/trailing/" -> "/leading/trailing/",
      "pct%20literal" -> "pct%2520literal")
    // driver-side String twins
    vectors.foreach { case (in, enc) =>
      assert(S3Keys.encodeS3Key(in) == enc, s"encode($in)")
      assert(S3Keys.decodeS3Key(enc) == in, s"decode($enc)")
    }
    // a raw '+' survives decode (decodeURIComponent leaves it; form
    // decoding would turn it into a space)
    assert(S3Keys.decodeS3Key("a+b") == "a+b")
    // Column twins agree with the String twins
    val df = pathsDf(vectors.map(_._1): _*)
      .withColumn("enc", S3Keys.encodeS3Key(col("key")))
      .withColumn("dec", S3Keys.decodeS3Key(col("enc")))
    df.collect().foreach { r =>
      assert(r.getString(1) == S3Keys.encodeS3Key(r.getString(0)), s"col enc ${r.getString(0)}")
      assert(r.getString(2) == r.getString(0), s"col roundtrip ${r.getString(0)}")
    }
  }

  test("EventOps.forecastSkill: hand series with known error mass") {
    import spark.implicits._
    val day = 86400L * 1000000
    // group g: days 0..13, count = 2 on even days, 3 on odd days
    // (period 2, so lag-7 flips parity: every scored day errs by 1)
    val rows = (0L to 13L).flatMap { d =>
      val n = if (d % 2 == 0) 2 else 3
      (1 to n).map(_ => ("g", d * day + 1))
    }
    val f = api.EventOps.forecastSkill(rows.toDF("g", "ts_us"), "g", "ts_us").head()
    assert(f.getAs[Long]("n_buckets") == 7L) // days 7..13 scored
    assert(f.getAs[Long]("sum_abs_err") == 7L) // |2-3| per scored day
    assert(f.getAs[Long]("mae_ppm") == 1000000L)
  }

  test("EventOps.backlogSweep: hand open/close streams telescope") {
    import spark.implicits._
    val opens = Seq(1L, 1L, 2L, 4L).toDF("day")
    val closes = Seq(2L, 5L).toDF("day")
    val got = api.EventOps.backlogSweep(opens, closes, "day")
      .orderBy("day").collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("opened"),
        r.getAs[Long]("closed"), r.getAs[Long]("backlog")))
    assert(got.toSeq == Seq((1L, 2L, 0L, 2L), (2L, 1L, 1L, 2L),
      (4L, 1L, 0L, 3L), (5L, 0L, 1L, 2L)))
  }

  test("CorpusOps.pageRankStep: uniform ring conserves the uniform rank") {
    import spark.implicits._
    // a 10-node ring with uniform rank: one damped step must return
    // the same uniform rank exactly (fixed point of the ring graph)
    val n = 10L
    val ranks = (0L until n).map(i => (i, 100000000L)).toDF("id", "r_ppb")
    val edges = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val next = api.CorpusOps.pageRankStep(edges, ranks, "src", "dst", "id", "r_ppb")
      .collect()
    assert(next.length == 10)
    next.foreach { r =>
      // (1-d)/n + d·(1/n) = 1/n exactly in ppb fixed point
      assert(r.getAs[Long]("r_ppb") == 100000000L,
        s"node ${r.getAs[Long]("id")}: ${r.getAs[Long]("r_ppb")}")
    }
  }

  test("CorpusOps.bpePairCounts: hand vocab with overlapping pairs") {
    import spark.implicits._
    // "aaa" contributes 'aa' twice per occurrence; two docs
    val docs = Seq((1L, "aaa ab"), (2L, "aaa")).toDF("doc_id", "text")
    val byPair = api.CorpusOps.bpePairCounts(docs).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_types"))).toMap
    // vocab 'aaa' (count 2) contributes the pair at 2 positions:
    // n_pairs = 2 occurrences × 2 positions, n_types = 2 position slots
    assert(byPair("aa") == ((4L, 2L)))
    assert(byPair("ab") == ((1L, 1L)))
  }
}
