package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.IntegerType
import graft.api._

/** One executed op: its span and phase spans (absent when it threw),
  * whether its output matched, and per-op figures the spans lack. */
final case class Op(key: String, span: Option[Span], phases: Seq[Span], ok: Boolean,
                    extra: Map[String, Double] = Map.empty) {
  def latency: Double = span.fold(Double.NaN)(_.seconds)
}

/** A workload is set up on a fresh session (Main times that), then runs
  * ops one after another: a single client in a closed loop. */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** Untimed steps that let the JIT and Spark's code generator warm up. */
  def warmupSteps: Int
  /** One step of a window: a pass over the keys or one sync cycle; empty
    * when the workload has nothing left to run. */
  def step(spark: SparkSession, tr: Tracer): Seq[Op]
}

object Workloads {
  /** Interactive queries: one contract-tier key per plan shape
    * (aggregate, join, window, rollup, top-k, sessionize, as-of join,
    * pivot, glob match, Hive parse, change diff, MinHash dedup), each
    * oracle-backed and outside SparkEntry.auditTier, and two job-bound
    * audit keys: the converge ladder sketch_kll, which spends its time in
    * build-time jobs, and the grading gate dedup_minhash_recall, whose
    * final action runs dozens of jobs. */
  val queryMix: Seq[String] = Seq(
    "q1_agg", "q3_join", "q_window", "q_rollup", "q_topk", "events_sessionize",
    "events_asof", "events_pivot", "glob_match", "hive_parse", "change_detect",
    "dedup_minhash", "sketch_kll", "dedup_minhash_recall")

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def filesUnder(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try { import scala.jdk.CollectionConverters._; s.iterator.asScala.filter(Files.isRegularFile(_)).toList }
      finally s.close()
    }

  def checkpointFiles(spark: SparkSession): Seq[Path] =
    spark.sparkContext.getCheckpointDir.fold(Seq.empty[Path])(d =>
      filesUnder(Paths.get(new java.net.URI(d))))

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** query_mix: each op clears the CacheManager, then builds one key's
  * DataFrame, plans it and collects it. A step is a pass over the keys in
  * a new seeded order, so every run times each key equally often
  * whatever the seed. */
final class QueryWorkload(keys: Seq[String], tablesDir: String,
                          expected: Map[String, String], rng: java.util.Random) extends Workload {
  import Workloads._
  private var opId = 0

  def setup(spark: SparkSession): Unit =
    tables.foreach(t => graft.sources.Tables.load(spark, tablesDir, t).count())

  val warmupSteps = 1

  def step(spark: SparkSession, tr: Tracer): Seq[Op] = {
    val order = keys.toArray
    for (i <- order.indices.reverse) {
      val j = rng.nextInt(i + 1); val k = order(i); order(i) = order(j); order(j) = k
    }
    order.toSeq.map(run(spark, tr, _))
  }

  private def run(spark: SparkSession, tr: Tracer, key: String): Op = {
    spark.catalog.clearCache()
    opId += 1
    val traced = tr.traced
    val ckptBefore = if (traced) checkpointFiles(spark).toSet else Set.empty[Path]
    try {
      val fn = graft.SparkEntry.queries(key)
      val ((cols, rows, phases), span) = tr.span(0, opId, "op", key) { id =>
        val (df, b) = tr.span(id, opId, "build", key)(_ => fn(spark, tablesDir))
        val (_, p) = tr.span(id, opId, "plan", key)(_ => df.queryExecution.executedPlan)
        val (rows, a) = tr.span(id, opId, "action", key)(_ => df.collect())
        (df.columns.toSeq, rows, Seq(b, p, a))
      }
      val ok = Canon.digest(cols, rows) == expected(key)
      if (!ok) log(s"$key: result differs from the DuckDB oracle (${rows.length} rows)")
      val extra = if (!traced) Map.empty[String, Double] else {
        val added = checkpointFiles(spark).filterNot(ckptBefore)
        Map("checkpoint_files" -> added.size.toDouble,
          "checkpoint_mb" -> added.map(Files.size(_)).sum / 1e6,
          "cache_entries_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble)
      }
      Op(key, Some(span), phases, ok, extra)
    } catch {
      case e: Throwable => log(s"$key failed: $e"); Op(key, None, Nil, ok = false)
    }
  }
}

/** A replayable lake mutation plan written by gen_lake.py. */
final case class LakePlan(patterns: Seq[String],
                          ops: Map[Int, Seq[Array[String]]],
                          expect: Map[Int, (Long, Long, Long, Long)]) {
  def cycles: Int = expect.keys.max
}

object LakePlan {
  def read(path: String): LakePlan = {
    val lines = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val rows = lines.getLines().map(_.split("\t", -1)).toVector
      LakePlan(
        rows.filter(_(0) == "pattern").map(_(1)),
        rows.filter(r => r(0) == "put" || r(0) == "del").groupBy(_(1).toInt),
        rows.filter(_(0) == "expect").map(r =>
          r(1).toInt -> ((r(2).toLong, r(3).toLong, r(4).toLong, r(5).toLong))).toMap)
    } finally lines.close()
  }
}

/** lake_sync: one op is one sync cycle over the lake, after the cycle's
  * planned mutations land: list, glob-match and validate, diff against
  * the committed snapshot (quick mode), commit. */
final class LakeSync(lakeDir: String, stateDir: String, plan: LakePlan) extends Workload {
  import Workloads._
  private val lakeUri = Paths.get(lakeDir).toUri.toString
  private val stateUri = Paths.get(stateDir).toUri.toString
  private val matcher = new PathMatcher
  private val parser = new HivePartitionParser(Seq(
    PartitionField("year", IntegerType, min = Some(2020), max = Some(2026)),
    PartitionField("month", IntegerType, min = Some(1), max = Some(12)),
    PartitionField("day", IntegerType, min = Some(1), max = Some(31)),
    PartitionField("event_type", enumVals = Seq("click", "view", "purchase", "signup", "error"))))
  private val detector = new ChangeDetector(ChangeDetectionOptions(compareMode = "quick"))
  private var cycle = 0

  /** the listing narrowed to tracked objects; the listing has no etag, so
    * a constant stands in (quick mode compares size and mtime only) */
  private def track(listing: org.apache.spark.sql.DataFrame) =
    matcher.filterMatching(listing, plan.patterns)
      .filter(parser.isValid(col("key"))).withColumn("etag", lit("-"))

  def setup(spark: SparkSession): Unit = {
    detector.resetState(spark, stateUri)
    detector.commitChanges(track(graft.sources.FileManifest.list(spark, lakeUri)), stateUri)
    val n = detector.loadSnapshot(spark, stateUri).count()
    require(n == plan.expect(0)._1, s"initial snapshot holds $n tracked objects, expected ${plan.expect(0)._1}")
  }

  private def mutate(c: Int): Unit = plan.ops.getOrElse(c, Nil).foreach { r =>
    val p = Paths.get(lakeDir, r(2))
    if (r(0) == "del") Files.delete(p)
    else {
      Files.createDirectories(p.getParent)
      Files.write(p, new Array[Byte](r(3).toInt))
      Files.setLastModifiedTime(p, FileTime.fromMillis(r(4).toLong))
    }
  }

  private def syncCycle(spark: SparkSession, tr: Tracer): Op = {
    cycle += 1
    mutate(cycle)
    try {
      val ((listed, counts, phases), span) = tr.span(0, cycle, "op", "sync") { id =>
        val ((listing, listed), l) = tr.span(id, cycle, "list", "sync") { _ =>
          val listing = graft.sources.FileManifest.list(spark, lakeUri)
          (listing, listing.inputFiles.length)
        }
        val (cur, m) = tr.span(id, cycle, "match", "sync")(_ => track(listing))
        val (counts, d) = tr.span(id, cycle, "diff", "sync") { _ =>
          detector.detectChanges(detector.loadSnapshot(spark, stateUri), cur)
            .groupBy("change_type").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        }
        val (_, c) = tr.span(id, cycle, "commit", "sync")(_ => detector.commitChanges(cur, stateUri))
        (listed, counts, Seq(l, m, d, c))
      }
      val files = if (tr.traced) filesUnder(Paths.get(stateDir)).count(_.toString.endsWith(".parquet")) else 0
      val got = (counts.getOrElse("added", 0L), counts.getOrElse("modified", 0L),
        counts.getOrElse("deleted", 0L), counts.getOrElse("unchanged", 0L))
      val ok = got == plan.expect(cycle)
      if (!ok) log(s"cycle $cycle: counts $got, expected ${plan.expect(cycle)}")
      Op("sync", Some(span), phases, ok, Map(
        "listed_keys" -> listed.toDouble,
        "tracked_keys" -> (got._1 + got._2 + got._4).toDouble,
        "commit_files" -> files.toDouble,
        "cache_entries_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble))
    } catch {
      case e: Throwable => log(s"cycle $cycle failed: $e"); Op("sync", None, Nil, ok = false)
    }
  }

  val warmupSteps = 3

  def step(spark: SparkSession, tr: Tracer): Seq[Op] =
    if (cycle < plan.cycles) Seq(syncCycle(spark, tr)) else Nil
}
