package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (small parallelism — test data
  * is tiny; the scale knobs live in GraftSession).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the string-conf form a SQL-only cluster uses (GraftSession uses
      // the instance form) — tests prove the reflective path injects the
      // optimizer rule + graft_* functions into every derived session
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.codegenCache)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the reliable-checkpoint home GraftSession.build sets, set once for
    // the whole suite so no spec depends on another having set it first
    GraftSession.checkpointDir(s)
    s
  }
}
