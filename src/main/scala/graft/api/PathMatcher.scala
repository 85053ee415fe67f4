package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Globs

/** User-facing twin of the reference's `PathMatcher`
  * (reference src/index.ts:612: isMatch / match / matchFast / not / all /
  * capture / getRegex) — but over Columns/DataFrames, so "a list of
  * paths" can be 10⁸ manifest rows.
  *
  * Patterns compile ONCE on the driver (cached, like the reference's
  * patternCache) and run as codegen'd RLIKE — matching is a scan, never
  * a shuffle.
  */
class PathMatcher(nocase: Boolean = false) {
  private val cache = scala.collection.concurrent.TrieMap.empty[String, String]
  private val negCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Seq[String])]

  /** compiled, cached, anchored regex for a glob (reference getRegex).
    * Fails loud on extglob negation `!(…)` — one regex cannot express
    * it in RE2∩Java; use [[isMatch]], which hoists it.
    */
  def getRegex(pattern: String): String =
    cache.getOrElseUpdate(pattern, "^(?:" + Globs.compile(pattern, nocase) + ")$")

  /** anchored (positive, negatives) pair for a glob that may carry
    * extglob negation — the column-level negation path.
    */
  private def getRegexPair(pattern: String): (String, Seq[String]) =
    negCache.getOrElseUpdate(pattern, {
      val (pos, negs) = Globs.compileWithNegation(pattern, nocase)
      ("^(?:" + pos + ")$", negs.map("^(?:" + _ + ")$"))
    })

  private def matchOne(path: Column, pattern: String): Column = {
    val (pos, negs) = getRegexPair(pattern)
    negs.foldLeft(path.rlike(pos))((acc, nre) => acc && !path.rlike(nre))
  }

  private def anyRegex(patterns: Seq[String]): String =
    cache.getOrElseUpdate(patterns.mkString("\u0000"),
      "^(?:" + Globs.compileAny(patterns, nocase) + ")$")

  /** true where `path` matches ANY pattern (reference isMatch).
    * Micromatch list semantics: `!`-prefixed entries are negations —
    * the path must match some positive pattern and no negated one —
    * EXCEPT a leading `!(`, which is an extglob at position 0, not a
    * list negation (micromatch's own disambiguation). Patterns carrying
    * extglob negation compile per-pattern through the hoisted
    * (positive, negatives) pair; the rest keep the one-regex batch
    * plan, so the common path stays a single codegen'd RLIKE.
    */
  def isMatch(path: Column, patterns: String*): Column = {
    val (neg, pos) = patterns.partition(p =>
      p.startsWith("!") && !p.startsWith("!("))
    val (posExtNeg, posPlain) = pos.partition(_.contains("!("))
    val plainHit =
      if (posPlain.isEmpty) lit(false) else path.rlike(anyRegex(posPlain))
    val hit = posExtNeg.map(matchOne(path, _)).foldLeft(plainHit)(_ || _)
    if (neg.isEmpty) hit
    else hit && !path.rlike(anyRegex(neg.map(p =>
      if (p.drop(1).contains("!(")) throw new IllegalArgumentException(
        s"extglob negation inside a !-negated list entry is unsupported: $p")
      else p.drop(1))))
  }

  /** true where `path` matches EVERY pattern (reference all). */
  def all(path: Column, patterns: String*): Column =
    patterns.map(matchOne(path, _)).reduce(_ && _)

  /** rows whose `keyCol` matches any pattern (reference match/matchFast). */
  def filterMatching(df: DataFrame, patterns: Seq[String], keyCol: String = "key"): DataFrame =
    df.filter(isMatch(col(keyCol), patterns: _*))

  /** rows whose `keyCol` matches NO pattern (reference not). */
  def filterNot(df: DataFrame, patterns: Seq[String], keyCol: String = "key"): DataFrame =
    df.filter(!isMatch(col(keyCol), patterns: _*))

  /** array of values captured by `:name` / `*` placeholders, or null if
    * the path doesn't match (reference capture).
    */
  def capture(pattern: String, path: Column): Column =
    captured(pattern, path)(groups => array(groups.map(_._2): _*))

  /** named captures as a struct column (Spark-idiomatic convenience). */
  def captureStruct(pattern: String, path: Column): Column =
    captured(pattern, path)(groups => struct(groups.map { case (n, g) => g.as(n) }: _*))

  /** the capture pattern compiled once: `wrap` receives each group's
    * (name, extracted value); null where the path doesn't match.
    */
  private def captured(pattern: String, path: Column)(wrap: Seq[(String, Column)] => Column): Column = {
    val (re0, names) = Globs.compileCapture(pattern)
    val re = "^" + re0 + "$"
    when(path.rlike(re),
      wrap(names.zipWithIndex.map { case (n, i) => n -> regexp_extract(path, re, i + 1) }))
      .otherwise(lit(null))
  }
}
