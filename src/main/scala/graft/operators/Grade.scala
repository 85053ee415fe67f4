package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The grading half of every acceptance gate: how an approximate result
  * is joined to the exact one, how hits are counted, and how recall and
  * precision become integer ppm (a zero denominator grades 0). Each
  * piece keeps its Spark spelling next to its DuckDB oracle spelling, so
  * a gate only states what its exact and approximate sides are.
  */
object Grade {

  /** Per-query recall@k of `approx` against `exact`, both
    * (query_id, neighbor_id, ...) frames: one row per exact query with
    * its exact neighbor count, the hits among them and the floored
    * recall ppm, ordered by query_id. The join is query-cardinality
    * (k rows per query), so grading costs nothing next to either side.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .withColumn("recall_ppm", expr("n_hit * 1000000 div n_exact"))
      .orderBy("query_id")

  /** [[recallAtK]]'s oracle over two (query_id, neighbor_id, ...) queries. */
  def recallAtKSql(exact: String, approx: String): String =
    s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($exact) e
       |), approx AS (SELECT query_id, neighbor_id FROM ($approx) a
       |)
       |SELECT exact.query_id, COUNT(*) AS n_exact,
       |  COUNT(approx.neighbor_id) AS n_hit,
       |  COUNT(approx.neighbor_id) * 1000000 // COUNT(*) AS recall_ppm
       |FROM exact LEFT JOIN approx
       |  ON exact.query_id = approx.query_id AND exact.neighbor_id = approx.neighbor_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hits per million of `of`, floored; a zero `of` grades 0. */
  def ppm(hits: String, of: String): Column =
    expr(s"CASE WHEN $of = 0 THEN 0 ELSE $hits * 1000000 div $of END")

  def ppmSql(hits: String, of: String): String =
    s"CASE WHEN $of = 0 THEN 0 ELSE $hits * 1000000 // $of END"

  /** Marks an exact pair among [[Pairs.sweep]]'s graded rows. */
  val InExact = "in_exact"

  /** Marks a found row among [[Pairs.sweep]]'s graded rows. */
  val InFound = "in_found"

  /** A pair-set grade: the exact pair count, the found (candidate or
    * detected) pair count, the exact pairs found (`n_hits`), and recall
    * and precision ppm over them. The two count names are per gate
    * because the oracle hash compares column names and types.
    */
  final case class Pairs(nExact: String, nFound: String) {

    /** Grades every config of a sweep in one pass. Each of `configs` is
      * one literal struct whose fields are the config columns; `found`
      * carries those columns next to `keys`. A generate fans `exact` out
      * to every config, one full join on (config, keys) meets it with
      * `found`, and one aggregate by config counts the exact pairs
      * (nExact), the found rows that pass `detected` (nFound) and the
      * exact pairs among those (`n_hits`). `more` adds aggregates over
      * the same rows, where [[InExact]] and [[InFound]] mark each side.
      * One row of nulls per config joins the aggregate, so every config
      * of the list gets a row, also when it found nothing; without
      * configs the grade is one row. `by` names exact-side columns to
      * group on as well; found rows with no exact pair, and the null
      * row, group under null there.
      *
      * Precondition: `found` is unique on (config, keys) and `exact` is
      * unique on `keys`, so no pair is counted twice.
      */
    def sweep(exact: DataFrame, found: DataFrame, keys: Seq[String],
        configs: Seq[Column] = Nil, by: Seq[String] = Nil,
        detected: Column = lit(true), more: Seq[Column] = Nil): DataFrame = {
      val fan = if (configs.isEmpty) Nil else Seq(inline(array(configs: _*)))
      val seeds = exact.sparkSession.range(1).select(fan: _*)
      val cfg = seeds.columns.toSeq
      val isFound = col(InFound) && detected
      exact.select((keys ++ by).map(col) ++ fan :+ lit(true).as(InExact): _*)
        .join(found.withColumn(InFound, lit(true)), cfg ++ keys, "full")
        .unionByName(seeds, allowMissingColumns = true)
        .groupBy((cfg ++ by).map(col): _*)
        .agg(count(col(InExact)).as(nExact), count(when(isFound, 1)).as(nFound) +:
          count(when(col(InExact) && isFound, 1)).as("n_hits") +: more: _*)
    }

    /** recall_ppm: hits over exact. */
    def recall: Column = ppm("n_hits", nExact).as("recall_ppm")

    /** [[recall]] and precision_ppm (hits over found). */
    def ppms: Seq[Column] = Seq(recall, ppm("n_hits", nFound).as("precision_ppm"))

    /** The three counts followed by [[ppms]]. */
    def graded: Seq[Column] = Seq(col(nExact), col(nFound), col("n_hits")) ++ ppms

    /** The oracle of [[sweep]]'s three counts, as select items over the
      * CTEs `exact`, `found` and `hits`; `where` narrows found and hits
      * to one config of a sweep (a correlated predicate such as
      * " WHERE w = c.w").
      */
    def countsSql(found: String, where: String = ""): String =
      s"""(SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS $nExact,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $found$where) AS $nFound,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hits$where) AS n_hits""".stripMargin

    def ppmsSql: String =
      s"${ppmSql("n_hits", nExact)} AS recall_ppm,\n  ${ppmSql("n_hits", nFound)} AS precision_ppm"

    def gradedSql: String = s"$nExact, $nFound, n_hits,\n  $ppmsSql"
  }
}
