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

  /** A pair-set grade: the exact pair count, the found (candidate or
    * detected) pair count, the exact pairs found (`n_hits`), and recall
    * and precision ppm over them. The two count names are per gate
    * because the oracle hash compares column names and types.
    */
  final case class Pairs(nExact: String, nFound: String) {

    /** The three counts as one row. Hits are the exact pairs that also
      * appear in `found` on `keys`; the found and hit counts broadcast
      * onto the exact count, so the row costs no shuffle of its own.
      */
    def counts(exact: DataFrame, found: DataFrame, keys: Seq[String]): DataFrame =
      exact.agg(count(lit(1)).as(nExact))
        .crossJoin(broadcast(found.agg(count(lit(1)).as(nFound))))
        .crossJoin(broadcast(exact.join(found, keys, "left_semi").agg(count(lit(1)).as("n_hits"))))

    /** recall_ppm (hits over exact) and precision_ppm (hits over found). */
    def ppms: Seq[Column] =
      Seq(ppm("n_hits", nExact).as("recall_ppm"), ppm("n_hits", nFound).as("precision_ppm"))

    /** The three counts followed by [[ppms]]. */
    def graded: Seq[Column] = Seq(col(nExact), col(nFound), col("n_hits")) ++ ppms

    /** [[counts]]' oracle as three select items over the CTEs `exact`,
      * `found` and `hits`; `where` narrows found and hits to one config
      * of a sweep (a correlated predicate such as " WHERE w = c.w").
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
