package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api
import graft.sources.Manifest

/** ContentType surface (reference src/index.ts:103 — detect/charset/
  * isText/isBinary over the mime-types db) through
  * [[graft.api.ContentTypes]]: a literal lookup the optimizer
  * constant-folds into the scan. No UDF: a CASE chain on the extension
  * is codegen'd and free at 100 TB.
  */
object ContentTypes {

  def contentType(s: SparkSession, dir: String): DataFrame =
    Manifest.manifest(s, dir)
      .select(api.ContentTypes.detect(col("key")).as("mime"), col("size"))
      .withColumn("is_text", api.ContentTypes.isText(col("mime")))
      .groupBy("mime", "is_text")
      .agg(count(lit(1)).as("n"), sum(col("size")).as("total_size"))
      .orderBy("mime")

  val contentTypeSql: String = {
    val cases = api.ContentTypes.mimeByExt
      .map { case (e, m) => s"WHEN '$e' THEN '$m'" }
      .mkString("\n    ")
    s"""${Manifest.duckWith}
       |SELECT mime,
       |  (mime LIKE 'text/%' OR mime IN ('application/json','application/xml','application/javascript','application/typescript')) AS is_text,
       |  COUNT(*) AS n, CAST(SUM(size) AS BIGINT) AS total_size
       |FROM (
       |  SELECT CASE regexp_extract(key, '\\.([a-z0-9]+)$$', 1)
       |    $cases
       |    ELSE 'application/octet-stream' END AS mime, size
       |  FROM manifest) t
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "content_type" -> (contentType _))
  val oracles: Map[String, String] = Map(
    "content_type" -> contentTypeSql)
}
