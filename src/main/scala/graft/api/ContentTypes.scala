package graft.api

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Twin of the reference's `ContentType` utilities (src/index.ts:103:
  * detect / charset / extension / isText / isBinary) as constant-folded
  * Column expressions — the mime table inlines into codegen, no UDF.
  */
object ContentTypes {

  /** extension ↔ MIME subset (reference delegates to mime-db; this is
    * the lake-relevant slice — the extensions the manifest can produce).
    */
  val mimeByExt: Seq[(String, String)] = Seq(
    "parquet" -> "application/vnd.apache.parquet",
    "json" -> "application/json",
    "csv" -> "text/csv",
    "txt" -> "text/plain",
    "log" -> "application/octet-stream", // not in mime-db → fallback
    "png" -> "image/png",
    "jpg" -> "image/jpeg",
    "gz" -> "application/gzip",
    "bin" -> "application/octet-stream",
    "html" -> "text/html")

  private val extOf: Column => Column = p => lower(regexp_extract(p, "\\.([A-Za-z0-9]+)$", 1))

  /** reference ContentType.detect — path → MIME (octet-stream fallback). */
  def detect(path: Column): Column =
    mimeByExt.foldLeft(lit("application/octet-stream")) { case (acc, (e, m)) =>
      when(extOf(path) === e, m).otherwise(acc)
    }

  /** reference ContentType.extension — MIME → extension (or null). */
  def extension(contentType: Column): Column =
    mimeByExt.foldLeft(lit(null).cast("string")) { case (acc, (e, m)) =>
      when(contentType === m, e).otherwise(acc)
    }

  /** reference ContentType.charset — UTF-8 for text-ish, else null. */
  def charset(contentType: Column): Column =
    when(isText(contentType), "UTF-8").otherwise(lit(null))

  /** reference ContentType.isText (src/index.ts:138). */
  def isText(contentType: Column): Column =
    contentType.startsWith("text/") ||
      contentType.isin("application/json", "application/xml",
        "application/javascript", "application/typescript")

  def isBinary(contentType: Column): Column = !isText(contentType)
}
