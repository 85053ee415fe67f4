package graft.api

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One typed partition key (the reference's zod schema field,
  * src/index.ts:1558): type coercion + optional enum/range validation.
  */
case class PartitionField(
  name: String,
  dataType: DataType = StringType,
  required: Boolean = true,
  min: Option[Long] = None,
  max: Option[Long] = None,
  enumVals: Seq[String] = Nil) {

  private[api] def raw(path: Column): Column =
    regexp_extract(path, s"(?:^|/)${java.util.regex.Pattern.quote(name)}=([^/]*)", 1)

  /** typed value; leading zeros coerce. A malformed or empty value is
    * null: try_cast, because a plain cast throws under ANSI and one bad
    * key would abort the whole job. An empty string value is null too.
    */
  private[api] def typed(path: Column): Column = dataType match {
    case StringType => when(raw(path) =!= "", raw(path))
    case _ => raw(path).try_cast(dataType)
  }

  private[api] def validWhenPresent(path: Column): Column = {
    val v = typed(path)
    val rangeOk = (min, max) match {
      case (Some(lo), Some(hi)) => v.cast(LongType).between(lo, hi)
      case (Some(lo), None) => v.cast(LongType) >= lo
      case (None, Some(hi)) => v.cast(LongType) <= hi
      case _ => lit(true)
    }
    val enumOk = if (enumVals.nonEmpty) v.cast(StringType).isin(enumVals: _*) else lit(true)
    v.isNotNull && rangeOk && enumOk
  }

  /** the reference's field rule: a required key must be present and
    * valid; an optional key may be absent, but not invalid.
    */
  private[api] def ok(path: Column): Column =
    if (required) validWhenPresent(path) else raw(path) === "" || validWhenPresent(path)
}

/** Twin of the reference's `HivePartitionParser` (src/index.ts:1558):
  * parse / safeParse / format / createGlobPattern / isValid /
  * getValidationErrors / getMissingKeys / extractKeys / matchesGlob —
  * all as Column expressions over `k=v/k=v` path strings. Non-`k=v`
  * segments are ignored; leading zeros coerce; missing optional keys
  * are allowed (reference §3 semantics).
  */
class HivePartitionParser(fields: Seq[PartitionField]) {

  /** parse → typed struct (the zod-object twin). Invalid/missing
    * required keys surface as nulls — pair with isValid/errors.
    */
  def parse(path: Column): Column =
    struct(fields.map(f => f.typed(path).as(f.name)): _*)

  def isValid(path: Column): Column = fields.map(_.ok(path)).reduce(_ && _)

  /** array of "key: message" strings, empty when valid. */
  def validationErrors(path: Column): Column =
    filter(array(fields.map(f => when(!f.ok(path), lit(s"${f.name}: invalid or missing"))): _*),
      e => e.isNotNull)

  /** keys with no `k=` segment in the path at all. */
  def missingKeys(path: Column): Column =
    filter(array(fields.map(f =>
      when(f.raw(path) === "", lit(f.name)).otherwise(lit(null))): _*), e => e.isNotNull)

  /** format typed field columns back into `k=v/k=v` (zero-pad ints by
    * supplying pre-formatted string columns; nulls are omitted like the
    * reference omits undefined optionals).
    */
  def format(values: Map[String, Column]): Column = {
    val segs = fields.flatMap(f => values.get(f.name).map(v =>
      when(v.isNotNull, concat(lit(s"${f.name}="), v.cast(StringType))).otherwise(lit(null))))
    concat_ws("/", segs: _*)
  }

  /** glob for a partial key spec: fixed `k=v` for given keys, `k=*`
    * otherwise (reference createGlobPattern).
    */
  def createGlobPattern(partial: Map[String, Any]): String =
    fields.map(f => partial.get(f.name) match {
      case Some(v) => s"${f.name}=$v"
      case None => s"${f.name}=*"
    }).mkString("/")

  /** segment-wise glob match (reference matchesGlob — `=*` wildcard and
    * `*`/`?` inside segments; segment counts must line up).
    */
  def matchesGlob(path: Column, pattern: String): Column = {
    val re = pattern.split("/").filter(_.nonEmpty).map { seg =>
      seg.flatMap {
        case '*' => "[^/]*"
        case '?' => "[^/]"
        case c if "\\.^$+()|[]{}".indexOf(c) >= 0 => "\\" + c
        case c => c.toString
      }
    }.mkString("/")
    path.rlike("^" + re + "$")
  }

  /** subset of parsed keys as a struct (reference extractKeys). */
  def extractKeys(path: Column, keys: Seq[String]): Column =
    struct(fields.filter(f => keys.contains(f.name))
      .map(f => f.typed(path).as(f.name)): _*)

  /** parse → apply per-key transforms → reformat (reference transform):
    * keys absent from `updates` keep their parsed value; transformed
    * values are re-padded to the original segment width (zero-padding
    * survives the roundtrip).
    */
  def transform(path: Column, updates: Map[String, Column => Column]): Column = {
    val values = fields.map { f =>
      val parsed = f.typed(path)
      val v = updates.get(f.name).map(fn => fn(parsed)).getOrElse(parsed)
      val padded = when(v.isNotNull,
        lpad(v.cast(StringType), length(f.raw(path)), lit("0"))).otherwise(lit(null))
      f.name -> (padded: Column)
    }.toMap
    format(values)
  }
}
