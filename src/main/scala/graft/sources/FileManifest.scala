package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real object-listing twin of the reference's `S3PathMatcher.
  * listObjects / findMatchingObjects / streamMatchingObjects`
  * (reference src/index.ts:798) — Spark's `binaryFile` source already
  * speaks "list a store by glob" against any Hadoop filesystem
  * (s3a://, gs://, hdfs://, file://), with distributed listing and
  * column pruning: selecting only path/length/modificationTime never
  * reads file bytes.
  *
  * The reference hand-rolls pagination, concurrency limits and a
  * metadata TTL cache around ListObjectsV2; on Spark those concerns are
  * the scheduler's. Matching composes with [[graft.api.PathMatcher]]
  * on the returned DataFrame.
  */
object FileManifest {

  /** list objects under `dir` (optionally glob-filtered at the listing
    * level) as the manifest schema `(key, size, last_modified_us)`:
    * [[getObjects]] without the payload, so the scan reads no file bytes.
    */
  def list(spark: SparkSession, dir: String, glob: Option[String] = None): DataFrame =
    getObjects(spark, dir, glob).drop("payload")

  /** findMatchingObjects: listing + compiled-glob filter on the key. */
  def findMatching(spark: SparkSession, dir: String, patterns: Seq[String]): DataFrame = {
    val pm = new graft.api.PathMatcher
    pm.filterMatching(list(spark, dir), patterns)
  }

  /** getObject read side (reference src/index.ts:877): listing columns
    * plus the payload bytes. Projecting away `payload` later still
    * prunes the read — binaryFile only fetches bytes for selected
    * columns.
    */
  def getObjects(spark: SparkSession, dir: String, glob: Option[String] = None): DataFrame = {
    val reader = spark.read.format("binaryFile")
    glob.foreach(g => reader.option("pathGlobFilter", g))
    reader.load(dir)
      .select(
        col("path").as("key"),
        col("length").as("size"),
        unix_micros(col("modificationTime")).as("last_modified_us"),
        col("content").as("payload"))
  }

  /** putObject twin (reference src/index.ts:1171): write each
    * `(key, payload)` row as an object at `dir/key`, distributed — every
    * partition writes its own rows straight to the store, nothing
    * funnels through the driver. Returns `(key, etag, size)` (etag =
    * md5 hex, like S3's single-part etag), computed eagerly so the
    * writes have happened when this returns; the result round-trips
    * through [[list]]/[[getObjects]].
    *
    * Executors build the destination FileSystem from their own Hadoop
    * conf — works for file://, hdfs:// and any object store the cluster
    * is configured for.
    */
  def put(payloads: DataFrame, dir: String): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val out = payloads.select(col("key").cast("string"), col("payload").cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(dir), new org.apache.hadoop.conf.Configuration())
        val md5 = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (key, payload) =>
          val p = new org.apache.hadoop.fs.Path(dir, key)
          fs.mkdirs(p.getParent)
          val os = fs.create(p, true)
          try os.write(payload) finally os.close()
          md5.reset()
          (key, md5.digest(payload).map("%02x".format(_)).mkString, payload.length.toLong)
        }
      }
      .toDF("key", "etag", "size")
      .persist()
    out.count() // eager: the put has happened when we return
    out
  }

  /** streamMatchingObjects: the same listing as an unbounded stream —
    * new files arriving under `dir` become new rows (file-source
    * discovery replaces the reference's polling + concurrency pool).
    * Feed into [[graft.streaming.EventStreams.changeFeed]] for a
    * continuous change classification.
    */
  def stream(spark: SparkSession, dir: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.format("parquet").schema(schema).load(dir)
}
