package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Video-column plumbing: the third modality (after image + audio —
  * Multimodal.scala / Audio.scala). A "video" here is a REAL container
  * of REAL codec frames: `GVID` magic, big-endian frame count, then
  * length-prefixed genuine PNG frames written by `javax.imageio`. The
  * pipeline stages mirror what a production video path does over
  * `mapInPandas` batches: demux (parse the container index without
  * decoding), frame-sample (decode every k-th frame), and per-frame
  * feature extraction (integer luma statistics off the decoded
  * raster).
  *
  * Frame pixels are POSITION-INDEXED (value = closed-form function of
  * (doc, frame, pixel index), not a chained PRNG) so the DuckDB oracle
  * can recompute every luma sum analytically with `generate_series` —
  * parity therefore proves the encode → container → demux → PNG-decode
  * path is bit-exact end to end, the same trick `audio_meta` uses for
  * the WAV codec (Audio.scala:229).
  *
  * Scale: one video per row, each stage a typed `mapPartitions` — the
  * batched per-partition shape codec work needs; nothing shuffles
  * until the (doc, frame)-grained stats aggregate, which is
  * output-bound.
  */
object Video {
  val W = 24
  val H = 16

  /** Closed-form frame pixel (0..255): gray value of pixel `idx` of
    * frame `f` of doc `doc` — all terms positive, products < 2^63.
    */
  @inline def pixel(doc: Long, f: Long, idx: Long): Int =
    ((doc * 1000003L + f * 8191L + idx * 2654435761L) % 256L).toInt

  /** frames per video: 2..4, varies by doc. */
  @inline def nFrames(doc: Long): Int = (2 + doc % 3).toInt

  case class VideoPayload(doc_id: Long, container: Array[Byte])
  case class VideoFrame(doc_id: Long, frame_idx: Int, width: Int, height: Int,
    luma_sum: Long)

  /** Build the real containers: per doc, render each frame as a gray
    * raster from [[pixel]], PNG-encode it (genuine IHDR/IDAT bytes),
    * and pack `GVID | n | (len | png)*`. Gray (v,v,v) pixels make the
    * integer ITU-601 luma equal v exactly, so the oracle's pixel sum
    * IS the luma sum.
    */
  def encodeVideos(s: SparkSession, dir: String): Dataset[VideoPayload] = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id").as[Long].mapPartitions { docs =>
        Multimodal.imageIoMemCache
      docs.map { doc =>
        val baos = new java.io.ByteArrayOutputStream()
        val out = new java.io.DataOutputStream(baos)
        out.writeBytes("GVID")
        val n = nFrames(doc)
        out.writeInt(n)
        var f = 0
        while (f < n) {
          val img = new java.awt.image.BufferedImage(W, H,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var idx = 0
          while (idx < W * H) {
            val v = pixel(doc, f, idx)
            img.setRGB(idx % W, idx / W, (v << 16) | (v << 8) | v)
            idx += 1
          }
          val frame = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", frame)
          val bytes = frame.toByteArray
          out.writeInt(bytes.length)
          out.write(bytes)
          f += 1
        }
        VideoPayload(doc, baos.toByteArray)
      }
    }
  }

  /** Demux WITHOUT decoding: walk the container index and report the
    * frame count and byte layout — the cheap metadata pass that lets a
    * planner decide what to decode (a row-group-style skip for media).
    */
  def probe(ds: Dataset[VideoPayload]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.map { v =>
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(v.container))
      val magic = new Array[Byte](4); in.readFully(magic)
      require(new String(magic, "US-ASCII") == "GVID", s"bad magic for doc ${v.doc_id}")
      val n = in.readInt()
      var total = 0L
      var i = 0
      while (i < n) { val len = in.readInt(); in.skipBytes(len); total += len; i += 1 }
      (v.doc_id, n, v.container.length.toLong, total)
    }.toDF("doc_id", "n_frames", "container_bytes", "frame_bytes")
  }

  /** Demux + decode every `stride`-th frame of one container — the
    * shared walk behind [[sampleFrames]] and [[frameFeatures]].
    */
  private def decodedFrames(v: VideoPayload,
      stride: Int): Seq[(Int, java.awt.image.BufferedImage)] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(v.container))
    val magic = new Array[Byte](4); in.readFully(magic)
    require(new String(magic, "US-ASCII") == "GVID", s"bad magic for doc ${v.doc_id}")
    val n = in.readInt()
    (0 until n).flatMap { f =>
      val len = in.readInt()
      val bytes = new Array[Byte](len); in.readFully(bytes)
      if (f % stride != 0) None
      else {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"undecodable frame $f of doc ${v.doc_id}")
        Some(f -> img)
      }
    }
  }

  /** Decode every `stride`-th frame (REAL PNG decode per sampled
    * frame) and emit integer luma statistics off the actual raster.
    */
  def sampleFrames(ds: Dataset[VideoPayload], stride: Int = 1): Dataset[VideoFrame] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
        Multimodal.imageIoMemCache
      rows.flatMap { v =>
        decodedFrames(v, stride).map { case (f, img) =>
          var sum = 0L
          var idx = 0
          while (idx < img.getWidth * img.getHeight) {
            val rgb = img.getRGB(idx % img.getWidth, idx / img.getWidth)
            sum += (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
              114 * (rgb & 0xFF)) / 1000
            idx += 1
          }
          VideoFrame(v.doc_id, f, img.getWidth, img.getHeight, sum)
        }
      }
    }
  }

  /** video_meta oracle query: containers built, demuxed, every frame
    * PNG-decoded, per-frame luma summed — vs the oracle's analytic
    * recomputation from [[pixel]].
    */
  def videoMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sampleFrames(encodeVideos(s, dir)).toDF()
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"), col("luma_sum"))
      .orderBy("doc_id", "frame_idx")
  }

  val videoMetaSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, UNNEST(generate_series(0, 1 + doc_id % 3)) AS frame_idx
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, frame_idx, i,
       |    (doc_id * 1000003 + frame_idx * 8191 + i * 2654435761) % 256 AS v
       |  FROM f, UNNEST(generate_series(0, ${W * H - 1})) AS t(i))
       |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       |  CAST($W AS INT) AS width, CAST($H AS INT) AS height,
       |  CAST(SUM(v) AS BIGINT) AS luma_sum
       |FROM px GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-sampled-frame visual feature: the same mean-pooled integer
    * luma grid the image pipeline extracts (Multimodal.featureExtract),
    * computed off each REAL decoded frame. One container parse + PNG
    * decode per sampled frame, all inside the partition.
    */
  def frameFeatures(vids: Dataset[VideoPayload], stride: Int = 1,
      grid: Int = 8): Dataset[Multimodal.FrameFeature] = {
    import vids.sparkSession.implicits._
    vids.mapPartitions { rows =>
        Multimodal.imageIoMemCache
      rows.flatMap { v =>
        decodedFrames(v, stride).map { case (f, img) =>
          Multimodal.FrameFeature(v.doc_id, f, Multimodal.lumaGridFeature(img, grid))
        }
      }
    }
  }

  /** Video near-dup pairs: per-frame aHash signatures, candidates from
    * banded FIRST-frame hashes (pigeonhole recall, exactly the image
    * near-dup generator — Multimodal.imageNearDupPairs), verified by
    * the MEAN per-aligned-frame hamming distance ≤ the image
    * threshold. Candidate volume is bucket-bounded (first-frame bands),
    * verification joins touch candidate pairs × frames only — never
    * videos². Completes the modality dedup story: text (minhash),
    * image (aHash), audio (envelope hash), video (frame-hash
    * sequence).
    */
  def videoNearDupPairs(vids: Dataset[VideoPayload], stride: Int = 1,
      bucketCap: Long = Long.MaxValue, anchors: Long = 16L): DataFrame = {
    val sigs = Multimodal.aHash(frameFeatures(vids, stride))
      .select(col("doc_id"), col("frame_idx"), col("ahash"))
    val bands = 16
    val f0 = sigs.filter(col("frame_idx") === 0)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> " +
          s"named_struct('b', b, 'v', shiftrightunsigned(ahash, b * ${64 / bands}) % ${1L << (64 / bands)}))")).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.v").as("v"))
    val cand = Dedup.cappedPairs(f0, Seq("b", "v"), "doc_id", bucketCap, anchors)
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("frame_idx"), col("ahash").as("ha")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("frame_idx"), col("ahash").as("hb")),
        Seq("doc_b", "frame_idx"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_frames"),
        (sum(expr("CAST(bit_count(ha ^ hb) AS BIGINT)")) / count(lit(1))).as("mean_hamming"))
      .filter(col("mean_hamming") <= Multimodal.AHashMaxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Integer average-hash per decoded frame — the perceptual signature
    * the visual-dedup band join buckets on, emitted as two 32-bit
    * halves so BOTH engines stay in safe signed-BIGINT arithmetic
    * (bit 63 of a single 64-bit hash would need unsigned folds). Bit c
    * is set iff cell c's luma sum × 64 exceeds the frame total — the
    * classical aHash with the mean comparison cleared of floats
    * entirely (equal 3×2-pixel cells make cellmean > framemean ⟺
    * 64·cellsum > total in exact integers), which is what lets a SQL
    * oracle replicate the whole codec→hash pipeline bit-for-bit.
    *
    * Scale shape: demux + PNG decode + hash fold all inside one typed
    * mapPartitions pass per container (video_meta's shape, zero
    * shuffles before the final order); output is frames-sized.
    */
  /** split-halves aHash over ANY payload set — the signature pass
    * shared by [[videoAhash]] (contract query on the base corpus) and
    * [[videoDedup]] (base ∪ planted re-ingestions).
    */
  def aHashLoHi(vids: Dataset[VideoPayload]): DataFrame = {
    import vids.sparkSession.implicits._
    vids.mapPartitions { rows =>
        Multimodal.imageIoMemCache
      rows.flatMap { v =>
        decodedFrames(v, 1).map { case (f, img) =>
          val (sums, _) = Multimodal.lumaGridSums(img, 8)
          val total = sums.sum
          var lo = 0L; var hi = 0L
          var c = 0
          while (c < 64) {
            if (sums(c) * 64L > total) {
              if (c < 32) lo |= 1L << c else hi |= 1L << (c - 32)
            }
            c += 1
          }
          (v.doc_id, f, lo, hi)
        }
      }
    }.toDF("doc_id", "frame_idx", "ahash_lo", "ahash_hi")
      .withColumn("frame_idx", col("frame_idx").cast("int"))
  }

  def videoAhash(s: SparkSession, dir: String): DataFrame =
    aHashLoHi(encodeVideos(s, dir)).orderBy("doc_id", "frame_idx")

  val videoAhashSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, UNNEST(generate_series(0, 1 + doc_id % 3)) AS frame_idx
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, frame_idx,
       |    ((i // $W) // ${H / 8}) * 8 + (i % $W) // ${W / 8} AS cell,
       |    (doc_id * 1000003 + frame_idx * 8191 + i * 2654435761) % 256 AS v
       |  FROM f, UNNEST(generate_series(0, ${W * H - 1})) AS t(i)),
       |cells AS (
       |  SELECT doc_id, frame_idx, cell, CAST(SUM(v) AS BIGINT) AS cs
       |  FROM px GROUP BY 1, 2, 3),
       |tot AS (
       |  SELECT doc_id, frame_idx, CAST(SUM(cs) AS BIGINT) AS total
       |  FROM cells GROUP BY 1, 2)
       |SELECT c.doc_id, CAST(c.frame_idx AS INT) AS frame_idx,
       |  CAST(SUM(CASE WHEN c.cs * 64 > t.total AND c.cell < 32
       |    THEN (CAST(1 AS BIGINT) << CAST(c.cell AS INT)) ELSE 0 END) AS BIGINT) AS ahash_lo,
       |  CAST(SUM(CASE WHEN c.cs * 64 > t.total AND c.cell >= 32
       |    THEN (CAST(1 AS BIGINT) << CAST(c.cell - 32 AS INT)) ELSE 0 END) AS BIGINT) AS ahash_hi
       |FROM cells c JOIN tot t USING (doc_id, frame_idx)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** consecutive-frame aHash hamming at or above this = a scene cut.
    * 2 is the dial FITTED TO THIS CORPUS' geometry: the frame formula
    * advances every pixel by 8191 ≡ −1 (mod 256) per frame, so a
    * transition moves only the wrap-adjacent cells' hash bits
    * (measured 2–4 across the corpus) while the freeze plants score
    * exactly 0 — deterministic separation either side of 2. A real
    * deployment re-fits the dial to its content (16 of 64 is the
    * common shot-boundary default); the OPERATOR — xor + bit_count
    * over a per-video lag — is threshold-independent.
    */
  val SceneCutBits = 2
  val SceneCopyShift = 200000L

  /** Freeze-frame plant for [[videoSceneCut]]: every doc_id % 10 == 6
    * video rebuilt with frame 0's PNG bytes repeated n times under a
    * shifted id — a static clip (slideshow card, test pattern) whose
    * every transition must score hamming 0. Demux-only (frame-0 bytes
    * copied verbatim, no decode): the cheap container walk.
    */
  private[graft] def freezeFrameCopies(base: Dataset[VideoPayload]): Dataset[VideoPayload] = {
    import base.sparkSession.implicits._
    base.map { v =>
      // corpus-WIDE id-space guard, not just on the plant slice: every
      // base id must sit below the shift WITHIN ITS REPLICATION BLOCK
      // (ids live at doc_id + i·10⁷ under ScaleSmoke's ×N replication —
      // the plantId block convention, same as the :418 sibling), else
      // some other original in [shift, 2·shift) could collide with a
      // plant id unchecked (and the invariant-spec partition on
      // id >= shift would mislabel it).
      require(v.doc_id % 10000000L < SceneCopyShift,
        s"base doc_id ${v.doc_id} % 1e7 >= $SceneCopyShift — freeze-plant id space collides")
      v
    }.filter(_.doc_id % 10 == 6).map { v =>
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(v.container))
      val magic = new Array[Byte](4); in.readFully(magic)
      require(new String(magic, "US-ASCII") == "GVID", s"bad magic for doc ${v.doc_id}")
      val n = in.readInt()
      val len0 = in.readInt()
      val f0 = new Array[Byte](len0); in.readFully(f0)
      val baos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(baos)
      out.writeBytes("GVID"); out.writeInt(n)
      var i = 0
      while (i < n) { out.writeInt(len0); out.write(f0); i += 1 }
      VideoPayload(v.doc_id + SceneCopyShift, baos.toByteArray)
    }
  }

  /** Scene-cut detection (the shot-segmentation primitive a video
    * training pipeline samples keyframes by): consecutive-frame aHash
    * hamming distance per video, flagged at [[SceneCutBits]]. Runs on
    * the corpus ∪ freeze-frame plants — the static clips prove the
    * threshold separates motion from stillness: every planted
    * transition scores exactly 0, every original ≥ 2 (see the
    * [[SceneCutBits]] geometry note). One codec mapPartitions
    * pass for the hashes; the lag window partitions by doc_id (frames
    * per video is bounded), so NO global sort or corpus-wide shuffle —
    * at 100 TB each video's frames hash inside its own scan split.
    */
  def videoSceneCut(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = encodeVideos(s, dir)
    val h = aHashLoHi(base.union(freezeFrameCopies(base)))
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    h.select(col("doc_id"), col("frame_idx"),
        col("ahash_lo"), col("ahash_hi"),
        lag("ahash_lo", 1).over(w).as("plo"),
        lag("ahash_hi", 1).over(w).as("phi"))
      .filter(col("plo").isNotNull)
      .select(col("doc_id"), col("frame_idx"),
        expr("CAST(bit_count(ahash_lo ^ plo) + bit_count(ahash_hi ^ phi) AS BIGINT)")
          .as("hamming_bits"))
      .withColumn("is_cut", col("hamming_bits") >= SceneCutBits)
      .orderBy("doc_id", "frame_idx")
  }

  val videoSceneCutSql: String =
    s"""WITH vids AS (
       |  SELECT doc_id, doc_id AS src, 0 AS frozen FROM documents
       |  UNION ALL
       |  SELECT doc_id + $SceneCopyShift, doc_id, 1 FROM documents WHERE doc_id % 10 = 6),
       |f AS (
       |  SELECT doc_id, src, frozen, UNNEST(generate_series(0, 1 + src % 3)) AS frame_idx
       |  FROM vids),
       |px AS (
       |  SELECT doc_id, frame_idx,
       |    ((i // $W) // ${H / 8}) * 8 + (i % $W) // ${W / 8} AS cell,
       |    (src * 1000003 + (CASE WHEN frozen = 1 THEN 0 ELSE frame_idx END) * 8191
       |      + i * 2654435761) % 256 AS v
       |  FROM f, UNNEST(generate_series(0, ${W * H - 1})) AS t(i)),
       |cells AS (
       |  SELECT doc_id, frame_idx, cell, CAST(SUM(v) AS BIGINT) AS cs
       |  FROM px GROUP BY 1, 2, 3),
       |tot AS (
       |  SELECT doc_id, frame_idx, CAST(SUM(cs) AS BIGINT) AS total
       |  FROM cells GROUP BY 1, 2),
       |h AS (
       |  SELECT c.doc_id, c.frame_idx,
       |    CAST(SUM(CASE WHEN c.cs * 64 > t.total AND c.cell < 32
       |      THEN (CAST(1 AS BIGINT) << CAST(c.cell AS INT)) ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(SUM(CASE WHEN c.cs * 64 > t.total AND c.cell >= 32
       |      THEN (CAST(1 AS BIGINT) << CAST(c.cell - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM cells c JOIN tot t USING (doc_id, frame_idx)
       |  GROUP BY 1, 2),
       |lagged AS (
       |  SELECT doc_id, frame_idx, lo, hi,
       |    lag(lo) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS plo,
       |    lag(hi) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS phi
       |  FROM h)
       |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       |  CAST(bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) AS BIGINT) AS hamming_bits,
       |  bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) >= $SceneCutBits AS is_cut
       |FROM lagged WHERE plo IS NOT NULL
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** The "same clip re-ingested after a filter" case: every
    * doc_id % 10 == 3 video re-encoded (REAL decode → total-preserving
    * corner-block swap: cell 0's pixels exchange with cell 63's →
    * REAL PNG re-encode) under a shifted id. PNG is lossless and the
    * swap preserves the frame total, so exactly the two swapped cells'
    * hash bits can move (0 or 2 per frame) — which is what lets the
    * SQL oracle replay the plant analytically (same convention as
    * dedup_exact's re-ingestion plant; the inline comment at the swap
    * explains the 0/2-bit dichotomy).
    */
  val DedupCopyShift = 100000L
  private[graft] def cornerSwappedCopies(base: Dataset[VideoPayload]): Dataset[VideoPayload] = {
    import base.sparkSession.implicits._
    base.filter(_.doc_id % 10 == 3).mapPartitions { rows =>
        Multimodal.imageIoMemCache
      rows.map { v =>
        // planted ids live at base+Shift WITHIN each 10^7 replication
        // block — >100k docs per block would collide planted ids with
        // genuine ones; fail loud instead of corrupting video_dedup
        require(v.doc_id % 10000000L < DedupCopyShift,
          s"doc_id ${v.doc_id} collides with the +$DedupCopyShift copy-id plant")
        val frames = decodedFrames(v, 1)
        val baos = new java.io.ByteArrayOutputStream()
        val out = new java.io.DataOutputStream(baos)
        out.writeBytes("GVID"); out.writeInt(frames.length)
        frames.foreach { case (_, img) =>
          val dst = new java.awt.image.BufferedImage(img.getWidth, img.getHeight,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          // corner-block swap: exchange cell 0 (rows 0-1 × cols 0-2)
          // with cell 63 (rows 14-15 × cols 21-23). The frame TOTAL is
          // unchanged, so no other cell's mean comparison moves —
          // exactly the two swapped cells' hash bits exchange (2 bit
          // flips per frame when they differ, 0 when equal). The copy
          // is therefore caught deterministically: as a ≤2-bit/frame
          // near-dup edge, or (equal corner bits every frame) by the
          // exact-class collapse — both correct dedup outcomes, and
          // the spec asserts their union covers every plant.
          var idx = 0
          while (idx < img.getWidth * img.getHeight) {
            val (r, c) = (idx / img.getWidth, idx % img.getWidth)
            val (sr, sc) =
              if (r < 2 && c < 3) (r + 14, c + 21)
              else if (r >= 14 && c >= 21) (r - 14, c - 21)
              else (r, c)
            val b = img.getRGB(sc, sr) & 0xFF
            dst.setRGB(c, r, (b << 16) | (b << 8) | b)
            idx += 1
          }
          val frame = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, "png", frame)
          out.writeInt(frame.size()); out.write(frame.toByteArray)
        }
        VideoPayload(v.doc_id + DedupCopyShift, baos.toByteArray)
      }
    }
  }

  /** Visual near-dup dedup over the video corpus ∪ the planted
    * re-ingestions: frame-0 aHash band buckets generate candidates
    * (16 bands × 4 bits ⇒ pigeonhole-complete for frame-0 hamming
    * ≤ [[Multimodal.AHashMaxHamming]]), verified by TOTAL hamming over
    * aligned frames ≤ [[VideoDedupMaxMeanHamming]]·frames — all-integer,
    * no float mean. The video-level verify is much stricter than the
    * single-image band stage (2 vs 15 bits/frame): agreement across a
    * whole ALIGNED FRAME SEQUENCE is the evidence a single image can't
    * give, and on near-uniform rasters (this synthetic corpus; real
    * static-camera footage) a loose per-frame bound admits
    * structurally-similar non-copies by the thousands — measured here:
    * ≤15 keeps 12,687 pairs, ≤2 keeps the 50 planted re-ingestions
    * plus only genuine content-identical collisions.
    * The multimodal twin of dedup_minhash: same LSH-band-then-verify
    * shape, signatures from the REAL codec path.
    *
    * Scale shape: signatures are one typed mapPartitions pass
    * (frames-sized output, videos never shuffle); the band self-join
    * is bucket-bounded; verification touches candidate pairs × aligned
    * frames only — never videos².
    */
  val VideoDedupMaxMeanHamming = 2L

  /** Exact signature-class membership over an aHash frame
    * ([[aHashLoHi]]'s output): every video keyed to the min-id
    * representative of its identical-signature-SEQUENCE class (a
    * portable string fingerprint — exact equality, no collision
    * surface). Returns (doc_id, rep, n_members). One linear agg pair —
    * the collapse step that keeps mega-duplicate clusters from
    * exploding the fuzzy stage.
    */
  def signatureClasses(sigs: DataFrame): DataFrame = {
    val seqs = sigs.groupBy("doc_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(frame_idx, ahash_lo, ahash_hi)))," +
        " s -> concat(s.frame_idx, ':', s.ahash_lo, ':', s.ahash_hi)), '|')").as("sig_fp"))
    val classes = seqs.groupBy("sig_fp")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("n_members"))
    seqs.join(classes, Seq("sig_fp")).select("doc_id", "rep", "n_members")
  }

  /** `bucketCap`/`anchors`: the shared band-occupancy rule
    * ([[graft.operators.Dedup.cappedPairs]]) on the first-frame band
    * join — default inert (oracle byte-identical). The exact-class
    * collapse already removes BYTE-identical re-encodes before banding;
    * the cap is the guard for near-identical template FAMILIES (same
    * footage, k slightly-different encodes) that survive collapse into
    * one band bucket — measured in tools.BandOccupancy.
    */
  def videoDedup(s: SparkSession, dir: String,
                 bucketCap: Long = Long.MaxValue, anchors: Long = 16L): DataFrame = {
    val base = encodeVideos(s, dir)
    videoDedupFromSigs(
      Materialize.stable(aHashLoHi(base.union(cornerSwappedCopies(base)))),
      bucketCap, anchors)
  }

  /** the dedup chain over an ALREADY-materialized aHash signature frame
    * — the composition point for pipelines that compute signatures once
    * (api.CorpusOps.curateMultimodal).
    */
  def videoDedupFromSigs(allSigs: DataFrame,
                 bucketCap: Long = Long.MaxValue, anchors: Long = 16L): DataFrame = {
    // EXACT class collapse before the fuzzy stage — the production
    // dedup chain. A crawl's mega-duplicate clusters (one clip
    // re-hosted 10⁶×) make pair emission Σ C(k,2) — the ×10 scale
    // smoke measured 7.1M pairs / 351s without this. Identical
    // signature SEQUENCES (a portable string fingerprint — exact
    // equality, no hash collision surface) collapse to their min-id
    // representative first (one linear agg), and the band join then
    // sees one row per CONTENT CLASS: candidates are class-pairs, and
    // cluster membership rides along as n_members.
    val classes = Materialize.stable(signatureClasses(allSigs))
    val sigs = allSigs
      .join(classes.filter(col("doc_id") === col("rep"))
        .select(col("doc_id"), col("n_members")), Seq("doc_id"))
    val f0 = sigs.filter(col("frame_idx") === 0)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, 15), b -> named_struct('b', b, 'v', " +
          "CASE WHEN b < 8 THEN shiftright(ahash_lo, b * 4) % 16 " +
          "ELSE shiftright(ahash_hi, (b - 8) * 4) % 16 END))")).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.v").as("v"))
    val cand = Dedup.cappedPairs(f0, Seq("b", "v"), "doc_id", bucketCap, anchors)
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("frame_idx"),
        col("ahash_lo").as("la"), col("ahash_hi").as("ha"),
        col("n_members").as("members_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("frame_idx"),
        col("ahash_lo").as("lb"), col("ahash_hi").as("hb"),
        col("n_members").as("members_b")), Seq("doc_b", "frame_idx"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_frames"),
        sum(expr("CAST(bit_count(la ^ lb) + bit_count(ha ^ hb) AS BIGINT)"))
          .as("hamming_total"),
        max("members_a").as("members_a"), max("members_b").as("members_b"))
      .filter(col("hamming_total") <= lit(VideoDedupMaxMeanHamming) * col("n_frames"))
      .select("doc_a", "doc_b", "n_frames", "hamming_total", "members_a", "members_b")
      .orderBy("doc_a", "doc_b")
  }

  val videoDedupSql: String =
    s"""WITH vids AS (
       |  SELECT doc_id AS vid, doc_id AS orig, 0 AS is_copy FROM documents
       |  UNION ALL
       |  SELECT doc_id + $DedupCopyShift, doc_id, 1 FROM documents WHERE doc_id % 10 = 3
       |), fr AS (
       |  SELECT vid, orig, is_copy, UNNEST(generate_series(0, 1 + orig % 3)) AS frame_idx
       |  FROM vids
       |), px AS (
       |  -- the copy reads its pixel from the SWAPPED index (corner
       |  -- cell 0 ↔ cell 63); originals read straight through
       |  SELECT vid, frame_idx,
       |    ((i // $W) // ${H / 8}) * 8 + (i % $W) // ${W / 8} AS cell,
       |    (orig * 1000003 + frame_idx * 8191 +
       |      (CASE WHEN is_copy > 0 AND (i // $W) < 2 AND (i % $W) < 3
       |              THEN ((i // $W) + 14) * $W + ((i % $W) + 21)
       |            WHEN is_copy > 0 AND (i // $W) >= 14 AND (i % $W) >= 21
       |              THEN ((i // $W) - 14) * $W + ((i % $W) - 21)
       |            ELSE i END) * 2654435761) % 256 AS v
       |  FROM fr, UNNEST(generate_series(0, ${W * H - 1})) AS t(i)
       |), cells AS (
       |  SELECT vid, frame_idx, cell, CAST(SUM(v) AS BIGINT) AS cs
       |  FROM px GROUP BY 1, 2, 3
       |), tot AS (
       |  SELECT vid, frame_idx, CAST(SUM(cs) AS BIGINT) AS total
       |  FROM cells GROUP BY 1, 2
       |), sigs AS (
       |  SELECT c.vid, c.frame_idx,
       |    CAST(SUM(CASE WHEN c.cs * 64 > t.total AND c.cell < 32
       |      THEN (CAST(1 AS BIGINT) << CAST(c.cell AS INT)) ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(SUM(CASE WHEN c.cs * 64 > t.total AND c.cell >= 32
       |      THEN (CAST(1 AS BIGINT) << CAST(c.cell - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM cells c JOIN tot t USING (vid, frame_idx)
       |  GROUP BY 1, 2
       |), seqs AS (
       |  SELECT vid,
       |    string_agg(frame_idx || ':' || lo || ':' || hi, '|' ORDER BY frame_idx) AS sig_fp
       |  FROM sigs GROUP BY 1
       |), classes AS (
       |  SELECT sig_fp, MIN(vid) AS rep, CAST(COUNT(*) AS BIGINT) AS n_members
       |  FROM seqs GROUP BY 1
       |), rsigs AS (
       |  SELECT s.vid, s.frame_idx, s.lo, s.hi, c.n_members
       |  FROM sigs s JOIN classes c ON s.vid = c.rep
       |), f0 AS (
       |  SELECT vid,  bs.b AS b,
       |    CASE WHEN bs.b < 8 THEN (lo >> (bs.b * 4)) % 16
       |         ELSE (hi >> ((bs.b - 8) * 4)) % 16 END AS v
       |  FROM rsigs CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bs
       |  WHERE frame_idx = 0
       |), cand AS (
       |  SELECT DISTINCT x.vid AS doc_a, y.vid AS doc_b
       |  FROM f0 x JOIN f0 y ON x.b = y.b AND x.v = y.v AND x.vid < y.vid
       |)
       |SELECT doc_a, doc_b, n_frames, hamming_total, members_a, members_b FROM (
       |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_frames,
       |    CAST(SUM(bit_count(xor(sa.lo, sb.lo)) + bit_count(xor(sa.hi, sb.hi))) AS BIGINT) AS hamming_total,
       |    MAX(sa.n_members) AS members_a, MAX(sb.n_members) AS members_b
       |  FROM cand c
       |  JOIN rsigs sa ON c.doc_a = sa.vid
       |  JOIN rsigs sb ON c.doc_b = sb.vid AND sa.frame_idx = sb.frame_idx
       |  GROUP BY 1, 2) t
       |WHERE hamming_total <= $VideoDedupMaxMeanHamming * n_frames
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The BAND-WIDTH geometry dial for the visual modality — the video
    * twin of embed_geometry_sweep, pricing SCALE.md's round-11 geometry
    * law where it bites hardest: the contract's 16×4-bit first-frame
    * bands have a 16-value space per band, so bucket occupancy is
    * Θ(classes/16) — linear in corpus size. One row per band width
    * w ∈ {4, 8, 16} bits (nb = 64/w bands; w=4 IS videoDedup's
    * contract geometry): slice-anchored candidates from the f0 band
    * join at that width, graded against the slice-anchored exact set
    * (TOTAL aligned-frame hamming ≤ [[VideoDedupMaxMeanHamming]] ·
    * frames — videoDedup's own verify predicate), plus the measured
    * max band-bucket occupancy. Pigeonhole: width-w banding is
    * complete for f0 hamming < 64/w, so recall decays exactly where
    * true pairs concentrate their hamming budget on frame 0 — the
    * trade the dial prices.
    *
    * Scale shape: signatures from ONE codec pass (shared, class-rep
    * collapsed); the exact side is anchored on a [[VideoSliceMax]]-id
    * class slice (broadcast frames join — the knn_bruteforce idiom,
    * audit-tier slice contract); one slice-anchored band join over
    * every width's bands, one occupancy rollup and one grading pass
    * ([[Grade.Pairs.sweep]]) for the whole sweep. Both-in-slice pairs
    * appear in both orientations of the exact frame join; count and
    * hamming sum double together, so the ≤ 2·frames predicate is
    * orientation-invariant (and the pair still groups to ONE row).
    */
  val VideoSweepWidths = Seq(4, 8, 16)
  val VideoSliceMax = 200L
  private val SweepGrade = Grade.Pairs("n_true", "n_candidates")

  def videoBandSweep(s: SparkSession, dir: String): DataFrame = {
    val base = encodeVideos(s, dir)
    val allSigs = Materialize.stable(aHashLoHi(base.union(cornerSwappedCopies(base))))
    val reps = signatureClasses(allSigs)
      .filter(col("doc_id") === col("rep")).select("doc_id")
    val sigs = Materialize.stable(allSigs.join(reps, Seq("doc_id")))
    val sa = sigs.filter(col("doc_id") < VideoSliceMax)
      .select(col("doc_id").as("qa"), col("frame_idx"),
        col("ahash_lo").as("la"), col("ahash_hi").as("ha"))
    // read once, but its cache build orders the `sigs` build ahead of
    // the grade's stages; inline, five table-cache stages each start a
    // `sigs` build job (1 + 26 action jobs at sf0.001, 1 + 24 with it)
    val exact = Materialize.stable(
      sigs.select(col("doc_id").as("qb"), col("frame_idx"),
          col("ahash_lo").as("lb"), col("ahash_hi").as("hb"))
        .join(broadcast(sa), Seq("frame_idx"))
        .filter(col("qa") =!= col("qb"))
        .groupBy(least(col("qa"), col("qb")).as("pa"),
          greatest(col("qa"), col("qb")).as("pb"))
        .agg(count(lit(1)).as("nf"),
          sum(expr("CAST(bit_count(la ^ lb) + bit_count(ha ^ hb) AS BIGINT)")).as("ht"))
        .filter(col("ht") <= lit(VideoDedupMaxMeanHamming) * col("nf"))
        .select("pa", "pb"))
    // every width's first-frame bands on one frame: one slice-anchored
    // band join and one occupancy rollup serve the whole sweep
    val configs = VideoSweepWidths.map(w =>
      struct(lit(w.toLong).as("band_bits"), lit((64 / w).toLong).as("n_bands")))
    val cfg = Seq("band_bits", "n_bands")
    val f0 = sigs.filter(col("frame_idx") === 0)
      .select(col("doc_id"), col("ahash_lo"), col("ahash_hi"), inline(array(configs: _*)))
      .select(cfg.map(col) :+ col("doc_id") :+ explode(expr(
        "transform(sequence(0, CAST(n_bands AS INT) - 1), b -> named_struct('b', b, 'v', " +
          "CASE WHEN b < n_bands div 2 THEN shiftright(ahash_lo, b * CAST(band_bits AS INT)) " +
          "ELSE shiftright(ahash_hi, (b - CAST(n_bands div 2 AS INT)) * CAST(band_bits AS INT)) END " +
          "% shiftleft(CAST(1 AS BIGINT), CAST(band_bits AS INT))))")).as("band"): _*)
      .select(cfg.map(col) ++ Seq(col("doc_id"), col("band.b").as("b"), col("band.v").as("v")): _*)
    val qf0 = f0.filter(col("doc_id") < VideoSliceMax)
      .select(col("band_bits"), col("b"), col("v"), col("doc_id").as("qa"))
    val cand = qf0.join(f0, Seq("band_bits", "b", "v"))
      .filter(col("qa") =!= col("doc_id"))
      .select(cfg.map(col) ++ Seq(least(col("qa"), col("doc_id")).as("pa"),
        greatest(col("qa"), col("doc_id")).as("pb")): _*)
      .distinct()
    val occ = f0.groupBy("band_bits", "b", "v").count()
      .groupBy("band_bits").agg(max("count").as("max_occupancy"))
    SweepGrade.sweep(exact, cand, Seq("pa", "pb"), configs)
      .join(occ, Seq("band_bits"))
      .select(cfg.map(col) ++ SweepGrade.graded :+ col("max_occupancy"): _*).orderBy("band_bits")
  }

  val videoBandSweepSql: String =
    s"""WITH vids AS (
       |  SELECT doc_id AS vid, doc_id AS orig, 0 AS is_copy FROM documents
       |  UNION ALL
       |  SELECT doc_id + $DedupCopyShift, doc_id, 1 FROM documents WHERE doc_id % 10 = 3
       |), fr AS (
       |  SELECT vid, orig, is_copy, UNNEST(generate_series(0, 1 + orig % 3)) AS frame_idx
       |  FROM vids
       |), px AS (
       |  SELECT vid, frame_idx,
       |    ((i // $W) // ${H / 8}) * 8 + (i % $W) // ${W / 8} AS cell,
       |    (orig * 1000003 + frame_idx * 8191 +
       |      (CASE WHEN is_copy > 0 AND (i // $W) < 2 AND (i % $W) < 3
       |              THEN ((i // $W) + 14) * $W + ((i % $W) + 21)
       |            WHEN is_copy > 0 AND (i // $W) >= 14 AND (i % $W) >= 21
       |              THEN ((i // $W) - 14) * $W + ((i % $W) - 21)
       |            ELSE i END) * 2654435761) % 256 AS v
       |  FROM fr, UNNEST(generate_series(0, ${W * H - 1})) AS t(i)
       |), cells AS (
       |  SELECT vid, frame_idx, cell, CAST(SUM(v) AS BIGINT) AS cs
       |  FROM px GROUP BY 1, 2, 3
       |), tot AS (
       |  SELECT vid, frame_idx, CAST(SUM(cs) AS BIGINT) AS total
       |  FROM cells GROUP BY 1, 2
       |), sigs AS (
       |  SELECT c.vid, c.frame_idx,
       |    CAST(SUM(CASE WHEN c.cs * 64 > t.total AND c.cell < 32
       |      THEN (CAST(1 AS BIGINT) << CAST(c.cell AS INT)) ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(SUM(CASE WHEN c.cs * 64 > t.total AND c.cell >= 32
       |      THEN (CAST(1 AS BIGINT) << CAST(c.cell - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM cells c JOIN tot t USING (vid, frame_idx)
       |  GROUP BY 1, 2
       |), seqs AS (
       |  SELECT vid,
       |    string_agg(frame_idx || ':' || lo || ':' || hi, '|' ORDER BY frame_idx) AS sig_fp
       |  FROM sigs GROUP BY 1
       |), classes AS (
       |  SELECT sig_fp, MIN(vid) AS rep FROM seqs GROUP BY 1
       |), rsigs AS (
       |  SELECT s.vid, s.frame_idx, s.lo, s.hi
       |  FROM sigs s JOIN classes c ON s.vid = c.rep
       |), slice AS (
       |  SELECT vid, frame_idx, lo, hi FROM rsigs WHERE vid < $VideoSliceMax
       |), exact AS (
       |  SELECT pa, pb FROM (
       |    SELECT least(a.vid, b.vid) AS pa, greatest(a.vid, b.vid) AS pb,
       |      CAST(COUNT(*) AS BIGINT) AS nf,
       |      CAST(SUM(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))) AS BIGINT) AS ht
       |    FROM slice a JOIN rsigs b ON a.frame_idx = b.frame_idx AND a.vid <> b.vid
       |    GROUP BY 1, 2) t
       |  WHERE ht <= $VideoDedupMaxMeanHamming * nf
       |), cfg AS (
       |  SELECT unnest([${VideoSweepWidths.mkString(", ")}]) AS w
       |), f0 AS (
       |  SELECT c.w, vid, bs.b AS b,
       |    CASE WHEN bs.b < (64 // c.w) // 2
       |         THEN (lo >> (bs.b * c.w)) % (CAST(1 AS BIGINT) << c.w)
       |         ELSE (hi >> ((bs.b - (64 // c.w) // 2) * c.w)) % (CAST(1 AS BIGINT) << c.w) END AS v
       |  FROM rsigs, cfg c, UNNEST(range(0, 64 // c.w)) AS bs(b)
       |  WHERE frame_idx = 0
       |), cand AS (
       |  SELECT DISTINCT x.w, least(x.vid, y.vid) AS pa, greatest(x.vid, y.vid) AS pb
       |  FROM f0 x JOIN f0 y ON x.w = y.w AND x.b = y.b AND x.v = y.v AND x.vid <> y.vid
       |  WHERE x.vid < $VideoSliceMax
       |), hits AS (
       |  SELECT c.w, c.pa FROM cand c JOIN exact e ON c.pa = e.pa AND c.pb = e.pb
       |), occ AS (
       |  SELECT w, MAX(n) AS max_occupancy FROM (
       |    SELECT w, b, v, CAST(COUNT(*) AS BIGINT) AS n FROM f0 GROUP BY 1, 2, 3)
       |  GROUP BY 1
       |), n AS (
       |  SELECT CAST(c.w AS BIGINT) AS band_bits, CAST(64 // c.w AS BIGINT) AS n_bands,
       |    ${SweepGrade.countsSql("cand", " WHERE w = c.w")},
       |    o.max_occupancy
       |  FROM cfg c JOIN occ o USING (w)
       |)
       |SELECT band_bits, n_bands, ${SweepGrade.gradedSql},
       |  max_occupancy
       |FROM n ORDER BY band_bits""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "video_band_sweep" -> (videoBandSweep _),
    "video_meta" -> (videoMeta _),
    "video_ahash" -> (videoAhash _),
    "video_scene_cut" -> (videoSceneCut _),
    "video_dedup" -> ((s: SparkSession, dir: String) => videoDedup(s, dir)))

  val oracles: Map[String, String] = Map(
    "video_meta" -> videoMetaSql,
    "video_ahash" -> videoAhashSql,
    "video_scene_cut" -> videoSceneCutSql,
    "video_dedup" -> videoDedupSql,
    "video_band_sweep" -> videoBandSweepSql)
}
