package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.{FrameSample, MediaBlob, MediaCodec, MediaFeatures, MediaFiles}

/** Multimodal-column pipeline: opaque binary payloads + typed metadata,
  * processed with executor-side batched mapPartitions (the JVM analog of
  * a pandas-batch UDF: codec/model init amortized per batch, bytes never
  * leave the executor).
  *
  * The media table is derived deterministically from `documents` (the
  * payload is the UTF-8 text bytes; dims/frame counts are functions of
  * doc_id), so the stubbed decode has a bit-exact SQL oracle while the
  * Spark side genuinely round-trips binary: encode → BinaryType column →
  * batch decode over Array[Byte].
  *
  * Scale: all three queries are embarrassingly parallel maps; the only
  * care needed at 100 TB is batch size (fixed rows per decode call) and
  * payload-size skew — metadata columns let Catalyst filter (e.g.
  * media_type = 'video') before any payload byte is touched.
  */
object MultimodalQueries {

  val BatchSize = 64

  /** Deterministic media table derived from documents. */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaBlob] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val mt = (id % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        MediaBlob(
          doc_id = id,
          media_type = mt,
          width = 32 + (id % 8).toInt * 16,
          height = 32 + (id % 5).toInt * 16,
          n_frames = 1 + (id % 7).toInt,
          data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** DuckDB fragments for the metadata derivation above. */
  private val WidthSql = "(32 + (doc_id % 8) * 16)"
  private val HeightSql = "(32 + (doc_id % 5) * 16)"
  private val FramesSql = "(1 + (doc_id % 7))"
  private val TypeSql =
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
  /** Byte-value list of the ASCII payload. */
  private val BytesSql = "list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))"

  // ------------------------------------------------------- mm_features
  /** Batched REAL decode: image docs carry an actual 24-bpp BMP file,
    * audio docs an actual RIFF/PCM16 WAV, and video docs an actual
    * RIFF-AVI container (avih/strl header lists + '00dc' movi chunks) —
    * all encoded executor-side by [[graft.multimodal.MediaFiles]] from
    * deterministic doc_id-derived content, so the oracle can recompute
    * the expected stats. [[MediaCodec.decodeMedia]] parses the
    * containers for real — magic, header fields, BMP row padding, RIFF
    * chunk/list walks — so a green gate here checks decoded
    * pixel/sample/frame values, not just plumbing. Fixed-size batches
    * inside each partition, one decodeBatch call per batch (batch shape
    * is part of the contract — see MultimodalQueriesSpec).
    *
    * Scale shape: unchanged — an embarrassingly parallel map; bytes
    * never leave the executor. */
  def mediaTableEncoded(s: SparkSession, d: String): Dataset[MediaBlob] = {
    import s.implicits._
    mediaTable(s, d).map { b =>
      b.media_type match {
        case "image" =>
          val id = b.doc_id
          val (w, h) = (ImgW(id), ImgH(id))
          b.copy(width = w, height = h, data = MediaFiles.encodeBmp(w, h,
            (x, y) => (((id + 2 * x + 3 * y) % 256).toInt,
                       ((id * 2 + x + 5 * y + 1) % 256).toInt,
                       ((id * 3 + 4 * x + y + 2) % 256).toInt)))
        case "audio" =>
          val id = b.doc_id
          val n = WavN(id)
          b.copy(data = MediaFiles.encodeWav(WavRate,
            Array.tabulate(n)(i => ((id * 31 + i * 17) % 4096).toInt - 2048)))
        case _ =>
          // video: a REAL RIFF-AVI container — avih/strl header lists +
          // one '00dc' movi chunk per frame, deterministic doc_id-derived
          // frame bytes so the oracle can recompute the decoded stats
          val id = b.doc_id
          b.copy(data = MediaFiles.encodeAvi(b.width, b.height, VidUspf,
            Seq.tabulate(VidFrames(id))(f =>
              Array.tabulate(VidFrameLen(id))(i => ((id + f * 31 + i * 7) % 256).toByte))))
      }
    }
  }

  private def ImgW(id: Long): Int = 16 + (id % 8).toInt * 2
  private def ImgH(id: Long): Int = 8 + (id % 5).toInt * 3
  private def WavN(id: Long): Int = 256 + (id % 7).toInt * 64
  private val WavRate = 16000
  private def VidFrames(id: Long): Int = 1 + (id % 7).toInt
  private def VidFrameLen(id: Long): Int = 48 + (id % 5).toInt * 16
  private val VidUspf = 40000 // 25 fps

  def mmFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTableEncoded(s, d)
      .mapPartitions(_.grouped(BatchSize).flatMap(b => MediaCodec.decodeBatch(b)))
      .toDF()
  }

  val mmFeaturesSql: String =
    s"""WITH img AS (
       |  SELECT doc_id, (16 + (doc_id % 8) * 2) AS w, (8 + (doc_id % 5) * 3) AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |ipx AS (
       |  SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM img),
       |ich AS (
       |  SELECT doc_id, w, h,
       |    (doc_id + 2 * (i % w) + 3 * (i // w)) % 256 AS b,
       |    (doc_id * 2 + (i % w) + 5 * (i // w) + 1) % 256 AS g,
       |    (doc_id * 3 + 4 * (i % w) + (i // w) + 2) % 256 AS r
       |  FROM ipx),
       |image_rows AS (
       |  SELECT doc_id, 'image' AS media_type,
       |    CAST(any_value(w) AS INTEGER) AS decoded_w,
       |    CAST(any_value(h) AS INTEGER) AS decoded_h,
       |    CAST(3 * count(*) AS BIGINT) AS n_units,
       |    CAST(sum(b + g + r) AS BIGINT) AS sum_vals,
       |    CAST(min(least(b, g, r)) AS INTEGER) AS min_val,
       |    CAST(max(greatest(b, g, r)) AS INTEGER) AS max_val,
       |    CAST(sum(b + g + r) AS DOUBLE) / CAST(3 * count(*) AS DOUBLE) AS mean_val
       |  FROM ich GROUP BY doc_id),
       |aud AS (
       |  SELECT doc_id, unnest(range(256 + (doc_id % 7) * 64)) AS i
       |  FROM documents WHERE doc_id % 3 = 1),
       |asm AS (
       |  SELECT doc_id, (doc_id * 31 + i * 17) % 4096 - 2048 AS s FROM aud),
       |audio_rows AS (
       |  SELECT doc_id, 'audio' AS media_type,
       |    CAST($WavRate AS INTEGER) AS decoded_w, CAST(16 AS INTEGER) AS decoded_h,
       |    CAST(count(*) AS BIGINT) AS n_units,
       |    CAST(sum(s) AS BIGINT) AS sum_vals,
       |    CAST(min(s) AS INTEGER) AS min_val,
       |    CAST(max(s) AS INTEGER) AS max_val,
       |    CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_val
       |  FROM asm GROUP BY doc_id),
       |vk AS (
       |  SELECT doc_id, $WidthSql AS w, $HeightSql AS h,
       |    (48 + (doc_id % 5) * 16) AS flen,
       |    unnest(range((1 + doc_id % 7) * (48 + (doc_id % 5) * 16))) AS k
       |  FROM documents WHERE doc_id % 3 = 2),
       |vsm AS (
       |  SELECT doc_id, w, h,
       |    (doc_id + (k // flen) * 31 + (k % flen) * 7) % 256 AS v FROM vk),
       |video_rows AS (
       |  SELECT doc_id, 'video' AS media_type,
       |    CAST(any_value(w) AS INTEGER) AS decoded_w,
       |    CAST(any_value(h) AS INTEGER) AS decoded_h,
       |    CAST(count(*) AS BIGINT) AS n_units,
       |    CAST(sum(v) AS BIGINT) AS sum_vals,
       |    CAST(min(v) AS INTEGER) AS min_val,
       |    CAST(max(v) AS INTEGER) AS max_val,
       |    CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_val
       |  FROM vsm GROUP BY doc_id)
       |SELECT * FROM image_rows
       |UNION ALL SELECT * FROM audio_rows
       |UNION ALL SELECT * FROM video_rows""".stripMargin

  // ------------------------------------------------------- mm_resize
  /** REAL 2x box downsample of image payloads: decode the BMP, average
    * each 2x2 pixel block per channel (integer floor mean), re-encode a
    * real BMP, then DECODE THE RESIZED ARTIFACT AGAIN and hash its
    * content — so the gate covers decode → resample → encode → decode,
    * not just metadata arithmetic. The oracle replays the box averages
    * closed-form from the pixel formulas (4 modular terms per channel,
    * floor-divided by 4) and the BMP size arithmetic (54-byte headers +
    * 4-byte-padded rows). Only images are touched — the media_type
    * filter prunes on metadata before any payload byte is read.
    *
    * Scale shape: an embarrassingly parallel per-row map (decode +
    * resample + encode); bytes never leave the executor, the output
    * carries one row of scalars per image. */
  def mmResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTableEncoded(s, d)
      .filter(_.media_type == "image")
      .map { b =>
        val r = MediaCodec.resizeImage(b)
        val back = MediaFiles.decodeBmp(r.data).getOrElse(
          throw new IllegalStateException(s"resized BMP undecodable for doc ${b.doc_id}"))
        var sum = 0L
        back.channels.foreach(sum += _)
        (r.doc_id, back.width, back.height, r.data.length.toLong, sum)
      }
      .toDF("doc_id", "new_width", "new_height", "payload_bytes", "sum_channels")
  }

  // box-averaged channel value at resized pixel (xx, yy): the floor
  // mean of the four source-pixel formula values
  private def boxAvgSql(f: (String, String) => String): String =
    s"(${f("2*xx", "2*yy")} + ${f("2*xx+1", "2*yy")} + " +
      s"${f("2*xx", "2*yy+1")} + ${f("2*xx+1", "2*yy+1")}) // 4"
  private def bPix(x: String, y: String) = s"(doc_id + 2*($x) + 3*($y)) % 256"
  private def gPix(x: String, y: String) = s"(doc_id*2 + ($x) + 5*($y) + 1) % 256"
  private def rPix(x: String, y: String) = s"(doc_id*3 + 4*($x) + ($y) + 2) % 256"

  val mmResizeSql: String =
    s"""WITH img AS (
       |  SELECT doc_id, (16 + (doc_id % 8) * 2) AS w, (8 + (doc_id % 5) * 3) AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |r AS (SELECT doc_id, w // 2 AS w2, h // 2 AS h2 FROM img),
       |px AS (
       |  SELECT doc_id, w2, h2, unnest(range(w2 * h2)) AS i FROM r),
       |xy AS (
       |  SELECT doc_id, w2, h2, i % w2 AS xx, i // w2 AS yy FROM px),
       |avgd AS (
       |  SELECT doc_id, w2, h2,
       |    ${boxAvgSql(bPix)} AS b, ${boxAvgSql(gPix)} AS g, ${boxAvgSql(rPix)} AS r
       |  FROM xy)
       |SELECT doc_id,
       |  CAST(any_value(w2) AS INTEGER) AS new_width,
       |  CAST(any_value(h2) AS INTEGER) AS new_height,
       |  CAST(54 + ((3 * any_value(w2) + 3) // 4) * 4 * any_value(h2) AS BIGINT)
       |    AS payload_bytes,
       |  CAST(sum(b + g + r) AS BIGINT) AS sum_channels
       |FROM avgd GROUP BY doc_id""".stripMargin

  // --------------------------------------------------- mm_frame_sample
  /** Frame sampling of video payloads, keeping every 2nd frame — over
    * REAL AVI containers: [[MediaCodec.sampleFrames]] walks the RIFF
    * 'movi' list and samples actual '00dc' chunks, so the frame count
    * and byte totals come from parsed container structure (the n_frames
    * METADATA column is deliberately not consulted on this path). The
    * oracle reproduces the container arithmetic from the encode
    * formulas: 1 + id%7 frames of 48 + (id%5)*16 bytes each. */
  def mmFrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTableEncoded(s, d)
      .filter(_.media_type == "video")
      .map(b => MediaCodec.sampleFrames(b, stride = 2))
      .toDF()
  }

  val mmFrameSampleSql: String =
    s"""SELECT doc_id, CAST($FramesSql AS INTEGER) AS n_frames,
       |  CAST(48 + (doc_id % 5) * 16 AS BIGINT) AS frame_len,
       |  CAST(($FramesSql + 1) // 2 AS INTEGER) AS n_sampled,
       |  CAST((($FramesSql + 1) // 2) * (48 + (doc_id % 5) * 16) AS BIGINT) AS sampled_bytes
       |FROM documents WHERE doc_id % 3 = 2""".stripMargin

  // ------------------------------------------------ mm_video_scene_cut
  /** Scene-cut detection over DECODED video frame CONTENT — the shot
    * segmentation every video training pipeline runs before sampling:
    * decode the real RIFF-AVI container, walk consecutive '00dc' frame
    * payloads, score each transition by the integer sum of absolute
    * byte differences, and call a transition a CUT when its difference
    * exceeds the per-doc threshold (64 × frame_len, scaling with frame
    * size). Emits per doc: frames, transitions, cuts, total and max
    * difference. The oracle replays the synthetic frame bytes
    * closed-form, so one wrong decoded byte in any frame shifts a
    * difference and breaks the hash; single-frame videos must emit the
    * all-zero row, pinning the empty-transition edge.
    *
    * Scale shape: embarrassingly parallel per-row map, |frames| ×
    * frame_len byte ops per doc, bytes never leave the executor; a
    * production detector swaps the byte diff for a histogram/SSIM
    * distance — same plan. */
  def mmVideoSceneCut(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTableEncoded(s, d)
      .filter(_.media_type == "video")
      .map { b =>
        val avi = MediaFiles.decodeAvi(b.data).getOrElse(
          throw new IllegalStateException(s"undecodable AVI for doc ${b.doc_id}"))
        val fs = avi.frames
        val threshold = if (fs.nonEmpty) 64L * fs(0).length else 0L
        var total = 0L
        var maxD = 0L
        var cuts = 0L
        var f = 1
        while (f < fs.length) {
          val (a, c) = (fs(f - 1), fs(f))
          var diff = 0L
          var i = 0
          while (i < c.length) {
            diff += math.abs((c(i) & 0xff) - (a(i) & 0xff)); i += 1
          }
          total += diff
          if (diff > maxD) maxD = diff
          if (diff > threshold) cuts += 1
          f += 1
        }
        (b.doc_id, fs.length.toLong, (fs.length - 1).toLong, cuts, total, maxD)
      }
      .toDF("doc_id", "n_frames", "n_transitions", "n_cuts", "total_diff", "max_diff")
  }

  val mmVideoSceneCutSql: String =
    """WITH v AS (
      |  SELECT doc_id, 1 + (doc_id % 7) AS nf, 48 + (doc_id % 5) * 16 AS flen
      |  FROM documents WHERE doc_id % 3 = 2),
      |t AS (
      |  SELECT doc_id, flen, unnest(range(1, nf)) AS f FROM v),
      |d AS (
      |  SELECT doc_id, 64 * flen AS thr,
      |    CAST(list_sum(list_transform(range(0, flen),
      |      i -> abs((doc_id + f * 31 + i * 7) % 256
      |             - (doc_id + (f - 1) * 31 + i * 7) % 256))) AS BIGINT) AS diff
      |  FROM t)
      |SELECT v.doc_id, CAST(v.nf AS BIGINT) AS n_frames,
      |  CAST(v.nf - 1 AS BIGINT) AS n_transitions,
      |  COALESCE(CAST(sum(CASE WHEN diff > thr THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_cuts,
      |  COALESCE(CAST(sum(diff) AS BIGINT), 0) AS total_diff,
      |  COALESCE(CAST(max(diff) AS BIGINT), 0) AS max_diff
      |FROM v LEFT JOIN d USING (doc_id)
      |GROUP BY v.doc_id, v.nf""".stripMargin

  // ------------------------------------------------- mm_keyframe_select
  /** KEYFRAME selection per detected shot — the stage a video pipeline
    * runs directly after scene-cut detection: segment each video's
    * decoded frames into SHOTS at the cut transitions (same diff >
    * 64·frame_len rule as mm_video_scene_cut, so the two gates share
    * boundary semantics), then pick each shot's most detailed frame —
    * argmax of the intra-frame energy Σ|p[i+1]−p[i]| (the cheap
    * sharpness proxy; ties break to the earliest frame). Emits one row
    * per (doc, shot): frame span, the chosen keyframe index, and its
    * energy. The oracle rebuilds every decoded byte closed-form and
    * replays segmentation AND argmax relationally — a mis-assigned
    * shot boundary or a wrong keyframe breaks the hash.
    *
    * Scale shape: same embarrassingly parallel per-row map as the cut
    * detector (|frames|·frame_len integer ops, bytes never leave the
    * executor), emitting |shots| rows per doc; a production selector
    * swaps energy for a Laplacian/entropy score — same plan. */
  def mmKeyframeSelect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTableEncoded(s, d)
      .filter(_.media_type == "video")
      .flatMap { b =>
        val avi = MediaFiles.decodeAvi(b.data).getOrElse(
          throw new IllegalStateException(s"undecodable AVI for doc ${b.doc_id}"))
        val fs = avi.frames
        val threshold = if (fs.nonEmpty) 64L * fs(0).length else 0L
        // shot id per frame: number of cut transitions at or before it
        val shotOf = new Array[Long](fs.length)
        var f = 1
        while (f < fs.length) {
          val (a, c) = (fs(f - 1), fs(f))
          var diff = 0L
          var i = 0
          while (i < c.length) {
            diff += math.abs((c(i) & 0xff) - (a(i) & 0xff)); i += 1
          }
          shotOf(f) = shotOf(f - 1) + (if (diff > threshold) 1L else 0L)
          f += 1
        }
        val energies = fs.map { frame =>
          var e = 0L
          var i = 0
          while (i < frame.length - 1) {
            e += math.abs((frame(i + 1) & 0xff) - (frame(i) & 0xff)); i += 1
          }
          e
        }
        fs.indices.groupBy(shotOf(_)).toSeq.map { case (shot, idxs) =>
          val key = idxs.maxBy(i => (energies(i), -i)) // energy desc, frame asc
          (b.doc_id, shot, idxs.min.toLong, idxs.max.toLong,
            idxs.length.toLong, key.toLong, energies(key))
        }
      }
      .toDF("doc_id", "shot", "first_frame", "last_frame", "n_frames",
        "keyframe", "energy")
  }

  val mmKeyframeSelectSql: String =
    """WITH v AS (
      |  SELECT doc_id, 1 + (doc_id % 7) AS nf, 48 + (doc_id % 5) * 16 AS flen
      |  FROM documents WHERE doc_id % 3 = 2),
      |tr AS ( -- transition diffs, as in mm_video_scene_cut
      |  SELECT doc_id, f,
      |    CAST(list_sum(list_transform(range(0, flen),
      |      i -> abs((doc_id + f * 31 + i * 7) % 256
      |             - (doc_id + (f - 1) * 31 + i * 7) % 256))) AS BIGINT) AS diff,
      |    64 * flen AS thr
      |  FROM (SELECT doc_id, flen, unnest(range(1, nf)) AS f FROM v) t),
      |frames AS (
      |  SELECT doc_id, flen, unnest(range(0, nf)) AS f FROM v),
      |shots AS ( -- shot id = cuts at or before the frame
      |  SELECT fr.doc_id, fr.f, fr.flen,
      |    CAST(coalesce(sum(CASE WHEN tr.diff > tr.thr THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS shot
      |  FROM frames fr LEFT JOIN tr
      |    ON tr.doc_id = fr.doc_id AND tr.f <= fr.f
      |  GROUP BY fr.doc_id, fr.f, fr.flen),
      |energy AS (
      |  SELECT doc_id, f, shot,
      |    CAST(list_sum(list_transform(range(0, flen - 1),
      |      i -> abs((doc_id + f * 31 + (i + 1) * 7) % 256
      |             - (doc_id + f * 31 + i * 7) % 256))) AS BIGINT) AS e
      |  FROM shots),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id, shot
      |    ORDER BY e DESC, f ASC) AS rk FROM energy)
      |SELECT doc_id, shot,
      |  CAST(min(f) AS BIGINT) AS first_frame,
      |  CAST(max(f) AS BIGINT) AS last_frame,
      |  CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(min(CASE WHEN rk = 1 THEN f END) AS BIGINT) AS keyframe,
      |  CAST(min(CASE WHEN rk = 1 THEN e END) AS BIGINT) AS energy
      |FROM ranked GROUP BY doc_id, shot""".stripMargin

  // ---------------------------------------------- mm_mjpeg_keyframes
  /** MJPEG — REAL pixels inside the REAL container: each video doc is
    * rebuilt as a Motion-JPEG AVI (strh handler + strf biCompression =
    * 'MJPG'; every '00dc' payload a complete baseline JPEG written by
    * the JDK's own ImageIO codec — zero external dependencies), then
    * the pipeline runs entirely in PIXEL space: container walk →
    * per-frame JPEG decode → mean-absolute-pixel-difference scene cuts
    * → per-shot keyframe by decoded mean brightness. This retires the
    * last synthetic layer in the video family (the byte-diff gates
    * mm_video_scene_cut / mm_keyframe_select keep auditing the exact
    * container walk — their oracle replays raw bytes; this gate puts
    * the CODEC on the hash path).
    *
    * JPEG is lossy, so the fixture plants DECISIONS, not values:
    * solid-level frames (flat DCT ⇒ decoded mean within ~2 of the
    * plant), scene levels 96+ apart vs a cut threshold of mean-diff >
    * 32, intra-scene brightness steps of 8 for the keyframe argmax —
    * every margin an order of magnitude above quantization noise, so
    * the detected shot boundaries and keyframes equal the planted
    * schedule on ANY conformant JPEG codec, and the oracle replays that
    * schedule closed-form.
    *
    * Scale shape: embarrassingly parallel per-row encode+decode map
    * (≤9 tiny JPEGs per doc here; production swaps the synth for real
    * footage and keeps the plan), |shots| output rows per doc, bytes
    * never leave the executor. */
  private def MjNs(id: Long): Int = 1 + ((id / 3) % 3).toInt // scenes
  private def MjFps(id: Long): Int = 1 + ((id / 5) % 3).toInt // frames/scene
  /** Planted level of frame j in scene s: base 32/128/224 per scene
    * (adjacent scenes always differ by ≥96), plus an intra-scene
    * brightness step of 8·((id+j) % 3) — distinct within a ≤3-frame
    * scene, so the keyframe argmax has no ties. */
  private def MjLevel(id: Long, s: Int, j: Int): Int =
    32 + 96 * ((id + s) % 3).toInt + 8 * ((id + j) % 3).toInt

  def mmMjpegKeyframes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .filter(_.media_type == "video")
      .flatMap { b =>
        val id = b.doc_id
        val (w, h) = (48, 32) // multiples of 16: subsampling-safe
        val jpegs = for {
          sc <- 0 until MjNs(id)
          j <- 0 until MjFps(id)
        } yield MediaFiles.encodeJpegSolid(w, h, MjLevel(id, sc, j))
        val avi = MediaFiles.encodeAvi(w, h, 40000, jpegs, handler = "MJPG")
        // decode side: real RIFF walk, then a real JPEG decode per frame
        val dec = MediaFiles.decodeAvi(avi).getOrElse(
          throw new IllegalStateException(s"undecodable MJPEG AVI for doc $id"))
        val pix = dec.frames.map(fb => MediaFiles.decodeJpeg(fb).getOrElse(
          throw new IllegalStateException(s"undecodable JPEG frame in doc $id")))
        def meanAbsDiff(a: MediaFiles.Bmp, c: MediaFiles.Bmp): Double = {
          var sum = 0L
          var i = 0
          while (i < c.channels.length) {
            sum += math.abs(c.channels(i) - a.channels(i)); i += 1
          }
          sum.toDouble / c.channels.length
        }
        def brightness(p: MediaFiles.Bmp): Double = {
          var sum = 0L
          var i = 0
          while (i < p.channels.length) { sum += p.channels(i); i += 1 }
          sum.toDouble / p.channels.length
        }
        val shotOf = new Array[Int](pix.length)
        var f = 1
        while (f < pix.length) {
          shotOf(f) = shotOf(f - 1) +
            (if (meanAbsDiff(pix(f - 1), pix(f)) > 32.0) 1 else 0)
          f += 1
        }
        val bright = pix.map(brightness)
        pix.indices.groupBy(shotOf(_)).toSeq.map { case (shot, idxs) =>
          val key = idxs.maxBy(i => (bright(i), -i)) // brightest, earliest tie
          (id, shot.toLong, idxs.min.toLong, idxs.max.toLong,
            idxs.length.toLong, key.toLong)
        }
      }
      .toDF("doc_id", "shot", "first_frame", "last_frame", "n_frames", "keyframe")
  }

  /** The oracle replays the PLANTED schedule (scene s spans frames
    * [s·fps, (s+1)·fps), keyframe = argmax of the intra-scene step) —
    * closed-form, no pixel values: the Spark side must RECOVER that
    * schedule from decoded pixels for the hash to match. */
  val mmMjpegKeyframesSql: String =
    """WITH v AS (
      |  SELECT doc_id,
      |    1 + ((doc_id // 3) % 3) AS ns,
      |    1 + ((doc_id // 5) % 3) AS fps
      |  FROM documents WHERE doc_id % 3 = 2),
      |shots AS (
      |  SELECT doc_id, fps, unnest(range(ns)) AS s FROM v)
      |SELECT doc_id, CAST(s AS BIGINT) AS shot,
      |  CAST(s * fps AS BIGINT) AS first_frame,
      |  CAST(s * fps + fps - 1 AS BIGINT) AS last_frame,
      |  CAST(fps AS BIGINT) AS n_frames,
      |  CAST(s * fps
      |    + list_position(list_transform(range(fps), j -> (doc_id + j) % 3),
      |        list_max(list_transform(range(fps), j -> (doc_id + j) % 3)))
      |    - 1 AS BIGINT) AS keyframe
      |FROM shots""".stripMargin

  // ---------------------------------------------------- mm_dup_groups
  /** Duplicate screening over OPAQUE BINARY payloads by HEAD-BLOCK
    * fingerprint: fold the first [[HeadBytes]] payload bytes into a
    * portable int64 hash on the executor (bytes never leave it), then
    * group — collision groups report copy count and canonical (min)
    * doc. This is the standard cheap first pass of binary dedup (file
    * stores and image pipelines screen on a head block before any
    * full-content compare); identical-prefix payloads collide
    * regardless of metadata, catching both exact copies and
    * truncated/re-encoded-tail variants.
    *
    * The byte fold is the same recurrence as `char_fold_hash`
    * (h·131 + byte mod HashFunctions.P); payloads here are ASCII, so
    * the oracle reuses the char-level SQL fold on the same prefix —
    * bit-identical.
    *
    * Scale shape: per-row map over a CONSTANT 64-byte prefix (a scan
    * that never touches the payload tail), then a hash-keyed count —
    * the shuffle carries (hash, id) pairs only, never payload bytes. */
  private val HeadBytes = 64

  def mmDupGroups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .map(b => (b.doc_id,
        b.data.take(HeadBytes)
          .foldLeft(0L)((h, x) => (h * 131 + (x & 0xff)) % graft.functions.HashFunctions.P)))
      .toDF("doc_id", "payload_h")
      .groupBy(col("payload_h"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_doc"))
      .filter(col("n_copies") >= 2)
  }

  val mmDupGroupsSql: String =
    s"""SELECT ${graft.functions.HashFunctions.charFoldHashSql(s"substr(text, 1, $HeadBytes)")} AS payload_h,
       |  CAST(count(*) AS BIGINT) AS n_copies,
       |  min(doc_id) AS canonical_doc
       |FROM documents
       |GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  // ----------------------------------------------------- mm_shard_layout
  /** Training-shard layout: pack media payloads into fixed-byte-budget
    * shards — the step that turns a row-per-blob table into the
    * sequential shard files a training loader streams. Packing is
    * BLOCK-LOCAL by design: docs are first cut into fixed doc_id blocks,
    * and the running-byte-sum window that assigns shard numbers runs
    * within (media_type, block) — thousands of independent bounded
    * groups, so no global sort exists anywhere. (A corpus-wide running
    * sum would serialize the layout through one partition at 100 TB;
    * block-local packing is what real shard writers do, at the cost of
    * one under-filled trailing shard per block.)
    *
    * Shard id = exclusive-prefix bytes div budget: integral arithmetic
    * on both engines, so boundaries are bit-portable. */
  def mmShardLayout(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = mediaTable(s, d).select(
      col("doc_id"), col("media_type"),
      expr(s"doc_id div $ShardBlockDocs").as("block"),
      length(col("data")).cast("long").as("nbytes"))
    val w = Window.partitionBy(col("media_type"), col("block"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    m.withColumn("prefix", coalesce(sum(col("nbytes")).over(w), lit(0L)))
      .withColumn("shard", expr(s"prefix div $ShardBytes"))
      .groupBy(col("media_type"), col("block"), col("shard"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("nbytes")).as("total_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  private val ShardBlockDocs = 1024
  private val ShardBytes = 4096

  val mmShardLayoutSql: String =
    s"""WITH m AS (
       |  SELECT doc_id, $TypeSql AS media_type,
       |    doc_id // $ShardBlockDocs AS block,
       |    CAST(strlen(text) AS BIGINT) AS nbytes
       |  FROM documents),
       |x AS (
       |  SELECT media_type, block, doc_id, nbytes,
       |    CAST(coalesce(sum(nbytes) OVER (
       |      PARTITION BY media_type, block ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      // $ShardBytes AS shard
       |  FROM m)
       |SELECT media_type, block, shard,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  CAST(sum(nbytes) AS BIGINT) AS total_bytes,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM x GROUP BY media_type, block, shard""".stripMargin

  // -------------------------------------------------------- mm_av_align
  /** Audio/video stream alignment: for every video frame (25 fps →
    * 40 ms ticks), the latest audio chunk that STARTED at or before it
    * — the as-of join every A/V feature extractor runs before fusing
    * modalities. Chunk times are ~21 ms with a deterministic per-chunk
    * hash jitter, so the alignment is a REAL as-of (no closed-form
    * shortcut exists) and frame 0 can legitimately have no chunk yet
    * (LEFT semantics + null lag handling are part of the contract).
    * The oracle is DuckDB's native ASOF LEFT JOIN; the Spark side is
    * the union + ordered-window carry-forward form (same plan family as
    * q18) — both sides must agree on the inclusive >= boundary.
    *
    * Scale shape: frames and chunks explode from per-doc metadata
    * (bounded fan-out per row), the carry-forward rides ONE doc_id
    * window shuffle, and the output is one row per video doc. */
  def mmAvAlign(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    graft.expressions.CharFoldHash.register(s)
    val vids = mediaTable(s, d).toDF()
      .filter(col("media_type") === "video")
      .select(col("doc_id"), col("n_frames"))
    val frames = vids
      .select(col("doc_id"), explode(sequence(lit(0), col("n_frames") - 1)).as("fidx"))
      .select(col("doc_id"), (col("fidx") * 40000L).cast(LongType).as("ts_us"),
        lit(1).as("is_f"), lit(null).cast(LongType).as("a_ts"))
    val chunks = vids
      .select(col("doc_id"),
        explode(sequence(lit(0), expr("(n_frames * 40000 - 1) div 21000"))).as("c"))
      .select(col("doc_id"),
        expr("CAST(c * 21000 + char_fold_hash(CONCAT('av', CAST(doc_id AS STRING), ':', CAST(c AS STRING))) % 1000 AS BIGINT)")
          .as("ts_us"),
        lit(0).as("is_f"), lit(null).cast(LongType).as("a_ts"))
      .withColumn("a_ts", col("ts_us"))
    // at equal ts the chunk sorts first (is_f asc) → >= is inclusive,
    // matching ASOF JOIN's `fts >= ats`
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("ts_us").asc, col("is_f").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frames.unionByName(chunks)
      .withColumn("aligned", last(col("a_ts"), ignoreNulls = true).over(w))
      .filter(col("is_f") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("aligned").isNotNull, 1L).otherwise(0L)).as("n_aligned"),
        sum(when(col("aligned").isNotNull, col("ts_us") - col("aligned"))
          .otherwise(0L)).as("total_lag_us"),
        max(when(col("aligned").isNotNull, col("ts_us") - col("aligned")))
          .as("max_lag_us"))
  }

  val mmAvAlignSql: String = {
    val h = graft.functions.HashFunctions.charFoldHashSql(
      "'av' || CAST(doc_id AS VARCHAR) || ':' || CAST(c AS VARCHAR)")
    s"""WITH v AS (
       |  SELECT doc_id, $FramesSql AS n_frames FROM documents
       |  WHERE doc_id % 3 = 2),
       |fr AS (
       |  SELECT doc_id, CAST(unnest(range(n_frames)) * 40000 AS BIGINT) AS fts
       |  FROM v),
       |cn AS (
       |  SELECT doc_id, unnest(range((n_frames * 40000 - 1) // 21000 + 1)) AS c
       |  FROM v),
       |ch AS (
       |  SELECT doc_id, CAST(c * 21000 + ($h) % 1000 AS BIGINT) AS ats
       |  FROM cn),
       |al AS (
       |  SELECT fr.doc_id, fr.fts, ch.ats
       |  FROM fr ASOF LEFT JOIN ch ON fr.doc_id = ch.doc_id AND fr.fts >= ch.ats)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(sum(CASE WHEN ats IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_aligned,
       |  CAST(sum(CASE WHEN ats IS NOT NULL THEN fts - ats ELSE 0 END) AS BIGINT) AS total_lag_us,
       |  CAST(max(CASE WHEN ats IS NOT NULL THEN fts - ats END) AS BIGINT) AS max_lag_us
       |FROM al GROUP BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ mm_wav_energy
  /** Audio segmentation over DECODED samples: every audio doc's real
    * WAV payload is parsed back to PCM16 ([[MediaFiles.decodeWav]]) and
    * split into fixed [[EnergyChunk]]-sample chunks (10 ms at 16 kHz —
    * the standard frame for VAD/energy gating); per chunk the energy is
    * the int64 sum of squared samples, rolled up per doc with the
    * loudest chunk and its index (first chunk wins energy ties, which
    * the oracle mirrors with min-index-among-max). This is the first
    * op CONSUMING the real decode — the stats flow from parsed sample
    * values, not container bytes, so a codec regression (byte order,
    * chunk walk, sign) breaks the hash.
    *
    * Determinism: all-integer math (squares and sums of 12-bit
    * samples in int64). Scale shape: embarrassingly parallel map over
    * payloads; per-doc work bounded by clip length; no shuffle beyond
    * the one-row-per-doc result. */
  private val EnergyChunk = 160

  def mmWavEnergy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTableEncoded(s, d)
      .filter(_.media_type == "audio")
      .map { b =>
        val w = MediaFiles.decodeWav(b.data).getOrElse(
          throw new IllegalStateException(s"undecodable WAV for doc ${b.doc_id}"))
        val n = w.samples.length
        val nChunks = (n + EnergyChunk - 1) / EnergyChunk
        var total = 0L
        var best = Long.MinValue
        var bestIdx = -1L
        var c = 0
        while (c < nChunks) {
          var e = 0L
          var i = c * EnergyChunk
          val end = math.min(n, i + EnergyChunk)
          while (i < end) { val v = w.samples(i).toLong; e += v * v; i += 1 }
          total += e
          if (e > best) { best = e; bestIdx = c }
          c += 1
        }
        (b.doc_id, w.sampleRate, n.toLong, nChunks.toLong, total, best, bestIdx)
      }
      .toDF("doc_id", "sample_rate", "n_samples", "n_chunks",
        "total_energy", "max_chunk_energy", "max_chunk_idx")
  }

  val mmWavEnergySql: String =
    s"""WITH a AS (
       |  SELECT doc_id, 256 + (doc_id % 7) * 64 AS n
       |  FROM documents WHERE doc_id % 3 = 1),
       |sm AS (SELECT doc_id, n, unnest(range(n)) AS i FROM a),
       |ch AS (
       |  SELECT doc_id, n, i // $EnergyChunk AS c,
       |    (doc_id * 31 + i * 17) % 4096 - 2048 AS s
       |  FROM sm),
       |ce AS (
       |  SELECT doc_id, any_value(n) AS n, c, CAST(sum(s * s) AS BIGINT) AS e
       |  FROM ch GROUP BY doc_id, c),
       |m AS (SELECT *, max(e) OVER (PARTITION BY doc_id) AS me FROM ce)
       |SELECT doc_id, CAST($WavRate AS INTEGER) AS sample_rate,
       |  CAST(any_value(n) AS BIGINT) AS n_samples,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(e) AS BIGINT) AS total_energy,
       |  CAST(max(e) AS BIGINT) AS max_chunk_energy,
       |  CAST(min(CASE WHEN e = me THEN c END) AS BIGINT) AS max_chunk_idx
       |FROM m GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------- mm_audio_pitch
  /** Periodicity / pitch detection over DECODED samples — the integer
    * autocorrelation argmax every VAD / pitch front-end computes. Each
    * audio doc synthesizes a square wave whose FULL PERIOD is
    * doc-derived (2p, p = 4 + id%13, so the true period sweeps the
    * whole candidate grid), encodes it as a real PCM16 WAV, decodes the
    * artifact — both codec directions sit on the hash path — and scores
    * R(L) = Σ x[i]·x[i+L] for every lag L ∈ [8, 32]: the winner (ties
    * to the SHORTEST lag — a strict total order) must be the planted
    * period, found by the detector, never read from metadata. All
    * arithmetic is int64 sums of int16 products — engine-exact; the
    * oracle replays the waveform closed-form, so one wrong decoded
    * sample shifts some R(L) and breaks the hash.
    *
    * Scale shape: embarrassingly parallel per-row map (|lags|·n
    * multiplies per doc), bytes never leave the executor; one narrow
    * row per audio doc. A production pitch tracker swaps the square
    * wave for real frames and adds windowing — the plan is unchanged. */
  def mmAudioPitch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .filter(_ % 3 == 1) // the corpus's audio docs
      .map { id =>
        val p = 4 + (id % 13).toInt
        val amp = 512 + (id % 97).toInt
        val n = 400 + (id % 5).toInt * 40
        val wav = MediaFiles.encodeWav(16000,
          Array.tabulate(n)(i => if ((i / p) % 2 == 0) amp else -amp))
        val x = MediaFiles.decodeWav(wav).getOrElse(
          throw new IllegalStateException(s"undecodable WAV for doc $id")).samples
        var r0 = 0L
        var i = 0
        while (i < x.length) { val v = x(i).toLong; r0 += v * v; i += 1 }
        var bestL = -1L
        var bestR = Long.MinValue
        var lag = 8
        while (lag <= 32) {
          var r = 0L
          var j = 0
          while (j + lag < x.length) { r += x(j).toLong * x(j + lag); j += 1 }
          if (r > bestR) { bestR = r; bestL = lag } // strict >: ties keep the shorter lag
          lag += 1
        }
        (id, x.length.toLong, r0, bestL, bestR)
      }
      .toDF("doc_id", "n_samples", "r0", "best_lag", "best_r")
  }

  val mmAudioPitchSql: String =
    """WITH a AS (
      |  SELECT doc_id, 4 + (doc_id % 13) AS p, 512 + (doc_id % 97) AS amp,
      |    400 + (doc_id % 5) * 40 AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |x AS (
      |  SELECT doc_id, n,
      |    list_transform(range(0, n),
      |      i -> CASE WHEN (i // p) % 2 = 0 THEN amp ELSE -amp END) AS xs
      |  FROM a),
      |lags AS (SELECT unnest(range(8, 33)) AS lag),
      |rl AS (
      |  SELECT doc_id, lag,
      |    CAST(list_sum(list_transform(range(0, n - lag),
      |      i -> xs[i + 1] * xs[i + lag + 1])) AS BIGINT) AS r
      |  FROM x, lags),
      |best AS (
      |  SELECT doc_id, lag, r,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY r DESC, lag ASC) AS rn
      |  FROM rl)
      |SELECT x.doc_id, CAST(n AS BIGINT) AS n_samples,
      |  CAST(list_sum(list_transform(xs, v -> v * v)) AS BIGINT) AS r0,
      |  CAST(b.lag AS BIGINT) AS best_lag, b.r AS best_r
      |FROM x JOIN best b ON x.doc_id = b.doc_id AND b.rn = 1""".stripMargin

  // ------------------------------------------------- mm_audio_resample
  /** REAL 2:1 audio downsample round-trip — the audio sibling of
    * `mm_resize`: decode the actual PCM16 WAV, floor-halve it with
    * [[MediaCodec.downsampleAudio]] (adjacent-pair mean, re-encoded as
    * a real WAV at 8 kHz), then decode the ARTIFACT again and hash its
    * content — header rate, sample count, payload length (44-byte RIFF
    * header + 2 bytes/sample), sample sum and energy all come from the
    * re-decoded container, so encoder+decoder sit on the hash path
    * twice. The oracle replays the pair means closed-form from the
    * synth formula; pair division is truncate-toward-zero on both
    * engines (Scala `/` == DuckDB `//`) — see the codec doc for why
    * floor would break every odd negative pair.
    *
    * Scale shape: embarrassingly parallel per-row map, bytes never
    * leave the executor; output is one narrow row per audio doc. */
  def mmAudioResample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTableEncoded(s, d)
      .filter(_.media_type == "audio")
      .map { b =>
        val r = MediaCodec.downsampleAudio(b)
        val back = MediaFiles.decodeWav(r.data).getOrElse(
          throw new IllegalStateException(s"downsampled WAV undecodable for doc ${b.doc_id}"))
        var sum = 0L
        var energy = 0L
        back.samples.foreach { v => sum += v; energy += v.toLong * v }
        (r.doc_id, back.sampleRate, back.samples.length.toLong,
          r.data.length.toLong, sum, energy)
      }
      .toDF("doc_id", "new_rate", "n_samples", "payload_bytes",
        "sum_samples", "energy")
  }

  val mmAudioResampleSql: String =
    s"""WITH a AS (
       |  SELECT doc_id, 256 + (doc_id % 7) * 64 AS n
       |  FROM documents WHERE doc_id % 3 = 1),
       |pr AS (SELECT doc_id, n, unnest(range(n // 2)) AS j FROM a),
       |v AS (
       |  SELECT doc_id, n,
       |    (((doc_id * 31 + (2 * j) * 17) % 4096 - 2048)
       |     + ((doc_id * 31 + (2 * j + 1) * 17) % 4096 - 2048)) // 2 AS s
       |  FROM pr)
       |SELECT doc_id, CAST(${WavRate / 2} AS INTEGER) AS new_rate,
       |  CAST(any_value(n) // 2 AS BIGINT) AS n_samples,
       |  CAST(44 + 2 * (any_value(n) // 2) AS BIGINT) AS payload_bytes,
       |  CAST(sum(s) AS BIGINT) AS sum_samples,
       |  CAST(sum(s * s) AS BIGINT) AS energy
       |FROM v GROUP BY doc_id""".stripMargin

  // --------------------------------------------------- mm_binary_files
  /** The `binaryFile` SOURCE under the gate: image docs are written out
    * as individual `.bmp` FILES (one real BMP container per file, named
    * by doc_id — the layout every scraped-media corpus actually
    * arrives in), read back through Spark's built-in binaryFile format
    * (path / length / content schema), keyed by filename, decoded, and
    * reduced to per-file header dims + per-channel pixel sums. The
    * oracle recomputes every value from the closed-form pixel formulas
    * — including the FILE LENGTH, whose 54-byte header + 4-byte row
    * padding must match the BMP spec exactly — so the source's
    * content/metadata columns are gated as behavior.
    *
    * Scale shape: the write is foreachPartition (embarrassingly
    * parallel, bytes never visit the driver); binaryFile listing
    * parallelizes over files and the decode+sum is a pure per-file map
    * — output is |files| rows, one shuffle nowhere. */
  def mmBinaryFiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.Scratch.fixed(s"graft_mm_bin_${d.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(dir)
    // overwrite semantics, like every format gate: stale .bmp files
    // from a previous corpus generation (or a crashed run) would leak
    // into the glob read and break the hash against the oracle
    java.nio.file.Files.list(dir).forEach { p =>
      if (p.toString.endsWith(".bmp")) java.nio.file.Files.delete(p)
    }
    val dirStr = dir.toString
    mediaTableEncoded(s, d).filter(_.media_type == "image")
      .foreachPartition { it: Iterator[MediaBlob] =>
        it.foreach { b =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dirStr, s"${b.doc_id}.bmp"), b.data)
        }
      }
    s.read.format("binaryFile").option("pathGlobFilter", "*.bmp").load(dirStr)
      .select(col("path"), col("length"), col("content"))
      .as[(String, Long, Array[Byte])]
      .map { case (path, len, bytes) =>
        val id = path.split('/').last.stripSuffix(".bmp").toLong
        val bmp = MediaFiles.decodeBmp(bytes).getOrElse(
          throw new IllegalStateException(s"undecodable BMP file for doc $id"))
        var sb = 0L; var sg = 0L; var sr = 0L
        var i = 0
        while (i < bmp.channels.length) {
          sb += bmp.channels(i); sg += bmp.channels(i + 1); sr += bmp.channels(i + 2)
          i += 3
        }
        (id, bmp.width.toLong, bmp.height.toLong, len, sb, sg, sr)
      }
      .toDF("doc_id", "width", "height", "file_len", "sum_b", "sum_g", "sum_r")
  }

  val mmBinaryFilesSql: String =
    """WITH img AS (
      |  SELECT doc_id, (16 + (doc_id % 8) * 2) AS w, (8 + (doc_id % 5) * 3) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |ipx AS (
      |  SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM img),
      |ich AS (
      |  SELECT doc_id, w, h,
      |    (doc_id + 2 * (i % w) + 3 * (i // w)) % 256 AS b,
      |    (doc_id * 2 + (i % w) + 5 * (i // w) + 1) % 256 AS g,
      |    (doc_id * 3 + 4 * (i % w) + (i // w) + 2) % 256 AS r
      |  FROM ipx)
      |SELECT doc_id, CAST(any_value(w) AS BIGINT) AS width,
      |  CAST(any_value(h) AS BIGINT) AS height,
      |  CAST(54 + ((3 * any_value(w) + 3) // 4) * 4 * any_value(h) AS BIGINT)
      |    AS file_len,
      |  CAST(sum(b) AS BIGINT) AS sum_b,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(r) AS BIGINT) AS sum_r
      |FROM ich GROUP BY doc_id""".stripMargin

  // ----------------------------------------------------- mm_image_hist
  /** Per-image channel histograms from REAL decoded pixels: every BMP
    * image's B/G/R values bucketed into 4 intensity quartiles
    * (0-63 / 64-127 / 128-191 / 192-255) — the brightness/contrast
    * screening signal an image-curation pipeline computes before any
    * model sees a pixel (all-dark, all-blown, low-dynamic-range
    * filters all read off this histogram). The oracle rebuilds every
    * bucket count from the closed-form pixel formulas, so the decode →
    * histogram path is gated value-for-value.
    *
    * Scale shape: decode + count is a pure per-row map (12 counters per
    * image); output is 4 rows per image — bytes never shuffle. */
  def mmImageHist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTableEncoded(s, d)
      .filter(_.media_type == "image")
      .flatMap { blob =>
        val bmp = MediaFiles.decodeBmp(blob.data).getOrElse(
          throw new IllegalStateException(s"undecodable BMP for doc ${blob.doc_id}"))
        val counts = Array.ofDim[Long](4, 3) // bucket x channel(B,G,R)
        var i = 0
        while (i < bmp.channels.length) {
          counts(bmp.channels(i) >> 6)(i % 3) += 1L
          i += 1
        }
        (0 until 4).map(b =>
          (blob.doc_id, b.toLong, counts(b)(0), counts(b)(1), counts(b)(2)))
      }
      .toDF("doc_id", "bucket", "n_b", "n_g", "n_r")
  }

  val mmImageHistSql: String =
    """WITH img AS (
      |  SELECT doc_id, (16 + (doc_id % 8) * 2) AS w, (8 + (doc_id % 5) * 3) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |ipx AS (
      |  SELECT doc_id, w, unnest(range(w * h)) AS i FROM img),
      |ich AS (
      |  SELECT doc_id,
      |    (doc_id + 2 * (i % w) + 3 * (i // w)) % 256 AS b,
      |    (doc_id * 2 + (i % w) + 5 * (i // w) + 1) % 256 AS g,
      |    (doc_id * 3 + 4 * (i % w) + (i // w) + 2) % 256 AS r
      |  FROM ipx),
      |buckets AS (SELECT CAST(unnest(range(4)) AS BIGINT) AS bucket)
      |SELECT c.doc_id, bk.bucket,
      |  CAST(count(*) FILTER (WHERE c.b // 64 = bk.bucket) AS BIGINT) AS n_b,
      |  CAST(count(*) FILTER (WHERE c.g // 64 = bk.bucket) AS BIGINT) AS n_g,
      |  CAST(count(*) FILTER (WHERE c.r // 64 = bk.bucket) AS BIGINT) AS n_r
      |FROM ich c CROSS JOIN buckets bk
      |GROUP BY c.doc_id, bk.bucket""".stripMargin

  // --------------------------------------------------------- mm_phash
  /** Perceptual near-duplicate IMAGE grouping by average hash (aHash,
    * the public perceptual-hash family's baseline): each decoded BMP
    * folds to integer grayscale (b+g+r) div 3, block-averages onto an
    * 8×8 grid (pixel x → block x·8 div w, the integer downsample), and
    * sets bit (by,bx) iff the block mean exceeds the image mean. The
    * comparison is CROSS-MULTIPLIED (S_b·N > T·n_b) so no division or
    * float ever exists — the hash is bit-exact on any engine. Equal
    * hashes group perceptually-similar images: aHash is invariant to
    * constant brightness shifts of the same gradient, which is exactly
    * what makes it a dedup screen rather than a checksum (the fixture
    * corpus collides ~16 groups at sf0.01 by construction). The 64
    * bits ship as two 32-bit halves (h1 high, h0 low), like
    * sim_binary_hamming, to stay inside signed int64 everywhere.
    *
    * Scale shape: decode + hash is a pure per-row map (129 integer
    * accumulators per image); the only shuffle carries (hash, doc_id)
    * pairs — inverted-index-shaped like every other dedup screen. */
  def mmPhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTableEncoded(s, d)
      .filter(_.media_type == "image")
      .map { blob =>
        val bmp = MediaFiles.decodeBmp(blob.data).getOrElse(
          throw new IllegalStateException(s"undecodable BMP for doc ${blob.doc_id}"))
        val (w, h) = (bmp.width, bmp.height)
        val sums = new Array[Long](64)
        val counts = new Array[Long](64)
        var total = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val base = 3 * (y * w + x)
            val gray = (bmp.channels(base) + bmp.channels(base + 1) +
              bmp.channels(base + 2)) / 3
            val blk = (y * 8 / h) * 8 + (x * 8 / w)
            sums(blk) += gray; counts(blk) += 1L; total += gray
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        var h0 = 0L; var h1 = 0L
        var b = 0
        while (b < 64) {
          if (sums(b) * n > total * counts(b)) {
            if (b < 32) h0 |= 1L << b else h1 |= 1L << (b - 32)
          }
          b += 1
        }
        (blob.doc_id, h0, h1)
      }
      .toDF("doc_id", "h0", "h1")
      .groupBy(col("h0"), col("h1"))
      .agg(count(lit(1)).as("n_imgs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_imgs") >= 2)
  }

  val mmPhashSql: String =
    """WITH img AS (
      |  SELECT doc_id, (16 + (doc_id % 8) * 2) AS w, (8 + (doc_id % 5) * 3) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |ipx AS (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM img),
      |g AS (
      |  SELECT doc_id,
      |    ((doc_id + 2 * (i % w) + 3 * (i // w)) % 256
      |     + (doc_id * 2 + (i % w) + 5 * (i // w) + 1) % 256
      |     + (doc_id * 3 + 4 * (i % w) + (i // w) + 2) % 256) // 3 AS gray,
      |    ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS blk
      |  FROM ipx),
      |blocks AS (SELECT doc_id, blk, sum(gray) AS s, count(*) AS nb
      |           FROM g GROUP BY doc_id, blk),
      |tot AS (SELECT doc_id, sum(gray) AS t, count(*) AS n FROM g GROUP BY doc_id),
      |bits AS (
      |  SELECT b.doc_id, b.blk,
      |    CASE WHEN b.s * tot.n > tot.t * b.nb THEN 1 ELSE 0 END AS bit
      |  FROM blocks b JOIN tot USING (doc_id)),
      |hash AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN blk < 32
      |      THEN bit * (CAST(1 AS BIGINT) << blk) ELSE 0 END) AS BIGINT) AS h0,
      |    CAST(sum(CASE WHEN blk >= 32
      |      THEN bit * (CAST(1 AS BIGINT) << (blk - 32)) ELSE 0 END) AS BIGINT) AS h1
      |  FROM bits GROUP BY doc_id)
      |SELECT h0, h1, CAST(count(*) AS BIGINT) AS n_imgs,
      |  CAST(min(doc_id) AS BIGINT) AS first_doc
      |FROM hash GROUP BY h0, h1 HAVING count(*) >= 2""".stripMargin

  // ------------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_phash"        -> (mmPhash _),
    "mm_image_hist"   -> (mmImageHist _),
    "mm_binary_files" -> (mmBinaryFiles _),
    "mm_wav_energy"   -> (mmWavEnergy _),
    "mm_audio_pitch"  -> (mmAudioPitch _),
    "mm_video_scene_cut" -> (mmVideoSceneCut _),
    "mm_keyframe_select" -> (mmKeyframeSelect _),
    "mm_mjpeg_keyframes" -> (mmMjpegKeyframes _),
    "mm_audio_resample" -> (mmAudioResample _),
    "mm_features"     -> (mmFeatures _),
    "mm_resize"       -> (mmResize _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_dup_groups"   -> (mmDupGroups _),
    "mm_shard_layout" -> (mmShardLayout _),
    "mm_av_align"     -> (mmAvAlign _),
  )

  val oracleSql: Map[String, String] = Map(
    "mm_phash"        -> mmPhashSql,
    "mm_image_hist"   -> mmImageHistSql,
    "mm_binary_files" -> mmBinaryFilesSql,
    "mm_wav_energy"   -> mmWavEnergySql,
    "mm_audio_pitch"  -> mmAudioPitchSql,
    "mm_video_scene_cut" -> mmVideoSceneCutSql,
    "mm_keyframe_select" -> mmKeyframeSelectSql,
    "mm_mjpeg_keyframes" -> mmMjpegKeyframesSql,
    "mm_audio_resample" -> mmAudioResampleSql,
    "mm_features"     -> mmFeaturesSql,
    "mm_resize"       -> mmResizeSql,
    "mm_frame_sample" -> mmFrameSampleSql,
    "mm_dup_groups"   -> mmDupGroupsSql,
    "mm_shard_layout" -> mmShardLayoutSql,
    "mm_av_align"     -> mmAvAlignSql,
  )
}
