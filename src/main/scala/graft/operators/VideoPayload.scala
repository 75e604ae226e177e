package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Video payload columns, for real.
  *
  * No general-purpose video codecs exist in this container, so instead of a
  * stub this module defines a complete, honest container format — "GRFV1", a
  * length-prefixed sequence of real PNG frames with an (nFrames, fps) header
  * — and every operator below PARSES and DECODES it for real via
  * javax.imageio, exactly like the image operators. The Spark-side shape is
  * the production one: videos are opaque `binary` columns with typed
  * metadata (w, h, fmt), each row is touched by exactly ONE gate UDF call
  * (decode once, emit a struct), bytes never enter a shuffle, and frame
  * SAMPLING reads only the sampled frames' byte ranges (the whole point of
  * sampling at 100 TB: a 3000-frame clip whose every-100th frame feeds a
  * model costs 30 decodes, not 3000). A deployment with ffmpeg/JCodec swaps
  * `parseFrames`'s inner loop for a codec call; nothing else changes.
  *
  * Container layout (big-endian):
  * {{{
  *   magic "GRFV1\n" | int32 nFrames | int32 fps | nFrames x (int32 len | PNG)
  * }}}
  *
  * Reference anchor: the image-payload invariants of the north rule
  * (decoded-pixel equality vs the synthesis rule) extended to the temporal
  * axis; frame rasters reuse [[ImagePayload.pixel]] so frame 0 of video k is
  * pixel-verifiable the same way images are.
  */
object VideoPayload {

  val Magic: Array[Byte] = "GRFV1\n".getBytes(StandardCharsets.US_ASCII)

  /** Deterministic per-video frame count / rate (3..6 frames, 2..4 fps) —
    * integer rules a SQL oracle recomputes exactly. */
  def nFramesFor(key: Long): Int = (3 + Math.floorMod(key, 4)).toInt
  def fpsFor(key: Long): Int = (2 + Math.floorMod(key, 3)).toInt

  /** Raster key of frame `idx`: static videos repeat frame 0's raster
    * (motion == 0 by construction), dynamic videos get an independent
    * raster per frame (distinct with overwhelming margin — VideoPayloadSpec
    * asserts no natural all-equal video exists in the fixture population,
    * which is what makes the planted-static oracle exact). */
  def frameKey(key: Long, idx: Int, static: Boolean): Long =
    if (static) key * 1000003L else key * 1000003L + idx + 1

  /** Encode one video; `truncateLast` plants a short read in the LAST
    * frame's payload (the length field keeps the true length, so the
    * container is short — the parse-level corruption an ingest gate must
    * catch). `patchFrameIdx` >= 0 blacks a corner patch of that frame
    * (the re-post plant for near-dup: same content, not byte-identical). */
  def encodeVideo(key: Long, w: Int, h: Int, static: Boolean,
                  truncateLast: Boolean, patchFrameIdx: Int = -1): Array[Byte] = {
    val n = nFramesFor(key)
    val out = new ByteArrayOutputStream()
    out.write(Magic)
    val hdr = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    hdr.putInt(n).putInt(fpsFor(key))
    out.write(hdr.array())
    var i = 0
    while (i < n) {
      val png0 = ImagePayload.encodePng(frameKey(key, i, static), w, h)
      val png = if (i == patchFrameIdx) ImagePayload.patchImage(png0, 0, 0, 3) else png0
      val len = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN).putInt(png.length)
      out.write(len.array())
      if (truncateLast && i == n - 1) out.write(png, 0, png.length / 2)
      else out.write(png)
      i += 1
    }
    out.toByteArray
  }

  final case class VideoHeader(nFrames: Int, fps: Int)

  /** Parse the container. Returns None for a bad magic/header; otherwise
    * the header plus one entry per declared frame — null where the payload
    * can't be fully read (truncation/corruption), so callers see exactly
    * which frames are damaged. `wanted` restricts reading to a set of frame
    * indices: non-wanted frames are SKIPPED by offset arithmetic, never
    * copied — the sampling fast path. */
  def parseFrames(bytes: Array[Byte],
                  wanted: Int => Boolean = _ => true): Option[(VideoHeader, Array[Array[Byte]])] = {
    if (bytes == null || bytes.length < Magic.length + 8) return None
    var i = 0
    while (i < Magic.length) { if (bytes(i) != Magic(i)) return None; i += 1 }
    val buf = ByteBuffer.wrap(bytes, Magic.length, bytes.length - Magic.length)
      .order(ByteOrder.BIG_ENDIAN)
    val n = buf.getInt
    val fps = buf.getInt
    if (n < 0 || n > (1 << 20) || fps <= 0) return None
    val frames = new Array[Array[Byte]](n)
    var idx = 0
    var ok = true
    while (idx < n && ok) {
      if (buf.remaining() < 4) ok = false
      else {
        val len = buf.getInt
        if (len < 0 || len > buf.remaining()) ok = false // short payload: this + rest unreadable
        else {
          if (wanted(idx)) {
            val f = new Array[Byte](len)
            buf.get(f)
            frames(idx) = f
          } else buf.position(buf.position() + len)
          idx += 1
        }
      }
    }
    Some((VideoHeader(n, fps), frames))
  }

  /** Decode a PNG frame; None when undecodable or the dims disagree with
    * the cataloged (w, h). */
  private def decodeRgb(frame: Array[Byte], w: Int, h: Int): Option[Array[Int]] = {
    if (frame == null) return None
    val img = try ImageIO.read(new ByteArrayInputStream(frame)) catch { case _: Exception => null }
    if (img == null || img.getWidth != w || img.getHeight != h) None
    else {
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { px(y * w + x) = img.getRGB(x, y) & 0xffffff; x += 1 }
        y += 1
      }
      Some(px)
    }
  }

  final case class VideoMeta(n_frames: Option[Int], fps: Option[Int],
                             frames_ok: Boolean, is_static: Option[Boolean])

  /** One-call ingest gate: header fields, a full-decode validity bit, and
    * the exact static/dynamic classification (motion == 0 iff every decoded
    * frame buffer is identical to frame 0's). is_static is null when any
    * frame fails to read/decode — a damaged video's motion is unknowable,
    * not zero. Decodes each frame exactly once. */
  def videoMeta(bytes: Array[Byte], w: Int, h: Int): VideoMeta =
    parseFrames(bytes) match {
      case None => VideoMeta(None, None, frames_ok = false, None)
      case Some((hdr, frames)) =>
        var allOk = true
        var static = true
        var first: Array[Int] = null
        var i = 0
        while (i < frames.length && allOk) {
          decodeRgb(frames(i), w, h) match {
            case None => allOk = false
            case Some(px) =>
              if (i == 0) first = px
              else if (static && !java.util.Arrays.equals(px, first)) static = false
          }
          i += 1
        }
        VideoMeta(Some(hdr.nFrames), Some(hdr.fps), allOk,
          if (allOk) Some(static) else None)
    }

  final case class SampledMeta(n_sampled: Option[Int], sampled_ok: Boolean)

  /** Frame-sampling gate: read ONLY frames 0, every, 2*every, ... (skipped
    * frames are never copied out of the buffer) and decode those. A
    * corrupt frame the stride skips is invisible here — exactly the
    * sampling contract, and what q_video_frames' oracle pins. */
  def sampledMeta(bytes: Array[Byte], every: Int, w: Int, h: Int): SampledMeta = {
    require(every > 0, s"every must be positive: $every")
    parseFrames(bytes, wanted = i => i % every == 0) match {
      case None => SampledMeta(None, sampled_ok = false)
      case Some((hdr, frames)) =>
        var ok = true
        var n = 0
        var i = 0
        while (i < hdr.nFrames) {
          if (i % every == 0) {
            n += 1
            if (ok && decodeRgb(frames(i), w, h).isEmpty) ok = false
          }
          i += 1
        }
        SampledMeta(Some(n), ok)
    }
  }

  /** Sampled frames as PNG payloads (model-input extraction): frame index +
    * bytes, damaged sampled frames null. */
  def sampleFrames(bytes: Array[Byte], every: Int): Array[Array[Byte]] =
    parseFrames(bytes, wanted = i => i % every == 0) match {
      case None => Array.empty
      case Some((hdr, frames)) =>
        (0 until hdr.nFrames).filter(_ % every == 0).map(frames(_)).toArray
    }

  private val encodeUdf =
    udf((key: Long, w: Int, h: Int, static: Boolean, trunc: Boolean) =>
      encodeVideo(key, w, h, static, trunc))
  private val encodePatchedUdf =
    udf((key: Long, w: Int, h: Int, static: Boolean, patchIdx: Int) =>
      encodeVideo(key, w, h, static, truncateLast = false, patchFrameIdx = patchIdx))
  private val metaUdf = udf((bytes: Array[Byte], w: Int, h: Int) => videoMeta(bytes, w, h))
  private val sampledUdf =
    udf((bytes: Array[Byte], every: Int, w: Int, h: Int) => sampledMeta(bytes, every, w, h))

  /** Synthesize the videos table from integer keys: every `staticMod`-th
    * video is static (all frames == frame 0), every `corruptMod`-th has a
    * truncated last frame. Columns: video_id, bytes, w, h, fmt, lat, lon
    * (geo columns from the same key rules as the images table, so videos
    * participate in the spatial joins). */
  def synthesize(keys: DataFrame, keyCol: String,
                 width: Int = 16, height: Int = 16,
                 staticMod: Long = 20, corruptMod: Long = 33): DataFrame = {
    val key = col(keyCol)
    val spread = keys.sparkSession.sparkContext.defaultParallelism
    keys
      .repartition(spread) // PNG encode is CPU-bound; spread single-file inputs
      .withColumn("video_id", format_string("vid%012d", key))
      .withColumn("w", lit(width))
      .withColumn("h", lit(height))
      .withColumn("fmt", lit("grfv"))
      .withColumn("lat", ImagePayload.latFromKey(key))
      .withColumn("lon", ImagePayload.lonFromKey(key))
      .withColumn("bytes", encodeUdf(key, col("w"), col("h"),
        key % staticMod === 0, key % corruptMod === 0))
  }

  /** [[synthesize]] plus planted RE-POSTS: for every `repostMod`-th
    * DECODABLE key, a copy row with id `key + idOffset` whose frames are
    * the original's rasters with frame `patchFrameIdx` corner-patched —
    * same content, not the same file. The near-dup fixture. */
  def synthesizeReposts(keys: DataFrame, keyCol: String,
                        width: Int = 16, height: Int = 16,
                        repostMod: Long = 25, patchFrameIdx: Int = 1,
                        idOffset: Long = 1000000000L,
                        staticMod: Long = 20, corruptMod: Long = 33): DataFrame = {
    val base = synthesize(keys, keyCol, width, height, staticMod, corruptMod)
    val spread = keys.sparkSession.sparkContext.defaultParallelism
    val copies = keys
      .where(col(keyCol) % repostMod === 0 && col(keyCol) % corruptMod =!= 0)
      .repartition(spread)
      .withColumn("__src", col(keyCol))
      .withColumn(keyCol, col("__src") + idOffset)
      .withColumn("video_id", format_string("vid%012d", col(keyCol)))
      .withColumn("w", lit(width))
      .withColumn("h", lit(height))
      .withColumn("fmt", lit("grfv"))
      .withColumn("lat", ImagePayload.latFromKey(col(keyCol)))
      .withColumn("lon", ImagePayload.lonFromKey(col(keyCol)))
      .withColumn("bytes", encodePatchedUdf(col("__src"), col("w"), col("h"),
        col("__src") % staticMod === 0, lit(patchFrameIdx)))
      .drop("__src")
    base.unionByName(copies)
  }

  /** Gate a videos table: one decode pass per row, struct exploded to
    * (n_frames, fps, frames_ok, is_static) columns. Bytes never shuffle —
    * the UDF runs over the scan and only the small result columns move. */
  def metaGate(videos: DataFrame): DataFrame = {
    val m = metaUdf(col("bytes"), col("w"), col("h"))
    videos.withColumn("__m", m)
      .select(videos.columns.filterNot(_ == "bytes").map(col) :+
        col("__m.n_frames").as("n_frames") :+ col("__m.fps").as("fps") :+
        col("__m.frames_ok").as("frames_ok") :+ col("__m.is_static").as("is_static"): _*)
  }

  /** Sampling gate: read+decode only every `every`-th frame. */
  def sampledGate(videos: DataFrame, every: Int): DataFrame = {
    val m = sampledUdf(col("bytes"), lit(every), col("w"), col("h"))
    videos.withColumn("__m", m)
      .select(videos.columns.filterNot(_ == "bytes").map(col) :+
        col("__m.n_sampled").as("n_sampled") :+ col("__m.sampled_ok").as("sampled_ok"): _*)
  }

  final case class FrameSig(frame_idx: Int, dhash: Option[Long])

  private val frameSigsUdf = udf { (bytes: Array[Byte], every: Int) =>
    parseFrames(bytes, wanted = i => i % every == 0) match {
      case None => Seq.empty[FrameSig]
      case Some((hdr, frames)) =>
        (0 until hdr.nFrames).filter(_ % every == 0).map { i =>
          FrameSig(i, Option(frames(i)).flatMap(ImagePayload.dhash64))
        }
    }
  }

  /** Temporal signature table: one row per SAMPLED frame — (video columns
    * sans bytes, frame_idx, dhash) — from ONE parse + decode per video;
    * skipped frames are never read, damaged sampled frames keep a null
    * dhash. 12 bytes/frame regardless of resolution: the table a video
    * ingest pipeline persists. */
  def frameSignatures(videos: DataFrame, every: Int): DataFrame =
    videos.withColumn("__sig", explode(frameSigsUdf(col("bytes"), lit(every))))
      .select(videos.columns.filterNot(_ == "bytes").map(col) :+
        col("__sig.frame_idx").as("frame_idx") :+ col("__sig.dhash").as("dhash"): _*)

  final case class SampledFrame(frame_idx: Int, frame: Array[Byte])

  private val sampleFramesUdf = udf { (bytes: Array[Byte], every: Int) =>
    parseFrames(bytes, wanted = i => i % every == 0) match {
      case None => Seq.empty[SampledFrame]
      case Some((hdr, frames)) =>
        (0 until hdr.nFrames).filter(_ % every == 0)
          .flatMap(i => Option(frames(i)).map(SampledFrame(i, _)))
    }
  }

  /** Sampled frames as ROWS — (video columns sans bytes, frame_idx, frame
    * PNG bytes), readable-frames only: the bridge that feeds strided video
    * frames into the image operators (features, dhash, mosaic, gates). The
    * explode runs inside the scan stage; frame bytes exist only between
    * the parse and whatever per-frame expression consumes them — they
    * never cross an exchange unless the caller shuffles them. */
  def explodeSampledFrames(videos: DataFrame, every: Int): DataFrame =
    videos.withColumn("__f", explode(sampleFramesUdf(col("bytes"), lit(every))))
      .select(videos.columns.filterNot(_ == "bytes").map(col) :+
        col("__f.frame_idx").as("frame_idx") :+ col("__f.frame").as("frame"): _*)

  /** Temporal video near-dup: pairs of videos sharing >= `minShared`
    * sampled frame positions with EQUAL perceptual hashes (same-position
    * dhash equality — re-posts and re-encodes of the same footage agree
    * frame-for-frame; a patched or re-titled frame just drops one shared
    * position). Distributed shape mirrors [[ImagePayload.imageNearDup]]:
    * the (id, frame_idx, dhash) signature table is MATERIALIZED
    * (localCheckpoint) so each video is parsed + decoded exactly once
    * under the self-join's two branches; candidates come from an equi-join
    * on (frame_idx, dhash) — only 20-byte signature rows shuffle, video
    * bytes never do; hot (frame_idx, dhash) buckets (boilerplate intro
    * frames at 100 TB) are capped LOUDLY by the banded candidate join's
    * bucket cap (stage "videodup", drop count in the observed metric
    * `graft.banded.videodup.dropped`, see [[Dedup.capBuckets]]). Returns
    * (id_a, id_b, shared). */
  def videoNearDup(videos: DataFrame, idCol: String, every: Int = 2,
                   minShared: Int = 2, maxBucketSize: Int = 1024): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    val sigs = frameSignatures(videos, every)
      .where(col("dhash").isNotNull)
      .select(col(idCol).as("__vid"), col("frame_idx").as("band"), col("dhash").as("bucket"))
      .localCheckpoint()
    sharedAtLeast(Dedup.bandedSelfPairs(sigs, "__vid", maxBucketSize, "videodup"), minShared)
  }

  /** (id_a, id_b, shared) of the banded pairs (one row per shared
    * (position, fingerprint) bucket, from [[Dedup.bandedSelfPairs]] or
    * [[Dedup.bandedProbe]]) sharing >= minShared positions. */
  private[graft] def sharedAtLeast(pairs: DataFrame, minShared: Int): DataFrame =
    pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
}
