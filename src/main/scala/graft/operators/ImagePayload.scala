package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The image+caption payload plumbing for the north-rule input table
  * (`BASELINE.json.input_hint`): images(image_id, bytes, w, h, fmt, caption,
  * phash) + derived lat/lon.
  *
  * Image bytes are an opaque `binary` column carried through the spatial
  * operators; decode only happens in the verification path (never on the
  * hot path). Synthesis is deterministic: pixels are a pure function of the
  * source key, PNG-encoded (lossless), so the decoded-pixel PSNR invariant
  * is exactly infinite and the check degenerates to bit equality — while
  * still exercising a real PNG encode/decode roundtrip via javax.imageio.
  */
object ImagePayload {

  // ImageIO's default disk-backed stream cache serializes concurrent
  // decodes on temp-file I/O; in-memory caching keeps the UDFs CPU-bound.
  ImageIO.setUseCache(false)

  /** Deterministic RGB pixel for (key, x, y): a cheap integer mix. */
  def pixel(key: Long, x: Int, y: Int): Int = {
    var h = key * 0x9e3779b97f4a7c15L + x * 0xc2b2ae3d27d4eb4fL + y * 0x165667b19e3779f9L
    h ^= (h >>> 31); h *= 0x7fb5d329728ea185L; h ^= (h >>> 27)
    (h & 0xffffff).toInt
  }

  /** Deterministic raster for a key. */
  def renderImage(key: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, pixel(key, x, y)); x += 1 }
      y += 1
    }
    img
  }

  def encodePng(key: Long, w: Int, h: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(renderImage(key, w, h), "png", out)
    out.toByteArray
  }

  /** PSNR between a decoded image and the expected deterministic raster;
    * Double.PositiveInfinity for exact match. */
  def psnrVsExpected(bytes: Array[Byte], key: Long, w: Int, h: Int): Double = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null || img.getWidth != w || img.getHeight != h) return 0.0
    var sse = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val got = img.getRGB(x, y) & 0xffffff
        val exp = pixel(key, x, y)
        val dr = ((got >> 16) & 0xff) - ((exp >> 16) & 0xff)
        val dg = ((got >> 8) & 0xff) - ((exp >> 8) & 0xff)
        val db = (got & 0xff) - (exp & 0xff)
        sse += dr * dr + dg * dg + db * db
        x += 1
      }
      y += 1
    }
    if (sse == 0.0) Double.PositiveInfinity
    else {
      val mse = sse / (w.toLong * h * 3)
      10.0 * math.log10(255.0 * 255.0 / mse)
    }
  }

  private val encodeUdf = udf((key: Long, w: Int, h: Int) => encodePng(key, w, h))
  private val psnrUdf = udf((bytes: Array[Byte], key: Long, w: Int, h: Int) =>
    psnrVsExpected(bytes, key, w, h))

  /** Deterministic lat/lon derivation from an integer key — pure integer
    * arithmetic so a SQL oracle derives the identical values. */
  def latFromKey(key: Column): Column =
    ((key * 9973 + 12345) % 18000).cast("double") / lit(100.0) - lit(90.0)
  def lonFromKey(key: Column): Column =
    ((key * 31337 + 54321) % 36000).cast("double") / lit(100.0) - lit(180.0)

  /** Synthesize the images table from a table of integer keys.
    * Columns: image_id, bytes, w, h, fmt, caption, phash, lat, lon. */
  def synthesize(keys: DataFrame, keyCol: String,
                 width: Int = 16, height: Int = 16): DataFrame = {
    val key = col(keyCol)
    val spread = keys.sparkSession.sparkContext.defaultParallelism
    keys
      .repartition(spread) // PNG encode is CPU-bound; spread single-file inputs
      .withColumn("image_id", format_string("img%012d", key))
      .withColumn("w", lit(width))
      .withColumn("h", lit(height))
      .withColumn("fmt", lit("png"))
      .withColumn("lat", latFromKey(key))
      .withColumn("lon", lonFromKey(key))
      .withColumn("bytes", encodeUdf(key, col("w"), col("h")))
      .withColumn("phash", xxhash64(col("bytes")))
      .withColumn("caption",
        concat(lit("caption of "), col("image_id"), lit(" at "), col("lat"), lit(","), col("lon")))
  }

  // ---------------------------------------------------------------------------
  // Multimodal column operations: decode / feature-extract / resize run for
  // real via javax.imageio + AWT (present in the JDK); video frame-sampling
  // and audio decode are deterministic STUBS (no codecs in this container) —
  // the Spark-side plumbing (schema, batching, partitioning) is real.
  // ---------------------------------------------------------------------------

  /** Real decode + bilinear resize to (w, h), re-encoded as PNG. */
  def resizeImage(bytes: Array[Byte], newW: Int, newH: Int): Array[Byte] = {
    val src = ImageIO.read(new ByteArrayInputStream(bytes))
    if (src == null) return Array.emptyByteArray
    val dst = new BufferedImage(newW, newH, BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(src, 0, 0, newW, newH, null)
    g.dispose()
    val out = new ByteArrayOutputStream()
    ImageIO.write(dst, "png", out)
    out.toByteArray
  }

  /** Real decode + feature extraction: [meanR, meanG, meanB, luma-stddev]. */
  def imageFeatures(bytes: Array[Byte]): Array[Float] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null) return Array.emptyFloatArray
    val w = img.getWidth; val h = img.getHeight
    var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0; var sl2 = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        sr += r; sg += g; sb += b
        val l = 0.299 * r + 0.587 * g + 0.114 * b
        sl += l; sl2 += l * l
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    val meanL = sl / n
    Array((sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat,
      math.sqrt(math.max(0, sl2 / n - meanL * meanL)).toFloat)
  }

  /** STUB: video frame sampling. No video codecs exist in this container;
    * a real deployment would decode via a bundled codec inside
    * `mapPartitions` exactly like the image ops. Here each "frame" is the
    * deterministic raster at (key + frameIdx), PNG-encoded, preserving the
    * schema/batching contract of the real operator. */
  def sampleFramesStub(key: Long, nFrames: Int, w: Int, h: Int): Array[Array[Byte]] =
    Array.tabulate(nFrames)(i => encodePng(key + i, w, h))

  /** Perceptual dHash: real decode, bilinear downsample to a 9x8 luminance
    * grid, 64 bits of horizontal gradient sign. Visually-near images
    * (re-encodes, small patches) differ in few bits; unrelated rasters
    * differ in ~32. Complements the exact `phash` (xxhash64 of the bytes):
    * phash equality catches byte-identical copies, dhash hamming catches
    * visually-identical ones. */
  def dhash64(bytes: Array[Byte]): Option[Long] = {
    val src = ImageIO.read(new ByteArrayInputStream(bytes))
    if (src == null) return None // undecodable: NO sentinel value — a shared
    // sentinel would cluster every corrupt image into one giant false
    // near-dup group; callers filter the null column instead
    Some(dhashOfImage(src))
  }

  /** The 9x8-downsample + gradient-sign core of [[dhash64]], shared with
    * the orientation-canonical hash so the two cannot diverge. */
  private def dhashOfImage(src: BufferedImage): Long = {
    val small = new BufferedImage(9, 8, BufferedImage.TYPE_INT_RGB)
    val g = small.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(src, 0, 0, 9, 8, null)
    g.dispose()
    def lum(x: Int, y: Int): Double = {
      val rgb = small.getRGB(x, y)
      0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
    }
    var bits = 0L
    var i = 0
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (lum(x + 1, y) > lum(x, y)) bits |= 1L << i
        i += 1
        x += 1
      }
      y += 1
    }
    bits
  }

  /** EXACT quarter-turn rotation — a pixel permutation, no resampling and
    * no interpolation loss (turns=1 is 90 deg clockwise), so a rotated
    * re-encode decodes to precisely the permuted raster. */
  def rotateQuarter(img: BufferedImage, turns: Int): BufferedImage = {
    val t = ((turns % 4) + 4) % 4
    if (t == 0) return img
    val w = img.getWidth; val h = img.getHeight
    val (nw, nh) = if (t % 2 == 0) (w, h) else (h, w)
    val dst = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = img.getRGB(x, y)
        t match {
          case 1 => dst.setRGB(h - 1 - y, x, v)
          case 2 => dst.setRGB(w - 1 - x, h - 1 - y, v)
          case _ => dst.setRGB(y, w - 1 - x, v)
        }
        x += 1
      }
      y += 1
    }
    dst
  }

  /** Exact horizontal mirror (the other D4 generator). */
  private def mirrorImage(img: BufferedImage): BufferedImage = {
    val w = img.getWidth; val h = img.getHeight
    val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { dst.setRGB(w - 1 - x, y, img.getRGB(x, y)); x += 1 }
      y += 1
    }
    dst
  }

  /** Decode + exact quarter-turn + PNG re-encode (the rotated-re-upload
    * fixture generator and the user-facing rotate op). */
  def rotateBytes(bytes: Array[Byte], turns: Int): Array[Byte] = {
    val src = ImageIO.read(new ByteArrayInputStream(bytes))
    if (src == null) return Array.emptyByteArray
    val out = new ByteArrayOutputStream()
    ImageIO.write(rotateQuarter(src, turns), "png", out)
    out.toByteArray
  }

  /** Decode + exact horizontal mirror + PNG re-encode. */
  def mirrorBytes(bytes: Array[Byte]): Array[Byte] = {
    val src = ImageIO.read(new ByteArrayInputStream(bytes))
    if (src == null) return Array.emptyByteArray
    val out = new ByteArrayOutputStream()
    ImageIO.write(mirrorImage(src), "png", out)
    out.toByteArray
  }

  /** ORIENTATION-CANONICAL perceptual hash: the minimum [[dhash64]] over
    * all 8 dihedral orientations (4 quarter-turns x optional mirror) of
    * the decoded raster. Rotating or mirroring an image permutes its D4
    * orbit but never changes the orbit SET, so a rotated/flipped re-upload
    * gets the IDENTICAL canonical hash (hamming 0) — rotation-invariance
    * is exact, not approximate. For near-dups (patch + rotate) the min is
    * taken over hashes ~32 bits apart while the patch moves each by <= 3
    * bits, so the argmin orientation is stable and pair hamming stays
    * small; RotNearDupSpec pins both properties on the gate population.
    * Cost: 8 in-memory permutations + downsamples per image, one decode —
    * still a scan-side map; only (id, hash) rows ever shuffle. */
  def dhashDihedral(bytes: Array[Byte]): Option[Long] = {
    val src = ImageIO.read(new ByteArrayInputStream(bytes))
    if (src == null) return None
    val r1 = rotateQuarter(src, 1)
    val r2 = rotateQuarter(src, 2)
    val r3 = rotateQuarter(src, 3)
    val orbit = Seq(src, r1, r2, r3)
    var best = Long.MaxValue
    orbit.foreach { im =>
      best = math.min(best, dhashOfImage(im))
      best = math.min(best, dhashOfImage(mirrorImage(im)))
    }
    Some(best)
  }

  /** Real decode + SHARPNESS: variance of the 3x3 Laplacian of the integer
    * luma over interior pixels — the standard variance-of-Laplacian blur
    * detector an image-curation pipeline gates on (crisp detail has large
    * second derivatives; low-pass content — blurs, upscales, out-of-focus
    * shots — collapses toward zero). Determinism contract: luma is the
    * INTEGER 299r + 587g + 114b (no division), the Laplacian
    * 4·l(x,y) − l(x±1,y) − l(x,y±1) is integer, and the variance comes
    * from integer moments — bit-identical across JVMs, partitions and
    * orders (sums fit a Long for any raster under ~9M interior pixels;
    * far above this pipeline's thumbnails). None for undecodable payloads
    * or rasters smaller than 3x3. */
  def sharpness(bytes: Array[Byte]): Option[Double] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null || img.getWidth < 3 || img.getHeight < 3) return None
    val w = img.getWidth; val h = img.getHeight
    val lum = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        lum(y * w + x) = 299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
          114 * (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    var s = 0L; var s2 = 0L; var n = 0L
    y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val lap = 4L * lum(y * w + x) - lum(y * w + x - 1) - lum(y * w + x + 1) -
          lum((y - 1) * w + x) - lum((y + 1) * w + x)
        s += lap; s2 += lap * lap; n += 1
        x += 1
      }
      y += 1
    }
    val mean = s.toDouble / n
    Some(s2.toDouble / n - mean * mean)
  }

  /** Deterministic LOW-PASS filter: bilinear downsample by `down`, bilinear
    * upsample back — the stand-in for real-world blurs (defocus, heavy
    * re-compression, upscaled thumbnails) the sharpness gate must catch. */
  def blurImage(bytes: Array[Byte], down: Int = 4): Array[Byte] = {
    val src = ImageIO.read(new ByteArrayInputStream(bytes))
    if (src == null) return Array.emptyByteArray
    val w = src.getWidth; val h = src.getHeight
    resizeImage(resizeImage(bytes, math.max(1, w / down), math.max(1, h / down)), w, h)
  }

  /** Hasler–Süsstrunk colorfulness over the REAL decoded pixels — the
    * standard grayscale/low-color curation gate (web corpora are full of
    * scanned documents, screenshots and decolorized re-uploads a vision
    * model should see flagged): with rg = R-G and yb = (R+G)/2 - B per
    * pixel, M = sqrt(var(rg)+var(yb)) + 0.3*sqrt(mean(rg)^2+mean(yb)^2).
    * Any R=G=B raster scores exactly 0; the synthetic noise rasters score
    * ~150 (spec pins the population margin). Moments accumulate in exact
    * integer sums (yb doubled to stay integral), so the score is a pure
    * function of pixels. None for undecodable payloads. */
  def colorfulness(bytes: Array[Byte]): Option[Double] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null || img.getWidth < 1 || img.getHeight < 1) return None
    val w = img.getWidth; val h = img.getHeight
    var sRg = 0L; var s2Rg = 0L; var sYb2 = 0L; var s2Yb2 = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        val rg = r - g
        val yb2 = r + g - 2 * b // 2*yb, kept integral
        sRg += rg; s2Rg += rg.toLong * rg
        sYb2 += yb2; s2Yb2 += yb2.toLong * yb2
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val mRg = sRg.toDouble / n
    val mYb = sYb2.toDouble / n / 2.0
    val vRg = s2Rg.toDouble / n - mRg * mRg
    val vYb = s2Yb2.toDouble / n / 4.0 - mYb * mYb
    Some(math.sqrt(vRg + vYb) + 0.3 * math.sqrt(mRg * mRg + mYb * mYb))
  }

  /** Deterministic DECOLORIZE on the real pixel path: decode, collapse
    * every pixel to its 299/587/114 luminance, re-encode — the planted
    * grayscale re-upload for the colorfulness gate. */
  def grayscaleImage(bytes: Array[Byte]): Array[Byte] = {
    val src = ImageIO.read(new ByteArrayInputStream(bytes))
    if (src == null) return Array.emptyByteArray
    val w = src.getWidth; val h = src.getHeight
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = src.getRGB(x, y)
        val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
          114 * (rgb & 0xff)) / 1000
        out.setRGB(x, y, lum * 0x010101)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  private val colorfulnessUdf = udf((bytes: Array[Byte]) => colorfulness(bytes))
  private val grayscaleUdf = udf((bytes: Array[Byte]) => grayscaleImage(bytes))

  /** Colorfulness column via real decode; null for undecodable payloads. */
  def withColorfulness(images: DataFrame): DataFrame =
    images.withColumn("colorfulness", colorfulnessUdf(col("bytes")))

  /** Decolorized-copy column (see [[grayscaleImage]]); phash recomputed
    * like [[withBlur]] so the row stays internally consistent. */
  def withGrayscale(images: DataFrame): DataFrame = {
    val g = images.withColumn("bytes", grayscaleUdf(col("bytes")))
    if (g.columns.contains("phash")) g.withColumn("phash", xxhash64(col("bytes")))
    else g
  }

  private val sharpnessUdf = udf((bytes: Array[Byte]) => sharpness(bytes))
  private val blurUdf = udf((bytes: Array[Byte], down: Int) => blurImage(bytes, down))

  /** Sharpness column via real decode (see [[sharpness]]); null for
    * undecodable payloads. */
  def withSharpness(images: DataFrame): DataFrame =
    images.withColumn("sharpness", sharpnessUdf(col("bytes")))

  /** Blurred-copy column (see [[blurImage]]); `phash` recomputed like
    * [[withPatch]] so the row stays internally consistent. */
  def withBlur(images: DataFrame, down: Int = 4): DataFrame = {
    val blurred = images.withColumn("bytes", blurUdf(col("bytes"), lit(down)))
    if (blurred.columns.contains("phash")) blurred.withColumn("phash", xxhash64(col("bytes")))
    else blurred
  }

  /** Data-augmentation primitive: paint a small black patch at (x, y) and
    * re-encode — a deterministic stand-in for crop/occlusion augmentations
    * (and the near-duplicate generator in specs/queries). */
  def patchImage(bytes: Array[Byte], x: Int, y: Int, size: Int): Array[Byte] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null) return Array.emptyByteArray
    var yy = y
    while (yy < math.min(y + size, img.getHeight)) {
      var xx = x
      while (xx < math.min(x + size, img.getWidth)) {
        img.setRGB(xx, yy, 0)
        xx += 1
      }
      yy += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private val dhashUdf = udf((bytes: Array[Byte]) => dhash64(bytes))
  private val patchUdf = udf((bytes: Array[Byte], x: Int, y: Int, s: Int) => patchImage(bytes, x, y, s))

  /** dhash column via real decode; null for undecodable payloads. */
  def withPerceptualHash(images: DataFrame): DataFrame =
    images.withColumn("dhash", dhashUdf(col("bytes")))

  /** Patched-copy column (see [[patchImage]]); the exact-bytes `phash` is
    * recomputed so the row stays internally consistent (the patched copy is
    * NOT byte-identical to its source). */
  def withPatch(images: DataFrame, x: Int, y: Int, size: Int): DataFrame = {
    val patched = images.withColumn("bytes", patchUdf(col("bytes"), lit(x), lit(y), lit(size)))
    if (patched.columns.contains("phash")) patched.withColumn("phash", xxhash64(col("bytes")))
    else patched
  }

  /** Image near-duplicate pairs: perceptual-hash banding (complete for
    * hamming <= 3 via [[Dedup.hamming64Pairs]]); only (id, dhash) rows
    * enter the join — the image bytes never shuffle. Undecodable images
    * (null dhash) are excluded rather than clustered together.
    *
    * The (id, dhash) signature table is MATERIALIZED (localCheckpoint)
    * before the banded self-join: the decode subtree appears under both
    * join branches plus the null filter, so without the pin every image
    * is decoded 3-4x (the hexRing re-execution lesson, BENCH.md). 16
    * bytes/row regardless of image size — at 100 TB this is the
    * signature table an ingest pipeline persists anyway. */
  def imageNearDup(images: DataFrame, idCol: String, maxHamming: Int = 3): DataFrame =
    Dedup.hamming64Pairs(
      withPerceptualHash(images).select(col(idCol), col("dhash"))
        .where(col("dhash").isNotNull).localCheckpoint(),
      idCol, "dhash", maxHamming)

  private val dhashDihedralUdf = udf((bytes: Array[Byte]) => dhashDihedral(bytes))
  private val rotateUdf = udf((bytes: Array[Byte], t: Int) => rotateBytes(bytes, t))

  /** Orientation-canonical hash column (see [[dhashDihedral]]). */
  def withRotInvariantHash(images: DataFrame): DataFrame =
    images.withColumn("rdhash", dhashDihedralUdf(col("bytes")))

  /** Rotated-copy column: exact quarter-turn + PNG re-encode; `phash` is
    * recomputed like [[withPatch]] (the rotated copy is not byte-identical). */
  def withRotation(images: DataFrame, turns: Int): DataFrame = {
    val rotated = images.withColumn("bytes", rotateUdf(col("bytes"), lit(turns)))
    if (rotated.columns.contains("phash")) rotated.withColumn("phash", xxhash64(col("bytes")))
    else rotated
  }

  /** ROTATION/FLIP-INVARIANT image near-dup: [[imageNearDup]] over the
    * orientation-canonical hash — a rotated or mirrored re-upload lands at
    * hamming 0 from its source, a patched+rotated one within the patch's
    * bit budget. Same signature discipline: the (id, rdhash) table is
    * pinned before the banded self-join, bytes never shuffle, undecodable
    * rows are dropped rather than clustered. */
  def rotImageNearDup(images: DataFrame, idCol: String, maxHamming: Int = 3): DataFrame =
    Dedup.hamming64Pairs(
      withRotInvariantHash(images).select(col(idCol), col("rdhash"))
        .where(col("rdhash").isNotNull).localCheckpoint(),
      idCol, "rdhash", maxHamming)

  private val resizeUdf = udf((bytes: Array[Byte], w: Int, h: Int) => resizeImage(bytes, w, h))
  private val featuresUdf = udf((bytes: Array[Byte]) => imageFeatures(bytes))

  /** Thumbnail column via real decode + resize (batch-parallel UDF). */
  def withThumbnail(images: DataFrame, w: Int = 8, h: Int = 8): DataFrame =
    images.withColumn("thumb", resizeUdf(col("bytes"), lit(w), lit(h)))

  /** Feature column ([meanR, meanG, meanB, lumaStd]) via real decode. */
  def withFeatures(images: DataFrame): DataFrame =
    images.withColumn("features", featuresUdf(col("bytes")))

  private val featureGateUdf = udf { bytes: Array[Byte] =>
    val f = imageFeatures(bytes)
    f.length == 4 && f(0) >= 0 && f(0) <= 255 && f(3) > 0
  }

  /** Per-map-tile image mosaic statistics — the atlas-preview build: every
    * image is REALLY decoded (one `imageFeatures` call), assigned its
    * zoom-`z` web-mercator tile from its geo columns, and each occupied
    * tile aggregates its member count, how many decoded successfully, and
    * the tile's average color (mean of per-image channel means) — i.e. the
    * zoomed-out preview raster a map UI renders before loading real tiles.
    *
    * Exactness: a 16x16 image's channel mean is an integer sum / 256 — an
    * exact multiple of 2^-8 representable in float — so the per-tile double
    * sums are ORDER-INDEPENDENT exact and the final mean is one
    * deterministic division (ImageMosaicSpec replays it bit for bit against
    * the raster formula). Undecodable images yield null features and are
    * excluded from the color means but counted in `n_images - n_decoded`.
    *
    * Scale shape: decode runs scan-side (one UDF call per image, bytes
    * never shuffle); only (tile, partial sums) rows reach the exchange —
    * one partial+final hash aggregation for a petabyte of imagery. */
  def tileMosaic(images: DataFrame, latCol: String, lonCol: String,
                 z: Int): DataFrame =
    Tiling.zxyAssign(withFeatures(images), latCol, lonCol, z)
      .groupBy("zx", "zy")
      .agg(
        count(lit(1)).as("n_images"),
        sum(when(size(col("features")) === 4, 1L).otherwise(0L)).as("n_decoded"),
        avg(when(size(col("features")) === 4, element_at(col("features"), 1))).as("mean_r"),
        avg(when(size(col("features")) === 4, element_at(col("features"), 2))).as("mean_g"),
        avg(when(size(col("features")) === 4, element_at(col("features"), 3))).as("mean_b"))

  /** Mosaic PYRAMID: [[tileMosaic]] at EVERY zoom level `minZ..maxZ` from
    * ONE decode pass — the full atlas a map UI precomputes. Each image is
    * decoded once and aggregated into the bounded per-tile table at
    * `maxZ` (sums + counts, pinned with localCheckpoint exactly like
    * [[graft.operators.Tiling.zxyNeighborhoodCounts]] so the scan runs
    * once); ancestor levels are integer right-shifts of the tile indices
    * (the z/x/y pyramid identity: tile (z-1, x>>1, y>>1) is the union of
    * its 4 children), so the explode runs on <= 4^maxZ rows regardless of
    * input size. Means stay EXACT at every level: per-image channel means
    * are multiples of 2^-8, so the double sums are order-independent
    * exact and each level's mean is one division (ImageMosaicSpec pins
    * both the rollup identity and bit-equality with tileMosaic per
    * level). */
  def tileMosaicPyramid(images: DataFrame, latCol: String, lonCol: String,
                        minZ: Int, maxZ: Int): DataFrame = {
    require(0 <= minZ && minZ <= maxZ, s"bad level range: $minZ..$maxZ")
    val ok = size(col("features")) === 4
    val base = Tiling.zxyAssign(withFeatures(images), latCol, lonCol, maxZ)
      .groupBy("zx", "zy")
      .agg(
        count(lit(1)).as("n_images"),
        sum(when(ok, 1L).otherwise(0L)).as("n_decoded"),
        sum(when(ok, element_at(col("features"), 1))).as("__sr"),
        sum(when(ok, element_at(col("features"), 2))).as("__sg"),
        sum(when(ok, element_at(col("features"), 3))).as("__sb"))
      .localCheckpoint()
    val lifted = base.select(explode(array((minZ to maxZ).map { z =>
      val k = maxZ - z
      struct(lit(z).as("z"),
        shiftright(col("zx"), k).as("zx"), shiftright(col("zy"), k).as("zy"),
        col("n_images"), col("n_decoded"), col("__sr"), col("__sg"), col("__sb"))
    }: _*)).as("__t")).select("__t.*")
    lifted.groupBy("z", "zx", "zy")
      .agg(sum("n_images").as("n_images"), sum("n_decoded").as("n_decoded"),
        sum("__sr").as("__sr"), sum("__sg").as("__sg"), sum("__sb").as("__sb"))
      .select(col("z"), col("zx"), col("zy"), col("n_images"), col("n_decoded"),
        (col("__sr") / col("n_decoded")).as("mean_r"),
        (col("__sg") / col("n_decoded")).as("mean_g"),
        (col("__sb") / col("n_decoded")).as("mean_b"))
  }

  /** Single-call decode+feature sanity gate. Deterministic UDFs get
    * duplicated by Catalyst when a filter references their output several
    * times, so multi-condition gates must run inside ONE udf call. */
  def featureGate(images: DataFrame): DataFrame =
    images.withColumn("features_ok", featureGateUdf(col("bytes")))

  private val metaGateUdf = udf { (bytes: Array[Byte], w: Int, h: Int, fmt: String) =>
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    img != null && fmt == "png" && img.getWidth == w && img.getHeight == h
  }

  /** METADATA-consistency gate: decoded dimensions must equal the
    * cataloged (w, h) columns and `fmt` must name the supported codec —
    * the ingest-time validation that catches corrupt or MISLABELED
    * payload rows before they poison training (a wrong cataloged width
    * breaks fixed-shape batch collation downstream, far from the bad
    * row). One decode per row inside ONE udf call (the featureGate
    * duplication lesson); undecodable bytes fail the gate. */
  def metaGate(images: DataFrame): DataFrame =
    images.withColumn("meta_ok",
      metaGateUdf(col("bytes"), col("w"), col("h"), col("fmt")))

  /** Cross-modal caption-consistency join: among images sharing a caption,
    * split true RE-POSTS (near-identical pixels, dhash hamming <=
    * maxHamming) from caption collisions with DIVERGENT pixels (stale or
    * stolen captions — the rows a caption-supervised training set must
    * drop or re-caption). Output: (id_a, id_b, same_image) for every pair
    * within a caption group, id_a < id_b.
    *
    * Shape at scale: one decode pass for the dhash, then only
    * (id, caption-hash, dhash) rows shuffle — bytes never move; the
    * within-caption pair expansion is the banded self-pairs join of the
    * text LSH family, under its bucket cap (stage "caption", drop count in
    * the observed metric `graft.banded.caption.dropped`, see
    * [[Dedup.capBuckets]] — a viral caption shared by 10^6 posts is
    * dropped loudly, not exploded quadratically). Undecodable images
    * (null dhash) are excluded. */
  def captionConsistency(images: DataFrame, idCol: String,
                         maxHamming: Int = 3, maxGroupSize: Int = 10000): DataFrame = {
    // materialized for the same reason as imageNearDup: the decode
    // subtree sits under the cap count and both pair-join branches
    val keyed = withPerceptualHash(images)
      .select(col(idCol), lit(0).as("band"), xxhash64(col("caption")).as("bucket"),
        col("dhash"))
      .where(col("dhash").isNotNull)
      .localCheckpoint()
    Dedup.bandedSelfPairs(keyed, idCol, maxGroupSize, "caption")
      .select(col("id_a"), col("id_b"),
        (expr("bit_count(dhash_a ^ dhash_b)") <= maxHamming).as("same_image"))
  }

  /** GEO-constrained image near-dup: dhash pairs within `maxHamming` bits
    * whose locations fall in the SAME or an edge/vertex-ADJACENT S2 cell
    * at `level` — the re-upload-detection shape where only co-located
    * collisions are actionable (the same photo re-posted from the same
    * place), and the scale path when global hamming banding develops hot
    * buckets: candidates come from the spatial equi-join, so a boilerplate
    * raster recurring worldwide (logos, blank frames) never forms one
    * giant bucket — it pairs only within each neighborhood.
    *
    * Shape: one decode pass for the dhash; only (id, dhash, cell) rows
    * shuffle — bytes never move; the 9x own+neighbor explode rides ONE
    * side of the self-join. Completeness is the distance-join adjacency
    * argument: same-cell pairs share the un-exploded key, adjacent-cell
    * pairs are matched when either side's neighbor ring covers the other
    * (found <= 2x, deduped by the oriented pair). Exactness: the hamming
    * test runs on every candidate — the spatial key only LIMITS the pair
    * universe; within it the result is exact, not approximate.
    *
    * Residual-skew guard: a single pathological CELL (10^6 uploads at
    * one venue) would still pair quadratically, so cells larger than
    * `maxCellSize` are dropped LOUDLY by the banded joins' bucket cap
    * (stage "geoimage", drop count in the observed metric
    * `graft.banded.geoimage.dropped`, see [[Dedup.capBuckets]]) — same
    * contract as the caption join's viral-caption cap.
    * Output: (id_a, id_b, hamming) with a < b. */
  def geoImageNearDup(images: DataFrame, idCol: String, latCol: String, lonCol: String,
                      level: Int, maxHamming: Int = 3,
                      maxCellSize: Int = 100000): DataFrame = {
    // materialized before cap + self-join: the decode subtree otherwise
    // re-executes under the cap's per-cell count, the null filter, and
    // BOTH join branches (see imageNearDup) — (id, dhash, cell) is ~24
    // bytes/row regardless of image size
    val keyed = withPerceptualHash(images)
      .where(col("dhash").isNotNull)
      .select(col(idCol), col("dhash"), lit(0).as("band"),
        SpatialJoin.cellBucket(col(latCol), col(lonCol), level).as("bucket"))
      .localCheckpoint()
    val hashed = Dedup.capBuckets(keyed, keyed, maxCellSize, "geoimage")
    val a = hashed.select(col(idCol).as("id_a"), col("dhash").as("__da"), col("bucket").as("__cell"))
    val b = hashed.select(col(idCol).as("id_b"), col("dhash").as("__db"),
      explode(SpatialJoin.neighborBuckets(col("bucket"), level)).as("__cell"))
    a.join(b, Seq("__cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__da").bitwiseXOR(col("__db"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Per-row payload verification: decoded-pixel PSNR >= 40 dB and caption
    * equality vs the synthesis rule (`BASELINE.json.input_hint`). */
  def verifyPayload(images: DataFrame, keyCol: String): DataFrame = {
    val key = col(keyCol)
    images
      .withColumn("psnr", psnrUdf(col("bytes"), key, col("w"), col("h")))
      .withColumn("psnr_ok", col("psnr") >= 40.0)
      .withColumn("caption_ok",
        col("caption") === concat(lit("caption of "), col("image_id"),
          lit(" at "), col("lat"), lit(","), col("lon")))
  }

  /** Global (single-window) SSIM between two images on BT.601 luma — the
    * structural-similarity verification metric pair-candidate pipelines
    * run AFTER cheap hash blocking: near-dups score ~1, unrelated rasters
    * near 0. Standard constants C1=(0.01*255)^2, C2=(0.03*255)^2; biased
    * (1/N) moments. None when either side is undecodable or dimensions
    * differ. */
  def ssim(a: Array[Byte], b: Array[Byte]): Option[Double] = {
    val ia = ImageIO.read(new ByteArrayInputStream(a))
    val ib = ImageIO.read(new ByteArrayInputStream(b))
    if (ia == null || ib == null) return None
    if (ia.getWidth != ib.getWidth || ia.getHeight != ib.getHeight) return None
    val n = ia.getWidth * ia.getHeight
    def lum(img: BufferedImage, x: Int, y: Int): Double = {
      val rgb = img.getRGB(x, y)
      0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
    }
    var sx = 0.0; var sy = 0.0; var sxx = 0.0; var syy = 0.0; var sxy = 0.0
    var y = 0
    while (y < ia.getHeight) {
      var x = 0
      while (x < ia.getWidth) {
        val lx = lum(ia, x, y); val ly = lum(ib, x, y)
        sx += lx; sy += ly; sxx += lx * lx; syy += ly * ly; sxy += lx * ly
        x += 1
      }
      y += 1
    }
    val mx = sx / n; val my = sy / n
    val vx = sxx / n - mx * mx; val vy = syy / n - my * my
    val cov = sxy / n - mx * my
    val c1 = math.pow(0.01 * 255, 2); val c2 = math.pow(0.03 * 255, 2)
    Some(((2 * mx * my + c1) * (2 * cov + c2)) /
      ((mx * mx + my * my + c1) * (vx + vy + c2)))
  }

  private val ssimUdf = udf((a: Array[Byte], b: Array[Byte]) => ssim(a, b))

  /** SSIM verification gate over a CANDIDATE-PAIR table carrying both byte
    * columns: keeps pairs with ssim >= `tau` (undecodable/mismatched ->
    * dropped). One decode of each side per pair, single UDF call. At scale
    * the bytes shuffle is candidate-width (post-blocking), never
    * corpus-width — the verify stage of a two-phase hash-block ->
    * pixel-verify dedup. */
  def ssimGate(pairs: DataFrame, bytesACol: String, bytesBCol: String,
               tau: Double): DataFrame =
    pairs.withColumn("__ssim", ssimUdf(col(bytesACol), col(bytesBCol)))
      .where(col("__ssim").isNotNull && col("__ssim") >= tau)
      .drop("__ssim")
}
