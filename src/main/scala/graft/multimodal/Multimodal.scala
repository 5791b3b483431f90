package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; decode / feature-extraction /
  * frame-sampling run as partition-batched functions over the binary
  * column (the Scala analog of `mapInPandas` — one iterator per
  * partition, vectorizable batch shape, no per-row UDF dispatch).
  *
  * IMAGE decode is REAL: `javax.imageio` (pure JDK, headless-safe)
  * decodes PNG/JPEG/GIF/BMP to pixels, including multi-frame GIF counts.
  * Payloads no installed reader understands (audio, video — no JDK
  * codec exists) fall back to the deterministic fake, flagged per row
  * via the `codec` field so a consumer can filter or route them.
  */
object Multimodal {

  // javax.imageio's default image-input-stream cache is DISK-backed: a
  // temp FILE per createImageInputStream call. For per-row in-memory
  // payloads that is pure overhead (and fd churn at scale) — keep the
  // streams in memory. Executed once per JVM on first use.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaRow(
      media_id: Long,
      modality: String, // image | audio | video
      payload: Array[Byte],
      source: String)

  final case class MediaFeatures(
      media_id: Long,
      modality: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      checksum: Long,
      codec: String) // "imageio:<format>" for real decodes, "stub" otherwise

  /** A really-decoded image: `gray` is the row-major 8-bit grayscale
    * raster (single-band images verbatim; RGB reduced by the integer
    * ITU-R 601 luma `(299r + 587g + 114b) / 1000`, truncating — exact,
    * replayable arithmetic).
    */
  final case class DecodedImage(codec: String, width: Int, height: Int,
      nFrames: Int, gray: Array[Byte])

  /** REAL image decode via `javax.imageio` (pure JDK; PNG/JPEG/GIF/BMP
    * readers ship in every runtime). Returns None when no installed
    * reader claims the payload — the caller's fallback contract.
    * Multi-frame GIFs report their true frame count.
    */
  def decodeImage(payload: Array[Byte]): Option[DecodedImage] = {
    if (payload == null || payload.length < 26 || !headerPlausible(payload))
      return None
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) return None
      val r = readers.next()
      r.setInput(in)
      try {
        val img = r.read(0)
        val nFrames =
          try math.max(r.getNumImages(true), 1)
          catch { case _: java.io.IOException => 1 }
        Some(DecodedImage(s"imageio:${r.getFormatName.toLowerCase}",
          img.getWidth, img.getHeight, nFrames, toGray(img)))
      } finally r.dispose()
    } catch { case _: java.io.IOException | _: RuntimeException => None }
    finally in.close()
  }

  /** Pre-reader guard: the magic must be a format we ship a reader for,
    * and for the two magics that are VALID ASCII ("BM", "GIF8") the
    * header-declared dimensions must be sane — a text payload that
    * happens to start like a BMP/GIF would otherwise make the reader
    * allocate a raster sized by garbage header bytes before failing.
    * (PNG's \x89 and JPEG's \xFF can't open UTF-8 text, so magic alone
    * suffices there.)
    */
  private def headerPlausible(p: Array[Byte]): Boolean = {
    def u8(i: Int): Int = p(i) & 0xff
    def u16le(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def i32le(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def saneDims(w: Long, h: Long): Boolean =
      w > 0 && h > 0 && w <= 16384 && h <= 16384 && w * h <= (1L << 26)
    if (u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G') true
    else if (u8(0) == 0xff && u8(1) == 0xd8 && u8(2) == 0xff) true
    else if (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8')
      saneDims(u16le(6), u16le(8)) // logical screen descriptor
    else if (p(0) == 'B' && p(1) == 'M')
      saneDims(i32le(18).toLong, math.abs(i32le(22).toLong)) // BITMAPINFOHEADER
    else false
  }

  private def toGray(img: java.awt.image.BufferedImage): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Byte](w * h)
    // fast raster path ONLY for true single-band grayscale; every other
    // layout goes through getRGB, which applies the image's ColorModel —
    // raw raster samples would return PALETTE INDICES for indexed-color
    // GIF/PNG/BMP (garbage luma with no error) and a 2-band gray+alpha
    // PNG would die on a missing third band
    val grayRaster =
      img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v =
          if (grayRaster) raster.getSample(x, y, 0)
          else {
            val rgb = img.getRGB(x, y) // ColorModel-resolved sRGB
            val r = (rgb >> 16) & 0xff
            val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            (299 * r + 587 * g + 114 * b) / 1000
          }
        out(y * w + x) = v.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Encode an 8-bit grayscale image via the JDK writer — the in-repo
    * way to synthesise real test payloads (`format` = "png"/"bmp"/"gif";
    * PNG/BMP/GIF grayscale round-trip losslessly, JPEG does not).
    */
  def encodeGray(width: Int, height: Int, pixel: (Int, Int) => Int,
      format: String = "png"): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { raster.setSample(x, y, 0, pixel(x, y) & 0xff); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, out),
      s"no JDK writer for image format '$format'")
    out.toByteArray
  }

  /** ==== STUB ==== deterministic fake decode — now only the FALLBACK
    * for payloads no JDK reader understands (audio/video; real
    * implementations would swap in an ffmpeg binding here). The fake
    * derives "dimensions" from payload bytes so tests are exact.
    */
  def fakeDecode(r: MediaRow): MediaFeatures = {
    val n = r.payload.length.toLong
    MediaFeatures(r.media_id, r.modality, n,
      width = (n % 640).toInt,
      height = ((n * 7) % 480).toInt,
      n_frames = (n / 1000 + 1).toInt,
      checksum = fnv(r.payload),
      codec = "stub")
  }

  /** FNV-1a over a byte array ([[graft.dedup.Hashes.fnv64]]) — the
    * checksum for both the fake and the decoded-raster paths.
    */
  def fnv(bytes: Array[Byte]): Long = graft.dedup.Hashes.fnv64(bytes)

  /** Partition-batched decode: one task per partition iterates its rows —
    * the shape that lets a real codec amortise per-batch init exactly
    * like `mapInPandas`. Image payloads decode for REAL (width/height/
    * frame-count/checksum from the decoded grayscale raster); everything
    * else flags `codec = "stub"` via the fallback.
    */
  def decodeFeatures(rows: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      // javax.imageio reader discovery is per-call; nothing to init here
      it.map { r =>
        decodeImage(r.payload) match {
          case Some(d) => MediaFeatures(r.media_id, r.modality,
            r.payload.length.toLong, d.width, d.height, d.nFrames,
            fnv(d.gray), d.codec)
          case None => fakeDecode(r)
        }
      }
    }
  }

  /** Frame sampling: every `stride`-th `frameBytes`-sized slice of the
    * payload stands in for a frame (==== STUB ==== for real frame
    * extraction); output explodes to one row per sampled frame.
    */
  def sampleFrames(rows: Dataset[MediaRow], stride: Int,
      frameBytes: Int = 1000): DataFrame = {
    require(frameBytes > 0 && stride > 0, "stride and frameBytes must be positive")
    import rows.sparkSession.implicits._
    rows.flatMap { r =>
      val frames = r.payload.grouped(frameBytes).zipWithIndex
        .filter { case (_, i) => i % stride == 0 }
      frames.map { case (bytes, i) =>
        (r.media_id, i, bytes.length, bytes.take(8).map("%02x".format(_)).mkString)
      }
    }.toDF("media_id", "frame_idx", "frame_bytes", "frame_prefix")
  }

  /** Resize: re-sample the payload to a target "resolution" — every
    * payload maps to exactly `targetW × targetH` output bytes by
    * nearest-neighbor index sampling (==== STUB ==== standing in for a
    * real pixel resampler; byte `k` of the output is byte
    * `k · n / (W·H)` of the input, the 1-D nearest-neighbor rule).
    * Partition-batched like [[decodeFeatures]] so a real resampler can
    * amortise per-batch init; output schema carries the new dimensions
    * the way a real thumbnail stage would.
    */
  def resize(rows: Dataset[MediaRow], targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dimensions must be positive")
    require(targetW.toLong * targetH <= Int.MaxValue,
      s"target ${targetW}x$targetH overflows a byte array length")
    val outLen = targetW * targetH
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      // per-partition resampler init would go here (==== STUB ====)
      it.map { r =>
        val n = r.payload.length
        val out = new Array[Byte](outLen)
        if (n > 0) {
          var k = 0
          while (k < outLen) {
            out(k) = r.payload((k.toLong * n / outLen).toInt)
            k += 1
          }
        }
        (r.media_id, r.modality, targetW, targetH, out)
      }
    }.toDF("media_id", "modality", "width", "height", "payload")
  }

  /** REAL thumbnail resize: decode the payload with [[decodeImage]] and
    * nearest-neighbor-resample the grayscale raster in 2-D — output pixel
    * `(x, y)` is source pixel `(x·W div TW, y·H div TH)`, integer
    * arithmetic only (the replayable contract the oracle relies on).
    * Non-image payloads keep the 1-D byte resample of [[resize]], flagged
    * `codec = "stub"`. Output carries both the source and target
    * dimensions the way a real thumbnail stage would.
    */
  def resizeDecoded(rows: Dataset[MediaRow], targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dimensions must be positive")
    require(targetW.toLong * targetH <= Int.MaxValue,
      s"target ${targetW}x$targetH overflows a byte array length")
    val outLen = targetW * targetH
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        decodeImage(r.payload) match {
          case Some(d) =>
            val out = new Array[Byte](outLen)
            var y = 0
            while (y < targetH) {
              val sy = y * d.height / targetH
              var x = 0
              while (x < targetW) {
                out(y * targetW + x) = d.gray(sy * d.width + x * d.width / targetW)
                x += 1
              }
              y += 1
            }
            (r.media_id, d.codec, d.width, d.height, targetW, targetH, out)
          case None =>
            val n = r.payload.length
            val out = new Array[Byte](outLen)
            if (n > 0) {
              var k = 0
              while (k < outLen) {
                out(k) = r.payload((k.toLong * n / outLen).toInt); k += 1
              }
            }
            (r.media_id, "stub", 0, 0, targetW, targetH, out)
        }
      }
    }.toDF("media_id", "codec", "src_w", "src_h", "width", "height", "payload")
  }

  /** A deterministic REAL-image table derived from `documents`: each doc
    * becomes a grayscale PNG of `(16 + doc_id % 8) × (12 + doc_id % 5)`
    * whose pixel `(x, y)` is `(31·doc_id + y·W + x) mod 256` — pure
    * arithmetic, so an oracle can recompute decoded pixels without a
    * decoder. PNG is lossless: a correct decoder MUST return exactly
    * these values.
    */
  def imageTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, source) =>
          val w = 16 + (id % 8).toInt
          val h = 12 + (id % 5).toInt
          MediaRow(id, "image",
            encodeGray(w, h, (x, y) => ((31 * id + y * w + x) % 256).toInt), source)
        }
      }
  }

  /** Build a synthetic media table from the documents table (payload =
    * UTF-8 bytes of the text) — deterministic, no external data.
    */
  def fromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("modality"),
        // NULL-text documents become empty payloads: every downstream
        // consumer (decode/resize/sampleFrames) dereferences payload,
        // and a null would NPE the task mid-batch
        encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"),
        col("source"))
      .as[MediaRow]
  }
}
