package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: opaque `BinaryType` payloads + typed metadata, with
  * decode/feature steps as batched per-partition transforms.
  *
  * Decoders are REAL: uncompressed 24-bpp BMP (header walk + padded
  * scanline traversal) and PCM16 WAV (RIFF chunk walk) are pure-JVM
  * byte walks; JPEG/PNG/GIF route through the JDK's own
  * `javax.imageio.ImageIO` (present in every JRE, no extra library).
  * Only genuinely codec-less formats (MP3, video containers) fall back
  * to a byte-window feature fake — the plumbing (schema, batching,
  * partition shape) is identical, so a JNI or Arrow decoder slots in.
  */
object Multimodal {
  /** Typed metadata carried alongside every binary payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image/jpeg, audio/wav, ...
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType)))

  /** Feature-extraction output schema: id + fixed-size float vector. */
  def featureSchema(idField: StructField, dim: Int): StructType =
    StructType(Seq(idField, StructField("feature", ArrayType(FloatType, containsNull = false))))

  /** Decode one payload into a feature vector of `dim` floats: images
    * (BMP via the byte-walk, JPEG/PNG/GIF via ImageIO) yield a
    * normalized luminance histogram; PCM16 WAV yields a normalized
    * amplitude histogram; anything else (MP3, video containers — no JVM
    * codec) falls back to [[byteFeatures]]. */
  private def decodeFeatureVec(payload: Array[Byte], dim: Int): Array[Float] = {
    if (payload == null || payload.isEmpty) return new Array[Float](dim)
    decodeImageStats(payload, dim) match { // streaming: no raster retained
      case Some(st) => return st.lumaHistogram
      case None =>
    }
    decodeWav(payload) match {
      case Some(_) => return wavAmplitudeHistogram(payload, dim)
      case None =>
    }
    byteFeatures(payload, dim)
  }

  /** Amplitude histogram of a PCM16 data chunk, normalized to sum 1. */
  private def wavAmplitudeHistogram(payload: Array[Byte], dim: Int): Array[Float] = {
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(at: Int) = new String(payload, at, 4, "ISO-8859-1")
    val out = new Array[Float](dim)
    var pos = 12
    var n = 0
    while (pos + 8 <= payload.length) {
      val len = buf.getInt(pos + 4)
      if (len < 0 || pos + 8 + len > payload.length) return out
      if (tag(pos) == "data") {
        var i = 0
        while (i < len / 2) {
          val s = buf.getShort(pos + 8 + 2 * i).toInt // [-32768, 32767]
          out(((s + 32768) * dim) >>> 16) += 1f
          n += 1; i += 1
        }
      }
      pos += 8 + len + (len & 1)
    }
    if (n > 0) { var j = 0; while (j < dim) { out(j) /= n; j += 1 } }
    out
  }

  /** Codec-less fallback (MP3/video): deterministic byte-window sums so
    * the pipeline (batching, schema, shuffles) stays exercisable. */
  private def byteFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (payload == null || payload.isEmpty) return out
    var i = 0
    while (i < payload.length) {
      out(i % dim) += (payload(i) & 0xFF) / 255.0f
      i += 1
    }
    val norm = math.max(1, payload.length / dim)
    var j = 0
    while (j < dim) { out(j) /= norm; j += 1 }
    out
  }

  /** Batched decode: one pass per partition, rows processed in batches of
    * `batchSize` — the same shape an Arrow/mapInPandas decoder uses, so a
    * real codec slots in without changing the plan. Input needs `idCol`
    * (long) + `binCol` (binary); output is (id, feature[dim]). */
  def decodeFeatures(df: DataFrame, idCol: String, binCol: String,
                     dim: Int = 64, batchSize: Int = 256): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    val outSchema = featureSchema(StructField(idCol, LongType), dim)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // batch boundary: a real decoder amortizes codec init over the batch
        batch.iterator.map { row =>
          val id = row.getLong(idIdx)
          val payload = row.getAs[Array[Byte]](binIdx)
          Row(id, decodeFeatureVec(payload, dim).toSeq)
        }
      }
    }(Encoders.row(outSchema))
  }

  // ---- real pure-JVM decoders -------------------------------------------

  /** Decoded BMP: dimensions from the info header, mean over the actual
    * pixel bytes (scanline padding excluded). */
  final case class BmpInfo(width: Int, height: Int, bpp: Int, pixelMean: Double)

  /** Uncompressed 24-bpp BMP decoder: BITMAPFILEHEADER ("BM", pixel-data
    * offset at byte 10) + BITMAPINFOHEADER (width/height/bpp at 18/22/28,
    * all little-endian), rows padded to 4 bytes, bottom-up (negative
    * height = top-down). Returns None for anything it can't walk. */
  def decodeBmp(payload: Array[Byte]): Option[BmpInfo] = {
    if (payload == null || payload.length < 54 ||
      payload(0) != 'B' || payload(1) != 'M') return None
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataOffset = buf.getInt(10)
    val width = buf.getInt(18)
    val rawHeight = buf.getInt(22)
    val bpp = buf.getShort(28) & 0xFFFF
    val compression = buf.getInt(30)
    val height = math.abs(rawHeight)
    if (width <= 0 || height == 0 || bpp != 24 || compression != 0) return None
    val rowSize = (width * 3 + 3) / 4 * 4
    if (dataOffset.toLong + rowSize.toLong * height > payload.length) return None
    var sum = 0L
    var row = 0
    while (row < height) {
      var i = dataOffset + row * rowSize
      val end = i + width * 3 // pad bytes excluded
      while (i < end) { sum += payload(i) & 0xFF; i += 1 }
      row += 1
    }
    Some(BmpInfo(width, height, bpp, sum.toDouble / (width.toLong * height * 3)))
  }

  /** Decoded WAV: fmt-chunk fields + PCM16 sample stats. `flips` counts
    * strict sign changes between consecutive samples (zero samples
    * break a run — s·s′ < 0 only), the zero-crossing-rate numerator. */
  final case class WavInfo(channels: Int, sampleRate: Int, bits: Int,
                           nSamples: Int, rms: Double, peak: Int,
                           flips: Int)

  /** PCM16 WAV decoder: RIFF/WAVE signature then a real chunk walk —
    * "fmt " for channels/rate/bits, "data" for samples (chunks are
    * word-aligned). Returns None unless PCM (format tag 1) 16-bit. */
  def decodeWav(payload: Array[Byte]): Option[WavInfo] = {
    if (payload == null || payload.length < 44) return None
    def tag(at: Int) = new String(payload, at, 4, "ISO-8859-1")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var channels, rate, bits, fmtTag = 0
    var dataAt, dataLen = -1
    while (pos + 8 <= payload.length) {
      val id = tag(pos)
      val len = buf.getInt(pos + 4)
      if (len < 0 || pos + 8 + len > payload.length) return None
      id match {
        case "fmt " if len >= 16 =>
          fmtTag = buf.getShort(pos + 8) & 0xFFFF
          channels = buf.getShort(pos + 10) & 0xFFFF
          rate = buf.getInt(pos + 12)
          bits = buf.getShort(pos + 22) & 0xFFFF
        case "data" => dataAt = pos + 8; dataLen = len
        case _ =>
      }
      pos += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (fmtTag != 1 || bits != 16 || channels <= 0 || dataAt < 0) return None
    val n = dataLen / 2
    var sumSq = 0.0
    var peak = 0
    var flips = 0
    var prev = 0
    var i = 0
    while (i < n) {
      val s = buf.getShort(dataAt + 2 * i).toInt
      sumSq += s.toDouble * s
      if (math.abs(s) > peak) peak = math.abs(s)
      if (i > 0 && prev.toLong * s < 0) flips += 1
      prev = s
      i += 1
    }
    Some(WavInfo(channels, rate, bits, n,
      if (n == 0) 0.0 else math.sqrt(sumSq / n), peak, flips))
  }

  /** Decoded raster image: dimensions + flat RGB channel bytes, packed
    * (3 bytes/pixel — the raster's own footprint, no Int widening; a
    * 256-row decode batch of large images must not amplify memory). */
  final case class ImgInfo(mediaType: String, width: Int, height: Int,
                           rgb: Array[Byte]) {
    /** Mean over every channel byte — same statistic as BMP pixelMean. */
    def pixelMean: Double = {
      var sum = 0L; var i = 0
      while (i < rgb.length) { sum += rgb(i) & 0xFF; i += 1 }
      if (rgb.isEmpty) 0.0 else sum.toDouble / rgb.length
    }
    /** Per-pixel luminance histogram, normalized to sum 1. */
    def lumaHistogram(dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      val n = rgb.length / 3
      var p = 0
      while (p < n) {
        // integer Rec.601 luma, bounded [0, 255]
        val y = (299 * (rgb(3 * p) & 0xFF) + 587 * (rgb(3 * p + 1) & 0xFF) +
          114 * (rgb(3 * p + 2) & 0xFF)) / 1000
        out(y * dim / 256) += 1f
        p += 1
      }
      if (n > 0) { var j = 0; while (j < dim) { out(j) /= n; j += 1 } }
      out
    }
  }

  // ImageIO must not touch a display; set once before any decode.
  System.setProperty("java.awt.headless", "true")

  private def sniffImageType(p: Array[Byte]): Option[String] =
    if (p == null || p.length < 8) None
    else if ((p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8 && (p(2) & 0xFF) == 0xFF)
      Some("image/jpeg")
    else if ((p(0) & 0xFF) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G')
      Some("image/png")
    else if (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8')
      Some("image/gif")
    else None

  /** Streaming image statistics: channel-byte mean and luma-histogram
    * counts accumulated during the decode walk itself. Besides the
    * codec's own decode, the only allocation is one width-sized row
    * buffer — no w·h·3 raster is retained, so a 256-row decode batch of
    * large images costs O(width) extra memory, not O(pixels). */
  final case class ImgStats(mediaType: String, width: Int, height: Int,
                            channelSum: Long, lumaCounts: Array[Long]) {
    def nChannelBytes: Long = width.toLong * height * 3
    /** Mean over every channel byte — identical to [[ImgInfo.pixelMean]]. */
    def pixelMean: Double =
      if (nChannelBytes == 0) 0.0 else channelSum.toDouble / nChannelBytes
    /** Normalized per-pixel luminance histogram — identical to
      * [[ImgInfo.lumaHistogram]] (orientation-independent, so the BMP
      * file-order walk feeds the same statistic). */
    def lumaHistogram: Array[Float] = {
      val dim = lumaCounts.length
      val n = width.toLong * height
      val out = new Array[Float](dim)
      if (n > 0) {
        var j = 0
        while (j < dim) { out(j) = (lumaCounts(j).toDouble / n).toFloat; j += 1 }
      }
      out
    }
  }

  /** Stats-only decode for the batched paths: same magic-sniff routing as
    * [[decodeImage]], but mean/histogram are computed during the row walk
    * with no full-raster allocation. */
  def decodeImageStats(payload: Array[Byte], histDim: Int = 64): Option[ImgStats] = {
    val mt = sniffImageType(payload) match {
      case Some(t) => t
      case None => return decodeBmp24Stats(payload, histDim)
    }
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) return None
      val (w, h) = (img.getWidth, img.getHeight)
      val rowBuf = new Array[Int](w) // one row at a time — the only buffer
      val counts = new Array[Long](histDim)
      var sum = 0L
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        var x = 0
        while (x < w) {
          val argb = rowBuf(x)
          val r = (argb >> 16) & 0xFF
          val g = (argb >> 8) & 0xFF
          val b = argb & 0xFF
          sum += r + g + b
          // integer Rec.601 luma, bounded [0, 255] — same as ImgInfo
          counts((299 * r + 587 * g + 114 * b) / 1000 * histDim / 256) += 1L
          x += 1
        }
        y += 1
      }
      Some(ImgStats(mt, w, h, sum, counts))
    } catch { case _: Exception => None }
  }

  /** BMP stats through the same shape: direct byte walk over the payload
    * (BGR triples, scanline padding excluded), zero extra allocation. */
  private def decodeBmp24Stats(payload: Array[Byte], histDim: Int): Option[ImgStats] = {
    if (payload == null || payload.length < 2 ||
      payload(0) != 'B' || payload(1) != 'M') return None
    decodeBmp(payload).map { meta =>
      val buf = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val dataOffset = buf.getInt(10)
      val rowSize = (meta.width * 3 + 3) / 4 * 4
      val counts = new Array[Long](histDim)
      var sum = 0L
      var row = 0
      while (row < meta.height) { // histogram/mean are orientation-free
        var i = dataOffset + row * rowSize
        var x = 0
        while (x < meta.width) {
          val b = payload(i) & 0xFF
          val g = payload(i + 1) & 0xFF
          val r = payload(i + 2) & 0xFF
          sum += r + g + b
          counts((299 * r + 587 * g + 114 * b) / 1000 * histDim / 256) += 1L
          i += 3; x += 1
        }
        row += 1
      }
      ImgStats("image/bmp", meta.width, meta.height, sum, counts)
    }
  }

  /** JPEG/PNG/GIF decode via the JDK's `javax.imageio` (headless, no
    * third-party codec). Returns the full RGB raster so the caller
    * computes whatever statistic it needs; None when the payload is not
    * one of the ImageIO formats or is corrupt. The batched stat paths
    * use [[decodeImageStats]] instead — this full-raster form is for
    * callers that genuinely need pixels. */
  def decodeImage(payload: Array[Byte]): Option[ImgInfo] = {
    val mt = sniffImageType(payload) match {
      case Some(t) => t
      case None => return decodeBmp24(payload)
    }
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) return None
      val (w, h) = (img.getWidth, img.getHeight)
      val rgb = new Array[Byte](w * h * 3)
      val rowBuf = new Array[Int](w) // one row at a time: bulk read, no
      var y = 0                      // full-image Int raster
      while (y < h) {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        var x = 0
        while (x < w) {
          val argb = rowBuf(x)
          val o = 3 * (y * w + x)
          rgb(o) = ((argb >> 16) & 0xFF).toByte
          rgb(o + 1) = ((argb >> 8) & 0xFF).toByte
          rgb(o + 2) = (argb & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      Some(ImgInfo(mt, w, h, rgb))
    } catch { case _: Exception => None }
  }

  /** BMP through the same ImgInfo shape (byte-walk decoder, BGR→RGB). */
  private def decodeBmp24(payload: Array[Byte]): Option[ImgInfo] = {
    if (payload == null || payload.length < 2 ||
      payload(0) != 'B' || payload(1) != 'M') return None
    decodeBmp(payload).map { b =>
      // reuse the validated header walk; re-read pixels as RGB triples
      val buf = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val dataOffset = buf.getInt(10)
      val topDown = buf.getInt(22) < 0
      val rowSize = (b.width * 3 + 3) / 4 * 4
      val rgb = new Array[Byte](b.width * b.height * 3)
      var row = 0
      while (row < b.height) {
        val srcRow = if (topDown) row else b.height - 1 - row
        var x = 0
        while (x < b.width) {
          val i = dataOffset + srcRow * rowSize + x * 3
          val o = 3 * (row * b.width + x)
          rgb(o) = payload(i + 2)     // BMP stores BGR
          rgb(o + 1) = payload(i + 1)
          rgb(o + 2) = payload(i)
          x += 1
        }
        row += 1
      }
      ImgInfo("image/bmp", b.width, b.height, rgb)
    }
  }

  /** Per-payload media stats via the REAL decoders: sniff the magic,
    * decode, emit one typed row per input. Unknown/undecodable payloads
    * keep media_type "application/octet-stream" with null stats. Same
    * batched mapPartitions shape as [[decodeFeatures]]. */
  def decodeMedia(df: DataFrame, idCol: String, binCol: String,
                  batchSize: Int = 256): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("media_type", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("pixel_mean", DoubleType),
      StructField("sample_rate", IntegerType),
      StructField("n_samples", IntegerType),
      StructField("rms", DoubleType)))
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val id = row.getLong(idIdx)
          val payload = row.getAs[Array[Byte]](binIdx)
          decodeImageStats(payload, 1) match { // streaming: stats only,
            case Some(img) =>                  // no raster in the batch
              Row(id, img.mediaType, img.width, img.height, img.pixelMean,
                null, null, null)
            case None => decodeWav(payload) match {
              case Some(w) =>
                Row(id, "audio/wav", null, null, null, w.sampleRate, w.nSamples, w.rms)
              case None =>
                Row(id, "application/octet-stream", null, null, null, null, null, null)
            }
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Nearest-neighbor RGB resize: output pixel (x, y) samples source
    * pixel (floor(x·srcW/outW), floor(y·srcH/outH)) — pure integer
    * mapping, so an oracle can recompute the resized raster exactly from
    * the source's generation formula (unlike bilinear/area kernels whose
    * float weights are implementation-defined). */
  def resizeRgb(info: ImgInfo, outW: Int, outH: Int): ImgInfo = {
    require(outW > 0 && outH > 0, s"bad resize target ${outW}x$outH")
    val out = new Array[Byte](outW * outH * 3)
    var y = 0
    while (y < outH) {
      val sy = (y.toLong * info.height / outH).toInt
      var x = 0
      while (x < outW) {
        val sx = (x.toLong * info.width / outW).toInt
        val si = 3 * (sy * info.width + sx)
        val di = 3 * (y * outW + x)
        out(di) = info.rgb(si); out(di + 1) = info.rgb(si + 1)
        out(di + 2) = info.rgb(si + 2)
        x += 1
      }
      y += 1
    }
    ImgInfo(info.mediaType, outW, outH, out)
  }

  /** Serialize an RGB raster as a real bottom-up 24-bpp BMP (the inverse
    * of [[decodeBmp24]]'s walk: BGR bytes, 4-byte-padded scanlines). */
  def encodeBmp24(info: ImgInfo): Array[Byte] = {
    val (w, h) = (info.width, info.height)
    val rowSize = (w * 3 + 3) / 4 * 4
    val dataSize = rowSize * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var row = 0
    while (row < h) { // file rows bottom-up
      val srcRow = h - 1 - row
      var x = 0
      while (x < w) {
        val i = 3 * (srcRow * w + x)
        buf.put(info.rgb(i + 2)).put(info.rgb(i + 1)).put(info.rgb(i))
        x += 1
      }
      var pad = rowSize - w * 3
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      row += 1
    }
    buf.array()
  }

  /** Batched image resize over an opaque binary column: decode whatever
    * the magic says (BMP/PNG/JPEG/GIF), nearest-neighbor resample to
    * `outW`×`outH`, re-encode as BMP. One row per input:
    * (id, bin, width, height, pixel_mean); undecodable payloads yield a
    * null bin with null stats (kept, so the pipeline can audit them).
    * Same batched mapPartitions shape as [[decodeMedia]] — per-task
    * memory is one batch of rasters, independent of corpus size. */
  def resizeMedia(df: DataFrame, idCol: String, binCol: String,
                  outW: Int, outH: Int, batchSize: Int = 256): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("bin", BinaryType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("pixel_mean", DoubleType)))
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val id = row.getLong(idIdx)
          decodeImage(row.getAs[Array[Byte]](binIdx)) match {
            case Some(img) =>
              val r = resizeRgb(img, outW, outH)
              Row(id, encodeBmp24(r), r.width, r.height, r.pixelMean)
            case None => Row(id, null, null, null, null)
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** 64-bit average-hash (aHash) of a decoded image: 8x8 nearest-mapped
    * grayscale grid, one bit per cell set iff its gray exceeds the grid
    * mean. The workhorse of perceptual image dedup — identical content
    * under re-encode/uniform brightness shift hashes identically
    * (integer grays all move by the same delta and the mean is an exact
    * s/64 double, so every gray>mean bit is invariant), while different
    * content lands far apart in Hamming distance.
    *
    * bit i (0..63) = cell (x=i%8, y=i/8); source pixel of cell (x,y) is
    * (x·w/8, y·h/8) floor-mapped — the same nearest map as
    * [[resizeRgb]]. */
  def ahash64(info: ImgInfo): Long = {
    val w = info.width
    val h = info.height
    val g = new Array[Int](64)
    var s = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val o = 3 * ((y * h / 8) * w + (x * w / 8))
        val gray = ((info.rgb(o) & 0xFF) + (info.rgb(o + 1) & 0xFF) +
          (info.rgb(o + 2) & 0xFF)) / 3
        g(y * 8 + x) = gray
        s += gray
        x += 1
      }
      y += 1
    }
    val mean = s / 64.0 // exact: s <= 64*255 and /64 is a pow-2 scale
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (g(i) > mean) bits |= 1L << i
      i += 1
    }
    bits
  }

  /** Per-payload perceptual hash over a binary media column: decode via
    * the real codecs, aHash the raster. Same batched mapPartitions shape
    * as [[decodeFeatures]]; undecodable payloads emit null. */
  def ahashMedia(df: DataFrame, idCol: String, binCol: String,
                 batchSize: Int = 256): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("ahash", LongType)))
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val id = row.getLong(idIdx)
          decodeImage(row.getAs[Array[Byte]](binIdx)) match {
            case Some(img) => Row(id, img.width, img.height, ahash64(img))
            case None => Row(id, null, null, null)
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  // ---- deterministic fixtures (for specs and the oracle gate) -----------

  /** Build a real bottom-up 24-bpp BMP whose pixel bytes cycle through
    * `codes` in scanline order (padding zeroed). */
  def synthBmp(codes0: Array[Int], width: Int, height: Int): Array[Byte] = {
    val codes = if (codes0.isEmpty) Array(63) else codes0 // no %0 on empty text
    val rowSize = (width * 3 + 3) / 4 * 4
    val dataSize = rowSize * height
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)
    buf.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var k = 0
    var row = 0
    while (row < height) {
      var x = 0
      while (x < width * 3) {
        buf.put((codes(k % codes.length) & 0xFF).toByte)
        k += 1; x += 1
      }
      var pad = rowSize - width * 3
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      row += 1
    }
    buf.array()
  }

  /** Build a real mono PCM16 WAV with `n` samples cycling through
    * `codes` as (code - 128) * 128. */
  def synthWav(codes0: Array[Int], sampleRate: Int, n: Int): Array[Byte] = {
    val codes = if (codes0.isEmpty) Array(63) else codes0 // no %0 on empty text
    val dataLen = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("ISO-8859-1")).putInt(36 + dataLen)
      .put("WAVE".getBytes("ISO-8859-1"))
    buf.put("fmt ".getBytes("ISO-8859-1")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)
    buf.put("data".getBytes("ISO-8859-1")).putInt(dataLen)
    var i = 0
    while (i < n) {
      buf.putShort((((codes(i % codes.length) & 0xFF) - 128) * 128).toShort)
      i += 1
    }
    buf.array()
  }

  /** RGB image whose channel bytes cycle through `codes` in scan order
    * (row-major, r-g-b within each pixel) — so the channel mean equals
    * mean(codes[0 until w*h*3 cyclic]), recomputable by the oracle. */
  private def synthImage(codes: Array[Int], width: Int, height: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // empty source text must not divide by zero — substitute one fixed
    // byte ('?') so the synthetic image is still well-defined
    val cs = if (codes.isEmpty) Array(63) else codes
    var k = 0
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val r = cs(k % cs.length) & 0xFF
        val g = cs((k + 1) % cs.length) & 0xFF
        val b = cs((k + 2) % cs.length) & 0xFF
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        k += 3; x += 1
      }
      y += 1
    }
    img
  }

  private def encodeVia(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Real PNG bytes (lossless: decode returns the exact codes). */
  def synthPng(codes: Array[Int], width: Int, height: Int): Array[Byte] =
    encodeVia(synthImage(codes, width, height), "png")

  /** Real JPEG bytes (lossy: dimensions survive exactly, pixels don't). */
  def synthJpeg(codes: Array[Int], width: Int, height: Int): Array[Byte] =
    encodeVia(synthImage(codes, width, height), "jpg")

  /** Real MJPEG elementary stream: concatenated baseline JPEG frames
    * (what an AVI 'MJPG' track carries per frame, sans container). Frame
    * k of document id is w=2+((id+k)%4) × h=2+((id+k)%3) — dimensions
    * survive JPEG exactly, so the oracle recomputes them per frame. */
  def synthMjpeg(codes: Array[Int], id: Long, nFrames: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var k = 0
    while (k < nFrames) {
      bos.write(synthJpeg(codes, 2 + ((id + k) % 4).toInt, 2 + ((id + k) % 3).toInt))
      k += 1
    }
    bos.toByteArray
  }

  /** Split an MJPEG stream into its JPEG frames by marker scan: each
    * frame spans SOI (FFD8) .. EOI (FFD9). Inside entropy-coded data FF
    * bytes are stuffed (FF00) and only restart markers FFD0-D7 appear, so
    * a sequential SOI/EOI walk is exact for baseline JPEG. */
  def splitMjpegFrames(payload: Array[Byte]): Seq[Array[Byte]] = {
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var i = 0
    var start = -1
    while (i < payload.length - 1) {
      if ((payload(i) & 0xFF) == 0xFF) {
        val m = payload(i + 1) & 0xFF
        if (m == 0xD8 && start < 0) { start = i; i += 2 }
        else if (m == 0xD9 && start >= 0) {
          frames += java.util.Arrays.copyOfRange(payload, start, i + 2)
          start = -1; i += 2
        } else i += 1
      } else i += 1
    }
    frames.toSeq
  }

  /** Every-nth frame of each MJPEG payload decoded for real through
    * ImageIO — one partition-local pass, no raster retention (only the
    * per-frame dimensions and channel mean leave the executor). Replaces
    * the round-7 fixed-window stub for JPEG streams; [[sampleFrames]]
    * remains the raw fixed-size-frame path. */
  def sampleMjpegFrames(df: DataFrame, idCol: String, binCol: String,
                        everyNth: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("luma_mean", DoubleType)))
    val idIx = df.schema.fieldIndex(idCol)
    val binIx = df.schema.fieldIndex(binCol)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val payload = r.getAs[Array[Byte]](binIx)
        if (payload == null) Iterator.empty
        else splitMjpegFrames(payload).zipWithIndex
          .filter { case (_, ix) => ix % everyNth == 0 }
          .flatMap { case (frame, ix) =>
            val img = try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(frame)) catch { case _: Exception => null }
            if (img == null) None
            else {
              var sum = 0.0
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val rgb = img.getRGB(x, y)
                  sum += 0.299 * ((rgb >> 16) & 0xFF) +
                    0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
                  x += 1
                }
                y += 1
              }
              Some(Row(r.get(idIx), ix, img.getWidth, img.getHeight,
                sum / (img.getWidth.toLong * img.getHeight)))
            }
          }.iterator
      }
    }(Encoders.row(outSchema))
  }

  /** Frame-sampling plumbing for raw fixed-size-frame payloads: split a
    * binary blob into fixed-size windows (offsets real; no codec). */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String,
                   frameBytes: Int, everyNth: Int): DataFrame =
    df.select(col(idCol), posexplode(split_binary_frames(col(binCol), frameBytes, everyNth)))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame")

  /** Expression-level frame splitter: substr windows over the blob. */
  private def split_binary_frames(bin: org.apache.spark.sql.Column,
                                  frameBytes: Int, everyNth: Int) = {
    val nFrames = floor(octet_length(bin) / (frameBytes.toLong * everyNth)).cast("int")
    transform(sequence(lit(0), greatest(nFrames - 1, lit(0))),
      i => substring(bin, (i * frameBytes * everyNth + 1).cast("int"), lit(frameBytes)))
  }
}
