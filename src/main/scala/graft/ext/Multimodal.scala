package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling (SURVEY §2.11): image/audio/video payloads
  * modeled as opaque `binary` columns plus typed metadata, with
  * decode / feature-extract / frame-sample implemented as per-partition
  * batch transforms over a typed Dataset.
  *
  * Decode is REAL for three formats — 24-bit BMP and 16-bit PCM WAV
  * parsed pure-JVM by [[MediaCodec]], PNG via the JDK's ImageIO — with
  * a deterministic
  * byte-histogram fallback ([[MediaCodec.decodeStub]]) for formats whose
  * codecs need native libraries this environment lacks. The Spark-side
  * plumbing is format-agnostic and tested: binary payload column,
  * metadata struct, partition-batched processing (mapPartitions ≈ the
  * batch shape a vectorized decode UDF needs), and a feature schema that
  * downstream similarity ops consume. At 100 TB this stage is a pure map
  * over the scan — no shuffle — and partition sizing is governed by
  * `spark.sql.files.maxPartitionBytes` against media blob sizes.
  */
object Multimodal {

  /** Typed rows: payload + metadata in, fixed-width features out. */
  final case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, media_type: String, n_bytes: Int,
      n_frames: Int, features: Array[Float])

  /** Media decode. Four REAL decoders — 24-bit uncompressed BMP and
    * mono 16-bit PCM WAV (header + sample walk, no libraries) plus PNG
    * and JPEG via the JDK's `javax.imageio` (JPEG features quantized,
    * see [[decodeJpeg]]) — with a deterministic byte-histogram
    * fallback for formats that need native codecs the sandbox lacks
    * (MP3, H.264). A production build
    * extends ONLY this object; the surrounding Spark plumbing (binary
    * column, partition-batched mapPartitions, feature schema) is format-
    * agnostic and unchanged.
    */
  object MediaCodec {
    val FeatureDim = 16
    private val LE = java.nio.ByteOrder.LITTLE_ENDIAN

    /** 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up rows, BGR,
      * 4-byte row padding) from row-major RGB bytes.
      */
    def encodeBmp(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == width * height * 3, "rgb must be width*height*3 bytes")
      val stride = ((width * 3 + 3) / 4) * 4
      val imageSize = stride * height
      val buf = java.nio.ByteBuffer.allocate(54 + imageSize).order(LE)
      buf.put('B'.toByte).put('M'.toByte).putInt(54 + imageSize)
        .putShort(0).putShort(0).putInt(54)
      buf.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
        .putInt(0).putInt(imageSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      var y = height - 1
      while (y >= 0) {
        var x = 0
        while (x < width) {
          val i = (y * width + x) * 3
          buf.put(rgb(i + 2)).put(rgb(i + 1)).put(rgb(i))
          x += 1
        }
        var p = width * 3
        while (p < stride) { buf.put(0.toByte); p += 1 }
        y -= 1
      }
      buf.array()
    }

    final case class BmpImage(
        width: Int, height: Int, meanR: Double, meanG: Double, meanB: Double)

    /** Parse a 24-bit uncompressed BMP; None on any malformed header so
      * the caller can fall back rather than throw mid-partition.
      */
    def decodeBmp(b: Array[Byte]): Option[BmpImage] = {
      if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
      val buf = java.nio.ByteBuffer.wrap(b).order(LE)
      val dataOffset = buf.getInt(10)
      val width = buf.getInt(18)
      val height = buf.getInt(22)
      val bpp = buf.getShort(28)
      val compression = buf.getInt(30)
      if (bpp != 24 || compression != 0 || width <= 0 || height <= 0 || dataOffset < 54)
        return None
      val stride = ((width * 3 + 3) / 4) * 4
      if (dataOffset.toLong + stride.toLong * height > b.length) return None
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < height) {
        val rowStart = dataOffset + (height - 1 - y) * stride
        var x = 0
        while (x < width) {
          val p = rowStart + x * 3
          sb += b(p) & 0xff; sg += b(p + 1) & 0xff; sr += b(p + 2) & 0xff
          x += 1
        }
        y += 1
      }
      val n = width.toDouble * height * 255.0
      Some(BmpImage(width, height, sr / n, sg / n, sb / n))
    }

    /** Row-major RGB pixels of a 24-bit uncompressed BMP; None on any
      * malformed header (same validation as [[decodeBmp]]).
      */
    def decodeBmpPixels(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
      val buf = java.nio.ByteBuffer.wrap(b).order(LE)
      val dataOffset = buf.getInt(10)
      val width = buf.getInt(18)
      val height = buf.getInt(22)
      val bpp = buf.getShort(28)
      val compression = buf.getInt(30)
      if (bpp != 24 || compression != 0 || width <= 0 || height <= 0 || dataOffset < 54)
        return None
      val stride = ((width * 3 + 3) / 4) * 4
      if (dataOffset.toLong + stride.toLong * height > b.length) return None
      val rgb = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        val rowStart = dataOffset + (height - 1 - y) * stride
        var x = 0
        while (x < width) {
          val p = rowStart + x * 3
          val o = (y * width + x) * 3
          rgb(o) = b(p + 2); rgb(o + 1) = b(p + 1); rgb(o + 2) = b(p)
          x += 1
        }
        y += 1
      }
      Some((width, height, rgb))
    }

    /** PNG decode via `javax.imageio` — pure JDK, no native libraries,
      * and PNG is lossless so decoded pixels are bit-identical to the
      * encoded source on every compliant JVM (JPEG gets quantized
      * features instead — see [[decodeJpeg]]). Dispatch is by the 8-byte
      * PNG signature; any parse failure returns None so the caller
      * falls back rather than throwing mid-partition.
      */
    def decodePng(b: Array[Byte]): Option[BmpImage] =
      decodePngSums(b).map { case (w, h, sr, sg, sb) =>
        val n = w.toDouble * h * 255.0
        BmpImage(w, h, sr / n, sg / n, sb / n)
      }

    /** Integer channel sums of a PNG — the exact form behind
      * [[decodePng]]'s means (PNG is lossless, so these are
      * bit-reproducible on every compliant JVM and SQL-mirrorable
      * without any float arithmetic — the decode-check oracle's hook).
      */
    def decodePngSums(b: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = {
      if (b.length < 8 || (b(0) & 0xff) != 0x89 || b(1) != 'P' || b(2) != 'N' || b(3) != 'G')
        return None
      try {
        val img = readImage(pngReader, b)
        if (img == null) return None
        val w = img.getWidth; val h = img.getHeight
        if (w <= 0 || h <= 0) return None
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            x += 1
          }
          y += 1
        }
        Some((w, h, sr, sg, sb))
      } catch { case _: Exception => None }
    }

    /** JPEG decode via `javax.imageio` — pure JDK. Unlike PNG, JPEG
      * decoding is NOT bit-reproducible across JDK builds (the IDCT
      * implementation may differ by ±1 intensity level per pixel), so
      * the channel means are quantized to 2 decimals: the averaged
      * cross-build divergence (≲1/255 ≈ 0.004) almost never moves a
      * 0.01-grid value, and MultimodalSpec pins the fixture with
      * explicit tolerance bounds rather than byte equality. Dispatch is
      * by the JPEG SOI marker (FF D8 FF); parse failures return None so
      * the caller falls back to the histogram stub.
      */
    def decodeJpeg(b: Array[Byte]): Option[BmpImage] = {
      if (b.length < 3 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8 ||
        (b(2) & 0xff) != 0xff) return None
      try {
        val img = readImage(jpegReader, b)
        if (img == null) return None
        val w = img.getWidth; val h = img.getHeight
        if (w <= 0 || h <= 0) return None
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toDouble * h * 255.0
        def q2(v: Double) = math.rint(v * 100.0) / 100.0
        Some(BmpImage(w, h, q2(sr / n), q2(sg / n), q2(sb / n)))
      } catch { case _: Exception => None }
    }

    /** JPEG encode of row-major RGB bytes (fixture/ingest helper);
      * quality 0.9 via the JDK writer. The writer is ThreadLocal-cached:
      * `getImageWritersByFormatName` does an SPI registry walk per call
      * (~ms), which dominated the encode when synthesizing one payload
      * per row; ImageWriters are not thread-safe but are reusable on one
      * thread via setOutput/write cycles.
      */
    private val jpegWriter =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next())

    /** Reader twin of [[jpegWriter]]: `ImageIO.read` walks the SPI
      * registry AND spools through a disk-backed stream cache on every
      * call; a ThreadLocal reader over a memory-cached stream decodes
      * from the byte array directly.
      */
    private def cachedReader(format: String) =
      ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
        javax.imageio.ImageIO.getImageReadersByFormatName(format).next())
    private val jpegReader = cachedReader("jpeg")
    private val pngReader = cachedReader("png")
    private val pngWriter =
      ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
        javax.imageio.ImageIO.getImageWritersByFormatName("png").next())

    private def readImage(
        rd: ThreadLocal[javax.imageio.ImageReader],
        b: Array[Byte]): java.awt.image.BufferedImage = {
      val reader = rd.get()
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(b))
      try {
        reader.setInput(iis, true, true)
        reader.read(0)
      } finally { reader.setInput(null); iis.close() }
    }

    def encodeJpeg(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == width * height * 3, "rgb must be width*height*3 bytes")
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val i = (y * width + x) * 3
          img.setRGB(x, y,
            ((rgb(i) & 0xff) << 16) | ((rgb(i + 1) & 0xff) << 8) | (rgb(i + 2) & 0xff))
          x += 1
        }
        y += 1
      }
      val writer = jpegWriter.get()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.9f)
      val out = new java.io.ByteArrayOutputStream()
      // memory-cached stream: ImageIO.createImageOutputStream defaults to
      // a DISK-backed cache (one temp file per encode)
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      } finally { writer.setOutput(null); ios.close() }
      out.toByteArray
    }

    /** PNG encode of row-major RGB bytes (fixture/ingest helper). */
    def encodePng(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == width * height * 3, "rgb must be width*height*3 bytes")
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val i = (y * width + x) * 3
          img.setRGB(x, y,
            ((rgb(i) & 0xff) << 16) | ((rgb(i + 1) & 0xff) << 8) | (rgb(i + 2) & 0xff))
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      val writer = pngWriter.get()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.write(img)
      } finally { writer.setOutput(null); ios.close() }
      out.toByteArray
    }

    /** Nearest-neighbor resize of a 24-bit BMP (decode → sample →
      * re-encode, pure JVM); None if the payload isn't a decodable BMP.
      * Per-row transform — composes with the mapPartitions plumbing the
      * same way decode does.
      */
    def resizeBmp(b: Array[Byte], outW: Int, outH: Int): Option[Array[Byte]] = {
      require(outW > 0 && outH > 0)
      decodeBmpPixels(b).map { case (w, h, rgb) =>
        val out = new Array[Byte](outW * outH * 3)
        var y = 0
        while (y < outH) {
          val sy = (y.toLong * h / outH).toInt
          var x = 0
          while (x < outW) {
            val sx = (x.toLong * w / outW).toInt
            val s = (sy * w + sx) * 3
            val d = (y * outW + x) * 3
            out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
            x += 1
          }
          y += 1
        }
        encodeBmp(outW, outH, out)
      }
    }

    /** 64-bit difference hash (dHash): decode, nearest-neighbor resize
      * to 9×8, grayscale, and emit the sign of each horizontal luminance
      * gradient — the standard perceptual fingerprint that survives
      * re-encoding, mild noise, and brightness shifts (all bits are
      * COMPARISONS, not values). Pure function of the pixels, so
      * identical content hashes identically on every engine and run.
      */
    def dHash(bmp: Array[Byte]): Option[Long] =
      resizeBmp(bmp, 9, 8).flatMap(decodeBmpPixels).map { case (_, _, rgb) =>
        var h = 0L
        var bit = 0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            val p = (y * 9 + x) * 3
            val q = p + 3
            val lumL = (rgb(p) & 0xff) * 299 + (rgb(p + 1) & 0xff) * 587 + (rgb(p + 2) & 0xff) * 114
            val lumR = (rgb(q) & 0xff) * 299 + (rgb(q + 1) & 0xff) * 587 + (rgb(q + 2) & 0xff) * 114
            if (lumL < lumR) h |= 1L << bit
            bit += 1
            x += 1
          }
          y += 1
        }
        h
      }

    /** Mono 16-bit PCM WAV (RIFF/WAVE, fmt + data chunks). */
    def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataSize = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataSize).order(LE)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
        .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
      buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
      samples.foreach(buf.putShort)
      buf.array()
    }

    final case class WavAudio(
        sampleRate: Int, nSamples: Int, meanAbs: Double, rms: Double)

    /** RIFF chunk walk shared by every WAV consumer: locates the fmt /
      * data chunks (word-aligned per spec), returns (sampleRate,
      * dataStart, nSamples) for PCM mono 16-bit, None otherwise.
      */
    private def wavPcm(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 44 ||
          !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') ||
          !(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
      val buf = java.nio.ByteBuffer.wrap(b).order(LE)
      var pos = 12
      var sampleRate = -1; var bits = -1; var channels = -1
      var dataStart = -1; var dataLen = -1
      while (pos + 8 <= b.length) {
        val id = new String(b, pos, 4, "US-ASCII")
        val size = buf.getInt(pos + 4)
        if (size < 0 || pos + 8 + size > b.length) return None
        if (id == "fmt " && size >= 16) {
          if (buf.getShort(pos + 8) != 1) return None
          channels = buf.getShort(pos + 10)
          sampleRate = buf.getInt(pos + 12)
          bits = buf.getShort(pos + 22)
        } else if (id == "data") { dataStart = pos + 8; dataLen = size }
        pos += 8 + size + (size & 1)
      }
      if (sampleRate <= 0 || bits != 16 || channels != 1 || dataStart < 0) None
      else Some((sampleRate, dataStart, dataLen / 2))
    }

    /** 64-bit audio fingerprint — the WAV sibling of [[dHash]]: the
      * sample stream folds into 65 equal energy windows (mean |sample|),
      * and each bit is the sign of an adjacent-window energy gradient.
      * Volume-invariant by construction (uniform gain scales every
      * window equally, comparisons unchanged), robust to small local
      * noise, and a pure function of the samples.
      */
    def audioHash(b: Array[Byte]): Option[Long] = wavPcm(b).flatMap {
      case (_, dataStart, n) =>
        if (n < 65) None
        else {
          val buf = java.nio.ByteBuffer.wrap(b).order(LE)
          val energy = new Array[Double](65)
          var w = 0
          while (w < 65) {
            val from = (w.toLong * n / 65).toInt
            val until = ((w + 1).toLong * n / 65).toInt
            var acc = 0.0
            var i = from
            while (i < until) { acc += math.abs(buf.getShort(dataStart + i * 2).toDouble); i += 1 }
            energy(w) = acc / math.max(1, until - from)
            w += 1
          }
          var h = 0L
          var k = 0
          while (k < 64) {
            if (energy(k) < energy(k + 1)) h |= 1L << k
            k += 1
          }
          Some(h)
        }
    }

    /** Integer-exact WAV stats: sum |sample| and sum sample² over the
      * RAW 16-bit values (no float normalization), so a SQL oracle can
      * mirror the whole decode walk in integer arithmetic — the
      * decode-check companion's hook.
      */
    def decodeWavRaw(b: Array[Byte]): Option[(Int, Int, Long, Long)] = wavPcm(b).map {
      case (sampleRate, dataStart, n) =>
        val buf = java.nio.ByteBuffer.wrap(b).order(LE)
        var sumAbs = 0L; var sumSq = 0L
        var i = 0
        while (i < n) {
          val s = buf.getShort(dataStart + i * 2).toLong
          sumAbs += math.abs(s); sumSq += s * s
          i += 1
        }
        (sampleRate, n, sumAbs, sumSq)
    }

    /** WAV parse; amplitudes normalized to [-1, 1]. */
    def decodeWav(b: Array[Byte]): Option[WavAudio] = wavPcm(b).map {
      case (sampleRate, dataStart, n) =>
        val buf = java.nio.ByteBuffer.wrap(b).order(LE)
        var sumAbs = 0.0; var sumSq = 0.0
        var i = 0
        while (i < n) {
          val s = buf.getShort(dataStart + i * 2) / 32768.0
          sumAbs += math.abs(s); sumSq += s * s
          i += 1
        }
        WavAudio(sampleRate, n,
          if (n > 0) sumAbs / n else 0.0, if (n > 0) math.sqrt(sumSq / n) else 0.0)
    }

    final case class WavAnalysis(
        sampleRate: Int, nSamples: Int, durationS: Double,
        rms: Double, zcr: Double, peak: Double)

    /** Audio feature extraction beyond the basic decode: RMS energy,
      * zero-crossing RATE (crossings per sample — the classic cheap
      * voiced/unvoiced & pitch proxy), and normalized peak, one pass
      * over the PCM samples.
      */
    def analyzeWav(b: Array[Byte]): Option[WavAnalysis] = wavPcm(b).map {
      case (sampleRate, dataStart, n) =>
        val buf = java.nio.ByteBuffer.wrap(b).order(LE)
        var sumSq = 0.0; var peak = 0.0; var crossings = 0L
        var prev = 0; var i = 0
        while (i < n) {
          val raw = buf.getShort(dataStart + i * 2).toInt
          val s = raw / 32768.0
          sumSq += s * s
          if (math.abs(s) > peak) peak = math.abs(s)
          if (i > 0 && ((prev >= 0 && raw < 0) || (prev < 0 && raw >= 0))) crossings += 1
          prev = raw; i += 1
        }
        WavAnalysis(sampleRate, n, n.toDouble / sampleRate,
          if (n > 0) math.sqrt(sumSq / n) else 0.0,
          if (n > 1) crossings.toDouble / (n - 1) else 0.0, peak)
    }

    /** Magic-byte dispatch: real BMP/WAV parse into the fixed feature
      * schema; unknown formats fall back to the histogram stub.
      * Image features: [width, height, meanR, meanG, meanB, 0...];
      * audio: [sampleRate, nSamples, meanAbs, rms, 0...], one frame per
      * 1024 samples.
      */
    def decode(row: MediaRow): MediaFeatures =
      decodeBmp(row.payload).orElse(decodePng(row.payload))
        .orElse(decodeJpeg(row.payload)).map { img =>
        val f = new Array[Float](FeatureDim)
        f(0) = img.width.toFloat; f(1) = img.height.toFloat
        f(2) = img.meanR.toFloat; f(3) = img.meanG.toFloat; f(4) = img.meanB.toFloat
        MediaFeatures(row.doc_id, row.media_type, row.payload.length, 1, f)
      }.orElse(decodeWav(row.payload).map { w =>
        val f = new Array[Float](FeatureDim)
        f(0) = w.sampleRate.toFloat; f(1) = w.nSamples.toFloat
        f(2) = w.meanAbs.toFloat; f(3) = w.rms.toFloat
        MediaFeatures(row.doc_id, row.media_type, row.payload.length,
          math.max(w.nSamples / 1024, 1), f)
      }).getOrElse(decodeStub(row))

    def decodeStub(row: MediaRow): MediaFeatures = {
      val hist = new Array[Float](FeatureDim)
      var i = 0
      while (i < row.payload.length) {
        hist((row.payload(i) & 0xff) % FeatureDim) += 1f
        i += 1
      }
      val n = math.max(row.payload.length, 1)
      var j = 0
      while (j < FeatureDim) { hist(j) /= n; j += 1 }
      val frames = row.media_type match {
        case "video" => math.max(row.payload.length / 64, 1)
        case "audio" => math.max(row.payload.length / 256, 1)
        case _       => 1
      }
      MediaFeatures(row.doc_id, row.media_type, row.payload.length, frames, hist)
    }

    /** Frame sampling stub: every k-th 16-byte slice of the payload. */
    def sampleFrames(payload: Array[Byte], everyK: Int): Seq[Array[Byte]] =
      payload.grouped(16).zipWithIndex
        .collect { case (b, i) if i % everyK == 0 => b }.toSeq

    // --- multi-frame container ("video") -----------------------------------

    /** Length-prefixed frame container: "GVID" magic, int32 frame count,
      * then [int32 length | frame bytes] per frame — the moral shape of a
      * video file (codec-agnostic: frames here are real BMP blobs). All
      * ints big-endian.
      */
    def encodeVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(
        8 + frames.map(_.length + 4).sum)
      bb.put('G'.toByte).put('V'.toByte).put('I'.toByte).put('D'.toByte)
      bb.putInt(frames.length)
      frames.foreach { f => bb.putInt(f.length); bb.put(f) }
      bb.array()
    }

    /** Frame index + total count without materializing every frame: the
      * header walk is O(frames), each frame skipped by its length prefix.
      */
    def decodeVideoFrames(b: Array[Byte]): Option[(Int, Seq[Array[Byte]])] = {
      if (b.length < 8 || b(0) != 'G' || b(1) != 'V' || b(2) != 'I' || b(3) != 'D') return None
      val bb = java.nio.ByteBuffer.wrap(b)
      bb.position(4)
      val n = bb.getInt
      if (n < 0) return None
      val frames = Seq.newBuilder[Array[Byte]]
      var i = 0
      while (i < n) {
        if (bb.remaining() < 4) return None
        val len = bb.getInt
        if (len < 0 || bb.remaining() < len) return None
        val f = new Array[Byte](len)
        bb.get(f)
        frames += f
        i += 1
      }
      Some((n, frames.result()))
    }
  }

  /** The media table: documents' text bytes standing in for media blobs,
    * with a deterministic modality assignment. Binary column + metadata.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      to_binary(col("text"), lit("utf-8")).as("payload"),
      struct(
        octet_length(col("text")).as("n_bytes"),
        col("source").as("origin")).as("meta"))

  /** Partition-batched decode: one decoder instance per partition (the
    * expensive-initialization shape), rows processed as an iterator batch.
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("doc_id", "media_type", "payload").as[MediaRow]
      .mapPartitions { batch =>
        // per-partition decoder init would go here
        batch.map(MediaCodec.decode)
      }
  }

  /** Real-format decode query: payloads synthesized deterministically as
    * ACTUAL WAV (pure tone, pitch keyed to the id), BMP / PNG (gradient
    * images), and JPEG (id % 6 == 4 — the dominant real-corpus image
    * format, exercised through the same dispatch) blobs — standing in
    * for an ingest source the sandbox lacks — then parsed by the real
    * decoders above. Feature positions: images get (width, height) in
    * (f0, f1); audio gets (sampleRate, nSamples).
    */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        if (id % 3 == 0) {
          val samples = Array.tabulate(512)(i =>
            (math.sin(2 * math.Pi * i * (1 + id % 32) / 64.0) * 16384).toShort)
          MediaRow(id, "audio", MediaCodec.encodeWav(samples, 16000))
        } else if (id % 6 == 4) {
          val rgb = Array.tabulate(16 * 16 * 3)(i => ((i + id) % 256).toByte)
          MediaRow(id, "image", MediaCodec.encodeJpeg(16, 16, rgb))
        } else if (id % 3 == 1) {
          val rgb = Array.tabulate(16 * 16 * 3)(i => ((i + id) % 256).toByte)
          MediaRow(id, "image", MediaCodec.encodeBmp(16, 16, rgb))
        } else {
          val rgb = Array.tabulate(8 * 8 * 3)(i => ((i * 7 + id) % 256).toByte)
          MediaRow(id, "image", MediaCodec.encodePng(8, 8, rgb))
        }
      })
    decodeFeatures(spark, media.toDF())
      .toDF()
      .select(col("doc_id"), col("media_type"), col("n_bytes"), col("n_frames"),
        round(element_at(col("features"), 1).cast("double"), 4).as("f0"),
        round(element_at(col("features"), 2).cast("double"), 4).as("f1"),
        round(element_at(col("features"), 3).cast("double"), 4).as("f2"),
        round(element_at(col("features"), 4).cast("double"), 4).as("f3"))
      .orderBy("doc_id")
  }

  /** Hash-green companion of [[multimodalDecode]] (round-11 verdict item
    * 5): the decode pipeline restricted to its LOSSLESS formats — WAV
    * PCM, BMP, PNG; everything except the id%6==4 JPEG branch, whose
    * ImageIO IDCT is the one genuinely non-bit-reproducible step — and
    * reduced to integer-exact statistics. The blobs are encoded and
    * decoded by the REAL codecs above; the DuckDB oracle never sees a
    * byte — it regenerates the expected values from the closed-form
    * generators (trunc'd sine samples for WAV, modular byte gradients
    * for BMP/PNG), so a hash match proves the encoder→decoder
    * round-trip, header walks, and sample/pixel sums exact end to end.
    * n_bytes is asserted where the container size is canonical (WAV
    * 44+2n, BMP 54+stride·h) and sentinel -1 for PNG, whose IDAT
    * length is zlib-engine-local (s2 likewise -1 for audio, which has
    * two stats, not three) — precisely the boundary that keeps the
    * full [[multimodalDecode]] rows-only.
    */
  def multimodalDecodeCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(6)) =!= 4)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        if (id % 3 == 0) {
          val samples = Array.tabulate(512)(i =>
            (math.sin(2 * math.Pi * i * (1 + id % 32) / 64.0) * 16384).toShort)
          val wav = MediaCodec.encodeWav(samples, 16000)
          val (sr, n, sumAbs, sumSq) = MediaCodec.decodeWavRaw(wav).get
          (id, "wav", wav.length, sr.toLong, n.toLong, sumAbs, sumSq, -1L)
        } else if (id % 3 == 1) { // id % 6 == 1 after the JPEG filter
          val rgb = Array.tabulate(16 * 16 * 3)(i => ((i + id) % 256).toByte)
          val bmp = MediaCodec.encodeBmp(16, 16, rgb)
          val (w, h, px) = MediaCodec.decodeBmpPixels(bmp).get
          var sr = 0L; var sg = 0L; var sb = 0L
          var p = 0
          while (p < px.length) {
            sr += px(p) & 0xff; sg += px(p + 1) & 0xff; sb += px(p + 2) & 0xff
            p += 3
          }
          (id, "bmp", bmp.length, w.toLong, h.toLong, sr, sg, sb)
        } else {
          val rgb = Array.tabulate(8 * 8 * 3)(i => ((i * 7 + id) % 256).toByte)
          val png = MediaCodec.encodePng(8, 8, rgb)
          val (w, h, sr, sg, sb) = MediaCodec.decodePngSums(png).get
          (id, "png", -1, w.toLong, h.toLong, sr, sg, sb)
        }
      })
      .toDF("doc_id", "kind", "n_bytes", "d0", "d1", "s0", "s1", "s2")
    rows.orderBy("doc_id")
  }

  /** Query entry: decoded feature table (rows-only; binary+mapPartitions
    * has no SQL oracle).
    */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeFeatures(spark, mediaTable(spark, dir))
      .toDF()
      .select(col("doc_id"), col("media_type"), col("n_bytes"), col("n_frames"),
        round(element_at(col("features"), 1).cast("double"), 4).as("f0"))
      .orderBy("doc_id")
  }

  /** Query entry: metadata projection — the SQL-expressible face of the
    * media table (payload length + modality), oracle-checked.
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(
        col("doc_id"), col("media_type"),
        octet_length(col("payload")).as("n_bytes"),
        col("meta.origin").as("origin"))
      .orderBy("doc_id")

  final case class FrameRow(doc_id: Long, frame_idx: Int, n_frames: Int,
      width: Int, height: Int, mean_lum: Double)

  /** Frame sampling over a real multi-frame container: each "video" is a
    * GVID blob of real 8x8 BMP frames (content evolves per frame, keyed
    * to the doc id); every 4th frame is sampled, decoded with the SAME
    * BMP parser as still images, and reduced to per-frame features. The
    * container walk skips unsampled frames by length prefix — the decode
    * cost is frames/k, not frames — and the whole pipeline is a
    * partition-batched map (the right shape for batch codecs): no
    * shuffle except output order, sampled-frame rows fan out map-side.
    */
  def multimodalFrames(spark: SparkSession, dir: String, everyK: Int = 4): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val nFrames = 4 + (id % 13).toInt
        val frames = Seq.tabulate(nFrames) { f =>
          val rgb = Array.tabulate(8 * 8 * 3)(i => ((i * 3 + id + f * 11) % 256).toByte)
          MediaCodec.encodeBmp(8, 8, rgb)
        }
        val video = MediaCodec.encodeVideo(frames)
        // serving path: parse the container back, sample, decode
        val (total, fs) = MediaCodec.decodeVideoFrames(video).get
        fs.zipWithIndex.collect { case (blob, idx) if idx % everyK == 0 =>
          val img = MediaCodec.decodeBmp(blob).get
          // Rec.601 luma from the decoder's channel means
          val lum = 0.299 * img.meanR + 0.587 * img.meanG + 0.114 * img.meanB
          FrameRow(id, idx, total, img.width, img.height,
            math.rint(lum * 10000) / 10000)
        }
      })
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  final case class AudioRow(doc_id: Long, sample_rate: Int, n_samples: Int,
      duration_s: Double, rms: Double, zcr: Double, peak: Double)

  /** Audio feature extraction: per-doc tone WAVs (frequency and
    * amplitude keyed to the id — the deterministic stand-in for an audio
    * ingest source) analyzed by [[MediaCodec.analyzeWav]] into RMS
    * energy, zero-crossing rate, and peak — the cheap signal features an
    * audio curation pass filters on (silence, clipping, noise). Pure
    * partition-batched map, no shuffle except output order.
    */
  def multimodalAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        // 1..31 cycles per 64 samples — 32 would be the Nyquist rate,
        // where every sample of the sine lands exactly on a zero
        val cycles = 1 + (id % 31).toInt
        val amp = 4096 * (1 + (id % 4).toInt)
        val samples = Array.tabulate(512)(i =>
          (math.sin(2 * math.Pi * i * cycles / 64.0) * amp).toShort)
        val wav = MediaCodec.encodeWav(samples, 16000)
        val a = MediaCodec.analyzeWav(wav).get
        AudioRow(id, a.sampleRate, a.nSamples,
          math.rint(a.durationS * 10000) / 10000, math.rint(a.rms * 10000) / 10000,
          math.rint(a.zcr * 10000) / 10000, math.rint(a.peak * 10000) / 10000)
      })
      .toDF()
      .orderBy("doc_id")
  }

  /** Driver entry for the GVID DataSource V2 reader
    * ([[graft.sources.GvidSource]]): stages containers for the first 50
    * documents once per SF (same per-id frame generator as
    * [[multimodalFrames]]), then reads them through the custom source
    * and rolls up per file — the scan path exercises DSv2 partition
    * planning (one per file) and column pruning end to end.
    */
  /** Stages the containers once per (JVM, corpus dir) under the fixture
    * root (ingest-side setup — graft.Bench calls this untimed, like the
    * incremental-dedup index build, so the timed query measures the
    * scan, not file creation).
    */
  def ensureGvidStage(dir: String): String =
    graft.ops.Scratch.fixture("gvid_stage", dir) { stage =>
      (0L until 50L).foreach { id =>
        val nFrames = 4 + (id % 13).toInt
        val frames = Seq.tabulate(nFrames) { f =>
          val rgb = Array.tabulate(8 * 8 * 3)(i => ((i * 3 + id + f * 11) % 256).toByte)
          MediaCodec.encodeBmp(8, 8, rgb)
        }
        java.nio.file.Files.write(stage.resolve(f"doc$id%03d.gvid"),
          MediaCodec.encodeVideo(frames))
      }
      stage.toString
    }

  def multimodalGvidScan(spark: SparkSession, dir: String): DataFrame = {
    val stage = ensureGvidStage(dir)
    spark.read.format("graft.sources.GvidSource").load(stage)
      .groupBy(col("file"))
      .agg(
        max(col("n_frames")).as("n_frames"),
        count(lit(1)).as("n_rows"),
        round(avg(col("mean_lum")), 4).as("avg_lum"))
      .orderBy("file")
  }

  /** Perceptual image near-dup pairs — the dedup step of a MULTIMODAL
    * curation pipeline: every image is reduced to its 64-bit dHash (one
    * decode+resize per row inside the partition-batched mapper), and
    * pairs within Hamming distance `maxHamming` surface through the same
    * 16-bit-chunk pigeonhole the text SimHash dedup uses (any pair
    * within distance 3 shares one exact chunk), so candidate generation
    * is bucket joins — never all-pairs. Images synthesized with planted
    * near-duplicates: base gradient keyed to `doc_id % 83`, one pixel
    * perturbed per id, so same-pattern ids hash within a few bits and
    * different patterns do not collide.
    */
  def imageDedup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    val hashes = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val pattern = (id % 83).toInt
        val jitter = (id / 83).toInt
        // pattern-keyed pseudo-random texture: dHash bits are gradient
        // SIGNS, so distinct patterns need sign-diverse content (stripes
        // or offset gradients all hash alike); a per-(pattern, pixel)
        // integer hash gives each pattern an independent 64-bit signature
        val rgb = Array.tabulate(16 * 16 * 3) { i =>
          val px = i / 3; val x = px % 16; val y = px / 16
          val h = pattern * 73856093 ^ x * 19349663 ^ y * 83492791
          (((h * 2654435761L) >>> 24) & 0xff).toByte
        }
        // one-pixel perturbation: enough to change the bytes, small
        // enough that the perceptual hash stays within a few bits
        val p = (jitter * 37) % (16 * 16)
        rgb(p * 3) = ((rgb(p * 3) & 0xff) ^ (jitter & 3)).toByte
        MediaCodec.dHash(MediaCodec.encodeBmp(16, 16, rgb)).map(h => (id, h))
      }).toDF("doc_id", "dhash")
    hammingPairs(hashes, maxHamming)
  }

  /** Pairs within `maxHamming` of each other over a (doc_id, dhash)
    * table, by the 16-bit-chunk pigeonhole (shared by the image and
    * audio fingerprints; same family as the text SimHash dedup).
    */
  private def hammingPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = hashes.select(col("doc_id"), col("dhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("dhash"), i * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("dhash"), col("chunk_idx"), col("chunk"))
    val a = chunks.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("doc_a"), col("dhash").as("h_a"))
    val b = chunks.select(col("chunk_idx").as("ci_b"), col("chunk").as("ch_b"),
      col("doc_id").as("doc_b"), col("dhash").as("h_b"))
    a.join(b, col("chunk_idx") === col("ci_b") && col("chunk") === col("ch_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Audio near-dup pairs via the energy-envelope fingerprint
    * ([[MediaCodec.audioHash]]) — the audio leg of multimodal dedup,
    * through the same pigeonhole candidate join. Clips synthesized with
    * planted near-duplicates: a pattern-keyed pseudo-random envelope
    * modulating a fixed carrier, with per-id low-amplitude noise (and a
    * volume change, which the fingerprint ignores by construction).
    */
  def audioDedup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    val hashes = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val pattern = (id % 83).toInt
        val jitter = (id / 83).toInt
        val gain = 1.0 + 0.3 * (jitter % 4) // volume must not matter
        val samples = Array.tabulate(1040) { i =>
          val w = i * 65 / 1040
          val h = pattern * 73856093 ^ w * 19349663
          val env = 0.2 + 0.8 * (((h * 2654435761L) >>> 24) & 0xff) / 255.0
          val noise = if ((i * 31 + jitter) % 997 == 0) 0.02 * (jitter % 5) else 0.0
          ((env * math.sin(2 * math.Pi * i / 16.0) + noise) * 8192 * gain).toShort
        }
        MediaCodec.audioHash(MediaCodec.encodeWav(samples, 16000)).map(h => (id, h))
      }).toDF("doc_id", "dhash")
    hammingPairs(hashes, maxHamming)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Every entry except multimodal_decode is oracle-checked (see
    // [[oracles]] — closed-form regeneration incl. Java-wrap mirroring
    // for the perceptual hashes); decode stays rows-only because its
    // JPEG branch goes through the ImageIO IDCT, which has no SQL form
    // — but its lossless slice IS oracle-checked via
    // multimodal_decode_check (integer-exact stats, hash-green).
    "multimodal_image_dedup" -> ((s: SparkSession, d: String) => imageDedup(s, d)),
    "multimodal_audio_dedup" -> ((s: SparkSession, d: String) => audioDedup(s, d)),
    "multimodal_gvid_scan" -> (multimodalGvidScan _),
    "multimodal_audio" -> (multimodalAudio _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_meta" -> (multimodalMeta _),
    "multimodal_decode" -> (multimodalDecode _),
    "multimodal_decode_check" -> (multimodalDecodeCheck _),
    "multimodal_frames" -> ((s: SparkSession, d: String) => multimodalFrames(s, d)),
  )

  /** 2^64 as a DuckDB HUGEINT literal — the modulus for mirroring Java's
    * 64-bit wrap in the perceptual-hash oracles.
    */
  private val M64 = "CAST('18446744073709551616' AS HUGEINT)"

  /** Shared tail of the perceptual-dedup oracles: all-pairs Hamming over
    * the 64-bit fingerprints (exact — the engine's 16-bit-chunk
    * pigeonhole is complete for distance <= 3, ExtSpec-style, so the
    * brute-force truth equals the bucketed output).
    */
  private val hammingTail =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
      |FROM hv a JOIN hv b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.h, b.h)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  val oracles: Map[String, String] = Map(
    // Java int32/int64 wrap mirrored with %-arithmetic (the HUGEINT
    // technique): pattern*73856093 wraps int32 (sign via the +2^31
    // mod-2^32 shift); the XOR runs in unsigned-32 space; the *2654435761
    // product of the sign-extended value wraps int64 via HUGEINT mod; the
    // >>> 24 is floor-division of the unsigned-64 view. After the sample
    // truncation everything is INTEGER (energy compares are integer-sum
    // compares), so no fp sensitivity; Math.sin/libm agreement at the
    // trunc boundary verified bit-exact against the Spark dump.
    "multimodal_audio_dedup" ->
      s"""WITH ids AS (
         |  SELECT doc_id, doc_id % 83 AS pattern, doc_id // 83 AS jitter
         |  FROM documents),
         |pw AS (
         |  SELECT DISTINCT pattern, w FROM (SELECT DISTINCT pattern FROM ids), unnest(range(65)) AS t(w)),
         |h1 AS (
         |  SELECT pattern, w,
         |    ((pattern * 73856093 + 2147483648) % 4294967296) - 2147483648 AS p1,
         |    w * 19349663 AS p2
         |  FROM pw),
         |h2 AS (
         |  SELECT pattern, w,
         |    xor(p1 + CASE WHEN p1 < 0 THEN 4294967296 ELSE 0 END, p2) AS hu
         |  FROM h1),
         |h3 AS (
         |  SELECT pattern, w,
         |    hu - CASE WHEN hu >= 2147483648 THEN 4294967296 ELSE 0 END AS hs
         |  FROM h2),
         |envt AS (
         |  SELECT pattern, w,
         |    0.2 + 0.8 * CAST((((CAST(hs * 2654435761 AS HUGEINT) % $M64) + $M64) % $M64)
         |      // 16777216 % 256 AS BIGINT) / 255.0 AS env
         |  FROM h3),
         |sm AS (
         |  SELECT d.doc_id, t.i // 16 AS w,
         |    abs(CAST(trunc(
         |      (e.env * sin(2*pi()*t.i/16.0)
         |        + CASE WHEN (t.i*31 + d.jitter) % 997 = 0 THEN 0.02 * (d.jitter % 5) ELSE 0.0 END)
         |      * 8192 * (1.0 + 0.3 * (d.jitter % 4))
         |    ) AS INTEGER)) AS a
         |  FROM ids d, unnest(range(1040)) AS t(i)
         |  JOIN envt e ON e.pattern = d.pattern AND e.w = t.i // 16),
         |en AS (SELECT doc_id, w, sum(a) AS s FROM sm GROUP BY doc_id, w),
         |hv AS (
         |  SELECT e1.doc_id,
         |    CAST(sum(CASE WHEN e1.s < e2.s THEN CAST(CAST(1 AS UBIGINT) << CAST(e1.w AS INTEGER) AS HUGEINT) ELSE 0 END) AS UBIGINT) AS h
         |  FROM en e1 JOIN en e2 ON e1.doc_id = e2.doc_id AND e2.w = e1.w + 1
         |  WHERE e1.w < 64
         |  GROUP BY e1.doc_id)
         |$hammingTail""".stripMargin,
    // Same wrap-mirroring; the texture hash keys each pixel (all three
    // channels equal, so the image is grayscale before the one-channel
    // perturbation), the nearest-neighbor 9x8 resize is pure index
    // arithmetic (sx = rx*16//9, sy = 2*ry), and every dHash bit is an
    // integer luma comparison — the whole oracle is integer-exact.
    "multimodal_image_dedup" ->
      s"""WITH ids AS (
         |  SELECT doc_id, doc_id % 83 AS pattern, doc_id // 83 AS jitter
         |  FROM documents),
         |spx AS (
         |  SELECT pattern, px,
         |    hu - CASE WHEN hu >= 2147483648 THEN 4294967296 ELSE 0 END AS hs
         |  FROM (
         |    SELECT pattern, px,
         |      xor(xor((pattern * 73856093) % 4294967296, (px % 16) * 19349663),
         |          (px // 16) * 83492791) AS hu
         |    FROM (SELECT DISTINCT pattern FROM ids), unnest(range(256)) AS t(px))),
         |pv AS (
         |  SELECT pattern, px,
         |    CAST((((CAST(hs * 2654435761 AS HUGEINT) % $M64) + $M64) % $M64)
         |      // 16777216 % 256 AS BIGINT) AS v
         |  FROM spx),
         |grid AS (
         |  SELECT d.doc_id, g.rx, g.ry, (2*g.ry)*16 + (g.rx*16)//9 AS px
         |  FROM ids d, (SELECT rx, ry FROM unnest(range(9)) AS a(rx), unnest(range(8)) AS b(ry)) g),
         |lum AS (
         |  SELECT g.doc_id, g.rx, g.ry,
         |    (xor(p.v, CASE WHEN g.px = (d.jitter*37) % 256 THEN d.jitter % 4 ELSE 0 END)) * 299
         |      + p.v * 587 + p.v * 114 AS l
         |  FROM grid g
         |  JOIN ids d ON d.doc_id = g.doc_id
         |  JOIN pv p ON p.pattern = d.pattern AND p.px = g.px),
         |hv AS (
         |  SELECT a.doc_id,
         |    CAST(sum(CASE WHEN a.l < b.l
         |      THEN CAST(CAST(1 AS UBIGINT) << CAST(a.ry*8 + a.rx AS INTEGER) AS HUGEINT)
         |      ELSE 0 END) AS UBIGINT) AS h
         |  FROM lum a JOIN lum b ON a.doc_id = b.doc_id AND b.ry = a.ry AND b.rx = a.rx + 1
         |  WHERE a.rx < 8
         |  GROUP BY a.doc_id)
         |$hammingTail""".stripMargin,
    // The lossless decode slice regenerates closed-form: WAV samples as
    // CAST(trunc(sin(2*pi()*i*c/64)*16384) AS BIGINT) (same
    // left-associated multiply order as the Scala expression; integer
    // after the trunc, so no fp sensitivity survives into the sums),
    // BMP/PNG channel sums as modular gradients (byte j of the source
    // image is (j+id)%256 resp. (7j+id)%256, and the codecs are
    // lossless, so decoded channel ch of pixel p is (3p+ch+id)%256
    // resp. (21p+7ch+id)%256). Container sizes are canonical for WAV
    // (44+2·512=1068) and BMP (54+48·16=822); PNG's IDAT is
    // zlib-engine-local, hence the -1 sentinel (likewise s2 for
    // audio's two-stat rows). Branch carve-out mirrors the query
    // dispatch: audio id%3=0, JPEG id%6=4 (excluded), BMP the REST of
    // id%3=1 (= id%6=1), PNG id%3=2.
    "multimodal_decode_check" ->
      """WITH wav AS (
        |  SELECT doc_id, 'wav' AS kind, CAST(1068 AS INTEGER) AS n_bytes,
        |    CAST(16000 AS BIGINT) AS d0, CAST(512 AS BIGINT) AS d1,
        |    CAST(sum(abs(raw)) AS BIGINT) AS s0,
        |    CAST(sum(raw*raw) AS BIGINT) AS s1, CAST(-1 AS BIGINT) AS s2
        |  FROM (SELECT doc_id,
        |          CAST(trunc(sin(2*pi()*i*(1 + doc_id % 32)/64)*16384) AS BIGINT) AS raw
        |        FROM documents, unnest(range(512)) AS t(i)
        |        WHERE doc_id % 3 = 0)
        |  GROUP BY doc_id),
        |bmp AS (
        |  SELECT doc_id, 'bmp' AS kind, CAST(822 AS INTEGER) AS n_bytes,
        |    CAST(16 AS BIGINT) AS d0, CAST(16 AS BIGINT) AS d1,
        |    CAST(sum((3*p + 0 + doc_id) % 256) AS BIGINT) AS s0,
        |    CAST(sum((3*p + 1 + doc_id) % 256) AS BIGINT) AS s1,
        |    CAST(sum((3*p + 2 + doc_id) % 256) AS BIGINT) AS s2
        |  FROM documents, unnest(range(256)) AS t(p)
        |  WHERE doc_id % 6 = 1
        |  GROUP BY doc_id),
        |png AS (
        |  SELECT doc_id, 'png' AS kind, CAST(-1 AS INTEGER) AS n_bytes,
        |    CAST(8 AS BIGINT) AS d0, CAST(8 AS BIGINT) AS d1,
        |    CAST(sum((21*p + 0 + doc_id) % 256) AS BIGINT) AS s0,
        |    CAST(sum((21*p + 7 + doc_id) % 256) AS BIGINT) AS s1,
        |    CAST(sum((21*p + 14 + doc_id) % 256) AS BIGINT) AS s2
        |  FROM documents, unnest(range(64)) AS t(p)
        |  WHERE doc_id % 3 = 2
        |  GROUP BY doc_id)
        |SELECT doc_id, kind, n_bytes, d0, d1, s0, s1, s2
        |FROM (SELECT * FROM wav UNION ALL SELECT * FROM bmp UNION ALL SELECT * FROM png)
        |ORDER BY doc_id""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id,
        |       CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |       source AS origin
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The whole tone->PCM->stats pipeline is a closed form of doc_id, so
    // the "binary decoder" is oracle-able after all: samples regenerate as
    // CAST(trunc(sin(2*pi()*i*c/64)*amp) AS INT) — same left-associated
    // multiply order as the Scala expression, Math.PI == pi() bitwise,
    // and Math.sin agrees with libm on every (i,c) this corpus produces
    // (verified bit-exact over all 124 (cycles, amp) combos; .toShort is
    // trunc-toward-zero, never wrapping at amp <= 16384). Zero crossings
    // mirror the decoder's sign-transition walk via lag(); round_even
    // mirrors math.rint (half-to-even). The rms sum is a list_reduce
    // left fold in sample order — the decoder's sequential accumulation
    // exactly, independent of DuckDB's aggregation parallelism.
    "multimodal_audio" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + (doc_id % 31) AS c, 4096 * (1 + (doc_id % 4)) AS amp
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, i, CAST(trunc(sin(2*pi()*i*c/64)*amp) AS INTEGER) AS raw
        |  FROM d, unnest(range(512)) AS r(i)),
        |w AS (
        |  SELECT doc_id, raw, i, lag(raw) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM s),
        |a AS (
        |  SELECT doc_id,
        |    sqrt(list_reduce(list(pow(raw/32768.0, 2) ORDER BY i), (x, y) -> x + y)/512) AS rms,
        |    max(abs(raw/32768.0)) AS peak,
        |    sum(CASE WHEN i > 0 AND ((prev >= 0 AND raw < 0) OR (prev < 0 AND raw >= 0))
        |        THEN 1 ELSE 0 END) AS crossings
        |  FROM w GROUP BY doc_id)
        |SELECT doc_id, CAST(16000 AS INTEGER) AS sample_rate, CAST(512 AS INTEGER) AS n_samples,
        |  round_even(512.0/16000*10000, 0)/10000 AS duration_s,
        |  round_even(rms*10000, 0)/10000 AS rms,
        |  round_even(crossings/511.0*10000, 0)/10000 AS zcr,
        |  round_even(peak*10000, 0)/10000 AS peak
        |FROM a ORDER BY doc_id""".stripMargin,
    // Frame sampling: the BMP roundtrip is lossless, so per-frame channel
    // sums regenerate as modular arithmetic over the gradient generator
    // (byte i of frame f is (i*3 + id + 11f) % 256, i.e. channel ch of
    // pixel p is (9p + 3ch + id + 11f) % 256); luma mirrors the Rec.601
    // left-associated combination and rint -> round_even.
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id, 4 + (doc_id % 13) AS nf FROM documents),
        |fr AS (SELECT doc_id, nf, f FROM d, unnest(range(nf)) AS t(f) WHERE f % 4 = 0),
        |px AS (SELECT doc_id, nf, f, p FROM fr, unnest(range(64)) AS t(p)),
        |ch AS (SELECT doc_id, nf, f,
        |        sum((9*p + 0 + doc_id + 11*f) % 256) AS sr,
        |        sum((9*p + 3 + doc_id + 11*f) % 256) AS sg,
        |        sum((9*p + 6 + doc_id + 11*f) % 256) AS sb
        |       FROM px GROUP BY 1,2,3)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx, CAST(nf AS INTEGER) AS n_frames,
        |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  round_even((0.299*(sr/16320.0) + 0.587*(sg/16320.0) + 0.114*(sb/16320.0))*10000, 0)/10000 AS mean_lum
        |FROM ch ORDER BY doc_id, frame_idx""".stripMargin,
    // Same generator through the DSv2 source's per-file rollup. The
    // per-file average is a list_reduce left fold in frame order — the
    // reader emits frames in order into a single partition per file, so
    // Spark's partial-sum order IS frame order; a plain avg() here was
    // observed flipping a .5-boundary file (doc030) with DuckDB's
    // aggregation parallelism. Spark round (HALF_UP) == DuckDB round for
    // positive values.
    "multimodal_gvid_scan" ->
      """WITH ids AS (SELECT unnest(range(50)) AS id),
        |fr AS (SELECT id, 4 + (id % 13) AS nf, f
        |       FROM ids, unnest(range(4 + (id % 13))) AS t(f)),
        |px AS (SELECT id, nf, f, p FROM fr, unnest(range(64)) AS t(p)),
        |ch AS (SELECT id, nf, f,
        |        sum((9*p + 0 + id + 11*f) % 256) AS sr,
        |        sum((9*p + 3 + id + 11*f) % 256) AS sg,
        |        sum((9*p + 6 + id + 11*f) % 256) AS sb
        |       FROM px GROUP BY 1,2,3),
        |perfr AS (SELECT id, nf, f,
        |        round_even((0.299*(sr/16320.0) + 0.587*(sg/16320.0) + 0.114*(sb/16320.0))*10000, 0)/10000 AS lum4
        |       FROM ch),
        |agg AS (SELECT id, max(nf) AS nf, count(*) AS n_rows,
        |        list_reduce(list(lum4 ORDER BY f), (x, y) -> x + y) AS s
        |        FROM perfr GROUP BY id)
        |SELECT printf('doc%03d.gvid', CAST(id AS INTEGER)) AS file,
        |  CAST(nf AS INTEGER) AS n_frames, n_rows,
        |  round(s / n_rows, 4) AS avg_lum
        |FROM agg ORDER BY file""".stripMargin,
    // The histogram stub over text-byte payloads is pure byte counting:
    // f0 = fraction of UTF-8 bytes with low nibble 0 (bucket 0 of the
    // mod-16 histogram), computed in FLOAT like the stub's float
    // division before the double widening. Low nibbles are the 2nd hex
    // digit of each byte pair.
    "multimodal_features" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, media_type, n,
        |    regexp_replace(hx, '(.)(.)', '\2', 'g') AS lows
        |  FROM t),
        |f AS (
        |  SELECT doc_id, media_type, n,
        |    CAST(len(lows) - len(replace(lows, '0', '')) AS INTEGER) AS cnt
        |  FROM c)
        |SELECT doc_id, media_type, CAST(n AS INTEGER) AS n_bytes,
        |  CAST(CASE media_type WHEN 'video' THEN greatest(n // 64, 1)
        |       WHEN 'audio' THEN greatest(n // 256, 1) ELSE 1 END AS INTEGER) AS n_frames,
        |  round(CAST(CAST(cnt AS FLOAT) / CAST(greatest(n, 1) AS FLOAT) AS DOUBLE), 4) AS f0
        |FROM f ORDER BY doc_id""".stripMargin,
  )
}
