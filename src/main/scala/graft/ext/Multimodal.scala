package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, batch-shaped decode / feature-extract / resize /
  * frame-sample operators.
  *
  * Image decode is REAL: [[Codec]] runs `javax.imageio.ImageIO` (PNG /
  * JPEG / BMP / GIF readers ship in the standard JDK) inside the
  * `mapPartitions` batch, emitting true dimensions and pixel-derived
  * features. Payloads that no installed reader accepts (e.g. the text
  * fixtures, or audio/video formats that would need external codecs in
  * a real deployment) fall back to a deterministic byte-derived
  * placeholder so the pipeline shape stays total. The batch iteration
  * shape (`mapPartitions` over row batches, the JVM analog of
  * `mapInPandas`), partitioning, and metadata propagation are what
  * matter at 100 TB: decode runs inside the executor per partition
  * batch, and payloads never pass through the driver.
  */
object Multimodal {

  /** PNG-encode through an EXPLICIT in-memory image stream. With
    * ImageIO's default `useCache=true`, `ImageIO.write(img, "png",
    * outputStream)` spools every encode through a
    * `FileCacheImageOutputStream` — a fresh TEMP FILE created,
    * written, read back and deleted PER IMAGE — so a 30k-frame
    * fixture pass paid 30k temp-file round trips (the decode path
    * already avoided this with an explicit
    * `MemoryCacheImageInputStream`). Wrapping the target stream in a
    * `MemoryCacheImageOutputStream` is the per-call-site version of
    * that fix: same writer, identical bytes, no temp file — and no
    * mutation of the JVM-GLOBAL `ImageIO.setUseCache` flag, which
    * would silently change cache strategy for any co-resident code
    * sharing the JVM (an embedding application's large-image encodes
    * would lose disk-backed streaming). */
  private[ext] def pngEncode(img: java.awt.image.RenderedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      try { writer.setOutput(ios); writer.write(img) }
      finally writer.dispose()
    } finally ios.close() // flushes the cache into bos
    bos.toByteArray
  }

  /** Attach a binary payload + metadata struct to a text column — the
    * fixture stand-in for real media bytes. */
  def withPayload(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("payload", encode(col(textCol), "UTF-8"))
      .withColumn("media_meta", struct(
        length(encode(col(textCol), "UTF-8")).as("n_bytes"),
        sha2(encode(col(textCol), "UTF-8"), 256).as("sha256"),
        lit("application/octet-stream").as("mime")))

  case class MediaRow(id: Long, payload: Array[Byte])
  case class MediaFeatures(id: Long, width: Int, height: Int,
                           features: Array[Float])

  /** Real pure-JVM PNG header decode — no codec library needed: the
    * PNG spec fixes the 8-byte signature, then the IHDR chunk (4-byte
    * length + "IHDR" type at offsets 8..15) with width and height as
    * big-endian u32 at offsets 16 and 20. */
  object PngHeader {
    private val Signature: Array[Byte] =
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    /** (width, height) if the payload starts with a valid PNG
      * signature + IHDR chunk header; None otherwise. */
    def dims(payload: Array[Byte]): Option[(Int, Int)] =
      if (payload.length >= 24 &&
          payload.view.slice(0, 8).sameElements(Signature) &&
          payload.view.slice(12, 16)
            .sameElements("IHDR".getBytes("US-ASCII"))) {
        val bb = java.nio.ByteBuffer.wrap(payload, 16, 8)
        Some((bb.getInt, bb.getInt))
      } else None

    /** Minimal PNG signature + IHDR prefix for the given dimensions
      * (spec fixtures plant these payloads). */
    def prefix(width: Int, height: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(24)
      bb.put(Signature).putInt(13).put("IHDR".getBytes("US-ASCII"))
        .putInt(width).putInt(height)
      bb.array()
    }
  }

  /** Real image codec over `javax.imageio` (pure JDK — PNG / JPEG /
    * BMP / GIF readers, zero external dependencies). Decode order:
    *
    *   1. full `ImageIO.read` → true dimensions + pixel features;
    *   2. payload carries a valid PNG signature + IHDR but isn't a
    *      complete image (truncated upload) → true header dimensions
    *      via [[PngHeader]], byte-derived features;
    *   3. anything else (text fixtures, formats needing external
    *      codecs) → deterministic byte-derived placeholder.
    */
  object Codec {
    /** Feature vector from decoded pixels: slots 0-2 are the mean
      * R/G/B (0..1); remaining slots are mean luminance over that many
      * vertical bands — a crude but genuinely pixel-derived embedding
      * with a fixed shape for any image size. */
    private[ext] def pixelFeatures(img: java.awt.image.BufferedImage,
                                   dim: Int): Array[Float] = {
      val (w, h) = (img.getWidth, img.getHeight)
      val n = w.toLong * h
      val feats = new Array[Float](dim)
      val bands = math.max(dim - 3, 0)
      val bandSum = new Array[Double](math.max(bands, 1))
      var (sr, sg, sb) = (0.0, 0.0, 0.0)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
          sr += r; sg += g; sb += b
          if (bands > 0) bandSum(math.min(x * bands / w, bands - 1)) +=
            0.299 * r + 0.587 * g + 0.114 * b
          x += 1
        }
        y += 1
      }
      if (dim > 0) feats(0) = (sr / n / 255.0).toFloat
      if (dim > 1) feats(1) = (sg / n / 255.0).toFloat
      if (dim > 2) feats(2) = (sb / n / 255.0).toFloat
      var i = 0
      while (i < bands) {
        val bw = (i + 1) * w / bands - i * w / bands // columns in band i
        if (bw > 0) feats(3 + i) = (bandSum(i) / (bw.toLong * h) / 255.0).toFloat
        i += 1
      }
      feats
    }

    private def fallback(payload: Array[Byte], dim: Int): (Int, Int, Array[Float]) = {
      val (w, h) = PngHeader.dims(payload).getOrElse((
        16 + (if (payload.isEmpty) 0 else math.abs(payload(0).toInt) % 64),
        16 + (if (payload.length < 2) 0 else math.abs(payload(1).toInt) % 64)))
      val feats = Array.tabulate(dim) { i =>
        if (payload.isEmpty) 0f
        else payload(i % payload.length).toFloat / 128f
      }
      (w, h, feats)
    }

    /** Max pixels a payload may declare before we refuse to decode it
      * fully (64 MPix ≈ 256 MB of INT_RGB): an untrusted corpus WILL
      * contain decompression bombs — a few-KB payload whose header
      * declares enormous dimensions. `ImageIO.read` allocates
      * width×height up front and the resulting `OutOfMemoryError`
      * is not an `Exception` — it would kill the executor, not the
      * row. So dimensions are read from the HEADER first (readers
      * parse only metadata for `getWidth`/`getHeight`) and oversized
      * payloads take the no-pixel fallback. */
    private[ext] val MaxPixels: Long = 64L * 1024 * 1024

    /** One-pass guarded read: parse the header with the registered
      * reader and, ONLY if the declared dims fit [[MaxPixels]], decode
      * pixels with the SAME reader — one codec setup per payload (the
      * per-row hot path of an image-corpus scan) instead of a header
      * parse followed by a fresh `ImageIO.read` that re-parses it.
      *  - `Right(img)`          in-budget, pixels decoded
      *  - `Left(Some((w, h)))`  over-budget bomb: true header dims,
      *                          no pixel allocation
      *  - `Left(None)`          no registered reader, malformed
      *                          header, or zero/negative declared dims
      */
    private[ext] def guardedRead(
        payload: Array[Byte],
        maxPixels: Long = MaxPixels): Either[Option[(Int, Int)], java.awt.image.BufferedImage] = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) Left(None)
        else {
          val r = readers.next()
          try {
            r.setInput(iis, true, true)
            val w = r.getWidth(0)  // header-only: no pixel allocation
            val h = r.getHeight(0)
            if (w <= 0 || h <= 0) Left(None) // zero/negative declared dims: not real dims
            else if (w.toLong * h > maxPixels) Left(Some((w, h)))
            else Right(r.read(0))
          } finally r.dispose()
        }
      } catch { case _: Exception => Left(None) }
      finally iis.close()
    }

    /** Decode a payload into (width, height, feature vector). Payloads
      * whose header declares more than [[MaxPixels]] are NOT pixel-
      * decoded: they report their true header dimensions with
      * byte-derived features (the truncated-upload fallback shape).
      * Malformed headers (no reader, zero/negative dims) take the
      * plain fallback with its synthetic nonzero dims. `maxPixels`
      * is overridable so specs can exercise the budget boundary with
      * small REAL images instead of multi-hundred-MB fixtures. */
    def decode(payload: Array[Byte], dim: Int = 8,
               maxPixels: Long = MaxPixels): (Int, Int, Array[Float]) =
      try {
        guardedRead(payload, maxPixels) match {
          case Right(img) if img != null =>
            (img.getWidth, img.getHeight, pixelFeatures(img, dim))
          case Left(Some((w, h))) =>
            val (_, _, feats) = fallback(payload, dim); (w, h, feats)
          case _ => fallback(payload, dim)
        }
      } catch { case _: Exception => fallback(payload, dim) }

    /** Difference hash (dHash) — the standard perceptual image
      * fingerprint for near-duplicate detection (Krawetz's dHash: a
      * 9×8 luminance grid, one bit per horizontal neighbor compare):
      * robust to re-encoding, small pixel noise, and resizing, because
      * it keys on luminance GRADIENTS over a fixed coarse grid rather
      * than exact bytes. Returns None for payloads no reader accepts
      * and for over-budget decompression bombs — a perceptual hash of
      * a placeholder would manufacture false "duplicates" between
      * unrelated non-image payloads.
      *
      * Exactness: everything is integer arithmetic — per-cell
      * luminance sums (299r + 587g + 114b per pixel) compared as
      * rationals (`sumA·cntB > sumB·cntA`), so the hash is identical
      * across JVMs/platforms (no float rounding), and for an exactly
      * 9×8 input the grid is the pixels themselves (what the planted
      * oracle fixtures replay in SQL). Grid cells partition the image
      * by `gx = x·9/w`, `gy = y·8/h` (integer division) — an area
      * average, so an image upscaled by integer block replication
      * hashes IDENTICALLY to its original (spec-pinned). */
    def dHash64(payload: Array[Byte],
                maxPixels: Long = MaxPixels): Option[Long] =
      try {
        guardedRead(payload, maxPixels) match {
          case Right(img) if img != null => Some(dHashOf(img))
          case _ => None
        }
      } catch { case _: Exception => None }

    private[ext] def dHashOf(img: java.awt.image.BufferedImage): Long = {
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = Array.ofDim[Long](8, 9)
      val cnts = Array.ofDim[Long](8, 9)
      var y = 0
      while (y < h) {
        val gy = math.min(y * 8 / h, 7)
        var x = 0
        while (x < w) {
          val gx = math.min(x * 9 / w, 8)
          val rgb = img.getRGB(x, y)
          val lum = 299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
            114L * (rgb & 0xFF)
          sums(gy)(gx) += lum
          cnts(gy)(gx) += 1
          x += 1
        }
        y += 1
      }
      // per-cell sum ≤ cells-worth of 64 MPix × 255000 ≈ 2.3e11 and
      // count ≤ ~9e5, so the cross products stay inside a Long
      var hash = 0L
      var gy = 0
      while (gy < 8) {
        var gx = 0
        while (gx < 8) {
          if (sums(gy)(gx + 1) * cnts(gy)(gx) > sums(gy)(gx) * cnts(gy)(gx + 1))
            hash |= 1L << (gy * 8 + gx)
          gx += 1
        }
        gy += 1
      }
      hash
    }

    /** Real image resize: decode, scale to (w, h) with bilinear
      * interpolation, re-encode as PNG. Non-image payloads (and
      * over-budget bombs) fall back to byte truncation/padding to w
      * bytes (the placeholder shape). */
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      try {
        val img = guardedRead(payload).getOrElse(null)
        if (img == null) java.util.Arrays.copyOf(payload, w)
        else {
          val out = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
          g.dispose()
          pngEncode(out) // memory-cached encode, no temp file
        }
      } catch { case _: Exception => java.util.Arrays.copyOf(payload, w) }
  }

  case class AudioRow(id: Long, payload: Array[Byte])

  /** `decoded` distinguishes the REAL javax.sound path from the
    * deterministic byte-derived fallback (non-audio payloads, formats
    * needing external codecs). */
  case class AudioFeatures(id: Long, sampleRate: Float, channels: Int,
                           nFrames: Long, durationSec: Float, rms: Float,
                           decoded: Boolean)

  /** Real pure-JDK audio decode: `javax.sound.sampled.AudioSystem`
    * reads WAV/AU/AIFF PCM out of the box (no external codec), so the
    * audio half of the multimodal story mirrors the image half — true
    * format metadata + signal-derived features from actual samples,
    * with the same two guards as [[Codec]]:
    *  - a FRAME BUDGET caps how much PCM is pulled from the header's
    *    declared length (the decompression-bomb analog: a header
    *    declaring hours of audio reads at most `maxFrames` frames);
    *  - payloads no installed reader accepts (MP3/FLAC would need
    *    external codecs; the text fixtures aren't audio at all) fall
    *    back to a deterministic byte-derived placeholder so the
    *    pipeline shape stays total, flagged `decoded = false`. */
  object AudioCodec {
    /** Frames actually read per payload (≈ 23 s of 44.1 kHz audio). */
    val MaxFrames: Long = 1L << 20

    private def fallback(id: Long, payload: Array[Byte]): AudioFeatures = {
      // deterministic placeholder: pseudo-RMS over raw bytes
      var sum = 0.0
      var i = 0
      while (i < payload.length) { val v = payload(i) / 128.0; sum += v * v; i += 1 }
      val rms =
        if (payload.length == 0) 0f
        else math.sqrt(sum / payload.length).toFloat
      AudioFeatures(id, 0f, 0, payload.length.toLong, 0f, rms,
        decoded = false)
    }

    /** Decode one payload. 16-bit and 8-bit PCM supported on the real
      * path; anything else the JDK reader surfaces falls back. */
    def decode(id: Long, payload: Array[Byte],
               maxFrames: Long = MaxFrames): AudioFeatures =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.BufferedInputStream(
            new java.io.ByteArrayInputStream(payload)))
        try {
          val fmt = in.getFormat
          val declared = in.getFrameLength
          val bytesPerFrame = math.max(fmt.getFrameSize, 1)
          val bits = fmt.getSampleSizeInBits
          // budget BYTES, not just frames: a crafted header can
          // declare a frame size up to Int.MaxValue (AU/AIFF carry
          // 32-bit channel counts), so frames×frameSize in Int space
          // could wrap (silently neutering the guard) or allocate
          // gigabytes per row (OutOfMemoryError is an Error — it
          // would ESCAPE the fallback catch). Long math, 64 MiB hard
          // cap — and a SINGLE frame over the cap routes to fallback
          // outright (the old floor of 1 frame let a >64 MiB frame
          // size through as one ~2 GiB allocation).
          val maxBytes = 64L << 20
          if (declared <= 0 || fmt.getSampleRate <= 0 ||
              (bits != 16 && bits != 8) ||
              bytesPerFrame > maxBytes) fallback(id, payload)
          else {
            val frames = math.min(math.min(declared, maxFrames),
              math.max(maxBytes / bytesPerFrame, 1L))
            val buf = new Array[Byte]((frames * bytesPerFrame).toInt)
            var off = 0
            var n = 0
            while (off < buf.length &&
                   { n = in.read(buf, off, buf.length - off); n > 0 })
              off += n
            val big = fmt.isBigEndian
            var sum = 0.0
            var count = 0
            if (bits == 16) {
              var i = 0
              while (i + 1 < off) {
                val lo = buf(if (big) i + 1 else i) & 0xff
                val hi = buf(if (big) i else i + 1)
                val s = ((hi << 8) | lo).toShort / 32768.0
                sum += s * s; count += 1; i += 2
              }
            } else {
              val signed = fmt.getEncoding ==
                javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
              var i = 0
              while (i < off) {
                val s = (if (signed) buf(i).toDouble
                         else (buf(i) & 0xff) - 128.0) / 128.0
                sum += s * s; count += 1; i += 1
              }
            }
            val rms =
              if (count == 0) 0f else math.sqrt(sum / count).toFloat
            AudioFeatures(id, fmt.getSampleRate, fmt.getChannels,
              declared, declared / fmt.getSampleRate, rms, decoded = true)
          }
        } finally in.close()
      } catch { case _: Exception => fallback(id, payload) }
  }

  /** Perceptual audio hashing; entry points are [[audioEnergyHashes]]
    * (frame form) and [[AudioHash.energyHash64]] (per payload). */
  object AudioHash {
    /** Number of energy windows; 64 neighbor comparisons = 64 bits. */
    val Windows = 65

    /** Perceptual audio fingerprint — the dHash idea transposed to
      * audio (a coarse energy-envelope shape hash, the first stage of
      * chromaprint-style matchers): decode PCM, split the sample
      * stream into [[Windows]] equal spans, one bit per neighboring
      * ENERGY comparison. Keys on the loudness envelope, so it
      * survives re-encoding and small sample noise. None for payloads
      * no reader accepts, non-16-bit formats, and clips shorter than
      * [[Windows]] samples — a placeholder hash would fabricate
      * matches between unrelated non-audio payloads.
      *
      * Exactness: integer sums of squared samples compared as
      * rationals (`sumA·cntB > sumB·cntA`, BigInt cross products — a
      * budget-length 16-bit clip overflows a Long there), so the hash
      * is bit-identical across platforms; for clips whose length the
      * window count divides (the oracle fixtures), counts are equal
      * and the compare degenerates to the plain integer sum compare
      * the SQL replays. */
    def energyHash64(payload: Array[Byte],
                     maxFrames: Long = AudioCodec.MaxFrames): Option[Long] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.BufferedInputStream(
            new java.io.ByteArrayInputStream(payload)))
        try {
          val fmt = in.getFormat
          val declared = in.getFrameLength
          val bytesPerFrame = math.max(fmt.getFrameSize, 1)
          val maxBytes = 64L << 20
          if (declared <= 0 || fmt.getSampleSizeInBits != 16 ||
              bytesPerFrame > maxBytes) None
          else {
            val frames = math.min(math.min(declared, maxFrames),
              math.max(maxBytes / bytesPerFrame, 1L))
            val buf = new Array[Byte]((frames * bytesPerFrame).toInt)
            var off = 0
            var r = 0
            while (off < buf.length &&
                   { r = in.read(buf, off, buf.length - off); r > 0 })
              off += r
            val big = fmt.isBigEndian
            val n = off / 2
            if (n < Windows) None
            else {
              val sums = new Array[Long](Windows)
              val cnts = new Array[Long](Windows)
              var i = 0
              while (i < n) {
                val lo = buf(if (big) 2 * i + 1 else 2 * i) & 0xff
                val hi = buf(if (big) 2 * i else 2 * i + 1)
                val s = ((hi << 8) | lo).toShort.toLong
                val w = math.min(i.toLong * Windows / n, (Windows - 1).toLong).toInt
                sums(w) += s * s
                cnts(w) += 1
                i += 1
              }
              var hash = 0L
              var w = 0
              while (w < Windows - 1) {
                // neighbor windows differ by at most one sample, so the
                // equal-count fast path covers almost every bit — the
                // BigInt cross product (overflow-proof for budget-length
                // clips) is the rare-path fallback, not a per-bit alloc
                val gt =
                  if (cnts(w) == cnts(w + 1)) sums(w + 1) > sums(w)
                  else BigInt(sums(w + 1)) * cnts(w) > BigInt(sums(w)) * cnts(w + 1)
                if (gt) hash |= 1L << w
                w += 1
              }
              Some(hash)
            }
          }
        } finally in.close()
      } catch { case _: Exception => None }
  }

  /** Batch audio decode — same executor-side `mapPartitions` batch
    * shape as [[decodeFeatures]]; payloads never pass the driver. */
  def decodeAudioFeatures(ds: Dataset[AudioRow],
                          maxFrames: Long = AudioCodec.MaxFrames)
                         (implicit spark: SparkSession): Dataset[AudioFeatures] = {
    import spark.implicits._
    ds.mapPartitions(rows =>
      rows.map(r => AudioCodec.decode(r.id, r.payload, maxFrames)))
  }

  /** Batch audio perceptual hashing — the audio sibling of
    * [[imageDHashes]]: appends a nullable `ahash` LONG column from
    * [[AudioHash.energyHash64]]; null for payloads no reader decodes,
    * for non-16-bit formats, and for clips too short to window. */
  def audioEnergyHashes(df: DataFrame, payloadCol: String,
                        outCol: String = "ahash",
                        maxFrames: Long = AudioCodec.MaxFrames): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.LongType
    val outSchema = df.schema.add(outCol, LongType, nullable = true)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val payload =
          if (row.isNullAt(payloadIdx)) Array.empty[Byte]
          else row.getAs[Array[Byte]](payloadIdx)
        val h = AudioHash.energyHash64(payload, maxFrames)
        Row.fromSeq(row.toSeq :+ h.map(Long.box).orNull)
      }
    }(Encoders.row(outSchema))
  }

  /** Deterministic planted-sample WAV fixtures — the audio analog of
    * [[ImageFixture]]: 65 windows × 8 samples of 16-bit mono PCM whose
    * byte values derive from md5 (`byte k of md5("seed:w")`, sample =
    * `(byte − 128) · 256`), written as REAL RIFF/WAVE through
    * `javax.sound`, so a DuckDB oracle replays the exact
    * [[AudioHash.energyHash64]] of every fixture in SQL while the
    * Spark side genuinely encodes and decodes audio bytes. The
    * perturbation bumps two bytes of window 10 by +128 mod 256: a
    * near-duplicate whose energy hash differs in at most 2 bits
    * ({9, 10} — the only comparisons window 10 participates in). */
  object AudioFixture {
    val Windows = 65
    val SamplesPerWindow = 8

    /** 16-bit sample values (Windows × SamplesPerWindow, in order). */
    def samples(seed: Long, perturbed: Boolean): Array[Short] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until Windows).flatMap { w =>
        val dig = md.digest(s"$seed:$w".getBytes("UTF-8"))
        md.reset()
        (0 until SamplesPerWindow).map { k =>
          val base = dig(k) & 0xFF
          val bumped =
            if (perturbed && w == 10 && (k == 0 || k == 3)) (base + 128) % 256
            else base
          ((bumped - 128) * 256).toShort
        }
      }.toArray
    }

    /** RIFF/WAVE bytes: 16-bit signed little-endian mono PCM, 8 kHz. */
    def wav(pcm: Array[Short]): Array[Byte] = {
      val bytes = new Array[Byte](pcm.length * 2)
      var i = 0
      while (i < pcm.length) {
        bytes(2 * i) = (pcm(i) & 0xFF).toByte
        bytes(2 * i + 1) = ((pcm(i) >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, pcm.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(in,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** The hash the sample formula implies — what the SQL oracle
      * computes; [[AudioHash.energyHash64]] of [[wav]] must equal it
      * (spec-pinned). */
    def expectedHash(pcm: Array[Short]): Long = {
      val n = pcm.length
      val sums = new Array[Long](Windows)
      var i = 0
      while (i < n) {
        sums(math.min(i.toLong * Windows / n, Windows - 1).toInt) +=
          pcm(i).toLong * pcm(i)
        i += 1
      }
      var hash = 0L
      var w = 0
      while (w < 64) {
        if (sums(w + 1) > sums(w)) hash |= 1L << w
        w += 1
      }
      hash
    }

    /** Attach fixture WAV payloads to an id frame (executor-side batch
      * encode, mirroring [[ImageFixture.withPayloads]]). */
    def withWavPayloads(df: DataFrame, seedCol: String,
                        pertCol: String): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.BinaryType
      val outSchema = df.schema.add("payload", BinaryType, nullable = false)
      val seedIdx = df.schema.fieldIndex(seedCol)
      val pertIdx = df.schema.fieldIndex(pertCol)
      // deliberately NOT spreadForCodec: javax.sound's AudioSystem
      // serializes concurrent encodes (measured pure-JVM: 5000 WAVs
      // 0.27–0.51 s on one thread, 0.98 s across 32 — the provider
      // registry is a lock, unlike ImageIO after setUseCache(false)),
      // so fanning the frame out only adds a shuffle and contention
      // (+0.7 s on q_dedup_audio / q_stream_audio_gate when tried)
      df.mapPartitions { rows =>
        rows.map { row =>
          val payload = wav(samples(row.getLong(seedIdx),
            row.getBoolean(pertIdx)))
          Row.fromSeq(row.toSeq :+ payload)
        }
      }(Encoders.row(outSchema))
    }
  }

  /** Batch decode: mapPartitions over typed rows — the decode runs
    * inside the executor, batched per partition, mirroring the
    * `mapInPandas` batch shape. */
  def decodeFeatures(ds: Dataset[MediaRow], dim: Int = 8)
                    (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    ds.mapPartitions { rows =>
      // ImageIO's reader registry scans once per JVM; per-partition
      // codec state (e.g. reusing reader instances) would go here.
      rows.map { r =>
        val (w, h, f) = Codec.decode(r.payload, dim)
        MediaFeatures(r.id, w, h, f)
      }
    }
  }

  /** Batch perceptual hashing: appends a nullable `dhash` LONG column
    * from [[Codec.dHash64]] over the binary `payloadCol` — null for
    * payloads no reader accepts and for over-budget bombs (excluded
    * from near-dup pairing rather than fabricating matches). Same
    * executor-side `mapPartitions` batch shape as [[decodeFeatures]]:
    * payloads never pass the driver, the output per row is one long —
    * at 100 TB the corpus scans once and only `(id, dhash)` ever needs
    * to move again. */
  def imageDHashes(df: DataFrame, payloadCol: String,
                   outCol: String = "dhash",
                   maxPixels: Long = Codec.MaxPixels): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.LongType
    val outSchema = df.schema.add(outCol, LongType, nullable = true)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val payload =
          if (row.isNullAt(payloadIdx)) Array.empty[Byte]
          else row.getAs[Array[Byte]](payloadIdx)
        val h = Codec.dHash64(payload, maxPixels)
        Row.fromSeq(row.toSeq :+ h.map(Long.box).orNull)
      }
    }(Encoders.row(outSchema))
  }

  /** Per-frame perceptual hashing of VIDEO payloads: parses the GVID
    * frame container (magic + frame count + length-prefixed PNG
    * frames — the stand-in for a real codec's keyframe index, which
    * this environment lacks), SAMPLES every `stride`-th frame, decodes
    * only the sampled frames through the real `javax.imageio` path,
    * and emits one `(id, frame_idx, dhash)` row per sampled,
    * decodable frame. Frame sampling is the scale lever: a 100 TB
    * video corpus never decodes frames the temporal vote won't read,
    * and seeking is O(1) per skipped frame (length prefix — no
    * decode). Payloads that aren't GVID, truncated containers, and
    * over-budget frame counts emit NO rows (excluded from pairing
    * rather than fabricating matches); individual frames no reader
    * accepts are skipped. Same executor-side `mapPartitions` batch
    * shape as [[imageDHashes]]: payloads never pass the driver, and
    * everything downstream of this scan is `(id, int, long)`. */
  def videoFrameDHashes(df: DataFrame, payloadCol: String,
                        stride: Int = 2, maxFrames: Int = 64,
                        maxPixels: Long = Codec.MaxPixels): DataFrame =
    frameHashesWith(df, payloadCol, GvidDHash(maxFrames, maxPixels), stride)

  /** THE DECODE SEAM. Everything downstream of decode — banding,
    * pairing and temporal votes ([[graft.ext.Dedup.videoNearDups]] /
    * [[graft.ext.Dedup.videoHashMatches]]), the stored hash index
    * with its CDC maintenance, and the streaming gates — consumes
    * only the `(id…, frame_idx, hash)` rows this contract produces
    * and never touches a payload byte. Real corpora arrive in codecs
    * the bare JVM cannot decode (MP4/H.264 need native libs): a
    * production deployment implements this trait over its codec
    * stack (JNI FFmpeg, a GPU decode service, …) and plugs it into
    * [[frameHashesWith]]; nothing in the dedup layer changes.
    * [[GvidDHash]] is the sandbox instance — the repo's own seekable
    * GVID container over PNG frames, chosen so the whole chain stays
    * testable and SQL-replayable without native dependencies.
    *
    * Contract: deterministic per payload; `stride`-sampled frame
    * indices of the ORIGINAL frame numbering (so votes and oracles
    * can reason about positions); empty for undecodable, truncated,
    * or over-budget payloads — never a partial parse, never a
    * throw. */
  trait FrameHasher extends Serializable {
    /** Sampled `(frame_idx, 64-bit perceptual hash)` rows for one
      * payload; empty when the payload cannot be decoded. */
    def frameHashes(payload: Array[Byte], stride: Int): Seq[(Int, Long)]
  }

  /** The sandbox [[FrameHasher]]: GVID container parse (length-prefix
    * seek — skipped frames never decode) + per-frame PNG dHash. */
  final case class GvidDHash(maxFrames: Int = 64,
                             maxPixels: Long = Codec.MaxPixels)
      extends FrameHasher {
    require(maxFrames >= 1, s"maxFrames=$maxFrames")
    override def frameHashes(payload: Array[Byte],
                             stride: Int): Seq[(Int, Long)] =
      VideoContainer.sampledFrames(payload, stride, maxFrames)
        .flatMap { case (f, bytes) =>
          Codec.dHash64(bytes, maxPixels).map(h => (f, h))
        }
  }

  /** Per-frame perceptual hashes of a payload column through any
    * [[FrameHasher]] — the generic plumbing behind
    * [[videoFrameDHashes]] and the plug point for production codecs.
    * Output: the input's non-payload columns + `(frame_idx, dhash)`,
    * one row per sampled decodable frame; payloads the hasher
    * rejects contribute no rows. */
  def frameHashesWith(df: DataFrame, payloadCol: String,
                      hasher: FrameHasher, stride: Int = 2,
                      frameColName: String = "frame_idx"): DataFrame = {
    require(stride >= 1, s"stride=$stride")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
    val idFields = df.schema.fields.filterNot(_.name == payloadCol)
    val outSchema = StructType(idFields)
      .add(frameColName, IntegerType, nullable = false)
      .add("dhash", LongType, nullable = false)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    val keepIdx = df.schema.fields.zipWithIndex
      .filterNot(_._1.name == payloadCol).map(_._2)
    df.mapPartitions { rows =>
      rows.flatMap { row =>
        val payload =
          if (row.isNullAt(payloadIdx)) Array.empty[Byte]
          else row.getAs[Array[Byte]](payloadIdx)
        val keep = keepIdx.map(row.get).toSeq
        hasher.frameHashes(payload, stride).map { case (f, h) =>
          Row.fromSeq(keep :+ Int.box(f) :+ Long.box(h))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** The sandbox TIMED [[FrameHasher]]: GVKF container parse —
    * KEYFRAMES ONLY decode (non-key frames seek past on their length
    * prefix, exactly like GVID stride skips), each emitting
    * `(timestamp_ms, dhash)`. Keyframe selection is CONTAINER-
    * determined (the encoder marked them — real codecs' I-frames), so
    * two encodings of the same footage sample the SAME content frames
    * regardless of how insertions shifted frame indices — which is
    * what frees the drift-tolerant vote from the offset mode's
    * stride=1 requirement. `stride` is part of the [[FrameHasher]]
    * contract but has no meaning here (sampling is the keyframe
    * flag); it is ignored. */
  final case class GvkfDHash(maxFrames: Int = 64,
                             maxPixels: Long = Codec.MaxPixels)
      extends FrameHasher {
    require(maxFrames >= 1, s"maxFrames=$maxFrames")
    override def frameHashes(payload: Array[Byte],
                             stride: Int): Seq[(Int, Long)] =
      VideoContainer.keyFrames(payload, maxFrames)
        .flatMap { case (ts, bytes) =>
          Codec.dHash64(bytes, maxPixels).map(h => (ts, h))
        }
  }

  /** Per-KEYFRAME perceptual hashes of TIMED (GVKF) video payloads:
    * one `(…, ts_ms, dhash)` row per decodable keyframe — the input
    * to [[graft.ext.Dedup.videoNearDups]]' `align="time"` vote. Same
    * contract as [[videoFrameDHashes]]: non-GVKF, truncated, and
    * over-budget payloads emit NO rows; non-key frames never
    * decode. */
  def videoKeyframeDHashes(df: DataFrame, payloadCol: String,
                           maxFrames: Int = 64,
                           maxPixels: Long = Codec.MaxPixels): DataFrame =
    frameHashesWith(df, payloadCol, GvkfDHash(maxFrames, maxPixels),
      stride = 1, frameColName = "ts_ms")

  /** The GVID frame container: `"GVID"` magic, big-endian int frame
    * count, then `count` frames of big-endian int length + PNG bytes.
    * A deliberately trivial stand-in for a seekable video format —
    * what matters for the engine is that frame EXTRACTION is cheap
    * and sampled, not what codec the frames use. The TIMED variant
    * (`"GVKF"` magic) adds a per-frame header of big-endian int
    * timestamp-ms + keyframe byte before the bytes — the stand-in for
    * a real container's I-frame index + PTS. */
  object VideoContainer {
    private val Magic = Array[Byte]('G', 'V', 'I', 'D')
    private val MagicTimed = Array[Byte]('G', 'V', 'K', 'F')

    /** Pack `(timestamp_ms, isKeyframe, frameBytes)` rows as GVKF. */
    def packTimed(frames: Seq[(Int, Boolean, Array[Byte])]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.write(MagicTimed)
      out.writeInt(frames.length)
      frames.foreach { case (ts, key, f) =>
        out.writeInt(f.length)
        out.writeInt(ts)
        out.writeByte(if (key) 1 else 0)
        out.write(f)
      }
      out.flush()
      bos.toByteArray
    }

    /** Every `(timestamp_ms, frameBytes)` whose keyframe flag is set;
      * non-key frames SEEK past on the length prefix (never read into
      * memory — the GVID stride-skip discipline, with the same
      * skip-returns-0 truncation guard). Empty for non-GVKF,
      * truncated, or over-budget payloads. */
    def keyFrames(payload: Array[Byte],
                  maxFrames: Int): Seq[(Int, Array[Byte])] = {
      if (payload.length < 8 ||
          !payload.take(4).sameElements(MagicTimed)) return Nil
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(payload, 4, payload.length - 4))
      try {
        val n = in.readInt()
        if (n < 0 || n > maxFrames) return Nil
        val out = Seq.newBuilder[(Int, Array[Byte])]
        var f = 0
        while (f < n) {
          val len = in.readInt()
          if (len < 0 || len > payload.length) return Nil
          val ts = in.readInt()
          val key = in.readByte() != 0
          if (key) {
            val bytes = new Array[Byte](len)
            in.readFully(bytes)
            out += ((ts, bytes))
          } else {
            var skipped = 0L
            while (skipped < len) {
              val k = in.skip(len - skipped)
              if (k <= 0L) return Nil
              skipped += k
            }
          }
          f += 1
        }
        out.result()
      } catch {
        case _: java.io.IOException => Nil // truncated container
      } finally in.close()
    }

    def pack(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.write(Magic)
      out.writeInt(frames.length)
      frames.foreach { f => out.writeInt(f.length); out.write(f) }
      out.flush()
      bos.toByteArray
    }

    /** Every (frame_idx, frameBytes) with `frame_idx % stride == 0`;
      * empty for non-GVID, truncated, or over-budget payloads. */
    def sampledFrames(payload: Array[Byte], stride: Int,
                      maxFrames: Int): Seq[(Int, Array[Byte])] = {
      if (payload.length < 8 ||
          !payload.take(4).sameElements(Magic)) return Nil
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(payload, 4, payload.length - 4))
      try {
        val n = in.readInt()
        if (n < 0 || n > maxFrames) return Nil
        val out = Seq.newBuilder[(Int, Array[Byte])]
        var f = 0
        while (f < n) {
          val len = in.readInt()
          if (len < 0 || len > payload.length) return Nil
          if (f % stride == 0) {
            val bytes = new Array[Byte](len)
            in.readFully(bytes)
            out += ((f, bytes))
          } else {
            // ByteArrayInputStream.skip returns 0 at EOF instead of
            // throwing, so a non-positive return means the container
            // is truncated inside this skipped frame — same contract
            // as the readFully path: emit NO rows.
            var skipped = 0L
            while (skipped < len) {
              val k = in.skip(len - skipped)
              if (k <= 0L) return Nil
              skipped += k
            }
          }
          f += 1
        }
        out.result()
      } catch {
        case _: java.io.IOException => Nil // truncated container
      } finally in.close()
    }
  }

  /** Deterministic planted-frame VIDEO fixtures over
    * [[ImageFixture]]'s pixel formula: six frames per video, frame `f`
    * of video seed `v` renders pixels from seed `v*100 + f` — fully
    * replayable in SQL. The perturbed variant models a re-encoded
    * video with one replaced scene: sampled frames 0 and 2 get the
    * standard two-pixel bump (dHash moves ≤3 bits — still matches),
    * frame 4 is REPLACED with unrelated content (seed `+555555` —
    * hash lands far away), so a 2-of-3 temporal vote catches the pair
    * while a require-every-frame rule would miss it. */
  object VideoFixture {
    val FrameCount = 6

    def frameSeed(vseed: Long, f: Int, perturbed: Boolean): Long =
      if (perturbed && f == 4) vseed * 100 + f + 555555L
      else vseed * 100 + f

    def video(vseed: Long, perturbed: Boolean): Array[Byte] =
      VideoContainer.pack((0 until FrameCount).map { f =>
        ImageFixture.png(ImageFixture.pixels(
          frameSeed(vseed, f, perturbed),
          perturbed && (f == 0 || f == 2)))
      })

    /** Frame-DRIFT variant: one unrelated frame (seed
      * `vseed*100 + 777777`) is INSERTED at the front and the last
      * original frame is dropped, so every surviving original frame
      * sits one position later than in [[video]] — the ad-insert /
      * intro-bumper re-encode. Positional alignment matches ZERO
      * frames against the original; the offset vote finds all
      * `FrameCount - 1` surviving frames concentrated at offset −1. */
    def videoDrifted(vseed: Long): Array[Byte] =
      VideoContainer.pack(
        ImageFixture.png(
          ImageFixture.pixels(vseed * 100 + 777777L, false)) +:
        (0 until FrameCount - 1).map { f =>
          ImageFixture.png(ImageFixture.pixels(
            frameSeed(vseed, f, perturbed = false), false))
        })

    /** Attach fixture GVID payloads to an id frame — executor-side
      * batch encode, mirroring [[ImageFixture.withPayloads]]. */
    def withPayloads(df: DataFrame, seedCol: String,
                     pertCol: String): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.BinaryType
      val outSchema = df.schema.add("payload", BinaryType, nullable = false)
      val seedIdx = df.schema.fieldIndex(seedCol)
      val pertIdx = df.schema.fieldIndex(pertCol)
      spreadForCodec(df).mapPartitions { rows =>
        rows.map { row =>
          val payload = video(row.getLong(seedIdx), row.getBoolean(pertIdx))
          Row.fromSeq(row.toSeq :+ payload)
        }
      }(Encoders.row(outSchema))
    }

    /** TIMED (GVKF) fixture: six frames at `ts = f*1000` ms, KEYFRAMES
      * at the even positions (f ∈ {0, 2, 4} — the I-frame cadence),
      * every frame a real PNG from the same seed formula. Non-key
      * frames carry valid, decodable content on purpose: an
      * implementation that wrongly decoded them would emit extra hash
      * rows and the oracle replay (keyframes only) would catch it. */
    def timedVideo(vseed: Long): Array[Byte] =
      VideoContainer.packTimed((0 until FrameCount).map { f =>
        (f * 1000, f % 2 == 0,
          ImageFixture.png(ImageFixture.pixels(
            frameSeed(vseed, f, perturbed = false), false)))
      })

    /** Timestamp-DRIFT variant of [[timedVideo]]: a 500 ms intro
      * keyframe (unrelated seed `vseed*100 + 777777`) lands at the
      * front and every original frame's timestamp shifts +500 ms (the
      * last frame drops). Because keyframe selection is CONTENT
      * marks, both encodings still sample the SAME original frames —
      * the time vote sees all three surviving keyframes concentrate
      * at delta +500 ms, with no stride requirement; timestamp
      * EQUALITY matching finds nothing. */
    def timedVideoDrifted(vseed: Long): Array[Byte] =
      VideoContainer.packTimed(
        (0, true,
          ImageFixture.png(ImageFixture.pixels(vseed * 100 + 777777L, false))) +:
        (0 until FrameCount - 1).map { f =>
          (f * 1000 + 500, f % 2 == 0,
            ImageFixture.png(ImageFixture.pixels(
              frameSeed(vseed, f, perturbed = false), false)))
        })

    /** [[timedVideo]] payloads attached executor-side. */
    def withTimedPayloads(df: DataFrame, seedCol: String): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.BinaryType
      val outSchema = df.schema.add("payload", BinaryType, nullable = false)
      val seedIdx = df.schema.fieldIndex(seedCol)
      spreadForCodec(df).mapPartitions { rows =>
        rows.map { row =>
          Row.fromSeq(row.toSeq :+ timedVideo(row.getLong(seedIdx)))
        }
      }(Encoders.row(outSchema))
    }

    /** [[timedVideoDrifted]] payloads attached executor-side. */
    def withTimedDriftedPayloads(df: DataFrame, seedCol: String): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.BinaryType
      val outSchema = df.schema.add("payload", BinaryType, nullable = false)
      val seedIdx = df.schema.fieldIndex(seedCol)
      spreadForCodec(df).mapPartitions { rows =>
        rows.map { row =>
          Row.fromSeq(row.toSeq :+ timedVideoDrifted(row.getLong(seedIdx)))
        }
      }(Encoders.row(outSchema))
    }

    /** [[videoDrifted]] payloads attached executor-side — the
      * insert-one-drop-one re-encode fixture for the offset vote. */
    def withDriftedPayloads(df: DataFrame, seedCol: String): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.BinaryType
      val outSchema = df.schema.add("payload", BinaryType, nullable = false)
      val seedIdx = df.schema.fieldIndex(seedCol)
      spreadForCodec(df).mapPartitions { rows =>
        rows.map { row =>
          Row.fromSeq(row.toSeq :+ videoDrifted(row.getLong(seedIdx)))
        }
      }(Encoders.row(outSchema))
    }
  }

  /** Deterministic planted-pixel image fixtures — the multimodal
    * analog of the unicode zoo: 9×8 grayscale PNGs whose pixel
    * luminances derive from md5 (`lum(seed, x, y)` = hex pair `x` of
    * `md5("seed:y")`, mod-256 after perturbation), so a DuckDB oracle
    * can replay the exact [[Codec.dHash64]] value of every fixture in
    * SQL while the Spark side REALLY encodes and decodes PNG bytes
    * through `javax.imageio`. The perturbation bumps two pixels —
    * (0,0) and (4,3) — by +64 mod 256: a near-duplicate whose dHash
    * differs in at most 3 bits ({0, 27, 28} — the only comparisons
    * those pixels participate in), inside the default pairing budget,
    * with enough movement that most planted pairs land at hamming
    * 1-2 rather than 0. */
  object ImageFixture {
    val GridW = 9
    val GridH = 8

    /** Luminance grid (GridH rows × GridW cols), values 0..255. */
    def pixels(seed: Long, perturbed: Boolean): Array[Array[Int]] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(GridH) { y =>
        val dig = md.digest(s"$seed:$y".getBytes("UTF-8"))
        md.reset()
        Array.tabulate(GridW) { x =>
          val base = dig(x) & 0xFF
          val bump =
            if (perturbed && ((x == 0 && y == 0) || (x == 4 && y == 3))) 64
            else 0
          (base + bump) % 256
        }
      }
    }

    /** PNG-encode a luminance grid as a real grayscale RGB image. */
    def png(lums: Array[Array[Int]]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        GridW, GridH, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < GridH) {
        var x = 0
        while (x < GridW) {
          val v = lums(y)(x)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      pngEncode(img) // memory-cached encode, no temp file
    }

    /** The dHash the formula implies — what the SQL oracle computes;
      * [[Codec.dHash64]] of [[png]] must equal it (spec-pinned). */
    def expectedDHash(lums: Array[Array[Int]]): Long = {
      var hash = 0L
      var gy = 0
      while (gy < GridH) {
        var gx = 0
        while (gx < GridW - 1) {
          if (lums(gy)(gx + 1) > lums(gy)(gx)) hash |= 1L << (gy * 8 + gx)
          gx += 1
        }
        gy += 1
      }
      hash
    }

    /** Attach fixture PNG payloads to an id frame: each row's image
      * seeds from `seedCol`, perturbed where `pertCol` is true.
      * Executor-side batch encode (payload bytes never pass the
      * driver), mirroring [[imageDHashes]]. */
    def withPayloads(df: DataFrame, seedCol: String,
                     pertCol: String): DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.BinaryType
      val outSchema = df.schema.add("payload", BinaryType, nullable = false)
      val seedIdx = df.schema.fieldIndex(seedCol)
      val pertIdx = df.schema.fieldIndex(pertCol)
      spreadForCodec(df).mapPartitions { rows =>
        rows.map { row =>
          val payload = png(pixels(row.getLong(seedIdx), row.getBoolean(pertIdx)))
          Row.fromSeq(row.toSeq :+ payload)
        }
      }(Encoders.row(outSchema))
    }
  }

  /** Spread an id frame across the cores before a per-row codec pass
    * (fixture PNG/WAV encode + the decode that consumes it): the
    * fixture id frames inherit the ONE partition of the single-file
    * documents scan, so the whole encode+decode chain ran serially on
    * one task while the other cores idled (measured 2.5 s → 1.1 s for
    * the 5000-image corpus at sf0.1). Explicit `defaultParallelism`
    * (= total cores on a cluster) so AQE cannot coalesce the tiny
    * exchange back to one task; the shuffled rows are (id, seed,
    * bool) — a few bytes each — and every payload stays deterministic
    * per row, so placement is value-invisible. */
  private def spreadForCodec(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
