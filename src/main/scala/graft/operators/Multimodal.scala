package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: images / audio / video ride through the
  * engine as opaque `binary` columns plus typed metadata, and per-asset
  * compute (decode, resize, feature-extract, frame-sample) runs as a
  * partition-mapped batch function over the binary payloads.
  *
  * Image decode is REAL for the formats the JDK ships codecs for
  * (PNG/JPEG/GIF/BMP via `javax.imageio` — header-only dimension reads, no
  * full raster decode); video frame decode is REAL for MJPEG-in-AVI (a
  * RIFF chunk walk plus the JDK's JPEG codec per sampled frame — see
  * [[videoFrames]]); payloads no installed codec claims fall back to a
  * deterministic stub so other bytes still flow through the same
  * plumbing with honest `format = "unknown"` metadata. At cluster scale
  * the input would be `spark.read.format("binaryFile")` over an object
  * store with `maxPartitionBytes` tuned so a partition's payloads fit
  * executor memory, and the decode function below is the `mapPartitions`
  * body each executor runs.
  */
object Multimodal {

  /** A decoded-asset record. Images fill width/height; audio fills
    * sample_rate/channels/duration_ms (0 where the modality doesn't apply,
    * -1 for an audio duration the header doesn't state). `checksum` is
    * the payload's md5 hex digest — the house content-hash convention
    * (same digest DuckDB's `md5()` computes over the UTF-8 bytes, which
    * is what gives `mm_decode` its exact oracle). */
  case class AssetMeta(asset_id: Long, n_bytes: Int, format: String,
                       width: Int, height: Int,
                       sample_rate: Int, channels: Int, duration_ms: Long,
                       checksum: String)

  private def md5Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val sb = new java.lang.StringBuilder(32)
    d.foreach(b => sb.append(Character.forDigit((b >> 4) & 0xF, 16))
      .append(Character.forDigit(b & 0xF, 16)))
    sb.toString
  }

  /** Fallback for payloads neither ImageIO nor the sampled-audio readers
    * recognize (true video stays here — the JDK ships no video codec):
    * deterministic pseudo-dimensions from md5-prefix integers (the house
    * md5-prefix idiom: 7 hex chars = a 28-bit non-negative int, so `%`
    * agrees across engines), format flagged `unknown` so downstream
    * filters can separate real decodes. */
  def decodeStub(assetId: Long, bytes: Array[Byte]): AssetMeta = {
    val d = md5Hex(bytes)
    AssetMeta(
      asset_id = assetId,
      n_bytes = bytes.length,
      format = "unknown",
      width = 64 + (java.lang.Long.parseLong(d.substring(0, 7), 16) % 1024).toInt,
      height = 64 + (java.lang.Long.parseLong(d.substring(7, 14), 16) % 1024).toInt,
      sample_rate = 0, channels = 0, duration_ms = 0L,
      checksum = d)
  }

  /** Magic-byte sniff for the three container types the JDK's sampled-audio
    * readers handle — all declare themselves in the first 12 bytes (WAV:
    * "RIFF"…"WAVE", AIFF: "FORM"…"AIFF"/"AIFC", AU: ".snd"). Gating
    * [[decodeAudio]] on this keeps non-audio payloads off the
    * exception-per-provider probe path inside `AudioSystem`, which is pure
    * overhead when most of a corpus is some other modality. */
  private[operators] def looksLikeAudio(b: Array[Byte]): Boolean = {
    def ascii(off: Int, s: String): Boolean =
      b.length >= off + s.length &&
        s.indices.forall(j => b(off + j) == s.charAt(j).toByte)
    (ascii(0, "RIFF") && ascii(8, "WAVE")) ||
      (ascii(0, "FORM") && (ascii(8, "AIFF") || ascii(8, "AIFC"))) ||
      ascii(0, ".snd")
  }

  /** Real JDK-only audio header decode (WAV/AIFF/AU via
    * `javax.sound.sampled`): container type, sample rate, channel count
    * and duration from the declared frame length — header metadata only,
    * the PCM payload is never decoded. None when no installed reader
    * claims the payload. */
  def decodeAudio(assetId: Long, bytes: Array[Byte]): Option[AssetMeta] =
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = aff.getFormat
      val frames = aff.getFrameLength
      val durationMs =
        if (frames >= 0 && fmt.getFrameRate > 0)
          math.round(frames * 1000.0 / fmt.getFrameRate)
        else -1L // header doesn't state a length
      Some(AssetMeta(
        asset_id = assetId,
        n_bytes = bytes.length,
        format = aff.getType.toString.toLowerCase, // wave / aiff / au
        width = 0, height = 0,
        sample_rate = math.round(fmt.getSampleRate),
        channels = fmt.getChannels,
        duration_ms = durationMs,
        checksum = md5Hex(bytes)))
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None // truncated/corrupt container
    }

  /** Real JDK-only media decode: probe the payload with the registered
    * ImageIO readers and read true dimensions from the header (no raster
    * decode — `getWidth/getHeight(0)` parse metadata only, so a 50 MB JPEG
    * costs a few KB of reads); payloads no image codec claims are probed
    * as audio ([[decodeAudio]]); anything left → [[decodeStub]]. */
  def decodeOne(assetId: Long, bytes: Array[Byte]): AssetMeta = {
    // memory-backed image input (not ImageIO's default temp-FILE cache):
    // payloads are already in memory, and a disk-backed cache writes one
    // temp file per asset — pure churn that also couples decode latency
    // to disk load
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) {
        if (looksLikeAudio(bytes))
          decodeAudio(assetId, bytes).getOrElse(decodeStub(assetId, bytes))
        else decodeStub(assetId, bytes)
      }
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          AssetMeta(
            asset_id = assetId,
            n_bytes = bytes.length,
            format = r.getFormatName.toLowerCase,
            width = r.getWidth(0),
            height = r.getHeight(0),
            sample_rate = 0, channels = 0, duration_ms = 0L,
            checksum = md5Hex(bytes))
        } catch {
          case _: java.io.IOException => decodeStub(assetId, bytes) // truncated/corrupt
        } finally r.dispose()
      }
    } finally iis.close()
  }

  /** Partition-mapped decode over (id, payload) rows — one JVM-side batch
    * per partition, zero per-row session overhead, the Scala twin of a
    * pandas `mapInPandas` decode. */
  def decodeAssets(assets: DataFrame, idCol: String, binCol: String): Dataset[AssetMeta] = {
    val spark = assets.sparkSession
    implicit val enc = Encoders.product[AssetMeta]
    assets.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions(_.map { case (id, bytes) => decodeOne(id, bytes) })
  }

  /** Pixel-level features of a decoded image. `ok = false` rows carry the
    * stub zeros (payload wasn't a decodable image); mean channels are in
    * integer milli-units (0..255000) and `luma_hist` is an 8-bucket
    * histogram of the BT.601 luma — the deterministic, exact-integer form
    * of "embed the image" that a real pipeline would replace with a model
    * forward pass (same schema, same partitioning, same batch shape). */
  case class PixelFeatures(asset_id: Long, ok: Boolean,
                           width: Int, height: Int,
                           mean_r_milli: Long, mean_g_milli: Long,
                           mean_b_milli: Long, luma_hist: Array[Long])

  /** Full raster decode of an in-memory payload through a MEMORY-backed
    * image input stream. `ImageIO.read(InputStream)` wraps its input in
    * the default disk-backed cache — one temp FILE created and deleted in
    * `java.io.tmpdir` per image — which couples every decode to tmp-dir
    * I/O load (measured in r18: the same 6k-payload battery query ran
    * 0.26s on a quiet tmp dir and 2.3s mid-battery purely from that
    * churn). Same rationale as [[decodeOne]]'s header probe; null on
    * undecodable payloads, matching `ImageIO.read`. */
  private def readImageInMemory(bytes: Array[Byte], off: Int,
                                len: Int): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes, off, len))
    // ImageIO.read(ImageInputStream) closes the stream itself whenever a
    // reader claimed it (success OR decode error) — only the no-reader
    // null return leaves it open, so close exactly that path ourselves
    // (a second close() on an ImageInputStreamImpl THROWS, not no-ops)
    try {
      val img = javax.imageio.ImageIO.read(iis)
      if (img == null) iis.close()
      img
    } catch {
      case _: Exception =>
        try iis.close() catch { case _: Exception => () }
        null
    }
  }

  /** FULL raster decode via the JDK's ImageIO (PNG/JPEG/GIF/BMP readers
    * ship with the JVM — this is a real decode, not a header probe) +
    * feature extraction, as the same `mapPartitions` batch shape as
    * [[decodeAssets]]. Sums are exact integers, so the features are
    * bit-reproducible anywhere. */
  def pixelFeaturesOne(assetId: Long, bytes: Array[Byte]): PixelFeatures = {
    val img = readImageInMemory(bytes, 0, bytes.length)
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
      PixelFeatures(assetId, ok = false, 0, 0, 0L, 0L, 0L, new Array[Long](8))
    else {
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      val hist = new Array[Long](8)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xFF
          val g = (rgb >> 8) & 0xFF
          val b = rgb & 0xFF
          sr += r; sg += g; sb += b
          // BT.601 integer luma: (299r + 587g + 114b) / 1000 in [0, 255]
          val luma = (299 * r + 587 * g + 114 * b) / 1000
          hist(luma >> 5) += 1L // 8 buckets of 32 luma levels
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      PixelFeatures(assetId, ok = true, w, h,
        sr * 1000 / n, sg * 1000 / n, sb * 1000 / n, hist)
    }
  }

  /** Partition-mapped [[pixelFeaturesOne]] over (id, payload) rows. */
  def pixelFeatures(assets: DataFrame, idCol: String,
                    binCol: String): Dataset[PixelFeatures] = {
    implicit val enc = Encoders.product[PixelFeatures]
    assets.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions(_.map { case (id, bytes) => pixelFeaturesOne(id, bytes) })
  }

  // ---- video: MJPEG-in-AVI frame decode (JDK-only, no codec library) ----
  // An AVI is a RIFF container; MJPEG stores every frame as a standalone
  // JPEG in a '00dc'/'00db' chunk inside the 'movi' list, and the JDK's
  // ImageIO ships a JPEG codec — so frame sampling + decode is a chunk
  // walk plus per-frame ImageIO reads, with no external dependency.

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  private def fourcc(b: Array[Byte], off: Int): String =
    if (off + 4 <= b.length) new String(b, off, 4, "US-ASCII") else ""

  /** (offset, length) of every video frame chunk (`00dc` compressed /
    * `00db` uncompressed, any stream number) inside the payload's `movi`
    * list(s) — a pure RIFF walk, robust to torn files (a chunk running
    * past the buffer ends the walk instead of throwing). Empty when the
    * payload is not a RIFF-AVI. */
  private[operators] def aviFrameChunks(b: Array[Byte]): Seq[(Int, Int)] = {
    if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ")
      return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
      var p = start
      var ok = true
      while (ok && p + 8 <= end) {
        val id = fourcc(b, p)
        val size = le32(b, p + 4)
        if (size < 0 || p + 8 + size > end) ok = false // torn chunk
        else {
          if (id == "LIST" && size >= 4) {
            val lt = fourcc(b, p + 8)
            // 'rec ' groups nest inside movi; stay in frame-collecting mode
            walk(p + 12, p + 8 + size, inMovi || lt == "movi")
          } else if (inMovi && id.length == 4 &&
            Character.isDigit(id.charAt(0)) && Character.isDigit(id.charAt(1)) &&
            (id.endsWith("dc") || id.endsWith("db"))) {
            out += ((p + 8, size))
          }
          p += 8 + size + (size & 1) // RIFF chunks pad to even offsets
        }
      }
    }
    walk(12, b.length, inMovi = false)
    out.toSeq
  }

  /** One decoded (sampled) video frame. `n_frames` is the stream's total
    * chunk count; `frame_idx` the sampled chunk's position in it;
    * `mean_luma_milli` the frame's integer BT.601 luma mean (0..255000).
    * A non-AVI payload yields a single `ok = false` row (n_frames 0). */
  case class VideoFrame(asset_id: Long, ok: Boolean, n_frames: Int,
                        frame_no: Int, frame_idx: Int,
                        width: Int, height: Int, mean_luma_milli: Long)

  /** Decode up to `n` evenly spaced frames of one MJPEG-AVI payload. */
  def videoFramesOne(assetId: Long, bytes: Array[Byte], n: Int): Seq[VideoFrame] = {
    val chunks = aviFrameChunks(bytes)
    if (chunks.isEmpty)
      return Seq(VideoFrame(assetId, ok = false, 0, 0, -1, 0, 0, 0L))
    val m = chunks.size
    val k = math.min(n, m)
    (0 until k).map { i =>
      val fi = (i.toLong * m / k).toInt // even spacing across the stream
      val (off, len) = chunks(fi)
      val img = readImageInMemory(bytes, off, len)
      if (img == null || img.getWidth <= 0)
        VideoFrame(assetId, ok = false, m, i, fi, 0, 0, 0L)
      else {
        val w = img.getWidth
        val h = img.getHeight
        var lumaSum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            lumaSum += (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
              114 * (rgb & 0xFF)) / 1000
            x += 1
          }
          y += 1
        }
        VideoFrame(assetId, ok = true, m, i, fi, w, h,
          lumaSum * 1000 / (w.toLong * h))
      }
    }
  }

  /** Partition-mapped [[videoFramesOne]] over (id, payload) rows — the
    * same batch shape as [[decodeAssets]]: at cluster scale the input is a
    * `binaryFile` scan and each executor walks + decodes its partition's
    * payloads locally. */
  def videoFrames(assets: DataFrame, idCol: String, binCol: String,
                  n: Int): Dataset[VideoFrame] = {
    implicit val enc = Encoders.product[VideoFrame]
    assets.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions(_.flatMap { case (id, bytes) => videoFramesOne(id, bytes, n) })
  }

  /** Minimal MJPEG-AVI muxer: RIFF("AVI ") with an `avih` header and a
    * `movi` list of `00dc` JPEG chunks. Enough container for any RIFF
    * walker (including [[aviFrameChunks]]) and for per-frame ImageIO
    * decode; NOT a fully-compliant AVI (no stream-list/index chunks), and
    * documented as the fixture/generator half of the video path. */
  def buildMjpegAvi(jpegFrames: Seq[Array[Byte]], width: Int, height: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
      bos.write((v >> 16) & 0xFF); bos.write((v >> 24) & 0xFF)
    }
    def wcc(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val avih = new Array[Byte](56) // zeros, then patch the fields we state
    def patch(off: Int, v: Int): Unit = {
      avih(off) = (v & 0xFF).toByte; avih(off + 1) = ((v >> 8) & 0xFF).toByte
      avih(off + 2) = ((v >> 16) & 0xFF).toByte
      avih(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    patch(0, 40000) // microseconds per frame (25 fps)
    patch(16, jpegFrames.size) // dwTotalFrames
    patch(32, width); patch(36, height)
    val moviBody = jpegFrames.map(f => 8 + f.length + (f.length & 1)).sum + 4
    val hdrlBody = 4 + 8 + 56
    val riffBody = 4 + (8 + hdrlBody) + (8 + moviBody)
    wcc("RIFF"); w32(riffBody); wcc("AVI ")
    wcc("LIST"); w32(hdrlBody); wcc("hdrl")
    wcc("avih"); w32(56); bos.write(avih)
    wcc("LIST"); w32(moviBody); wcc("movi")
    jpegFrames.foreach { f =>
      wcc("00dc"); w32(f.length); bos.write(f)
      if ((f.length & 1) == 1) bos.write(0) // pad to even
    }
    bos.toByteArray
  }

  /** The synthetic-AVI frame color: RGB derived from (seed, frame index)
    * by an all-integer formula — the SQL-replayable half of the video
    * fixtures (non-negative operands, so `%` agrees across engines). */
  def syntheticFrameRgb(seed: Long, f: Int): (Int, Int, Int) =
    (((seed * 37 + f * 11) % 256).toInt,
      ((seed * 59 + f * 23) % 256).toInt,
      ((seed * 83 + f * 43) % 256).toInt)

  /** Synthetic AVI of `nFrames` solid-color frames in ImageIO format
    * `fmt`: "png" is [[syntheticPngAvi]]; specs also build the lossy
    * "jpg" variant, which has no SQL twin. */
  private[graft] def syntheticAvi(seed: Long, nFrames: Int, w: Int, h: Int,
                                  fmt: String): Array[Byte] = {
    val frames = (0 until nFrames).map { f =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val (r, g, b) = syntheticFrameRgb(seed, f)
      val rgb = (r << 16) | (g << 8) | b
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    buildMjpegAvi(frames, w, h)
  }

  /** Deterministic synthetic MPNG-AVI: the same container and color
    * formula with LOSSLESS PNG frames (the real `MPNG` codec layout —
    * PNG files in the `00dc` chunks; ImageIO sniffs the frame format
    * from content, so [[videoFramesOne]] decodes both variants through
    * the identical walk+decode path). Losslessness is what promotes
    * `mm_video_frames` to an exact oracle: decoded RGB == the integer
    * formula, the pHash/lossless-PNG treatment applied to video. */
  def syntheticPngAvi(seed: Long, nFrames: Int, w: Int, h: Int): Array[Byte] =
    syntheticAvi(seed, nFrames, w, h, "png")

  // ---- audio: PCM decode + spectral features (JDK-only) ----
  // WAV decode is real (`javax.sound.sampled` ships a PCM codec); the
  // "embedding" is an n-band power spectrum probed at band centers — the
  // deterministic stand-in for a model forward pass with the same
  // schema, partitioning and batch shape. The SPECTRUM path is
  // EXACT-INTEGER end to end (the pHash/DCT treatment): band-center
  // phases are exact rationals of a turn, so one milli-unit quantized
  // sine table of 4·nBands entries drives an all-integer DFT whose every
  // intermediate is a long/BigInt — replayable bit-for-bit in ANY engine
  // with integer arithmetic, which is what gives `mm_audio_spectrum` a
  // DuckDB oracle. The FINGERPRINT path shares the same integer DFT
  // ([[intBandPower]]), so its landmark table replays in SQL too.

  /** Spectral features of one decoded audio payload. `ok = false` rows
    * carry zeros (payload wasn't decodable 16-bit PCM). `ms_ppm` is the
    * mean square in parts-per-million of full-scale² (exact integer —
    * the rms in disguise without the irrational sqrt);
    * `band_energy_milli` holds each band's share of total spectral power
    * in milli-fractions (sums to ~1000); `dominant_band` is the argmax
    * (ties → lowest). */
  case class AudioSpectrum(asset_id: Long, ok: Boolean,
                           sample_rate: Int, n_samples: Long,
                           ms_ppm: Long, zero_crossings: Long,
                           dominant_band: Int,
                           band_energy_milli: Array[Long])

  /** Decode 16-bit PCM and compute [[AudioSpectrum]] with `nBands`
    * Goertzel probes at band-center frequencies below Nyquist. Multi-
    * channel audio is mono-mixed (integer average) before analysis. */
  /** Decode a 16-bit PCM payload to (sampleRate, integer mono mix) —
    * the shared front half of the spectrum and fingerprint paths. */
  private[operators] def decodePcmMono(
      bytes: Array[Byte]): Option[(Int, Array[Int])] = {
    if (!looksLikeAudio(bytes)) return None
    val in =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => return None }
    try {
      val fmt = in.getFormat
      val bigEndian = fmt.isBigEndian
      if (fmt.getSampleSizeInBits != 16 ||
        fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
        return None
      val raw = in.readAllBytes()
      val ch = fmt.getChannels
      val frameBytes = 2 * ch
      val n = raw.length / frameBytes
      if (n == 0) return None
      val mono = new Array[Int](n)
      var i = 0
      while (i < n) {
        var acc = 0
        var c = 0
        while (c < ch) {
          val off = i * frameBytes + 2 * c
          val s =
            if (bigEndian) ((raw(off) << 8) | (raw(off + 1) & 0xFF)).toShort
            else ((raw(off + 1) << 8) | (raw(off) & 0xFF)).toShort
          acc += s
          c += 1
        }
        mono(i) = acc / ch
        i += 1
      }
      Some((math.round(fmt.getSampleRate), mono))
    } catch { case _: Exception => None }
    finally in.close()
  }

  /** Exact-integer DFT power of `mono(from until from+len)` at band
    * center (b + 0.5)·nyquist/nBands: the phase of the j-th sample is
    * (2b+1)·j/(4·nBands) TURNS — an exact rational independent of the
    * sample rate — so `tab` (the 4·nBands-entry milli-quantized sine,
    * [[sinMilliTable]]) indexed by an integer phase accumulator replaces
    * all FPU work; squares go through BigInt (|re| ≤ len·2¹⁵·10³, re²
    * past int64 at frame lengths ≥ ~256). Shared by the spectrum AND
    * fingerprint paths — both are SQL-replayable because of it. */
  private def intBandPower(mono: Array[Int], from: Int, len: Int,
                           b: Int, nBands: Int, tab: Array[Long]): BigInt = {
    val m = 4 * nBands
    val step = 2 * b + 1
    var re = 0L
    var im = 0L
    var idx = 0
    var j = 0
    while (j < len) {
      val v = mono(from + j).toLong
      im += v * tab(idx)
      re += v * tab((idx + nBands) % m) // cos = sin shifted a quarter turn
      idx += step
      if (idx >= m) idx -= m
      j += 1
    }
    BigInt(re) * re + BigInt(im) * im
  }

  def audioSpectrumOne(assetId: Long, bytes: Array[Byte],
                       nBands: Int = 8): AudioSpectrum = {
    val fail = AudioSpectrum(assetId, ok = false, 0, 0L, 0L, 0L, 0,
      new Array[Long](nBands))
    decodePcmMono(bytes) match {
      case None => fail
      case Some((sr, mono)) => audioSpectrumOf(assetId, sr, mono, nBands)
    }
  }

  /** Milli-unit quantized sine over `m` equal divisions of the turn:
    * tab(j) = round(1000·sin(2πj/m)). StrictMath makes the BUILD
    * bit-identical on any JVM, and once quantized every downstream
    * operation is integer — the table for nBands bands has 4·nBands
    * entries (tiny enough to inline as literals in an oracle SQL). */
  private[graft] def sinMilliTable(m: Int): Array[Long] =
    Array.tabulate(m)(j =>
      math.round(1000.0 * StrictMath.sin(2.0 * math.Pi * j / m)))

  private def audioSpectrumOf(assetId: Long, sr: Int, mono: Array[Int],
                              nBands: Int): AudioSpectrum = {
    val n = mono.length
    // mean square (exact integer sum of squares) + zero crossings
    var sq = 0L
    var zc = 0L
    var i = 0
    while (i < n) {
      val v = mono(i)
      sq += v.toLong * v
      if (i > 0 && ((mono(i - 1) >= 0) != (v >= 0))) zc += 1
      i += 1
    }
    // ms_ppm = floor(10⁶·(sq/n)/32768²) — BigInt keeps sq·10⁶ exact for
    // arbitrarily long audio (sq alone can reach n·2³⁰)
    val msPpm = (BigInt(sq) * 1000000L /
      (BigInt(n) * 1073741824L)).toLong
    // exact-integer DFT power at each band center ([[intBandPower]])
    val tab = sinMilliTable(4 * nBands)
    val power = new Array[BigInt](nBands)
    var b = 0
    while (b < nBands) {
      power(b) = intBandPower(mono, 0, n, b, nBands, tab)
      b += 1
    }
    val total = power.foldLeft(BigInt(0))(_ + _)
    // share = round(1000·p/total) as pure integer: floor((2000p+t)/2t)
    val shares =
      if (total <= 0) new Array[Long](nBands)
      else power.map(p => ((p * 2000 + total) / (total * 2)).toLong)
    var dom = 0
    b = 1
    while (b < nBands) { if (power(b) > power(dom)) dom = b; b += 1 }
    AudioSpectrum(assetId, ok = true, sr, n.toLong, msPpm, zc,
      dom, shares)
  }

  /** Partition-mapped [[audioSpectrumOne]] over (id, payload) rows. */
  def audioSpectrum(assets: DataFrame, idCol: String, binCol: String,
                    nBands: Int = 8): Dataset[AudioSpectrum] = {
    implicit val enc = Encoders.product[AudioSpectrum]
    assets.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions(_.map { case (id, bytes) =>
        audioSpectrumOne(id, bytes, nBands) })
  }

  /** 16-bit mono PCM WAV container around `nSamples` generated samples —
    * the shared writer of every audio fixture builder. */
  private[graft] def monoWavBytes(nSamples: Int, sampleRate: Int)(
      sample: Int => Int): Array[Byte] = {
    val dataLen = nSamples * 2
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
      bos.write((v >> 16) & 0xFF); bos.write((v >> 24) & 0xFF)
    }
    def w16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
    def wcc(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    wcc("RIFF"); w32(36 + dataLen); wcc("WAVE")
    wcc("fmt "); w32(16); w16(1); w16(1) // PCM, mono
    w32(sampleRate); w32(sampleRate * 2); w16(2); w16(16)
    wcc("data"); w32(dataLen)
    var i = 0
    while (i < nSamples) { w16(sample(i)); i += 1 }
    bos.toByteArray
  }

  /** Deterministic 16-bit mono WAV whose samples come from the SAME
    * milli-quantized sine table the spectrum probe uses: a tone at band
    * center (bandIdx + 0.5)·nyquist/nBands, sample i =
    * round(amp·tab((2·bandIdx+1)·i mod 4·nBands)/1000) — PURE INTEGER
    * generation, so the whole generate→WAV→decode→analyze chain of
    * `mm_audio_spectrum` is replayable in SQL (the oracle inlines the
    * 4·nBands-entry table; round(x/1000) = floorDiv(2x+1000, 2000) on
    * both sides). The phase quantization to 1/(4·nBands) turns is what a
    * numerically-controlled oscillator with a 2-bit-per-band phase
    * accumulator emits; spectrally it is still a tone centered on the
    * band (the spec pins that band's dominance). */
  def buildBandToneWav(bandIdx: Int, nBands: Int = 8, sampleRate: Int = 8000,
                       nSamples: Int = 2000, amp: Int = 12000): Array[Byte] = {
    val m = 4 * nBands
    val tab = sinMilliTable(m)
    monoWavBytes(nSamples, sampleRate) { i =>
      val s = tab((((2L * bandIdx + 1) * i) % m).toInt)
      Math.floorDiv(2L * amp * s + 1000L, 2000L).toInt
    }
  }

  /** Deterministic multi-tone WAV: `freqs` sine segments of `segSamples`
    * each, concatenated — the fixture for fingerprint matching (a tone
    * SEQUENCE is what gives each asset a distinctive constellation; a
    * single pure tone has a constant peak track). */
  def buildToneSequenceWav(freqs: Seq[Double], sampleRate: Int = 8000,
                           segSamples: Int = 1024,
                           amp: Int = 12000): Array[Byte] = {
    // Table-driven, PURE-INTEGER generation (the [[buildBandToneWav]]
    // treatment): each segment's frequency quantizes to the
    // sampleRate/160 grid — EXACT for the registry fixtures (multiples
    // of 50 Hz at 8 kHz) — so every sample is a 160-entry milli-sine
    // lookup and the whole fixture replays in SQL (the fingerprint
    // oracles inline the table). Phase restarts at 0 per segment, as the
    // StrictMath form did.
    val m = 160
    val tab = sinMilliTable(m)
    // the table-driven oscillator only hits exact frequencies on the
    // sampleRate/160 grid (50 Hz at 8 kHz); silently rounding an
    // off-grid request (e.g. 440 Hz -> 450 Hz) would be a lie in a
    // public builder, so reject it instead (round-11 ADVICE item)
    freqs.foreach { f =>
      require((f * m) % sampleRate == 0.0,
        s"buildToneSequenceWav: $f Hz is off the ${sampleRate.toDouble / m} " +
          s"Hz grid (frequencies must be multiples of sampleRate/$m)")
    }
    val steps = freqs.map(f =>
      math.round(f * m / sampleRate).toInt).toArray
    monoWavBytes(freqs.length * segSamples, sampleRate) { a =>
      val s = a / segSamples
      val i = a % segSamples
      val t = tab(((steps(s).toLong * i) % m).toInt)
      Math.floorDiv(2L * amp * t + 1000L, 2000L).toInt
    }
  }

  // ---- audio fingerprinting: peak-pair constellation hashing ----
  // The Shazam mechanic (Wang 2003, "An Industrial-Strength Audio Search
  // Algorithm"): per frame, the spectral PEAK band; landmarks = (anchor
  // peak, target peak, frame gap) triples hashed into an integer; a clip
  // matches its source when many landmark hashes agree at ONE aligned
  // time offset. Exact here: per-frame peaks via the integer DFT
  // ([[intBandPower]]), argmax ties to the lowest band — the whole
  // landmark table replays in SQL (the fingerprint oracles).

  /** One landmark row: `hash` packs (anchor band, target band, gap). */
  case class AudioLandmark(asset_id: Long, ok: Boolean, hash: Long, t: Long)

  /** Frame-peak constellation landmarks of one payload. */
  def audioFingerprintOne(assetId: Long, bytes: Array[Byte],
                          frameLen: Int = 256, hop: Int = 128,
                          nBands: Int = 16,
                          fanout: Int = 4): Seq[AudioLandmark] = {
    decodePcmMono(bytes) match {
      case None => Seq(AudioLandmark(assetId, ok = false, 0L, 0L))
      case Some((sr, mono)) =>
        val nFrames = if (mono.length < frameLen) 0
          else (mono.length - frameLen) / hop + 1
        if (nFrames < 2) return Seq(AudioLandmark(assetId, ok = false, 0L, 0L))
        val tab = sinMilliTable(4 * nBands)
        val peaks = new Array[Int](nFrames)
        var f = 0
        while (f < nFrames) {
          // per-frame peak band via the exact-integer DFT (ties → lowest
          // band) — integer end to end, so the landmark table replays in
          // SQL, which is what gives the fingerprint queries an oracle
          var best = 0
          var bestP: BigInt = null
          var b = 0
          while (b < nBands) {
            val p = intBandPower(mono, f * hop, frameLen, b, nBands, tab)
            if (bestP == null || p > bestP) { bestP = p; best = b }
            b += 1
          }
          peaks(f) = best
          f += 1
        }
        val out = Seq.newBuilder[AudioLandmark]
        f = 0
        while (f < nFrames) {
          var j = f + 1
          val end = math.min(f + fanout, nFrames - 1)
          while (j <= end) {
            val hash = (peaks(f).toLong << 16) |
              (peaks(j).toLong << 8) | (j - f).toLong
            out += AudioLandmark(assetId, ok = true, hash, f.toLong)
            j += 1
          }
          f += 1
        }
        out.result()
    }
  }

  /** Partition-mapped landmark extraction over (id, payload) rows. */
  def audioFingerprints(assets: DataFrame, idCol: String, binCol: String,
                        frameLen: Int = 256, hop: Int = 128,
                        nBands: Int = 16, fanout: Int = 4): DataFrame = {
    implicit val enc = Encoders.product[AudioLandmark]
    assets.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong,
        Encoders.BINARY))
      .flatMap { case (id, bytes) =>
        audioFingerprintOne(id, bytes, frameLen, hop, nBands, fanout) }
      .toDF()
  }

  // ---- audio activity segmentation (VAD): energy runs over frames ----
  // The speech-pipeline primitive ("cut on silence, keep voiced spans"):
  // non-overlapping frame energies, a silence threshold in mean-square
  // ppm of full-scale², and gaps-and-islands run grouping. EXACT
  // integer end to end (per-frame Σv² is a long; the threshold compare
  // is cross-multiplied, never divided), so the whole chain — sample
  // regeneration, framing, thresholding, run grouping — replays in SQL
  // (registry key `mm_audio_segments`).

  /** One per-frame energy row (non-overlapping `frameLen` frames; the
    * trailing partial frame is dropped — a fixed-length energy grid). */
  case class AudioFrameEnergy(asset_id: Long, ok: Boolean, frame: Long,
                              sq: Long)

  /** Partition-mapped per-frame integer energies over (id, payload). */
  def audioFrameEnergies(assets: DataFrame, idCol: String, binCol: String,
                         frameLen: Int = 256): Dataset[AudioFrameEnergy] = {
    implicit val enc = Encoders.product[AudioFrameEnergy]
    assets.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong,
        Encoders.BINARY))
      .flatMap { case (id, bytes) =>
        decodePcmMono(bytes) match {
          case None => Seq(AudioFrameEnergy(id, ok = false, 0L, 0L))
          case Some((_, mono)) =>
            val nFrames = mono.length / frameLen
            if (nFrames == 0) Seq(AudioFrameEnergy(id, ok = false, 0L, 0L))
            else (0 until nFrames).map { f =>
              var sq = 0L
              var j = f * frameLen
              val end = j + frameLen
              while (j < end) {
                sq += mono(j).toLong * mono(j); j += 1
              }
              AudioFrameEnergy(id, ok = true, f.toLong, sq)
            }
        }
      }
  }

  /** Collapse a frame-energy table into maximal constant-activity RUNS:
    * a frame is silent iff its mean square is below `silencePpm`
    * parts-per-million of full-scale² (integer cross-multiplied:
    * sq·10⁶ < ppm·frameLen·2³⁰), and consecutive same-state frames
    * merge (gaps-and-islands: frame − row_number within state is
    * constant per run). Output one row per run with its frame span and
    * exact energy sum; `seg_no` numbers runs per asset.
    *
    * Scale shape: windows partition by asset (an asset's frame count is
    * bounded by its duration, never by corpus size); everything else is
    * per-run aggregation. The frame table itself can be the at-rest
    * artifact for re-segmentation under a different threshold. */
  def audioSegments(frames: Dataset[AudioFrameEnergy],
                    frameLen: Int = 256,
                    silencePpm: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flagged = frames.toDF().where(col("ok"))
      .withColumn("is_silent",
        col("sq") * lit(1000000L) <
          lit(silencePpm) * lit(frameLen.toLong) * lit(1073741824L))
    val byState = Window.partitionBy("asset_id", "is_silent")
      .orderBy("frame")
    val runs = flagged
      .withColumn("_run", col("frame") - row_number().over(byState))
      .groupBy(col("asset_id"), col("is_silent"), col("_run"))
      .agg(min("frame").as("start_frame"), max("frame").as("end_frame"),
        count(lit(1)).as("n_frames"), sum("sq").as("sq_sum"))
    runs
      .withColumn("seg_no", row_number().over(
        Window.partitionBy("asset_id").orderBy("start_frame")))
      .select(col("asset_id"), col("seg_no").cast("long").as("seg_no"),
        col("is_silent"), col("start_frame"), col("end_frame"),
        col("n_frames"), col("sq_sum"))
  }

  /** Match probe landmark tables against a reference landmark table: an
    * equi-join on `hash`, votes counted per (probe, ref, time offset) —
    * the offset histogram — and each probe keeps its best (votes, then
    * lowest ref/offset for determinism) alignment.
    *
    * Scale shape: the landmark tables are the at-rest index (rows, not
    * audio); the match is one hash equi-join + two shrinking aggregates.
    * A planetary reference index would pre-partition by hash; nothing
    * here assumes the refs fit anywhere in particular. */
  def audioMatch(probes: DataFrame, refs: DataFrame): DataFrame = {
    val p = probes.where(col("ok"))
      .select(col("asset_id").as("probe_id"), col("hash"),
        col("t").as("pt"))
    val r = refs.where(col("ok"))
      .select(col("asset_id").as("ref_id"), col("hash"), col("t").as("rt"))
    p.join(r, "hash")
      .groupBy(col("probe_id"), col("ref_id"),
        (col("rt") - col("pt")).as("offset"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("probe_id"))
      .agg(max(struct(col("votes"), (-col("ref_id")).as("nr"),
        (-col("offset")).as("no"))).as("w"))
      .select(col("probe_id"), (-col("w.nr")).as("ref_id"),
        (-col("w.no")).as("offset"), col("w.votes").as("votes"))
  }

  // ---- perceptual image hash (pHash): 32×32 integer DCT, 8×8 low band ----

  case class PHashRow(asset_id: Long, ok: Boolean, phash: Long)

  /** Micro-unit cosine table for the 32-point DCT-II, only the 8 lowest
    * frequencies (the 8×8 block is all the hash reads): cos(π(2n+1)k/64)
    * quantized to 1e6 via StrictMath — bit-identical on any JVM, and from
    * here on the transform is pure long arithmetic (row pass ≤ 32·255·1e6
    * ≈ 8.2e9, column pass ≤ 32·8.2e9·1e6 ≈ 2.6e17, both inside int64). */
  private[graft] lazy val dctCosMicro: Array[Array[Long]] =
    Array.tabulate(8, 32) { (k, n) =>
      Math.round(StrictMath.cos(StrictMath.PI * (2 * n + 1) * k / 64.0)
        * 1000000.0)
    }

  /** 64-bit perceptual hash of an image payload — the standard pHash
    * recipe in exact integer arithmetic: decode → BT.601 integer luma →
    * 32×32 box-average downsample (each target cell floor-averages its
    * source box, so any input size normalizes) → 2-D DCT-II restricted to
    * the 8×8 lowest-frequency block (micro-unit cosine table, long
    * accumulation) → bit(k,l) = coefficient > lower-median of the 64.
    * Per-index DCT normalization factors are omitted: they scale
    * coefficients by fixed constants, and any FIXED deterministic variant
    * ranks content identically — what matters is that near-identical
    * pixels give near-identical bits, pinned in `MultimodalSpec`.
    * Undecodable payloads return ok = false, phash = 0. */
  def perceptualHashOne(assetId: Long, bytes: Array[Byte]): PHashRow = {
    val img = readImageInMemory(bytes, 0, bytes.length)
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
      PHashRow(assetId, ok = false, 0L)
    else {
      val w = img.getWidth
      val h = img.getHeight
      // 32×32 box-averaged integer luma
      val luma = Array.ofDim[Long](32, 32)
      var ty = 0
      while (ty < 32) {
        val sy0 = ty * h / 32
        val sy1 = math.max(sy0 + 1, (ty + 1) * h / 32)
        var tx = 0
        while (tx < 32) {
          val sx0 = tx * w / 32
          val sx1 = math.max(sx0 + 1, (tx + 1) * w / 32)
          var sum = 0L
          var y = sy0
          while (y < sy1) {
            var x = sx0
            while (x < sx1) {
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xFF
              val g = (rgb >> 8) & 0xFF
              val b = rgb & 0xFF
              sum += (299 * r + 587 * g + 114 * b) / 1000
              x += 1
            }
            y += 1
          }
          luma(ty)(tx) = sum / ((sy1 - sy0).toLong * (sx1 - sx0))
          tx += 1
        }
        ty += 1
      }
      // row DCT (32 rows × 8 freqs), then column DCT (8×8 block)
      val rows = Array.ofDim[Long](32, 8)
      var y = 0
      while (y < 32) {
        var k = 0
        while (k < 8) {
          var acc = 0L
          var n = 0
          while (n < 32) { acc += luma(y)(n) * dctCosMicro(k)(n); n += 1 }
          rows(y)(k) = acc
          k += 1
        }
        y += 1
      }
      val coeffs = new Array[Long](64)
      var l = 0
      while (l < 8) {
        var k = 0
        while (k < 8) {
          var acc = 0L
          var yy = 0
          while (yy < 32) { acc += rows(yy)(k) * dctCosMicro(l)(yy); yy += 1 }
          coeffs(l * 8 + k) = acc
          k += 1
        }
        l += 1
      }
      val sorted = coeffs.clone(); java.util.Arrays.sort(sorted)
      val median = sorted(31) // lower median of 64
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (coeffs(i) > median) hash |= (1L << i)
        i += 1
      }
      PHashRow(assetId, ok = true, hash)
    }
  }

  /** Partition-mapped [[perceptualHashOne]] over (id, payload) rows. */
  def perceptualHashes(assets: DataFrame, idCol: String,
                       binCol: String): Dataset[PHashRow] = {
    implicit val enc = Encoders.product[PHashRow]
    assets.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])](Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions(_.map { case (id, bytes) => perceptualHashOne(id, bytes) })
  }

  /** Deterministic synthetic PNG for perceptual near-dup tests. The luma
    * field is a BROADBAND texture drawn from an xorshift PRNG seeded by
    * `pattern` (every DCT coefficient carries real signal — a hash whose
    * bits threshold against the median needs energy across the spectrum,
    * which a smooth gradient would not give), plus small per-pixel noise
    * of amplitude `noiseAmp` from a SECOND stream seeded by `noiseSeed`.
    * PNG is lossless, so decoded pixels are exactly these. Same pattern +
    * small noise = perceptual near-duplicate; different pattern =
    * independent texture, ~32 of 64 bits apart. */
  def buildPatternPng(pattern: Int, noiseSeed: Long, noiseAmp: Int,
                      w: Int = 64, h: Int = 64): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    def mix(s: Long): Long = s * 6364136223846793005L + 1442695040888963407L
    var tex = mix(pattern.toLong + 7919L)
    var noi = mix(noiseSeed)
    def next(stateIsTex: Boolean, span: Int): Int = {
      if (span <= 0) return 0
      var s = if (stateIsTex) tex else noi
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      if (stateIsTex) tex = s else noi = s
      (Math.floorMod(s, 2L * span + 1) - span).toInt
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = math.max(0, math.min(255,
          128 + next(stateIsTex = true, 90) + next(stateIsTex = false, noiseAmp)))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Frame-sample stub: slice `n` evenly spaced windows of `frameBytes`
    * bytes from a binary payload — the partitioning/batch shape of video
    * frame extraction with the codec swapped for byte slicing. */
  def sampleFrames(assets: DataFrame, idCol: String, binCol: String,
                   n: Int, frameBytes: Int): DataFrame = {
    val len = length(col(binCol))
    val idx = explode(sequence(lit(0), lit(n - 1))).as("frame_no")
    assets.select(col(idCol), col(binCol), len.as("n_bytes"))
      .select(col(idCol), col(binCol), col("n_bytes"), idx)
      .withColumn("offset",
        (col("frame_no") * greatest(col("n_bytes") - frameBytes, lit(1)) / n).cast("int") + 1)
      .withColumn("frame", col(binCol).substr(col("offset"), lit(frameBytes)))
      .drop(binCol)
  }
}
