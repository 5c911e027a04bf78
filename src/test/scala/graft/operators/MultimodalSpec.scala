package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  /** Deterministic synthetic 16-bit mono WAV: a pure sine at `freqHz`,
    * amplitude `amp` (of 32767), `nSamples` samples at `sampleRate` Hz
    * (StrictMath.sin: bit-identical on every JVM). */
  private def buildSineWav(freqHz: Double, sampleRate: Int = 8000,
                           nSamples: Int = 2000,
                           amp: Int = 12000): Array[Byte] =
    Multimodal.monoWavBytes(nSamples, sampleRate)(i => math.round(
      amp * StrictMath.sin(2.0 * math.Pi * freqHz * i / sampleRate)).toInt)

  private lazy val assets = graft.Tables(spark, sfDir, "documents")
    .select(col("doc_id"), col("text").cast("binary").as("payload"))
    .cache()

  test("decode plumbing: one record per asset, deterministic stub metadata") {
    val a = Multimodal.decodeAssets(assets, "doc_id", "payload").cache()
    val b = Multimodal.decodeAssets(assets, "doc_id", "payload")
    assert(a.count() === assets.count())
    // deterministic: two runs produce identical rows
    assert(a.except(b).count() === 0L)
    import spark.implicits._
    assert(a.filter(m => m.width < 64 || m.height < 64).count() === 0L)
  }

  test("real PNG/JPEG payloads decode to their true dimensions and format") {
    import spark.implicits._
    def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 17) & 0xFFFFFF)
      val out = new java.io.ByteArrayOutputStream
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val rows = Seq(
      (1L, imageBytes(320, 200, "png")),
      (2L, imageBytes(17, 123, "jpg")),
      (3L, "not an image at all".getBytes)).toDF("doc_id", "payload")
    val got = Multimodal.decodeAssets(rows, "doc_id", "payload")
      .collect().map(m => m.asset_id -> m).toMap
    assert(got(1L).format === "png" &&
      got(1L).width === 320 && got(1L).height === 200)
    assert(got(2L).format === "jpeg" &&
      got(2L).width === 17 && got(2L).height === 123)
    assert(got(3L).format === "unknown") // stub fallback, honest flag
  }

  test("WAV/AIFF payloads decode to true sample rate, channels and duration") {
    import spark.implicits._
    def audioBytes(tpe: javax.sound.sampled.AudioFileFormat.Type,
                   rate: Float, channels: Int, frames: Int): Array[Byte] = {
      import javax.sound.sampled._
      val fmt = new AudioFormat(rate, 16, channels, true, false)
      val pcm = new Array[Byte](frames * fmt.getFrameSize)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val out = new java.io.ByteArrayOutputStream
      AudioSystem.write(ais, tpe, out)
      out.toByteArray
    }
    val wav = audioBytes(javax.sound.sampled.AudioFileFormat.Type.WAVE,
      8000f, 1, 4000) // 0.5 s mono
    val aiff = audioBytes(javax.sound.sampled.AudioFileFormat.Type.AIFF,
      44100f, 2, 44100) // 1.0 s stereo
    val rows = Seq((1L, wav), (2L, aiff), (3L, "not audio".getBytes))
      .toDF("doc_id", "payload")
    val got = Multimodal.decodeAssets(rows, "doc_id", "payload")
      .collect().map(m => m.asset_id -> m).toMap
    assert(got(1L).format === "wave" && got(1L).sample_rate === 8000 &&
      got(1L).channels === 1 && got(1L).duration_ms === 500L)
    assert(got(2L).format === "aiff" && got(2L).sample_rate === 44100 &&
      got(2L).channels === 2 && got(2L).duration_ms === 1000L)
    assert(got(3L).format === "unknown") // stub fallback, honest flag
    // modality cross-fields stay zeroed
    assert(got(1L).width === 0 && got(1L).height === 0)
  }

  test("AU payloads decode; truncated/misdeclared containers fall back via the magic-byte gate") {
    import spark.implicits._
    def audioBytes(tpe: javax.sound.sampled.AudioFileFormat.Type,
                   rate: Float, channels: Int, frames: Int): Array[Byte] = {
      import javax.sound.sampled._
      val fmt = new AudioFormat(rate, 16, channels, true, true) // AU is big-endian
      val pcm = new Array[Byte](frames * fmt.getFrameSize)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val out = new java.io.ByteArrayOutputStream
      AudioSystem.write(ais, tpe, out)
      out.toByteArray
    }
    val au = audioBytes(javax.sound.sampled.AudioFileFormat.Type.AU,
      16000f, 1, 8000) // 0.5 s mono
    // all three container magics pass the gate; non-audio strings don't
    assert(Multimodal.looksLikeAudio(au))
    assert(!Multimodal.looksLikeAudio("RIFFxxxxJUNK".getBytes)) // RIFF but not WAVE
    assert(!Multimodal.looksLikeAudio("FORMxxxxTEXT".getBytes)) // FORM but not AIFF
    assert(!Multimodal.looksLikeAudio(Array[Byte]()))           // shorter than any magic
    val truncated = au.take(20) // valid ".snd" magic, header cut short
    assert(Multimodal.looksLikeAudio(truncated))
    val rows = Seq((1L, au), (2L, truncated), (3L, "RIFFxxxxJUNK".getBytes))
      .toDF("doc_id", "payload")
    val got = Multimodal.decodeAssets(rows, "doc_id", "payload")
      .collect().map(m => m.asset_id -> m).toMap
    assert(got(1L).format === "au" && got(1L).sample_rate === 16000 &&
      got(1L).channels === 1 && got(1L).duration_ms === 500L)
    // truncated container: gate passes, decode fails cleanly -> stub, and
    // the corrupt payload never poisons its neighbors (1L still decoded)
    assert(got(2L).format === "unknown")
    assert(got(3L).format === "unknown")
  }

  test("pixel features: real raster decode, exact means and luma histogram") {
    import spark.implicits._
    def solidPng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (r << 16) | (g << 8) | b
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // half pure red (luma 76 -> bucket 2), half pure white (255 -> bucket 7)
    def halfHalf(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, if (y < h / 2) 0xFF0000 else 0xFFFFFF)
      val out = new java.io.ByteArrayOutputStream
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val rows = Seq(
      (1L, solidPng(8, 4, 200, 100, 50)),
      (2L, halfHalf(4, 4)),
      (3L, "definitely not pixels".getBytes)).toDF("doc_id", "payload")
    val got = Multimodal.pixelFeatures(rows, "doc_id", "payload")
      .collect().map(p => p.asset_id -> p).toMap
    val p1 = got(1L)
    assert(p1.ok && p1.width === 8 && p1.height === 4)
    assert((p1.mean_r_milli, p1.mean_g_milli, p1.mean_b_milli) ===
      ((200000L, 100000L, 50000L))) // exact: solid color, integer sums
    val p2 = got(2L)
    assert(p2.ok)
    // 8 red pixels (luma (299*255)/1000 = 76 -> bucket 2), 8 white (255 -> 7)
    assert(p2.luma_hist.toSeq === Seq(0L, 0L, 8L, 0L, 0L, 0L, 0L, 8L))
    assert(!got(3L).ok && got(3L).luma_hist.forall(_ === 0L))
  }

  test("frame sampling: n frames per asset, fixed size, in-bounds offsets") {
    import spark.implicits._
    val frames = Multimodal.sampleFrames(assets, "doc_id", "payload", n = 3,
      frameBytes = 16).cache()
    assert(frames.count() === assets.count() * 3)
    assert(frames.where($"frame_no" < 0 || $"frame_no" > 2).count() === 0L)
    val sizes = frames.select(length($"frame").as("l"))
      .where($"l" > 16 || $"l" < 1).count()
    assert(sizes === 0L)
  }

  test("MJPEG-AVI: RIFF walk finds every frame chunk, sampled frames decode to true dims and colors") {
    import spark.implicits._
    // 7-frame AVI of 16x12 solid-color JPEGs; decode 3 evenly spaced
    val avi = Multimodal.syntheticAvi(seed = 5L, nFrames = 7, w = 16, h = 12,
      fmt = "jpg")
    assert(Multimodal.aviFrameChunks(avi).size === 7)
    val rows = Seq((5L, avi), (9L, "not a movie".getBytes)).toDF("doc_id", "payload")
    val got = Multimodal.videoFrames(rows, "doc_id", "payload", n = 3)
      .collect().groupBy(_.asset_id)
    val vf = got(5L).sortBy(_.frame_no)
    assert(vf.length === 3)
    assert(vf.forall(f => f.ok && f.n_frames === 7 &&
      f.width === 16 && f.height === 12))
    assert(vf.map(_.frame_idx).toSeq === Seq(0, 2, 4)) // even spacing over 7
    // decoded pixel means track the encoded solid colors: frame f of seed 5
    // is rgb ((5*37+11f)%256, (5*59+23f)%256, (5*83+43f)%256); JPEG is
    // lossy but a solid frame decodes within a few luma levels
    vf.foreach { f =>
      val i = f.frame_idx
      val expect = (299 * ((5 * 37 + 11 * i) % 256) +
        587 * ((5 * 59 + 23 * i) % 256) + 114 * ((5 * 83 + 43 * i) % 256)) / 1000
      assert(math.abs(f.mean_luma_milli - expect * 1000L) <= 4000L,
        s"frame $i luma ${f.mean_luma_milli} vs expected ~${expect * 1000L}")
    }
    // non-AVI payload: one honest ok=false row, nothing decoded
    val bad = got(9L)
    assert(bad.length === 1 && !bad(0).ok && bad(0).n_frames === 0)
  }

  test("MPNG-AVI: lossless PNG frames decode to the EXACT formula luma (the mm_video_frames oracle law)") {
    import spark.implicits._
    // same container + walk + decode path as MJPEG, but PNG is lossless:
    // the decoded luma must equal the integer formula EXACTLY, which is
    // precisely what makes the registry query's DuckDB twin valid
    val rows = Seq(3L, 6L)
      .map(id => (id, Multimodal.syntheticPngAvi(id, nFrames = 5, w = 16, h = 12)))
      .toDF("doc_id", "payload")
    val got = Multimodal.videoFrames(rows, "doc_id", "payload", n = 3).collect()
    assert(got.length === 6)
    got.foreach { f =>
      assert(f.ok && f.n_frames === 5 && f.width === 16 && f.height === 12)
      assert(f.frame_idx === f.frame_no * 5 / 3) // even spacing over 5
      val (r, g, b) = Multimodal.syntheticFrameRgb(f.asset_id, f.frame_idx)
      val expect = ((299 * r + 587 * g + 114 * b) / 1000) * 1000L
      assert(f.mean_luma_milli === expect,
        s"asset ${f.asset_id} frame ${f.frame_idx}: ${f.mean_luma_milli} != $expect")
    }
  }

  test("audio spectrum: sine at a band center dominates that band, RMS and crossings check out") {
    import spark.implicits._
    val sr = 8000
    val n = 2000
    // band centers for 8 bands over [0, 4000): 250, 750, ..., 3750
    val rows = Seq(
      (0L, buildSineWav(250.0, sr, n)),
      (5L, buildSineWav(250.0 + 5 * 500.0, sr, n)),
      (9L, "not audio at all".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val got = Multimodal.audioSpectrum(rows, "doc_id", "payload")
      .collect().map(a => a.asset_id -> a).toMap
    Seq(0L -> 0, 5L -> 5).foreach { case (id, band) =>
      val a = got(id)
      assert(a.ok && a.sample_rate === sr && a.n_samples === n.toLong)
      assert(a.dominant_band === band, s"asset $id band")
      // a pure sine concentrates its power: the dominant band carries
      // nearly the whole share budget (sums to ~1000)
      assert(a.band_energy_milli(band) >= 900, s"asset $id share")
      assert(math.abs(a.band_energy_milli.sum - 1000L) <= 8)
      // mean square of A·sin is A²/2: (12000/32768)²/2 ≈ 0.06705 →
      // ~67054 ppm of full-scale²
      assert(math.abs(a.ms_ppm - 67054L) <= 150, s"asset $id ms")
      // 2 crossings per cycle: 2 * f * n / sr (±2 for endpoints)
      val f = 250.0 + band * 500.0
      val expectZc = math.round(2.0 * f * n / sr)
      assert(math.abs(a.zero_crossings - expectZc) <= 2, s"asset $id zc")
    }
    val bad = got(9L)
    assert(!bad.ok && bad.n_samples === 0L && bad.band_energy_milli.forall(_ === 0L))
    // deterministic: a second run is bit-identical
    val again = Multimodal.audioSpectrum(rows, "doc_id", "payload")
      .collect().map(a => a.asset_id -> a).toMap
    Seq(0L, 5L, 9L).foreach { id =>
      assert(again(id).band_energy_milli.toSeq === got(id).band_energy_milli.toSeq)
      assert(again(id).ms_ppm === got(id).ms_ppm)
    }
  }

  test("audio spectrum: table-driven band tones (the exact-integer " +
    "fixture the oracle replays) dominate their band at every band") {
    import spark.implicits._
    val rows = (0 until 8).map(b =>
      (b.toLong, Multimodal.buildBandToneWav(b))).toDF("doc_id", "payload")
    val got = Multimodal.audioSpectrum(rows, "doc_id", "payload")
      .collect().map(a => a.asset_id -> a).toMap
    (0 until 8).foreach { b =>
      val a = got(b.toLong)
      assert(a.ok && a.dominant_band === b, s"band $b")
      assert(a.band_energy_milli(b) >= 900, s"band $b share")
      // quantized sine keeps the sine's A²/2 mean square to ~1%
      assert(math.abs(a.ms_ppm - 67054L) <= 700, s"band $b ms")
    }
  }

  test("pHash: identical bytes hash identically; noise variants stay " +
    "close; independent textures stay far; garbage is ok=false") {
    val clean = Multimodal.buildPatternPng(3, noiseSeed = 100L, noiseAmp = 0)
    val h1 = Multimodal.perceptualHashOne(1L, clean)
    val h2 = Multimodal.perceptualHashOne(2L, clean.clone())
    assert(h1.ok && h1.phash === h2.phash)
    // small noise on the SAME texture: a perceptual near-duplicate
    val noisy = Multimodal.buildPatternPng(3, noiseSeed = 200L, noiseAmp = 8)
    val hn = Multimodal.perceptualHashOne(3L, noisy)
    val dNear = java.lang.Long.bitCount(h1.phash ^ hn.phash)
    assert(dNear <= 8, s"near-dup hamming $dNear")
    // a different texture: independent bits, ~32 of 64 apart
    val other = Multimodal.buildPatternPng(4, noiseSeed = 300L, noiseAmp = 0)
    val ho = Multimodal.perceptualHashOne(4L, other)
    val dFar = java.lang.Long.bitCount(h1.phash ^ ho.phash)
    assert(dFar >= 16, s"cross-texture hamming $dFar")
    val bad = Multimodal.perceptualHashOne(5L, Array[Byte](1, 2, 3))
    assert(!bad.ok && bad.phash === 0L)
  }

  test("pHash near-dup pairs: the chunk-blocked join equals the " +
    "brute-force hamming matrix on the registry's fixture set") {
    import spark.implicits._
    val assets = (0L until 48L).map { id =>
      val variant = (id / 12).toInt
      val amp = if (variant == 0) 0 else if (variant == 3) 8 else 4
      (id, Multimodal.buildPatternPng((id % 12).toInt, id, amp))
    }.toDF("doc_id", "payload").repartition(8)
    val fps = Multimodal.perceptualHashes(assets, "doc_id", "payload").toDF()
    val hashes = fps.where(col("ok"))
      .select(col("asset_id"), col("phash"))
      .as[(Long, Long)].collect().toMap
    assert(hashes.size === 48)
    val brute = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      d = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if d <= 8
    } yield (a, b, d.toLong)).toSet
    val banded = Dedup.fingerprintHammingPairs(fps, "asset_id", "phash",
      maxHamming = 8, metric = "phash_buckets")
      .as[(Long, Long, Long)].collect().toSet
    assert(banded === brute)
    // the planted structure: every same-texture pair is found, and every
    // found pair IS a same-texture pair (12 groups of 4 -> 72 pairs)
    assert(brute.size === 72)
    assert(brute.forall { case (a, b, _) => a % 12 === b % 12 })
    // clusters: the pairs close transitively into exactly the 12 texture
    // groups, labeled by their min member (the registry mm_phash_clusters
    // shape)
    val clusters = Dedup.connectedComponents(
      Dedup.fingerprintHammingPairs(fps, "asset_id", "phash",
        maxHamming = 8, metric = "phash_buckets"), "id_a", "id_b")
      .as[(Long, Long)].collect()
      .groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1).toSet }
    assert(clusters.size === 12)
    clusters.foreach { case (c, members) =>
      assert(members === (0L until 4L).map(v => c + v * 12).toSet,
        s"cluster $c: $members")
    }
  }

  test("audio segments: planted silence spans found exactly, runs merge, " +
    "bad payload drops") {
    import spark.implicits._
    // asset 0 of the registry fixture: segments j=0 and j=4 are silent
    // ((0 + 7j) % 4 == 0), each segment is exactly 4 non-overlapping
    // 256-sample frames -> runs silent[0-3] voiced[4-15] silent[16-19]
    // voiced[20-31]
    val assets = Seq(
      (0L, Multimodal.buildToneSequenceWav((0 until 8).map(j =>
        if ((j * 7) % 4 == 0) 0.0 else 300.0 + ((j * 3) % 12) * 250.0))),
      (1L, Array[Byte](1, 2, 3)) // undecodable
    ).toDF("doc_id", "payload")
    val segs = Multimodal.audioSegments(
      Multimodal.audioFrameEnergies(assets, "doc_id", "payload"))
      .orderBy("asset_id", "seg_no")
      .select("asset_id", "seg_no", "is_silent", "start_frame",
        "end_frame", "n_frames")
      .as[(Long, Long, Boolean, Long, Long, Long)].collect()
    assert(segs.toSeq === Seq(
      (0L, 1L, true, 0L, 3L, 4L), (0L, 2L, false, 4L, 15L, 12L),
      (0L, 3L, true, 16L, 19L, 4L), (0L, 4L, false, 20L, 31L, 12L)))
    // a silent frame's energy is EXACTLY zero on this fixture (freq 0 is
    // on the table grid), and voiced frames clear the 1000-ppm threshold
    // by orders of magnitude — threshold placement is not delicate
    val sq = Multimodal.audioFrameEnergies(assets, "doc_id", "payload")
      .where($"ok" && $"asset_id" === 0L)
      .select("sq").as[Long].collect()
    assert(sq.count(_ == 0L) === 8)
    assert(sq.filter(_ != 0L).forall(_ > 1000L * 256 * 1073741824L / 1000000L))
  }

  test("audio fingerprint: a clip matches its SOURCE at the expected " +
    "offset; wrong sources lose the vote; deterministic; bad payload ok=false") {
    import spark.implicits._
    def seqOf(id: Long) =
      (0 until 8).map(j => 300.0 + ((id * 7 + j * 3) % 12) * 250.0)
    val refs = (0L until 4L).map(id =>
      (id, Multimodal.buildToneSequenceWav(seqOf(id))))
      .toDF("doc_id", "payload")
    // probe = segments 2..5 of ref 1: landmark times shift by exactly
    // 2 * (1024 / 128) = 16 frames
    val probe = Seq((101L,
      Multimodal.buildToneSequenceWav(seqOf(1L).slice(2, 6))))
      .toDF("doc_id", "payload")
    val rfp = Multimodal.audioFingerprints(refs, "doc_id", "payload")
    val pfp = Multimodal.audioFingerprints(probe, "doc_id", "payload")
    val m = Multimodal.audioMatch(pfp, rfp)
      .as[(Long, Long, Long, Long)].collect()
    assert(m.length === 1)
    val (probeId, refId, offset, votes) = m.head
    assert(probeId === 101L && refId === 1L)
    assert(offset === 16L, s"offset $offset")
    // the aligned vote must dominate ANY (ref, offset) cell of the
    // other references
    val others = pfp.join(rfp.where($"asset_id" =!= 1L)
        .select($"asset_id".as("ref_id"), $"hash", $"t".as("rt")), "hash")
      .groupBy($"ref_id", ($"rt" - $"t").as("off"))
      .agg(count(lit(1)).as("v"))
      .agg(coalesce(max($"v"), lit(0L))).as[Long].collect().head
    assert(votes > others, s"aligned $votes vs best-other $others")
    // deterministic across runs
    val m2 = Multimodal.audioMatch(pfp, rfp)
      .as[(Long, Long, Long, Long)].collect()
    assert(m2.toSeq === m.toSeq)
    // undecodable payload yields the ok=false marker row
    val bad = Multimodal.audioFingerprintOne(7L, Array[Byte](1, 2, 3))
    assert(bad === Seq(Multimodal.AudioLandmark(7L, ok = false, 0L, 0L)))
  }
}
