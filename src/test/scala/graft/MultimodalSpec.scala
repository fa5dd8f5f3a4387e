package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Multimodal.asMedia(
    Seq((1L, "abcdefghij"), (2L, "zz")).toDF("id", "text"), "id", "text")

  test("asMedia produces binary payload + typed metadata struct") {
    val r = media.orderBy("media_id").collect()
    assert(r(0).getAs[Array[Byte]]("payload").toSeq == "abcdefghij".getBytes("UTF-8").toSeq)
    val meta = r(0).getStruct(2)
    assert(meta.getString(0) == "image" && meta.getInt(3) == 16000)
    assert(media.schema("payload").dataType.typeName == "binary")
  }

  test("decodeFeatures: stub decoder emits stable per-payload features") {
    val f = Multimodal.decodeFeatures(media).orderBy("media_id").collect()
    assert(f(0).getLong(1) == 10L) // n_bytes
    // 'a'..'j' = 97..106, mean 101.5
    assert(math.abs(f(0).getDouble(2) - 101.5) < 1e-12)
    val hist = f(0).getSeq[Float](3)
    assert(hist.length == 8 && math.abs(hist.sum - 1.0f) < 1e-6)
    assert(hist(3) == 1.0f) // all bytes in bin 96..127
    // determinism across partitionings
    val f2 = Multimodal.decodeFeatures(media.repartition(5)).orderBy("media_id").collect()
    assert(f.map(_.toString).toSeq == f2.map(_.toString).toSeq)
  }

  test("frameSample slices strided fixed-size frames; short payloads drop out") {
    val frames = Multimodal.frameSample(media, frameBytes = 4, stride = 3)
      .orderBy("media_id", "frame_idx").collect()
    // payload len 10: frames at offsets 0,3,6 -> 3 frames; len 2 -> none
    assert(frames.forall(_.getLong(0) == 1L))
    assert(frames.length == 3)
    assert(new String(frames(1).getAs[Array[Byte]]("frame")) == "defg")
  }

  test("resizeStub crops or zero-pads to the target size") {
    val out = media.select(col("media_id"),
        Multimodal.resizeStub(col("payload"), 4).as("r"))
      .orderBy("media_id").collect()
    assert(new String(out(0).getAs[Array[Byte]]("r")) == "abcd")
    val padded = out(1).getAs[Array[Byte]]("r")
    assert(padded.length == 4 && padded(2) == 0 && padded(3) == 0)
  }

  // ----- real codecs (java.desktop: ImageIO + javax.sound) ---------------

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("decodeImageFeatures: real PNG decode — exact dims, luma, quarantine") {
    // mid-gray 16x9 (luma 128) + pure white 4x4 (luma 255) + garbage bytes
    val df = Seq(
      (1L, pngBytes(16, 9, 0x808080)),
      (2L, pngBytes(4, 4, 0xffffff)),
      (3L, Array[Byte](1, 2, 3, 4)))
      .toDF("media_id", "payload")
    val got = Multimodal.decodeImageFeatures(df).orderBy("media_id").collect()
    assert(got(0).getBoolean(1) && got(0).getInt(2) == 16 && got(0).getInt(3) == 9)
    assert(math.abs(got(0).getDouble(4) - 128.0) < 0.5)
    assert(got(1).getInt(2) == 4 && math.abs(got(1).getDouble(4) - 255.0) < 0.5)
    val hist = got(1).getSeq[Float](5)
    assert(hist(7) == 1.0f && hist.sum == 1.0f) // all-white -> top luma bin
    assert(!got(2).getBoolean(1) && got(2).isNullAt(2)) // quarantined, kept
  }

  test("resizeImage: re-encoded payload decodes at the target dimensions") {
    val df = Seq((1L, pngBytes(32, 20, 0x4080c0))).toDF("media_id", "payload")
    val resized = Multimodal.resizeImage(df, 8, 5)
    val feats = Multimodal.decodeImageFeatures(resized).collect()(0)
    assert(feats.getBoolean(1) && feats.getInt(2) == 8 && feats.getInt(3) == 5)
    // constant-color image: bilinear resize preserves the color, so luma too
    val orig = Multimodal.decodeImageFeatures(df).collect()(0)
    assert(math.abs(feats.getDouble(4) - orig.getDouble(4)) < 1.0)
  }

  private def wavBytes(rate: Int, samples: Array[Short]): Array[Byte] = {
    val data = new Array[Byte](samples.length * 2)
    samples.indices.foreach { i =>
      data(2 * i) = (samples(i) & 0xff).toByte
      data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("the image codecs leave ImageIO's JVM-global cache flag alone") {
    val df = Seq((1L, pngBytes(8, 8, 0x336699)), (2L, Array[Byte](1, 2, 3)))
      .toDF("media_id", "payload")
    Multimodal.decodeImageFeatures(df).collect()
    Multimodal.resizeImage(df, 4, 4).collect()
    Multimodal.phash64(df).collect()
    Multimodal.renderSolidPng(Seq((1L, 3, 2, 0xff0000)).toDF("id", "w", "h", "rgb"),
      col("id"), col("w"), col("h"), col("rgb")).collect()
    // the JDK default; a task that flips it changes every ImageIO user
    assert(javax.imageio.ImageIO.getUseCache)
  }

  test("decodeWavFeatures: real WAV parse — rate, duration, RMS of a square wave") {
    // 8000 Hz, 4000 samples (500 ms) of a full-scale square wave: rms = 1
    val square = Array.tabulate(4000)(i =>
      if (i % 2 == 0) Short.MaxValue else (-Short.MaxValue).toShort)
    val df = Seq(
      (1L, wavBytes(8000, square)),
      (2L, Array[Byte](9, 9, 9)))
      .toDF("media_id", "payload")
    val got = Multimodal.decodeWavFeatures(df).orderBy("media_id").collect()
    assert(got(0).getBoolean(1) && got(0).getInt(2) == 8000)
    assert(got(0).getInt(3) == 1 && got(0).getLong(4) == 4000L)
    assert(got(0).getLong(5) == 500L)
    assert(math.abs(got(0).getDouble(6) - 1.0) < 1e-3)
    assert(!got(1).getBoolean(1)) // not a RIFF stream -> quarantined
  }

  test("wavFingerprint: energy-envelope bits of a two-level clip, exact") {
    // 6000 samples: first half amplitude 1000, second half 20000 (square
    // waves — sign alternates, |sample| is the level). Window w spans
    // [100w, 100(w+1)): windows 0-29 sit below the global mean |sample|
    // (10500), 30-59 above -> fingerprint = bits 30..59 = 2^60 - 2^30
    val quiet = 1000
    val loud = 20000
    val samples = Array.tabulate(6000) { i =>
      val a = if (i < 3000) quiet else loud
      (if (i % 2 == 0) a else -a).toShort
    }
    val df = Seq(
      (1L, wavBytes(8000, samples)),
      (2L, Array[Byte](9, 9, 9)),                      // not RIFF
      (3L, wavBytes(8000, Array.fill(30)(100.toShort)))) // < 60 samples
      .toDF("media_id", "payload")
    val got = Multimodal.wavFingerprint(df).orderBy("media_id").collect()
    assert(got(0).getBoolean(1))
    assert(got(0).getLong(2) == (1L << 60) - (1L << 30))
    assert(!got(1).getBoolean(1) && got(1).isNullAt(2)) // quarantined
    assert(!got(2).getBoolean(1) && got(2).isNullAt(2)) // no window structure
  }

  test("bytePcmFingerprint equals wavFingerprint on the same PCM samples") {
    // the byte-domain twin reads headerless signed-16-LE PCM — on the raw
    // sample bytes it must reproduce the real decoder's bits exactly,
    // negative samples included
    val rng = new scala.util.Random(7)
    val samples = Array.fill(500)((rng.nextInt(65536) - 32768).toShort)
    val raw = new Array[Byte](samples.length * 2)
    samples.indices.foreach { i =>
      raw(2 * i) = (samples(i) & 0xff).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
    }
    val real = Multimodal.wavFingerprint(
      Seq((1L, wavBytes(8000, samples))).toDF("media_id", "payload"))
      .collect()(0).getLong(2)
    val twin = Multimodal.bytePcmFingerprint(
      Seq((1L, raw)).toDF("media_id", "payload"))
      .collect()(0).getLong(1)
    assert(real == twin)
    // short payload (< 120 bytes = 60 samples) prints NULL
    val short = Multimodal.bytePcmFingerprint(
      Seq((2L, Array.fill[Byte](118)(3))).toDF("media_id", "payload")).collect()(0)
    assert(short.isNullAt(1))
  }

  test("wavFingerprint near-dup: one perturbed window -> hamming 1, banded pair found") {
    import graft.operators.Dedup
    val base = Array.tabulate(6000) { i =>
      val a = if (i < 3000) 1000 else 20000
      (if (i % 2 == 0) a else -a).toShort
    }
    // silence the last window (samples 5900..5999): bit 59 flips off
    val near = base.clone()
    (5900 until 6000).foreach(i => near(i) = 0)
    val prints = Multimodal.wavFingerprint(Seq(
        (1L, wavBytes(8000, base)), (2L, wavBytes(8000, near)))
        .toDF("media_id", "payload"))
      .select(col("media_id").as("doc_id"), col("fingerprint").as("simhash"))
    val pairs = Dedup.simhashNearPairs(prints, bits = 60, bandBits = 4,
      maxHamming = 12, maxBucket = 1000).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("doc_a") == 1L &&
      pairs(0).getAs[Long]("doc_b") == 2L)
    assert(pairs(0).getAs[Int]("hamming") == 1)
  }

  /** Deterministic 64×64 tiled PNG (8×8 grid of solid tiles, brightness
    * (3·tx + 5·ty) mod 16 × 17) — a frequency-RICH fixture whose 8×8
    * low-frequency DCT coefficients are well separated (a plain gradient
    * concentrates all energy on one axis, leaving most coefficients ≈ 0
    * and the sign bits noise-dominated — the degenerate pHash input).
    * `flip` inverts brightness; `noise` XOR-perturbs a sparse pixel
    * subset (a mild re-encode-style change a perceptual hash must shrug
    * off). */
  private def tilePng(flip: Boolean, noise: Boolean): Array[Byte] = {
    val n = 64
    val img = new java.awt.image.BufferedImage(n, n,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until n).foreach { y =>
      (0 until n).foreach { x =>
        val v0 = ((3 * (x / 8) + 5 * (y / 8)) % 16) * 17
        val v = if (flip) 255 - v0 else v0
        val vv = if (noise && (x * 31 + y * 17) % 97 == 0) v ^ 0x18 else v
        img.setRGB(x, y, (vv << 16) | (vv << 8) | vv)
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("phash64: identical images hash equal, noise is near, inversion is far") {
    val df = Seq(
      (1L, tilePng(flip = false, noise = false)),
      (2L, tilePng(flip = false, noise = false)), // identical twin
      (3L, tilePng(flip = false, noise = true)),  // perceptually same
      (4L, tilePng(flip = true, noise = false)),  // inverted: different
      (5L, Array[Byte](1, 2, 3)))                 // undecodable
      .toDF("media_id", "payload")
    val h = Multimodal.phash64(df).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L)._2.get == h(2L)._2.get, "identical images must hash equal")
    assert(ham(h(1L)._2.get, h(3L)._2.get) <= 10,
      s"sparse noise must stay near: ${ham(h(1L)._2.get, h(3L)._2.get)}")
    assert(ham(h(1L)._2.get, h(4L)._2.get) >= 16,
      s"inverted gradient must land far: ${ham(h(1L)._2.get, h(4L)._2.get)}")
    assert(!h(5L)._1 && h(5L)._2.isEmpty, "undecodable payload quarantined")
    // determinism across partitionings
    val h2 = Multimodal.phash64(df.repartition(4)).collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(h.forall { case (k, (_, v)) => h2(k) == v })
  }

  test("byteAHash: 60-bit positive hash; equal payloads equal, short payloads NULL") {
    val base = "the quick brown fox jumps over the lazy dog " * 4 // 180 bytes
    val df = Seq(
      (1L, base), (2L, base),
      (3L, base.dropRight(9) + "WOLF PACK"), // tail perturbation: near
      (4L, "short"))                          // < 60 bytes -> NULL
      .toDF("id", "text")
    val h = Multimodal.byteAHash(Multimodal.asMedia(df, "id", "text"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(h(1L) == h(2L) && h(1L).nonEmpty)
    assert(h(1L).get >= 0L, "bit 60-63 never set: hash stays a positive long")
    assert(h(4L).isEmpty, "payloads under 60 bytes hash NULL")
    val hm = java.lang.Long.bitCount(h(1L).get ^ h(3L).get)
    assert(hm <= 12, s"tail edit should move few windows: hamming $hm")
    // hand-check one window against the definition: bit 0 is window
    // [0, n/60) vs global mean, integer cross-multiplied
    val bytes = base.getBytes("UTF-8")
    val n = bytes.length.toLong
    val total = bytes.map(_ & 0xff).map(_.toLong).sum
    val e = (n / 60).toInt
    val sw = bytes.take(e).map(_ & 0xff).map(_.toLong).sum
    val expectBit0 = sw * n > total * e
    assert(((h(1L).get & 1L) == 1L) == expectBit0)
  }

  test("codec behavior PIN: ImageIO / javax.sound round trips are bit-stable " +
      "(r12 verdict #5 — a JDK codec change must fail HERE, loudly)") {
    // The mm3/mm4 real paths (DCT pHash, WAV energy envelope) are pinned
    // by THIS suite's rendered fixtures, not by a relational oracle — so
    // a JDK upgrade that changes ImageIO's PNG decode or javax.sound's
    // WAV framing would silently re-baseline every perceptual hash. These
    // two checksums pin the decoded PIXELS/PCM of the suite's own
    // fixtures (behavior, not a version string; pinned on JDK 17.0.20).
    // Regen flow on a deliberate JDK move: run `jshell` over the same
    // render→encode→decode→h*31+byte fold (or temporarily print the
    // `got` values here), update the two constants, and note the JDK in
    // BASELINE.md so the golden provenance stays auditable.
    val png = tilePng(flip = false, noise = false)
    val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    var h = 0L
    (0 until dec.getHeight).foreach { y =>
      (0 until dec.getWidth).foreach { x =>
        h = h * 31L + (dec.getRGB(x, y) & 0xffffff)
      }
    }
    assert(h == 3596182840866209792L,
      s"ImageIO PNG round-trip pixels drifted (got $h): the mm3 pHash " +
        "golden basis changed — re-pin deliberately, never silently")

    val samples = Array.tabulate(6000) { i =>
      val a = if (i < 3000) 1000 else 20000
      (if (i % 2 == 0) a else -a).toShort
    }
    val wav = wavBytes(8000, samples)
    val rais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(rais.getFormat.getSampleRate == 8000f)
    val pcm = rais.readAllBytes()
    var hw = 0L
    pcm.foreach(b => hw = hw * 31L + (b & 0xff))
    assert(pcm.length == 12000 && hw == -8262856200505264312L,
      s"javax.sound WAV round-trip PCM drifted (got $hw, n=${pcm.length}): " +
        "the mm4 envelope golden basis changed — re-pin deliberately")
  }
}
