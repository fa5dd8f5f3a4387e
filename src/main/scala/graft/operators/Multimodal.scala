package graft.operators

import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for a training-data pipeline: image/audio/
  * video travel as opaque `BINARY` payloads with a typed metadata struct;
  * decode / feature-extract / frame-sample run as partition-local batch
  * transforms (`mapPartitions` — the Scala analogue of a vectorized batch
  * UDF: one task per input split, batched row iteration, no driver hop).
  *
  * Codec status. STILL IMAGES and WAV AUDIO decode for REAL through the
  * JDK's own codecs (`javax.imageio` PNG/JPEG/BMP/GIF readers and
  * `javax.sound.sampled`'s WAV/PCM parser ship in the java.desktop
  * module — no external dependency): [[decodeImageFeatures]],
  * [[resizeImage]], [[decodeWavFeatures]]. VIDEO remains a documented
  * stub — no video codec exists on the JVM classpath — so
  * [[decodeFeatures]] (deterministic byte statistics) and
  * [[frameSample]] (byte-window sampling) keep the codec-free
  * byte-domain contract for it; swapping in a JNI/JavaCV codec changes
  * only the bytes→features function.
  */
object Multimodal {

  /** javax.imageio's default stream cache is a TEMP FILE per call: every
    * `ImageIO.read`/`write` over a plain byte stream creates and deletes a
    * disk-backed cache file while `ImageIO.getUseCache` is on (the JDK
    * default). All payloads here are in memory, so each call wraps its
    * stream in a memory cache itself and leaves the JVM-global flag alone:
    * the same bytes as the file-cached path, no filesystem I/O. */
  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val in = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(bytes))
    // ImageIO.read closes the stream once a reader takes it
    val img = ImageIO.read(in)
    if (img == null) in.close()
    img
  }

  /** `img` encoded as PNG through a memory-cached stream (see
    * [[readImage]]). */
  private def pngBytes(img: java.awt.image.RenderedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bos)
    try ImageIO.write(img, "png", out)
    finally out.close() // flushes into bos
    bos.toByteArray
  }

  /** Typed metadata carried beside every payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("kind", StringType),          // image | audio | video
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", LongType)))

  /** Manufacture a media table from any string column (UTF-8 bytes as the
    * opaque payload) — lets the pipeline be exercised on `documents`. */
  def asMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit("image").as("kind"),
        (length(col(textCol)) % 640).cast("int").as("width"),
        (length(col(textCol)) % 480).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (length(col(textCol)) * 10L).as("duration_ms")).as("meta"))

  private val featureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_bytes", LongType),
    StructField("mean_byte", DoubleType),
    StructField("features", ArrayType(FloatType)))) // 8-bin byte histogram

  /** Codec-FREE decode stand-in, batched per partition: deterministic
    * byte statistics in place of sample decoding. This is the path for
    * payloads with no JVM codec (video — see the codec-status note) and
    * the oracle-able mm1 pipeline; real still-image / WAV payloads use
    * [[decodeImageFeatures]] / [[decodeWavFeatures]]. */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id").cast("long"), col("payload")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          if (bytes == null) {
            // quarantined, not crashed and not dropped — the same stance
            // as the real decoders' decode_ok = false rows
            Row(id, null, null, null)
          } else {
            // --- STUB decoder start (deterministic fake, not a codec) ---
            val hist = new Array[Float](8)
            var sum = 0L
            var i = 0
            while (i < bytes.length) {
              val b = bytes(i) & 0xff
              hist(b >>> 5) += 1f
              sum += b
              i += 1
            }
            val n = math.max(1, bytes.length)
            var j = 0
            while (j < 8) { hist(j) /= n.toFloat; j += 1 }
            // --- STUB decoder end ---
            Row(id, bytes.length.toLong, sum.toDouble / n, hist.toSeq)
          }
        }
      }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** Synthesize REAL PNG payloads from relational columns: one solid
    * `(r, g, b)` image of `w × h` per row, encoded through ImageIO.
    * Deterministic bytes for given inputs; the building block that lets
    * an encode→decode round trip run under a relational oracle (mm2)
    * and gives specs/demos real payloads without external fixtures. */
  def renderSolidPng(df: DataFrame, idCol: Column, wCol: Column, hCol: Column,
      rgbCol: Column): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = df.select(idCol.cast("long"), wCol.cast("int"), hCol.cast("int"),
        rgbCol.cast("int")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val (w, h, rgb) = (math.max(1, r.getInt(1)), math.max(1, r.getInt(2)),
            r.getInt(3))
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          // TYPE_INT_RGB backs onto one int per pixel; bulk-filling the
          // raster's data array stores the identical 24-bit value per
          // pixel that the per-pixel setRGB loop did (INT_RGB's
          // DirectColorModel drops the top byte), without w×h
          // ColorModel conversions + bounds checks per image
          java.util.Arrays.fill(
            img.getRaster.getDataBuffer
              .asInstanceOf[java.awt.image.DataBufferInt].getData,
            rgb & 0xffffff)
          Row(r.getLong(0), pngBytes(img))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  private val imageFeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("decode_ok", BooleanType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_luma", DoubleType),
    StructField("features", ArrayType(FloatType)))) // 8-bin luma histogram

  /** REAL image decode + feature extraction through `javax.imageio`
    * (PNG/JPEG/BMP/GIF — the JDK's built-in readers): per payload, the
    * decoded dimensions, mean luminance (ITU-R BT.601 weights over the
    * ARGB pixels) and an 8-bin luminance histogram. Undecodable payloads
    * are KEPT with `decode_ok = false` and NULL features — the quarantine
    * pattern, never a silent drop. Partition-local batches; decoded
    * pixels never leave the task. */
  def decodeImageFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id").cast("long"), col("payload")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val img =
            try readImage(bytes)
            catch { case _: Throwable => null }
          if (img == null) Row(id, false, null, null, null, null)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val hist = new Array[Float](8)
            var sum = 0.0
            // bulk row reads: per-pixel getRGB(x, y) pays a ColorModel
            // conversion + bounds check per call — one reused row buffer
            // computes identical luma values at a fraction of the cost
            val rowBuf = new Array[Int](w)
            var y = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, rowBuf, 0, w)
              var x = 0
              while (x < w) {
                val p = rowBuf(x)
                val luma = 0.299 * ((p >> 16) & 0xff) +
                  0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)
                hist((luma / 32.0).toInt.min(7)) += 1f
                sum += luma
                x += 1
              }
              y += 1
            }
            val n = math.max(1, w * h)
            var j = 0
            while (j < 8) { hist(j) /= n.toFloat; j += 1 }
            Row(id, true, w, h, sum / n, hist.toSeq)
          }
        }
      }
    spark.createDataFrame(rdd, imageFeatureSchema)
  }

  /** REAL image resize: decode, scale to `(w, h)` via Graphics2D bilinear,
    * re-encode PNG. Binary-in binary-out, partition-local; undecodable
    * payloads map to NULL (filter or quarantine downstream). */
  def resizeImage(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = media.select(col("media_id").cast("long"), col("payload")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val img =
            try readImage(r.getAs[Array[Byte]](1))
            catch { case _: Throwable => null }
          if (img == null) Row(id, null)
          else {
            val out = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
            g.dispose()
            Row(id, pngBytes(out))
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  private val wavFeatureSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("decode_ok", BooleanType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_samples", LongType),
    StructField("duration_ms", LongType),
    StructField("rms", DoubleType)))

  /** REAL WAV/PCM decode through `javax.sound.sampled` (the JDK's RIFF
    * parser): sample rate, channel count, frame count, duration and the
    * RMS amplitude of the 16-bit samples (normalized to [0, 1]).
    * Undecodable payloads keep `decode_ok = false`. Degraded decodes stay
    * distinguishable from silence: `rms` is null (not 0.0) when the format
    * is not 16-bit, and `n_samples`/`duration_ms` are null when the header
    * does not state a frame length (`getFrameLength` = NOT_SPECIFIED). */
  def decodeWavFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id").cast("long"), col("payload")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          try {
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
            val fmt = in.getFormat
            val frames = in.getFrameLength
            val data = in.readAllBytes()
            in.close()
            var sumSq = 0.0
            var n = 0L
            val signed16 = fmt.getSampleSizeInBits == 16 &&
              fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
            if (signed16) {
              val le = !fmt.isBigEndian
              var i = 0
              while (i + 1 < data.length) {
                val s =
                  if (le) ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
                  else ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                val v = s / 32768.0
                sumSq += v * v
                n += 1
                i += 2
              }
            }
            val rate = fmt.getSampleRate.toInt
            val nSamples: java.lang.Long = if (frames >= 0) Long.box(frames) else null
            val durMs: java.lang.Long =
              if (frames >= 0 && rate > 0) Long.box(frames * 1000L / rate) else null
            // degraded decodes stay distinguishable: the signed-16 math
            // covers only PCM_SIGNED — any other encoding reports null
            val rms: java.lang.Double =
              if (signed16 && n > 0) Double.box(math.sqrt(sumSq / n))
              else null
            Row(id, true, rate, fmt.getChannels, nSamples, durMs, rms)
          } catch {
            case _: Throwable => Row(id, false, null, null, null, null, null)
          }
        }
      }
    spark.createDataFrame(rdd, wavFeatureSchema)
  }

  private val aHashSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("ahash", LongType)))

  /** 60-bit byte-domain AVERAGE hash — the oracle-able perceptual-hash
    * twin (the mm1 stub-decoder convention): the payload is cut into 60
    * contiguous byte windows (window w spans [⌊w·n/60⌋, ⌊(w+1)·n/60⌋));
    * bit w is set iff the window's mean byte exceeds the payload's global
    * mean byte. Exactly the classic aHash shape with byte windows in
    * place of pixel blocks, so every step is integer arithmetic DuckDB
    * replays verbatim (mm3's oracle recovers the bytes from the hex dump
    * like mm1). The mean comparison cross-multiplies integers
    * (sumW·n > sumT·len — exact; bounded for payloads < ~1.4 GB, the
    * JVM byte[] ceiling anyway). 60 bits, not 64, keeps the hash a
    * positive long on both engines (the hash60 convention — bit 63
    * would sign-flip BIGINT comparisons). Payloads shorter than 60
    * bytes hash NULL (no window structure to compare) — filter or
    * quarantine downstream. Partition-local batches, no shuffle. */
  def byteAHash(media: DataFrame): DataFrame = {
    val windows = 60
    val spark = media.sparkSession
    val rdd = media.select(col("media_id").cast("long"), col("payload")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          if (bytes == null || bytes.length < windows) Row(id, null)
          else {
            val n = bytes.length.toLong
            var total = 0L
            var i = 0
            while (i < bytes.length) { total += bytes(i) & 0xff; i += 1 }
            var bits = 0L
            var w = 0
            while (w < windows) {
              val s = (w.toLong * n / windows).toInt
              val e = ((w + 1).toLong * n / windows).toInt
              var sw = 0L
              var j = s
              while (j < e) { sw += bytes(j) & 0xff; j += 1 }
              // sw/(e−s) > total/n ⇔ sw·n > total·(e−s), exactly
              if (sw * n > total * (e - s)) bits |= 1L << w
              w += 1
            }
            Row(id, bits)
          }
        }
      }
    spark.createDataFrame(rdd, aHashSchema)
  }

  private val phashSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("decode_ok", BooleanType),
    StructField("phash", LongType)))

  /** REAL perceptual hash — the classic DCT pHash (Zauner 2010) through
    * the JDK codecs: decode (`javax.imageio`), bilinear-resize to 32×32,
    * BT.601 luma, 2-D DCT-II, keep the top-left 8×8 low-frequency block,
    * bit(u,v) = coefficient > median of the 63 AC coefficients (the DC
    * bit stays 0 — overall brightness must not vote). Hamming distance
    * ≲ 10 of the 64 bits ≈ perceptually near-identical; band the hash
    * like [[graft.operators.Dedup.simhashNearPairs]] for the pair scan.
    * Undecodable payloads keep `decode_ok = false` with a NULL hash —
    * the quarantine pattern. Partition-local; pixels never leave the
    * task. (The catalog exercises the byte-domain twin [[byteAHash]]
    * instead — a DCT over decoded pixels has no relational oracle; this
    * real path is spec-pinned on rendered PNGs in MultimodalSpec.) */
  def phash64(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col("media_id").cast("long"), col("payload")).rdd
      .mapPartitions { it =>
        // DCT basis for N=32, built once per task: cos((2x+1)·u·π/64)
        val N = 32
        val cosT = Array.tabulate(N, N)((u, x) =>
          math.cos((2 * x + 1) * u * math.Pi / (2.0 * N)))
        it.map { r =>
          val id = r.getLong(0)
          val img =
            try readImage(r.getAs[Array[Byte]](1))
            catch { case _: Throwable => null }
          if (img == null) Row(id, false, null)
          else {
            val small = new java.awt.image.BufferedImage(N, N,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = small.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, N, N, null)
            g.dispose()
            val luma = Array.ofDim[Double](N, N)
            val rowBuf = new Array[Int](N)
            var y = 0
            while (y < N) {
              small.getRGB(0, y, N, 1, rowBuf, 0, N)
              var x = 0
              while (x < N) {
                val p = rowBuf(x)
                luma(y)(x) = 0.299 * ((p >> 16) & 0xff) +
                  0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)
                x += 1
              }
              y += 1
            }
            // separable 2-D DCT-II of the low-frequency 8×8 block only:
            // 64 coefficients × O(N²) each — trivial beside the decode.
            // Orthonormal form (the 1/√2 factors on u=0 / v=0): without
            // them row/column-0 coefficients run √2 hot relative to the
            // rest and the cross-coefficient median threshold diverges
            // from canonical pHash implementations — the hashes here are
            // comparable against externally computed pHashes
            val inv2 = 1.0 / math.sqrt(2.0)
            val coef = new Array[Double](64)
            var u = 0
            while (u < 8) {
              var v = 0
              while (v < 8) {
                var s = 0.0
                var yy = 0
                while (yy < N) {
                  var xx = 0
                  val cu = cosT(u)(yy)
                  while (xx < N) { s += cu * cosT(v)(xx) * luma(yy)(xx); xx += 1 }
                  yy += 1
                }
                coef(u * 8 + v) = s * (2.0 / N) *
                  (if (u == 0) inv2 else 1.0) * (if (v == 0) inv2 else 1.0)
                v += 1
              }
              u += 1
            }
            val ac = coef.drop(1).sorted
            val median = ac(31) // lower median of the 63 AC coefficients
            var bits = 0L
            var k = 1
            while (k < 64) {
              if (coef(k) > median) bits |= 1L << k
              k += 1
            }
            Row(id, true, bits)
          }
        }
      }
    spark.createDataFrame(rdd, phashSchema)
  }

  private val wavFpSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("decode_ok", BooleanType),
    StructField("fingerprint", LongType)))

  /** REAL audio fingerprint over WAV/PCM through `javax.sound.sampled`
    * (the decode path of [[decodeWavFeatures]]): the signed-16-bit sample
    * stream is cut into 60 contiguous windows (window w spans
    * [⌊w·n/60⌋, ⌊(w+1)·n/60⌋) samples); bit w is set iff the window's
    * mean ABSOLUTE amplitude exceeds the clip's global mean absolute
    * amplitude — the energy-envelope analogue of [[byteAHash]], and the
    * shape of classic audio fingerprints (per-band energy bits, Haitsma
    * & Kalker 2002) reduced to the one band the JDK decodes. The mean
    * comparison cross-multiplies integer sums (sw·n > total·wlen —
    * exact; bounded for clips < ~1.3×10⁸ samples, where
    * 2¹⁵·n²/60 < 2⁶³). 60 bits keeps the print a positive long (the
    * hash60 convention); band with [[graft.operators.Dedup
    * .simhashNearPairs]] exactly like the image pHash for the near-dup
    * pair scan. Non-16-bit/undecodable payloads and clips shorter than
    * 60 samples keep `decode_ok = false` with a NULL print — quarantine,
    * never a silent drop. Partition-local; samples never leave the task.
    * (The catalog exercises the byte-domain twin [[bytePcmFingerprint]] —
    * a codec decode has no relational oracle; this real path is
    * spec-pinned on synthesized WAVs in MultimodalSpec, the mm3
    * convention.) */
  def wavFingerprint(media: DataFrame): DataFrame = {
    val windows = 60
    val spark = media.sparkSession
    val rdd = media.select(col("media_id").cast("long"), col("payload")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          try {
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
            val fmt = in.getFormat
            val data = in.readAllBytes()
            in.close()
            val signed16 = fmt.getSampleSizeInBits == 16 &&
              fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
            val n = data.length / 2
            if (!signed16 || n < windows) Row(id, false, null)
            else {
              val le = !fmt.isBigEndian
              val abs = new Array[Int](n)
              var total = 0L
              var i = 0
              while (i < n) {
                val s =
                  if (le) ((data(2 * i + 1) << 8) | (data(2 * i) & 0xff)).toShort
                  else ((data(2 * i) << 8) | (data(2 * i + 1) & 0xff)).toShort
                val a = math.abs(s.toInt)
                abs(i) = a
                total += a
                i += 1
              }
              var bits = 0L
              var w = 0
              while (w < windows) {
                val st = (w.toLong * n / windows).toInt
                val en = ((w + 1).toLong * n / windows).toInt
                var sw = 0L
                var j = st
                while (j < en) { sw += abs(j); j += 1 }
                if (sw * n > total * (en - st)) bits |= 1L << w
                w += 1
              }
              Row(id, true, bits)
            }
          } catch {
            case _: Throwable => Row(id, false, null)
          }
        }
      }
    spark.createDataFrame(rdd, wavFpSchema)
  }

  private val pcmFpSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("fingerprint", LongType)))

  /** 60-bit byte-domain PCM fingerprint — the oracle-able twin of
    * [[wavFingerprint]] (the byteAHash/mm3 convention): the raw payload
    * bytes are read as signed-16-bit LITTLE-ENDIAN samples (a headerless
    * PCM view; a trailing odd byte is ignored), then the identical
    * 60-window energy-envelope bits are computed — window mean |sample|
    * vs global mean |sample|, cross-multiplied exactly. Every step is
    * integer arithmetic a DuckDB oracle replays verbatim from the hex
    * dump. Payloads with fewer than 60 samples (120 bytes) print NULL.
    * Same overflow bound as the real path (< ~1.3×10⁸ samples). */
  def bytePcmFingerprint(media: DataFrame): DataFrame = {
    val windows = 60
    val spark = media.sparkSession
    val rdd = media.select(col("media_id").cast("long"), col("payload")).rdd
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val n = if (bytes == null) 0 else bytes.length / 2
          if (n < windows) Row(id, null)
          else {
            val abs = new Array[Int](n)
            var total = 0L
            var i = 0
            while (i < n) {
              val s = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort
              val a = math.abs(s.toInt)
              abs(i) = a
              total += a
              i += 1
            }
            var bits = 0L
            var w = 0
            while (w < windows) {
              val st = (w.toLong * n / windows).toInt
              val en = ((w + 1).toLong * n / windows).toInt
              var sw = 0L
              var j = st
              while (j < en) { sw += abs(j); j += 1 }
              if (sw * n > total * (en - st)) bits |= 1L << w
              w += 1
            }
            Row(id, bits)
          }
        }
      }
    spark.createDataFrame(rdd, pcmFpSchema)
  }

  /** Frame-sample: every `stride`-th fixed-size byte window of the payload
    * as its own row (video → frames). Pure built-ins (posexplode over a
    * computed slice index) — stays in codegen, no UDF. */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = greatest(lit(0),
      ((length(col("payload")) - frameBytes) / stride + 1).cast("int"))
    media
      .select(col("media_id"), col("payload"), nFrames.as("n_frames"))
      .filter(col("n_frames") > 0)
      .select(col("media_id"),
        posexplode(transform(sequence(lit(0), col("n_frames") - 1),
          i => substring(col("payload"), (i * stride + 1).cast("int"), lit(frameBytes))))
          .as(Seq("frame_idx", "frame")))
  }
}
