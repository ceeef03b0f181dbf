package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (binary-column) support: sources, byte-level operators, and
  * the decode plumbing for image/audio/video payloads (SURVEY S4/S6/S8/U1).
  *
  * Reference behavior: the pipeline's core loop is fetch-bytes → PIL decode
  * (reference: train/common/dataset.py:271-281,
  * train/train_OOTDiffusion/dataloader.py:75-83). Spark-first design:
  *
  *  - bytes are an opaque `binary` column flowing through the relational
  *    plan; metadata (path, length, format, dimensions) are derived typed
  *    columns computed by codegen'd expressions, so filtering/joining on
  *    metadata NEVER decodes payloads (column pruning keeps `content`
  *    unread until a consumer asks for it — the 100-TB discipline);
  *  - header parsing (magic sniff, PNG/BMP/GIF dimensions) is pure
  *    substring/conv arithmetic on the first bytes — no UDF;
  *  - full pixel decode happens only at the `mapPartitions` edge
  *    ([[decodeImages]]): a REAL codec (`javax.imageio`, stock JDK —
  *    PNG/JPEG/BMP/GIF with zero new dependencies) behind the same
  *    partition-iteration shape; video is REALLY demuxed for Y4M
  *    containers ([[y4mFrames]]/[[demuxY4m]] — raw planar YUV needs no
  *    codec), with fixed-size byte slicing as the documented fallback
  *    for compressed containers this environment doesn't ship.
  */
object Multimodal {

  /** S4/S6: whole-object source — one row per file with
    * (path, modificationTime, length, content). Metadata-only queries prune
    * `content` and never read payload bytes (binaryFile reads lazily).
    */
  def binarySource(spark: SparkSession, path: String,
                   globFilter: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", globFilter)
      .load(path)

  /** Byte length of a binary column (no decode). */
  def contentLength(c: Column): Column = length(c)

  /** md5 fingerprint of a binary column (no decode). */
  def contentMd5(c: Column): Column = md5(c)

  /** Magic-byte format sniff over the leading bytes — pure expression.
    * Recognizes the formats the reference pipeline stores (png/jpg/bmp,
    * .npy pose arrays) plus gif/riff.
    */
  def magicFormat(c: Column): Column = {
    val head = upper(hex(substring(c, 1, 8)))
    when(head.startsWith("89504E47"), "png")
      .when(head.startsWith("FFD8FF"), "jpeg")
      .when(head.startsWith("474946383"), "gif")
      .when(head.startsWith("424D"), "bmp")
      .when(head.startsWith("52494646"), "riff")
      .when(head.startsWith("934E554D5059"), "npy") // \x93NUMPY
      .otherwise("unknown")
  }

  /** PNG pixel dimensions from the IHDR chunk (bytes 17-24, big-endian
    * u32 width then height) — header-only, no decode, codegen'd.
    */
  def pngWidth(c: Column): Column =
    conv(hex(substring(c, 17, 4)), 16, 10).cast("int")

  def pngHeight(c: Column): Column =
    conv(hex(substring(c, 21, 4)), 16, 10).cast("int")

  /** Serialize (width, height) into a minimal PNG header prefix
    * (magic + IHDR length/type + dimensions): the inverse of
    * [[pngWidth]]/[[pngHeight]], used by fixtures and round-trip tests.
    */
  def pngHeader(width: Column, height: Column): Column =
    concat(
      unhex(lit("89504E470D0A1A0A" + "0000000D" + "49484452")),
      unhex(lpad(hex(width.cast("long")), 8, "0")),
      unhex(lpad(hex(height.cast("long")), 8, "0")))

  /** Little-endian integer serialized to `nBytes` bytes — pure expression
    * (byte i of the value, hex-dumped, concatenated low-byte-first).
    */
  private def le(c: Column, nBytes: Int): Column =
    unhex(concat((0 until nBytes).map(i =>
      lpad(hex(shiftright(c.cast("long"), 8 * i) % 256), 2, "0")): _*))

  /** Little-endian unsigned integer parsed from `nBytes` bytes at 1-based
    * offset `off` — the inverse of [[le]], still pure substring/conv
    * arithmetic (no decode, codegen'd).
    */
  private def leInt(c: Column, off: Int, nBytes: Int): Column =
    conv(concat(((nBytes - 1) to 0 by -1).map(i =>
      hex(substring(c, off + i, 1))): _*), 16, 10).cast("long")

  /** BMP pixel dimensions (BITMAPINFOHEADER: signed LE 32-bit at byte
    * offsets 19/23) — header-only, no decode.
    */
  def bmpWidth(c: Column): Column = leInt(c, 19, 4).cast("int")
  def bmpHeight(c: Column): Column = leInt(c, 23, 4).cast("int")

  /** GIF logical-screen dimensions (LE u16 at offsets 7/9). */
  def gifWidth(c: Column): Column = leInt(c, 7, 2).cast("int")
  def gifHeight(c: Column): Column = leInt(c, 9, 2).cast("int")

  /** Minimal BMP header prefix (magic + sizes + dims) — [[bmpWidth]]'s
    * inverse for fixtures/round-trips.
    */
  def bmpHeader(width: Column, height: Column): Column =
    concat(unhex(lit("424D")), le(lit(0), 8), le(lit(54), 4), le(lit(40), 4),
      le(width, 4), le(height, 4))

  /** Minimal GIF89a header prefix — [[gifWidth]]'s inverse. */
  def gifHeader(width: Column, height: Column): Column =
    concat(unhex(lit("474946383961")), le(width, 2), le(height, 2))

  /** A COMPLETE, decodable 24-bpp uncompressed BMP of constant gray level
    * `gray` (0-255) — header + padded pixel rows, built entirely from pure
    * hex-string expressions (codegen'd, no UDF). Unlike the header-prefix
    * helpers this is a real image any codec can open: it lets an
    * oracle-checked query drive the [[decodeImages]] ImageIO edge end-to-end
    * from table columns alone (the oracle recomputes width/height/mean-luma
    * arithmetically, u1d_decoded_dims). BMP is the one mainstream format
    * whose pixel section is raw bytes — no compressor needed in SQL.
    */
  def bmpImage(width: Column, height: Column, gray: Column): Column = {
    val w = width.cast("long")
    val rowBytes = floor((w * 3 + lit(3)) / 4).cast("long") * 4
    val pad = (rowBytes - w * 3).cast("int")
    val dataSize = (rowBytes * height.cast("long")).cast("long")
    val byteHex = lpad(hex(gray.cast("long") % 256), 2, "0")
    // 24-bpp pixel = 3 bytes (B,G,R — equal for gray); rows are identical
    // (constant color): repeat(pixel, w) + row padding, then the whole row
    // repeated h times — column-valued repeat counts via the SQL repeat
    // function
    val pixHex = concat(byteHex, byteHex, byteHex)
    val rowHex = concat(
      call_function("repeat", pixHex, width.cast("int")),
      call_function("repeat", lit("00"), pad))
    concat(
      unhex(lit("424D")),            // "BM"
      le(dataSize + 54, 4),          // file size
      le(lit(0), 4),                 // reserved
      le(lit(54), 4),                // pixel-data offset
      le(lit(40), 4),                // BITMAPINFOHEADER size
      le(width, 4),
      le(height, 4),
      le(lit(1), 2),                 // planes
      le(lit(24), 2),                // bits per pixel
      le(lit(0), 4),                 // BI_RGB (uncompressed)
      le(dataSize, 4),
      le(lit(0), 16),                // ppm + palette fields
      unhex(call_function("repeat", rowHex, height.cast("int"))))
  }

  /** A COMPLETE 24-bpp BMP with a PER-ROW constant gray level — the
    * [[bmpImage]] builder generalized from one flat color to a vertical
    * profile: visual row r (top-down) is filled with `rowGrays[r]` (wrapped
    * into 0..255). Still pure hex-string expressions, still decodable by
    * any codec. This is the fixture shape the perceptual-hash operators
    * need under oracle check: a row-profile image's dHash is recomputable
    * arithmetically from the gray array, while the engine computes it from
    * REAL decoded pixels ([[imageDHashById]]).
    *
    * BMP stores pixel rows BOTTOM-UP (positive-height DIB), so the rows
    * serialize in reverse array order; decoders hand back `rowGrays[0]` as
    * the top row (asserted in MultimodalSpec).
    */
  def bmpImageRows(width: Column, rowGrays: Column): Column = {
    val w = width.cast("long")
    val h = size(rowGrays)
    val rowBytes = floor((w * 3 + lit(3)) / 4).cast("long") * 4
    val pad = (rowBytes - w * 3).cast("int")
    val dataSize = (rowBytes * h.cast("long")).cast("long")
    val rowsHex = transform(reverse(rowGrays), g => {
      val byteHex = lpad(hex(pmod(g.cast("long"), lit(256L))), 2, "0")
      concat(
        call_function("repeat", concat(byteHex, byteHex, byteHex),
          width.cast("int")),
        call_function("repeat", lit("00"), pad))
    })
    concat(
      unhex(lit("424D")),
      le(dataSize + 54, 4),
      le(lit(0), 4),
      le(lit(54), 4),
      le(lit(40), 4),
      le(width, 4),
      le(h, 4),
      le(lit(1), 2),
      le(lit(24), 2),
      le(lit(0), 4),
      le(dataSize, 4),
      le(lit(0), 16),
      unhex(array_join(rowsHex, "")))
  }

  /** Perceptual row-hash record produced by [[imageDHashById]]. The id
    * travels as its string rendering inside the decode edge and is cast
    * back to the caller's id type on the way out ([[keyedBytes]]).
    */
  case class ImageHash(doc_id: String, width: Int, height: Int, dhash: Long)

  /** Shared id-keying for the three fingerprint decode edges: the dedup
    * chain's id contract is COMPARISON-ONLY (group/join/orient), so the
    * id must ride these functions raw — a cast("long") here threw under
    * ANSI on the 128-bit md5-hex surrogate string-keyed corpora use
    * (dedupCorpus, Pipelines.scala) and would silently NULL every
    * perceptual pair with ANSI off. Long ids round-trip their decimal
    * string rendering losslessly, so keying the typed decode edge by
    * `cast(string)` and casting `doc_id` back to the input type keeps
    * long-keyed outputs schema-identical (d13-d16 oracles) while string
    * keys pass through untouched.
    */
  private[multimodal] def keyedBytes(files: DataFrame, id: Column, content: Column)
      : (Dataset[(String, Array[Byte])], org.apache.spark.sql.types.DataType) = {
    val spark = files.sparkSession
    import spark.implicits._
    val idType = files.select(id).schema.head.dataType
    (files.select(id.cast("string"), content).as[(String, Array[Byte])],
      idType)
  }

  /** U1/D13: perceptual image fingerprint from REAL decoded pixels — the
    * vertical-gradient variant of dHash (difference hash): decode with
    * ImageIO, average each pixel row's Rec.601 luma, downsample the row
    * profile to `gridRows` bins, and emit one bit per bin comparing it to
    * its successor (cyclic, so the fingerprint has exactly `gridRows`
    * bits): bit i = 1 iff bin(i) > bin((i+1) % gridRows). Gradient signs
    * survive brightness/contrast shifts — the property that makes dHash a
    * near-dup detector rather than an exact hash.
    *
    * Downsampling: block-average when height >= gridRows (every bin gets
    * >= 1 row via r → floor(r·grid/h)); nearest-row sampling when the
    * image is shorter than the grid. Height == gridRows is the identity
    * mapping — the fixture regime where the DuckDB oracle reproduces the
    * fingerprint arithmetically (d13_image_dhash).
    *
    * Output is keyed by the caller's id AS-IS (comparison-only — the
    * dedup pipeline's id contract; see [[keyedBytes]] for why no long
    * cast), so fingerprints join straight into the banding/verify/CC
    * machinery ([[graft.dedup.Dedup.imageNearDupPairs]]) under long OR
    * string (128-bit surrogate) keys. Undecodable payloads are dropped
    * (the P7 null-drop convention). The relation is metadata-sized: one
    * fingerprint per image, payloads never leave the scan.
    */
  def imageDHashById(files: DataFrame, id: Column, content: Column,
                     gridRows: Int = 16): DataFrame = {
    require(gridRows >= 2 && gridRows <= 63,
      s"imageDHashById: gridRows must be in [2, 63], got $gridRows")
    val spark = files.sparkSession
    import spark.implicits._
    val (keyed, idType) = keyedBytes(files, id, content)
    keyed
      .mapPartitions { it =>
        System.setProperty("java.awt.headless", "true")
        it.flatMap { case (docId, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            if (img == null) None
            else {
              val w = img.getWidth
              val h = img.getHeight
              val px = img.getRGB(0, 0, w, h, null, 0, w)
              val rowMean = new Array[Double](h)
              var r = 0
              while (r < h) {
                var s = 0.0
                var i = r * w
                val end = i + w
                while (i < end) {
                  val p = px(i)
                  s += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
                    0.114 * (p & 0xff)
                  i += 1
                }
                rowMean(r) = s / w
                r += 1
              }
              val bin = new Array[Double](gridRows)
              if (h >= gridRows) {
                val cnt = new Array[Int](gridRows)
                var rr = 0
                while (rr < h) {
                  val b = (rr.toLong * gridRows / h).toInt
                  bin(b) += rowMean(rr); cnt(b) += 1
                  rr += 1
                }
                var b = 0
                while (b < gridRows) { bin(b) /= cnt(b); b += 1 }
              } else {
                var b = 0
                while (b < gridRows) {
                  bin(b) = rowMean((b.toLong * h / gridRows).toInt)
                  b += 1
                }
              }
              var fp = 0L
              var i2 = 0
              while (i2 < gridRows) {
                if (bin(i2) > bin((i2 + 1) % gridRows)) fp |= 1L << i2
                i2 += 1
              }
              Some(ImageHash(docId, w, h, fp))
            }
          } catch { case _: Exception => None }
        }
      }.toDF().withColumn("doc_id", col("doc_id").cast(idType))
  }

  /** U1 (audio): serialize a canonical 44-byte RIFF/WAVE header — the
    * inverse of the `wav*` parsers, used by fixtures and round-trips.
    */
  def wavHeader(sampleRate: Column, channels: Column, bitsPerSample: Column,
                dataBytes: Column): Column = {
    val byteRate = sampleRate * channels * bitsPerSample / 8
    val blockAlign = channels * bitsPerSample / 8
    concat(
      unhex(lit("52494646")),            // "RIFF"
      le(dataBytes + 36, 4),             // riff chunk size
      unhex(lit("57415645666D7420")),    // "WAVE" + "fmt "
      le(lit(16), 4),                    // fmt subchunk size
      le(lit(1), 2),                     // PCM
      le(channels, 2),
      le(sampleRate, 4),
      le(byteRate, 4),
      le(blockAlign, 2),
      le(bitsPerSample, 2),
      unhex(lit("64617461")),            // "data"
      le(dataBytes, 4))
  }

  /** WAV header fields — header-only metadata, no decode (the audio analog
    * of [[pngWidth]]; sample payload decode would sit at the
    * [[decodeImages]]-style mapPartitions edge).
    */
  def wavChannels(c: Column): Column = leInt(c, 23, 2).cast("int")
  def wavSampleRate(c: Column): Column = leInt(c, 25, 4).cast("int")
  def wavBitsPerSample(c: Column): Column = leInt(c, 35, 2).cast("int")
  def wavDataBytes(c: Column): Column = leInt(c, 41, 4)

  /** Clip duration in milliseconds derived from header fields alone. */
  def wavDurationMs(c: Column): Column =
    round(wavDataBytes(c) * lit(8000.0) /
      (wavSampleRate(c) * wavChannels(c) * wavBitsPerSample(c)), 3)

  /** A COMPLETE PCM16 WAV — [[wavHeader]] plus a real little-endian int16
    * sample payload, built entirely from pure hex expressions (codegen'd,
    * no UDF; the audio analog of [[bmpImage]]/[[y4mVideo]]). `samples` is
    * an array<int> of 16-bit values in [-32768, 32767], serialized
    * interleaved in array order. Lets an oracle-checked query drive the
    * [[decodeWavSamples]] PCM edge end-to-end from table columns alone.
    */
  def wavPcm16(sampleRate: Column, channels: Column,
               samples: Column): Column = {
    // two's-complement LE int16: value mod 2^16 hex-dumped to 4 digits,
    // then byte-swapped (low byte first)
    val payloadHex = array_join(transform(samples, s => {
      val u = ((s.cast("long") % 65536) + 65536) % 65536
      val hx = lpad(hex(u), 4, "0")
      concat(substring(hx, 3, 2), substring(hx, 1, 2))
    }), "")
    concat(wavHeader(sampleRate, channels, lit(16), size(samples) * 2),
      unhex(payloadHex))
  }

  /** Decoded-clip record produced by [[decodeWavSamples]]. */
  case class WavClip(path: String, sample_rate: Int, channels: Int,
                     n_samples: Int, mean_amp: Double, rms: Double)

  /** U1 (audio): REAL PCM sample decode — walk the RIFF chunk list (not
    * just the canonical 44-byte layout: fmt/data found wherever they sit,
    * word-aligned, sizes read as unsigned and bounds-checked in Long),
    * decode the int16 payload, and emit per-clip amplitude stats:
    * mean_amp = mean(s/32768), rms = sqrt(mean((s/32768)²)), both summed
    * in sample order (ordered fold, cross-engine float parity) and
    * rounded to 6 decimals. `n_samples` counts FRAMES (payload int16s /
    * channels; stats cover all interleaved values). Non-PCM16, malformed,
    * or truncated input yields Nil — the [[parseNpy]] convention, never a
    * throw.
    */
  def decodeWavSamples(files: DataFrame, pathCol: String = "path",
                       contentCol: String = "content"): Dataset[WavClip] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(pathCol), col(contentCol)).as[(String, Array[Byte])]
      .flatMap { case (path, bytes) => parseWavPcm16(path, bytes) }
  }

  private[multimodal] def parseWavPcm16(path: String,
                                        bytes: Array[Byte]): Option[WavClip] =
    parseWavRaw(bytes).map { case (sampleRate, channels, samples) =>
      val n = samples.length
      var sum = 0.0; var sumSq = 0.0
      var i = 0
      while (i < n) {
        val a = samples(i) / 32768.0
        sum += a; sumSq += a * a
        i += 1
      }
      val mean = if (n == 0) 0.0 else sum / n
      val rms = if (n == 0) 0.0 else math.sqrt(sumSq / n)
      WavClip(path, sampleRate, channels, n / math.max(channels, 1),
        BigDecimal(mean).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(rms).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }

  /** Raw PCM16 WAV parse shared by [[parseWavPcm16]] and
    * [[audioFingerprintById]]: the RIFF chunk walk (fmt/data wherever they
    * sit, word-aligned, u32 sizes bounds-checked in Long) plus the int16
    * payload decode — (sample_rate, channels, interleaved samples), no
    * derived stats. None on anything that isn't integer PCM16.
    */
  private[multimodal] def parseWavRaw(bytes: Array[Byte])
      : Option[(Int, Int, Array[Short])] = {
    def ascii(off: Int, n: Int): String =
      if (off + n <= bytes.length)
        new String(bytes, off, n, java.nio.charset.StandardCharsets.US_ASCII)
      else ""
    def leU(off: Int, n: Int): Long = {
      var v = 0L; var i = n - 1
      while (i >= 0) { v = (v << 8) | (bytes(off + i) & 0xffL); i -= 1 }
      v
    }
    if (bytes.length < 12 || ascii(0, 4) != "RIFF" || ascii(8, 4) != "WAVE")
      return None
    var pos = 12L
    var fmtOk = false
    var channels = 0; var sampleRate = 0; var bits = 0
    var dataOff = -1L; var dataLen = -1L
    // chunk walk in Long: a crafted u32 size must not wrap the cursor
    while (pos + 8 <= bytes.length && (dataOff < 0 || !fmtOk)) {
      val id = ascii(pos.toInt, 4)
      val sz = leU(pos.toInt + 4, 4)
      val body = pos + 8
      if (id == "fmt " && sz >= 16 && body + 16 <= bytes.length) {
        val audioFormat = leU(body.toInt, 2)
        channels = leU(body.toInt + 2, 2).toInt
        sampleRate = leU(body.toInt + 4, 4).toInt
        bits = leU(body.toInt + 14, 2).toInt
        fmtOk = audioFormat == 1L
      } else if (id == "data") {
        dataOff = body; dataLen = sz
      }
      pos = body + sz + (sz & 1L) // RIFF chunks are word-aligned
    }
    if (!fmtOk || bits != 16 || channels < 1 || dataOff < 0 ||
        dataOff + dataLen > bytes.length) return None
    val n = (dataLen / 2L).toInt
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      val off = (dataOff + 2L * i).toInt
      samples(i) = ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort
      i += 1
    }
    Some((sampleRate, channels, samples))
  }

  /** Energy-envelope fingerprint record produced by
    * [[audioFingerprintById]]. */
  case class AudioHash(doc_id: String, sample_rate: Int, n_samples: Int,
                       afp: Long)

  /** U2/D14: perceptual audio fingerprint from REAL decoded PCM — the
    * audio twin of [[imageDHashById]]'s gradient hash, over the clip's
    * energy envelope: decode int16 samples (the [[parseWavRaw]] RIFF
    * walk), mix channels to a mono |amplitude| stream, block-average it
    * into `frames` energy bins, and emit one bit per bin comparing it to
    * its successor (cyclic): bit i = 1 iff e(i) > e((i+1) % frames).
    * Gradient signs survive uniform gain changes — the same property that
    * makes dHash a near-dup detector — so a re-encoded or volume-shifted
    * copy of a clip fingerprints identically while unrelated clips land
    * ~frames/2 bits apart.
    *
    * Downsampling mirrors the image hash: block-average when the clip has
    * >= `frames` sample frames, nearest-sample when shorter; exactly
    * `frames` blocks is the identity regime the DuckDB oracle reproduces
    * arithmetically (d14_audio_fp).
    *
    * Output is keyed by the caller's id AS-IS (comparison-only contract;
    * [[keyedBytes]]) so fingerprints feed straight into the Hamming-space
    * banding/verify machinery ([[graft.dedup.Dedup.imageNearDupPairs]],
    * which is fingerprint-agnostic) under long OR string surrogate keys.
    * Undecodable payloads and zero-length clips are dropped (the P7
    * null-drop convention); the relation is metadata-sized — one
    * fingerprint per clip, payloads never leave the scan.
    */
  def audioFingerprintById(files: DataFrame, id: Column, content: Column,
                           frames: Int = 16): DataFrame = {
    require(frames >= 2 && frames <= 63,
      s"audioFingerprintById: frames must be in [2, 63], got $frames")
    val spark = files.sparkSession
    import spark.implicits._
    val (keyed, idType) = keyedBytes(files, id, content)
    keyed
      .flatMap { case (docId, bytes) =>
        parseWavRaw(bytes).flatMap { case (rate, ch, samples) =>
          val n = samples.length / math.max(ch, 1)
          if (n == 0) None
          else {
            val mono = new Array[Double](n)
            var i = 0
            while (i < n) {
              var s = 0.0; var c = 0
              while (c < ch) {
                s += math.abs(samples(i * ch + c) / 32768.0); c += 1
              }
              mono(i) = s / ch
              i += 1
            }
            val bin = new Array[Double](frames)
            if (n >= frames) {
              val cnt = new Array[Int](frames)
              var r = 0
              while (r < n) {
                val b = (r.toLong * frames / n).toInt
                bin(b) += mono(r); cnt(b) += 1
                r += 1
              }
              var b = 0
              while (b < frames) { bin(b) /= cnt(b); b += 1 }
            } else {
              var b = 0
              while (b < frames) {
                bin(b) = mono((b.toLong * n / frames).toInt)
                b += 1
              }
            }
            var fp = 0L
            var i2 = 0
            while (i2 < frames) {
              if (bin(i2) > bin((i2 + 1) % frames)) fp |= 1L << i2
              i2 += 1
            }
            Some(AudioHash(docId, rate, n, fp))
          }
        }
      }.toDF().withColumn("doc_id", col("doc_id").cast(idType))
  }

  /** Decoded-image record produced at the mapPartitions edge. */
  case class DecodedImage(path: String, width: Int, height: Int,
                          format: String, meanLuma: Double)

  /** U1: the decode edge — a REAL image codec (`javax.imageio`, part of
    * the stock JDK's java.desktop module: PNG/JPEG/BMP/GIF, zero new
    * dependencies; reference fetch→decode loop,
    * train/common/dataset.py:271-281). Iterates (path, content) rows per
    * partition and emits typed records with the true pixel dimensions and
    * mean Rec.601 luma in [0,1] (rounded to 6 decimals for cross-engine
    * comparisons). Undecodable payloads yield (0, 0, sniffed-format, 0.0)
    * rather than throwing — executors must not die on one corrupt object;
    * the P7 null/zero-drop filter composes downstream.
    */
  def decodeImages(files: DataFrame, pathCol: String = "path",
                   contentCol: String = "content"): Dataset[DecodedImage] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(pathCol), col(contentCol)).as[(String, Array[Byte])]
      .mapPartitions { it =>
        // headless before any AWT class loads; ImageIO's plugin registry is
        // then warmed once per executor JVM (the per-worker setup cost the
        // reference amortizes across rows, train/common/dataset.py:73-81)
        System.setProperty("java.awt.headless", "true")
        it.map { case (path, bytes) => imageioDecode(path, bytes) }
      }
  }

  /** JVM-side magic sniff (the executor twin of [[magicFormat]]). */
  private def sniffFormat(bytes: Array[Byte]): String = {
    def at(i: Int, v: Int) = bytes.length > i && (bytes(i) & 0xff) == v
    if (at(0, 0x89) && at(1, 'P') && at(2, 'N') && at(3, 'G')) "png"
    else if (at(0, 0xff) && at(1, 0xd8) && at(2, 0xff)) "jpeg"
    else if (at(0, 'G') && at(1, 'I') && at(2, 'F') && at(3, '8')) "gif"
    else if (at(0, 'B') && at(1, 'M')) "bmp"
    else if (at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F')) "riff"
    else if (at(0, 0x93) && at(1, 'N') && at(2, 'U') && at(3, 'M')) "npy"
    else "unknown"
  }

  /** Decode one payload with ImageIO; never throws (corrupt bytes → a
    * zero-dimension record carrying the sniffed format).
    */
  private[multimodal] def imageioDecode(path: String,
                                        bytes: Array[Byte]): DecodedImage = {
    val fmt = sniffFormat(bytes)
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) DecodedImage(path, 0, 0, fmt, 0.0)
      else {
        val w = img.getWidth
        val h = img.getHeight
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var sum = 0.0
        var i = 0
        while (i < px.length) {
          val p = px(i)
          sum += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
            0.114 * (p & 0xff)
          i += 1
        }
        val luma = sum / (w.toDouble * h) / 255.0
        // HALF_UP to match SQL round() (Spark and DuckDB both round half
        // away from zero for positive values)
        DecodedImage(path, w, h, fmt, java.math.BigDecimal.valueOf(luma)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
      }
    } catch {
      case _: Exception => DecodedImage(path, 0, 0, fmt, 0.0)
    }
  }

  /** Image feature record: luma histogram over real decoded pixels. */
  case class ImageFeatures(path: String, width: Int, height: Int,
                           lumaHist: Array[Long])

  /** U1 (feature-extract): per-image `bins`-bin luma histogram from REAL
    * decoded pixels — the cheap, model-free image feature (exposure /
    * blank-image / near-dup prefilter) a curation pipeline computes at
    * ingest. Same ImageIO mapPartitions edge as [[decodeImages]]; output is
    * metadata-sized (bins longs per image, payload dropped), so the feature
    * relation joins/aggregates freely downstream. Undecodable payloads are
    * dropped.
    */
  def imageFeatures(files: DataFrame, bins: Int = 8,
                    pathCol: String = "path",
                    contentCol: String = "content"): Dataset[ImageFeatures] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(pathCol), col(contentCol)).as[(String, Array[Byte])]
      .mapPartitions { it =>
        System.setProperty("java.awt.headless", "true")
        it.flatMap { case (path, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            if (img == null) None
            else {
              val w = img.getWidth
              val h = img.getHeight
              val px = img.getRGB(0, 0, w, h, null, 0, w)
              val hist = new Array[Long](bins)
              var i = 0
              while (i < px.length) {
                val p = px(i)
                val luma = 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
                  0.114 * (p & 0xff)
                // luma ∈ [0, 255]; map to [0, bins-1]
                val b = math.min((luma * bins / 256.0).toInt, bins - 1)
                hist(b) += 1L
                i += 1
              }
              Some(ImageFeatures(path, w, h, hist))
            }
          } catch { case _: Exception => None }
        }
      }
  }

  /** Resized-image record: re-encoded as PNG (lossless, stock JDK). */
  case class ResizedImage(path: String, width: Int, height: Int,
                          png: Array[Byte])

  /** U1 (resize): decode → bilinear rescale to (width, height) → lossless
    * PNG re-encode, at the same mapPartitions edge as [[decodeImages]] —
    * the reference's per-sample Resize transform
    * (train_CATVTON/dataloader.py:53-64) moved into the data plane so the
    * trainer reads pre-sized tensors. Undecodable payloads are DROPPED
    * (flatMap; the manifest-side P7 null-drop already logged them).
    * Output rows carry the resized payload: size the downstream
    * partitioning for payload-weight rows (this is the one edge where the
    * relation is image-sized by design).
    */
  def resizeImages(files: DataFrame, width: Int, height: Int,
                   pathCol: String = "path",
                   contentCol: String = "content"): Dataset[ResizedImage] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(pathCol), col(contentCol)).as[(String, Array[Byte])]
      .mapPartitions { it =>
        System.setProperty("java.awt.headless", "true")
        it.flatMap { case (path, bytes) =>
          try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            if (img == null) None
            else {
              val out = new java.awt.image.BufferedImage(
                width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = out.createGraphics()
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, width, height, null)
              g.dispose()
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(out, "png", bos)
              Some(ResizedImage(path, width, height, bos.toByteArray))
            }
          } catch { case _: Exception => None }
        }
      }
  }

  /** Sampled frame record produced by [[sampleFrames]]. */
  case class Frame(path: String, frameIdx: Int, frameMd5: String)

  /** One demuxed Y4M frame: byte extent of the frame payload within the
    * container plus the plane geometry needed to decode it.
    */
  private[multimodal] case class Y4mFrame(idx: Int, width: Int, height: Int,
                                          start: Int, ySize: Int,
                                          frameSize: Int)

  /** REAL Y4M (YUV4MPEG2) container demuxer — no external codec needed:
    * the format is an ASCII parameter line ("YUV4MPEG2 W.. H.. F.. C..\n")
    * followed by "FRAME...\n" markers each carrying a raw planar YUV
    * payload whose size is fixed by the header geometry (Cmono = W·H luma
    * bytes; C420 = 3/2·W·H; C422 = 2·W·H; C444 = 3·W·H). Returns every
    * frame's byte extent; truncated trailing frames are dropped. Malformed
    * input yields Nil (the P7 null-drop composes downstream, the
    * [[parseNpy]] convention).
    */
  private[multimodal] def y4mFrames(bytes: Array[Byte]): Seq[Y4mFrame] = {
    val NL = '\n'.toByte
    var nl = 0
    while (nl < bytes.length && bytes(nl) != NL) nl += 1
    if (nl >= bytes.length) return Nil
    val header = new String(bytes, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
    if (!header.startsWith("YUV4MPEG2")) return Nil
    var w = 0; var h = 0; var colour = "420jpeg"
    header.split(' ').drop(1).foreach { p =>
      if (p.nonEmpty) p.charAt(0) match {
        case 'W' => w = try p.drop(1).toInt catch { case _: Exception => 0 }
        case 'H' => h = try p.drop(1).toInt catch { case _: Exception => 0 }
        case 'C' => colour = p.drop(1)
        case _ => ()
      }
    }
    // overflow guard: w·h·3 must stay inside Int, or a crafted header
    // (e.g. H2147483647) would wrap frameSize negative and the frame walk
    // below would never advance — an infinite loop, not a Nil return
    if (w <= 0 || h <= 0 || w.toLong * h > Int.MaxValue / 3) return Nil
    val ySize = w * h
    val frameSize =
      if (colour.startsWith("mono")) ySize
      else if (colour.startsWith("444")) ySize * 3
      else if (colour.startsWith("422")) ySize * 2
      else ySize * 3 / 2 // 420 family (420jpeg/420mpeg2/420paldv)
    if (frameSize <= 0) return Nil
    val out = scala.collection.mutable.ArrayBuffer[Y4mFrame]()
    var pos = nl + 1
    var idx = 0
    var ok = true
    while (ok && pos < bytes.length) {
      var e = pos
      while (e < bytes.length && bytes(e) != NL) e += 1
      val marker =
        if (e <= bytes.length && e - pos >= 5)
          new String(bytes, pos, 5, java.nio.charset.StandardCharsets.US_ASCII)
        else ""
      // frame-extent check in Long: frameSize can be Int.MaxValue-1 for a
      // header that passes the w·h·3 guard (e.g. W715827882 H1 C444), so
      // Int `e + 1 + frameSize` would wrap negative and accept a bogus frame
      if (e >= bytes.length || marker != "FRAME" || e.toLong + 1 + frameSize > bytes.length)
        ok = false
      else {
        out += Y4mFrame(idx, w, h, e + 1, ySize, frameSize)
        idx += 1
        pos = e + 1 + frameSize
      }
    }
    out.toSeq
  }

  /** Decoded-frame record produced by [[demuxY4m]]. */
  case class VideoFrame(path: String, frame_idx: Int, width: Int,
                        height: Int, mean_luma: Double)

  /** U1 (video): REAL frame decode — demux a Y4M container
    * ([[y4mFrames]]) and average each sampled frame's luma plane
    * (mean Y/255 ∈ [0,1], rounded to 6 decimals — [[decodeImages]]'s
    * convention). Every `stride`-th frame, at most `maxFrames` per clip;
    * the exploded relation stays metadata-sized (no pixel bytes retained).
    * Real bytes flow end-to-end under the u4 oracle: the [[y4mVideo]]
    * fixture builds containers from table columns and the oracle
    * recomputes idx/dims/luma arithmetically (the u1d BMP precedent).
    */
  def demuxY4m(files: DataFrame, stride: Int, maxFrames: Int,
               pathCol: String = "path",
               contentCol: String = "content"): Dataset[VideoFrame] = {
    require(stride > 0, s"demuxY4m: stride must be positive, got $stride")
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(pathCol), col(contentCol)).as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        y4mFrames(bytes).iterator
          .filter(_.idx % stride == 0).take(maxFrames)
          .map { f =>
            var s = 0.0
            var i = f.start
            val end = f.start + f.ySize
            while (i < end) { s += (bytes(i) & 0xff); i += 1 }
            VideoFrame(path, f.idx, f.width, f.height,
              BigDecimal(s / f.ySize / 255.0)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
      }
  }

  /** Temporal fingerprint record produced by [[videoFingerprintById]]. */
  case class VideoHash(doc_id: String, width: Int, height: Int, n_frames: Int,
                       vfp: Long)

  /** U4/D15: perceptual video fingerprint from REALLY demuxed frames — the
    * temporal member of the dHash family ([[imageDHashById]] spatial,
    * [[audioFingerprintById]] energy-envelope): demux the Y4M container
    * ([[y4mFrames]]), average each frame's actual luma plane, downsample
    * the per-frame luma sequence to `gridFrames` bins, and emit one bit
    * per bin comparing it to its successor (cyclic): bit i = 1 iff
    * lum(i) > lum((i+1) % gridFrames). Gradient signs survive uniform
    * brightness/exposure shifts — a re-graded or re-muxed copy of a clip
    * fingerprints identically while unrelated clips land ~gridFrames/2
    * bits apart.
    *
    * Downsampling mirrors the image/audio hashes: block-average when the
    * clip has >= `gridFrames` frames, nearest-frame when shorter; exactly
    * `gridFrames` frames is the identity regime the DuckDB oracle
    * reproduces arithmetically (d15_video_fp — constant-luma frames make
    * the mean luma monotone in the generating byte).
    *
    * Output is keyed by the caller's id AS-IS (comparison-only contract;
    * [[keyedBytes]]) so fingerprints feed straight into the Hamming-space
    * banding/verify machinery ([[graft.dedup.Dedup.imageNearDupPairs]],
    * fingerprint-agnostic) under long OR string surrogate keys.
    * Undecodable/empty containers are dropped (the P7 null-drop
    * convention); the relation is metadata-sized — one fingerprint per
    * clip, frame bytes never leave the scan.
    */
  def videoFingerprintById(files: DataFrame, id: Column, content: Column,
                           gridFrames: Int = 16): DataFrame = {
    require(gridFrames >= 2 && gridFrames <= 63,
      s"videoFingerprintById: gridFrames must be in [2, 63], got $gridFrames")
    val spark = files.sparkSession
    import spark.implicits._
    val (keyed, idType) = keyedBytes(files, id, content)
    keyed
      .flatMap { case (docId, bytes) =>
        val frames = y4mFrames(bytes)
        if (frames.isEmpty) None
        else {
          val n = frames.length
          val lum = new Array[Double](n)
          var fi = 0
          while (fi < n) {
            val f = frames(fi)
            var s = 0.0
            var i = f.start
            val end = f.start + f.ySize
            while (i < end) { s += (bytes(i) & 0xff); i += 1 }
            lum(fi) = s / f.ySize
            fi += 1
          }
          val bin = new Array[Double](gridFrames)
          if (n >= gridFrames) {
            val cnt = new Array[Int](gridFrames)
            var r = 0
            while (r < n) {
              val b = (r.toLong * gridFrames / n).toInt
              bin(b) += lum(r); cnt(b) += 1
              r += 1
            }
            var b = 0
            while (b < gridFrames) { bin(b) /= cnt(b); b += 1 }
          } else {
            var b = 0
            while (b < gridFrames) {
              bin(b) = lum((b.toLong * n / gridFrames).toInt)
              b += 1
            }
          }
          var fp = 0L
          var i2 = 0
          while (i2 < gridFrames) {
            if (bin(i2) > bin((i2 + 1) % gridFrames)) fp |= 1L << i2
            i2 += 1
          }
          Some(VideoHash(docId, frames.head.width, frames.head.height, n, fp))
        }
      }.toDF().withColumn("doc_id", col("doc_id").cast(idType))
  }

  /** U1 (video): frame sampling — the 1→N generator edge: each (path,
    * content) row fans out to every `stride`-th frame. Y4M containers are
    * REALLY demuxed ([[y4mFrames]]): frameIdx is the container's frame
    * number and the fingerprint covers the actual frame payload bytes.
    * Other/unknown containers fall back to fixed-size byte slices
    * (`frameBytes`) — the documented degradation for codecs this
    * environment doesn't ship, with the generator shape, bounded
    * frames-per-row, and per-partition digest reuse identical on both
    * paths. Frame bytes are NOT retained in the output row (only the
    * fingerprint): at 100 TB the exploded frame relation must stay
    * metadata-sized unless a consumer explicitly asks for pixels.
    */
  def sampleFrames(files: DataFrame, stride: Int, maxFrames: Int,
                   frameBytes: Int = 4096, pathCol: String = "path",
                   contentCol: String = "content"): Dataset[Frame] = {
    require(stride > 0 && frameBytes > 0,
      s"sampleFrames: stride and frameBytes must be positive, got $stride/$frameBytes")
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(pathCol), col(contentCol)).as[(String, Array[Byte])]
      .mapPartitions { it =>
        val dg = java.security.MessageDigest.getInstance("MD5")
        def hexDigest(bytes: Array[Byte], from: Int, to: Int): String = {
          dg.reset()
          dg.digest(java.util.Arrays.copyOfRange(bytes, from, to))
            .map(b => f"$b%02x").mkString
        }
        it.flatMap { case (path, bytes) =>
          val y4m = y4mFrames(bytes)
          if (y4m.nonEmpty)
            y4m.iterator.filter(_.idx % stride == 0).take(maxFrames).map { f =>
              Frame(path, f.idx, hexDigest(bytes, f.start, f.start + f.frameSize))
            }
          else {
            val nFrames = math.min(
              math.max(bytes.length / frameBytes, 1), maxFrames * stride)
            (0 until nFrames by stride).iterator.map { i =>
              val start = i * frameBytes
              val end = math.min(start + frameBytes, bytes.length)
              Frame(path, i, hexDigest(bytes, math.min(start, bytes.length), end))
            }
          }
        }
      }
  }

  /** A COMPLETE Y4M (Cmono) container column: header line + one
    * constant-luma W×H frame per element of `lumas` — [[y4mFrames]]'s
    * inverse, built from pure hex expressions (the [[bmpImage]] pattern
    * lifted to video). Any Y4M-aware tool can play the result; the u4
    * oracle recomputes each frame's mean luma as lumas[i]/255.
    */
  def y4mVideo(width: Column, height: Column, lumas: Column): Column = {
    val wh = (width.cast("long") * height.cast("long")).cast("int")
    val header = concat(lit("YUV4MPEG2 W"), width.cast("string"),
      lit(" H"), height.cast("string"), lit(" F25:1 Ip A1:1 Cmono\n"))
    // per frame: "FRAME\n" (4652414d450a) + W·H copies of the luma byte;
    // pmod (not %) so out-of-range lumas wrap into 0..255 instead of
    // producing a negative whose hex is 16 chars wide
    val frameHex = transform(lumas, g => concat(lit("4652414D450A"),
      call_function("repeat", lpad(hex(pmod(g.cast("long"), lit(256L))), 2, "0"), wh)))
    concat(header.cast("binary"), unhex(array_join(frameHex, "")))
  }

  /** S6: NumPy `.npy` array source — parses the npy v1/v2 header and the
    * little-endian float32/float64 payload into `Array[Float]`, no external
    * libraries (the format is magic + version + header-dict + raw data;
    * reference pose maps, train/train_OOTDiffusion/dataloader.py:75-83).
    * Runs at the mapPartitions edge like [[decodeImages]]. Rows whose bytes
    * are not parseable npy yield an empty array (the null-drop P7 filter
    * composes downstream).
    */
  def decodeNpy(files: DataFrame, pathCol: String = "path",
                contentCol: String = "content"): Dataset[(String, Array[Float])] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(pathCol), col(contentCol)).as[(String, Array[Byte])]
      .mapPartitions(_.map { case (path, bytes) => (path, parseNpy(bytes)) })
  }

  /** npy layout: \x93NUMPY | major | minor | headerLen (u16 LE for v1,
    * u32 LE for v2) | python-dict header | raw data.
    */
  private[multimodal] def parseNpy(bytes: Array[Byte]): Array[Float] = try {
    val magic = Array(0x93, 'N', 'U', 'M', 'P', 'Y').map(_.toByte)
    if (bytes.length < 12 || !bytes.take(6).sameElements(magic)) return Array.empty
    val major = bytes(6)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val (headerLen, dataStart) =
      if (major == 1) (bb.getShort(8) & 0xffff, 10)
      else (bb.getInt(8), 12)
    // truncated/corrupt headers yield empty, never throw: executors must
    // not die on one malformed object
    if (headerLen < 0 || dataStart + headerLen > bytes.length) return Array.empty
    val header = new String(bytes, dataStart, headerLen, "ASCII")
    val off = dataStart + headerLen
    if (header.contains("'<f4'")) {
      val n = (bytes.length - off) / 4
      Array.tabulate(n)(i => bb.getFloat(off + i * 4))
    } else if (header.contains("'<f8'")) {
      val n = (bytes.length - off) / 8
      Array.tabulate(n)(i => bb.getDouble(off + i * 8).toFloat)
    } else Array.empty
  } catch { case _: RuntimeException => Array.empty }

  /** S8: blob sink — writes each row's binary payload to `<dir>/<name>`
    * via the Hadoop FS API from the executors (foreachPartition; one FS
    * client per partition — reference train/train_CATVTON/utils.py:37-54).
    * Parallel, no driver collect.
    */
  def blobSink(df: DataFrame, nameCol: String, contentCol: String,
               dir: String): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    df.select(col(nameCol).cast("string"), col(contentCol))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(conf.value)
        rows.foreach { r =>
          val out = fs.create(
            new org.apache.hadoop.fs.Path(dir, r.getString(0)), true)
          try out.write(r.getAs[Array[Byte]](1)) finally out.close()
        }
      }
  }
}
