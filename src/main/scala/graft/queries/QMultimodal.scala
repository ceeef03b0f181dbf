package graft.queries

import graft.core.Tables
import graft.multimodal.Multimodal._
import graft.multimodal.TarShards
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (binary-column) queries — oracle-checkable forms of the byte
  * operators (SURVEY S4/S6/U1). Payload bytes are synthesized from the
  * documents table inside the query (cast text → binary, or construct real
  * PNG headers from numeric columns) so the DuckDB oracle can recompute
  * every result from the same parquet inputs; the binary operators under
  * test (md5/length/magic-sniff/header-parse) are exactly the production
  * expressions from graft.multimodal.Multimodal. The true file-based
  * binaryFile source and the mapPartitions decode edge are exercised in
  * MultimodalSpec (files on disk are not visible to the oracle).
  */
object QMultimodal {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Shared d13 fixture: a 6×16 row-profile BMP per document whose visual
    * row r has gray level = first md5 byte of "docId|r" (pseudorandom
    * across the corpus — no short period, so band buckets stay balanced
    * at any sf; both engines reproduce it exactly).
    */
  private def d13Fixture(s: SparkSession, d: String): DataFrame = {
    val grays = transform(sequence(lit(0), lit(15)), r =>
      conv(substring(md5(concat(col("doc_id").cast("string"), lit("|"),
        r.cast("string"))), 1, 2), 16, 10).cast("int"))
    t(s, d, "documents")
      .select(col("doc_id"), bmpImageRows(lit(6), grays).as("content"))
  }

  /** Shared d14 fixture: a 64-sample mono PCM16 WAV per document whose
    * energy envelope is a 16-block profile — block b (4 samples, all
    * equal) has amplitude = first md5 byte of "docId#b" (the audio twin
    * of [[d13Fixture]]'s row-profile BMP; '#' salt so audio fingerprints
    * differ from the image ones). Amplitudes are non-negative, so the
    * engine's mean-|amplitude| per block is amp/32768 — strictly monotone
    * in the md5 byte, which lets the oracle compare the integers.
    */
  private def d14Fixture(s: SparkSession, d: String): DataFrame = {
    val samples = flatten(transform(sequence(lit(0), lit(15)), b => {
      val amp = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("#"), b.cast("string"))), 1, 2), 16, 10).cast("int")
      array(amp, amp, amp, amp)
    }))
    t(s, d, "documents")
      .select(col("doc_id"),
        wavPcm16(lit(8000), lit(1), samples).as("content"))
  }

  /** Shared d15 fixture: a 16-frame 4×3 Cmono Y4M per document where frame
    * f's constant luma = first md5 byte of "docId~f" (the video member of
    * the [[d13Fixture]]/[[d14Fixture]] family; '~' salt so video
    * fingerprints differ from the image/audio ones). A constant-luma
    * frame's mean luma is the byte itself, strictly monotone, so the
    * oracle compares the generating integers.
    */
  private def d15Fixture(s: SparkSession, d: String): DataFrame = {
    val lumas = transform(sequence(lit(0), lit(15)), f =>
      conv(substring(md5(concat(col("doc_id").cast("string"), lit("~"),
        f.cast("string"))), 1, 2), 16, 10).cast("int"))
    t(s, d, "documents")
      .select(col("doc_id"), y4mVideo(lit(4), lit(3), lumas).as("content"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S4: whole-object fetch shape — byte fingerprint + length of a binary
    // payload column, no decode.
    "s4_binary_md5" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("content", col("text").cast("binary"))
        .select(col("doc_id"),
          contentMd5(col("content")).as("content_md5"),
          contentLength(col("content")).as("n_bytes"))),

    // U1a: PNG header round-trip — serialize (width, height) derived from
    // table columns into a real PNG/IHDR byte prefix, then parse the
    // dimensions back with the header-parse expressions. Proves the
    // byte-level parser without needing image files.
    "u1_png_dims" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("content",
          pngHeader(col("n_chars") % 4000 + 1, (col("doc_id") % 2000) + 1))
        .select(col("doc_id"),
          magicFormat(col("content")).as("fmt"),
          pngWidth(col("content")).as("width"),
          pngHeight(col("content")).as("height"))),

    // S4/S8 round-trip through REAL files: blobSink writes each doc's
    // bytes to a file from the executors, binarySource (binaryFile) reads
    // them back; the oracle recomputes name/length/md5 from the documents
    // table. Proves the file source + sink end-to-end, not just the byte
    // expressions. Bounded to 200 files.
    "s4b_blob_roundtrip" -> ((s, d) => {
      val dir = s"/root/repo/target/fixtures/${new java.io.File(d).getName}/blobs"
      // clear stale files from prior versions/runs: the read lists the dir
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      blobSink(
        t(s, d, "documents").filter(col("doc_id") < 200)
          .select(concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
            col("text").cast("binary").as("content")),
        "name", "content", dir)
      binarySource(s, dir, "*.txt")
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          col("length").as("n_bytes"),
          contentMd5(col("content")).as("content_md5"))
    }),

    // S16: WebDataset-style TAR-SHARD round-trip — documents' payloads
    // written as 4 deterministic POSIX tar shards (one sequential object
    // per shard, the object-store-friendly layout PyTorch training jobs
    // stream at 100 TB), read back through the shard-per-task tar walk,
    // and fingerprinted. The oracle checks the payloads survived byte-
    // exactly; shard assignment/interop/determinism are TarShardsSpec's.
    "s16_tar_roundtrip" -> ((s, d) => {
      val dir = s"/root/repo/target/fixtures/${new java.io.File(d).getName}/tars"
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      TarShards.writeTarShards(
        t(s, d, "documents").filter(col("doc_id") < 200)
          .select(concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
            col("text").cast("binary").as("content")),
        "name", "content", dir, numShards = 4)
      TarShards.readTarShards(s, dir)
        .select(col("name"),
          length(col("content")).cast("long").as("n_bytes"),
          contentMd5(col("content")).as("content_md5"))
    }),

    // U1e: BMP/GIF header round-trip over a MIXED-format binary column —
    // the format-dispatch shape (sniff, then per-format parser) a real
    // manifest of heterogeneous images needs. Little-endian parsers,
    // complementing the big-endian PNG pair.
    "u1c_bmp_gif_dims" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("content",
          when(col("doc_id") % 2 === 0,
            bmpHeader((col("n_chars") % 3000 + 1).cast("int"),
              (col("doc_id") % 1500 + 1).cast("int")))
          .otherwise(gifHeader((col("n_chars") % 600 + 1).cast("int"),
            (col("doc_id") % 400 + 1).cast("int"))))
        .select(col("doc_id"),
          magicFormat(col("content")).as("fmt"),
          when(col("doc_id") % 2 === 0, bmpWidth(col("content")))
            .otherwise(gifWidth(col("content"))).as("width"),
          when(col("doc_id") % 2 === 0, bmpHeight(col("content")))
            .otherwise(gifHeight(col("content"))).as("height"))),

    // U1c (audio): WAV/RIFF header round-trip — serialize per-doc audio
    // parameters into a real 44-byte canonical WAVE header, then parse
    // sample rate / channels / bits / duration back with the header-only
    // expressions (no decode — the audio analog of u1_png_dims).
    "u2_wav_meta" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("content", wavHeader(
          element_at(array(lit(8000), lit(16000), lit(22050), lit(44100), lit(48000)),
            (col("doc_id") % 5 + 1).cast("int")),
          (col("doc_id") % 2 + 1).cast("int"),
          lit(16),
          col("n_chars").cast("long") * 2))
        .select(col("doc_id"),
          magicFormat(col("content")).as("fmt"),
          wavSampleRate(col("content")).as("sample_rate"),
          wavChannels(col("content")).as("channels"),
          wavBitsPerSample(col("content")).as("bits"),
          wavDataBytes(col("content")).as("data_bytes"),
          wavDurationMs(col("content")).as("duration_ms"))),

    // U1d (video): relational twin of the frame-sampling plan — per clip,
    // how many fixed-size pseudo-frames exist and which indices a
    // stride-4 sampler takes (same arithmetic as Multimodal.sampleFrames;
    // the byte-slicing mapPartitions edge is covered in MultimodalSpec).
    // The plan stays metadata-sized: no frame bytes in the output.
    "u3_frame_plan" -> ((s, d) => {
      val frameBytes = 64
      val stride = 4
      val maxFrames = 8
      val nBytes = length(col("text").cast("binary"))
      val nFrames = least(greatest(floor(nBytes / frameBytes), lit(1)),
        lit(maxFrames * stride)).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"), nFrames.as("n_frames"),
          size(sequence(lit(0L), nFrames - 1, lit(stride.toLong))).as("n_sampled"),
          (floor((nFrames - 1) / stride) * stride).cast("long").as("last_frame_idx"))
    }),

    // U1f: REAL pixel decode end-to-end — synthesize a complete decodable
    // BMP per document (constant gray level, dimensions from table
    // columns), run it through the ImageIO mapPartitions edge
    // (Multimodal.decodeImages), and emit the decoded width/height/format/
    // mean-luma. The oracle recomputes all four arithmetically: a constant-
    // gray image's Rec.601 mean luma is exactly gray/255. This is the one
    // query where actual pixels are decoded by an actual codec under
    // oracle check. Bounded to 500 docs; payloads are KB-sized.
    "u1d_decoded_dims" -> ((s, d) => {
      val files = t(s, d, "documents")
        .select(col("doc_id").cast("string").as("path"),
          bmpImage((col("doc_id") % 48 + 4).cast("int"),
            (col("doc_id") % 23 + 2).cast("int"),
            (col("doc_id") % 256).cast("int")).as("content"))
      decodeImages(files).toDF()
        .select(col("path").cast("long").as("doc_id"),
          col("format").as("fmt"), col("width"), col("height"),
          col("meanLuma").as("mean_luma"))
    }),

    // U1g: feature extraction from REAL pixels — 8-bin luma histogram of
    // each synthesized BMP through the ImageIO edge. For a constant-gray
    // image every pixel lands in one bin, so the oracle reconstructs the
    // whole histogram arithmetically (same float luma formula, same
    // truncation) — decode plumbing, pixel loop, and binning all under
    // oracle check. The histogram is emitted as a comma-joined STRING, not
    // ARRAY<BIGINT>: the driver's oracle compare sorts column values and
    // cannot hash raw array cells (round-4 verdict); library callers get
    // the array form from Multimodal.imageFeatures directly.
    // U2b (audio): REAL PCM decode under the oracle — build a complete
    // PCM16 WAV per document (header + little-endian sample payload from
    // table columns), decode the actual bytes with the RIFF chunk-walking
    // parser, and emit per-clip amplitude stats. Sample j of doc d is
    // ((d·131 + j·17) mod 2^16) − 32768, so the oracle recomputes
    // mean/RMS arithmetically (the u1d/u4 pattern, closing the last
    // header-only multimodal edge).
    "u2b_wav_samples" -> ((s, d) => {
      val n = (col("doc_id") % 5 + 3).cast("int")
      val samples = transform(sequence(lit(0), n - 1),
        j => ((col("doc_id") * 131 + j * 17) % 65536 - 32768).cast("int"))
      val files = t(s, d, "documents")
        .select(col("doc_id").cast("string").as("path"),
          wavPcm16(lit(8000), lit(1), samples).as("content"))
      decodeWavSamples(files).toDF()
        .select(col("path").cast("long").as("doc_id"), col("sample_rate"),
          col("channels"), col("n_samples"), col("mean_amp"), col("rms"))
    }),

    "u1e_luma_hist" -> ((s, d) => {
      val files = t(s, d, "documents")
        .select(col("doc_id").cast("string").as("path"),
          bmpImage((col("doc_id") % 16 + 2).cast("int"),
            (col("doc_id") % 7 + 1).cast("int"),
            (col("doc_id") % 256).cast("int")).as("content"))
      imageFeatures(files, 8).toDF()
        .select(col("path").cast("long").as("doc_id"),
          col("width"), col("height"),
          array_join(col("lumaHist").cast("array<string>"), ",").as("luma_hist"))
    }),

    // U4: REAL video demux end-to-end — synthesize a complete Y4M (Cmono)
    // container per document (dims + per-frame constant lumas from table
    // columns), demux it with the real container parser
    // (Multimodal.y4mFrames), average each sampled frame's actual luma
    // plane, and emit (doc, frame_idx, dims, mean_luma). The oracle
    // recomputes everything arithmetically: frame j of doc d is constant
    // luma (d·7 + j·13) % 256, so mean_luma = that/255. stride=2,
    // maxFrames=2 → sampled indices {0, 2}. The u1d BMP pattern extended
    // to video: real bytes, real demuxer, arithmetic oracle.
    "u4_video_frames" -> ((s, d) => {
      val nf = (col("doc_id") % 4 + 2).cast("int")
      val files = t(s, d, "documents")
        .select(col("doc_id").cast("string").as("path"),
          y4mVideo((col("doc_id") % 12 + 4).cast("int"),
            (col("doc_id") % 5 + 2).cast("int"),
            transform(sequence(lit(0), nf - 1),
              j => (col("doc_id") * 7 + j * 13) % 256)).as("content"))
      demuxY4m(files, stride = 2, maxFrames = 2).toDF()
        .select(col("path").cast("long").as("doc_id"), col("frame_idx"),
          col("width"), col("height"), col("mean_luma"))
    }),

    // D13: perceptual image fingerprint from REAL decoded pixels — build a
    // complete row-profile BMP per document (visual row r's gray level is
    // the first md5 byte of "docId|r" — pseudorandom, engine-reproducible),
    // decode it with ImageIO, and compute the 16-bit vertical dHash over
    // the actual pixel rows. The oracle recomputes every bit
    // arithmetically: a constant-gray row's mean luma is monotone in the
    // gray level, so bit i = (gray(i) > gray((i+1) % 16)) — the u1d/u1e
    // real-decode-under-oracle pattern extended to perceptual hashing.
    "d13_image_dhash" -> ((s, d) =>
      imageDHashById(d13Fixture(s, d), col("doc_id"), col("content"), 16)
        .select(col("doc_id"), col("width"), col("height"), col("dhash"))),

    // D13b: image NEAR-DUP pairs — the dHash fingerprints banded 2×8 bits
    // (LSH bucketing in Hamming space: distance-1 pairs always collide on
    // a band), candidates sharing a (band, band_sig) bucket under the
    // per-bucket cap, then verified by exact Hamming distance <= 2. The
    // multimodal twin of d5_lsh_verify: real pixels in, banded candidate
    // generation (never all-pairs), exact verification — all under a full
    // DuckDB oracle that replicates banding, cap, and bit_count(xor).
    "d13b_image_neardup" -> ((s, d) => {
      val hashes = imageDHashById(d13Fixture(s, d), col("doc_id"),
        col("content"), 16)
      graft.dedup.Dedup.imageNearDupPairs(hashes, col("doc_id"),
        col("dhash"), bits = 16, bandBits = 8, maxHamming = 2)
    }),

    // D14: perceptual audio fingerprint from REAL decoded PCM — complete
    // WAVs synthesized from pure expressions (16-block energy profile,
    // d14Fixture), decoded by the production RIFF walk + int16 decode,
    // energy-envelope gradient bits recomputed arithmetically by the
    // oracle. The audio twin of d13_image_dhash.
    "d14_audio_fp" -> ((s, d) =>
      audioFingerprintById(d14Fixture(s, d), col("doc_id"),
        col("content"), 16)
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("afp"))),

    // D14b: audio NEAR-DUP pairs — the energy fingerprints fed through
    // the SAME Hamming-space banding/verify machinery as the image hashes
    // (imageNearDupPairs is fingerprint-agnostic): 2×8-bit bands, bucket
    // cap, exact Hamming <= 2 verification, all under a full DuckDB
    // oracle. Near-dup detection now spans text (d2/d5), images (d13b),
    // and audio.
    "d14b_audio_neardup" -> ((s, d) => {
      val hashes = audioFingerprintById(d14Fixture(s, d), col("doc_id"),
        col("content"), 16)
      graft.dedup.Dedup.imageNearDupPairs(hashes, col("doc_id"),
        col("afp"), bits = 16, bandBits = 8, maxHamming = 2)
    }),

    // D15: perceptual video fingerprint from REALLY demuxed frames —
    // complete Y4M containers synthesized from pure expressions (16-frame
    // constant-luma profile, d15Fixture), demuxed by the production
    // container walk, each frame's ACTUAL luma plane averaged, temporal
    // gradient bits recomputed arithmetically by the oracle. The video
    // member of the d13/d14 fingerprint family.
    "d15_video_fp" -> ((s, d) =>
      videoFingerprintById(d15Fixture(s, d), col("doc_id"),
        col("content"), 16)
        .select(col("doc_id"), col("width"), col("height"),
          col("n_frames"), col("vfp"))),

    // D15b: video NEAR-DUP pairs — the temporal fingerprints fed through
    // the SAME Hamming-space banding/verify machinery as the image/audio
    // hashes: 2×8-bit bands, bucket cap, exact Hamming <= 2 verification,
    // all under a full DuckDB oracle. Near-dup detection now spans all
    // four modalities: text (d2/d5), images (d13b), audio (d14b), video.
    "d15b_video_neardup" -> ((s, d) => {
      val hashes = videoFingerprintById(d15Fixture(s, d), col("doc_id"),
        col("content"), 16)
      graft.dedup.Dedup.imageNearDupPairs(hashes, col("doc_id"),
        col("vfp"), bits = 16, bandBits = 8, maxHamming = 2)
    }),

    // U1b: magic-byte format sniff across mixed payloads (png / jpeg /
    // npy / opaque bytes) synthesized per-language. The fallthrough branch
    // is NUL-prefixed so natural text starting with an ASCII magic ("BM",
    // "GIF8", "RIFF") cannot make the engine-side sniff diverge from the
    // oracle's per-language CASE.
    "u1_magic_sniff" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("content",
          when(col("lang") === "en", pngHeader(lit(128), lit(64)))
            .when(col("lang") === "fr", unhex(lit("FFD8FFE000104A46494600")))
            .when(col("lang") === "de", unhex(lit("934E554D505901006600")))
            .otherwise(concat(unhex(lit("00")), col("text").cast("binary"))))
        .select(col("doc_id"), col("lang"),
          magicFormat(col("content")).as("fmt"),
          contentLength(col("content")).as("n_bytes"))),

    // DOCUMENT-format router (r17): a raw crawl's binary payloads carry
    // pdf/zip/ole2/gzip/rtf alongside media — the router tags each blob
    // from header bytes only and assigns its processing family
    // (document → text extraction, archive → container handling,
    // image/audio/array → the multimodal decode paths). Eight formats
    // cycle by doc_id % 8; the oracle replays the same magic prefixes
    // analytically.
    "u7_format_router" -> ((s, d) => {
      import graft.multimodal.DocFormats
      val content =
        when(pmod(col("doc_id"), lit(8)) === 0,
          concat(unhex(lit("255044462D312E34")), col("text").cast("binary")))
          .when(pmod(col("doc_id"), lit(8)) === 1,
            concat(unhex(lit("504B030414000000")), col("text").cast("binary")))
          .when(pmod(col("doc_id"), lit(8)) === 2,
            concat(unhex(lit("D0CF11E0A1B11AE1")), col("text").cast("binary")))
          .when(pmod(col("doc_id"), lit(8)) === 3,
            concat(unhex(lit("1F8B0800")), col("text").cast("binary")))
          .when(pmod(col("doc_id"), lit(8)) === 4,
            concat(lit("{\\rtf1 ").cast("binary"), col("text").cast("binary")))
          .when(pmod(col("doc_id"), lit(8)) === 5,
            pngHeader(lit(64), lit(32)))
          .when(pmod(col("doc_id"), lit(8)) === 6,
            concat(lit("YUV4MPEG2 ").cast("binary"), col("text").cast("binary")))
          .otherwise(concat(unhex(lit("00")), col("text").cast("binary")))
      DocFormats.routeFormats(
        t(s, d, "documents").withColumn("content", content),
        col("doc_id"), col("content"))
    }),

    // Zip-container member listing (r17): docx/xlsx/epub arrive as zip
    // blobs; the streaming local-header walk lists members without
    // central-directory random access. Fixture: per-doc minimal DOCX
    // (two pinned-timestamp members), oracle analytic.
    "u9_zip_members" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.DocFormats
      val fixt = t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, DocFormats.docxFixture(text)) }
        .toDF("doc_id", "content")
      DocFormats.zipMembers(fixt, col("doc_id"), col("content"))
        .select(col("doc_id"), col("member"),
          (col("n_bytes") > 0).as("non_empty"))
    }),

    // DOCX text extraction (r17): word/document.xml <w:t> runs with the
    // paragraph boundary decoding to one space — per-doc fixture built
    // from the doc's own text (split at a space so extraction
    // round-trips exactly), real deflate through the JDK zip stream.
    "u10_docx_text" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.DocFormats
      val fixt = t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, DocFormats.docxFixture(text)) }
        .toDF("doc_id", "content")
      DocFormats.extractDocxText(fixt, col("doc_id"), col("content"))
    }),

    // Minimal in-engine PDF text pull (r17): every doc's text becomes a
    // one-page PDF fixture — UNCOMPRESSED content stream for odd ids,
    // FlateDecode (real zlib, java.util.zip) for even — and the
    // extraction must return the exact text. The out-of-engine boundary
    // (CID fonts, encrypted docs, office formats) is documented on
    // DocFormats; text='' is the routing signal for blobs this pull
    // cannot read.
    "u8_pdf_text" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.DocFormats
      val fixt = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, DocFormats.pdfFixture(s"Doc $id report body (draft).",
            flate = id % 2 == 0))
        }.toDF("doc_id", "content")
      DocFormats.extractPdfText(fixt, col("doc_id"), col("content"))
    }),

    // Magic-dispatched document-text union (r17): a mixed blob corpus —
    // even ids one-page PDFs (FlateDecode every fourth), odd ids DOCX
    // containers carrying the doc's own text — through ONE extractor
    // keyed on header bytes, the way `--warc-docs` consumes a raw
    // crawl's binary responses (served Content-Types lie; magics don't).
    "u11_document_text" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.DocFormats
      val fixt = t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val blob =
            if (id % 2 == 0)
              DocFormats.pdfFixture(s"Doc $id report body (draft).",
                flate = id % 4 == 0)
            else DocFormats.docxFixture(text)
          (id, blob)
        }.toDF("doc_id", "content")
      DocFormats.extractDocumentText(fixt, col("doc_id"), col("content"))
    }),

    // EPUB extraction (r17): per-doc minimal OCF containers (STORED
    // mimetype signature, container.xml + OPF + the doc's text across
    // two XHTML chapters) — spine members concatenate and flow through
    // the STANDARD HTML extraction, so books get the same text
    // discipline as crawled pages. Titles live in <head> and must not
    // leak (the extractor scrubs head content).
    "u12_epub_text" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.DocFormats
      val fixt = t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, DocFormats.epubFixture(text)) }
        .toDF("doc_id", "content")
      DocFormats.extractEpubText(fixt, col("doc_id"), col("content"))
    }),

    // RTF extraction (r17): per-doc fixtures carrying the doc's text
    // RTF-escaped across two \par runs, with a font table and an info
    // destination that must be scrubbed; dispatched through the SAME
    // magic-keyed documentText as pdf/docx (the {\rtf header routes).
    "u13_rtf_text" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.DocFormats
      val fixt = t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => (id, DocFormats.rtfFixture(text)) }
        .toDF("doc_id", "content")
      DocFormats.extractDocumentText(fixt, col("doc_id"), col("content"))
    }),

    // OOXML office family (r17): ONE streaming member walk pulls text
    // from whichever part the container carries — WordprocessingML
    // <w:t> runs, SpreadsheetML sharedStrings <t> cells (</si> cell
    // boundary → space), PresentationML <a:t> runs across slides in
    // name order. Fixtures rotate all three per id mod 3; dispatch
    // rides the same magic-keyed documentText as pdf/rtf.
    "u14_office_text" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.DocFormats
      val fixt = t(s, d, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val blob = (id % 3) match {
            case 0 => DocFormats.docxFixture(text)
            case 1 => DocFormats.xlsxFixture(text)
            case _ => DocFormats.pptxFixture(text)
          }
          (id, blob)
        }.toDF("doc_id", "content")
      DocFormats.extractDocumentText(fixt, col("doc_id"), col("content"))
    }))

  def oracle: Map[String, String] = Map(
    "u7_format_router" ->
      """SELECT doc_id,
                CASE doc_id % 8
                  WHEN 0 THEN 'pdf'  WHEN 1 THEN 'zip'
                  WHEN 2 THEN 'ole2' WHEN 3 THEN 'gzip'
                  WHEN 4 THEN 'rtf'  WHEN 5 THEN 'png'
                  WHEN 6 THEN 'y4m'  ELSE 'unknown' END AS format,
                CASE doc_id % 8
                  WHEN 0 THEN 'document' WHEN 1 THEN 'archive'
                  WHEN 2 THEN 'document' WHEN 3 THEN 'archive'
                  WHEN 4 THEN 'document' WHEN 5 THEN 'image'
                  WHEN 6 THEN 'video'    ELSE 'unknown' END AS family
         FROM documents""",
    "u8_pdf_text" ->
      """SELECT doc_id,
                'Doc ' || doc_id || ' report body (draft).' AS text
         FROM documents""",
    "u9_zip_members" ->
      """SELECT doc_id, m.member, true AS non_empty
         FROM documents
         CROSS JOIN (VALUES ('[Content_Types].xml'), ('word/document.xml'))
           AS m(member)""",
    "u10_docx_text" ->
      """SELECT doc_id,
                trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
         FROM documents""",
    "u11_document_text" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 2 = 0
                     THEN 'Doc ' || doc_id || ' report body (draft).'
                     ELSE trim(regexp_replace(text, '\s+', ' ', 'g'))
                END AS text
         FROM documents""",
    "u12_epub_text" ->
      """SELECT doc_id,
                trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
         FROM documents""",
    "u13_rtf_text" ->
      """SELECT doc_id,
                trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
         FROM documents""",
    "u14_office_text" ->
      """SELECT doc_id,
                trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
         FROM documents""",
    "s4_binary_md5" ->
      """SELECT doc_id, md5(text) AS content_md5,
                CAST(octet_length(encode(text)) AS INT) AS n_bytes
         FROM documents""",
    "u1_png_dims" ->
      """SELECT doc_id, 'png' AS fmt,
                CAST(n_chars % 4000 + 1 AS INT) AS width,
                CAST(doc_id % 2000 + 1 AS INT) AS height
         FROM documents""",
    "s4b_blob_roundtrip" ->
      """SELECT CAST(doc_id AS VARCHAR) || '.txt' AS name,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS content_md5
         FROM documents WHERE doc_id < 200""",
    "s16_tar_roundtrip" ->
      """SELECT CAST(doc_id AS VARCHAR) || '.txt' AS name,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS content_md5
         FROM documents WHERE doc_id < 200""",
    "u1c_bmp_gif_dims" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'gif' END AS fmt,
                CAST(CASE WHEN doc_id % 2 = 0 THEN n_chars % 3000 + 1
                          ELSE n_chars % 600 + 1 END AS INT) AS width,
                CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 1500 + 1
                          ELSE doc_id % 400 + 1 END AS INT) AS height
         FROM documents""",
    "u2_wav_meta" ->
      """WITH p AS (SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT)
                     WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050
                     WHEN 3 THEN 44100 ELSE 48000 END AS sample_rate,
                CAST(doc_id % 2 + 1 AS INT) AS channels,
                CAST(16 AS INT) AS bits,
                CAST(n_chars * 2 AS BIGINT) AS data_bytes
              FROM documents)
         SELECT doc_id, 'riff' AS fmt, sample_rate, channels, bits, data_bytes,
                round(data_bytes * 8000.0 / (sample_rate * channels * bits), 3) AS duration_ms
         FROM p""",
    "u2b_wav_samples" ->
      """WITH p AS (SELECT doc_id, CAST(doc_id % 5 + 3 AS BIGINT) AS n
              FROM documents),
              f AS (SELECT doc_id, unnest(range(0, n)) AS j FROM p),
              sv AS (SELECT doc_id, j,
                (((doc_id * 131 + j * 17) % 65536) - 32768) / 32768.0 AS a
              FROM f),
              ag AS (SELECT doc_id, list(a ORDER BY j) AS al
                     FROM sv GROUP BY doc_id)
         SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(len(al) AS INT) AS n_samples,
                -- ordered folds (list_dot_product over the j-ordered list)
                -- match the decoder's sample-order summation exactly
                round(list_dot_product(al, list_transform(al, x -> 1.0))
                  / len(al), 6) AS mean_amp,
                round(sqrt(list_dot_product(al, al) / len(al)), 6) AS rms
         FROM ag""",
    "u3_frame_plan" ->
      """WITH p AS (SELECT doc_id,
                CAST(least(greatest(floor(octet_length(encode(text)) / 64), 1), 32) AS BIGINT) AS n_frames
              FROM documents)
         SELECT doc_id, n_frames,
                CAST((n_frames - 1) // 4 + 1 AS INT) AS n_sampled,
                CAST(((n_frames - 1) // 4) * 4 AS BIGINT) AS last_frame_idx
         FROM p""",
    "u1d_decoded_dims" ->
      """SELECT doc_id, 'bmp' AS fmt,
                CAST(doc_id % 48 + 4 AS INT) AS width,
                CAST(doc_id % 23 + 2 AS INT) AS height,
                round((doc_id % 256) / 255.0, 6) AS mean_luma
         FROM documents""",
    "u1e_luma_hist" ->
      """WITH p AS (SELECT doc_id,
                CAST(doc_id % 16 + 2 AS INT) AS width,
                CAST(doc_id % 7 + 1 AS INT) AS height,
                doc_id % 256 AS g
              FROM documents),
              b AS (SELECT doc_id, width, height,
                -- CAST the coefficients to DOUBLE: DuckDB types the bare
                -- literals as exact DECIMALs, and decimal×BIGINT arithmetic
                -- is exact where the JVM's binary doubles are not — the bin
                -- boundary at g=32k then disagrees by 1 ulp
                least(CAST(floor(((CAST(0.299 AS DOUBLE) * g
                  + CAST(0.587 AS DOUBLE) * g) + CAST(0.114 AS DOUBLE) * g)
                  * 8 / 256.0) AS INT), 7) AS bin
              FROM p)
         SELECT doc_id, width, height,
                array_to_string(list_transform(range(0, 8),
                  i -> CAST(CASE WHEN i = bin
                    THEN CAST(width * height AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS VARCHAR)), ',') AS luma_hist
         FROM b""",
    "u4_video_frames" ->
      """WITH p AS (SELECT doc_id,
                CAST(doc_id % 12 + 4 AS INT) AS width,
                CAST(doc_id % 5 + 2 AS INT) AS height,
                CAST(doc_id % 4 + 2 AS BIGINT) AS nframes
              FROM documents),
              f AS (SELECT doc_id, width, height, unnest(range(0, nframes)) AS j
                    FROM p)
         SELECT doc_id, CAST(j AS INT) AS frame_idx, width, height,
                round(((doc_id * 7 + j * 13) % 256) / 255.0, 6) AS mean_luma
         -- demuxY4m(stride=2, maxFrames=2): sampled frames are j % stride = 0,
         -- and take(maxFrames) keeps sampled-rank j // stride < maxFrames —
         -- derived from the constants, not a hand-solved literal, so changing
         -- stride/maxFrames on the Spark side desynchronizes loudly here too
         FROM f WHERE j % 2 = 0 AND (j // 2) < 2""",
    "d13_image_dhash" ->
      """WITH r AS (SELECT doc_id, unnest(range(0, 16)) AS r FROM documents),
              g AS (SELECT doc_id, r,
                CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|'
                  || CAST(r AS VARCHAR)), 1, 2)) AS INT) AS g
              FROM r),
              -- a constant-gray row's mean luma is strictly monotone in the
              -- gray level, so the engine's double comparison over decoded
              -- pixels equals this integer comparison
              b AS (SELECT a.doc_id, a.r,
                CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
              FROM g a JOIN g b
                ON a.doc_id = b.doc_id AND b.r = (a.r + 1) % 16)
         SELECT doc_id, CAST(6 AS INT) AS width, CAST(16 AS INT) AS height,
                CAST(sum(bit * (CAST(1 AS BIGINT) << r)) AS BIGINT) AS dhash
         FROM b GROUP BY doc_id""",
    "d13b_image_neardup" ->
      """WITH r AS (SELECT doc_id, unnest(range(0, 16)) AS r FROM documents),
              g AS (SELECT doc_id, r,
                CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|'
                  || CAST(r AS VARCHAR)), 1, 2)) AS INT) AS g
              FROM r),
              b AS (SELECT a.doc_id, a.r,
                CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
              FROM g a JOIN g b
                ON a.doc_id = b.doc_id AND b.r = (a.r + 1) % 16),
              fp AS (SELECT doc_id,
                CAST(sum(bit * (CAST(1 AS BIGINT) << r)) AS BIGINT) AS dhash
              FROM b GROUP BY doc_id),
              bd AS (SELECT doc_id,
                bands.band AS band, (dhash >> (bands.band * 8)) & 255 AS band_val
              FROM fp CROSS JOIN (SELECT CAST(unnest(range(0, 2)) AS BIGINT) AS band) bands),
              capped AS (SELECT doc_id, band, band_val FROM bd
                QUALIFY count(*) OVER (PARTITION BY band, band_val) <= 64),
              cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM capped a JOIN capped b
                  ON a.band = b.band AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT c.doc_a, c.doc_b,
                CAST(bit_count(xor(fa.dhash, fb.dhash)) AS INT) AS hamming
         FROM cand c
         JOIN fp fa ON fa.doc_id = c.doc_a
         JOIN fp fb ON fb.doc_id = c.doc_b
         WHERE bit_count(xor(fa.dhash, fb.dhash)) <= 2""",
    "d14_audio_fp" ->
      """WITH r AS (SELECT doc_id, unnest(range(0, 16)) AS b FROM documents),
              g AS (SELECT doc_id, b,
                CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#'
                  || CAST(b AS VARCHAR)), 1, 2)) AS INT) AS amp
              FROM r),
              -- a constant-amplitude block's mean |amplitude| is amp/32768,
              -- strictly monotone in amp, so the engine's double comparison
              -- over decoded samples equals this integer comparison
              bits AS (SELECT a.doc_id, a.b,
                CASE WHEN a.amp > n.amp THEN 1 ELSE 0 END AS bit
              FROM g a JOIN g n
                ON a.doc_id = n.doc_id AND n.b = (a.b + 1) % 16)
         SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
                CAST(64 AS INT) AS n_samples,
                CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS afp
         FROM bits GROUP BY doc_id""",
    "d14b_audio_neardup" ->
      """WITH r AS (SELECT doc_id, unnest(range(0, 16)) AS b FROM documents),
              g AS (SELECT doc_id, b,
                CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#'
                  || CAST(b AS VARCHAR)), 1, 2)) AS INT) AS amp
              FROM r),
              bits AS (SELECT a.doc_id, a.b,
                CASE WHEN a.amp > n.amp THEN 1 ELSE 0 END AS bit
              FROM g a JOIN g n
                ON a.doc_id = n.doc_id AND n.b = (a.b + 1) % 16),
              fp AS (SELECT doc_id,
                CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS afp
              FROM bits GROUP BY doc_id),
              bd AS (SELECT doc_id,
                bands.band AS band, (afp >> (bands.band * 8)) & 255 AS band_val
              FROM fp CROSS JOIN (SELECT CAST(unnest(range(0, 2)) AS BIGINT) AS band) bands),
              capped AS (SELECT doc_id, band, band_val FROM bd
                QUALIFY count(*) OVER (PARTITION BY band, band_val) <= 64),
              cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM capped a JOIN capped b
                  ON a.band = b.band AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT c.doc_a, c.doc_b,
                CAST(bit_count(xor(fa.afp, fb.afp)) AS INT) AS hamming
         FROM cand c
         JOIN fp fa ON fa.doc_id = c.doc_a
         JOIN fp fb ON fb.doc_id = c.doc_b
         WHERE bit_count(xor(fa.afp, fb.afp)) <= 2""",
    "d15_video_fp" ->
      """WITH r AS (SELECT doc_id, unnest(range(0, 16)) AS f FROM documents),
              g AS (SELECT doc_id, f,
                CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '~'
                  || CAST(f AS VARCHAR)), 1, 2)) AS INT) AS lum
              FROM r),
              -- a constant-luma frame's mean luma is the byte itself,
              -- strictly monotone, so the engine's double comparison over
              -- decoded planes equals this integer comparison
              bits AS (SELECT a.doc_id, a.f,
                CASE WHEN a.lum > n.lum THEN 1 ELSE 0 END AS bit
              FROM g a JOIN g n
                ON a.doc_id = n.doc_id AND n.f = (a.f + 1) % 16)
         SELECT doc_id, CAST(4 AS INT) AS width, CAST(3 AS INT) AS height,
                CAST(16 AS INT) AS n_frames,
                CAST(sum(bit * (CAST(1 AS BIGINT) << f)) AS BIGINT) AS vfp
         FROM bits GROUP BY doc_id""",
    "d15b_video_neardup" ->
      """WITH r AS (SELECT doc_id, unnest(range(0, 16)) AS f FROM documents),
              g AS (SELECT doc_id, f,
                CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '~'
                  || CAST(f AS VARCHAR)), 1, 2)) AS INT) AS lum
              FROM r),
              bits AS (SELECT a.doc_id, a.f,
                CASE WHEN a.lum > n.lum THEN 1 ELSE 0 END AS bit
              FROM g a JOIN g n
                ON a.doc_id = n.doc_id AND n.f = (a.f + 1) % 16),
              fp AS (SELECT doc_id,
                CAST(sum(bit * (CAST(1 AS BIGINT) << f)) AS BIGINT) AS vfp
              FROM bits GROUP BY doc_id),
              bd AS (SELECT doc_id,
                bands.band AS band, (vfp >> (bands.band * 8)) & 255 AS band_val
              FROM fp CROSS JOIN (SELECT CAST(unnest(range(0, 2)) AS BIGINT) AS band) bands),
              capped AS (SELECT doc_id, band, band_val FROM bd
                QUALIFY count(*) OVER (PARTITION BY band, band_val) <= 64),
              cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM capped a JOIN capped b
                  ON a.band = b.band AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT c.doc_a, c.doc_b,
                CAST(bit_count(xor(fa.vfp, fb.vfp)) AS INT) AS hamming
         FROM cand c
         JOIN fp fa ON fa.doc_id = c.doc_a
         JOIN fp fb ON fb.doc_id = c.doc_b
         WHERE bit_count(xor(fa.vfp, fb.vfp)) <= 2""",
    "u1_magic_sniff" ->
      """SELECT doc_id, lang,
                CASE lang WHEN 'en' THEN 'png' WHEN 'fr' THEN 'jpeg'
                          WHEN 'de' THEN 'npy' ELSE 'unknown' END AS fmt,
                CASE lang WHEN 'en' THEN 24 WHEN 'fr' THEN 11 WHEN 'de' THEN 10
                          ELSE CAST(octet_length(encode(text)) + 1 AS INT) END AS n_bytes
         FROM documents""")
}
