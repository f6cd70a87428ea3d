package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** BLOB ↔ Base64 and multimodal (media) column handling.
  *
  * Reference semantics: Codeunit 60000 - Config. XML Exchange.al:1135
  * `ConvertBLOBToBase64String`, :1280 `ConvertBLOBToString` (Excel mode),
  * :1144 `ExportMediaSet` / :1171 `ExportMedia` / :1256
  * `ImportMediaSetFromFile` — the extension's headline "Export BLOB"
  * feature (PageExt60000-Page8625.al:8).
  *
  * Spark-first: base64/unbase64 are codegen'd built-ins over `binary`
  * columns. Media decode is genuinely imperative, so it runs as a typed
  * `Dataset.mapPartitions` (the Scala analog of `mapInPandas`: batch-shaped,
  * executor-side, schema known) behind the [[MediaDecoder]] seam. The
  * default decoder REALLY parses PNG/BMP container headers
  * ([[graft.sources.MediaCodec]], dependency-free); swapping in a full
  * pixel codec (JavaCV etc.) touches nothing but the seam.
  */
object Blob {

  /** §2 #9 — binary ↔ Base64 round-trip. `ok` proves decode∘encode = id.
    * Uses [[graft.functions.Base64NoWrap]] (canonical RFC 4648, codegen'd)
    * — Spark's built-in `base64` MIME-wraps lines, which no other engine
    * in the exchange does. */
  def blobBase64(spark: SparkSession, sfDir: String): DataFrame = {
    val bin = col("text").cast("binary")
    val b64 = graft.functions.Codec.base64NoWrap(bin)
    Tables.load(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        b64.as("b64"),
        (decode(unbase64(b64), "UTF-8") === col("text")).as("ok"))
      .orderBy("doc_id")
  }

  /** One decoded media record: real container metadata (parsed from the
    * payload's header bytes) + the content fingerprint. */
  case class MediaMeta(doc_id: Long, n_bytes: Long, sha_hex: String,
                       mime: String, width: Int, height: Int, frames: Int)

  /** The decode seam. The default [[HeaderDecoder]] parses container
    * headers; a full pixel codec (JavaCV etc.) swaps in with the same
    * signature and batch shape. */
  trait MediaDecoder extends Serializable {
    def decode(docId: Long, payload: Array[Byte], shaHex: String): MediaMeta
  }

  /** REAL header decoder: parses PNG (IHDR) and BMP (BITMAPINFOHEADER)
    * dimensions from the payload bytes via [[graft.sources.MediaCodec]].
    * Unrecognized payloads degrade deterministically to octet-stream
    * with zero dimensions — a decision-grade signal, not a crash, which
    * is what a 100 TB ingest wants from a malformed cell. */
  object HeaderDecoder extends MediaDecoder {
    def decode(docId: Long, payload: Array[Byte], shaHex: String): MediaMeta = {
      val d = graft.sources.MediaCodec.sniff(payload).getOrElse(
        graft.sources.MediaCodec.Dims("application/octet-stream", 0, 0, 0))
      MediaMeta(docId, payload.length.toLong, shaHex,
        d.mime, d.width, d.height, d.frames)
    }
  }

  /** REAL pixel decoder: fully decodes PNG payloads (zlib inflate +
    * scanline de-filter via [[graft.sources.MediaCodec.decodePng]]) and
    * reports the decoded raster's true dimensions; BMP and unknown
    * payloads degrade to the header path. Same seam, same batch shape —
    * proof that a full codec swaps in without touching the operators. */
  object PixelDecoder extends MediaDecoder {
    def decode(docId: Long, payload: Array[Byte], shaHex: String): MediaMeta =
      graft.sources.MediaCodec.sniff(payload) match {
        case Some(d) if d.mime == "image/png" =>
          val px = graft.sources.MediaCodec.decodePng(payload)
          MediaMeta(docId, payload.length.toLong, shaHex,
            d.mime, px.width, px.height, d.frames)
        case other =>
          HeaderDecoder.decode(docId, payload, shaHex)
      }
  }

  /** §2 #47 — media-set FILE round-trip (Codeunit 60000:1144
    * `ExportMediaSet` / :1171 `ExportMedia` / :1256
    * `ImportMediaSetFromFile`): every binary payload is written as its
    * own file in a package media folder by PER-PARTITION writers (no
    * driver byte ever moves), then re-imported through Spark's
    * `binaryFile` source and fingerprinted. Output equals the same
    * fingerprints computed directly on the source column — proving the
    * file layer is lossless.
    *
    * In local mode the folder is a local dir; on a cluster the same code
    * targets a shared store (the writer runs where the partition lives
    * either way). */
  def mediaRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ExportImport.scratch("media-files")
    val conf = spark.sparkContext.hadoopConfiguration
    // overwrite semantics: clear stale exports so a shrunk corpus can't
    // leave orphan files behind
    graft.sources.FsIO.clearChildren(dir, conf)(_ => true)

    // per-partition writers resolve the target ONCE on the executor
    // with the driver's configuration (so "a shared store" in the
    // scaladoc above means any Hadoop scheme, not a mounted posix dir);
    // FsIO.bulkWriter keeps posix speed for file: targets — the Hadoop
    // local shim forks a chmod per file without the native lib
    val sconf = graft.sources.FsIO.serializable(conf)
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val w = graft.sources.FsIO.bulkWriter(dir, sconf.value)
        try rows.foreach { r =>
          w.write(s"$dir/${r.getLong(0)}.bin", r.getAs[Array[Byte]](1))
        } finally w.close()
      }

    spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long")
          .as("doc_id"),
        col("length").as("n_bytes"),
        sha2(col("content"), 256).as("sha_hex"))
      .orderBy("doc_id")
  }

  /** §2 #10 — media pipeline: binary payload column → per-partition batch
    * encode into a REAL container (24-bpp BMP wrapping the payload as
    * pixel data) → REAL header parse → typed metadata rows. Both codec
    * steps are genuine byte-level container work ([[graft.sources
    * .MediaCodec]]); the scan and the shuffle-free batch shape are the
    * 100 TB plumbing. The BMP writer is a pure function of the payload,
    * so every parsed header field is replayed arithmetically by the
    * DuckDB oracle (width 16, 48-byte rows, 54-byte header). */
  def mediaMetadata(spark: SparkSession, sfDir: String,
                    decoder: MediaDecoder = HeaderDecoder): DataFrame = {
    import spark.implicits._
    val payloads: Dataset[(Long, Array[Byte], String)] =
      Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"),
          sha2(col("text").cast("binary"), 256).as("sha_hex"))
        .as[(Long, Array[Byte], String)]
    payloads
      .mapPartitions(_.map { case (id, bytes, sha) =>
        decoder.decode(id, graft.sources.MediaCodec.encodeBmp(bytes), sha)
      })
      .toDF()
      .orderBy("doc_id")
  }

  private def payloads(spark: SparkSession, sfDir: String)
      : Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
  }

  /** §2 #153 — FRAME SAMPLING over a real container: each payload is
    * wrapped as a 24-bpp BMP whose pixel rows are the deterministic
    * "frames"; every `everyK`-th frame is extracted BY PARSING THE
    * CONTAINER ([[graft.sources.MediaCodec.frameRows]]) and
    * fingerprinted — the frame-sample step of a video ingest, with the
    * pixel codec behind the same seam as [[mediaMetadata]]. The driver
    * query projects the sampling arithmetic (frame counts, indices,
    * byte offsets — fully oracle-replayable); the per-frame sha256
    * travels with every row and is spec-pinned (the oracle engine
    * cannot slice blobs). Batch shape: one mapPartitions, no shuffle —
    * frames never leave their executor. */
  def mediaFrameSample(spark: SparkSession, sfDir: String,
                       everyK: Int = 4): DataFrame = {
    import spark.implicits._
    payloads(spark, sfDir)
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val bmp = graft.sources.MediaCodec.encodeBmp(bytes)
        val frames = graft.sources.MediaCodec.frameRows(bmp)
        frames.collect {
          case (ix, off, fr) if ix % everyK == 0 =>
            (id, frames.length.toLong, ix.toLong, off.toLong,
              java.security.MessageDigest.getInstance("SHA-256")
                .digest(fr).map("%02x".format(_)).mkString)
        }
      })
      .toDF("doc_id", "n_frames", "frame_ix", "frame_off", "frame_sha")
      .orderBy("doc_id", "frame_ix")
  }

  /** The arithmetic projection of [[mediaFrameSample]] the driver
    * oracle replays (frame_sha is real but not SQL-replayable). */
  def mediaFrameSampleArith(spark: SparkSession, sfDir: String,
                            everyK: Int = 4): DataFrame =
    mediaFrameSample(spark, sfDir, everyK)
      .select("doc_id", "n_frames", "frame_ix", "frame_off")

  /** §2 #154 — RESIZE over a real container: payload → 24-bpp BMP →
    * REAL nearest-neighbor 2× downscale
    * ([[graft.sources.MediaCodec.resizeBmpHalf]] — actual pixel
    * copying, correctly re-aligned rows) → the resized container's
    * parsed header. `ok` proves the resized bytes parse back to the
    * expected dimensions; all dimension/size columns replay
    * arithmetically in the oracle. Map-only, no shuffle. */
  def mediaResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    payloads(spark, sfDir)
      .mapPartitions(_.map { case (id, bytes) =>
        val bmp = graft.sources.MediaCodec.encodeBmp(bytes)
        val src = graft.sources.MediaCodec.sniff(bmp).get
        val half = graft.sources.MediaCodec.resizeBmpHalf(bmp)
        val dst = graft.sources.MediaCodec.sniff(half).get
        (id, src.width.toLong, src.height.toLong,
          dst.width.toLong, dst.height.toLong, half.length.toLong,
          dst.width == (src.width + 1) / 2
            && dst.height == (src.height + 1) / 2)
      })
      .toDF("doc_id", "src_w", "src_h", "dst_w", "dst_h", "dst_bytes", "ok")
      .orderBy("doc_id")
  }

  /** §2 #159 — PNG PIXEL ROUND-TRIP over a COMPRESSED container: each
    * payload is wrapped as a real zlib-compressed PNG
    * ([[graft.sources.MediaCodec.pngWrap]]; all five RFC 2083 scanline
    * filters are encode+decode-exercised in the codec spec), then FULLY
    * decoded back (inflate + de-filter + CRC verification) and the
    * decoded raster compared byte-for-byte against the source payload.
    * `ok` proves decode∘encode = id through actual compression — the
    * decode verb of a multimodal ingest on the format it ships in.
    * Width/height/raster size replay arithmetically in the oracle
    * (same 16 px × 48-byte-row geometry as the BMP family);
    * `png_bytes` (the real IDAT-bearing file size) is data-dependent
    * Deflater output, so the driver runs the arithmetic projection
    * ([[mediaPngRoundtripArith]]) and the spec pins the full form.
    * Map-only, no shuffle; pixels never leave their executor. */
  def mediaPngRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    payloads(spark, sfDir)
      .mapPartitions(_.map { case (id, bytes) =>
        val png = graft.sources.MediaCodec.pngWrap(bytes)
        val px = graft.sources.MediaCodec.decodePng(png)
        val rowBytes = 3 * graft.sources.MediaCodec.BmpContentWidth
        val h = math.max(1, (bytes.length + rowBytes - 1) / rowBytes)
        val expected = java.util.Arrays.copyOf(bytes, rowBytes * h)
        (id, px.width.toLong, px.height.toLong, px.rgb.length.toLong,
          java.util.Arrays.equals(px.rgb, expected), png.length.toLong)
      })
      .toDF("doc_id", "width", "height", "raster_bytes", "ok", "png_bytes")
      .orderBy("doc_id")
  }

  /** The arithmetic projection of [[mediaPngRoundtrip]] the driver
    * oracle replays (png_bytes is real Deflater output — spec-pinned,
    * not SQL-replayable). */
  def mediaPngRoundtripArith(spark: SparkSession, sfDir: String): DataFrame =
    mediaPngRoundtrip(spark, sfDir)
      .select("doc_id", "width", "height", "raster_bytes", "ok")

  /** §2 #160 — RESIZE through the COMPRESSED container: payload → real
    * PNG → decode (inflate + de-filter) → nearest-neighbor 2× on the
    * decoded raster → re-encode → decode AGAIN and verify each output
    * pixel equals the expected source pixel. Unlike [[mediaResize]]
    * (whose BMP rows are addressable in place), every step here crosses
    * real zlib compression — the decode→transform→encode verb exactly
    * as a multimodal pipeline runs it. Map-only, no shuffle. */
  def mediaResizePng(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    payloads(spark, sfDir)
      .mapPartitions(_.map { case (id, bytes) =>
        val png = graft.sources.MediaCodec.pngWrap(bytes)
        val half = graft.sources.MediaCodec.resizePngHalf(png)
        val src = graft.sources.MediaCodec.decodePng(png)
        val dst = graft.sources.MediaCodec.decodePng(half)
        var ok = dst.width == (src.width + 1) / 2 &&
          dst.height == (src.height + 1) / 2
        var y = 0
        while (ok && y < dst.height) {
          var x = 0
          while (ok && x < dst.width) {
            val s = 3 * (src.width * 2 * y + 2 * x)
            val d = 3 * (dst.width * y + x)
            ok = dst.rgb(d) == src.rgb(s) && dst.rgb(d + 1) == src.rgb(s + 1) &&
              dst.rgb(d + 2) == src.rgb(s + 2)
            x += 1
          }
          y += 1
        }
        (id, src.width.toLong, src.height.toLong,
          dst.width.toLong, dst.height.toLong, ok)
      })
      .toDF("doc_id", "src_w", "src_h", "dst_w", "dst_h", "ok")
      .orderBy("doc_id")
  }

  /** §2 #183 — AUDIO pipeline: per-doc deterministic PCM synthesis →
    * REAL RIFF/WAVE container encode → REAL header parse-back →
    * waveform statistics from the DECODED samples (n_samples, peak,
    * RMS) — the audio leg of the multimodal seam next to the BMP/PNG
    * image ops ([[graft.sources.WavCodec]], JDK-only, loud-failure
    * header verification). Samples derive from the text's code points
    * (s = (cp mod 256 − 128)·256, the cross-engine character
    * contract), so every statistic is replayed arithmetically by the
    * DuckDB oracle while the container work stays byte-real.
    * Batch shape: ONE mapPartitions — encode, decode, and stats never
    * leave the executor; no shuffle. sum(s²) is an exact integer
    * (≤ n·2³⁰, far under 2⁶³), so RMS is IEEE-pinned. */
  def mediaWavStats(spark: SparkSession, sfDir: String,
                    sampleRate: Int = 16000): DataFrame = {
    import spark.implicits._
    Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val pcm = graft.sources.WavCodec.samplesOf(text)
        if (pcm.isEmpty) Iterator.empty
        else {
          val wav = graft.sources.WavCodec.encodeWav(pcm, sampleRate)
          val (sr, samples) = graft.sources.WavCodec.decodeWav(wav)
          var peak = 0L; var sumSq = 0L
          samples.foreach { s =>
            val v = s.toLong
            if (math.abs(v) > peak) peak = math.abs(v)
            sumSq += v * v
          }
          val rms = java.math.BigDecimal.valueOf(
            math.sqrt(sumSq.toDouble / samples.length))
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
          Iterator((id, sr, wav.length.toLong, samples.length.toLong,
            peak, rms))
        }
      })
      .toDF("doc_id", "sample_rate", "n_bytes", "n_samples", "peak", "rms4")
      .orderBy("doc_id")
  }

  /** §2 #198 — JPEG pipeline: per-doc deterministic RGB raster (the
    * same 16×ceil(n/48) layout as the BMP/PNG legs) → REAL baseline
    * JFIF encode (`javax.imageio`, JDK-only) → geometry recovered TWO
    * independent ways: our own SOF marker walk over the container bytes
    * ([[graft.sources.JpegCodec.parseSof]]) and a full lossy decode
    * back to pixels — the decode verb on the format web crawls actually
    * ship. `decode_ok` asserts both agree with the source geometry;
    * `mae` (mean absolute channel error of the lossy cycle) and
    * `jpeg_bytes` are real DCT-codec outputs, spec-pinned rather than
    * oracle-replayed ([[mediaJpegStatsArith]] is the driver's
    * arithmetic projection, like #153/#159).
    * Batch shape: ONE mapPartitions — encode, parse, decode never
    * leave the executor; no shuffle; nothing but the stats row moves. */
  def mediaJpegStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    payloads(spark, sfDir)
      .mapPartitions(_.map { case (id, bytes) =>
        val w = 16
        val h = math.max(1, math.ceil(bytes.length / 48.0).toInt)
        val rgb = java.util.Arrays.copyOf(bytes, 3 * w * h)
        val jpg = graft.sources.JpegCodec.encodeJpeg(w, h, rgb)
        val sof = graft.sources.JpegCodec.parseSof(jpg)
        val px = graft.sources.JpegCodec.decodeJpeg(jpg)
        var errSum = 0L; var i = 0
        while (i < rgb.length) {
          errSum += math.abs((rgb(i) & 0xff) - (px.rgb(i) & 0xff)); i += 1
        }
        val mae = java.math.BigDecimal
          .valueOf(errSum.toDouble / rgb.length)
          .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()
        (id, w.toLong, h.toLong, sof.width.toLong, sof.height.toLong,
          sof.components.toLong,
          sof.width == w && sof.height == h && !sof.progressive &&
            px.width == w && px.height == h,
          jpg.length.toLong, mae)
      })
      .toDF("doc_id", "width", "height", "sof_w", "sof_h", "n_comp",
        "decode_ok", "jpeg_bytes", "mae")
      .orderBy("doc_id")
  }

  /** The arithmetic projection of [[mediaJpegStats]] the driver oracle
    * replays (jpeg_bytes/mae are real lossy-codec outputs — spec-pinned,
    * not SQL-replayable). */
  def mediaJpegStatsArith(spark: SparkSession, sfDir: String): DataFrame =
    mediaJpegStats(spark, sfDir)
      .select("doc_id", "width", "height", "sof_w", "sof_h", "n_comp",
        "decode_ok")

  /** §2 #201 — IMAGE PERCEPTUAL-HASH NEAR-DUP DETECTION: the operator
    * that bridges the media seam and the dedup family — near-duplicate
    * IMAGE detection at corpus scale. Per doc: deterministic grayscale
    * raster ([[graft.sources.MediaCodec.grayRasterOf]], the WAV-style
    * code-point contract) → REAL PNG encode → REAL full decode (zlib
    * inflate + de-filter + CRC) → 56-bit dHash over the DECODED pixels
    * ([[graft.sources.MediaCodec.dhash56]]) → banded Hamming candidate
    * pairs via the shared SimHash band machinery
    * ([[Dedup.bandedHammingPairs]], 8 bands × 7 bits). Pigeonhole: at
    * maxHamming ≤ 7 every qualifying pair shares a clean band, so the
    * banded plan EQUALS the all-pairs oracle — recall 1.0, verified.
    *
    * Scale shape: fingerprinting is ONE mapPartitions (encode, decode,
    * hash never leave the executor — at 100 TB the image bytes are the
    * dominant mass and they never shuffle); the candidate join moves
    * only (band_key, id, fp) and shuffles on the band key. Output is
    * bounded by the near-dup pair count, exactly like text SimHash. */
  def mediaPhashDedup(spark: SparkSession, sfDir: String,
                      maxHamming: Int = 7): DataFrame =
    Dedup.bandedHammingPairs(
      phashFingerprints(Tables.load(spark, sfDir, "documents")),
      bands = 8, bandBits = 7, maxHamming)

  /** (doc_id, fp) via the REAL container cycle: raster → PNG encode →
    * full decode → dHash over the DECODED pixels. One mapPartitions;
    * shared by the batch pair search, the incremental decisions, and
    * the streaming ingest. */
  private[graft] def phashFingerprints(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val raster = graft.sources.MediaCodec.grayRasterOf(text)
        val png = graft.sources.MediaCodec.encodePng(
          raster.width, raster.height, raster.rgb, _ => 0)
        val px = graft.sources.MediaCodec.decodePng(png)
        (id, graft.sources.MediaCodec.dhash56(px))
      })
      .toDF("doc_id", "fp")
  }

  /** §2 #201c — INCREMENTAL image-dedup decisions: each delta document
    * against an accumulated base FINGERPRINT table (8 bytes/image — the
    * only state a 100 TB image ingest keeps hot). A delta doc is
    * `near` when its dHash is within `maxHamming` of any base
    * fingerprint OR of a SMALLER-id delta doc (the one-level in-batch
    * rule [[Dedup.incrementalFrom]] proves for text); `kept` otherwise.
    * The probe side of the band join is the DELTA ONLY — daily cost ∝
    * increment, never base×base, the same economics as
    * dedup_pairs_incremental. Returns (doc_id, fp, decision) so the
    * streaming ingest appends kept fingerprints without re-decoding. */
  def mediaPhashIncrementalFrom(baseFps: DataFrame, delta: DataFrame,
                                maxHamming: Int = 7): DataFrame =
    bandedIncrementalDecisions(baseFps, phashFingerprints(delta),
      maxHamming)

  /** Shared incremental-decision core over ANY 56-bit fingerprint
    * family (image phash, audio envelope): each delta fingerprint is
    * 'near' if it collides within `maxHamming` with a base fingerprint
    * or a smaller-id delta one (the order-free pairwise rule), 'kept'
    * otherwise. 8 × 7 banding — pigeonhole-exact at the radius-7
    * default, probe side restricted to the delta so per-batch cost ∝
    * increment. */
  private def bandedIncrementalDecisions(baseFps: DataFrame,
                                         deltaFps: DataFrame,
                                         maxHamming: Int): DataFrame = {
    val build = baseFps.select(col("doc_id"), col("fp"))
      .withColumn("b_is_base", lit(true))
      .unionByName(deltaFps.withColumn("b_is_base", lit(false)))
    val pairs = Dedup.bandedHammingPairsFrom(
      deltaFps, build, bands = 8, bandBits = 7, maxHamming)
    val blockers = pairs
      .join(build.select(col("doc_id").as("id_b"), col("b_is_base")),
        Seq("id_b"))
      .filter(col("b_is_base") || col("id_b") < col("id_a"))
      .select(col("id_a").as("doc_id")).distinct()
      .withColumn("blocked", lit(true))
    deltaFps.join(blockers, Seq("doc_id"), "left")
      .select(col("doc_id"), col("fp"),
        when(coalesce(col("blocked"), lit(false)), lit("near"))
          .otherwise(lit("kept")).as("decision"))
      .orderBy("doc_id")
  }

  /** §2 #204d — INCREMENTAL audio-dedup decisions: the audio twin of
    * [[mediaPhashIncremental]], completing modality parity for the
    * incremental ingest path. A delta batch of documents is
    * fingerprinted (RIFF/WAVE encode → decode → energy dHash) and
    * decided against the accumulated base FINGERPRINT table — 8 B per
    * audio doc of hot state, audio bytes never re-read. Radius 7 with
    * the 8 × 7 banding is pigeonhole-exact, so the oracle's all-pairs
    * EXISTS replays the identical decision set. */
  def mediaWavFpIncrementalFrom(baseFps: DataFrame, delta: DataFrame,
                                maxHamming: Int = 7): DataFrame =
    bandedIncrementalDecisions(baseFps, wavFpsOf(delta), maxHamming)

  /** The driver query form of [[mediaWavFpIncrementalFrom]]: the
    * %-slice stands in for the delta batch, the
    * dedup_pairs_incremental convention. */
  def mediaWavFpIncremental(spark: SparkSession, sfDir: String,
                            maxHamming: Int = 7, mod: Int = 10,
                            deltaFrom: Int = 8): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val isDelta = col("doc_id") % mod >= deltaFrom
    mediaWavFpIncrementalFrom(
      wavFpsOf(docs.filter(!isDelta)), docs.filter(isDelta), maxHamming)
      .select("doc_id", "decision")
  }

  /** §2 #204c — AUDIO NEAR-DUP CLUSTERS: connected components over the
    * radius-7 audio fingerprint pairs (8 × 7 banding, pigeonhole-exact
    * recall), the audio twin of [[mediaPhashClusters]] — every
    * document gets (cluster_id, n_members, is_canonical); keep the
    * canonicals and the audio corpus is deduped. Docs too short to
    * synthesize audio stay singleton clusters. */
  def mediaWavFpClusters(spark: SparkSession, sfDir: String,
                         maxHamming: Int = 7): DataFrame =
    Dedup.dedupClustersFromPairs(
      Tables.load(spark, sfDir, "documents").select(col("doc_id")),
      Dedup.bandedHammingPairs(wavFps(spark, sfDir),
        bands = 8, bandBits = 7, maxHamming)
        .select(col("id_a"), col("id_b")))

  /** The driver query form of [[mediaPhashIncrementalFrom]]: the %-slice
    * stands in for the delta batch (base = doc_id%10 < 8), exactly the
    * dedup_pairs_incremental convention. */
  def mediaPhashIncremental(spark: SparkSession, sfDir: String,
                            maxHamming: Int = 7, mod: Int = 10,
                            deltaFrom: Int = 8): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val isDelta = col("doc_id") % mod >= deltaFrom
    mediaPhashIncrementalFrom(
      phashFingerprints(docs.filter(!isDelta)), docs.filter(isDelta),
      maxHamming)
      .select("doc_id", "decision")
  }

  /** §2 #201b — IMAGE NEAR-DUP CLUSTERS: the [[mediaPhashDedup]] pairs
    * fed through the proven connected-components propagation
    * ([[Dedup.dedupClustersFromPairs]]) — per image: cluster id,
    * cluster size, canonical flag. Keep `is_canonical`, drop the rest,
    * and the image corpus is deduped — the same end-to-end verb the
    * text side runs as dedup_clusters, closing the media→dedup bridge.
    * Scale shape inherited: banded fingerprint join for candidates,
    * connected components finished on the driver (after contraction
    * rounds past 2M edge rows); image bytes never shuffle. */
  def mediaPhashClusters(spark: SparkSession, sfDir: String,
                         maxHamming: Int = 7): DataFrame =
    Dedup.dedupClustersFromPairs(
      Tables.load(spark, sfDir, "documents").select(col("doc_id")),
      mediaPhashDedup(spark, sfDir, maxHamming)
        .select(col("id_a"), col("id_b")))

  /** §2 #204 — AUDIO FINGERPRINT NEAR-DUP DETECTION: the audio twin of
    * [[mediaPhashDedup]], closing media dedup across BOTH modalities.
    * Per doc: deterministic PCM synthesis (the WAV code-point
    * contract) → REAL RIFF/WAVE encode → REAL decode → 56-bit energy-
    * envelope difference hash over the DECODED samples
    * ([[graft.sources.WavCodec.energyFp56]]) → banded Hamming pairs
    * via the shared band machinery (14 bands × 4 bits; pigeonhole ⇒
    * recall 1.0 at Hamming ≤ 13 — audio envelopes are more
    * discriminative than image rasters, hence the wider radius and the
    * narrower bands). The band width PRICES the exactness: 4-bit bands
    * collide at ~14·n²/16 candidate rows, the cost of guaranteed
    * recall at a 13/56 radius. At corpus scale the two priced
    * alternatives are (a) shrink the radius — 8 bands × 7 bits at
    * Hamming ≤ 7 collides at n²/128, the phash configuration — or
    * (b) accept S-curve recall with fewer, wider bands and plan it
    * with the lsh_plan machinery; this operator keeps the
    * exact-recall configuration so the oracle equality holds.
    * Scale shape: fingerprinting is ONE mapPartitions (audio bytes
    * never shuffle); the candidate join moves (band_key, id, fp)
    * only. */
  def mediaWavFpDedup(spark: SparkSession, sfDir: String,
                      maxHamming: Int = 13): DataFrame =
    Dedup.bandedHammingPairs(wavFps(spark, sfDir),
      bands = 14, bandBits = 4, maxHamming)

  /** The 56-bit audio fingerprint frame (doc_id, fp) — encode → decode
    * → energy-envelope dHash, ONE mapPartitions, shared by the strict
    * and planned dedup forms, the incremental decisions and the
    * streaming twin ([[graft.streaming.StreamWavFp]]). */
  private[graft] def wavFpsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val pcm = graft.sources.WavCodec.samplesOf(text)
        if (pcm.isEmpty) Iterator.empty
        else {
          val wav = graft.sources.WavCodec.encodeWav(pcm, 16000)
          val (_, samples) = graft.sources.WavCodec.decodeWav(wav)
          Iterator((id, graft.sources.WavCodec.energyFp56(samples)))
        }
      })
      .toDF("doc_id", "fp")
  }

  private def wavFps(spark: SparkSession, sfDir: String): DataFrame =
    wavFpsOf(Tables.load(spark, sfDir, "documents"))

  /** §2 #204b — the PLANNED-GEOMETRY audio-dedup headline: the same
    * fingerprints and the same Hamming ≤ 13 verification as
    * [[mediaWavFpDedup]], but banded 8 × 7 (the phash geometry)
    * instead of the strict form's 14 × 4. The strict geometry BUYS
    * exact recall at radius 13 with a ~14·n²/16 candidate cost — a
    * scale-killer as the per-band key space (4 bits) saturates; this
    * form collides at ~8·n²/128 and PLANS its recall instead:
    * pigeonhole-exact through Hamming 7, then the published S-curve
    * [[graft.operators.Dedup.plannedBandRecall]](8, 7, 56, h) for
    * h = 8..13 (0.996 at h=8 falling to 0.776 at h=13 under the
    * uniform model — MediaCodecSpec pins measured against expected).
    * Contiguous band keys are a pure function of the fingerprint, so
    * the surfaced pair set is DETERMINISTIC and the DuckDB oracle
    * replays the identical band-match disjunction — this is planned
    * recall with an oracle, not sampled recall. The strict form stays
    * registered as the documented exact-recall mode. */
  def mediaWavFpPlanned(spark: SparkSession, sfDir: String,
                        maxHamming: Int = 13): DataFrame =
    Dedup.bandedHammingPlanned(wavFps(spark, sfDir),
      bands = 8, bandBits = 7, maxHamming)

  /** §2 #217 — HAMMING BAND PLANNER: the [[Dedup.lshPlan]] doctrine
    * for the 56-bit fingerprint family (image dHash, audio envelope
    * dHash, SimHash-56). Per contiguous band geometry (bands ×
    * band_bits = 56): the radius where recall is pigeonhole-EXACT
    * (bands − 1), the closed-form expected recall at Hamming 8/10/13
    * under the uniform model ([[Dedup.plannedBandRecallExact]] — exact
    * integer numerator/denominator published for h = 13, so the
    * contract carries no float accumulation), and the MEASURED
    * candidate volume on the real corpus: Σ_{band,key} C(n_key, 2)
    * band-join rows over the actual audio fingerprints — the exact row
    * count the LSH equi-join would move, the cost side of the
    * cost/recall trade the planner navigates (lsh_plan plans Jaccard
    * banding the same way; ivf_probe_sweep plans nProbe).
    *
    * Scale shape: ONE fingerprint pass (shared, cached) + per-scheme
    * map-only band-key explode → hash agg over key counts — no pair
    * join is ever materialized; the plan table is 7 rows. */
  def hammingPlan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val schemes = Seq((2, 28), (4, 14), (7, 8), (8, 7), (14, 4),
      (28, 2), (56, 1))
    val fps = TransientCaches.register(wavFps(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cand = schemes.map { case (b, bits) =>
      Dedup.withBandKeys(fps, b, bits)
        .groupBy("band_key").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
          .as("cand_rows"))
        .select(lit(b).as("bands"), lit(bits).as("band_bits"),
          col("cand_rows"))
    }.reduce(_.unionByName(_))
    val rec = schemes.map { case (b, bits) =>
      def nd(h: Int) = Dedup.plannedBandRecallExact(b, bits, 56, h)
      val (n8, d8) = nd(8); val (n10, d10) = nd(10); val (n13, d13) = nd(13)
      (b, bits, n8.toLong, d8.toLong, n10.toLong, d10.toLong,
        n13.toLong, d13.toLong)
    }.toDF("bands", "band_bits", "n8", "d8", "n10", "d10", "n13", "d13")
    cand.join(broadcast(rec), Seq("bands", "band_bits"))
      .select(col("bands"), col("band_bits"),
        (col("bands") - 1).as("exact_radius"),
        col("cand_rows"),
        round(col("n8").cast("double") / col("d8"), 6).as("rec6_h8"),
        round(col("n10").cast("double") / col("d10"), 6).as("rec6_h10"),
        round(col("n13").cast("double") / col("d13"), 6).as("rec6_h13"),
        col("n13").as("rec_num_h13"), col("d13").as("rec_den_h13"))
      .orderBy("bands")
  }
}
