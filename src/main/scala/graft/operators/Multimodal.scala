package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (north-star; BASELINE.json north_star).
  *
  * Media (image/audio/video) are opaque `binary` columns plus a typed
  * metadata struct. The Spark-side plumbing — schema, partitioning, batch
  * shape, feature layout — is real and tested. IMAGE header decode is
  * REAL (`decodeImageMeta`: JDK-built-in `javax.imageio`, PNG/JPEG/GIF/
  * BMP width/height/channels/format, header-only — no pixel decode, no
  * new dependencies); `encodePng` is a real JDK PNG encoder used to
  * plant decodable fixtures. AUDIO decode is REAL too (`wavStats`:
  * JDK-built-in `javax.sound.sampled`, WAV/RIFF container + 16-bit PCM
  * frames, with `synthWavAssets` planting genuine WAV fixtures). The
  * remaining codec steps (pixel-level feature extraction, video
  * decode — libraries absent from this container) stay STUBS:
  * `decodeStub` produces deterministic fake
  * features derived from the bytes, clearly marked, with the exact
  * signature a real decoder (e.g. a `mapInPandas`/`mapInArrow` Python
  * worker or a JNI codec) would slot into.
  *
  * Scale design: assets are processed partition-parallel; features are
  * fixed-width `array<float>` so downstream similarity/dedup operators
  * (Similarity, Dedup.embeddingNearDup) apply unchanged; metadata-only
  * queries never deserialize the binary payload (Parquet column pruning).
  */
object Multimodal {

  /** Canonical asset schema. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("codec", StringType, nullable = true))), nullable = true)))

  /** Build an asset table from any source with an id and a binary-able
    * column (used in tests to fabricate assets from document text). */
  def fromBinary(df: DataFrame, idCol: String, binCol: Column,
      mediaType: String): DataFrame =
    df.select(
      // non-numeric ids would silently null through a bare cast,
      // violating assetSchema's non-null contract — fall back to the
      // same stable hash fromBinaryFiles uses for paths
      coalesce(col(idCol).cast(LongType),
        xxhash64(col(idCol)).bitwiseAND(lit(Long.MaxValue)))
        .as("asset_id"),
      lit(mediaType).as("media_type"),
      binCol.cast(BinaryType).as("payload"),
      struct(
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms"),
        lit("stub").as("codec")).as("meta"))

  /** Ingest a directory of real media files via Spark's `binaryFile`
    * source: one asset row per file, payload = file bytes, asset_id = a
    * stable 63-bit hash of the path. This is the production ingestion
    * edge for the multimodal plane — the source is distributed, prunes
    * `content` when only metadata columns are selected, and respects
    * `pathGlobFilter` for media-type routing. */
  def fromBinaryFiles(spark: SparkSession, dir: String,
      mediaType: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        xxhash64(col("path")).bitwiseAND(lit(Long.MaxValue))
          .as("asset_id"),
        lit(mediaType).as("media_type"),
        col("content").as("payload"),
        struct(
          lit(null).cast(IntegerType).as("width"),
          lit(null).cast(IntegerType).as("height"),
          lit(null).cast(LongType).as("duration_ms"),
          lit("file").as("codec")).as("meta"),
        col("path"),
        col("length"))

  /** Describe pass: size, content fingerprint, codec. NOTE: computing
    * `payload_md5` reads every payload byte by design (it is the
    * content fingerprint) — for a truly metadata-only pass over a
    * multi-TB asset table, select the non-payload columns directly and
    * Parquet prunes the payload (see the mm_sample_frames plan
    * assertion in PlanSpec). */
  def describe(assets: DataFrame): DataFrame =
    assets
      .withColumn("img", sniffImageUdf(col("payload")))
      .select(
        col("asset_id"),
        col("media_type"),
        octet_length(col("payload")).as("payload_bytes"),
        md5(col("payload")).as("payload_md5"),
        col("meta.codec").as("codec"),
        // REAL header decode: populated for genuine image payloads,
        // null for everything else (javax.imageio, header-only)
        col("img.width").as("width"),
        col("img.height").as("height"),
        col("img.channels").as("channels"),
        col("img.format").as("img_format"))

  // ---------------------------------------------------------------------
  // REAL image header codec (javax.imageio — JDK built-in, zero deps).
  // A codec is genuinely imperative per-row byte work, so this is one of
  // the two deliberate UDFs in the engine (the other is the PNG encoder
  // below); everything around it stays declarative and codegen'd.
  // ---------------------------------------------------------------------

  /** Decoded image header: dimensions, band count, container format. */
  case class ImageMeta(width: Int, height: Int, channels: Int,
      format: String)

  /** Magic-byte pre-check so non-image payloads (the common case on a
    * mixed asset table) skip ImageIO reader discovery entirely — a
    * four-byte compare instead of stream+SPI probing per row. */
  private def looksLikeImage(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 && (
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G') ||                                   // PNG
      (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) ||     // JPEG SOI
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') ||      // GIF
      (b(0) == 'B' && b(1) == 'M'))                       // BMP

  /** Header-only decode: width/height via the format reader's metadata
    * path, channels from the declared image type — pixels are never
    * decoded, so cost is O(header) not O(width·height). Any parse
    * failure (truncated/corrupt payload, unsupported format) degrades
    * to None — the caller sees null meta, never an exception mid-scan. */
  private def readImageHeader(bytes: Array[Byte]): Option[ImageMeta] = {
    if (!looksLikeImage(bytes)) return None
    try {
      // in-memory stream: disable ImageIO's temp-file cache per call
      // site via memory-backed input (never touches executor disk)
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis, true, true)
            val types = r.getImageTypes(0)
            val bands =
              if (types.hasNext) types.next().getNumBands else 0
            Some(ImageMeta(r.getWidth(0), r.getHeight(0), bands,
              r.getFormatName.toLowerCase))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case NonFatal(_) => None }
  }

  // NOT marked non-deterministic (unlike the pixel/PCM codecs below):
  // header-only decode is cheap and the ND barrier blocks other
  // filters from reordering past it — mm_image_meta measured ~2×
  // slower same-session when marked (r21 A/B); the guide's rule is
  // expensive UDFs only, not blanket
  private val sniffImageUdf =
    udf { bytes: Array[Byte] => readImageHeader(bytes) }

  /** 56-bit dHash-style perceptual fingerprint over REAL decoded
    * pixels (full `ImageIO.read`, not just the header): sample an 8×8
    * luma grid by nearest-pixel mapping (xₛ = ⌊cx·w/8⌋, yₛ = ⌊cy·h/8⌋
    * — total and integer-exact, so an external oracle that knows the
    * planted pixel formula replays it bit-for-bit; an area-average
    * resample would drag in filter-kernel specifics no SQL engine
    * reproduces), then bit cy·7+cx = [luma(cx+1,cy) > luma(cx,cy)]
    * with integer luma 299R+587G+114B. 56 bits (8 rows × 7 adjacent
    * comparisons) keeps the accumulated value inside BIGINT in every
    * engine (the classic 9×8 dHash's 64th bit would overflow a signed
    * sum). Near-duplicate images land within a small Hamming distance;
    * pair them with the existing Hamming-banded machinery
    * (simhashHammingPairs operates on any Long fingerprint). */
  private val phashUdf = udf { bytes: Array[Byte] =>
    try {
      // memory-backed stream, like the header sniffer above:
      // ImageIO.read(InputStream) defaults to a DISK-cached wrapper
      // (useCache=true → one temp file created+deleted per row on
      // executor local disk). Decoded payloads here are row-sized;
      // the temp-file churn is pure overhead and contends with
      // co-resident writers under load (r22 item-1 adjudication: the
      // mm rows inflated 3-4× only in full-suite context — shared
      // /tmp churn — while isolated runs stayed flat)
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(bytes)))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        def luma(cx: Int, cy: Int): Long = {
          val v = img.getRGB(cx * w / 8, cy * h / 8) & 0xFFFFFF
          299L * ((v >> 16) & 255) + 587L * ((v >> 8) & 255) +
            114L * (v & 255)
        }
        var hash = 0L
        var cy = 0
        while (cy < 8) {
          var cx = 0
          while (cx < 7) {
            if (luma(cx + 1, cy) > luma(cx, cy))
              hash |= 1L << (cy * 7 + cx)
            cx += 1
          }
          cy += 1
        }
        Some(hash)
      }
    } catch { case NonFatal(_) => None }
  }.asNondeterministic() /* §4.4: stop the optimizer substituting this codec into pushed filters (it was computed twice, below the fan-out exchange) */

  /** Perceptual-hash projection over an asset table: (asset_id,
    * phash), null phash for undecodable payloads. Partition-parallel
    * single-pass; payloads never shuffle. */
  def perceptualHash(assets: DataFrame): DataFrame =
    assets.select(col("asset_id"), phashUdf(col("payload")).as("phash"))

  /** REAL image metadata decode over an asset table: (asset_id,
    * media_type, width, height, channels, img_format); nulls for
    * payloads that are not decodable images (stub-fallback contract).
    * Partition-parallel; payload bytes are read once per row and never
    * shuffled — only the fixed-width meta survives the projection. */
  def decodeImageMeta(assets: DataFrame): DataFrame =
    assets
      .withColumn("img", sniffImageUdf(col("payload")))
      .select(col("asset_id"), col("media_type"),
        col("img.width").as("width"),
        col("img.height").as("height"),
        col("img.channels").as("channels"),
        col("img.format").as("img_format"))

  /** REAL PNG encoder (JDK `ImageIO.write`): a deterministic RGB
    * pattern derived from (id, x, y), used to plant decodable image
    * fixtures whose dimensions an external oracle can predict
    * arithmetically — the engine must round-trip a genuine PNG
    * encode+decode for results to match. Dims are clamped to ≥1 (a
    * 0-dim BufferedImage throws). */
  private val encodePngUdf = udf { (id: Long, w: Int, h: Int) =>
    val width = math.max(w, 1)
    val height = math.max(h, 1)
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, ((id * 31 + y * 17 + x * 7) & 0xFFFFFF).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    // memory-backed output stream: ImageIO.write(img, fmt,
    // OutputStream) defaults to a DISK-cached wrapper (useCache=true
    // → one temp file created+deleted per encode on executor local
    // disk) — pure overhead for row-sized payloads, and the churn
    // contends with co-resident writers under load (see phashUdf)
    val ios =
      new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, "png", ios)
    finally ios.close()
    bos.toByteArray
  }.asNondeterministic() /* §4.4: stop the optimizer substituting this codec into pushed filters (it was computed twice, below the fan-out exchange) */

  /** Synthesize real PNG assets (one per input row) with the given
    * per-row dimensions: the planted-fixture generator for the real
    * decode path. Output follows `assetSchema` (+ codec = "png"). */
  def synthPngAssets(df: DataFrame, idCol: String, widthCol: Column,
      heightCol: Column): DataFrame = {
    val id = col(idCol).cast(LongType)
    // fan the PNG-encode kernel out across cores on under-partitioned
    // input (single-row-group bench files → ONE task otherwise; no-op
    // at scale) — the exchange moves (id, dims) BEFORE payloads exist
    graft.sources.Tables.fanOutForKernel(df).select(
      coalesce(id, xxhash64(col(idCol)).bitwiseAND(lit(Long.MaxValue)))
        .as("asset_id"),
      lit("image").as("media_type"),
      encodePngUdf(coalesce(id, lit(0L)),
        widthCol.cast(IntegerType), heightCol.cast(IntegerType))
        .as("payload"),
      struct(
        widthCol.cast(IntegerType).as("width"),
        heightCol.cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms"),
        lit("png").as("codec")).as("meta"))
  }

  // ---------------------------------------------------------------------
  // STUB decode path. A real deployment replaces `decodeStub` with a
  // codec (libjpeg/ffmpeg behind mapInArrow or a JVM decoder); everything
  // around it — partitioning, schema, feature width — is production shape.
  // ---------------------------------------------------------------------

  /** STUB "decode + feature extract": deterministic fake `featureDim`
    * floats derived from payload bytes, stands in for a real
    * embedding/decoded-frame featurizer. ONE md5 over the payload, then
    * per-feature universal (A·h+B) mod p mixing — the same one-hash
    * pattern as Dedup's MinHash; the k-md5 form would hash
    * featureDim × |payload| bytes per asset. Pure built-ins, so the
    * plumbing is still codegen'd and engine-checkable. */
  def decodeStub(assets: DataFrame, featureDim: Int): DataFrame = {
    val p = Dedup.MinhashP
    val h = pmod(
      conv(substring(md5(hex(col("payload"))), 1, 15), 16, 10)
        .cast("long"), lit(p))
    val feats = (0 until featureDim).map { i =>
      (((lit(Dedup.minhashA(i)) * h + lit(Dedup.minhashB(i))) % p)
        .cast("double") / lit(p.toDouble)).cast("float")
    }
    assets.select(col("asset_id"), col("media_type"),
      array(feats: _*).as("features"))
  }

  /** STUB resize plumbing: per image asset, the metadata transform of a
    * real resize — target dims recorded in the meta struct, payload
    * passed through with a derived content tag (a real implementation
    * re-encodes bytes here; everything else — schema, meta update,
    * aspect handling — is the production shape). `maxSide` bounds the
    * longer edge; unknown source dims — EITHER dim null
    * (metadata-less ingest) — resize to exactly (maxSide, maxSide) by
    * convention. Aspect-preserving: known (w, h) scale by
    * maxSide/max(w, h), never upscaled. Null payloads yield a null tag
    * (no content ⇒ no content tag). */
  def resizeStub(assets: DataFrame, maxSide: Int): DataFrame = {
    require(maxSide > 0, s"maxSide must be positive: $maxSide")
    val w = col("meta.width")
    val h = col("meta.height")
    // both dims or nothing: greatest() skips nulls, so a half-known
    // (null, 2000) image would otherwise take the scaling branch and
    // emit a null output width
    val known = w.isNotNull && h.isNotNull
    val longSide = greatest(w, h)
    // floor(side·maxSide / longSide): pixel dims are far below 2^26, so
    // the double product/quotient is exact and floor is safe
    def scaled(side: Column) =
      when(!known, lit(maxSide))
        .when(longSide <= maxSide, side)
        .otherwise(floor(side * maxSide / longSide).cast(IntegerType))
    assets.filter(col("media_type") === "image")
      .select(col("asset_id"),
        scaled(w).as("out_width"),
        scaled(h).as("out_height"),
        // concat (NOT concat_ws): a null payload must propagate to a
        // null tag — concat_ws skips nulls and would stamp a concrete
        // tag for missing content, diverging from the oracle's
        // null-propagating `||`
        md5(concat(md5(col("payload")), lit("#"), lit(maxSide.toString)))
          .as("resized_tag"))
  }

  // ---------------------------------------------------------------------
  // REAL audio decode (JDK `javax.sound.sampled` — WAV/RIFF container +
  // PCM, no new dependencies; the same planted-fixture discipline as the
  // PNG path: synthesize genuine WAV bytes from an arithmetic sample
  // recipe, decode them for real, and let the oracle recompute the
  // aggregates from the recipe — a header-faking engine cannot match).
  // ---------------------------------------------------------------------

  private val WavRate = 8000f

  /** REAL WAV encoder: 16-bit signed little-endian mono PCM frames
    * s(i) = ((id·31 + i·7) mod 2003) − 1001, wrapped in a genuine RIFF
    * container by `AudioSystem.write`. Frame counts clamped ≥1. */
  private val encodeWavUdf = udf { (id: Long, nFrames: Int) =>
    val n = math.max(nFrames, 1)
    val bytes = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (((id * 31 + i.toLong * 7) % 2003) - 1001).toInt
      bytes(2 * i) = (s & 0xFF).toByte
      bytes(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(WavRate, 16, 1,
      true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(bytes), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }.asNondeterministic() /* §4.4: stop the optimizer substituting this codec into pushed filters (it was computed twice, below the fan-out exchange) */

  /** Synthesize real WAV assets (one per input row) with the given
    * per-row frame counts — the audio twin of [[synthPngAssets]].
    * Output follows `assetSchema` (+ codec = "wav", duration in ms). */
  def synthWavAssets(df: DataFrame, idCol: String,
      framesCol: Column): DataFrame = {
    val id = col(idCol).cast(LongType)
    val frames = framesCol.cast(IntegerType)
    // same fan-out as synthPngAssets: PCM synthesis is the kernel,
    // payloads are created above the exchange and never shuffle
    graft.sources.Tables.fanOutForKernel(df).select(
      coalesce(id, xxhash64(col(idCol)).bitwiseAND(lit(Long.MaxValue)))
        .as("asset_id"),
      lit("audio").as("media_type"),
      encodeWavUdf(coalesce(id, lit(0L)), frames).as("payload"),
      struct(
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        (frames.cast(LongType) * 1000L / WavRate.toLong)
          .as("duration_ms"),
        lit("wav").as("codec")).as("meta"))
  }

  /** Decoded per-asset audio statistics over REAL decoded PCM frames:
    * sample rate, frame count, exact Long sample sum, energy (Σ s²)
    * and peak (max |s|) — the loudness/clipping profile an audio
    * curation pass gates on. Payloads that are not decodable 16-bit
    * PCM WAV are dropped (quarantine-filter convention). Decode is a
    * UDF by necessity (a byte-level container+PCM codec has no
    * Column-function form — same justification as the image family);
    * each payload is decoded once, row-locally, and never shuffles. */
  def wavStats(assets: DataFrame): DataFrame = {
    val statsUdf = udf { (payload: Array[Byte]) =>
      if (payload == null) None
      else try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(payload))
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
          fmt.isBigEndian ||
          fmt.getEncoding !=
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val pcm = ais.readAllBytes()
          val n = pcm.length / 2
          var i = 0
          var sum = 0L
          var energy = 0L
          var peak = 0L
          while (i < n) {
            val s = ((pcm(2 * i) & 0xFF) |
              (pcm(2 * i + 1).toInt << 8)).toShort.toLong
            sum += s
            energy += s * s
            if (math.abs(s) > peak) peak = math.abs(s)
            i += 1
          }
          Some((fmt.getSampleRate.toLong, n.toLong, sum, energy, peak))
        }
      } catch { case NonFatal(_) => None }
    }.asNondeterministic() /* §4.4: stop the optimizer substituting this codec into pushed filters (it was computed twice, below the fan-out exchange) */
    assets
      .select(col("asset_id"), statsUdf(col("payload")).as("st"))
      .filter(col("st").isNotNull)
      .select(col("asset_id"),
        col("st._1").as("sample_rate"), col("st._2").as("n_frames"),
        col("st._3").as("sum_s"), col("st._4").as("energy"),
        col("st._5").as("peak"))
  }

  /** Linear-interpolation PCM RESAMPLE over real decoded WAV frames:
    * output sample j at `outRate` sits at source position
    * p = j·inRate/outRate and interpolates its two bracketing
    * samples — kept EXACT by scaling by outRate
    * (s_u = s[⌊p⌋]·(outRate−frac) + s[⌊p⌋+1]·frac, all integers), so
    * the resampled stream is DuckDB-oracle-able against the synth
    * waveform's arithmetic form — real audio-pipeline plumbing
    * (rate-normalize before featurization) with none of the float
    * smear. Decode is the [[wavStats]] UDF discipline: row-local,
    * payloads never shuffle, undecodable payloads drop
    * (quarantine-filter convention).
    *
    * Output: (asset_id, j, s_u — sample scaled by outRate). */
  def wavResample(assets: DataFrame, outRate: Int): DataFrame = {
    require(outRate >= 1 && outRate <= 192000,
      s"outRate must be in 1..192000: $outRate")
    val resampleUdf = udf { (payload: Array[Byte]) =>
      if (payload == null) None
      else try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(payload))
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
          fmt.isBigEndian ||
          fmt.getEncoding !=
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val pcm = ais.readAllBytes()
          val n = pcm.length / 2
          if (n < 1) None
          else {
            val inRate = fmt.getSampleRate.toLong
            def s(i: Int): Long = ((pcm(2 * i) & 0xFF) |
              (pcm(2 * i + 1).toInt << 8)).toShort.toLong
            val m = ((n - 1).toLong * outRate / inRate + 1L).toInt
            Some((0 until m).map { j =>
              val num = j.toLong * inRate
              val idx = (num / outRate).toInt
              val frac = num % outRate
              if (frac == 0L) s(idx) * outRate
              else s(idx) * (outRate - frac) + s(idx + 1) * frac
            })
          }
        }
      } catch { case NonFatal(_) => None }
    }.asNondeterministic() /* §4.4: stop the optimizer substituting this codec into pushed filters (it was computed twice, below the fan-out exchange) */
    assets
      .select(col("asset_id"), resampleUdf(col("payload")).as("sm"))
      .filter(col("sm").isNotNull)
      .select(col("asset_id"), posexplode(col("sm")).as(Seq("j", "s_u")))
      .select(col("asset_id"), col("j").cast("long").as("j"),
        col("s_u"))
  }

  /** STUB frame sampling plumbing: emit `n` (asset_id, frame_no) rows per
    * video asset — the row-explosion shape of real frame extraction. */
  def sampleFrames(assets: DataFrame, n: Int): DataFrame = {
    // sequence(0, n-1) DESCENDS for n <= 0 (step defaults to -1),
    // which would emit bogus negative frame numbers instead of none
    require(n > 0, s"frame count must be positive: $n")
    assets.filter(col("media_type") === "video")
      .select(col("asset_id"),
        explode(sequence(lit(0), lit(n - 1))).as("frame_no"))
      .withColumn("frame_key",
        concat_ws("#", col("asset_id"), col("frame_no")))
  }
}
