package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One decoded media row: the opaque payload plus typed metadata.
  * Kept top-level so the case-class `Encoder` derives cleanly. */
final case class MediaRow(doc_id: Long, mime: String, payload: Array[Byte])

/** Decoder output: fixed-shape feature vector + decoded dimensions. */
final case class MediaFeatures(doc_id: Long, mime: String, n_bytes: Int,
    width: Int, height: Int, features: Array[Float])

/** Decoded audio metadata + signal features — output of
  * [[MultiModal.decodeWavFeatures]]. */
final case class WavFeatures(doc_id: Long, sample_rate: Int,
    n_channels: Int, n_frames: Long, duration_us: Long, rms: Double)

/** Multimodal-column operators: image/audio/video payloads are opaque
  * `BinaryType` columns with typed metadata, processed by batched
  * per-partition decode — the Scala/Dataset analogue of PySpark's
  * `mapInPandas` (a typed `mapPartitions` whose iterator is re-chunked
  * into decoder-sized batches; codecs amortize setup per batch, not
  * per row).
  *
  * Images decode for real via JDK ImageIO ([[MultiModal.decodeImage]],
  * PNG/JPEG/GIF/BMP — no external library needed), and PCM WAV audio
  * decodes for real via pure RIFF parsing ([[MultiModal.decodeWav]] —
  * the format is a fixed little-endian layout, no codec needed); the
  * harness queries use the deterministic [[MultiModal.FakeCodec]]
  * instead because the synthetic payloads are text bytes, not media.
  * Compressed audio/video codecs are not in the JVM, so those stay
  * behind the same batched map shape with the fake kernel. Everything
  * Spark-side — schema, binary slicing, partitioning, batch shape,
  * encoders — is real and tested.
  *
  * Scale posture (100 TB):
  *   - Payloads never pass through a shuffle: metadata extraction and
  *     decode are narrow (map-only) over the scan; only small feature
  *     rows flow downstream.
  *   - Decode cost is balanced by `repartition(n)` BEFORE the heavy
  *     map when upstream file splits are skewed by payload size.
  *   - Frame sampling is codegen'd binary slicing (`substring` on
  *     BinaryType) — no per-frame object churn outside the expression.
  */
object MultiModal {

  /** Synthesize a media table from `documents`: the UTF-8 bytes of
    * `text` stand in for an image/audio/video payload (the testdata has
    * no real binary table), with a deterministic mime assignment. In a
    * real deployment this is simply `spark.read.parquet` over a table
    * whose schema already is (id, mime, payload: binary). */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image/png")
        .when(col("doc_id") % 3 === 1, "audio/wav")
        .otherwise("video/mp4").as("mime"),
      col("text").cast("binary").as("payload"))

  /** Per-payload metadata: byte length, content fingerprint, and the
    * magic-number prefix (first 4 bytes, hex) — the cheap pre-decode
    * pass that routes/filters payloads at scale without decoding. */
  def mediaMeta(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"), col("mime"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("fp_md5"),
      hex(substring(col("payload"), 1, 4)).as("magic"))
      .orderBy("doc_id")

  /** Fixed-size frame sampling: split each payload into `frameBytes`
    * frames, keep every `every`-th (a video keyframe-sampling shape).
    * Pure codegen'd expressions — sequence + binary substring — so the
    * fan-out happens executor-side with no decoder involved. */
  def frameSample(media: DataFrame, frameBytes: Int = 64,
      every: Int = 2): DataFrame =
    media
      .filter(length(col("payload")) > 0)
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0),
          expr(s"CAST((length(payload) - 1) DIV $frameBytes AS INT)")))
          .as("frame_idx"))
      .filter(col("frame_idx") % every === 0)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        hex(expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)"))
          .as("frame_hex"))
      .orderBy("doc_id", "frame_idx")

  /** Batched decode → feature extraction. The iterator is re-chunked
    * into `batchSize` groups so the (stub) codec sees the same batch
    * shape a vectorized `mapInPandas` decoder would; `parallelism`
    * rebalances ahead of the heavy map when input splits are skewed.
    * Output rows are small — payloads are dropped inside the map. */
  def decodeFeatures(media: DataFrame, batchSize: Int = 64,
      parallelism: Option[Int] = None): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    val ds = media.select("doc_id", "mime", "payload").as[MediaRow]
    val balanced = parallelism.fold(ds)(n => ds.repartition(n))
    balanced.mapPartitions { it =>
      it.grouped(batchSize).flatMap(FakeCodec.decodeBatch)
    }
  }

  /** Feature rows as a DataFrame query, totally ordered for the
    * harness. The histogram is serialized to a CSV of the exact
    * INTEGER bin counts (recovered losslessly from the normalized
    * float32 histogram: count = round(f · n_bytes) is exact because
    * f = fl(count/n) carries < 1e-7 relative error and counts are far
    * below 2^23) because the harness sorts/hashes rows — an array
    * column is unhashable there, and a float CSV would pit Java's
    * HALF_UP `%f` against the oracle engine's round-half-even printf
    * at exact dyadic boundaries (odd/128 quotients). The typed
    * normalized `Array[Float]` stays on the [[decodeFeatures]]
    * Dataset path for API users. */
  def featureQuery(media: DataFrame): DataFrame =
    decodeFeatures(media).toDF()
      // The integer-count recovery below is exact only while every bin
      // count < 2^23 (float32 mantissa); a payload over ~8 MB could
      // round to a wrong count SILENTLY. Fail loudly instead — the
      // typed decodeFeatures path (no recovery) is the route for
      // oversized media.
      .withColumn("n_bytes", when(col("n_bytes") < (1 << 23),
        col("n_bytes")).otherwise(raise_error(concat(
          lit("featureQuery: payload too large for exact integer " +
            "bin-count recovery (n_bytes >= 2^23): doc_id="),
          col("doc_id").cast("string")))))
      .select(col("doc_id"), col("mime"),
        col("n_bytes").cast("long").as("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        array_join(transform(col("features"),
          f => round(f.cast("double") * col("n_bytes")).cast("long")
            .cast("string")), ",").as("features_csv"))
      .orderBy("doc_id")

  /** Real image decode via JDK ImageIO (PNG/JPEG/GIF/BMP — built into
    * the JVM, no external library): returns (width, height, 16-bin
    * normalized luminance histogram). Throws on undecodable bytes —
    * callers on the batched path route failures, they don't mask them. */
  def decodeImage(payload: Array[Byte]): (Int, Int, Array[Float]) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    val hist = new Array[Float](FakeCodec.Bins)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        // integer BT.601 luma — deterministic across JVMs
        val lum = ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        hist(lum / (256 / FakeCodec.Bins)) += 1f
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toFloat
    var b = 0
    while (b < FakeCodec.Bins) { hist(b) /= n; b += 1 }
    (w, h, hist)
  }

  /** Batched REAL decode over image payloads — same mapPartitions
    * batch shape as [[decodeFeatures]], with [[decodeImage]] as the
    * codec. Non-image mimes are filtered out up front (pushed to the
    * scan); undecodable image payloads raise — at 100 TB you quarantine
    * those rows upstream (cf. graft.sources.Formats quarantine pattern)
    * rather than silently drop features. */
  def decodeImageFeatures(media: DataFrame, batchSize: Int = 64,
      parallelism: Option[Int] = None): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    val ds = media.filter(col("mime").startsWith("image/"))
      .select("doc_id", "mime", "payload").as[MediaRow]
    val balanced = parallelism.fold(ds)(n => ds.repartition(n))
    balanced.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { r =>
        val (w, h, hist) = decodeImage(r.payload)
        MediaFeatures(r.doc_id, r.mime, r.payload.length, w, h, hist)
      })
    }
  }

  /** Resize: payloads normalized to a fixed byte budget (`w*h`), the
    * shape of an image-resize stage — oversized payloads truncate,
    * undersized ones zero-pad, so downstream batch decode sees uniform
    * buffers. The byte surgery is the deterministic stand-in for a real
    * pixel resampler (which would slot into the same mapPartitions);
    * the schema/batching contract is what's real here. */
  def resizeStub(media: DataFrame, w: Int = 64, h: Int = 64): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    val target = w * h
    media.select("doc_id", "mime", "payload").as[MediaRow]
      .mapPartitions(_.map { r =>
        val out = java.util.Arrays.copyOf(r.payload, target)
        r.copy(payload = out)
      })
  }

  /** Real PCM WAV decode — pure header + sample parsing, no codec
    * library (RIFF/WAVE is a fixed little-endian chunk layout):
    * returns (sample rate, channels, frames, RMS amplitude). The RMS
    * accumulates integer sample squares in a Long (exact — 16-bit
    * squares sum safely past 2^40 frames) with ONE final sqrt, so the
    * value is deterministic across JVMs. Throws on non-RIFF,
    * non-PCM, or non-16-bit payloads — the quarantine-upstream rule,
    * same as [[decodeImage]]. */
  def decodeWav(payload: Array[Byte]): (Int, Int, Long, Double) = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(payload.length >= 44 &&
      bb.getInt(0) == 0x46464952 && bb.getInt(8) == 0x45564157,
      "payload is not RIFF/WAVE")
    var pos = 12
    var rate = 0; var ch = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (pos + 8 <= payload.length) {
      val id = bb.getInt(pos)
      val sz = bb.getInt(pos + 4)
      if (id == 0x20746d66) { // 'fmt '
        val fmt = bb.getShort(pos + 8) & 0xffff
        require(fmt == 1, s"not PCM (fmt tag $fmt)")
        ch = bb.getShort(pos + 10) & 0xffff
        rate = bb.getInt(pos + 12)
        bits = bb.getShort(pos + 22) & 0xffff
      } else if (id == 0x61746164) { // 'data'
        dataOff = pos + 8
        dataLen = math.min(sz, payload.length - dataOff)
      }
      pos += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    require(rate > 0 && ch > 0 && dataOff >= 0,
      "missing fmt or data chunk")
    require(bits == 16, s"only 16-bit PCM supported, got $bits")
    val nSamples = dataLen / 2
    val nFrames = (nSamples / ch).toLong
    var i = 0
    var sumSq = 0L
    while (i < nSamples) {
      val s = bb.getShort(dataOff + 2 * i).toLong
      sumSq += s * s
      i += 1
    }
    val rms =
      if (nSamples == 0) 0.0 else math.sqrt(sumSq.toDouble / nSamples)
    (rate, ch, nFrames, rms)
  }

  /** Batched REAL audio decode — [[decodeWav]] through the same
    * mapPartitions batch shape as [[decodeImageFeatures]]: audio mimes
    * filtered at the scan, payloads never shuffled, undecodable rows
    * raise (quarantine upstream). duration_us is exact integer
    * arithmetic (frames·1e6 DIV rate). */
  def decodeWavFeatures(media: DataFrame, batchSize: Int = 64,
      parallelism: Option[Int] = None): Dataset[WavFeatures] = {
    import media.sparkSession.implicits._
    val ds = media.filter(col("mime").startsWith("audio/"))
      .select("doc_id", "mime", "payload").as[MediaRow]
    val balanced = parallelism.fold(ds)(n => ds.repartition(n))
    balanced.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { r =>
        val (rate, ch, frames, rms) = decodeWav(r.payload)
        WavFeatures(r.doc_id, rate, ch, frames,
          frames * 1000000L / rate, rms)
      })
    }
  }

  /** Deterministic fake codec: "dimensions" derived from payload
    * length and first bytes, "features" a 16-bin normalized byte
    * histogram — stable across JVMs/runs, so specs can pin outputs
    * without real codecs. */
  object FakeCodec {
    val Bins = 16

    def decode(r: MediaRow): MediaFeatures = {
      val bytes = r.payload
      val hist = new Array[Float](Bins)
      var i = 0
      while (i < bytes.length) {
        hist((bytes(i) & 0xff) / (256 / Bins)) += 1f
        i += 1
      }
      if (bytes.length > 0) {
        var b = 0
        while (b < Bins) { hist(b) /= bytes.length.toFloat; b += 1 }
      }
      val w = 16 + (if (bytes.length > 0) bytes(0) & 0x7f else 0)
      val h = 16 + (if (bytes.length > 1) bytes(1) & 0x7f else 0)
      MediaFeatures(r.doc_id, r.mime, bytes.length, w, h, hist)
    }

    /** Batch entry point — where a real vectorized codec would run
      * once per batch (setup amortized across `batch.size` rows). */
    def decodeBatch(batch: Seq[MediaRow]): Seq[MediaFeatures] =
      batch.map(decode)
  }

  // ---- perceptual near-dup (dHash) -----------------------------------

  /** 64-bit difference hash (dHash) of a REAL decoded image — the
    * standard perceptual near-dup fingerprint for image dedup
    * (resize-, compression-, and small-edit-invariant where exact
    * fingerprints are not): integer box-average the luma plane onto a
    * 9x8 grid, bit r*8+c = 1 iff grid(r, c+1) > grid(r, c). All
    * arithmetic is integer (the [[decodeImage]] BT.601 luma, exact
    * box sums, floor division), so the hash is deterministic across
    * JVMs. Requires >= 9x8 pixels (quarantine smaller upstream, the
    * [[decodeImage]] rule). */
  def imageDHash(payload: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    require(w >= 9 && h >= 8, s"dHash needs >= 9x8 px, got ${w}x$h")
    var hash = 0L
    var r = 0
    while (r < 8) {
      val y0 = r * h / 8; val y1 = (r + 1) * h / 8
      // the 9 box averages of this grid row
      val row = new Array[Long](9)
      var c = 0
      while (c < 9) {
        val x0 = c * w / 9; val x1 = (c + 1) * w / 9
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            x += 1
          }
          y += 1
        }
        row(c) = sum / ((y1 - y0).toLong * (x1 - x0))
        c += 1
      }
      c = 0
      while (c < 8) {
        if (row(c + 1) > row(c)) hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Batched real dHash over image payloads — the
    * [[decodeImageFeatures]] mapPartitions shape; returns
    * (doc_id, dhash). */
  def imageDHashes(media: DataFrame, batchSize: Int = 64,
      parallelism: Option[Int] = None): DataFrame = {
    import media.sparkSession.implicits._
    val ds = media.filter(col("mime").startsWith("image/"))
      .select("doc_id", "mime", "payload").as[MediaRow]
    val balanced = parallelism.fold(ds)(n => ds.repartition(n))
    balanced.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map(r =>
        (r.doc_id, imageDHash(r.payload))))
    }.toDF("doc_id", "dhash")
  }

  /** Near-dup pairs within `maxHamming` over a (doc_id, dhash)
    * relation — [[Dedup.simhashPairs]]'s banded shape: 4 disjoint
    * 16-bit bands guarantee (pigeonhole) every pair within
    * maxHamming <= 3 shares an intact band; `maxBucket` skips
    * degenerate buckets (a solid-color-image pile) instead of
    * exploding B^2/2 pairs on one task. One shuffle of the 16-byte
    * keyed rows; the corpus-scale payloads never pass this join. */
  def dHashPairs(hashes: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    require(maxHamming < 4, "4 x 16-bit bands guarantee only hamming <= 3")
    val banded = hashes.select(col("doc_id"), col("dhash"),
        posexplode(array((0 until 4).map(j =>
          shiftright(col("dhash"), j * 16).bitwiseAND(lit(0xffffL))): _*)))
      .toDF("doc_id", "dhash", "band", "key")
    banded.groupBy("band", "key")
      .agg(collect_list(struct(col("doc_id"), col("dhash"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
      .select(explode(graft.functions.ColumnOps.pairsOf(
        array_sort(col("ds")))).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        bit_count(col("p.a.dhash").bitwiseXOR(col("p.b.dhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** dHash over the harness's TEXT payloads — the deterministic fake
    * standing in for pixel luma (the [[FakeCodec]] convention: the
    * synthetic corpus has no decodable images, so the "luma plane" is
    * the character code-point sequence, box-averaged onto the same
    * 8x9 grid with the same integer arithmetic). Exactly SQL — the
    * DuckDB oracle replays every floor division — which gives the
    * BANDED pair pipeline an oracled face the real-codec path shares
    * structurally. The grid runs as the codegen'd
    * [[graft.functions.TextDHash]] kernel (one JIT loop per row; the
    * interpreted slice/aggregate formulation it replaced was 3x the
    * whole query's cost). Texts shorter than 72 chars (grid
    * underflow) are excluded, mirroring [[imageDHash]]'s >= 9x8 px
    * rule. */
  def textDHashes(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 72)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.TextDHash(
            org.apache.spark.sql.graft.ColumnBridge.expression(
              col("text")))).as("dhash"))

  private def bandKeys(h: org.apache.spark.sql.Column) =
    array((0 until 4).map(j =>
      shiftright(h, j * 16).bitwiseAND(lit(0xffffL))): _*)

  /** Incremental perceptual probe — the 100 TB operating mode for
    * image dedup, mirroring [[Dedup.incrementalNearDupPairs]]: a new
    * batch's dHashes probe the BASE corpus's materialized
    * (band, key -> [(id, dhash)]) index instead of re-pairing the
    * whole corpus; candidates verify with exact hamming. Every step
    * is streaming-safe (stateless projections, a stream-static join,
    * one output-bounded dropDuplicates), so the same code IS the
    * streaming ingest face — StreamingSpec runs it over a file stream
    * and pins batch equivalence. Returns (doc_batch, doc_base,
    * hamming); callers order (batch mode only). */
  def dHashProbe(batch: DataFrame, base: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    require(maxHamming < 4, "4 x 16-bit bands guarantee only hamming <= 3")
    val baseIdx = textDHashes(base).toDF("doc_base", "dhash_base")
      .select(col("doc_base"), col("dhash_base"),
        posexplode(bandKeys(col("dhash_base"))))
      .toDF("doc_base", "dhash_base", "band", "key")
      .groupBy("band", "key")
      .agg(collect_list(struct(col("doc_base"), col("dhash_base")))
        .as("bs"))
      .filter(size(col("bs")) <= maxBucket)
      .localCheckpoint(true)
    textDHashes(batch).toDF("doc_batch", "dhash")
      .select(col("doc_batch"), col("dhash"),
        posexplode(bandKeys(col("dhash"))))
      .toDF("doc_batch", "dhash", "band", "key")
      .join(baseIdx, Seq("band", "key"))
      .select(col("doc_batch"), col("dhash"), explode(col("bs")).as("b"))
      .select(col("doc_batch"), col("b.doc_base").as("doc_base"),
        bit_count(col("dhash").bitwiseXOR(col("b.dhash_base")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_batch", "doc_base")
  }

  /** Harness fixture + query: perceptual near-dup pairs over the text
    * payloads with planted one-character edits (doc_id % 5 == 0,
    * re-keyed +[[Dedup.PLANTED_ID_OFFSET]] — a tiny edit moves one box
    * average, flipping at most a couple of comparison bits, the exact
    * case dHash exists to catch; integer plant, SQL-replayable). */
  def imageDupQuery(docs: DataFrame): DataFrame = {
    val perturbed = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("doc_id", col("doc_id") + Dedup.PLANTED_ID_OFFSET)
      .withColumn("text", concat(substring(col("text"), 1, 36), lit("Q"),
        expr("substring(text, 38)")))
    dHashPairs(textDHashes(docs.select("doc_id", "text")
      .unionByName(perturbed.select("doc_id", "text"))))
  }
}
