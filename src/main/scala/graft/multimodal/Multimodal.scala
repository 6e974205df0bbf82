package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pins
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: media travel as opaque `binary` columns next to a typed
  * metadata struct; decode / feature-extract / resize / frame-sample are
  * per-partition batch transforms.
  *
  * Spark-side plumbing (schema, partitioning, batch shape) is real, and so
  * is the default codec: [[ImageIoCodec]] decodes PNG/JPEG/GIF/BMP via
  * javax.imageio and WAV via javax.sound.sampled — both ship with the JDK.
  * Formats beyond the JDK's reach (video containers, mp3) plug in behind
  * the same [[MediaCodec]] seam without touching callers.
  *
  * Scale notes (100 TB): media bytes never hit the driver; transforms are
  * `mapPartitions` over batches (the Scala analog of `mapInPandas` batch
  * UDFs), so decode state (codec contexts) amortizes per partition, not per
  * row. Repartition by size class before heavy decode so AQE-balanced tasks
  * don't straggle on a few giant videos.
  */
object Multimodal {

  /** Typed metadata carried beside the binary payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),   // "image" | "audio" | "video"
    StructField("format", StringType),       // e.g. "jpeg", "wav", "mp4"
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("sample_rate", IntegerType),
  ))

  /** Big-endian unsigned int from `len` bytes at 1-based `off`. */
  private def beInt(bytes: org.apache.spark.sql.Column, off: Int, len: Int) =
    conv(hex(substring(bytes, off, len)), 16, 10).cast("long")

  /** Little-endian unsigned int from `len` bytes at 1-based `off` (reverse
    * the per-byte hex then one conv — still whole-stage codegen).
    */
  private def leInt(bytes: org.apache.spark.sql.Column, off: Int, len: Int) =
    conv(concat((0 until len).reverse.map(j =>
      hex(substring(bytes, off + j, 1))): _*), 16, 10).cast("long")

  /** Attach a parsed metadata struct from raw bytes: format sniffing from
    * magic numbers plus deterministic header-field extraction — PNG IHDR
    * width/height (big-endian at offset 16), canonical-WAV sample rate /
    * byte rate / data size (little-endian) — as pure column expressions
    * (hex + conv, codegen'd; no codec, no UDF). Fields a header doesn't
    * carry (e.g. JPEG dimensions, which need an SOF marker scan in the
    * codec) stay null.
    */
  def withSniffedMeta(df: DataFrame, bytesCol: String,
                      metaCol: String = "media_meta"): DataFrame = {
    val b = col(bytesCol)
    val magic = substring(b, 1, 4)
    val fmt = when(magic === lit(Array[Byte]((0xFF).toByte, (0xD8).toByte, (0xFF).toByte, (0xE0).toByte)), "jpeg")
      // real signature is 0x89 'P' 'N' 'G' 0x0D 0x0A 0x1A 0x0A
      .when(magic === lit(Array[Byte](0x89.toByte, 'P', 'N', 'G')), "png")
      .when(magic === lit("RIFF".getBytes), "wav")
      .otherwise("unknown")
    val mediaType = when(fmt.isin("jpeg", "png"), "image")
      .when(fmt === "wav", "audio")
      .when(fmt.isin("mp4", "mkv", "webm"), "video")
      .otherwise(lit(null).cast(StringType))
    // PNG: 8-byte signature, 4-byte length, "IHDR", then width/height
    val isPngIhdr = fmt === "png" &&
      substring(b, 13, 4) === lit("IHDR".getBytes) && length(b) >= 24
    val width = when(isPngIhdr, beInt(b, 17, 4).cast("int"))
      .otherwise(lit(null).cast(IntegerType))
    val height = when(isPngIhdr, beInt(b, 21, 4).cast("int"))
      .otherwise(lit(null).cast(IntegerType))
    // canonical 44-byte WAV header: "fmt " at 13, sample rate at 25-28,
    // byte rate at 29-32, "data" + chunk size at 37-44 (all little-endian)
    val isCanonWav = fmt === "wav" &&
      substring(b, 13, 4) === lit("fmt ".getBytes) &&
      substring(b, 37, 4) === lit("data".getBytes) && length(b) >= 44
    val sampleRate = when(isCanonWav, leInt(b, 25, 4).cast("int"))
      .otherwise(lit(null).cast(IntegerType))
    val durationMs = when(isCanonWav && leInt(b, 29, 4) > 0,
        floor(leInt(b, 41, 4) * 1000L / leInt(b, 29, 4)).cast("long"))
      .otherwise(lit(null).cast(LongType))
    df.withColumn(metaCol, struct(
      mediaType.as("media_type"), fmt.as("format"),
      width.as("width"), height.as("height"),
      durationMs.as("duration_ms"), sampleRate.as("sample_rate")))
  }

  /** Decode + feature-extract media bytes into a fixed-size float vector,
    * batched per partition. Output schema: input columns + (features
    * array<float>, decode_ok boolean).
    */
  def extractFeatures(df: DataFrame, bytesCol: String, codec: MediaCodec = MediaCodec.default,
                      featureDim: Int = 64): DataFrame = {
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("features", ArrayType(FloatType)),
      StructField("decode_ok", BooleanType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      // per-partition codec init: this is where a real implementation opens
      // its JNI context once per task instead of once per row
      val c = codec
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val feat = c.decodeToFeatures(bytes, featureDim)
        Row.fromSeq(r.toSeq ++ Seq(feat.map(_.toArray).orNull, feat.isDefined))
      }
    }(enc)
  }

  /** Resize/transcode media bytes batched per partition (the image-resize
    * step of a vision pipeline). Output: input columns + (resized binary,
    * resize_ok boolean); undecodable payloads pass through with null/false.
    */
  def resize(df: DataFrame, bytesCol: String, width: Int, height: Int,
             codec: MediaCodec = MediaCodec.default,
             outCol: String = "resized"): DataFrame = {
    val schema = StructType(df.schema.fields ++ Seq(
      StructField(outCol, BinaryType),
      StructField("resize_ok", BooleanType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      val c = codec // per-partition codec context, as extractFeatures
      rows.map { r =>
        val out = c.resize(r.getAs[Array[Byte]](idx), width, height)
        Row.fromSeq(r.toSeq ++ Seq(out.orNull, out.isDefined))
      }
    }(enc)
  }

  /** Uniform frame/sample selection: emit `n` (offset, chunk) rows per media
    * blob — the explode step of a video-frame or audio-window pipeline.
    */
  def sampleChunks(df: DataFrame, bytesCol: String, n: Int, chunkBytes: Int = 4096): DataFrame = {
    df.withColumn("chunk_index", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("chunk_offset",
        (col("chunk_index") * greatest(length(col(bytesCol)) / n, lit(1))).cast("long"))
      .withColumn("chunk",
        substring(col(bytesCol), (col("chunk_offset") + 1).cast("int"), lit(chunkBytes)))
  }

  /** Attach a 64-bit perceptual difference-hash of each image payload —
    * the image analog of SimHash for text: re-encoding, metadata edits, and
    * mild recompression keep the dHash within a few bits, so near-duplicate
    * IMAGES become a Hamming-distance problem on longs. Output: input
    * columns + (`outCol` long, null when undecodable).
    *
    * Scale: mapPartitions batch decode like [[extractFeatures]]; the hash
    * is 8 bytes per image regardless of payload size, so the downstream
    * dedup never touches image bytes again.
    */
  def withDHash(df: DataFrame, bytesCol: String,
                codec: MediaCodec = MediaCodec.default,
                outCol: String = "dhash"): DataFrame =
    withLongSig(df, bytesCol, outCol, codec, (c, b) => c.dHash(b))

  /** Attach a 64-bit gain-invariant audio envelope hash (see
    * [[MediaCodec.audioHash]]) — the audio analog of [[withDHash]]:
    * re-mastered / re-gained copies land within a few Hamming bits.
    * Output: input columns + (`outCol` long, null when not decodable audio).
    */
  def withAudioHash(df: DataFrame, bytesCol: String,
                    codec: MediaCodec = MediaCodec.default,
                    outCol: String = "ahash"): DataFrame =
    withLongSig(df, bytesCol, outCol, codec, (c, b) => c.audioHash(b))

  private def withLongSig(df: DataFrame, bytesCol: String, outCol: String,
                          codec: MediaCodec,
                          sig: (MediaCodec, Array[Byte]) => Option[Long]): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(outCol, LongType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      val c = codec // per-partition codec context
      rows.map { r =>
        val h = sig(c, r.getAs[Array[Byte]](idx))
        Row.fromSeq(r.toSeq :+ h.map(Long.box).orNull)
      }
    }(enc)
  }

  /** Near-duplicate image pairs by dHash Hamming distance — banding via
    * [[graft.operators.Dedup.hammingCandidates]] (equality joins on
    * maxHamming+1 bit-bands, per-bucket skew cap), exact popcount confirm.
    * Undecodable images (null hash) never pair. Returns (id_a, id_b,
    * hamming).
    */
  def dHashNearDupPairs(df: DataFrame, idCol: String, bytesCol: String,
                        codec: MediaCodec = MediaCodec.default,
                        maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame =
    sigNearDupPairs(withDHash(df.select(col(idCol).as("id"), col(bytesCol)),
      bytesCol, codec, "sig"), maxHamming, maxBucketSize)

  /** Near-duplicate audio pairs by envelope-hash Hamming distance — same
    * banded engine as [[dHashNearDupPairs]]; non-audio payloads (null
    * hash) never pair. Returns (id_a, id_b, hamming).
    */
  def audioNearDupPairs(df: DataFrame, idCol: String, bytesCol: String,
                        codec: MediaCodec = MediaCodec.default,
                        maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame =
    sigNearDupPairs(withAudioHash(df.select(col(idCol).as("id"), col(bytesCol)),
      bytesCol, codec, "sig"), maxHamming, maxBucketSize)

  private def sigNearDupPairs(sigged: DataFrame, maxHamming: Int,
                              maxBucketSize: Int): DataFrame = Pins.scoped { pins =>
    // pinned: the band explode and the popcount confirm re-read the
    // decoded signatures
    graft.operators.Dedup.hammingCandidates(
      pins.pin(sigged.filter(col("sig").isNotNull).select("id", "sig")),
      maxHamming, maxBucketSize)
  }

  /** Aspect-ratio bucketing for image-training batch assembly (the
    * SDXL-style trick: group images into a fixed set of (width, height)
    * buckets so a batch shares one shape and padding waste disappears).
    * Assigns each image the bucket whose aspect ratio is nearest ITS
    * ratio, then derives the resize-to-cover dimensions and the
    * center-crop offsets that land the image exactly on the bucket shape.
    *
    * Determinism: "nearest ratio" is decided in EXACT integer arithmetic
    * — d_i = |w*hb_i - wb_i*h| / hb_i compares as
    * |w*hb_i - wb_i*h| * hb_j < |w*hb_j - wb_j*h| * hb_i (the common /h
    * cancels), so no float ratio or log is ever formed and ties break to
    * the earlier bucket in the list. The resize/crop dims are floor
    * divisions of integer products. Engine-identical by construction —
    * no ulp can flip a bucket. (Long overflow needs w*hb*hb' >= 2^63:
    * unreachable for real image dims.)
    *
    * Scale: the bucket list is a literal array folded row-locally — one
    * map stage, zero joins, zero shuffles.
    *
    * Output: input columns + (bucket_id, bucket_w, bucket_h, resize_w,
    * resize_h, crop_x, crop_y); null dims or non-positive dims get null
    * bucket columns.
    */
  def aspectBuckets(df: DataFrame, widthCol: String, heightCol: String,
                    buckets: Seq[(Int, Int)]): DataFrame = {
    require(buckets.nonEmpty, "buckets must be non-empty")
    require(buckets.forall { case (w, h) => w > 0 && h > 0 }, "bad bucket dims")
    val w = col(widthCol).cast("long")
    val h = col(heightCol).cast("long")
    val lits = buckets.zipWithIndex.map { case ((bw, bh), i) =>
      struct(lit(i).as("i"), lit(bw.toLong).as("bw"), lit(bh.toLong).as("bh"))
    }
    // fold: carry the best (i, bw, bh, num) where num = |w*bh - bw*h|;
    // candidate beats incumbent iff num_c * bh_b < num_b * bh_c (strict:
    // ties keep the earlier bucket)
    val best = aggregate(array(lits: _*),
      struct(lit(-1L).as("i"), lit(0L).as("bw"), lit(0L).as("bh"),
        lit(-1L).as("num")),
      (acc, c) => {
        val num = abs(w * c.getField("bh") - c.getField("bw") * h)
        when(acc.getField("i") === -1L ||
            num * acc.getField("bh") < acc.getField("num") * c.getField("bh"),
          struct(c.getField("i").cast("long").as("i"),
            c.getField("bw").as("bw"), c.getField("bh").as("bh"),
            num.as("num")))
          .otherwise(acc)
      })
    val ok = w.isNotNull && h.isNotNull && w > 0 && h > 0
    val withB = df.withColumn("__b", when(ok, best))
    val bw = col("__b").getField("bw")
    val bh = col("__b").getField("bh")
    // resize to COVER the bucket then center-crop: image wider than the
    // bucket (w*bh >= bw*h) scales by height, else by width
    val wider = w * bh >= bw * h
    val rw = when(wider, floor(w * bh / h)).otherwise(bw)
    val rh = when(wider, bh).otherwise(floor(h * bw / w))
    withB
      .withColumn("bucket_id", col("__b").getField("i"))
      .withColumn("bucket_w", bw)
      .withColumn("bucket_h", bh)
      .withColumn("resize_w", rw)
      .withColumn("resize_h", rh)
      .withColumn("crop_x", floor((rw - bw) / 2))
      .withColumn("crop_y", floor((rh - bh) / 2))
      .drop("__b")
  }

  /** Deterministic uniform frame-sampling schedule from video METADATA
    * (frame count + fps) — the planning step a video-training pipeline
    * runs before any decoder touches bytes: which frame indices to pull,
    * and at what timestamps. One row per sampled frame: input id grain
    * fans out to (sample_k, frame_idx, t_ms).
    *
    * frame_idx = floor(k * n_frames / n) for k in 0..n'-1 with
    * n' = min(n, n_frames) (never emits duplicate frames on short clips);
    * t_ms = floor(frame_idx * 1000 * 1000 / fps_milli) where fps_milli is
    * fps*1000 as an integer (29.97 fps -> 29970) — all integer floor
    * arithmetic, engine-identical. Non-positive frame counts or fps emit
    * no rows (the id vanishes from the schedule, as a corrupt probe
    * should — join back to find them).
    *
    * Scale: explode over a row-local sequence — one map stage.
    */
  def frameSchedule(df: DataFrame, framesCol: String, fpsMilliCol: String,
                    n: Int): DataFrame = {
    require(n >= 1, s"bad n $n")
    val nf = col(framesCol).cast("long")
    val fm = col(fpsMilliCol).cast("long")
    val nTake = least(lit(n.toLong), nf)
    df.filter(nf.isNotNull && nf > 0 && fm.isNotNull && fm > 0)
      .withColumn("sample_k", explode(sequence(lit(0L), nTake - 1)))
      .withColumn("frame_idx", floor(col("sample_k") * nf / nTake))
      .withColumn("t_ms", floor(col("frame_idx") * 1000000L / fm))
  }
}

/** Codec boundary. The default is [[ImageIoCodec]] — a REAL JDK-backed
  * decoder (javax.imageio for PNG/JPEG/GIF/BMP, javax.sound.sampled for
  * WAV); swap in a JNI/library-backed implementation for formats the JDK
  * doesn't ship (video, mp3) without touching callers. [[MediaCodec.fake]]
  * remains for plumbing tests that need no codec at all.
  */
trait MediaCodec extends Serializable {
  /** Decode bytes and produce a feature vector, or None if undecodable. */
  def decodeToFeatures(bytes: Array[Byte], dim: Int): Option[Seq[Float]]

  /** Decode, resize to (width, height), re-encode; None if undecodable. */
  def resize(bytes: Array[Byte], width: Int, height: Int): Option[Array[Byte]]

  /** 64-bit perceptual difference-hash of an image (9x8 luminance grid,
    * bit = left cell brighter than its right neighbor); None if
    * undecodable or not an image.
    */
  def dHash(bytes: Array[Byte]): Option[Long]

  /** 64-bit differential envelope hash of an audio payload (65 equal time
    * buckets of mean |amplitude|, bit = bucket louder than its successor);
    * gain-invariant by construction. None if undecodable or not audio.
    */
  def audioHash(bytes: Array[Byte]): Option[Long]
}

/** JDK-native codec: javax.imageio images + javax.sound.sampled WAV.
  * Stateless and Serializable — one instance ships to every task; ImageIO
  * itself is thread-safe per call. Corrupt or unsupported bytes surface as
  * None (→ decode_ok/resize_ok = false), never as a task failure: one bad
  * blob in a 10^9-row corpus must not kill the job.
  */
final class ImageIoCodec extends MediaCodec {
  import java.io.ByteArrayInputStream

  private def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (bytes == null || bytes.length < 8) None
    else
      try Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None } // corrupt capture

  /** Images: mean luminance (in [0,1]) over a ceil(sqrt(dim))-square grid,
    * truncated to `dim` cells — real pixel statistics, deterministic.
    * WAV audio: mean |amplitude| (in [0,1]) over `dim` equal time buckets
    * of the first [[ImageIoCodec.MaxAudioBytes]] of PCM.
    */
  def decodeToFeatures(bytes: Array[Byte], dim: Int): Option[Seq[Float]] =
    readImage(bytes).map(imageFeatures(_, dim))
      .orElse(audioFeatures(bytes, dim))

  private def imageFeatures(img: java.awt.image.BufferedImage, dim: Int): Seq[Float] = {
    val g = math.ceil(math.sqrt(dim.toDouble)).toInt.max(1)
    val sum = new Array[Double](g * g)
    val n = new Array[Long](g * g)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      val cy = math.min(y * g / h, g - 1)
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
          0.114 * (rgb & 0xFF)) / 255.0
        val cell = cy * g + math.min(x * g / w, g - 1)
        sum(cell) += lum
        n(cell) += 1
        x += 1
      }
      y += 1
    }
    (0 until dim).map(i =>
      if (i < g * g && n(i) > 0) (sum(i) / n(i)).toFloat else 0.0f)
  }

  private def audioFeatures(bytes: Array[Byte], dim: Int): Option[Seq[Float]] =
    if (bytes == null || bytes.length < 44) None
    else
      try {
        val in = javax.sound.sampled.AudioSystem
          .getAudioInputStream(new ByteArrayInputStream(bytes))
        try {
          val pcmFmt = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            in.getFormat.getSampleRate, 16, in.getFormat.getChannels,
            2 * in.getFormat.getChannels, in.getFormat.getSampleRate, false)
          val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, in)
          val buf = pcm.readNBytes(ImageIoCodec.MaxAudioBytes)
          val nSamples = buf.length / 2
          if (nSamples == 0) None
          else {
            val sum = new Array[Double](dim)
            val cnt = new Array[Long](dim)
            var i = 0
            while (i < nSamples) {
              val s = ((buf(2 * i + 1) << 8) | (buf(2 * i) & 0xFF)).toShort
              val b = math.min(i * dim / nSamples, dim - 1)
              sum(b) += math.abs(s / 32768.0)
              cnt(b) += 1
              i += 1
            }
            Some((0 until dim).map(b =>
              if (cnt(b) > 0) (sum(b) / cnt(b)).toFloat else 0.0f))
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }

  /** dHash over a 9x8 area-averaged luminance grid: bit (y*8+x) is set
    * when cell (y,x) is strictly brighter than cell (y,x+1). Area
    * averaging (not point sampling) makes the hash stable under resize
    * and recompression — the property that makes it a near-dup signal.
    *
    * Images smaller than the 9x8 grid return None: sub-grid images leave
    * unsampled cells pinned at luminance 0, making the hash
    * position-determined and shared across unrelated tiny images (icons,
    * spacers) — false near-dup pairs, not a useful signal.
    */
  def dHash(bytes: Array[Byte]): Option[Long] =
    readImage(bytes).filter(i => i.getWidth >= 9 && i.getHeight >= 8).map { img =>
      val (gw, gh) = (9, 8)
      val sum = new Array[Double](gw * gh)
      val n = new Array[Long](gw * gh)
      val (w, h) = (img.getWidth, img.getHeight)
      var y = 0
      while (y < h) {
        val cy = math.min(y * gh / h, gh - 1)
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
            0.114 * (rgb & 0xFF)
          val cell = cy * gw + math.min(x * gw / w, gw - 1)
          sum(cell) += lum
          n(cell) += 1
          x += 1
        }
        y += 1
      }
      def cell(cy: Int, cx: Int): Double = {
        val i = cy * gw + cx
        if (n(i) > 0) sum(i) / n(i) else 0.0
      }
      var bits = 0L
      var cy = 0
      while (cy < gh) {
        var cx = 0
        while (cx < gw - 1) {
          if (cell(cy, cx) > cell(cy, cx + 1)) bits |= 1L << (cy * 8 + cx)
          cx += 1
        }
        cy += 1
      }
      bits
    }

  /** Differential envelope hash: 65 time buckets of mean |amplitude| from
    * [[audioFeatures]], bit b set when bucket b is strictly louder than
    * bucket b+1. Comparing ADJACENT buckets (not thresholding absolute
    * loudness) makes the hash invariant under any monotone gain change —
    * a re-mastered copy at half volume keeps every bit.
    */
  def audioHash(bytes: Array[Byte]): Option[Long] =
    audioFeatures(bytes, 65).map { env =>
      var bits = 0L
      var b = 0
      while (b < 64) {
        if (env(b) > env(b + 1)) bits |= 1L << b
        b += 1
      }
      bits
    }

  /** Bilinear image resize, re-encoded as PNG (lossless, always writable).
    * Non-image or corrupt bytes → None.
    */
  def resize(bytes: Array[Byte], width: Int, height: Int): Option[Array[Byte]] =
    if (width <= 0 || height <= 0) None
    else readImage(bytes).map { img =>
      val out = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = out.createGraphics()
      try {
        g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(img, 0, 0, width, height, null)
      } finally g2.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", baos)
      baos.toByteArray
    }
}

object ImageIoCodec {
  /** Cap on decoded PCM read per blob: bounds per-row memory regardless of
    * payload size (a multi-GB WAV costs 4 MB of heap, not its full length).
    */
  val MaxAudioBytes: Int = 4 << 20
}

object MediaCodec {
  /** The real JDK-backed codec (see [[ImageIoCodec]]). */
  val default: MediaCodec = new ImageIoCodec

  /** Deterministic no-codec fake (features from a rolling hash; resize is a
    * size-proportional byte sample) for plumbing tests and environments
    * without even the JDK imaging stack.
    */
  val fake: MediaCodec = new MediaCodec {
    def decodeToFeatures(bytes: Array[Byte], dim: Int): Option[Seq[Float]] = {
      if (bytes == null || bytes.isEmpty) None
      else Some((0 until dim).map { i =>
        var h = 1125899906842597L
        var j = i % math.max(1, bytes.length)
        var steps = 0
        while (steps < math.min(bytes.length, 256)) {
          h = 31 * h + bytes(j)
          j = (j + dim) % bytes.length
          steps += 1
        }
        ((h % 2000L) / 1000.0f) - 1.0f
      })
    }
    def resize(bytes: Array[Byte], width: Int, height: Int): Option[Array[Byte]] = {
      if (bytes == null || bytes.isEmpty || width <= 0 || height <= 0) None
      else {
        val n = math.min(bytes.length, math.max(1, width * height / 64))
        Some(Array.tabulate(n)(i => bytes((i.toLong * bytes.length / n).toInt)))
      }
    }
    def dHash(bytes: Array[Byte]): Option[Long] =
      // deterministic stand-in: fold the byte content, no decode
      if (bytes == null || bytes.isEmpty) None
      else Some(bytes.foldLeft(1125899906842597L)((h, b) => 31 * h + b))
    def audioHash(bytes: Array[Byte]): Option[Long] =
      // distinct seed from dHash so the two fakes never collide
      if (bytes == null || bytes.isEmpty) None
      else Some(bytes.foldLeft(2305843009213693951L)((h, b) => 37 * h + b))
  }
}
