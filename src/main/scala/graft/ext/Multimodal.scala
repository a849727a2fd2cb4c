package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY §7.6): image/audio/video as opaque
  * `binary` columns with a typed metadata struct, plus decode /
  * feature-extract / frame-sample operators.
  *
  * IMAGE decode is REAL: [[ImageIoDecoder]] reads PNG/BMP/GIF/JPEG through
  * the JDK's own `javax.imageio` (no external codec needed) and extracts
  * width/height/channels plus a luminance-histogram feature vector.
  * AUDIO decode is REAL for WAV/PCM: [[WavDecoder]] parses through the
  * JDK's `javax.sound.sampled` (again no external codec) and extracts
  * channels/sample-rate/duration plus an amplitude-histogram feature.
  * VIDEO decode is REAL for MJPEG-in-AVI: [[AviMjpegDecoder]] walks the
  * RIFF container (a ~60-line chunk parser — AVI is fourcc/length framed)
  * and decodes the per-frame JPEG payloads through the same `javax.imageio`
  * readers, extracting width/height/fps/duration plus a mean
  * luminance-histogram feature over evenly sampled frames. Stub surface is
  * now only NON-MJPEG video codecs (H.264 etc. — no JDK decoder exists):
  * those, and any undecodable payload, fall back to [[FakeDecoder]], a
  * deterministic hash-based stand-in, with null metadata, so a corrupt
  * blob degrades instead of failing the batch. Everything Spark-side is real and tested either way: the asset
  * schema, the partition-wise batch shape (`mapPartitions` over iterators,
  * the Scala analog of `mapInPandas` batches: no per-row codec setup, one
  * decoder per partition), and the feature schema the pipeline carries.
  *
  * At 100 TB: assets are stored alongside (not inside) the relational
  * tables, partitioned by `modality` then bucketed by `asset_id`; decode is
  * a narrow map with no shuffle, so it scales linearly with executors.
  */
object Multimodal {

  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType),                    // opaque payload
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  val featureSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),    // real image decode; null otherwise
    StructField("height", IntegerType),
    StructField("channels", IntegerType), // image color / audio channels
    StructField("sample_rate_hz", IntegerType), // real audio decode only
    StructField("duration_ms", LongType),       // real audio decode only
    StructField("feature", ArrayType(FloatType))))

  /** Deterministic stand-in for a real codec: "features" are derived from
    * content bytes with a rolling hash, so tests are stable and the real
    * decoder drops in behind the same signature. Stub surface: audio/video
    * modalities and undecodable image payloads. */
  object FakeDecoder {
    def features(content: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1125899906842597L
      var i = 0
      while (i < content.length) {
        h = 31 * h + content(i)
        out(Math.floorMod(i, dim)) += (Math.floorMod(h, 1000L) / 1000.0f - 0.5f)
        i += 1
      }
      out
    }
  }

  /** Decoded image facts: dimensions, color channels, and a dim-bin
    * luminance histogram normalized by pixel count (resolution-invariant,
    * deterministic — the embedding-ish per-image feature a curation
    * pipeline thresholds on). */
  final case class ImageFacts(width: Int, height: Int, channels: Int,
                              feature: Array[Float])

  /** REAL image decode via the JDK's `javax.imageio` — PNG, BMP, GIF and
    * JPEG readers ship with every JRE, so no external dependency. Returns
    * None for payloads ImageIO does not recognize (the caller falls back
    * to [[FakeDecoder]] rather than failing the batch — at 100 TB some
    * blobs WILL be corrupt). */
  object ImageIoDecoder {
    def decode(content: Array[Byte], dim: Int): Option[ImageFacts] = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
        catch { case _: Exception => null } // corrupt payloads return None
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val out = new Array[Float](dim)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y) // sRGB regardless of storage format
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000 // integer Rec.601 luma, 0..255
            out(math.min(dim - 1, lum * dim / 256)) += 1f
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        var i = 0
        while (i < dim) { out(i) /= n; i += 1 }
        Some(ImageFacts(w, h, img.getColorModel.getNumComponents, out))
      }
    }
  }

  /** Decoded audio facts: stream layout plus a dim-bin histogram of
    * absolute sample amplitude (normalized by sample count — the
    * loudness-profile feature a curation pipeline thresholds on, e.g. to
    * drop silence or clipped captures). */
  final case class AudioFacts(channels: Int, sampleRateHz: Int,
                              durationMs: Long, feature: Array[Float])

  /** REAL audio decode via the JDK's `javax.sound.sampled` — the WAV/AIFF
    * PCM readers ship with every JRE. Returns None for payloads the
    * sound API does not recognize (fallback to [[FakeDecoder]], same
    * corrupt-blob contract as images). Feature: histogram of |amplitude|
    * in [0, 1], all channels interleaved — sample-rate- and
    * length-invariant. */
  object WavDecoder {
    def decode(content: Array[Byte], dim: Int): Option[AudioFacts] = {
      val in =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(content))
        catch { case _: Exception => null }
      if (in == null) None
      else
        try {
          val fmt = in.getFormat
          val bytesPerSample = fmt.getSampleSizeInBits / 8
          if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
            || (bytesPerSample != 2 && bytesPerSample != 1)) None
          else {
            val raw = in.readAllBytes()
            val n = raw.length / bytesPerSample
            val out = new Array[Float](dim)
            val full = (1 << (fmt.getSampleSizeInBits - 1)).toFloat
            var i = 0
            while (i < n) {
              val v =
                if (bytesPerSample == 1) raw(i).toInt
                else { // respect the container's declared endianness
                  val (lo, hi) =
                    if (fmt.isBigEndian) (raw(2 * i + 1), raw(2 * i))
                    else (raw(2 * i), raw(2 * i + 1))
                  (hi << 8) | (lo & 0xFF)
                }
              val amp = math.min(1.0f, math.abs(v) / full)
              out(math.min(dim - 1, (amp * dim).toInt)) += 1f
              i += 1
            }
            if (n > 0) { var j = 0; while (j < dim) { out(j) /= n; j += 1 } }
            val frames = n / fmt.getChannels
            Some(AudioFacts(fmt.getChannels, fmt.getSampleRate.toInt,
              math.round(frames * 1000.0 / fmt.getSampleRate), out))
          }
        } catch { case _: Exception => None }
        finally in.close()
    }
  }

  /** Decoded video facts: frame geometry, rate/duration from the container
    * header, and a mean luminance histogram over the sampled frames (the
    * same resolution-invariant feature as images, averaged across time). */
  final case class VideoFacts(width: Int, height: Int, channels: Int,
                              fpsHz: Int, durationMs: Long, nFrames: Int,
                              feature: Array[Float])

  /** REAL video decode for MJPEG-in-AVI, pure JVM: AVI is a RIFF container
    * (fourcc + little-endian u32 length chunks, `LIST` chunks nesting), and
    * MJPEG stream chunks (`##dc`/`##db`) are plain JPEG images — which
    * `javax.imageio` decodes natively. So parsing the container here and
    * delegating frames to [[ImageIoDecoder]]'s machinery gives an honest
    * end-to-end video path with zero external codecs. Returns None for
    * anything that is not a parseable AVI with at least one decodable
    * frame (caller falls back to [[FakeDecoder]], same corrupt-blob
    * contract as images/audio). */
  object AviMjpegDecoder {

    private def u32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xFFL) | ((b(off + 1) & 0xFFL) << 8) |
        ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)

    private def isFourcc(b: Array[Byte], off: Int, s: String): Boolean =
      b(off) == s(0).toByte && b(off + 1) == s(1).toByte &&
        b(off + 2) == s(2).toByte && b(off + 3) == s(3).toByte

    /** Container structure: `avih` header fields plus the (offset, length)
      * of every video stream-data chunk, in file order. */
    final case class AviStructure(microSecPerFrame: Long, totalFrames: Long,
                                  frames: Vector[(Int, Int)])

    /** Walk the RIFF chunk tree (iterative, bounds-checked — malformed
      * input yields None, never a throw or an out-of-bounds read). */
    def parse(content: Array[Byte]): Option[AviStructure] = {
      if (content.length < 12 || !isFourcc(content, 0, "RIFF") ||
        !isFourcc(content, 8, "AVI ")) return None
      var usPerFrame = 0L
      var total = 0L
      val frames = Vector.newBuilder[(Int, Int)]
      // (cursor, end) per open LIST; chunks never straddle their list's end
      var stack = List((12, math.min(content.length.toLong, 8 + u32(content, 4)).toInt))
      while (stack.nonEmpty) {
        val (pos, end) = stack.head
        stack = stack.tail
        if (pos + 8 <= end) {
          val size = u32(content, pos + 4)
          val dataEnd = math.min(end.toLong, pos + 8 + size).toInt
          // resume this level after the (even-padded) chunk, then the chunk
          stack = (math.min(end.toLong, pos + 8 + size + (size & 1)).toInt, end) :: stack
          if (isFourcc(content, pos, "LIST") && dataEnd >= pos + 12)
            stack = (pos + 12, dataEnd) :: stack // skip the 4-byte list type
          else if (isFourcc(content, pos, "avih") && dataEnd >= pos + 28) {
            usPerFrame = u32(content, pos + 8)
            total = u32(content, pos + 8 + 16)
          } else if (content(pos + 2) == 'd' &&
            (content(pos + 3) == 'c' || content(pos + 3) == 'b') && size > 0)
            frames += ((pos + 8, (dataEnd - pos - 8)))
        }
      }
      val fs = frames.result()
      if (fs.isEmpty) None else Some(AviStructure(usPerFrame, total, fs))
    }

    /** The raw per-frame payloads (JPEG bytes for MJPEG), in stream order —
      * the feed for [[sampleFrames]]. Empty for non-AVI payloads. */
    def framePayloads(content: Array[Byte]): Vector[Array[Byte]] =
      parse(content).map(_.frames.map { case (off, len) =>
        java.util.Arrays.copyOfRange(content, off, off + len)
      }).getOrElse(Vector.empty)

    def decode(content: Array[Byte], dim: Int,
               maxSampledFrames: Int = 8): Option[VideoFacts] =
      parse(content).flatMap { avi =>
        val n = avi.frames.size
        // even temporal sampling: decoding every frame of a long clip is
        // the classic driver-of-cost mistake; a histogram over ~8 spread
        // frames carries the same curation signal
        val picks = (0 until math.min(n, maxSampledFrames))
          .map(i => (i.toLong * n / math.min(n, maxSampledFrames)).toInt).distinct
        val decoded = picks.flatMap { i =>
          val (off, len) = avi.frames(i)
          ImageIoDecoder.decode(
            java.util.Arrays.copyOfRange(content, off, off + len), dim)
        }
        if (decoded.isEmpty) None
        else {
          val out = new Array[Float](dim)
          decoded.foreach { f =>
            var i = 0; while (i < dim) { out(i) += f.feature(i); i += 1 }
          }
          var i = 0; while (i < dim) { out(i) /= decoded.size; i += 1 }
          val totalFrames = if (avi.totalFrames > 0) avi.totalFrames else n.toLong
          val fps = if (avi.microSecPerFrame > 0)
            math.round(1e6 / avi.microSecPerFrame).toInt else 0
          val durMs = avi.microSecPerFrame * totalFrames / 1000
          Some(VideoFacts(decoded.head.width, decoded.head.height,
            decoded.head.channels, fps, durMs, n, out))
        }
      }
  }

  /** Derive a demo asset table from any binary-able column (testdata has no
    * real blobs; document texts stand in as payloads). */
  def assetsFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("modality"),
      col("text").cast("binary").as("content"),
      struct(lit("application/octet-stream").as("mime"),
        lit(null).cast("integer").as("width"),
        lit(null).cast("integer").as("height"),
        lit(null).cast("long").as("duration_ms")).as("meta"))

  /** Partition-wise feature extraction: one decoder per partition, iterator
    * in / iterator out — the batch shape a real codec UDF needs. `image`
    * payloads go through the REAL [[ImageIoDecoder]] (width/height/channels
    * populated, luminance-histogram feature); `audio` payloads through the
    * REAL [[WavDecoder]] (channels/sample-rate/duration, amplitude
    * histogram); `video` payloads through the REAL [[AviMjpegDecoder]]
    * (frame geometry, fps in the sample_rate_hz slot, duration, mean
    * luminance histogram over sampled frames). Non-MJPEG codecs and
    * undecodable payloads take the [[FakeDecoder]] hash path with null
    * metadata. */
  def extractFeatures(assets: DataFrame, dim: Int = 16): DataFrame = {
    val spark = assets.sparkSession
    val rdd = assets.select("asset_id", "modality", "content").rdd
      .mapPartitions { rows =>
        // codec state (ImageIO / sound reader caches) initializes per
        // partition, never per row
        rows.map { r =>
          val content = Option(r.getAs[Array[Byte]]("content")).getOrElse(Array.emptyByteArray)
          val modality = r.getAs[String]("modality")
          val id = r.getAs[Long]("asset_id")
          val nb = content.length.toLong
          val row = modality match {
            case "image" => ImageIoDecoder.decode(content, dim).map(f =>
              Row(id, modality, nb, f.width, f.height, f.channels,
                null, null, f.feature.toSeq))
            case "audio" => WavDecoder.decode(content, dim).map(f =>
              Row(id, modality, nb, null, null, f.channels,
                f.sampleRateHz, f.durationMs, f.feature.toSeq))
            case "video" => AviMjpegDecoder.decode(content, dim).map(f =>
              Row(id, modality, nb, f.width, f.height, f.channels,
                f.fpsHz, f.durationMs, f.feature.toSeq))
            case _ => None
          }
          row.getOrElse(Row(id, modality, nb, null, null, null, null, null,
            FakeDecoder.features(content, dim).toSeq))
        }
      }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** Frame sampling: for payloads that parse as MJPEG-AVI, every
    * `stride`-th REAL frame becomes a row, `frame_no` = its index in the
    * stream and the payload the frame's own JPEG bytes (base64 — each row
    * is independently ImageIO-decodable downstream). Payloads that are not
    * parseable video keep the previous chunking stand-in (every
    * `stride`-th kilobyte), so the operator shape is total over corrupt
    * blobs. Narrow partition-wise map, no shuffle — at 100 TB this is the
    * fan-out step before a per-frame feature/caption stage. */
  def sampleFrames(assets: DataFrame, stride: Int = 4): DataFrame = {
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("frame_payload_b64", StringType)))
    val rdd = assets.filter(col("modality") === "video")
      .select("asset_id", "content").rdd
      .mapPartitions { rows =>
        val enc = java.util.Base64.getEncoder // per-partition, not serialized
        rows.flatMap { r =>
          val id = r.getAs[Long]("asset_id")
          val content = Option(r.getAs[Array[Byte]]("content"))
            .getOrElse(Array.emptyByteArray)
          val real = AviMjpegDecoder.framePayloads(content)
          if (real.nonEmpty)
            real.indices.by(stride).map(i =>
              Row(id, i, enc.encodeToString(real(i))))
          else // chunking stand-in for non-AVI payloads
            enc.encodeToString(content).grouped(stride * 1024)
              .zipWithIndex.map { case (s, i) => Row(id, i, s) }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Deterministic image corpus from the embeddings table: each vector
    * renders as a REAL 32×16 grayscale PNG (each of up to 64 dims → one
    * 4×4 pixel block, value linearly mapped to luma). The container ships
    * no image dataset, so this is the in-repo stand-in that still
    * exercises the FULL real path — ImageIO encode here, ImageIO decode +
    * box-average inside [[dHash]] — and it preserves geometry: vectors
    * close in ℓ∞ render to visually close images, so the perceptual
    * near-dup operator finds exactly the corpus's semantic-dup structure.
    * Narrow partition-wise map, ~600 B/asset. */
  def imagesFromEmbeddings(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("modality", StringType, nullable = false),
      StructField("content", BinaryType)))
    val rdd = emb.select("vec_id", "embedding").rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Long]("vec_id")
        val v = r.getAs[scala.collection.Seq[Float]]("embedding")
        val img = new java.awt.image.BufferedImage(
          32, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var k = 0
        while (k < 64) {
          val x0 = (k % 8) * 4; val y0 = (k / 8) * 2
          val lum = if (k < v.length)
            math.max(0, math.min(255, ((v(k) + 1.0f) * 127.5f).toInt))
          else 0
          val rgb = (lum << 16) | (lum << 8) | lum
          var y = y0
          while (y < y0 + 2) {
            var x = x0
            while (x < x0 + 4) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          k += 1
        }
        val baos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", baos)
        Row(id, "image", baos.toByteArray)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** 64-bit difference hash (dHash — the standard perceptual image
    * fingerprint): box-average the decoded image to a 9×8 integer luma
    * grid, emit one bit per horizontal gradient (left cell brighter than
    * its right neighbor). Re-encodes, mild noise, and small edits move a
    * few bits; unrelated images differ in ~32. All arithmetic is integer
    * (Rec.601 luma, exact pixel-rectangle sums, integer division), so the
    * hash is deterministic across JVMs and partitionings. None for
    * undecodable payloads or images smaller than the grid. */
  def dHash(content: Array[Byte]): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      catch { case _: Exception => null }
    if (img == null || img.getWidth < 9 || img.getHeight < 8) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val cell = Array.ofDim[Long](8, 9)
      var gy = 0
      while (gy < 8) {
        val y0 = gy * h / 8; val y1 = (gy + 1) * h / 8
        var gx = 0
        while (gx < 9) {
          val x0 = gx * w / 9; val x1 = (gx + 1) * w / 9
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              sum += (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
                (rgb & 0xFF) * 114) / 1000
              x += 1
            }
            y += 1
          }
          cell(gy)(gx) = sum / ((y1 - y0).toLong * (x1 - x0))
          gx += 1
        }
        gy += 1
      }
      var bits = 0L
      var i = 0
      while (i < 64) {
        if (cell(i / 8)(i % 8) > cell(i / 8)(i % 8 + 1)) bits |= 1L << i
        i += 1
      }
      Some(bits)
    }
  }

  /** Per-asset perceptual hashes: (asset_id, phash) for image payloads
    * [[dHash]] can decode. Narrow partition-wise map — the 100 TB shape:
    * decode once, ship 8 bytes per image downstream. */
  def imageHashes(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val rdd = assets.filter(col("modality") === "image")
      .select("asset_id", "content").rdd
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val content = Option(r.getAs[Array[Byte]]("content"))
            .getOrElse(Array.emptyByteArray)
          dHash(content).map(hsh => Row(r.getAs[Long]("asset_id"), hsh))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Per-frame perceptual hashes for MJPEG-AVI payloads: every `stride`-th
    * REAL frame decodes through ImageIO and fingerprints with [[dHash]] —
    * (asset_id, frame_no, phash), 8 bytes per sampled frame downstream.
    * Non-parseable payloads and undecodable frames contribute nothing. */
  def videoFrameHashes(assets: DataFrame, stride: Int = 1): DataFrame = {
    require(stride > 0, s"stride must be positive: $stride")
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("frame_no", IntegerType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val rdd = assets.filter(col("modality") === "video")
      .select("asset_id", "content").rdd
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getAs[Long]("asset_id")
          val content = Option(r.getAs[Array[Byte]]("content"))
            .getOrElse(Array.emptyByteArray)
          val frames = AviMjpegDecoder.framePayloads(content)
          frames.indices.by(stride).flatMap(i =>
            dHash(frames(i)).map(hsh => Row(id, i, hsh)))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Video near-dup pairs by FRAME-HASH overlap — the shot-level dedup of
    * a video corpus (re-uploads, trims, re-containered copies share most
    * frame fingerprints; unrelated footage shares none): distinct
    * (asset, phash) sets join on the hash, pairs score by shared-hash
    * count and set Jaccard — the [[Dedup.sourceOverlap]] shape at frame
    * granularity, including its hot-key fence (`maxAssetsPerHash` caps
    * the C(n,2) fanout of a ubiquitous frame — test bars, black frames —
    * by excluding it from evidence, loudly bounded rather than silently
    * quadratic). Output: (asset_a, asset_b, shared_hashes, jaccard). */
  def videoNearDups(frameHashes: DataFrame, minShared: Long = 1L,
      maxAssetsPerHash: Long = 64L): DataFrame = {
    require(minShared > 0, s"minShared must be positive: $minShared")
    val d = frameHashes.select(col("asset_id"), col("phash")).distinct()
    val keepable = d.groupBy(col("phash"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxAssetsPerHash)
      .select(col("phash"))
    val kept = d.join(keepable, Seq("phash"))
    val sizes = d.groupBy(col("asset_id")).agg(count(lit(1)).as("__sz"))
    kept.select(col("phash"), col("asset_id").as("asset_a"))
      .join(kept.select(col("phash"), col("asset_id").as("asset_b")),
        Seq("phash"))
      .filter(col("asset_a") < col("asset_b"))
      .groupBy(col("asset_a"), col("asset_b"))
      .agg(count(lit(1)).as("shared_hashes"))
      .filter(col("shared_hashes") >= minShared)
      .join(sizes.select(col("asset_id").as("asset_a"), col("__sz").as("__sa")),
        Seq("asset_a"))
      .join(sizes.select(col("asset_id").as("asset_b"), col("__sz").as("__sb")),
        Seq("asset_b"))
      .withColumn("jaccard", col("shared_hashes") /
        (col("__sa") + col("__sb") - col("shared_hashes")))
      .select(col("asset_a"), col("asset_b"), col("shared_hashes"),
        col("jaccard"))
  }

  /** 64-bit audio loudness fingerprint: the WAV amplitude histogram at 64
    * bins, one bit per bin holding more than its uniform share (1/64 of
    * the mass). Re-encodes and sparse sample jitter leave the mass
    * profile — and the bits — intact; a different loudness shape moves
    * mass across bins. None for undecodable payloads. */
  def audioHash(content: Array[Byte]): Option[Long] =
    WavDecoder.decode(content, 64).map { f =>
      var bits = 0L
      val thr = 1.0f / 64
      var i = 0
      while (i < 64) { if (f.feature(i) > thr) bits |= 1L << i; i += 1 }
      bits
    }

  /** Per-asset audio fingerprints: (asset_id, phash) for WAV payloads.
    * Narrow partition-wise map, 8 bytes per asset downstream. */
  def audioHashes(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val rdd = assets.filter(col("modality") === "audio")
      .select("asset_id", "content").rdd
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val content = Option(r.getAs[Array[Byte]]("content"))
            .getOrElse(Array.emptyByteArray)
          audioHash(content).map(hsh => Row(r.getAs[Long]("asset_id"), hsh))
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Banded-Hamming near-dup pairs over ANY 64-bit perceptual hash table
    * (asset_id, phash) — [[imageHashes]] and [[audioHashes]] both feed
    * this: candidate pairs come from exact-match on one of the hash's
    * eight 8-bit bands (pigeonhole: two hashes within Hamming distance
    * ≤ 7 agree on at least one band, so recall is TOTAL for maxDist ≤ 7
    * — the same completeness argument as the LSH band join), then verify
    * by exact popcount. Never an all-pairs asset join: the shuffle key is
    * (band, value) and the popcount runs on candidates only.
    * Output: (asset_a, asset_b, hamming ≤ maxDist). */
  def hashNearDups(hashes: DataFrame, maxDist: Int = 6): DataFrame =
    bandedHamming(hashes, maxDist)

  /** The image-named entry point (kept for the q115 surface); identical
    * to [[hashNearDups]]. */
  def imageNearDups(hashes: DataFrame, maxDist: Int = 6): DataFrame =
    bandedHamming(hashes, maxDist)

  private def bandedHamming(hashes: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"maxDist out of [0,7] (8-band pigeonhole bound): $maxDist")
    val banded = hashes.select(col("asset_id"), col("phash"),
        explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("band_val", expr("(phash >> (band * 8)) & 255"))
    val a = banded.select(col("band"), col("band_val"),
      col("asset_id").as("asset_a"), col("phash").as("__pa"))
    val b = banded.select(col("band"), col("band_val"),
      col("asset_id").as("asset_b"), col("phash").as("__pb"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("asset_a") < col("asset_b"))
      .select(col("asset_a"), col("asset_b"),
        bit_count(col("__pa").bitwiseXOR(col("__pb"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
