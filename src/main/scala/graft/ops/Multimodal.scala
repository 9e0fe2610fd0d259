package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: treat image/audio/video payloads as
  * opaque `binary` columns with typed metadata, and run decode /
  * feature-extract / frame-sample as partition-local batch
  * transformations.
  *
  * The reference declares but never populates RAW.FIGURES
  * ("future multimodal support", sql/01_create_schema.sql:33-40);
  * this module supplies the Spark-side contract a 100 TB media
  * pipeline needs: the schema, the partitioning (payloads stay with
  * their metadata row — no driver collection), and the batch shape
  * (mapPartitions so a real codec would amortize init per partition,
  * exactly like an Arrow-batched UDF would).
  *
  * STUB NOTE: the actual codecs (JPEG/PNG decode, audio resample,
  * video frame extraction) are NOT in this container. `decodeStub`
  * below is a clearly-marked deterministic fake that yields plausible
  * dimensions/features from the payload bytes; swap `decodeBytes` for
  * a real codec call at deployment. Everything around it — schema,
  * nullability, batching, partition behavior — is real and tested.
  */
object Multimodal {

  /** figures-table contract (sql/01_create_schema.sql:34-40) extended
    * with the payload + decoded metadata. */
  val figureSchema: StructType = StructType(Seq(
    StructField("figure_id", StringType, nullable = false),
    StructField("paper_id", StringType),
    StructField("page_number", IntegerType),
    StructField("caption", StringType),
    StructField("payload", BinaryType),
    StructField("media_type", StringType)))

  val decodedSchema: StructType = StructType(Seq(
    StructField("figure_id", StringType, nullable = false),
    StructField("media_type", StringType),
    StructField("byte_len", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("feature", ArrayType(FloatType))))

  /** Build a figures table from any (id, text) source by treating the
    * UTF-8 bytes as the opaque payload (fixture stand-in for real
    * media bytes).
    */
  def figuresFromDocuments(documents: DataFrame): DataFrame =
    documents.select(
      format_string("fig_%06d", col("doc_id")).as("figure_id"),
      graft.ops.TextFns.paperId(col("doc_id")).as("paper_id"),
      lit(1).as("page_number"),
      substring(col("text"), 1, 64).as("caption"),
      col("text").cast("binary").as("payload"),
      lit("image/png").as("media_type"))

  /** ??? — real codec goes here. Deterministic fake: derives
    * dimensions from the byte length and an 8-dim "feature" from a
    * rolling byte histogram, so tests are stable and the pipeline
    * shape is exercised end to end.
    */
  private[graft] def decodeBytes(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val n = payload.length
    val width = 64 + (n % 64)
    val height = 64 + ((n / 64) % 64)
    val channels = 3
    val hist = new Array[Float](8)
    var i = 0
    while (i < n) {
      hist((payload(i) & 0xff) >> 5) += 1f
      i += 1
    }
    val total = math.max(n, 1).toFloat
    (width, height, channels, hist.map(_ / total))
  }

  /** Decode a figures table: partition-local, codec state initialized
    * once per partition (the `mapPartitions` seam a real decoder
    * library plugs into).
    */
  def decode(figures: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(decodedSchema)
    figures
      .select("figure_id", "media_type", "payload")
      .mapPartitions { rows =>
        // per-partition codec init would happen here (amortized)
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val (w, h, c, feat) = decodeBytes(payload)
          Row(r.getString(0), r.getString(1), payload.length, w, h, c, feat)
        }
      }(enc)
  }

  /** Perceptual average-hash (aHash) of a binary payload, as four
    * 16-bit bands — the image near-dup signature (d14). The classic
    * algorithm: downscale to an 8×8 grid, threshold each cell
    * against the global mean, read the 64 bits. Here the "decode"
    * is the byte-identity fake (payload bytes ARE the grayscale
    * stream — swap in a real pixel decode at deployment, the banding
    * and join shape are unchanged):
    *
    *  - cell(p) = (p·64) div n  — 64 onto, order-preserving cells
    *    for any n ≥ 64;
    *  - cv(j)   = sum(bytes in cell j) div count  — integer mean;
    *  - m       = sum(cv) div 64;  bit(j) = cv(j) > m;
    *  - band b (0..3) packs bits [16b, 16b+16) little-endian.
    *
    * Pure integer math ⇒ bit-reproducible on any engine (the DuckDB
    * oracle replays it from the characters). Runs in the same
    * mapPartitions codec seam as [[decode]]; emits (figure_id,
    * bands ARRAY<INT>[4]). Rows with n < 64 are dropped (no stable
    * 8×8 grid exists). */
  def aHashBands(figures: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("figure_id", StringType, nullable = false),
      StructField("bands", ArrayType(IntegerType, containsNull = false))))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    figures
      .select("figure_id", "payload")
      .filter(octet_length(col("payload")) >= 64)
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val n = payload.length
          val sums = new Array[Long](64)
          val counts = new Array[Int](64)
          var p = 0
          while (p < n) {
            val j = (p.toLong * 64 / n).toInt
            sums(j) += (payload(p) & 0xff)
            counts(j) += 1
            p += 1
          }
          val cv = new Array[Long](64)
          var mSum = 0L
          var j = 0
          while (j < 64) { cv(j) = sums(j) / counts(j); mSum += cv(j); j += 1 }
          val m = mSum / 64
          val bands = new Array[Int](4)
          j = 0
          while (j < 64) {
            if (cv(j) > m) bands(j / 16) |= 1 << (j % 16)
            j += 1
          }
          Row(r.getString(0), bands.toSeq)
        }
      }(enc)
  }

  /** REAL PNG CODEC PATH (m4 — the imageio half of the codec seam):
    * `javax.imageio` ships in the JDK, so for PNG the decode step
    * stops being a stub. [[pngFigures]] ENCODES one deterministic
    * grayscale image per document through ImageIO's real PNG writer —
    * pixel(x, y) = (doc_id·31 + x·7 + y·13) mod 256, a formula the
    * DuckDB oracle replays — and [[aHashPixels]] DECODES the actual
    * PNG bytes back through `ImageIO.read` and computes the classic
    * 8×8 average-hash on the REAL pixel raster (block-mean
    * downscale, pure integer math, the same 4×16-bit banding as
    * [[aHashBands]]). PNG is lossless and TYPE_BYTE_GRAY round-trips
    * sample values exactly, so decoded raster == formula and the
    * oracle hash-checks a REAL codec round-trip end to end. The fake
    * codec ([[decodeBytes]]) stays for media types with no decoder in
    * the container; both paths share the mapPartitions seam and the
    * banding format (MultimodalSpec pins the seam contract). */
  val PngW = 16
  val PngH = 16

  /** One real 16×16 grayscale PNG per document row — encoder state
    * amortized per partition, payloads staying on their rows (no
    * driver collection at any corpus size). */
  def pngFigures(documents: DataFrame, suffix: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("figure_id", StringType, nullable = false),
      StructField("payload", BinaryType),
      StructField("media_type", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select("doc_id").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val img = new java.awt.image.BufferedImage(PngW, PngH,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < PngH) {
          var x = 0
          while (x < PngW) {
            raster.setSample(x, y, 0, ((id * 31 + x * 7 + y * 13) % 256).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(f"fig_$id%06d_$suffix", bos.toByteArray, "image/png")
      }
    }(enc)
  }

  /** Pixel-level aHash over REAL decoded rasters: ImageIO decodes the
    * payload (actual PNG parsing — not the byte-identity fake), then
    * the 8×8 average-hash runs on the pixel grid: cell (jx, jy) =
    * integer mean over the block {x : x·8 div w = jx} × {y : y·8 div
    * h = jy} (order-preserving cells for any w, h ≥ 8 — the 2-D twin
    * of [[aHashBands]]' stream cells), threshold against the integer
    * grand mean, bits packed little-endian into four 16-bit bands.
    * Emits (figure_id, width, height, b0..b3) — width/height come
    * from the DECODER, so a codec regression breaks the hash twice. */
  def aHashPixels(figures: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("figure_id", StringType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("b0", IntegerType, nullable = false),
      StructField("b1", IntegerType, nullable = false),
      StructField("b2", IntegerType, nullable = false),
      StructField("b3", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    figures.select("figure_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val sums = new Array[Long](64)
        val counts = new Array[Int](64)
        var y = 0
        while (y < h) {
          val jy = y * 8 / h
          var x = 0
          while (x < w) {
            sums(jy * 8 + x * 8 / w) += raster.getSample(x, y, 0)
            counts(jy * 8 + x * 8 / w) += 1
            x += 1
          }
          y += 1
        }
        val cv = new Array[Long](64)
        var mSum = 0L
        var j = 0
        while (j < 64) { cv(j) = sums(j) / counts(j); mSum += cv(j); j += 1 }
        val m = mSum / 64
        val bands = new Array[Int](4)
        j = 0
        while (j < 64) {
          if (cv(j) > m) bands(j / 16) |= 1 << (j % 16)
          j += 1
        }
        Row(r.getString(0), w, h, bands(0), bands(1), bands(2), bands(3))
      }
    }(enc)
  }

  /** REAL WAV CODEC PATH (m5 — the audio half of the seam, after
    * m4's image half): `javax.sound.sampled` also ships in the JDK,
    * so WAV decode stops being a stub too. [[wavFigures]] ENCODES one
    * deterministic 16-bit mono PCM clip per document through
    * AudioSystem's real WAV writer — sample(i) = ((doc_id·131 +
    * i·7919) mod 65536) − 32768, a formula the oracle replays — and
    * [[decodeWav]] DECODES the actual WAV container back
    * (sample rate, channels and frame count from the REAL header;
    * samples from the PCM body) and computes an integer 8-bin
    * amplitude histogram. PCM is lossless, so decoded samples equal
    * the formula and the oracle hash-checks the audio round-trip end
    * to end. Only video now keeps the fake codec (no decoder ships
    * in the JDK). */
  val WavRate = 16000f
  val WavSamples = 256

  def wavFigures(documents: DataFrame, suffix: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("figure_id", StringType, nullable = false),
      StructField("payload", BinaryType),
      StructField("media_type", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    documents.select("doc_id").mapPartitions { rows =>
      val fmt = new javax.sound.sampled.AudioFormat(
        WavRate, 16, 1, true, false) // 16-bit signed mono little-endian
      rows.map { r =>
        val id = r.getLong(0)
        val pcm = new Array[Byte](WavSamples * 2)
        var i = 0
        while (i < WavSamples) {
          val s = (((id * 131 + i.toLong * 7919) % 65536) - 32768).toInt
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, WavSamples.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        Row(f"fig_$id%06d_$suffix", bos.toByteArray, "audio/wav")
      }
    }(enc)
  }

  /** Decode REAL WAV containers: header fields from the actual
    * parser, samples from the PCM body, and an integer amplitude
    * histogram — bin = (sample + 32768) div 8192, eight bins, exact
    * on both engines. */
  def decodeWav(figures: DataFrame): DataFrame = {
    val schema = StructType(
      Seq(StructField("figure_id", StringType, nullable = false),
        StructField("sample_rate", IntegerType, nullable = false),
        StructField("channels", IntegerType, nullable = false),
        StructField("n_frames", LongType, nullable = false)) ++
        (0 until 8).map(i => StructField(s"h$i", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    figures.select("figure_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("payload")))
        val fmt = ais.getFormat
        val n = ais.getFrameLength
        val body = ais.readAllBytes()
        val hist = new Array[Long](8)
        var i = 0
        while (i + 1 < body.length) {
          val s = ((body(i) & 0xff) | (body(i + 1) << 8)).toShort.toInt
          hist((s + 32768) / 8192) += 1L
          i += 2
        }
        Row(Seq(r.getString(0), fmt.getSampleRate.toInt, fmt.getChannels, n)
          ++ hist.toSeq: _*)
      }
    }(enc)
  }

  /** Frame sampling: every `stride`-th unit of a payload → one row
    * (the video analogue of the text chunker's Generator shape).
    */
  def sampleFrames(figures: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    require(stride > 0 && frameBytes > 0)
    figures
      .withColumn("n_frames",
        greatest((octet_length(col("payload")) / lit(frameBytes * stride)).cast("int"), lit(1)))
      .withColumn("frame_idx", explode(sequence(lit(0), col("n_frames") - 1)))
      .withColumn("frame",
        col("payload").substr(col("frame_idx") * frameBytes * stride + 1, lit(frameBytes)))
      .select(col("figure_id"), col("frame_idx"), col("frame"))
  }
}
