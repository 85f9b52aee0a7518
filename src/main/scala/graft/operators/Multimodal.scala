package graft.operators

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: media as opaque `binary` columns with typed
  * metadata structs, decoded by REAL codecs.
  *
  * Image (PNG/JPEG/BMP/GIF) and WAV-audio support ships inside the JDK
  * itself (`javax.imageio`, `javax.sound.sampled` — the `java.desktop`
  * module), so decode, perceptual hashing, and audio feature
  * extraction below are genuine byte→pixels/samples transforms with
  * zero external dependencies. The JDK has no video codec, so there
  * is no video path.
  *
  * Execution shape for all decode paths: `mapPartitions` over
  * `(doc_id, media)` pairs — the Scala analog of a batched pandas UDF.
  * Per-task codec init (disabling ImageIO's temp-file cache, forcing
  * headless AWT) happens once per partition before the row loop, rows
  * stream through without materializing the partition, and the output
  * is a narrow typed Dataset — map-only, no shuffle, embarrassingly
  * parallel at any corpus size.
  */
object Multimodal {

  /** Attach a fake media binary + typed metadata struct. */
  def withMedia(docs: DataFrame): DataFrame =
    docs
      .withColumn("media", encode(col("text"), "UTF-8"))
      .withColumn("meta", struct(
        octet_length(col("media")).as("byte_len"),
        lit("fake/raw").as("format"),
        (col("n_chars") % 640).cast("long").as("width"),
        (col("n_chars") % 480).cast("long").as("height")))

  /** Metadata + content-hash extraction (the "decode" stub's output). */
  def metaExtract(docs: DataFrame): DataFrame =
    withMedia(docs).select(
      col("doc_id"),
      col("meta.byte_len").as("byte_len"),
      md5(col("media")).as("h"),
      col("meta.width").as("width"),
      col("meta.height").as("height"))

  // --------------------------------------------------------------------
  // Real codecs (JDK-native: javax.imageio / javax.sound.sampled)
  // --------------------------------------------------------------------

  /** Per-partition codec init: AWT must never look for a display, and
    * ImageIO's default disk-backed stream cache would turn a pure-CPU
    * decode into per-row temp-file IO. Both settings are JVM-global and
    * idempotent — calling once per partition is the mapPartitions
    * "expensive init before the row loop" slot. */
  private def initCodecs(): Unit = {
    System.setProperty("java.awt.headless", "true")
    ImageIO.setUseCache(false)
  }

  private def readImage(bytes: Array[Byte]): BufferedImage =
    try ImageIO.read(new ByteArrayInputStream(bytes))
    catch { case _: Exception => null } // corrupt payload → null, not a task failure

  private def encodeImage(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** Deterministic synthetic media: a REAL PNG per document, dimensions
    * derived arithmetically from `n_chars` (so an engine-independent
    * oracle can predict the decoded metadata) and pixels from an LCG
    * seeded by `seedCol` (default: the text hash — identical texts
    * produce bit-identical images). This is the test-data generator for
    * the codec pipeline: the images are genuine PNG payloads, produced
    * and consumed by the actual JDK codec. */
  def syntheticImages(docs: DataFrame,
      seedCol: Column = xxhash64(col("text"))): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.Tables.spreadSmall(docs, "doc_id") // PNG render+encode is the heavy stage
      .select(col("doc_id"),
        (lit(8) + pmod(col("n_chars"), lit(57))).cast("int").as("w"),
        (lit(8) + pmod(col("n_chars"), lit(31))).cast("int").as("h"),
        seedCol.as("seed"))
      .as[(Long, Int, Int, Long)]
      .mapPartitions { it =>
        initCodecs()
        it.map { case (id, w, h, seed) => (id, encodeImage(renderNoise(w, h, seed), "png")) }
      }
      .toDF("doc_id", "media")
  }

  /** Deterministic pixel fill: one LCG step per pixel, channels in
    * [0, 240) so brightness-shifted variants (specs) never clamp. */
  private def renderNoise(w: Int, h: Int, seed: Long): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var s = seed
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        s = s * 6364136223846793005L + 1442695040888963407L
        val r = ((s >>> 24) & 0xff).toInt % 240
        val g = ((s >>> 40) & 0xff).toInt % 240
        val b = ((s >>> 48) & 0xff).toInt % 240
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Real image decode: bytes → pixel dimensions via the JDK codec.
    * Undecodable payloads yield `ok = false` with -1 dims — a data
    * quality signal, not a task failure (one corrupt file must never
    * kill a 100 TB scan). */
  def decodeImages(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        initCodecs()
        it.map { case (id, bytes) =>
          val img = readImage(bytes)
          if (img == null) (id, -1L, -1L, -1L, false)
          else (id, img.getWidth.toLong, img.getHeight.toLong,
            img.getWidth.toLong * img.getHeight, true)
        }
      }
      .toDF("doc_id", "width", "height", "n_pixels", "ok")
  }

  /** 64-bit perceptual difference hash (dHash): downscale to 9×8
    * grayscale (bilinear), emit one bit per horizontally-adjacent
    * sample comparison. Robust to re-encoding, mild noise, uniform
    * brightness shifts, and resizing — the standard cheap signature for
    * image near-dup detection. Row-local CPU work only. */
  private def dHash(img: BufferedImage): Long = {
    val g = new BufferedImage(9, 8, BufferedImage.TYPE_BYTE_GRAY)
    val g2 = g.createGraphics()
    g2.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
      RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g2.drawImage(img, 0, 0, 9, 8, null)
    g2.dispose()
    val r = g.getRaster
    var bits = 0L
    var i = 0
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (r.getSample(x, y, 0) < r.getSample(x + 1, y, 0)) bits |= (1L << i)
        i += 1
        x += 1
      }
      y += 1
    }
    bits
  }

  /** One decode pass → metadata + perceptual hash per image: the scan
    * is the expensive resource, so dims and dHash come out of the same
    * decoded pixels. Undecodable rows are dropped (they carry no
    * signature; [[decodeImages]] is the quality report). */
  def imageSignatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        initCodecs()
        it.flatMap { case (id, bytes) =>
          val img = readImage(bytes)
          if (img == null) None
          else Some((id, img.getWidth.toLong, img.getHeight.toLong, dHash(img)))
        }
      }
      .toDF("doc_id", "width", "height", "dhash")
  }

  /** Image near-dup pairs via banded dHash — [[Dedup.hammingPairs]],
    * the same banded-Hamming miner as [[Dedup.simhashNearDup]], over
    * the 64-bit hash cut into four 16-bit bands: by the pigeonhole
    * principle a pair within Hamming distance 3 ALWAYS shares at least
    * one intact band, so at the default threshold the banding is
    * exhaustive, not approximate. */
  def imageNearDup(media: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.hammingPairs(imageSignatures(media), "dhash", 16, maxHamming)

  /** Deterministic synthetic audio: a REAL RIFF/WAVE payload per
    * document — 16-bit signed PCM mono sine wave, frame count derived
    * from `n_chars` (oracle-predictable), frequency from the text hash.
    * Written by the JDK's own WAVE encoder. */
  def syntheticWavs(docs: DataFrame): DataFrame = {
    val sampleRate = 8000
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"),
        (lit(100) + pmod(col("n_chars"), lit(1000))).cast("int").as("frames"),
        xxhash64(col("text")).as("seed"))
      .as[(Long, Int, Long)]
      .mapPartitions { it =>
        import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
        it.map { case (id, frames, seed) =>
          val freq = 100.0 + math.floorMod(seed, 1000L) // Hz, below Nyquist at 8 kHz
          val pcm = new Array[Byte](frames * 2)
          var i = 0
          while (i < frames) {
            val s = (math.sin(2 * math.Pi * freq * i / sampleRate) * 12000).toInt.toShort
            pcm(2 * i) = (s & 0xff).toByte
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
          val bos = new ByteArrayOutputStream()
          AudioSystem.write(
            new AudioInputStream(new ByteArrayInputStream(pcm), fmt, frames.toLong),
            AudioFileFormat.Type.WAVE, bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("doc_id", "media")
  }

  /** Real WAV decode: header via the JDK's audio system (sample rate,
    * channels, bit depth, frame count → exact integer duration in µs),
    * plus RMS amplitude over the PCM samples for 16-bit signed
    * little-endian payloads (the dominant WAV layout) — the audio
    * analog of [[decodeImages]]' quality columns. Undecodable rows
    * report `ok = false`. */
  def decodeWav(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        import javax.sound.sampled.AudioSystem
        it.map { case (id, bytes) =>
          try {
            val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
            val f = ais.getFormat
            val frames = ais.getFrameLength
            val rate = f.getSampleRate.toLong
            val durationUs = if (rate > 0) frames * 1000000L / rate else -1L
            val rms =
              if (f.getSampleSizeInBits == 16 && !f.isBigEndian && frames > 0) {
                val pcm = ais.readAllBytes()
                var sum = 0.0
                var i = 0
                val n = pcm.length / 2
                while (i < n) {
                  val s = ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)).toShort.toDouble
                  sum += s * s
                  i += 1
                }
                math.sqrt(sum / math.max(1, n))
              } else Double.NaN
            (id, rate, f.getChannels.toLong, f.getSampleSizeInBits.toLong,
              frames, durationUs, rms, true)
          } catch {
            case _: Exception => (id, -1L, -1L, -1L, -1L, -1L, Double.NaN, false)
          }
        }
      }
      .toDF("doc_id", "sample_rate", "channels", "bits", "n_frames", "duration_us", "rms", "ok")
  }
}
