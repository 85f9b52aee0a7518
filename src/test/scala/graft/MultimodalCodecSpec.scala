package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** The REAL codec paths: JDK ImageIO / WAV decode against genuine
  * payloads — synthetic PNGs with known dimensions, structured images
  * re-encoded as JPEG, actual files through binaryFile ingest, corrupt
  * bytes, planted perceptual-hash duplicates, and PCM round-trips. */
class MultimodalCodecSpec extends SparkSpec {
  import spark.implicits._

  private def gradientImage(w: Int, h: Int, reversed: Boolean = false): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (reversed) 239 - (239 * x / w) else 239 * x / w
      img.setRGB(x, y, (v << 16) | (((v + y) % 240) << 8) | v)
    }
    img
  }

  private def png(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream(); ImageIO.write(img, "png", bos); bos.toByteArray
  }

  test("syntheticImages produce real PNGs whose decoded dims match the arithmetic") {
    val docs = Tables.documents(spark, sfDir).limit(50)
    val dec = Multimodal.decodeImages(Multimodal.syntheticImages(docs))
      .join(docs.select($"doc_id", $"n_chars"), "doc_id")
    assert(dec.where(!$"ok").count() == 0)
    assert(dec.where($"width" =!= lit(8) + pmod($"n_chars", lit(57))).count() == 0)
    assert(dec.where($"height" =!= lit(8) + pmod($"n_chars", lit(31))).count() == 0)
    assert(dec.where($"n_pixels" =!= $"width" * $"height").count() == 0)
  }

  test("decodeImages reads real PNG/JPEG/BMP files from the binaryFile source; corrupt bytes flag ok=false") {
    import java.nio.file.{Files, Paths}
    val dir = tempDir("graft-imgs").toString
    val img = gradientImage(37, 23)
    ImageIO.write(img, "png", Paths.get(dir, "a.png").toFile)
    ImageIO.write(img, "jpg", Paths.get(dir, "b.jpg").toFile)
    ImageIO.write(img, "bmp", Paths.get(dir, "c.bmp").toFile)
    Files.write(Paths.get(dir, "broken.png"), Array.tabulate(64)(_.toByte))

    val files = spark.read.format("binaryFile").load(dir)
      .select(xxhash64($"path").as("doc_id"), $"content".as("media"))
    val dec = Multimodal.decodeImages(files).collect()
    assert(dec.length == 4)
    val (good, bad) = dec.partition(_.getAs[Boolean]("ok"))
    assert(good.length == 3 && bad.length == 1)
    good.foreach { r =>
      assert(r.getAs[Long]("width") == 37 && r.getAs[Long]("height") == 23)
    }
    assert(bad.head.getAs[Long]("width") == -1L)
  }

  test("dHash is stable under JPEG re-encode and brightness shift, far for a different image") {
    def shifted(img: BufferedImage, d: Int): BufferedImage = {
      val out = new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val p = img.getRGB(x, y)
        out.setRGB(x, y, (((p >> 16 & 0xff) + d) << 16) | (((p >> 8 & 0xff) + d) << 8) | ((p & 0xff) + d))
      }
      out
    }
    val base = gradientImage(64, 48)
    val jpeg = {
      val bos = new ByteArrayOutputStream(); ImageIO.write(base, "jpg", bos)
      ImageIO.read(new ByteArrayInputStream(bos.toByteArray))
    }
    val media = Seq(
      (1L, png(base)), (2L, png(jpeg)), (3L, png(shifted(base, 12))),
      (4L, png(gradientImage(64, 48, reversed = true)))).toDF("doc_id", "media")
    val sigs = Multimodal.imageSignatures(media).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dhash")).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) <= 6, "JPEG re-encode must stay near")
    assert(hamming(sigs(1L), sigs(3L)) <= 6, "brightness shift must stay near")
    assert(hamming(sigs(1L), sigs(4L)) > 16, "reversed gradient must be far")
  }

  test("banding is exhaustive to Hamming 3 and the verify filters beyond the threshold") {
    // planted signatures at known distances from a base hash
    val base = 0x0123456789abcdefL
    def flip(bits: Int*) = bits.foldLeft(base)((h, b) => h ^ (1L << b))
    val sig = Seq(
      (1L, base),
      (2L, flip(0)),              // hamming 1
      (3L, flip(1, 17, 33)),      // hamming 3, spread over three bands
      (4L, flip(2, 18, 34, 50)),  // hamming 4 — one flip in EVERY band
      (5L, ~base)                 // hamming 64
    ).toDF("doc_id", "dhash")
    val pairs = Multimodal.nearDupFromSignatures(sig, maxHamming = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // every pair within hamming 3 is found (pigeonhole: ≤3 flips leave a band intact)
    assert(pairs == Set((1L, 2L), (1L, 3L)))
    // (2,3) is a CANDIDATE (band 3 intact on both) but hamming 4 — verify must drop it,
    // and row 4 (one flip in every band vs base) must be filtered, not missed silently
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("imageNearDup finds exactly the planted identical-content pairs") {
    // seed by doc_id div 2 (integer!): docs (2k, 2k+1) get bit-identical
    // images; dims must pair up too, so n_chars is forced to the group
    val docs = Tables.documents(spark, sfDir).where($"doc_id" < 20)
      .withColumn("n_chars", ($"doc_id" - pmod($"doc_id", lit(2))) * 7 + 64)
    val media = Multimodal.syntheticImages(docs, seedCol = xxhash64(expr("doc_id div 2")))
    val pairs = Multimodal.imageNearDup(media, maxHamming = 0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expected = docs.select($"doc_id").as[Long].collect()
      .groupBy(_ / 2).values.collect { case g if g.length == 2 => (g.min, g.max) }.toSet
    assert(expected.nonEmpty && pairs == expected)
  }

  test("syntheticWavs decode to the exact planted format, frames, duration, and a sine RMS") {
    val docs = Tables.documents(spark, sfDir).limit(30)
    val dec = Multimodal.decodeWav(Multimodal.syntheticWavs(docs))
      .join(docs.select($"doc_id", $"n_chars"), "doc_id")
    assert(dec.where(!$"ok").count() == 0)
    assert(dec.where($"sample_rate" =!= 8000 || $"channels" =!= 1 || $"bits" =!= 16).count() == 0)
    assert(dec.where($"n_frames" =!= lit(100) + pmod($"n_chars", lit(1000))).count() == 0)
    assert(dec.where($"duration_us" =!= $"n_frames" * 125).count() == 0)
    // full-scale 12000-amplitude sine → RMS near 12000/sqrt(2) ≈ 8485
    assert(dec.where($"rms" < 6000 || $"rms" > 10000).count() == 0)
  }

  test("decodeWav flags non-audio payloads instead of failing the task") {
    val dec = Multimodal.decodeWav(
      Seq((1L, "definitely not audio".getBytes("UTF-8"))).toDF("doc_id", "media")).head()
    assert(!dec.getAs[Boolean]("ok") && dec.getAs[Long]("n_frames") == -1L)
  }
}
