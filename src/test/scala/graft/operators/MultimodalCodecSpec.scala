package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.SparkSpec

/** End-to-end REAL image decode: actual PNG bytes, encoded with the
  * JDK codec, decode through [[Multimodal.imageGridDecoder]] into the
  * luma grid [[Multimodal.dHash60]] hashes — no external codec
  * library needed, `javax.imageio` ships in every headless JRE.
  */
class MultimodalCodecSpec extends SparkSpec {
  import spark.implicits._

  test("real PNG pixels feed dHash60 end-to-end: decoded grid -> " +
    "column hash == JVM reference; perturbed copy lands nearby, a " +
    "different image lands far") {
    // base image + a copy with a few pixels flipped + an unrelated one
    def pngPerturbed(seed: Int, flips: Int): Array[Byte] = {
      val img = new BufferedImage(44, 24, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 44) {
        val v = (seed * 31 + x * 7 + y * 13) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      for (f <- 0 until flips)
        img.setRGB((f * 11) % 44, (f * 5) % 24, 0xffffff)
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val grid = Multimodal.imageGridDecoder(6, 11)
    val rows = Seq(
      1L -> grid(pngPerturbed(42, 0)),
      2L -> grid(pngPerturbed(42, 3)),
      3L -> grid(pngPerturbed(250, 0)))
    assert(rows.forall(_._2.size == 66), "all grids must decode")
    val df = rows.toDF("id", "gray")
    val sigs = df.select($"id",
        Multimodal.dHash60($"gray").as("sig"))
      .as[(Long, Long)].collect().toMap
    // column hash == JVM reference on the same decoded grid
    rows.foreach { case (id, g) =>
      val ref = (0 until 60).map { i =>
        val idx0 = (i / 10) * 11 + (i % 10)
        if (g(idx0 + 1) > g(idx0)) 1L << i else 0L
      }.reduce(_ | _)
      assert(sigs(id) == ref, s"image $id: column dHash != reference")
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) <= 10,
      "a lightly perturbed copy must hash nearby")
    assert(ham(sigs(1L), sigs(3L)) > ham(sigs(1L), sigs(2L)),
      "an unrelated image must be farther than the perturbed copy")
  }
}
