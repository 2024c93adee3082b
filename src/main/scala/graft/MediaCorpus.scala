package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

/** Deterministic synthetic PNG corpus for the real multimodal decode path
  * (q_multimodal_phash / q_multimodal_neardup).
  *
  * Each row stores BOTH the encoded PNG bytes and the ground-truth pixel
  * array the PNG was rendered from. The Spark queries decode ONLY the PNG
  * (javax.imageio); the DuckDB oracles compute the same perceptual hashes
  * from ONLY the `pixels` array — so hash parity proves the decode
  * recovered the exact pixel matrix, not just that both sides ran the same
  * arithmetic.
  *
  * Images are 36x32 8-bit grayscale (TYPE_BYTE_GRAY; PNG is lossless, so
  * the byte round-trip is exact). ids 0-39 are independent seeded-LCG noise
  * fields; ids 40-47 are near-duplicates of ids 0-7 — a +120 bump on a 3x3
  * pixel patch aligned INSIDE one 4x4 dHash grid cell, so each duplicate
  * differs from its base by at most the two dHash bits that compare that
  * cell with its horizontal neighbors (measured: 0-2 bits per pair).
  */
object MediaCorpus {

  val dir: String = Fixtures.entry("media")
  val table = s"$dir/images.parquet"

  val W = 36
  val H = 32

  private def pixelsFor(id: Int): Array[Int] = {
    // one LCG stream per image, seeded by a Knuth-hash of the id
    var x = (id * 2654435761L + 1L) & 0x7fffffffL
    Array.fill(W * H) {
      x = (x * 1103515245L + 12345L) & 0x7fffffffL
      ((x >> 16) & 0xffL).toInt
    }
  }

  private[graft] def allPixels: Seq[(Int, Array[Int])] = {
    val bases = (0 until 40).map(i => i -> pixelsFor(i))
    val dups = (0 until 8).map { i =>
      val p = pixelsFor(i).clone()
      // 3x3 patch at (x0,y0), aligned inside grid cell (gy,gx): cells are
      // exactly 4x4 px at 36x32, so the patch never straddles a boundary;
      // +120 is strong enough that about half the pairs flip 1-2 dHash bits
      // (true NEAR-dups) while the rest stay hash-identical
      val gx = i % 9
      val gy = (i * 3) % 8
      val x0 = gx * 4
      val y0 = gy * 4
      for (dy <- 0 until 3; dx <- 0 until 3) {
        val idx = (y0 + dy) * W + (x0 + dx)
        p(idx) = math.min(255, p(idx) + 120)
      }
      (40 + i) -> p
    }
    bases ++ dups
  }

  private[graft] def pngOf(px: Array[Int]): Array[Byte] = {
    val img = new BufferedImage(W, H, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < H) {
      var x = 0
      while (x < W) { raster.setSample(x, y, 0, px(y * W + x)); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Build the corpus if absent (once per build, see [[Fixtures]]). */
  def ensure(spark: SparkSession): Unit = Fixtures.published("media") { tmp =>
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("png", BinaryType, nullable = false),
      StructField("pixels", ArrayType(IntegerType, containsNull = false), nullable = false)))
    val rows = allPixels.map { case (id, px) =>
      Row(id.toLong, W, H, pngOf(px), px.toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$tmp/images.parquet")
  }
}
