package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO}

/** Deterministic synthetic animated-GIF corpus for the real multi-frame
  * video decode path (q_multimodal_video / q_multimodal_video_neardup).
  *
  * Mirrors [[MediaCorpus]] / [[AudioCorpus]]: each row stores BOTH the
  * encoded animated GIF and the ground-truth per-frame pixel matrices the
  * GIF was rendered from. The Spark queries decode ONLY the GIF
  * (javax.imageio's multi-image GIF reader — the one genuinely-multi-frame
  * container the public JDK can both write and read); the DuckDB oracles
  * compute the same per-frame dHashes and temporal fingerprint from ONLY
  * the `frames` arrays — parity proves the decode recovered every frame's
  * exact pixel matrix (GIF is palette-indexed and lossless for <=256 gray
  * levels, so the round trip is exact; verified by VideoCorpusSpec).
  *
  * Videos are 8 frames of 36x32 gray. ids 0-19 are per-frame seeded-LCG
  * noise fields with a deterministic per-clip brightness profile (an
  * id-seeded permutation of 8 distinct levels) so each clip's temporal
  * energy fingerprint carries real structure and clips differ from each
  * other; ids 20-25 are near-duplicates of ids 0-5 — the
  * same +120 bump on a dHash-cell-aligned 3x3 patch as MediaCorpus, applied
  * to EVERY frame, so each duplicate's per-frame dHash stays within 2 bits
  * of its base.
  */
object VideoCorpus {

  val dir: String = Fixtures.entry("video")
  val table = s"$dir/videos.parquet"

  val W = 36
  val H = 32
  val F = 8

  // per-frame brightness offsets: an id-seeded LCG Fisher-Yates permutation
  // of {0, 8, .., 56} — every clip gets its own temporal up/down profile
  // (so temporal fingerprints differ across clips), and DISTINCT levels
  // mean adjacent frames always differ by >=8 gray of mean brightness, so
  // the energy ordering is decisive: the 3x3 +120 near-dup patch shifts a
  // frame's energy far less than one level's worth
  private def ramp(id: Int): Array[Int] = {
    val levels = Array.tabulate(F)(_ * 8)
    var x = (id * 2654435761L + 17L) & 0x7fffffffL
    var i = F - 1
    while (i > 0) {
      x = (x * 1103515245L + 12345L) & 0x7fffffffL
      val j = (x % (i + 1)).toInt
      val t = levels(i); levels(i) = levels(j); levels(j) = t
      i -= 1
    }
    levels
  }

  private def framePixels(id: Int, f: Int): Array[Int] = {
    // one LCG stream per (video, frame), Knuth-hashed seed
    var x = ((id * 31L + f) * 2654435761L + 1L) & 0x7fffffffL
    val r = ramp(id)(f)
    Array.fill(W * H) {
      x = (x * 1103515245L + 12345L) & 0x7fffffffL
      (((x >> 16) & 0x7fL).toInt + r).min(255)
    }
  }

  private[graft] def allFrames: Seq[(Int, Seq[Array[Int]])] = {
    val bases = (0 until 20).map(i => i -> (0 until F).map(f => framePixels(i, f)))
    val dups = (0 until 6).map { i =>
      val fs = (0 until F).map { f =>
        val p = framePixels(i, f).clone()
        // same cell-aligned 3x3 patch as MediaCorpus, one patch per video
        // (constant across frames): flips at most 2 dHash bits per frame
        val gx = i % 9
        val gy = (i * 3) % 8
        for (dy <- 0 until 3; dx <- 0 until 3) {
          val idx = (gy * 4 + dy) * W + (gx * 4 + dx)
          p(idx) = math.min(255, p(idx) + 120)
        }
        p
      }
      (20 + i) -> fs
    }
    bases ++ dups
  }

  private[graft] def gifOf(frames: Seq[Array[Int]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { px =>
      val img = new BufferedImage(W, H, BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < H) {
        var x = 0
        while (x < W) { raster.setSample(x, y, 0, px(y * W + x)); x += 1 }
        y += 1
      }
      writer.writeToSequence(new IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Build the corpus if absent (once per build, see [[Fixtures]]). */
  def ensure(spark: SparkSession): Unit = Fixtures.published("video") { tmp =>
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("gif", BinaryType, nullable = false),
      StructField("frames", ArrayType(
        ArrayType(IntegerType, containsNull = false), containsNull = false),
        nullable = false)))
    val rows = allFrames.map { case (id, fs) =>
      Row(id.toLong, W, H, fs.size, gifOf(fs), fs.map(_.toSeq))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$tmp/videos.parquet")
  }
}
