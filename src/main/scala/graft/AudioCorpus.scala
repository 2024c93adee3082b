package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic WAV corpus for the real audio decode path
  * (q_multimodal_audio / q_multimodal_audio_fp / q_multimodal_audio_neardup).
  *
  * Mirrors [[MediaCorpus]]: each row stores BOTH the encoded WAV bytes and
  * the ground-truth 16-bit sample array the WAV was rendered from. The
  * Spark queries decode ONLY the WAV (javax.sound.sampled, public JDK);
  * the DuckDB oracles compute the same integer statistics / fingerprints
  * from ONLY the `samples` array — parity proves the decode recovered the
  * exact PCM stream, not just that both sides ran the same arithmetic.
  *
  * Clips are mono 16-bit PCM at 8 kHz (WAV PCM is lossless — byte-exact
  * round-trip). Waveforms are integer triangle waves plus seeded-LCG noise
  * (no floats anywhere, so ground truth is engine-portable). ids 0-39 are
  * independent clips with varying period/amplitude/length; ids 40-47 are
  * near-duplicates of ids 0-7 — a +3000 bump on a 60-sample span aligned
  * INSIDE one energy-fingerprint frame, so each duplicate differs from its
  * base by at most the two fingerprint bits that compare that frame with
  * its neighbors.
  */
object AudioCorpus {

  val dir: String = Fixtures.entry("audio")
  val table = s"$dir/audio.parquet"

  val Rate = 8000

  /** 33 energy frames -> 32 adjacent-comparison bits (see Multimodal). */
  val FpFrames = 33

  private def samplesFor(id: Int): Array[Int] = {
    val n = 1600 + (id % 7) * 97 // non-divisible lengths exercise the
    //                              near-equal frame partition
    // per-frame gain envelope in [1, 32] from a clip-seeded LCG: frame
    // energies of independent clips vary over ~3 decades, so the
    // energy-delta fingerprint comparisons are decisive — without an
    // envelope all clips have near-flat energy profiles and the 32-bit
    // fingerprints of unrelated clips collide within a few bits
    var g = (id * 40503L + 9973L) & 0x7fffffffL
    val gains = Array.fill(FpFrames) {
      g = (g * 1103515245L + 12345L) & 0x7fffffffL
      1 + ((g >> 16) % 32L).toInt
    }
    val period = 50 + id * 7
    var x = (id * 2654435761L + 17L) & 0x7fffffffL
    Array.tabulate(n) { i =>
      val frame = (i.toLong * FpFrames / n).toInt
      // small integer triangle wave for periodic character
      val tri = math.abs(((i % period) * 4 * 512) / period - 1024) - 512
      x = (x * 1103515245L + 12345L) & 0x7fffffffL
      val noise = ((x >> 16) & 0xfffL).toInt - 2048 // [-2048, 2047]
      tri + (noise * gains(frame)) / 4 // peak ~ 512 + 16384 < 32767
    }
  }

  private[graft] def allSamples: Seq[(Int, Array[Int])] = {
    val bases = (0 until 40).map(i => i -> samplesFor(i))
    val dups = (0 until 8).map { i =>
      val s = samplesFor(i).clone()
      val n = s.length
      // 60-sample bump starting at the first sample of frame (3 + i % 4):
      // frame f covers samples [f*n/33, (f+1)*n/33) (ceil-start of the
      // i*33/n partition), and n/33 ~ 48-57 < 60 spills into at most the
      // next frame — still only 2-3 comparison bits can flip
      val f = 3 + i % 4
      val start = (f * n + FpFrames - 1) / FpFrames
      for (j <- start until math.min(start + 60, n))
        s(j) = math.min(32767, s(j) + 3000)
      (40 + i) -> s
    }
    bases ++ dups
  }

  /** Canonical 44-byte RIFF/WAVE header + little-endian 16-bit PCM. */
  private[graft] def wavOf(samples: Array[Int], rate: Int = Rate): Array[Byte] = {
    val dataSize = samples.length * 2
    val buf = java.nio.ByteBuffer
      .allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    buf.putShort(1) // PCM
    buf.putShort(1) // mono
    buf.putInt(rate)
    buf.putInt(rate * 2) // byte rate
    buf.putShort(2)      // block align
    buf.putShort(16)     // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(s => buf.putShort(s.toShort))
    buf.array()
  }

  /** Build the corpus if absent (once per build, see [[Fixtures]]). */
  def ensure(spark: SparkSession): Unit = Fixtures.published("audio") { tmp =>
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("wav", BinaryType, nullable = false),
      StructField("samples", ArrayType(IntegerType, containsNull = false), nullable = false)))
    val rows = allSamples.map { case (id, s) =>
      Row(id.toLong, Rate, wavOf(s), s.toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$tmp/audio.parquet")
  }
}
