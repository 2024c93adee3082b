package graft

import org.apache.spark.sql.SparkSession

/** Bench-methodology timer for a SUBSET of queries: same session shape,
  * same untimed warmup/corpora, same interleaved min-of-N (the full Bench
  * takes ~30 min; iterating on one operator needs seconds-scale feedback
  * with the same noise rejection). Measurement tooling, not contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.QProbe q_a q_b ..."
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.get("SPARK_GRAFT_PERF_REPS").flatMap(_.toIntOption).getOrElse(3)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq("q_projection", "q_dedup_minhash", "q_ann_lsh").foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count()
      catch { case t: Throwable => System.err.println(s"[qprobe] warmup $q failed: $t") }
    }
    Fixtures.ensureAll(spark, "qprobe")
    val names = args.toSeq.filter { n =>
      val ok = SparkEntry.queries.contains(n)
      if (!ok) System.err.println(s"[qprobe] no such query: $n")
      ok
    }
    // one untimed pass per query (kernel JIT), then interleaved min-of-reps
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case t: Throwable => System.err.println(s"[qprobe] $n failed: $t") }
    }
    val best = scala.collection.mutable.LinkedHashMap[String, Double](names.map(_ -> -1.0): _*)
    (1 to reps).foreach { pass =>
      names.foreach { n =>
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(n)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
        val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        if (t >= 0 && (best(n) < 0 || t < best(n))) best(n) = t
        System.err.println(f"[qprobe] pass $pass $n%-28s $t%8.3f s")
      }
    }
    best.foreach { case (n, t) => println(f"[qprobe] MIN $n%-28s $t%8.3f s") }
    spark.stop()
  }
}
