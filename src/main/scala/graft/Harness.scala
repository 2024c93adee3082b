package graft

import org.apache.spark.sql.SparkSession

/** What Bench, PlanDump and Verify share: the local session shape and the
  * untimed JIT warmup. */
object Harness {

  /** Worker count: SPARK_GRAFT_CPUS, else the main's own default. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** `local[cpus]` with as many shuffle partitions, no UI, nanosecond
    * parquet timestamps read as longs, WARN logging, plus `conf`. */
  def session(cpus: String, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = conf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed JIT/classloader warmup, one query per kernel family:
    * relational plan machinery, the compiled minhash/md5 signature
    * kernels, and the native vector codegen expressions — so the first
    * timed query of each family measures the operator, not HotSpot
    * compilation. A failure is one stderr line tagged `[tag]`. */
  def warmup(spark: SparkSession, sfDir: String, tag: String): Unit =
    Seq("q_projection", "q_dedup_minhash", "q_ann_lsh").foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count()
      catch {
        case t: Throwable =>
          System.err.println(s"[$tag] warmup $q failed: ${t.getClass.getSimpleName}: " +
            String.valueOf(t.getMessage).take(200))
      }
    }
}
