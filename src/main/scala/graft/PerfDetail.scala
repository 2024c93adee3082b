package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-job drill-down for one query: job id, duration, stage task counts,
  * callsite — to attribute fixed costs. Measurement only; not contract. */
object PerfDetail {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class JobRec(id: Int, var t0: Long = 0L, var t1: Long = 0L,
        var stages: Seq[(Int, String)] = Nil, var site: String = "",
        var tasks: Int = 0, var taskMs: Long = 0L)
    val recs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (record) {
        val r = JobRec(j.jobId, t0 = j.time)
        r.stages = j.stageInfos.map(s => (s.numTasks, s.name.take(60))).zipWithIndex.map { case ((n, nm), _) => (n, nm) }
        r.site = Option(j.properties).map(_.getProperty("callSite.short", "")).getOrElse("")
        recs.put(j.jobId, r)
        j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (record) {
        Option(recs.get(j.jobId)).foreach(_.t1 = j.time)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (record) {
        Option(stageToJob.get(t.stageId)).map(recs.get).filter(_ != null).foreach { r =>
          r.synchronized { r.tasks += 1; r.taskMs += t.taskInfo.duration }
        }
      }
    })

    Seq("q_projection", "q_dedup_minhash", "q_ann_lsh").foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count() catch { case _: Throwable => () }
    }
    Fixtures.ensureAll(spark, "perfdetail")

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // untimed warm pass
      recs.clear(); stageToJob.clear()
      record = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      record = false
      import scala.jdk.CollectionConverters._
      val rs = recs.values().asScala.toSeq.sortBy(_.id)
      println(f"[detail] ===== $name wall=$wall%.3f s, jobs=${rs.size} =====")
      rs.foreach { r =>
        val dur = (r.t1 - r.t0) / 1000.0
        println(f"[detail] job ${r.id}%4d ${dur}%7.3f s tasks=${r.tasks}%4d taskMs=${r.taskMs}%6d  ${r.site}%-40s stages=${r.stages.map(_._1).mkString(",")} ${r.stages.map(_._2).mkString("|").take(120)}")
      }
    }
    spark.stop()
  }
}
