package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Measurement harness for the streaming rows (guide §1 / VERDICT r16 #6:
  * find where the AvailableNow drain's fixed cost goes — offset/commit WAL
  * writes vs state-store work vs planning — before touching anything). For
  * each named query it runs the REAL SparkEntry entry and prints every
  * micro-batch's progress JSON (durationMs breakdown: addBatch,
  * commitOffsets, getBatch, latestOffset, queryPlanning, triggerExecution,
  * walCommit; plus stateOperators commit times), bracketed by wall-clock
  * start/terminate stamps so inter-batch gaps are visible too.
  * Not part of the driver contract; Bench.scala remains the timed surface.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StreamProbe q_stream_lr ..."
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus("32")
    val spark = Harness.session(cpus)
    val t0 = System.nanoTime()
    def ts: String = f"${(System.nanoTime() - t0) / 1e9}%9.3f"
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[sprobe] $ts START ${e.name}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        println(s"[sprobe] $ts PROGRESS batch=${e.progress.batchId} " +
          s"rows=${e.progress.numInputRows} durationMs=${e.progress.durationMs} " +
          s"state=${e.progress.stateOperators.map(s =>
            s"(rows=${s.numRowsTotal},commitMs=${s.commitTimeMs})").mkString(",")}")
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[sprobe] $ts TERMINATED")
    })
    Fixtures.ensureAll(spark, "sprobe")
    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[sprobe] no such query: $name")
        case Some(fn) =>
          (1 to 2).foreach { rep =>
            val s0 = System.nanoTime()
            try {
              fn(spark, sfDir).count()
              println(f"[sprobe] $name rep$rep wall=${(System.nanoTime() - s0) / 1e9}%7.3f s")
            } catch { case t: Throwable =>
              System.err.println(s"[sprobe] $name failed: $t")
            }
          }
      }
    }
    spark.stop()
  }
}
