package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement harness for the optimization rounds (guide §1: measure
  * first). For each named query it reports, per run: wall seconds, the
  * number of Spark jobs the run launched, the number of tasks, and the sum
  * of task durations — so fixed per-job/driver overhead (wall >> task time,
  * many jobs) is distinguishable from genuine executor compute (task time
  * ~ wall x cores). Not part of the driver contract; Bench.scala remains
  * the timed surface.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Perf q_a q_b ..."
  *        (no args = the 25 slowest from the last bench history record)
  */
object Perf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus("32")
    val reps = sys.env.get("SPARK_GRAFT_PERF_REPS").flatMap(_.toIntOption).getOrElse(2)
    val spark = Harness.session(cpus)

    val jobs = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskNanos = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskNanos.addAndGet((t.taskInfo.duration) * 1000000L)
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ()
    })

    // same untimed setup as Bench
    Harness.warmup(spark, sfDir, "perf")
    Fixtures.ensureAll(spark, "perf")

    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[perf] no such query: $name")
        case Some(fn) =>
          (1 to reps).foreach { rep =>
            jobs.set(0); tasks.set(0); taskNanos.set(0L)
            val t0 = System.nanoTime()
            val ok = try { fn(spark, sfDir).count(); true } catch {
              case t: Throwable => System.err.println(s"[perf] $name failed: $t"); false
            }
            val wall = (System.nanoTime() - t0) / 1e9
            // listener events drain asynchronously; give them a beat
            Thread.sleep(150)
            if (ok) println(f"[perf] $name%-28s rep$rep wall=$wall%7.3f s  jobs=${jobs.get()}%4d  tasks=${tasks.get()}%5d  taskTime=${taskNanos.get() / 1e9}%8.3f s")
          }
      }
    }
    spark.stop()
  }
}
