package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** What one unit of work cost Spark: jobs, tasks, summed task durations,
  * shuffle-write and spill bytes, and Catalyst actions. */
final case class Counts(
    jobs: Int = 0,
    tasks: Int = 0,
    taskMs: Long = 0L,
    shuffleBytes: Long = 0L,
    spillBytes: Long = 0L,
    actions: Int = 0)

/** One job of a unit measured with `detail`: its call site, its stages'
  * task counts and names, and its own duration, tasks and task time. */
final class JobCost(val id: Int, val site: String, val stages: Seq[(Int, String)], val startMs: Long) {
  var endMs: Long = startMs
  var tasks = 0
  var taskMs = 0L
}

/** A unit's counts, plus (with `detail`) its jobs and the progress of every
  * streaming micro-batch that ended inside it. */
final case class Report(counts: Counts, jobs: Seq[JobCost], batches: Seq[StreamingQueryProgress])

/** The engine's one meter: a SparkListener and a QueryExecutionListener
  * that credit what Spark does to the unit of work being measured.
  *
  * [[measure]] names its unit in a Spark local property, so a job is
  * credited to the unit its properties name while that unit is open, and
  * tasks follow their stage's job. A job whose property names no open unit
  * (a pool thread that inherited a finished unit's name), a Catalyst action
  * and a streaming progress event carry no usable name; they go to the
  * unit the caller is in (closed loop, one caller at a time). The listener
  * bus is drained before and after each unit, so every event of a unit is
  * counted before its report is read, with no sleep. */
final class Meter private (spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Meter.Prop

  private final class Open(val detail: Boolean) {
    var counts = Counts()
    val jobs = mutable.LinkedHashMap.empty[Int, JobCost]
    val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  }
  private val open = mutable.Map.empty[String, Open]
  private val stageUnit = mutable.Map.empty[Int, (String, Int)] // stage -> (unit, job)
  private val execSite = mutable.Map.empty[Long, String] // running SQL execution -> call site
  @volatile private var current: String = null

  private def credit(unit: String)(f: Open => Unit): Unit =
    synchronized(Option(unit).flatMap(open.get).foreach(f))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val named = Option(e.properties).map(_.getProperty(Prop)).orNull
    val unit = if (named != null && synchronized(open.contains(named))) named else current
    credit(unit) { u =>
      u.counts = u.counts.copy(jobs = u.counts.jobs + 1)
      e.stageIds.foreach(stageUnit(_) = unit -> e.jobId)
      if (u.detail) {
        // the call site of the SQL action the job serves (AQE runs its
        // stages from a pool thread, whose own call site names no caller),
        // else the result stage's, which Spark names after the call site
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execSite.get(id.toLong))
          .getOrElse(e.stageInfos.maxBy(_.stageId).name)
        u.jobs(e.jobId) = new JobCost(e.jobId, site,
          e.stageInfos.map(s => s.numTasks -> s.name.take(60)), e.time)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(open.values.foreach(_.jobs.get(e.jobId).foreach(_.endMs = e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageUnit.get(e.stageId).foreach { case (unit, job) =>
      val ms = Option(e.taskInfo).map(_.duration).getOrElse(0L)
      val m = Option(e.taskMetrics)
      credit(unit) { u =>
        val c = u.counts
        u.counts = c.copy(
          tasks = c.tasks + 1,
          taskMs = c.taskMs + ms,
          shuffleBytes = c.shuffleBytes + m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
          spillBytes = c.spillBytes + m.map(_.diskBytesSpilled).getOrElse(0L))
        u.jobs.get(job).foreach { j => j.tasks += 1; j.taskMs += ms }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => credit(current)(u => if (u.detail) u.batches += p.progress)
    case s: SparkListenerSQLExecutionStart => synchronized(execSite(s.executionId) = s.description)
    case s: SparkListenerSQLExecutionEnd => synchronized(execSite.remove(s.executionId)); ()
    case _ => ()
  }

  private def action(): Unit = credit(current)(u => u.counts = u.counts.copy(actions = u.counts.actions + 1))
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = action()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = action()

  /** Run `body` as the unit `unit` and report what it cost. With `detail`
    * the report also lists the unit's jobs and streaming micro-batches. */
  def measure[T](unit: String, detail: Boolean = false)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    org.apache.spark.MeterBus.drain(sc)
    val (outerProp, outer) = (sc.getLocalProperty(Prop), current)
    synchronized(open(unit) = new Open(detail))
    current = unit
    sc.setLocalProperty(Prop, unit)
    try {
      val out = body
      org.apache.spark.MeterBus.drain(sc)
      (out, synchronized { val u = open(unit); Report(u.counts, u.jobs.values.toSeq, u.batches.toSeq) })
    } finally {
      sc.setLocalProperty(Prop, outerProp)
      current = outer
      synchronized {
        open.remove(unit)
        stageUnit.filterInPlace { case (_, (u, _)) => u != unit }
      }
    }
  }
}

object Meter {
  /** The Spark local property that names the unit a job belongs to. */
  val Prop = "graft.meter.unit"

  /** A Meter listening to `spark`'s context and to its Catalyst actions. */
  def install(spark: SparkSession): Meter = {
    val m = new Meter(spark)
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    m
  }
}
