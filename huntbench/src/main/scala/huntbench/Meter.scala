package huntbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counts and times of one op class, summed over its calls. */
final class Counters {
  var calls = 0L
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var actions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
}

/** Per-op-class Spark counters. Every call the benchmark makes into the
  * engine runs under a Spark local property naming its op class, so jobs and
  * tasks are credited by the property they carry. Catalyst actions carry no
  * properties; they are credited to the op class that is current when the
  * listener bus is drained at the end of the call (closed loop, one caller).
  */
final class Meter(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val Prop = "huntbench.op"
  val byOp = mutable.LinkedHashMap.empty[String, Counters]
  private val stageOp = mutable.Map.empty[Int, String]
  @volatile private var current = "other"
  /** Time spent draining the bus: the overhead tracing adds to each call. */
  var drainNs = 0L

  private def at(op: String): Counters = synchronized(byOp.getOrElseUpdate(op, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).getOrElse("other")
    synchronized(e.stageIds.foreach(stageOp(_) = op))
    at(op).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = at(synchronized(stageOp.getOrElse(e.stageId, "other")))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.taskNs += m.executorRunTime * 1000000L
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = at(current)
    c.actions += 1
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs += ms("analysis")
    c.optimizationMs += ms("optimization")
    c.planningMs += ms("planning")
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    at(current).actions += 1

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    org.apache.spark.HuntbenchBus.drain(spark.sparkContext)
    drainNs += System.nanoTime() - t0
  }

  /** Executor task time of every job so far. */
  def taskSeconds: Double = {
    drain()
    val ns: Long = synchronized(byOp.values.map(_.taskNs).sum)
    ns / 1e9
  }

  /** Run `body` with jobs credited to `op`; drains the listener bus before
    * and after, so every event of the call is counted before the next call
    * starts. */
  def credit[T](op: String)(body: => T): T = {
    val sc = spark.sparkContext
    drain()
    at(op).calls += 1
    current = op
    sc.setLocalProperty(Prop, op)
    try body
    finally {
      drain()
      sc.setLocalProperty(Prop, null)
      current = "other"
    }
  }
}

object Meter {
  def install(spark: SparkSession): Meter = {
    val m = new Meter(spark)
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    m
  }
}

/** One traced span: a call into a layer's public function. */
final case class Span(id: Int, parent: Int, name: String, layer: String, startNs: Long, var endNs: Long)

/** In-memory span tree; written out only when the run ends. Disabled spans
  * cost one branch, so the untraced run pays nothing for the call sites. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.head, name, layer, System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Self time per layer: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.endNs - s.startNs - child(s.id)).sum / 1e9
    }
  }

  /** Mean duration of the spans of one name (0 if there are none). */
  def mean(name: String): Double = {
    val ds = spans.filter(_.name == name).map(s => s.endNs - s.startNs)
    if (ds.isEmpty) 0.0 else ds.sum / 1e9 / ds.size
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map[String, Any](
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

object Tracer {
  /** Layers whose spans are calls the benchmark makes only in traced runs. */
  val benchLayers = Set("ingest", "pattern", "catalog", "deref")
}
