package huntbench

import graft.model.StixId
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Command-line options of one benchmark run (see run.py). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    runDir: Path,
    checkout: Path) {
  def fixture(name: String): Path = checkout.resolve(s"src/test/resources/fixtures/$name")
}

/** Thrown by a setup step; names the workload and step and fails the run. */
final class SetupError(msg: String, cause: Throwable = null) extends RuntimeException(msg, cause)

/** What one run leaves behind: timed samples per op class, answer checks,
  * and (traced runs) layer counters. `Main` turns it into the run record. */
final class Run(val opts: Opts, val meter: Option[Meter], val tracer: Tracer, readOps: Set[String]) {
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  val cpuSamples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  val facts = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  var steps = Vector.empty[Double]
  var reads = Vector.empty[Double]
  var stepsCpu = Vector.empty[Double]
  var readsCpu = Vector.empty[Double]
  var stepRead = 0.0
  var stepReadCpu = 0.0
  var setupSeconds = 0.0
  var setupCpuSeconds = 0.0
  var runSeconds = 0.0

  /** One timed engine call of op class `op`; a thrown error counts as failed. */
  def call[T](op: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    val c0 = Cpu.ns()
    val t0 = System.nanoTime()
    val out =
      try Some(tracer.span(name, "api")(metered(op)(body)))
      catch { case e: Exception => fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"); None }
    val dt = (System.nanoTime() - t0) / 1e9
    val dc = (Cpu.ns() - c0) / 1e9
    samples(op) = samples.getOrElse(op, Vector.empty) :+ dt
    cpuSamples(op) = cpuSamples.getOrElse(op, Vector.empty) :+ dc
    if (readOps(op)) { stepRead += dt; stepReadCpu += dc }
    out
  }

  /** An engine call credited to op class `op` in traced runs, untimed;
    * `call` times it, and setup makes its calls this way directly. */
  def metered[T](op: String)(body: => T): T = meter match {
    case Some(m) => m.credit(op)(body)
    case None    => body
  }

  /** Bench-side layer call (traced runs only); time goes to its own layer. */
  def layer[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)

  def fail(msg: String): Unit = { failed += 1; if (failures.size < 50) failures += msg }

  /** An answer check: counted as one more attempted op, failed if false. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case e: Exception => System.err.println(s"[huntbench] check $name threw $e"); false }
    if (!good) fail(s"wrong answer: $name")
  }

  def p50(op: String): Option[Double] = samples.get(op).filter(_.nonEmpty).map(Main.median)
}

/** CPU time of the JVM's threads except the JIT compiler's. The kernel
  * leaves out the time a virtual CPU was held by the host (steal), so on a
  * shared host this is what a call costs the machine, independent of how
  * long it waited for the host. Compiler threads are excluded because how
  * far JIT compilation has got varies from run to run; they all start with
  * the JVM (run.py turns off dynamic compiler threads). */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private lazy val jitTasks: Vector[Path] = {
    val st = Files.list(Paths.get("/proc/self/task"))
    try st.iterator.asScala.filter { t =>
      val comm = new String(Files.readAllBytes(t.resolve("comm")), "UTF-8")
      comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")
    }.toVector
    finally st.close()
  }

  /** Nanoseconds run by the compiler threads: the first field of schedstat. */
  private def jitNs: Long = jitTasks.map(t => new String(Files.readAllBytes(t.resolve("schedstat")), "UTF-8").split(' ')(0).toLong).sum

  def ns(): Long = os.getProcessCpuTime - jitNs
  def jitThreads: Int = jitTasks.size
}

object Main {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, Paths.get(m("run-dir")).toAbsolutePath, Paths.get(m("checkout")).toAbsolutePath)
  }

  def session(o: Opts): SparkSession = {
    val local = o.runDir.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("huntbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", o.runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcTotals: (Long, Double) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum / 1000.0)
  }

  /** Heap in use once full collections stop freeing memory. Spark's
    * ContextCleaner drops cached and checkpointed blocks only after a GC has
    * collected their owners, so one collection can leave them in place. */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used = { System.gc(); Thread.sleep(200); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var mb = Vector(used, used)
    while (mb.size < 10 && (mb.size < 3 || mb.last < mb(mb.size - 2) - 1.0)) mb :+= used
    mb.min
  }

  private def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = Workloads.all.getOrElse(o.workload, {
      System.err.println(s"[huntbench] unknown workload ${o.workload}"); sys.exit(2)
    })
    val spark = session(o)
    val sessionSeconds = (System.currentTimeMillis() - jvmStart) / 1000.0
    val meter = if (o.trace) Some(Meter.install(spark)) else None
    val run = new Run(o, meter, new Tracer(o.trace), workload.readOps)
    val code =
      try {
        workload.setup(spark, run)
        run.setupSeconds = (System.currentTimeMillis() - jvmStart) / 1000.0
        run.setupCpuSeconds = Cpu.ns() / 1e9
        val (gc0, gcs0) = gcTotals
        val jit0 = jitSeconds
        val task0 = meter.map(_.taskSeconds).getOrElse(0.0)
        val drain0 = meter.map(_.drainNs).getOrElse(0L)
        val t0 = System.nanoTime()
        run.tracer.span(o.workload, "workload")(workload.timed(spark, run))
        run.runSeconds = (System.nanoTime() - t0) / 1e9
        meter.foreach { m =>
          // work a traced run adds to the timed run: the bench-side layer
          // calls and the listener-bus drains that credit each call's jobs
          val layerCalls = run.tracer.selfSeconds.filter(x => Tracer.benchLayers(x._1)).values.sum
          run.facts("trace.overhead_s") = layerCalls + (m.drainNs - drain0) / 1e9
          run.facts("spark.util") = (m.taskSeconds - task0) / (run.runSeconds * o.cpus)
        }
        val (gc1, gcs1) = gcTotals
        run.facts("jvm.gc_count") = (gc1 - gc0).toDouble
        run.facts("jvm.gc_s") = gcs1 - gcs0
        run.facts("jvm.jit_s") = jitSeconds - jit0
        run.facts("retained_heap_mb") = retainedHeapMb()
        val v0 = System.nanoTime()
        workload.verify(spark, run)
        run.facts("verify_s") = (System.nanoTime() - v0) / 1e9
        writeRecord(run, sessionSeconds)
        0
      } catch {
        case e: SetupError =>
          System.err.println(s"[huntbench] setup failed: workload ${o.workload}: ${e.getMessage}" +
            Option(e.getCause).map(c => s" ($c)").getOrElse(""))
          3
        case e: Exception =>
          System.err.println(s"[huntbench] run failed: workload ${o.workload}: $e")
          e.printStackTrace()
          1
      } finally {
        spark.stop()
        try workload.cleanup()
        catch { case e: Exception => System.err.println(s"cleanup: $e") }
      }
    sys.exit(code)
  }

  /** The run record: every figure of the run, written as soon as it ends. */
  private def writeRecord(run: Run, sessionSeconds: Double): Unit = {
    val o = run.opts
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    m("setup_s") = run.setupCpuSeconds
    m("step_cpu_s") = median(run.stepsCpu)
    m("read_cpu_s") = median(run.readsCpu)
    m("setup_wall_s") = run.setupSeconds
    m("step_p50_s") = median(run.steps)
    m("read_p50_s") = median(run.reads)
    m("run_s") = run.runSeconds
    m ++= run.facts
    run.samples.foreach { case (op, xs) => m(s"latency.p50_s.$op") = median(xs) }
    run.cpuSamples.foreach { case (op, xs) => m(s"cpu.p50_s.$op") = median(xs) }
    // counters are per call of the op class (setup's calls included), so
    // two traced runs of the same steps compare figure by figure
    run.meter.foreach { meter =>
      meter.byOp.foreach { case (op, c) =>
        val n = math.max(1L, c.calls).toDouble
        m(s"spark.jobs.$op") = c.jobs / n
        m(s"spark.tasks.$op") = c.tasks / n
        m(s"spark.task_s.$op") = c.taskNs / 1e9 / n
        m(s"spark.shuffle_bytes.$op") = c.shuffleBytes / n
        m(s"spark.spill_bytes.$op") = c.spillBytes / n
        m(s"spark.output_bytes.$op") = c.outputBytes / n
        m(s"catalyst.actions.$op") = c.actions / n
        m(s"catalyst.analysis_ms.$op") = c.analysisMs / n
        m(s"catalyst.optimization_ms.$op") = c.optimizationMs / n
        m(s"catalyst.planning_ms.$op") = c.planningMs / n
      }
      run.tracer.selfSeconds.foreach { case (l, s) => m(s"self_s.$l") = s }
      Seq("ingest.flatten_s" -> "Flatten.flattenBundle", "pattern.compile_s" -> "Pattern.compile",
        "catalog.resolve_s" -> "catalog.resolve", "deref.plan_s" -> "Deref.autoDeref")
        .foreach { case (k, span) => m(k) = run.tracer.mean(span) }
      m("api.define_s") = run.p50("define").getOrElse(0.0)
    }
    m("ops.failed_frac") = run.failed.toDouble / math.max(1L, run.attempted)
    val rec = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "cpus" -> o.cpus,
      "seconds" -> o.seconds, "attempted" -> run.attempted, "failed" -> run.failed,
      "failures" -> run.failures.toSeq, "steps" -> run.steps.size,
      "session_s" -> sessionSeconds,
      "samples" -> run.samples.toMap, "cpu_samples" -> run.cpuSamples.toMap,
      "steps_s" -> run.steps, "steps_cpu_s" -> run.stepsCpu, "jit_threads" -> Cpu.jitThreads, "metrics" -> m.toMap,
      "spans" -> run.tracer.toJson)
    Files.write(o.runDir.resolve("record.json"), StixId.canonicalJson(rec).getBytes("UTF-8"))
  }
}
