package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast; each spec reads the tiny sf0.001 testdata. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** Run `body` on a fresh temp dir named `prefix*`, deleted with
    * everything in it however `body` exits. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString) finally graft.ingest.FsUtil.deleteTree(dir)
  }

  private var suiteRoot: java.nio.file.Path = null

  /** A fresh dir named `prefix*` for a store that outlives any one
    * block (a spec's store factory, a class-level store): it lives under
    * one suite-scoped temp root that afterAll deletes. */
  def suiteTempDir(prefix: String): String = synchronized {
    if (suiteRoot == null) suiteRoot = java.nio.file.Files.createTempDirectory("graft-suite")
    java.nio.file.Files.createTempDirectory(suiteRoot, prefix).toString
  }

  /** `body`'s result and the number of Spark jobs it launched. */
  def countJobs[T](body: => T): (T, Int) = {
    val (out, report) = SparkSpec.meter.measure("countJobs")(body)
    (out, report.counts.jobs)
  }

  /** What two ingest verbs must agree on for the same objects: every
    * stored table's schema as (column, type) pairs, and the `__columns`
    * rows, sorted. */
  def storeShape(s: graft.api.Storage): (Map[String, Seq[(String, String)]], Seq[String]) = {
    val schemas = graft.ingest.UpsertWriter.tables(s.workDir).map(t =>
      t -> s.catalog.resolve(t).schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)).toMap
    val columns = s.catalog.resolve("__columns").collect().map(_.toSeq.mkString("|")).toSeq.sorted
    (schemas, columns)
  }

  def assertSameShape(a: graft.api.Storage, b: graft.api.Storage): Unit = {
    val ((schemasA, columnsA), (schemasB, columnsB)) = (storeShape(a), storeShape(b))
    assert(schemasA.keySet == schemasB.keySet)
    schemasA.keys.foreach(t => assert(schemasA(t) == schemasB(t), s"table $t"))
    assert(columnsA == columnsB)
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      if (suiteRoot != null) graft.ingest.FsUtil.deleteTree(suiteRoot)
      suiteRoot = null
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The session's one [[graft.Meter]]. */
  lazy val meter: Meter = Meter.install(session)
}
