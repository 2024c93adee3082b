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
}
