package graft

import graft.catalog.Catalog
import graft.query._
import org.apache.spark.sql.functions._

/** View-catalog semantics pinned by the reference:
  * lazy replay, self-shadowing redefinition, rename clobber
  * (firepit/sqlitestorage.py:192-218, sqlstorage.py:795-822). */
class CatalogSpec extends SparkSpec {

  test("resolve falls back to base parquet table") {
    val c = new Catalog(spark, sfDir)
    assert(c.resolve("region").count() == 5)
  }

  test("views shadow base tables and replay lazily") {
    val c = new Catalog(spark, sfDir)
    c.register("r2", GQuery.table("region", Filter(Seq(Comparison("r_regionkey", "<", RLit(2))))))
    assert(c.resolve("r2").count() == 2)
  }

  test("redefine closes over the previous definition (self-shadowing)") {
    val c = new Catalog(spark, sfDir)
    c.register("v", GQuery.table("region", Filter(Seq(Comparison("r_regionkey", "<", RLit(4))))))
    c.redefine("v")(df => df.filter(col("r_regionkey") >= 2))
    assert(c.resolve("v").select("r_regionkey").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
  }

  test("redefine on an unregistered name replays the base table (no recursion)") {
    val c = new Catalog(spark, sfDir)
    c.redefine("region")(df => df.filter(col("r_regionkey") < 1))
    assert(c.resolve("region").count() == 1)
  }

  test("dependent views see upstream redefinition") {
    val c = new Catalog(spark, sfDir)
    c.register("a", GQuery.table("region"))
    c.register("b", GQuery.table("a", Filter(Seq(Comparison("r_regionkey", "<", RLit(3))))))
    assert(c.resolve("b").count() == 3)
    c.redefine("a")(df => df.filter(col("r_regionkey") > 0))
    assert(c.resolve("b").count() == 2)
  }

  test("rename clobbers target and preserves definition") {
    val c = new Catalog(spark, sfDir)
    c.register("x", GQuery.table("region", Filter(Seq(Comparison("r_regionkey", "<", RLit(2))))))
    c.register("y", GQuery.table("region"))
    c.renameView("x", "y")
    assert(!c.contains("x"))
    assert(c.resolve("y").count() == 2)
  }

  test("invalid view names raise InvalidViewname") {
    val c = new Catalog(spark, sfDir)
    intercept[graft.api.InvalidViewname] {
      c.register("bad name; drop", GQuery.table("region"))
    }
  }

  test("appdata round-trips") {
    val c = new Catalog(spark, sfDir)
    c.register("v", GQuery.table("region"))
    c.setAppData("v", """{"k":1}""")
    assert(c.getAppData("v").contains("""{"k":1}"""))
  }

  test("a view's base reads roll an interrupted publish forward") {
    import graft.ingest.{LocalTableFs, TableFs, UpsertWriter}
    import java.nio.file.Path
    def bundle(n: Int) =
      s"""{"type":"bundle","id":"bundle--r","objects":[
         |{"type":"observed-data","id":"observed-data--r$n",
         | "first_observed":"2024-01-01T00:00:00.000Z","last_observed":"2024-01-01T00:00:00.000Z",
         | "number_observed":1,"objects":{"0":{"type":"url","value":"http://r.test/$n"}}}]}""".stripMargin
    class Crash extends RuntimeException("injected crash")
    withTempDir("graft-catalog-repair") { dir =>
      val s = new graft.api.Storage(spark, dir)
      s.cache("q1", bundle(1))
      s.extract("v", "url", "q2", "")
      // die at the first file move into the live __queries table: the
      // publish's intent marker is written, its staged files are not moved
      val queries = java.nio.file.Paths.get(dir, "__queries.parquet")
      UpsertWriter.fs = new TableFs {
        def put(p: Path, c: Array[Byte]): Unit = LocalTableFs.put(p, c)
        def createNew(p: Path, c: Array[Byte]): Unit = LocalTableFs.createNew(p, c)
        def move(src: Path, dst: Path): Unit =
          if (dst.startsWith(queries)) throw new Crash else LocalTableFs.move(src, dst)
        def moveReplace(src: Path, dst: Path): Unit = LocalTableFs.moveReplace(src, dst)
        def deleteIfExists(p: Path): Unit = LocalTableFs.deleteIfExists(p)
        def deleteTree(p: Path): Unit = LocalTableFs.deleteTree(p)
        def mkdirs(p: Path): Unit = LocalTableFs.mkdirs(p)
        def copyTree(src: Path, dst: Path): Unit = LocalTableFs.copyTree(src, dst)
      }
      try intercept[Crash](s.cache("q2", bundle(2)))
      finally UpsertWriter.fs = LocalTableFs
      assert(java.nio.file.Files.exists(queries.resolve("_graft_pending")))
      val reopened = new graft.api.Storage(spark, dir)
      assert(reopened.lookup("v").map(_("value")) == Seq("http://r.test/2"))
    }
  }
}
