package graft

import graft.api.Storage
import graft.ingest.UpsertWriter
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Millis, Span}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Round-16 optimization laws: the journal growth bound (append-time dedup
  * + construction-time compaction must be replay-invisible) and the upsert
  * no-change fast path (an idempotent re-upsert leaves every stored file
  * byte-stable; a genuine change still rewrites). */
class OptimizationR16Spec extends SparkSpec with TimeLimits {

  private val bundle =
    """{"type":"bundle","id":"bundle--ob1","objects":[
      |{"type":"observed-data","id":"observed-data--oo1",
      | "first_observed":"2024-01-01T00:00:00.000Z",
      | "last_observed":"2024-01-01T01:00:00.000Z","number_observed":2,
      | "objects":{
      |   "0":{"type":"ipv4-addr","value":"10.0.0.1"},
      |   "1":{"type":"url","value":"http://example.com/page/1"},
      |   "2":{"type":"url","value":"http://example.com/page/2"}
      | }}]}""".stripMargin

  private def journalLines(dir: String): Seq[String] =
    Files.readAllLines(Paths.get(dir, "__symtable.jsonl")).asScala.toSeq

  test("journal: re-running identical verbs does not grow the file; distinct verbs do") {
    withTempDir("graft-jnl") { dir =>
      val s = new Storage(spark, dir)
      s.cache("q1", bundle)
      s.extract("urls", "url", "q1", "[url:value LIKE '%page%']")
      s.extract("ips", "ipv4-addr", "q1", null)
      val n1 = journalLines(dir).size
      // identical re-registrations (a bench rep / idempotent pipeline re-run)
      (1 to 5).foreach { _ =>
        s.extract("urls", "url", "q1", "[url:value LIKE '%page%']")
        s.extract("ips", "ipv4-addr", "q1", null)
      }
      assert(journalLines(dir).size == n1, "identical re-registrations must not append")
      // a CHANGED registration must append (and re-arm dedup for the new line)
      s.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
      val n2 = journalLines(dir).size
      assert(n2 == n1 + 1)
      s.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
      assert(journalLines(dir).size == n2)
    }
  }

  test("journal: a NEW Storage over a duplicate-laden journal compacts it and replays the same views") {
    withTempDir("graft-jnl2") { dir =>
      val s = new Storage(spark, dir)
      s.cache("q1", bundle)
      s.extract("urls", "url", "q1", "[url:value LIKE '%page%']")
      // simulate a pre-dedup journal: hand-append exact duplicates
      val dup = journalLines(dir).last
      (1 to 7).foreach(_ => Files.write(Paths.get(dir, "__symtable.jsonl"),
        (dup + "\n").getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND))
      val before = journalLines(dir).size
      val s2 = new Storage(spark, dir) // replay compacts
      val after = journalLines(dir).size
      assert(after == before - 7, s"expected 7 duplicates dropped, $before -> $after")
      // the replayed view answers identically to the original registration
      val a = s.catalog.resolve("urls").select("id", "value").orderBy("id").collect().toSeq
      val b = s2.catalog.resolve("urls").select("id", "value").orderBy("id").collect().toSeq
      assert(a == b)
    }
  }

  test("journal: remove -> identical re-extract re-appends (state-changing repeats are kept)") {
    withTempDir("graft-jnl3") { dir =>
      val s = new Storage(spark, dir)
      s.cache("q1", bundle)
      s.extract("v1", "url", "q1", null)
      val n1 = journalLines(dir).size
      s.removeView("v1")
      s.extract("v1", "url", "q1", null) // same line text, but state changed
      assert(journalLines(dir).size == n1 + 2, "remove and the re-extract must both append")
      // a fresh replay sees the view present
      val s2 = new Storage(spark, dir)
      assert(s2.views().contains("v1"))
    }
  }

  test("journal: appdata survives a skipped duplicate re-extract across replay") {
    withTempDir("graft-jnl4") { dir =>
      val s = new Storage(spark, dir)
      s.cache("q1", bundle)
      s.extract("gv", "url", "q1", null)
      s.setAppdata("gv", """{"notes":"x"}""")
      // identical re-extract: in-memory this RESETS appData, so the line must
      // be appended (not deduped) to keep replay == in-memory state
      s.extract("gv", "url", "q1", null)
      assert(s.getAppdata("gv").isEmpty, "re-registration resets appData in-memory")
      val s2 = new Storage(spark, dir)
      assert(s2.getAppdata("gv").isEmpty, "replay must agree: appData reset by re-extract")
      // setting it again re-journals; replay agrees again
      s.setAppdata("gv", """{"notes":"x"}""")
      val s3 = new Storage(spark, dir)
      assert(s3.getAppdata("gv").contains("""{"notes":"x"}"""))
    }
  }

  test("journal: a holder that dies mid-append blocks the next append for seconds, not minutes") {
    withTempDir("graft-jnl5") { dir =>
      val s = new Storage(spark, dir)
      s.cache("q1", bundle)
      // crash through the fs seam right after the append's lease is created
      class InjectedCrash extends RuntimeException("injected crash")
      val L = graft.ingest.LocalTableFs
      UpsertWriter.fs = new graft.ingest.TableFs {
        def put(p: Path, c: Array[Byte]): Unit = L.put(p, c)
        def createNew(p: Path, c: Array[Byte]): Unit = {
          L.createNew(p, c)
          if (p.getFileName.toString == "__symtable.jsonl.lease") throw new InjectedCrash
        }
        def move(a: Path, b: Path): Unit = L.move(a, b)
        def moveReplace(a: Path, b: Path): Unit = L.moveReplace(a, b)
        def deleteIfExists(p: Path): Unit = L.deleteIfExists(p)
        def deleteTree(p: Path): Unit = L.deleteTree(p)
        def mkdirs(p: Path): Unit = L.mkdirs(p)
        def copyTree(a: Path, b: Path): Unit = L.copyTree(a, b)
      }
      try intercept[InjectedCrash](s.extract("urls", "url", "q1", null))
      finally UpsertWriter.fs = L
      assert(Files.exists(Paths.get(dir, "__symtable.jsonl.lease")), "the dead holder's lease stays")
      // the restart appends once the dead holder's short window has passed;
      // under a ten-minute window it would wait that long, so it fails here
      implicit val signaler: Signaler = ThreadSignaler
      failAfter(Span(Storage.AppendLeaseMs * 3, Millis)) {
        new Storage(spark, dir).extract("ips", "ipv4-addr", "q1", null)
      }
      assert(journalLines(dir).exists(_.contains("\"ips\"")))
      assert(!Files.exists(Paths.get(dir, "__symtable.jsonl.lease")))
    }
  }

  test("gateQuality: a dim smaller than the model's feature space fails loud (ADVICE r15)") {
    val sp = spark
    import sp.implicits._
    val weights = Seq((-1L, 1000L), (7L, 2000L), (300L, 3000L)).toDF("feature", "qw")
    val src = sp.readStream.format("rate").load()
      .selectExpr("value AS doc_id", "'x' AS text", "timestamp AS ts")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.gateQuality(src, weights, 0.5, "/tmp/graft_gatedim_spec", dim = 256)
    }
    assert(e.getMessage.contains("dim"), e.getMessage)
    // a covering dim constructs fine (validation only, stream never started)
    graft.streaming.StreamOps.gateQuality(src, weights, 0.5, "/tmp/graft_gatedim_spec", dim = 512)
  }

  private def allFiles(table: Path): Map[String, Long] = {
    val s = Files.walk(table)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => table.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap
    finally s.close()
  }

  test("upsert no-change fast path: an identical re-upsert leaves every file byte-stable") {
    val sp = spark
    import sp.implicits._
    withTempDir("graft-nochange") { dir =>
      val table = Paths.get(dir, "t.parquet")
      val rows = (0 until 50).map(i => (s"id-$i", s"n$i", i.toDouble))
      UpsertWriter.upsert(spark, dir, "t", rows.toDF("id", "name", "score"))
      val before = allFiles(table)
      Thread.sleep(20) // mtime resolution guard
      // re-upsert an identical subset (the replayed-batch shape)
      UpsertWriter.upsert(spark, dir, "t",
        rows.take(10).toDF("id", "name", "score"))
      assert(allFiles(table) == before, "no-change upsert must not rewrite any file")
      // content unchanged
      assert(UpsertWriter.readTable(spark, dir, "t").count() == 50)
      // null batch values keep stored values and are also no-change
      Thread.sleep(20)
      UpsertWriter.upsert(spark, dir, "t",
        Seq(("id-3", null.asInstanceOf[String], 3.0)).toDF("id", "name", "score"))
      assert(allFiles(table) == before, "null-keeps-stored is a no-change too")
      // a GENUINE change still rewrites, and only then
      UpsertWriter.upsert(spark, dir, "t",
        Seq(("id-3", "renamed", 3.0)).toDF("id", "name", "score"))
      assert(allFiles(table) != before)
      val r = UpsertWriter.readTable(spark, dir, "t").where(col("id") === "id-3").head()
      assert(r.getAs[String]("name") == "renamed")
    }
  }

  test("upsert no-change fast path: observation-column merges detect fixpoints exactly") {
    val sp = spark
    import sp.implicits._
    withTempDir("graft-nochange2") { dir =>
      val table = Paths.get(dir, "t.parquet")
      UpsertWriter.upsert(spark, dir, "t",
        Seq(("a", "2024-01-02", "2024-01-05", 7L))
          .toDF("id", "first_observed", "last_observed", "number_observed"))
      val before = allFiles(table)
      Thread.sleep(20)
      // inside the stored [first, last] interval and number_observed 0: min,
      // max and sum are all fixpoints -> no rewrite
      UpsertWriter.upsert(spark, dir, "t",
        Seq(("a", "2024-01-03", "2024-01-04", 0L))
          .toDF("id", "first_observed", "last_observed", "number_observed"))
      assert(allFiles(table) == before, "fixpoint observation merge must not rewrite")
      // an earlier first_observed IS a change
      UpsertWriter.upsert(spark, dir, "t",
        Seq(("a", "2024-01-01", "2024-01-04", 0L))
          .toDF("id", "first_observed", "last_observed", "number_observed"))
      val r = UpsertWriter.readTable(spark, dir, "t").head()
      assert(r.getAs[String]("first_observed") == "2024-01-01")
      assert(r.getAs[String]("last_observed") == "2024-01-05")
      assert(r.getAs[Long]("number_observed") == 7L)
      // a non-zero number_observed is a change (sum grows)
      val files2 = allFiles(table)
      Thread.sleep(20)
      UpsertWriter.upsert(spark, dir, "t",
        Seq(("a", "2024-01-01", "2024-01-05", 2L))
          .toDF("id", "first_observed", "last_observed", "number_observed"))
      assert(allFiles(table) != files2)
      assert(UpsertWriter.readTable(spark, dir, "t").head()
        .getAs[Long]("number_observed") == 9L)
    }
  }

  test("upsert no-change fast path: mixed batch delta-appends inserts, skips unchanged buckets") {
    val sp = spark
    import sp.implicits._
    withTempDir("graft-nochange3") { dir =>
      val table = Paths.get(dir, "t.parquet")
      val rows = (0 until 50).map(i => (s"id-$i", s"n$i"))
      UpsertWriter.upsert(spark, dir, "t", rows.toDF("id", "name"))
      val before = allFiles(table)
      Thread.sleep(20)
      // 5 unchanged stored rows + 3 new ids: the new ids delta-append, the
      // unchanged rows' buckets stay byte-stable
      UpsertWriter.upsert(spark, dir, "t",
        (rows.take(5) ++ Seq(("new-1", "x"), ("new-2", "y"), ("new-3", "z"))).toDF("id", "name"))
      val after = allFiles(table)
      // every before-file is still present and untouched
      assert(before.forall { case (f, m) => after.get(f).contains(m) },
        "unchanged buckets must keep every base file byte-stable")
      // the new rows are delta files only
      assert((after.keySet -- before.keySet).forall(_.contains("delta-")))
      assert(UpsertWriter.readTable(spark, dir, "t").count() == 53)
    }
  }
}
