package graft

import graft.ingest.UpsertWriter
import graft.ingest.UpsertWriter.AppendKey
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The incremental-rewrite economics of the bucketed store: an upsert
  * batch rewrites ONLY the id-hash buckets it touches (file-level
  * assertion), a schema-evolving batch migrates the whole table once, and
  * per-bucket merge output is identical to the global merge. */
class UpsertBucketSpec extends SparkSpec {

  /** (relative file path -> last-modified) for every data file under a
    * table dir, grouped by bucket subdirectory. */
  private def filesByBucket(table: Path): Map[String, Map[String, Long]] = {
    val s = Files.walk(table)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq
      .groupBy(p => table.relativize(p).getName(0).toString)
      .map { case (b, ps) =>
        b -> ps.map(p => table.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis).toMap
      }
    finally s.close()
  }

  /** The last marker line of a table written in Spark's bucket-file layout. */
  private val SparkBucketsLine = "@spark-bucket-files"

  /** The bucket spec of a read's file relation (None: a plain read). */
  private def bucketSpecOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect { case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation => r.bucketSpec }
      .flatten

  private def df(rows: Seq[(String, String, Long)]) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("id", "name", "number_observed")
  }

  test("single-id upsert rewrites exactly one bucket; all others byte-stable") {
    withTempDir("graft-bucket") { dir =>
      val table = java.nio.file.Paths.get(dir, "t.parquet")
      // seed enough ids to populate many buckets
      UpsertWriter.upsert(spark, dir, "t",
        df((0 until 200).map(i => (s"id-$i", s"n$i", 1L))))
      val before = filesByBucket(table)
      assert(before.size > 4, s"expected many buckets, got ${before.keySet}")

      UpsertWriter.upsert(spark, dir, "t", df(Seq(("id-7", "renamed", 2L))))
      val after = filesByBucket(table)
      val expectedBucket = spark.range(1)
        .select(pmod(hash(lit("id-7")), lit(UpsertWriter.DefaultBuckets)))
        .head().getInt(0).toString
      val changed = (before.keySet ++ after.keySet).filter(b => before.get(b) != after.get(b))
      assert(changed == Set(s"__bucket=$expectedBucket"),
        s"expected only bucket $expectedBucket to change, got $changed")

      // merge semantics across the bucket boundary: newest-non-null + SUM
      val merged = UpsertWriter.readTable(spark, dir, "t")
        .where(col("id") === "id-7").head()
      assert(merged.getAs[String]("name") == "renamed")
      assert(merged.getAs[Long]("number_observed") == 3L)
      // untouched row unchanged
      assert(UpsertWriter.readTable(spark, dir, "t")
        .where(col("id") === "id-9").head().getAs[String]("name") == "n9")
    }
  }

  test("cache records each table's bucket count and routing keys in its marker") {
    // pins the on-disk layout the write verbs share: if a table's routing
    // keys drifted, rows from new writes would land in buckets that do not
    // match what older stores recorded. The edge tables route on the SCO
    // side's join key, and the last line says the files carry Spark's
    // bucket suffix (the table reads as a bucketed relation)
    withTempDir("graft-markers") { dir =>
      val s = new graft.api.Storage(spark, dir)
      s.cache("q1", Seq(new java.io.File("src/test/resources/fixtures/test_bundle.json").getAbsolutePath))
      val tables = UpsertWriter.tables(dir)
      assert(Set("observed-data", "__columns", "__contains", "__queries", "ipv4-addr", "url")
        .subsetOf(tables.toSet), s"tables: $tables")
      tables.foreach { t =>
        val marker = new String(
          Files.readAllBytes(java.nio.file.Paths.get(dir, s"$t.parquet", "_graft_buckets")), "UTF-8")
          .trim.split('\n').toSeq
        val keys = t match {
          case "__columns"  => Seq("otype", "path")
          case "__contains" => Seq("target_ref")
          case "__reflist"  => Seq("source_ref")
          case "__queries"  => Seq("query_id", "sco_id")
          case _            => Seq("id") // every SCO table and observed-data
        }
        assert(marker == (UpsertWriter.DefaultBuckets.toString +: keys) :+ SparkBucketsLine,
          s"$t marker: $marker")
      }
    }
  }

  test("keyed-append delta files keep the base files' column order") {
    // raw-glob readers that match columns by position need every file of a
    // table in one column order, the key column(s) included
    withTempDir("graft-colorder") { dir =>
      val sp = spark
      import sp.implicits._
      def fileColumns(t: String): Seq[Seq[String]] = {
        val s = Files.walk(java.nio.file.Paths.get(dir, s"$t.parquet"))
        try s.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toList
          .map { f => // the file's own footer schema: no partition discovery
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                new org.apache.hadoop.fs.Path(f.toString), spark.sparkContext.hadoopConfiguration))
            try r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
            finally r.close()
          }.distinct
        finally s.close()
      }
      Seq("x1", "x2").foreach(id =>
        UpsertWriter.appendKeyed(spark, dir, "o", Seq(("n", id)).toDF("name", "id"), AppendKey.Id))
      Seq("p1", "p2").foreach(path =>
        UpsertWriter.appendKeyed(spark, dir, "c", Seq(("int", "t", path)).toDF("dtype", "otype", "path"),
          AppendKey.Cols(Seq("otype", "path"))))
      assert(fileColumns("o") == Seq(Seq("name", "id")))
      assert(fileColumns("c") == Seq(Seq("dtype", "otype", "path")))
      assert(UpsertWriter.readTable(spark, dir, "o").count() == 2)
      assert(UpsertWriter.readTable(spark, dir, "c").count() == 2)
    }
  }

  test("every published file carries its bucket's suffix: creation, delta, swap, compaction") {
    withTempDir("graft-suffix") { dir =>
      val table = java.nio.file.Paths.get(dir, "t.parquet")
      def dataFiles(): Seq[Path] = {
        val s = Files.walk(table)
        try s.iterator().asScala.filter { f =>
          Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet") &&
            !f.getFileName.toString.startsWith(".")
        }.toList
        finally s.close()
      }
      def assertSuffixed(step: String): Unit = dataFiles().foreach { f =>
        val dirBucket = f.getParent.getFileName.toString.stripPrefix("__bucket=").toInt
        assert(org.apache.spark.sql.execution.datasources.BucketingUtils
          .getBucketId(f.getFileName.toString).contains(dirBucket), s"$step: $f")
      }
      def deltas(bucket: Int) = dataFiles()
        .filter(f => f.getParent.getFileName.toString == s"__bucket=$bucket")
        .map(_.getFileName.toString).partition(_.startsWith("delta-"))
      UpsertWriter.upsert(spark, dir, "t", df((0 until 50).map(i => (s"id-$i", s"n$i", 1L))))
      assertSuffixed("creation")
      val n = UpsertWriter.DefaultBuckets
      val sp = spark
      import sp.implicits._
      val bucket0 = (0 until 2000).map(i => s"x-$i").toDF("id")
        .where(pmod(hash(col("id")), lit(n)) === 0)
        .collect().map(_.getString(0)).toSeq
      UpsertWriter.upsert(spark, dir, "t", df(Seq((bucket0.head, "v", 1L))))
      assert(deltas(0)._1.size == 1)
      assertSuffixed("delta append")
      UpsertWriter.upsert(spark, dir, "t", df(Seq((bucket0.head, "w", 1L))))
      assert(deltas(0)._1.isEmpty, "an upsert of a stored id rewrites its bucket")
      assertSuffixed("bucket swap")
      bucket0.slice(1, UpsertWriter.DeltaFilesMax + 2)
        .foreach(id => UpsertWriter.upsert(spark, dir, "t", df(Seq((id, "v", 1L)))))
      assert(deltas(0)._1.isEmpty && deltas(0)._2.size == 1, "compaction past DeltaFilesMax")
      assertSuffixed("compaction")
      // so the table reads as a bucketed relation on its routing key
      val read = UpsertWriter.readTable(spark, dir, "t")
      assert(bucketSpecOf(read).map(b => (b.numBuckets, b.bucketColumnNames)) == Some((n, Seq("id"))))
      assert(read.count() == 50 + UpsertWriter.DeltaFilesMax + 2)
    }
  }

  test("a table from before the bucket-file layout keeps its routing and plain read") {
    // an edge table as older code wrote it: routed on the whole row, and a
    // marker without the layout line. Writes by today's rule (route on
    // target_ref) must route by the RECORDED keys, or a stored duplicate
    // would sit in another bucket than the one the batch row probes
    withTempDir("graft-oldmarker") { dir =>
      val sp = spark
      import sp.implicits._
      val e1 = (0 until 60).map(i => (s"s-$i", s"t-${i % 20}", i.toLong))
        .toDF("source_ref", "target_ref", "x_firepit_rank")
      UpsertWriter.appendKeyed(spark, dir, "__contains", e1, AppendKey.Row)
      val marker = java.nio.file.Paths.get(dir, "__contains.parquet", "_graft_buckets")
      val old = s"${UpsertWriter.DefaultBuckets}\nsource_ref\ntarget_ref\nx_firepit_rank\n"
      Files.write(marker, old.getBytes("UTF-8"))
      // 30 stored duplicates beside 10 new edges
      val e2 = e1.limit(30).unionByName((60 until 70).map(i => (s"s-$i", s"t-${i % 20}", i.toLong))
        .toDF("source_ref", "target_ref", "x_firepit_rank"))
      UpsertWriter.appendKeyed(spark, dir, "__contains", e2, AppendKey.RowOn("target_ref"))
      val read = UpsertWriter.readTable(spark, dir, "__contains")
      assert(read.count() == 70, "a stored duplicate was appended again")
      assert(new String(Files.readAllBytes(marker), "UTF-8") == old)
      assert(bucketSpecOf(read).isEmpty, "an old-layout table must read plainly")
    }
  }

  /** One bundle of `range.size` flows: per flow an observed-data holding a
    * network-traffic between two ipv4-addrs. Flows of one index are
    * identical in every bundle, so overlapping ranges re-see stored rows. */
  private def flows(range: Range): String = range.map { i =>
    s"""{"type":"observed-data","id":"observed-data--00000000-0000-4000-8000-${f"$i%012d"}",
       |"first_observed":"2024-01-01T00:00:00.000Z","last_observed":"2024-01-01T00:01:00.000Z",
       |"number_observed":1,"objects":{
       |"0":{"type":"ipv4-addr","value":"10.0.0.${i % 250}"},
       |"1":{"type":"ipv4-addr","value":"10.1.0.${i % 250}"},
       |"2":{"type":"network-traffic","src_ref":"0","dst_ref":"1","src_port":${1000 + i},
       |     "dst_port":443,"protocols":["tcp"]}}}""".stripMargin
  }.mkString("""{"type":"bundle","id":"bundle--1","objects":[""", ",", "]}")

  /** A store holding a cached fixture and two flow GETs, the second of
    * which re-sees 4 stored flows (delta files and bucket rewrites). */
  private lazy val flowStore = {
    val s = new graft.api.Storage(spark, suiteTempDir("graft-flows"))
    s.cache("q0", new String(Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/fixtures/test_bundle.json")), "UTF-8"))
    s.cache("q1", flows(0 until 16))
    s.cache("q2", flows(12 until 28))
    s
  }

  test("readTable takes Spark's inferred schema from one footer, with no job") {
    val dir = flowStore.workDir
    // a table whose footers record a non-nullable column
    val sp = spark
    import sp.implicits._
    UpsertWriter.appendKeyed(spark, dir, "nonnull",
      (0 until 5).map(i => (s"k$i", i.toLong)).toDF("k", "n"), AppendKey.Cols(Seq("k")))
    val tables = UpsertWriter.tables(dir)
    assert(tables.contains("__contains") && tables.contains("network-traffic"))
    val (schemas, jobs) = countJobs(tables.map(t => UpsertWriter.readTable(spark, dir, t).schema))
    assert(jobs == 0, s"readTable of ${tables.size} tables launched $jobs jobs")
    tables.zip(schemas).foreach { case (t, got) =>
      val inferred = spark.read.parquet(java.nio.file.Paths.get(dir, s"$t.parquet").toString)
        .drop("__bucket").schema
      // StructType equality: names, types, order, nullability, metadata
      assert(got == inferred, s"table $t")
    }
  }

  test("a table named like a hidden path is read through its bucket dirs") {
    val read = UpsertWriter.readTable(spark, flowStore.workDir, "__contains")
    val roots = read.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect { case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
      r.location.rootPaths.map(_.getName)
    }.getOrElse(Nil)
    assert(roots.nonEmpty && roots.forall(_.startsWith("__bucket=")), s"root paths $roots")
    assert(read.count() == spark.read.parquet(
      java.nio.file.Paths.get(flowStore.workDir, "__contains.parquet").toString).count())
  }

  test("a table whose files lack Spark's footer schema still reads, flat or bucketed") {
    withTempDir("graft-nofooter") { dir =>
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.hadoop.util.HadoopOutputFile
      val conf = spark.sparkContext.hadoopConfiguration
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message m { required binary id (UTF8); optional int64 n; }")
      def write(f: Path, ids: Seq[Int]): Unit = {
        Files.createDirectories(f.getParent)
        val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf)).withType(schema).withConf(conf).build()
        val g = new SimpleGroupFactory(schema)
        try ids.foreach(i => w.write(g.newGroup().append("id", s"id-$i").append("n", i.toLong)))
        finally w.close()
      }
      val flat = java.nio.file.Paths.get(dir, "flat.parquet", "part-0.parquet")
      write(flat, 0 until 3)
      val bk = java.nio.file.Paths.get(dir, "bk.parquet")
      write(bk.resolve("__bucket=0/part-0.parquet"), 0 until 2)
      write(bk.resolve("__bucket=1/part-1.parquet"), 2 until 5)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(flat.toUri), conf))
      try assert(!r.getFileMetaData.getKeyValueMetaData
        .containsKey("org.apache.spark.sql.parquet.row.metadata"))
      finally r.close()
      for ((t, n) <- Seq("flat" -> 3, "bk" -> 5)) {
        val read = UpsertWriter.readTable(spark, dir, t)
        assert(read.columns.toSeq == Seq("id", "n"), t)
        assert(read.collect().map(_.getLong(1)).sorted.toSeq == (0L until n.toLong), t)
      }
    }
  }

  test("a 16-flow GET into a populated store stays under its job ceiling") {
    // 4 of the 16 flows are stored already, so the GET takes the upsert
    // path of every table it touches. The ceiling is the count measured
    // once a driver batch planned without exchanges and table reads
    // without inference jobs; before that this GET launched 59
    val s = flowStore
    val (_, jobs) = countJobs(s.cache("q3", flows(24 until 40)))
    assert(jobs <= 34, s"GET launched $jobs jobs")
  }

  test("readForKeys: point lookup opens only the probed buckets, equals the full-scan filter") {
    withTempDir("graft-point") { dir =>
      val table = java.nio.file.Paths.get(dir, "t.parquet")
      UpsertWriter.upsert(spark, dir, "t",
        df((0 until 300).map(i => (s"id-$i", s"n$i", i.toLong))))
      val probes = Seq("id-7", "id-123", "id-7", "absent")
      val got = UpsertWriter.readForKeys(spark, dir, "t", "id", probes)
      // equality law: pruned lookup == full scan with the same predicate
      val want = UpsertWriter.readTable(spark, dir, "t")
        .where(col("id").isin(probes: _*))
        .collect().map(_.getAs[String]("id")).sorted.toSeq
      assert(got.collect().map(_.getAs[String]("id")).sorted.toSeq == want)
      assert(want == Seq("id-123", "id-7"))
      // pruning: files opened come from at most |distinct probe| buckets
      val probedBuckets = got.inputFiles
        .map(_.replaceAll(".*__bucket=", "").replaceAll("/.*", "")).distinct
      assert(probedBuckets.length <= 3, s"opened buckets: ${probedBuckets.toSeq}")
      val allBuckets = filesByBucket(table).size
      assert(probedBuckets.length < allBuckets)
      // a probe set hashing to no existing bucket dir returns empty
      assert(UpsertWriter.readForKeys(spark, dir, "t", "id", Seq("absent")).count() == 0)
    }
  }

  test("readForKeys: non-[keyCol] routing keys and legacy markers fall back, stay correct") {
    withTempDir("graft-point-fb") { dir =>
      val sp = spark
      import sp.implicits._
      // table bucketed on the dedup key TUPLE (k1, k2): probing by k1 alone
      // would prune to the wrong buckets (k1 hashes differently than
      // (k1, k2)) — the recorded routing keys force the full filtered read
      val rows = (0 until 300).map(i => (s"a-${i % 50}", s"b-$i", i.toLong)).toDF("k1", "k2", "v")
      UpsertWriter.appendKeyed(spark, dir, "t", rows, AppendKey.Cols(Seq("k1", "k2")))
      val marker = new String(
        Files.readAllBytes(java.nio.file.Paths.get(dir, "t.parquet", "_graft_buckets")), "UTF-8")
      assert(marker.trim.split('\n').head == UpsertWriter.DefaultBuckets.toString,
        s"marker should lead with the bucket count, got: $marker")
      assert(marker.trim.split('\n').toSeq.drop(1) == Seq("k1", "k2", SparkBucketsLine),
        s"marker should record the routing keys, got: $marker")
      val want = UpsertWriter.readTable(spark, dir, "t")
        .where(col("k1").isin("a-7", "a-11")).count()
      assert(want == 12L) // 6 rows per k1 value
      assert(UpsertWriter.readForKeys(spark, dir, "t", "k1", Seq("a-7", "a-11")).count() == want)
      // legacy count-only marker (pre-key-recording store): keys unknown ->
      // fall back to the full filtered read rather than guess
      val n = marker.trim.split('\n').head
      Files.write(java.nio.file.Paths.get(dir, "t.parquet", "_graft_buckets"),
        s"$n\n".getBytes("UTF-8"))
      assert(UpsertWriter.readForKeys(spark, dir, "t", "k1", Seq("a-7", "a-11")).count() == want)
    }
  }

  test("incremental merge's old-side scan is partition-pruned to touched buckets") {
    withTempDir("graft-bucket-prune") { dir =>
      UpsertWriter.upsert(spark, dir, "t",
        df((0 until 200).map(i => (s"id-$i", s"n$i", 1L))))
      // the same pruned read the incremental path plans: only the touched
      // bucket's files are listed (PartitionFilters on __bucket, and the
      // scan's partition count collapses to the touched set)
      val pruned = spark.read.parquet(s"$dir/t.parquet")
        .where(col("__bucket").isin(3, 5))
      val scan = pruned.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no file scan in pruned plan"))
      assert(scan.partitionFilters.nonEmpty, "expected partition filters on __bucket")
      val scanned = scan.selectedPartitions.partitionCount
      assert(scanned == 2, s"expected 2 pruned partitions, scanned $scanned")
    }
  }

  test("schema-evolving batch rewrites all buckets once, keeping them uniform") {
    withTempDir("graft-bucket-schema") { dir =>
      UpsertWriter.upsert(spark, dir, "t",
        df((0 until 50).map(i => (s"id-$i", s"n$i", 1L))))
      val sp = spark
      import sp.implicits._
      UpsertWriter.upsert(spark, dir, "t",
        Seq(("id-1", "x")).toDF("id", "added"))
      val out = UpsertWriter.readTable(spark, dir, "t")
      // every bucket's files carry the evolved schema (a uniform-schema glob
      // read succeeds and surfaces the new column everywhere)
      assert(out.columns.toSet == Set("id", "name", "number_observed", "added"))
      assert(out.where(col("id") === "id-1").head().getAs[String]("added") == "x")
      assert(out.where(col("added").isNotNull).count() == 1)
      assert(out.count() == 50)
    }
  }

  test("appendDistinct/appendKeyedFirst bucket on their dedup keys (global dedup holds)") {
    withTempDir("graft-bucket-edges") { dir =>
      val sp = spark
      import sp.implicits._
      val e1 = (0 until 100).map(i => (s"s-$i", s"t-$i")).toDF("source_ref", "target_ref")
      UpsertWriter.appendKeyed(spark, dir, "__contains", e1, AppendKey.Row)
      // re-appending the same edges (any partitioning) must not duplicate
      UpsertWriter.appendKeyed(spark, dir, "__contains", e1.repartition(7), AppendKey.Row)
      assert(UpsertWriter.readTable(spark, dir, "__contains").count() == 100)

      val m1 = Seq(("url", "value", "str")).toDF("otype", "path", "dtype")
      UpsertWriter.appendKeyed(spark, dir, "__columns", m1, AppendKey.Cols(Seq("otype", "path")))
      // a conflicting later sighting of the same key must not add a row
      val m2 = Seq(("url", "value", "int"), ("url", "other", "int"))
        .toDF("otype", "path", "dtype")
      UpsertWriter.appendKeyed(spark, dir, "__columns", m2, AppendKey.Cols(Seq("otype", "path")))
      val cols = UpsertWriter.readTable(spark, dir, "__columns").collect()
        .map(r => (r.getAs[String]("path"), r.getAs[String]("dtype"))).toMap
      assert(cols == Map("value" -> "str", "other" -> "int"))
    }
  }

  test("appendDistinct: coercible-type and subset-column batches neither lose rows nor crash") {
    withTempDir("graft-bucket-coerce") { dir =>
      val sp = spark
      import sp.implicits._
      // stored schema: (k string, w double, extra string)
      UpsertWriter.appendKeyed(spark, dir, "e",
        Seq(("a", 1.5, "x"), ("b", 2.0, "y")).toDF("k", "w", "extra"), AppendKey.Row)
      // batch 2: w arrives as LONG (coerces to the stored double) — the
      // bucket hash must be computed on the coerced value or the row lands
      // outside the touched set and is silently dropped
      UpsertWriter.appendKeyed(spark, dir, "e",
        Seq(("c", 3L, "z")).toDF("k", "w", "extra"), AppendKey.Row)
      // batch 3: subset of the stored columns (no `extra`)
      UpsertWriter.appendKeyed(spark, dir, "e",
        Seq(("d", 4.0)).toDF("k", "w"), AppendKey.Row)
      val out = UpsertWriter.readTable(spark, dir, "e")
        .collect().map(r => (r.getAs[String]("k"), r.getAs[Double]("w"),
          r.getAs[String]("extra"))).toSet
      assert(out == Set(("a", 1.5, "x"), ("b", 2.0, "y"), ("c", 3.0, "z"), ("d", 4.0, null)))
      // and re-appending the coerced row stays deduped
      UpsertWriter.appendKeyed(spark, dir, "e",
        Seq(("c", 3L, "z")).toDF("k", "w", "extra"), AppendKey.Row)
      assert(UpsertWriter.readTable(spark, dir, "e").count() == 4)
    }
  }

  test("a data column named __bucket is rejected, not silently clobbered") {
    withTempDir("graft-bucket-reserved") { dir =>
      val sp = spark
      import sp.implicits._
      intercept[IllegalArgumentException] {
        UpsertWriter.upsert(spark, dir, "t",
          Seq(("a", 1)).toDF("id", "__bucket"))
      }
      // Spark resolves columns case-insensitively by default, so any casing
      // of the reserved name must be rejected too
      intercept[IllegalArgumentException] {
        UpsertWriter.upsert(spark, dir, "t",
          Seq(("a", 1)).toDF("id", "__Bucket"))
      }
    }
  }

  test("upsert with a coercing id type (long batch into double-id table) hashes aligned") {
    withTempDir("graft-bucket-upsert-coerce") { dir =>
      val sp = spark
      import sp.implicits._
      UpsertWriter.upsert(spark, dir, "n",
        (0 until 40).map(i => (i.toDouble, s"v$i")).toDF("id", "v"))
      // longs coerce to the stored double ids: one new id, one merging update
      UpsertWriter.upsert(spark, dir, "n",
        Seq((100L, "new"), (7L, "updated")).toDF("id", "v"))
      val out = UpsertWriter.readTable(spark, dir, "n")
      assert(out.count() == 41)
      assert(out.where(col("id") === 7.0).head().getAs[String]("v") == "updated")
      assert(out.where(col("id") === 100.0).head().getAs[String]("v") == "new")
    }
  }

  /** Total bytes of files under `table` whose name starts with delta-. */
  private def deltaBytes(table: Path): Long = {
    val s = Files.walk(table)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("delta-"))
      .map(Files.size).sum
    finally s.close()
  }

  test("new-id upsert appends an O(KB) delta file; every base file stays byte-stable") {
    withTempDir("graft-delta") { dir =>
      val table = java.nio.file.Paths.get(dir, "t.parquet")
      UpsertWriter.upsert(spark, dir, "t",
        df((0 until 200).map(i => (s"id-$i", s"n$i", 1L))))
      val before = filesByBucket(table)
      val baseBytes = Files.walk(table).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum

      UpsertWriter.upsert(spark, dir, "t", df(Seq(("id-brand-new", "x", 1L))))
      val after = filesByBucket(table)
      // every pre-existing file is untouched — the write was a pure append
      before.foreach { case (b, files) =>
        files.foreach { case (f, mtime) =>
          assert(after(b).get(f).contains(mtime), s"base file $f was rewritten")
        }
      }
      // and the append cost is O(row), not O(bucket)
      val db = deltaBytes(table)
      assert(db > 0, "expected a delta file")
      assert(db < 64 * 1024 && db < baseBytes,
        s"1-row delta should be O(KB), wrote $db bytes (base $baseBytes)")
      val out = UpsertWriter.readTable(spark, dir, "t")
      assert(out.count() == 201)
      assert(out.where(col("id") === "id-brand-new").head().getAs[String]("name") == "x")
      // a later upsert MERGING that delta-resident id still works (rewrites
      // its bucket, compacting the delta away)
      UpsertWriter.upsert(spark, dir, "t", df(Seq(("id-brand-new", "y", 2L))))
      val m = UpsertWriter.readTable(spark, dir, "t")
        .where(col("id") === "id-brand-new").head()
      assert(m.getAs[String]("name") == "y" && m.getAs[Long]("number_observed") == 3L)
    }
  }

  test("delta pile-up past the threshold compacts the bucket back to one file") {
    withTempDir("graft-compact") { dir =>
      val table = java.nio.file.Paths.get(dir, "t.parquet")
      UpsertWriter.appendKeyed(spark, dir, "t",
        df((0 until 50).map(i => (s"seed-$i", s"n$i", 1L))), AppendKey.Id)
      // find one id per batch all landing in the SAME bucket, so each append
      // adds one more delta file to that bucket
      val n = UpsertWriter.DefaultBuckets
      val sp = spark
      import sp.implicits._
      val sameBucket = (0 until 2000).map(i => s"x-$i").toDF("id")
        .where(pmod(hash(col("id")), lit(n)) === 0)
        .collect().map(_.getString(0)).toSeq
      assert(sameBucket.size > UpsertWriter.DeltaFilesMax + 2)
      sameBucket.take(UpsertWriter.DeltaFilesMax + 2).foreach { id =>
        UpsertWriter.appendKeyed(spark, dir, "t", df(Seq((id, "v", 1L))), AppendKey.Id)
      }
      val bucket0 = table.resolve("__bucket=0")
      val files = Files.list(bucket0).iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toList
      assert(files.count(_.startsWith("delta-")) <= UpsertWriter.DeltaFilesMax,
        s"compaction should have bounded delta files, got $files")
      // compaction RESTORED the single-file bucket form: DeltaFilesMax + 2
      // appends = threshold-crossing at +1 (bucket back to exactly one base
      // file, zero deltas), then one fresh delta from append +2
      assert(files.count(_.startsWith("delta-")) == 1 && files.size == 2,
        s"expected one post-compaction base file plus one fresh delta, got $files")
      // all rows survived the compaction
      val out = UpsertWriter.readTable(spark, dir, "t")
      assert(out.count() == 50 + UpsertWriter.DeltaFilesMax + 2)
    }
  }

  test("DeltaCorpus pile-up sits exactly at the threshold: DeltaFilesMax deltas per bucket, uncompacted") {
    DeltaCorpus.ensure(spark)
    val p = java.nio.file.Paths.get(DeltaCorpus.dir, s"${DeltaCorpus.table}.parquet")
    val buckets = Files.list(p).iterator().asScala
      .filter(d => d.getFileName.toString.startsWith("__bucket=")).toList
    assert(buckets.nonEmpty)
    buckets.foreach { b =>
      val names = Files.list(b).iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toList
      assert(names.count(_.startsWith("delta-")) == UpsertWriter.DeltaFilesMax,
        s"bucket ${b.getFileName} must hold exactly DeltaFilesMax deltas, got $names")
    }
    // the glob-read sees every base and delta row exactly once
    assert(UpsertWriter.readTable(spark, DeltaCorpus.dir, DeltaCorpus.table).count() ==
      DeltaCorpus.BaseRows + UpsertWriter.DeltaFilesMax.toLong * DeltaCorpus.RowsPerBatch)
  }

  test("delta append into a bucket with no base files yet creates the bucket dir") {
    withTempDir("graft-newbucket") { dir =>
      val table = java.nio.file.Paths.get(dir, "t.parquet")
      // a 2-row table populates at most 2 of the 16 buckets
      UpsertWriter.appendKeyed(spark, dir, "t", df(Seq(("a", "x", 1L), ("b", "y", 1L))), AppendKey.Id)
      val before = filesByBucket(table).keySet
      // find an id landing in a bucket that has no dir yet
      val sp = spark
      import sp.implicits._
      val empty = (0 until 500).map(i => s"n-$i").toDF("id")
        .withColumn("b", pmod(hash(col("id")), lit(UpsertWriter.DefaultBuckets)))
        .collect().map(r => (r.getString(0), r.getInt(1)))
        .find { case (_, b) => !before.contains(s"__bucket=$b") }
      val (newId, newBucket) = empty.get
      UpsertWriter.appendKeyed(spark, dir, "t", df(Seq((newId, "z", 1L))), AppendKey.Id)
      assert(Files.exists(table.resolve(s"__bucket=$newBucket")))
      val out = UpsertWriter.readTable(spark, dir, "t")
      assert(out.count() == 3)
      assert(out.where(col("id") === newId).head().getAs[String]("name") == "z")
    }
  }

  test("appendDistinct null-containing rows are not re-appended (null-safe anti-join)") {
    withTempDir("graft-nullsafe") { dir =>
      val sp = spark
      import sp.implicits._
      val rows = Seq(("a", Some("x")), ("b", None)).toDF("k", "v")
      UpsertWriter.appendKeyed(spark, dir, "e", rows, AppendKey.Row)
      UpsertWriter.appendKeyed(spark, dir, "e", rows, AppendKey.Row) // re-append identical batch
      assert(UpsertWriter.readTable(spark, dir, "e").count() == 2,
        "null-valued row duplicated: anti-join is not null-safe")
    }
  }

  test("an interrupted publish is rolled forward by the next read (crash repair)") {
    withTempDir("graft-repair") { dir =>
      val table = java.nio.file.Paths.get(dir, "t.parquet")
      UpsertWriter.upsert(spark, dir, "t",
        df((0 until 100).map(i => (s"id-$i", s"n$i", 1L))))
      // simulate a JVM death between the intent marker and the moves: stage a
      // delta file under the sibling tmp dir + a _graft_pending marker, as
      // publishStaged would have left them
      val bucket = Files.list(table).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("__bucket=")).toSeq.sorted.head
      val srcFile = Files.list(table.resolve(bucket)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val tmp = table.resolveSibling("t.parquet.delta.tmp")
      Files.createDirectories(tmp.resolve(bucket))
      Files.copy(srcFile, tmp.resolve(bucket).resolve("part-staged.parquet"))
      Files.write(table.resolve("_graft_pending"),
        (s"t.parquet.delta.tmp\nfile|$bucket/part-staged.parquet|$bucket/delta-repair-0.parquet\n")
          .getBytes("UTF-8"))
      // any read finishes the publish
      UpsertWriter.readTable(spark, dir, "t").count()
      assert(Files.exists(table.resolve(bucket).resolve("delta-repair-0.parquet")),
        "staged delta file was not published by repair")
      assert(!Files.exists(table.resolve("_graft_pending")), "marker not cleared")
      assert(!Files.exists(tmp), "staged tmp dir not cleaned up")

      // simulate a crash mid whole-dir swap: staged full tmp + sibling
      // marker, live dir already deleted
      val tmp2 = table.resolveSibling("t.parquet.tmp")
      graft.ingest.FsUtil.deleteTree(tmp2) // in case
      Files.move(table, tmp2) // "staged" content is the complete table
      Files.write(table.resolveSibling("t.parquet.swap_pending"),
        "t.parquet.tmp\n".getBytes("UTF-8"))
      assert(UpsertWriter.exists(dir, "t"), "repair should roll the swap forward")
      assert(Files.exists(table) && !Files.exists(tmp2))
      assert(!Files.exists(table.resolveSibling("t.parquet.swap_pending")))
      assert(UpsertWriter.readTable(spark, dir, "t").count() > 100) // + repair delta rows
    }
  }

  test("insertIgnore keeps stored rows and rewrites only touched buckets") {
    withTempDir("graft-bucket-ii") { dir =>
      val table = java.nio.file.Paths.get(dir, "o.parquet")
      UpsertWriter.appendKeyed(spark, dir, "o",
        df((0 until 100).map(i => (s"od-$i", s"n$i", 1L))), AppendKey.Id)
      val before = filesByBucket(table)
      UpsertWriter.appendKeyed(spark, dir, "o",
        df(Seq(("od-3", "CLOBBER", 99L), ("od-new", "new", 1L))), AppendKey.Id)
      val after = filesByBucket(table)
      val changed = (before.keySet ++ after.keySet).filter(b => before.get(b) != after.get(b))
      assert(changed.size <= 2, s"at most the two touched buckets may change, got $changed")
      val out = UpsertWriter.readTable(spark, dir, "o")
      assert(out.where(col("id") === "od-3").head().getAs[String]("name") == "n3") // ignored
      assert(out.where(col("id") === "od-new").count() == 1)
    }
  }

  test("concurrent upserts from two writers lose no rows (advisory lease)") {
    // without the lease the two writers interleave read-merge-write cycles
    // and the later swap silently drops the earlier writer's inserts; with
    // it, the verbs serialize and every row of every batch survives
    withTempDir("graft-lease") { dir =>
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 2).map { w =>
        new Thread(() => {
          try (0 until 3).foreach { r =>
            UpsertWriter.upsert(spark, dir, "t",
              df((0 until 25).map(i => (s"w$w-r$r-$i", s"n$i", 1L))))
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
      val got = UpsertWriter.readTable(spark, dir, "t")
        .select("id").collect().map(_.getString(0)).toSet
      val want = (for (w <- 0 until 2; r <- 0 until 3; i <- 0 until 25)
        yield s"w$w-r$r-$i").toSet
      assert(got == want,
        s"lost ${(want -- got).size} rows, gained ${(got -- want).size}")
      // the lease file is released
      assert(!Files.exists(java.nio.file.Paths.get(dir, "t.parquet.lease")))
    }
  }

  test("write lease: stale leases are stolen, live leases block acquisition") {
    withTempDir("graft-lease2") { dir =>
      val p = java.nio.file.Paths.get(dir, "t.parquet")
      val lease = java.nio.file.Paths.get(dir, "t.parquet.lease")
      // stale: expiry in the past -> a new writer steals and proceeds
      Files.write(lease, s"dead-holder ${System.currentTimeMillis() - 1000}\n".getBytes("UTF-8"))
      UpsertWriter.upsert(spark, dir, "t", df(Seq(("a", "n", 1L))))
      assert(!Files.exists(lease), "stolen lease not released after the verb")
      assert(UpsertWriter.readTable(spark, dir, "t").count() == 1)
      // live: held by a peer -> acquisition times out instead of clobbering
      val held = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        UpsertWriter.withTableLease(p, leaseMs = 60000L) {
          held.countDown(); release.await()
        })
      holder.start()
      held.await()
      val ex = intercept[IllegalStateException] {
        UpsertWriter.withTableLease(p, acquireTimeoutMs = 300L)(())
      }
      assert(ex.getMessage.contains("lease"))
      release.countDown()
      holder.join()
      // and reentrancy: nested sections on one thread do not self-deadlock
      UpsertWriter.withTableLease(p) {
        UpsertWriter.withTableLease(p)(())
      }
      assert(!Files.exists(lease))
    }
  }

  // ----- fault injection over BOTH filesystem semantics ---------------------
  // Die at the k-th mutation and stay dead (a real crash: every later op
  // fails too, so finally blocks cannot "helpfully" clean up). For every k
  // until a run completes fault-free: run the verb sequence, crash, simulate
  // the operator's restart (stale lease expires; verbs replay), and require
  // the final table to be byte-equal to the fault-free outcome. This
  // exercises every interleaving of the lease + delta + swap publishes.
  // Runs twice: over POSIX semantics (atomic rename — seam-level crash
  // grid) and over OBJECT-STORE semantics (S3SimTableFs: copy+delete moves,
  // no directories — crash grid between every per-KEY request, the grid a
  // real S3 writer dies on).
  private class InjectedCrash extends RuntimeException("injected crash")

  private def faultScenario(dir: String): Unit = {
    // creation (whole-dir swap) -> pure insert (delta append) ->
    // update+insert (bucket swap + delta) — the three publish shapes
    UpsertWriter.upsert(spark, dir, "t",
      df((0 until 6).map(i => (s"id-$i", s"n$i", 1L))), numBuckets = 4)
    UpsertWriter.upsert(spark, dir, "t",
      df(Seq(("id-6", "n6", 1L), ("id-7", "n7", 1L))), numBuckets = 4)
    UpsertWriter.upsert(spark, dir, "t",
      df(Seq(("id-0", "UPD", 9L), ("id-8", "n8", 1L))), numBuckets = 4)
  }

  private def faultFinalState(dir: String): Seq[(String, String)] =
    UpsertWriter.readTable(spark, dir, "t")
      .select("id", "name").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq.sorted

  /** Sweep killAt = 1, 2, ... until a run completes fault-free.
    * `arm(killAt)` installs the crashing fs; `disarm()` reverts to the
    * SAME semantics without the crash hook (the restart must replay under
    * the store's real semantics, not get bailed out by POSIX renames). */
  private def faultSweep(arm: Int => Unit, disarm: () => Unit): Int = {
    disarm()
    val expected = withTempDir("graft-fault-ref") { refDir =>
      faultScenario(refDir)
      faultFinalState(refDir)
    }
    var killAt = 1
    var crashed = true
    try {
      while (crashed) {
        withTempDir("graft-fault") { dir =>
          arm(killAt)
          crashed =
            try { faultScenario(dir); false }
            catch { case _: InjectedCrash => true }
          disarm()
          if (crashed) {
            // restart: the dead holder's lease expires in production — delete
            // it here (time travel) — then replay the whole verb sequence
            // (upsert replays are idempotent); repairPending rolls forward any
            // torn publish on the first verb's entry
            val s = Files.list(java.nio.file.Paths.get(dir))
            try s.forEach(f =>
              if (f.getFileName.toString.endsWith(".lease")) Files.deleteIfExists(f))
            finally s.close()
            faultScenario(dir)
          }
          assert(faultFinalState(dir) == expected, s"state diverged after crash at mutation $killAt")
        }
        if (crashed) killAt += 1
      }
    } finally UpsertWriter.fs = graft.ingest.LocalTableFs
    killAt - 1
  }

  test("fault injection: a crash at EVERY protocol mutation is repaired with no lost rows") {
    class FaultFs(killAt: Int) extends graft.ingest.TableFs {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      private def step(): Unit =
        if (n.incrementAndGet() >= killAt) throw new InjectedCrash
      def put(p: java.nio.file.Path, c: Array[Byte]): Unit = { step(); graft.ingest.LocalTableFs.put(p, c) }
      def createNew(p: java.nio.file.Path, c: Array[Byte]): Unit = { step(); graft.ingest.LocalTableFs.createNew(p, c) }
      def move(s: java.nio.file.Path, d: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.move(s, d) }
      def moveReplace(s: java.nio.file.Path, d: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.moveReplace(s, d) }
      def deleteIfExists(p: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.deleteIfExists(p) }
      def deleteTree(p: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.deleteTree(p) }
      def mkdirs(p: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.mkdirs(p) }
      def copyTree(s: java.nio.file.Path, d: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.copyTree(s, d) }
    }
    val points = faultSweep(
      killAt => UpsertWriter.fs = new FaultFs(killAt),
      () => UpsertWriter.fs = graft.ingest.LocalTableFs)
    info(s"verified recovery at $points distinct crash points (POSIX semantics)")
  }

  test("fault injection under OBJECT-STORE semantics: a crash between every per-key request converges") {
    // S3SimTableFs: move = COPY + DELETE per key (non-atomic), mkdirs a
    // no-op, every key-level request a crash point. This is the grid where
    // the old "clear dst, re-move src" repair would LOSE DATA (crash
    // mid-source-delete leaves dst as the only complete copy); the
    // phase-marker protocol must converge at every point.
    val fs = graft.ingest.S3SimTableFs
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val points = faultSweep(
      killAt => {
        counter.set(0)
        fs.stepHook = () => { if (counter.incrementAndGet() >= killAt) throw new InjectedCrash }
        UpsertWriter.fs = fs
      },
      () => { fs.stepHook = () => (); UpsertWriter.fs = fs })
    info(s"verified recovery at $points distinct crash points (object-store semantics)")
  }

  test("S3Sim createNew is atomic in CONTENT as well as claim (conditional PUT lands whole body or nothing)") {
    val fs = graft.ingest.S3SimTableFs
    withTempDir("graft-s3cput") { d =>
      val dir = java.nio.file.Paths.get(d)
      val key = dir.resolve("lease")
      // fresh key: full body lands, no staging siblings remain
      fs.createNew(key, "tok-a 123\n".getBytes("UTF-8"))
      assert(new String(java.nio.file.Files.readAllBytes(key), "UTF-8") == "tok-a 123\n")
      def siblings(): Seq[String] = {
        val st = java.nio.file.Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.map(_.getFileName.toString).toList
        } finally st.close()
      }
      assert(siblings() == Seq("lease"), s"staging leftovers: ${siblings()}")
      // occupied key: the conditional PUT fails and the original is untouched
      intercept[java.nio.file.FileAlreadyExistsException] {
        fs.createNew(key, "tok-b 456\n".getBytes("UTF-8"))
      }
      assert(new String(java.nio.file.Files.readAllBytes(key), "UTF-8") == "tok-a 123\n")
      assert(siblings() == Seq("lease"))
      // race: writers contend while a reader polls — exactly one claim wins
      // and NO observation is ever empty/torn (the old CREATE_NEW-then-write
      // body could expose a zero-byte lease between the two steps)
      val key2 = dir.resolve("contended")
      val bodies = (0 until 16).map(i => s"tok-$i ${9000 + i}\n")
      val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reader = new Thread(() => {
        while (!stop.get()) {
          try {
            if (java.nio.file.Files.exists(key2)) {
              val got = new String(java.nio.file.Files.readAllBytes(key2), "UTF-8")
              if (!bodies.contains(got)) torn.add(s"[$got]")
            }
          } catch { case _: java.io.IOException => () }
        }
      })
      reader.start()
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val writers = bodies.map(b => new Thread(() => {
        try { fs.createNew(key2, b.getBytes("UTF-8")); wins.incrementAndGet(); () }
        catch { case _: java.io.IOException => () }
      }))
      writers.foreach(_.start()); writers.foreach(_.join())
      stop.set(true); reader.join()
      assert(wins.get() == 1, s"expected exactly one conditional-PUT winner, got ${wins.get()}")
      assert(torn.isEmpty, s"reader observed torn/empty bodies: $torn")
      assert(bodies.contains(new String(java.nio.file.Files.readAllBytes(key2), "UTF-8")))
    }
  }

  test("object-store semantics end-to-end: upsert, delta read, compaction over S3SimTableFs") {
    withTempDir("graft-s3sim") { dir =>
      UpsertWriter.fs = graft.ingest.S3SimTableFs
      try {
        UpsertWriter.upsert(spark, dir, "t",
          df((0 until 20).map(i => (s"id-$i", s"n$i", 1L))), numBuckets = 4)
        UpsertWriter.upsert(spark, dir, "t",
          df(Seq(("id-3", "UPD", 9L), ("id-20", "n20", 1L))), numBuckets = 4)
        val got = UpsertWriter.readTable(spark, dir, "t")
          .select("id", "name").collect().map(r => (r.getString(0), r.getString(1))).toMap
        assert(got.size == 21 && got("id-3") == "UPD" && got("id-20") == "n20")
        UpsertWriter.compactAll(spark, dir, "t")
        val after = UpsertWriter.readTable(spark, dir, "t")
          .select("id", "name").collect().map(r => (r.getString(0), r.getString(1))).toMap
        assert(after == got, "compaction changed visible rows under object-store semantics")
      } finally UpsertWriter.fs = graft.ingest.LocalTableFs
    }
  }

  test("fenced release: a steal landing inside the release window loses nothing") {
    // Deterministic interleaving via the TableFs seam: gate the RELEASER's
    // first mutation (its tombstone rename) until a stealer has fully
    // stolen the stale lease and acquired its own. The release must then
    // detect the foreign token on its tombstone and RESTORE the stealer's
    // live lease — the old read-token-then-delete release would have
    // deleted it here.
    withTempDir("graft-lease6") { dir =>
      val p = java.nio.file.Paths.get(dir, "t.parquet")
      val lease = java.nio.file.Paths.get(dir, "t.parquet.lease")
      val releaserBlocked = new java.util.concurrent.CountDownLatch(1)
      val stealerHolds = new java.util.concurrent.CountDownLatch(1)
      @volatile var releaserThread: Thread = null
      class GateFs extends graft.ingest.TableFs {
        private val L = graft.ingest.LocalTableFs
        private def gate(src: java.nio.file.Path): Unit =
          if (Thread.currentThread() == releaserThread && src == lease) {
            releaserBlocked.countDown()
            stealerHolds.await()
          }
        def put(p: java.nio.file.Path, c: Array[Byte]): Unit = L.put(p, c)
        def createNew(p: java.nio.file.Path, c: Array[Byte]): Unit = L.createNew(p, c)
        def move(s: java.nio.file.Path, d: java.nio.file.Path): Unit = { gate(s); L.move(s, d) }
        def moveReplace(s: java.nio.file.Path, d: java.nio.file.Path): Unit = L.moveReplace(s, d)
        def deleteIfExists(p: java.nio.file.Path): Unit = L.deleteIfExists(p)
        def deleteTree(p: java.nio.file.Path): Unit = L.deleteTree(p)
        def mkdirs(p: java.nio.file.Path): Unit = L.mkdirs(p)
        def copyTree(s: java.nio.file.Path, d: java.nio.file.Path): Unit = L.copyTree(s, d)
      }
      UpsertWriter.fs = new GateFs
      try {
        val holder = new Thread(() => {
          releaserThread = Thread.currentThread()
          UpsertWriter.withTableLease(p, leaseMs = 150L, renew = false) {
            Thread.sleep(400L) // overrun: our lease is stale by the time we release
          }
        })
        holder.start()
        releaserBlocked.await() // holder is INSIDE release, pre-rename
        val stealerDone = new java.util.concurrent.CountDownLatch(1)
        @volatile var stolenContent: String = null
        val stealer = new Thread(() =>
          UpsertWriter.withTableLease(p, leaseMs = 60000L) {
            stolenContent = new String(Files.readAllBytes(lease), "UTF-8")
            stealerHolds.countDown() // un-gate the releaser mid-steal-window
            stealerDone.await()
          })
        stealer.start()
        // wait for the stealer to actually hold before un-gating happened
        holder.join()
        // the stealer's lease must have survived the interleaved release
        assert(Files.exists(lease), "release deleted the stealer's live lease")
        assert(new String(Files.readAllBytes(lease), "UTF-8") == stolenContent,
          "release replaced the stealer's lease content")
        stealerDone.countDown()
        stealer.join()
        assert(!Files.exists(lease))
        val debris = Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
        assert(debris.forall(f => !f.contains(".release.") && !f.contains(".steal.")),
          s"tombstone leaked: ${debris.toSeq}")
      } finally UpsertWriter.fs = graft.ingest.LocalTableFs
    }
  }

  test("write lease: an overrunning holder cannot delete a stealer's lease") {
    // the fencing case: a holder (renewal disabled) outlives its window, a
    // stealer legitimately takes the table, and the slow holder's finally
    // must NOT remove the stealer's live lease on its way out
    withTempDir("graft-lease3") { dir =>
      val p = java.nio.file.Paths.get(dir, "t.parquet")
      val lease = java.nio.file.Paths.get(dir, "t.parquet.lease")
      val stolen = new java.util.concurrent.CountDownLatch(1)
      val stealerDone = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        UpsertWriter.withTableLease(p, leaseMs = 150L, renew = false) {
          stolen.await() // overrun: sleep far past our own expiry
        })
      holder.start()
      val stealer = new Thread(() =>
        UpsertWriter.withTableLease(p, leaseMs = 60000L) {
          stolen.countDown() // we now hold a live lease the slow holder must respect
          stealerDone.await()
        })
      stealer.start()
      stolen.await()
      holder.join() // slow holder's release runs while the stealer still holds
      assert(Files.exists(lease),
        "overrunning holder deleted the stealer's live lease at release")
      stealerDone.countDown()
      stealer.join()
      assert(!Files.exists(lease), "stealer's own release should remove its lease")
    }
  }

  test("write lease: two concurrent stealers of one stale lease serialize") {
    withTempDir("graft-lease4") { dir =>
      val p = java.nio.file.Paths.get(dir, "t.parquet")
      val lease = java.nio.file.Paths.get(dir, "t.parquet.lease")
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.write(lease, s"dead-holder ${System.currentTimeMillis() - 5000}\n".getBytes("UTF-8"))
      val active = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
      val ran = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 2).map(_ => new Thread(() =>
        UpsertWriter.withTableLease(p, leaseMs = 60000L) {
          val now = active.incrementAndGet()
          maxActive.getAndUpdate(m => math.max(m, now))
          Thread.sleep(100L)
          active.decrementAndGet()
          ran.incrementAndGet()
        }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(ran.get() == 2, "both stealers must eventually run")
      assert(maxActive.get() == 1, "two stealers held the table concurrently")
      assert(!Files.exists(lease))
      // no tombstone debris left behind
      val debris = Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
      assert(debris.forall(f => !f.contains(".steal.")), s"tombstone leaked: ${debris.toSeq}")
    }
  }

  test("write lease under OBJECT-STORE semantics: stealers serialize, writers lose nothing") {
    // The POSIX lease specs lean on atomic rename for the steal/release
    // tombstone dance; on an object store rename is COPY + DELETE, so two
    // stealers can BOTH copy a stale lease to their tombstones and both
    // clear the path — exclusion must then rest entirely on createNew's
    // conditional PUT. Re-run the core lease properties over S3SimTableFs
    // to pin that: (1) two stealers of one stale lease still serialize;
    // (2) two concurrent upserting writers lose no rows.
    withTempDir("graft-s3lease") { dir =>
      withTempDir("graft-s3writers") { wdir =>
        UpsertWriter.fs = graft.ingest.S3SimTableFs
        try {
          val p = java.nio.file.Paths.get(dir, "t.parquet")
          val lease = java.nio.file.Paths.get(dir, "t.parquet.lease")
          Files.createDirectories(java.nio.file.Paths.get(dir))
          Files.write(lease, s"dead-holder ${System.currentTimeMillis() - 5000}\n".getBytes("UTF-8"))
          val active = new java.util.concurrent.atomic.AtomicInteger(0)
          val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
          val ran = new java.util.concurrent.atomic.AtomicInteger(0)
          val threads = (0 until 2).map(_ => new Thread(() =>
            UpsertWriter.withTableLease(p, leaseMs = 60000L) {
              val now = active.incrementAndGet()
              maxActive.getAndUpdate(m => math.max(m, now))
              Thread.sleep(100L)
              active.decrementAndGet()
              ran.incrementAndGet()
            }))
          threads.foreach(_.start())
          threads.foreach(_.join())
          assert(ran.get() == 2 && maxActive.get() == 1,
            s"stealers did not serialize under object-store semantics (ran=${ran.get()}, max=${maxActive.get()})")
          assert(!Files.exists(lease))
          // two concurrent writers through the full upsert path
          val writers = (0 until 2).map(w => new Thread(() =>
            (0 until 3).foreach(b =>
              UpsertWriter.upsert(spark, wdir, "t",
                df((0 until 5).map(i => (s"w$w-$b-$i", s"n$i", 1L))), numBuckets = 4))))
          writers.foreach(_.start())
          writers.foreach(_.join())
          val ids = UpsertWriter.readTable(spark, wdir, "t")
            .select("id").collect().map(_.getString(0)).toSet
          assert(ids.size == 30, s"lost ${30 - ids.size} rows under concurrent object-store writers")
        } finally UpsertWriter.fs = graft.ingest.LocalTableFs
      }
    }
  }

  test("write lease: renewal keeps a long-running holder live past its window") {
    withTempDir("graft-lease5") { dir =>
      val p = java.nio.file.Paths.get(dir, "t.parquet")
      val held = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      // leaseMs far shorter than the hold: without renewal this lease would be
      // stale (and stealable) many times over by the time the contender probes
      val holder = new Thread(() =>
        UpsertWriter.withTableLease(p, leaseMs = 300L) {
          held.countDown(); release.await()
        })
      holder.start()
      held.await()
      Thread.sleep(700L) // several nominal expiries pass under renewal
      val ex = intercept[IllegalStateException] {
        UpsertWriter.withTableLease(p, acquireTimeoutMs = 700L)(())
      }
      assert(ex.getMessage.contains("lease"), "renewed lease was stolen")
      release.countDown()
      holder.join()
      assert(!Files.exists(java.nio.file.Paths.get(dir, "t.parquet.lease")))
    }
  }

  test("snapshot pins the committed state: immune to later upserts, deletes, compaction") {
    withTempDir("graft-snap") { dir =>
      UpsertWriter.upsert(spark, dir, "t",
        df((0 until 120).map(i => (s"id-$i", s"n$i", 1L))))
      val pinned = UpsertWriter.readTable(spark, dir, "t")
        .collect().map(_.toSeq).toSet
      UpsertWriter.snapshot(dir, "t", "run-2026.08")
      assert(UpsertWriter.snapshots(dir, "t") == Seq("run-2026.08"))
      // hard-link cheapness on POSIX: a snapshot data file shares its inode
      // with the live twin (zero bytes copied)
      val live = Files.walk(java.nio.file.Paths.get(dir, "t.parquet"))
      val aLive =
        try {
          import scala.jdk.CollectionConverters._
          live.iterator().asScala
            .find(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).get
        } finally live.close()
      val aSnap = java.nio.file.Paths.get(dir, "_graft_snapshots", "t", "run-2026.08")
        .resolve(java.nio.file.Paths.get(dir, "t.parquet").relativize(aLive))
      assert(Files.getAttribute(aLive, "unix:ino") == Files.getAttribute(aSnap, "unix:ino"),
        "POSIX snapshot must hard-link, not copy")
      // mutate the live table heavily: merge-update, new-id deltas, compaction
      UpsertWriter.upsert(spark, dir, "t",
        df((0 until 120 by 3).map(i => (s"id-$i", s"CHANGED$i", 5L))))
      UpsertWriter.upsert(spark, dir, "t",
        df((200 until 260).map(i => (s"id-$i", s"late$i", 1L))))
      UpsertWriter.compactAll(spark, dir, "t")
      val liveNow = UpsertWriter.readTable(spark, dir, "t").collect().map(_.toSeq).toSet
      assert(liveNow != pinned && liveNow.size == 180)
      assert(UpsertWriter.readSnapshot(spark, dir, "t", "run-2026.08")
        .collect().map(_.toSeq).toSet == pinned,
        "the snapshot must still read exactly the pinned state")
      // immutability: a taken name fails loud; dropped names free the inodes
      val ex = intercept[IllegalStateException] {
        UpsertWriter.snapshot(dir, "t", "run-2026.08")
      }
      assert(ex.getMessage.contains("already exists"))
      UpsertWriter.dropSnapshot(dir, "t", "run-2026.08")
      assert(UpsertWriter.snapshots(dir, "t").isEmpty)
      assert(UpsertWriter.readTable(spark, dir, "t").count() == 180,
        "dropping a snapshot must not touch live data")
      // marker-less debris (crash between tree build and marker): unreadable,
      // and a re-run replaces it and completes
      val debris = java.nio.file.Paths.get(dir, "_graft_snapshots", "t", "v2")
      Files.createDirectories(debris)
      Files.write(debris.resolve("junk.parquet"), Array[Byte](1, 2, 3))
      intercept[IllegalArgumentException] {
        UpsertWriter.readSnapshot(spark, dir, "t", "v2")
      }
      UpsertWriter.snapshot(dir, "t", "v2")
      assert(UpsertWriter.readSnapshot(spark, dir, "t", "v2").count() == 180)
      intercept[IllegalArgumentException] { UpsertWriter.snapshot(dir, "t", "../evil") }
    }
  }

  test("snapshotAll: one consistent multi-table cut, all-or-nothing on name collision") {
    withTempDir("graft-snapall") { dir =>
      UpsertWriter.upsert(spark, dir, "a",
        df((0 until 60).map(i => (s"a-$i", s"av$i", 1L))))
      UpsertWriter.upsert(spark, dir, "b",
        df((0 until 40).map(i => (s"b-$i", s"bv$i", 2L))))
      val pinnedA = UpsertWriter.readTable(spark, dir, "a").collect().map(_.toSeq).toSet
      val pinnedB = UpsertWriter.readTable(spark, dir, "b").collect().map(_.toSeq).toSet
      UpsertWriter.snapshotAll(dir, Seq("b", "a"), "cut1") // unsorted input ok
      assert(UpsertWriter.snapshots(dir, "a") == Seq("cut1"))
      assert(UpsertWriter.snapshots(dir, "b") == Seq("cut1"))
      // mutate BOTH live tables; both pins must still read the cut
      UpsertWriter.upsert(spark, dir, "a",
        df((0 until 60 by 2).map(i => (s"a-$i", s"CHANGED$i", 9L))))
      UpsertWriter.upsert(spark, dir, "b",
        df((100 until 130).map(i => (s"b-$i", s"late$i", 2L))))
      assert(UpsertWriter.readSnapshot(spark, dir, "a", "cut1")
        .collect().map(_.toSeq).toSet == pinnedA)
      assert(UpsertWriter.readSnapshot(spark, dir, "b", "cut1")
        .collect().map(_.toSeq).toSet == pinnedB)
      // all-or-nothing: name taken on ONE member fails the group BEFORE any
      // pin lands — table b must not acquire a "cut2" pin
      UpsertWriter.snapshot(dir, "a", "cut2")
      val ex = intercept[IllegalStateException] {
        UpsertWriter.snapshotAll(dir, Seq("a", "b"), "cut2")
      }
      assert(ex.getMessage.contains("already exists"))
      assert(UpsertWriter.snapshots(dir, "b") == Seq("cut1"),
        "a failed group pin must leave no partial member pins")
      // missing table: same all-or-nothing contract
      intercept[IllegalArgumentException] {
        UpsertWriter.snapshotAll(dir, Seq("a", "nope"), "cut3")
      }
      assert(UpsertWriter.snapshots(dir, "a") == Seq("cut1", "cut2"))
      intercept[IllegalArgumentException] {
        UpsertWriter.snapshotAll(dir, Seq("a", "a"), "cut4")
      }
    }
  }
}
