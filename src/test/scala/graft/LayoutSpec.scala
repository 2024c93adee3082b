package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin matches plain join results on skewed keys") {
    // one hot key owns 90% of the left side
    val left = (1 to 1000).map(i => (if (i <= 900) 1 else i, s"v$i")).toDF("k", "lv")
    val right = (1 to 100).map(i => (i, s"r$i")).toDF("k", "rv")
    val plain = left.join(right, "k").select("k", "lv", "rv").collect().toSet
    val salted = Layout.saltedJoin(left, right, "k").select("k", "lv", "rv").collect().toSet
    assert(salted == plain)
    assert(salted.count(_.getInt(0) == 1) == 900)
  }

  test("store layout: SCO join on __contains has no shuffle, fresh and after reopen") {
    def countExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString)
        .length
    val dir = suiteTempDir("graft-storejoin")
    val s = new graft.api.Storage(spark, dir)
    val bundle =
      """{"type":"bundle","id":"bundle--bf","objects":[
        |{"type":"observed-data","id":"observed-data--of",
        | "first_observed":"2024-01-01T00:00:00.000Z",
        | "last_observed":"2024-01-01T00:00:00.000Z","number_observed":1,
        | "objects":{
        |   "0":{"type":"ipv4-addr","value":"10.0.0.1"},
        |   "1":{"type":"ipv4-addr","value":"10.0.0.2"}
        | }}]}""".stripMargin
    s.cache("qf", bundle)
    def scoJoin(st: graft.api.Storage) = {
      val v = st.catalog.resolve("ipv4-addr")
      val c = st.catalog.resolve("__contains")
      v.join(c, v("id") === c("target_ref"))
    }
    // force shuffles visible (tiny tables would otherwise broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // no finish(): the store's buckets are the join layout
      assert(countExchanges(scoJoin(s)) == 0)
      assert(scoJoin(s).count() == 2)
      // the same tables read plainly shuffle both sides
      def plain(t: String) = spark.read.parquet(s"$dir/$t.parquet").drop("__bucket")
      val (v, c) = (plain("ipv4-addr"), plain("__contains"))
      assert(countExchanges(v.join(c, v("id") === c("target_ref"))) >= 2)
      // the layout is on disk, so a reopened store keeps it
      assert(countExchanges(scoJoin(new graft.api.Storage(spark, dir))) == 0)
      // and new ingest keeps it too
      s.cache("qf2", bundle.replace("10.0.0.2", "10.0.0.9").replace("observed-data--of", "observed-data--of2").replace("bundle--bf", "bundle--bf2"))
      assert(s.count("ipv4-addr") == 3)
      assert(countExchanges(scoJoin(s)) == 0)
      assert(scoJoin(s).count() == 4)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("zOrderValue: exact interleave, locality, and mask behavior") {
    // bit i of a -> position 2i, bit i of b -> 2i+1
    val z = Seq((3L, 1L)).toDF("a", "b")
      .select(Layout.zOrderValue(col("a"), col("b"))).head().getLong(0)
    // a=0b11 -> bits 0,2; b=0b1 -> bit 1 => 0b111 = 7
    assert(z == 7L, s"interleave(3,1) = $z, want 7")
    // symmetric: interleave(1,3) -> a bit0 + b bits1,3 = 0b1011 = 11
    val z2 = Seq((1L, 3L)).toDF("a", "b")
      .select(Layout.zOrderValue(col("a"), col("b"))).head().getLong(0)
    assert(z2 == 11L)
    // keys wider than `bits` are masked, not corrupted
    val zm = Seq(((1L << 20) + 5L, 0L)).toDF("a", "b")
      .select(Layout.zOrderValue(col("a"), col("b"), bits = 16)).head().getLong(0)
    assert(zm == Seq((5L, 0L)).toDF("a", "b")
      .select(Layout.zOrderValue(col("a"), col("b"), bits = 16)).head().getLong(0))
  }

  test("zOrderRepartition shrinks per-file bounding boxes on both dimensions") {
    // a 64x64 grid: random single-dimension layout gives every partition a
    // near-full-range bbox in the OTHER dimension; z-order layout must cover
    // each key's range with a fraction per file in BOTH dimensions
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val parts = 16
    def avgSpan(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val spans = df
        .withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg(
          (max("x") - min("x")).as("sx"),
          (max("y") - min("y")).as("sy"))
        .collect()
      (spans.map(_.getLong(1)).sum.toDouble / spans.length,
        spans.map(_.getLong(2)).sum.toDouble / spans.length)
    }
    val (zx, zy) = avgSpan(Layout.zOrderRepartition(grid, "x", "y", parts, bits = 6))
    // sorting by x alone: x clusters perfectly but y spans the full range
    val (_, sy) = avgSpan(grid.repartitionByRange(parts, col("x")))
    // 256 z-consecutive points/partition = ~a 16x16 tile; sampled range
    // boundaries can straddle tiles, so allow up to ~2 tiles of span
    assert(zx < 40 && zy < 40, s"z-order bbox should be fractional: x=$zx y=$zy")
    assert(sy > 60, s"single-dim layout leaves y unclustered: $sy")
    assert(zy < sy / 2, s"z-order must beat single-dim on the other dim: $zy vs $sy")
  }

  test("compactionReport: counts base/delta files and rows, flags past-threshold buckets") {
    import graft.ingest.UpsertWriter
    import graft.ingest.UpsertWriter.AppendKey
    withTempDir("graft-compact") { dir =>
      def batch(tag: String, n: Int) = {
        import spark.implicits._
        (0 until n).map(i => (s"$tag-$i", i.toLong)).toDF("id", "v")
      }
      UpsertWriter.appendKeyed(spark, dir, "t", batch("base", 320), AppendKey.Id)
      (0 until 3).foreach(b =>
        UpsertWriter.appendKeyed(spark, dir, "t", batch(s"d$b", 64), AppendKey.Id))
      val rep = UpsertWriter.compactionReport(spark, dir, "t").collect()
      assert(rep.nonEmpty)
      // totals reconcile with the table
      val total = UpsertWriter.readTable(spark, dir, "t").count()
      assert(rep.map(r => r.getAs[Long]("base_rows") + r.getAs[Long]("delta_rows")).sum == total)
      // three pure-insert batches -> up to 3 delta files per bucket, below
      // the default threshold: nothing flagged
      assert(rep.forall(!_.getAs[Boolean]("needs_compaction")))
      assert(rep.exists(_.getAs[Long]("n_delta_files") > 0))
      // a tighter threshold flags exactly the buckets past it
      val tight = UpsertWriter.compactionReport(spark, dir, "t", deltaFilesMax = 1).collect()
      tight.foreach(r =>
        assert(r.getAs[Boolean]("needs_compaction") == (r.getAs[Long]("n_delta_files") > 1)))
      assert(tight.exists(_.getAs[Boolean]("needs_compaction")))
    }
  }

  test("zoneMap + readPruned: equals the full filtered read and opens fewer files") {
    import graft.operators.Layout
    withTempDir("graft-zone") { dir =>
      val rows = spark.range(20000).select(
        col("id"),
        ((col("id") * 2654435761L) % 10007L).as("a"),
        ((col("id") * 7919L) % 9973L).as("b"))
      Layout.zOrderRepartition(rows, "a", "b", numFiles = 16, bits = 14)
        .write.mode("overwrite").parquet(dir)
      val zmap = Layout.zoneMap(spark, dir, Seq("a", "b"))
      val nFiles = zmap.count()
      assert(nFiles == 16)
      // equality law: pruned read == full read with the same predicate
      val pruned = Layout.readPruned(spark, dir, zmap, "a", 100L, 800L)
      val full = spark.read.parquet(dir).where(col("a") >= 100L && col("a") <= 800L)
      assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        full.select("id").collect().map(_.getLong(0)).sorted.toSeq)
      // and it actually PRUNES: the clustered layout confines a 7% range
      // of `a` to a strict subset of files
      assert(pruned.inputFiles.length < nFiles,
        s"expected pruning, opened ${pruned.inputFiles.length}/$nFiles files")
      // empty range prunes everything and returns no rows
      val none = Layout.readPruned(spark, dir, zmap, "a", 20000L, 30000L)
      assert(none.count() == 0)
      // STALENESS GUARD: append files the map has never seen — the read
      // must fall back to the full filtered scan (their rows included),
      // not silently skip them because the map says nothing about them
      spark.range(5).select(
        (col("id") + 50000L).as("id"),
        lit(400L).as("a"),
        lit(1L).as("b"))
        .coalesce(1).write.mode("append").parquet(dir)
      val afterAppend = Layout.readPruned(spark, dir, zmap, "a", 100L, 800L)
      val fullAfter = spark.read.parquet(dir).where(col("a") >= 100L && col("a") <= 800L)
      assert(afterAppend.count() == fullAfter.count())
      assert(afterAppend.where(col("id") >= 50000L).count() == 5,
        "appended rows must be visible despite the stale zone map")
      // rebuilding the map restores pruning
      val zmap2 = Layout.zoneMap(spark, dir, Seq("a", "b"))
      val repruned = Layout.readPruned(spark, dir, zmap2, "a", 100L, 800L)
      assert(repruned.count() == fullAfter.count())
      assert(repruned.inputFiles.length < spark.read.parquet(dir).inputFiles.length)

      // MAINTAINED CENSUS (the object-store scale path): when the store
      // hands readPruned its current census, the clean path must not list
      // the directory at all — a per-read recursive LIST over a 100 TB
      // table is millions of keys
      val current = Layout.dirCensus(dir) // one walk, maintained thereafter
      assert(current == Layout.fileCensus(zmap2), "fresh map must match the dir census")
      val walksBefore = Layout.censusWalks
      val viaCensus = Layout.readPruned(spark, dir, zmap2, "a", 100L, 800L, Some(current))
      assert(viaCensus.count() == fullAfter.count())
      assert(viaCensus.inputFiles.length < spark.read.parquet(dir).inputFiles.length)
      assert(Layout.censusWalks == walksBefore,
        "clean path with a maintained census must not walk the directory")
      // a census that disagrees with the map (stale map after an append)
      // falls back to the full filtered read — still without walking
      spark.range(3).select((col("id") + 90000L).as("id"), lit(500L).as("a"), lit(2L).as("b"))
        .coalesce(1).write.mode("append").parquet(dir)
      val appended = Layout.dirCensus(dir) // the store's maintained census after append
      val fallback = Layout.readPruned(spark, dir, zmap2, "a", 100L, 800L, Some(appended))
      assert(fallback.where(col("id") >= 90000L).count() == 3,
        "rows behind a stale map must be visible through the census fallback")
      assert(Layout.censusWalks == walksBefore)

      // INCREMENTAL MAINTENANCE law: updating the stale map scans only the
      // appended files and equals a full rebuild — and the updated map's
      // census matches the store again, so pruning resumes
      def norm(m: org.apache.spark.sql.DataFrame) = m
        .collect().map(r => r.toSeq.map(String.valueOf).toList)
        .sortBy(_.head)
      // the maintenance pass must be driver-light: only the ONE appended
      // file's path crosses the driver (seam-counted), and the censuses are
      // two-long aggregates, never path collects
      val pathRowsBefore = Layout.driverPathRows
      val updated = Layout.zoneMapIncremental(spark, dir, Seq("a", "b"), zmap2)
      updated.count() // force the lazy joins so the fresh collect has happened
      assert(Layout.driverPathRows - pathRowsBefore == 1,
        s"incremental update materialized ${Layout.driverPathRows - pathRowsBefore} " +
          "path rows on the driver; only the appended file should cross")
      val rebuilt = Layout.zoneMap(spark, dir, Seq("a", "b"))
      assert(norm(updated).map(_.tail).sortBy(_.toString).toSeq ==
        norm(rebuilt).map(_.tail).sortBy(_.toString).toSeq)
      val censusRowsBefore = Layout.driverPathRows
      assert(Layout.fileCensus(updated) == Layout.dirCensus(dir))
      assert(Layout.driverPathRows == censusRowsBefore,
        "fileCensus must aggregate, not collect paths")
      // side-table round trip: save map+census, load, and the clean pruned
      // read uses the loaded census without walking the data tree
      withTempDir("graft-zmside") { mapDir =>
        Layout.saveZoneMap(updated, mapDir)
        val (loadedMap, loadedCensus) = Layout.loadZoneMap(spark, mapDir)
        assert(loadedCensus == Layout.fileCensus(updated))
        val walksBeforeSide = Layout.censusWalks
        val viaSide = Layout.readPruned(spark, dir, loadedMap, "a", 100L, 800L, Some(loadedCensus))
        assert(viaSide.count() ==
          spark.read.parquet(dir).where(col("a") >= 100L && col("a") <= 800L).count())
        assert(Layout.censusWalks == walksBeforeSide)
      }
      val repr2 = Layout.readPruned(spark, dir, updated, "a", 100L, 800L,
        Some(Layout.fileCensus(updated)))
      assert(repr2.count() ==
        spark.read.parquet(dir).where(col("a") >= 100L && col("a") <= 800L).count())
      // deletion face: drop one parquet file — the incremental update must
      // shed its entry (still equal to a rebuild on the shrunken dir)
      val victim = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(f => f.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.delete(victim)
      val afterDel = Layout.zoneMapIncremental(spark, dir, Seq("a", "b"), updated)
      assert(Layout.fileCensus(afterDel) == Layout.dirCensus(dir))
      assert(afterDel.count() == updated.count() - 1)
    }
  }

  test("shuffleAdvisor: plan-stat arithmetic, scale monotonicity, no job") {
    import graft.operators.Layout
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val base = Layout.shuffleAdvisor(df, targetPartitionBytes = 1L << 20).head()
    val est = base.getAs[Long]("est_bytes")
    assert(est > 0, "catalyst should estimate a positive parquet footprint")
    // the recommendation is exactly ceil(est * scale * inflation / target)
    val want = math.ceil(est * 1.0 * 3.0 / (1L << 20)).toLong.max(1L)
    assert(base.getAs[Long]("recommended_shuffle_partitions") == want)
    // 10x the data -> ~10x the partitions (exact up to ceiling)
    val x10 = Layout.shuffleAdvisor(df, targetPartitionBytes = 1L << 20, scale = 10.0).head()
    val p1 = base.getAs[Long]("recommended_shuffle_partitions")
    val p10 = x10.getAs[Long]("recommended_shuffle_partitions")
    assert(p10 >= 10 * p1 - 10 && p10 <= 10 * p1 + 10, s"$p1 -> $p10")
    // a tiny frame still recommends at least one partition
    assert(Layout.shuffleAdvisor(df.limit(0))
      .head().getAs[Long]("recommended_shuffle_partitions") >= 1L)
  }

  test("bucketed tables join without a shuffle") {
    withTempDir("graft-bjoin") { dir =>
      val a = (1 to 500).map(i => (s"id-$i", s"a$i")).toDF("id", "av")
      val b = (1 to 500).map(i => (s"id-$i", s"b$i")).toDF("id", "bv")
      // 4 buckets, one file each: small enough that no read coalesces
      graft.ingest.UpsertWriter.upsert(spark, dir, "a", a, numBuckets = 4)
      graft.ingest.UpsertWriter.upsert(spark, dir, "b", b, numBuckets = 4)
      def stored(t: String) = graft.ingest.UpsertWriter.readTable(spark, dir, t)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = stored("a").join(stored("b"), "id")
        assert(!Layout.hasShuffle(joined), "bucketed join should not shuffle")
        assert(joined.count() == 500)
        // contrast: the same join over plain reads of the same files shuffles
        def plain(t: String) = spark.read.parquet(s"$dir/$t.parquet").drop("__bucket")
        assert(Layout.hasShuffle(plain("a").join(plain("b"), "id")))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("clusteringReport: sorted layout scores far below shuffled; flat domain is NULL") {
    val n = 4000
    val base = (0 until n).map(i => (i.toLong, (i * 37 % n).toLong)).toDF("a", "b")
    withTempDir("graft-clus") { root =>
      val (sortedDir, shufDir, flatDir) = (s"$root/sorted", s"$root/shuf", s"$root/flat")
      // clustered: range-partitioned on a -> each file owns a narrow slice
      base.repartitionByRange(8, col("a")).write.mode("overwrite").parquet(sortedDir)
      // shuffled: hash on a -> every file spans nearly the whole domain
      base.repartition(8, col("a")).write.mode("overwrite").parquet(shufDir)
      def factor(dir: String) =
        Layout.clusteringReport(Layout.zoneMap(spark, dir, Seq("a")), "a")
          .head().getAs[Double]("clustering_factor")
      val (fs, fr) = (factor(sortedDir), factor(shufDir))
      assert(fs < 0.2, s"range-partitioned layout should cluster tightly, got $fs")
      assert(fr > 0.8, s"hash layout should span the domain per file, got $fr")
      assert(fs < fr / 4, s"factor must discriminate: sorted $fs vs shuffled $fr")
      // files_per_point ~ n_files for the shuffled layout, ~1 for sorted
      val rep = Layout.clusteringReport(Layout.zoneMap(spark, shufDir, Seq("a")), "a").head()
      assert(rep.getAs[Double]("files_per_point") > rep.getLong(0) * 0.8)
      // single-value domain: zero width -> NULL factor, not a divide blowup
      (0 until 100).map(_ => (7L, 1L)).toDF("a", "b")
        .repartition(4).write.mode("overwrite").parquet(flatDir)
      val flat = Layout.clusteringReport(Layout.zoneMap(spark, flatDir, Seq("a")), "a").head()
      assert(flat.isNullAt(2) && flat.isNullAt(3))
    }
  }
}
