package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Physical-layout tools for 100 TB operation: skew-salted joins, Z-order
  * clustering and file-level indexes. None changes results — only where
  * rows live and how many shuffles or files a plan needs.
  */
object Layout {

  /** Equi-join where `left`'s key distribution is heavily skewed (a handful
    * of hot keys own most rows): salt the skewed side with a random factor
    * and explode the build side once per salt, so one hot key spreads over
    * `saltFactor` reducers instead of stalling a single task.
    *
    * AQE's skewedJoin handles moderate skew automatically; explicit salting
    * is for the pathological case (one key = half the table) or for
    * pre-AQE plan shaping. `right` grows by saltFactor — use for
    * moderate-size build sides. */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      saltFactor: Int = 8,
      joinType: String = "inner"): DataFrame = {
    val salted = left.withColumn("__salt", (rand(seed = 42) * saltFactor).cast("int"))
    val exploded = right.withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    salted
      .join(exploded, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** Morton (Z-order) interleave of two non-negative integer keys, `bits`
    * low bits each: bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1. Sorting or range-partitioning by the z-value clusters rows that
    * are close in BOTH dimensions into the same files, so min/max file
    * statistics prune scans filtered on EITHER key — the multi-dimensional
    * layout trick behind Delta/Iceberg OPTIMIZE ZORDER, expressed as a pure
    * codegen'd bit-arithmetic column (no UDF, no shuffle of its own).
    *
    * Keys wider than `bits` are masked (callers with wider domains should
    * rank-normalize first); 16+16 bits keeps the value well inside a long. */
  def zOrderValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val mask = (1L << bits) - 1
    val am = a.cast("long").bitwiseAND(lit(mask))
    val bm = b.cast("long").bitwiseAND(lit(mask))
    (0 until bits)
      .flatMap(i =>
        Seq(
          shiftleft(shiftright(am, i).bitwiseAND(lit(1L)), 2 * i),
          shiftleft(shiftright(bm, i).bitwiseAND(lit(1L)), 2 * i + 1)))
      .reduce(_ bitwiseOR _)
  }

  /** Range-partition `df` into `numFiles` splits by the z-value of the two
    * keys — the write-side layout pass: each output file covers a compact
    * z-range, i.e. a small rectangle in (a, b) space, which is what makes
    * file skipping on either key effective. LayoutSpec pins the clustering
    * effect (per-partition bounding boxes shrink vs. the unclustered
    * layout). */
  def zOrderRepartition(
      df: DataFrame,
      aCol: String,
      bCol: String,
      numFiles: Int,
      bits: Int = 16): DataFrame =
    df.withColumn("__z", zOrderValue(col(aCol), col(bCol), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")

  /** Per-FILE zone map: min/max of `cols` for every parquet file under
    * `dir` — the data-skipping index that makes a clustered layout
    * ([[zOrderRepartition]], range partitioning) queryable without
    * scanning: a predicate on any mapped column prunes to the files whose
    * [min, max] intervals overlap it. One scan builds the map (a
    * FILES-sized frame — store it next to the table and maintain it
    * incrementally on append, like [[manifest]]); at read time pruning is
    * pure metadata. Hash-bucketed stores gain nothing (hashing spreads
    * every value range across all buckets) — zone maps pay exactly where
    * the layout CLUSTERS the column, which is the point of running the
    * clustering pass. */
  def zoneMap(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "zone map needs at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Range read through a zone map: open ONLY the files whose
    * [min_`colName`, max_`colName`] overlaps [lo, hi], then apply the
    * exact predicate (zone overlap is necessary, not sufficient). The file
    * list is map-sized driver metadata — the same economics as any
    * manifest-driven scan planner. Result EQUALS the full read with the
    * same predicate (law-tested); only the I/O shrinks.
    *
    * Staleness guard: a zone map built before files were appended to
    * `dir` would silently hide those files' rows from the "equals the
    * full read" law. Before pruning, the store's CURRENT file census
    * (count + order-independent additive checksum — see [[fileCensus]])
    * is compared against the map's; any difference (append, delete,
    * compaction rewrite) forces a fall back to the full filtered read —
    * correct-but-unpruned beats fast-but-wrong. Rebuild the map (or
    * maintain it incrementally on append) to restore pruning.
    *
    * Pass `census` with the store's maintained current census (two longs
    * — kept next to the table and updated per append, exactly like the
    * map itself) and the clean path does NO directory listing at all: at
    * 100 TB a per-read recursive LIST is millions of keys on an object
    * store. Without `census` the guard falls back to walking `dir` — the
    * local-mode convenience, not the scale path. */
  def readPruned(
      spark: SparkSession,
      dir: String,
      zmap: DataFrame,
      colName: String,
      lo: Long,
      hi: Long,
      census: Option[(Long, Long)] = None): DataFrame = {
    require(lo <= hi, "empty range")
    // ONE aggregate job over the map yields BOTH the census (2 longs) and
    // the surviving file list — a single consistent snapshot of zmap. Two
    // separate jobs (census, then a filtered collect) could see different
    // states of a lazily-re-evaluated map plan whose source dir mutates
    // between them: the census check would pass while the file list
    // disagreed with it. The list the driver receives is still only the
    // SURVIVING set (collect_list skips the when()'s nulls) — the read's
    // own scan set, so its size is bounded by what we're about to open
    // anyway (selective ranges collect little; a range that hits every
    // zone was going to read the table regardless).
    val zonePred =
      col(s"max_$colName") >= lit(lo) && col(s"min_$colName") <= lit(hi)
    val snap = zmap.agg(
      count(lit(1)).as("n"),
      coalesce(
        sum(censusHashCol(normPathCol(col("file"))).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).as("s"),
      collect_list(when(zonePred, col("file"))).as("survivors")).head()
    val mapCensus = (snap.getLong(0), snap.getDecimal(1).toBigInteger.longValue)
    val current = census.getOrElse { censusWalks += 1; censusOf(walkParquet(dir)) }
    val rangePred = col(colName) >= lit(lo) && col(colName) <= lit(hi)
    if (current != mapCensus)
      return spark.read.parquet(dir).where(rangePred)
    val files = snap.getSeq[String](2)
    driverPathRows += files.length
    val pruned =
      if (files.isEmpty) spark.read.parquet(dir).where(lit(false))
      else spark.read.parquet(files: _*)
    pruned.where(rangePred)
  }

  /** input_file_name() renders URIs (file:///...); normalize to plain
    * absolute paths so map entries and directory listings compare. */
  private def normPath(s: String): String =
    java.net.URLDecoder.decode(s.stripPrefix("file:"), "UTF-8")
      .replaceAll("^/+", "/")

  /** Column mirror of [[normPath]] — decode AFTER the prefix strip, then
    * collapse leading slashes, exactly like the driver version. */
  private def normPathCol(c: Column): Column =
    regexp_replace(url_decode(regexp_replace(c, "^file:", "")), "^/+", "/")

  /** Column mirror of the per-path census hash: first 8 bytes of the MD5
    * as a signed big-endian long (conv with a negative target base gives
    * the signed reading of the 16 hex digits). */
  private def censusHashCol(c: Column): Column =
    conv(substring(md5(c), 1, 16), 16, -10).cast("long")

  /** (file count, additive 64-bit checksum of normalized paths) — order-
    * independent and incrementally maintainable: appending a file ADDS
    * (1, hash(path)); deleting subtracts. A store keeps this next to its
    * zone map and hands it to [[readPruned]] so the clean path never
    * lists the table. */
  private def censusOf(paths: Seq[String]): (Long, Long) =
    (paths.size.toLong,
      paths.foldLeft(0L) { (acc, p) =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(p.getBytes("UTF-8"))
        acc + java.nio.ByteBuffer.wrap(d).getLong
      })

  /** Census of a zone map's file set: ONE (count, sum) aggregate over the
    * map frame — two longs cross the driver, never the paths. The sum runs
    * in decimal (ANSI long-sum would overflow-throw on the wrapping
    * checksum) and the low 64 bits are exactly the driver fold's
    * wraparound arithmetic. */
  def fileCensus(zmap: DataFrame): (Long, Long) = {
    val r = zmap.agg(
      count(lit(1)).as("n"),
      coalesce(
        sum(censusHashCol(normPathCol(col("file"))).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).as("s"))
      .head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.longValue)
  }

  /** Census of a directory tree by walking it — the local-mode source of
    * the "current" census when no maintained one exists. O(files) LIST. */
  def dirCensus(dir: String): (Long, Long) = censusOf(walkParquet(dir))

  /** Persist a zone map + its census as a side table next to the data
    * (mapDir/map as parquet, mapDir/_census as two text longs) — the store
    * shape [[readPruned]]'s clean path wants: load gives back the map
    * frame and the maintained census without listing the data tree. */
  def saveZoneMap(zmap: DataFrame, mapDir: String): Unit = {
    zmap.write.mode("overwrite").parquet(s"$mapDir/map")
    val c = fileCensus(zmap)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(mapDir, "_census"),
      s"${c._1} ${c._2}\n".getBytes("UTF-8"))
    ()
  }

  /** Load a [[saveZoneMap]] side table: (map frame, maintained census). */
  def loadZoneMap(spark: SparkSession, mapDir: String): (DataFrame, (Long, Long)) = {
    val parts = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(mapDir, "_census")), "UTF-8").trim.split(' ')
    (spark.read.parquet(s"$mapDir/map"), (parts(0).toLong, parts(1).toLong))
  }

  /** Incrementally maintain a zone map after appends/compactions: scan
    * ONLY the files the existing map has never seen, drop entries for
    * files no longer present, and return the updated map (equal to a full
    * [[zoneMap]] rebuild — law-tested). This moves the O(table) listing
    * and scan from read time to APPEND time, and the scan itself touches
    * only the appended bytes — rebuilding a 100 TB table's map per batch
    * is the same full-rescan anti-pattern the map exists to avoid.
    *
    * Set algebra is DISTRIBUTED: the current file list is produced by a
    * per-directory listing stage (the driver holds directory names —
    * bucket-count sized — never file paths), keep = equi-join of the
    * existing map against it, fresh = anti-join the other way. Only the
    * fresh (appended-batch-sized) path list crosses the driver, to open
    * the new files. The map frame is files-sized metadata; persist it via
    * [[saveZoneMap]] and hand map + census to [[readPruned]]. */
  def zoneMapIncremental(
      spark: SparkSession, dir: String, cols: Seq[String], existing: DataFrame): DataFrame = {
    require(cols.nonEmpty, "zone map needs at least one column")
    val current = listParquetDF(spark, dir)
      .select(normPathCol(col("file")).as("__nf"))
    val ex = existing.withColumn("__nf", normPathCol(col("file")))
    val kept = ex.join(current, Seq("__nf")).drop("__nf")
    val freshFiles = current
      .join(ex.select(col("__nf")), Seq("__nf"), "left_anti")
      .collect().map(_.getString(0)).sorted.toIndexedSeq
    driverPathRows += freshFiles.length
    val result =
      if (freshFiles.isEmpty) kept
      else {
        val aggs = cols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
        val fresh = spark.read.parquet(freshFiles: _*)
          .groupBy(input_file_name().as("file"))
          .agg(aggs.head, aggs.tail: _*)
        kept.unionByName(fresh)
      }
    // materialize: the returned map is a metadata ARTIFACT — it must stay
    // readable after the data files it summarizes are compacted/deleted
    // (the next incremental round feeds it back in), so it cannot stay a
    // lazy plan over those files. Eager, distributed, map-frame-sized.
    result.localCheckpoint(true)
  }

  /** The table's parquet files as a DISTRIBUTED one-column frame: the
    * driver enumerates only the DIRECTORIES (bucket-count sized, bounded
    * by layout, not data); a flatMap stage lists each directory's files on
    * executors. File paths never materialize on the driver. */
  private def listParquetDF(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dirs = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala
        .filter(java.nio.file.Files.isDirectory(_))
        .map(_.toAbsolutePath.toString).toList
      finally s.close()
    }
    spark.createDataset(dirs)
      .repartition(math.max(1, math.min(dirs.size, 32)))
      .flatMap { d =>
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(d))
        try s.iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f) &&
            f.getFileName.toString.endsWith(".parquet"))
          .map(_.toAbsolutePath.toString).toList
        finally s.close()
      }
      .toDF("file")
  }

  private def walkParquet(dir: String): Seq[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      .map(_.toAbsolutePath.toString).toList
    finally s.close()
  }

  /** Test seam: how many times a readPruned guard had to fall back to a
    * full directory walk (no maintained census supplied). */
  @volatile private[graft] var censusWalks: Long = 0L

  /** Test seam: how many PATH ROWS the zone-map machinery materialized on
    * the driver (fresh-file lists, pruned scan sets). The maintenance laws
    * assert this stays batch-sized — a files-sized collect here is the
    * anti-pattern the side-table design exists to avoid. */
  @volatile private[graft] var driverPathRows: Long = 0L

  /** Spill-aware shuffle sizing from Catalyst's OWN size estimate: one
    * advisory row with the partition count that keeps post-shuffle
    * partitions near `targetPartitionBytes`, plus the scan-side
    * maxPartitionBytes to match. sizeInBytes for a parquet scan is the
    * compressed file footprint; `inflation` covers decode + unsafe-row
    * overhead (the usual ~3× parquet→in-memory rule of thumb), and
    * `scale` projects the recommendation to a larger deployment of the
    * same data shape (the sf0.1 plan sized for the 100 TB run is
    * scale = 10^6). Pure plan metadata — no job runs. A job logs this
    * row and sets spark.sql.shuffle.partitions /
    * spark.sql.files.maxPartitionBytes accordingly; AQE then coalesces
    * within the recommendation instead of rescuing a wild guess. */
  def shuffleAdvisor(
      df: DataFrame,
      targetPartitionBytes: Long = 128L << 20,
      scale: Double = 1.0,
      inflation: Double = 3.0): DataFrame = {
    require(targetPartitionBytes > 0 && scale > 0 && inflation > 0, "positive knobs only")
    val spark = df.sparkSession
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val projected = (BigDecimal(estBytes) * scale * inflation)
      .setScale(0, BigDecimal.RoundingMode.CEILING)
    val parts = (projected / targetPartitionBytes)
      .setScale(0, BigDecimal.RoundingMode.CEILING).toLong.max(1L)
    import spark.implicits._
    Seq((
      estBytes.toLong, scale, inflation, projected.toLong,
      targetPartitionBytes, parts,
      targetPartitionBytes)) // scan side: read splits sized like shuffle targets
      .toDF("est_bytes", "scale", "inflation", "projected_bytes",
        "target_partition_bytes", "recommended_shuffle_partitions",
        "recommended_max_partition_bytes")
  }

  /** Key-skew diagnosis for a join/aggregation key: the `topN` heaviest
    * keys with their row counts, share of the table, skew factor (count ÷
    * mean count over all keys) and a suggested salt-bucket count
    * (⌈skew⌉ — spread the hot key over that many reducers and each carries
    * about the mean). This is the measurement that decides BETWEEN the
    * layout tools above: skew ≈ 1 → plain shuffle; moderate → AQE handles
    * it; pathological → saltedJoin with the suggested factor.
    *
    * Cost: one hash aggregate to per-key counts, a 2-row global aggregate,
    * and a topN sort over the (already tiny) counts frame — the corpus
    * itself is scanned once and never re-shuffled. */
  /** How CLUSTERED a layout actually is on `colName`, measured from its
    * zone map alone (file-count-sized metadata, never data): per-file
    * range width vs the global range.
    *
    *  - `clustering_factor` = avg(file width) / global width ∈ (0, 1]:
    *    → 0 means files own narrow disjoint slices (Z-order/sort did its
    *    job — a range predicate prunes almost everything); 1.0 means
    *    every file spans the whole domain (scan-everything layout, zone
    *    maps can skip nothing).
    *  - `files_per_point` = Σ widths / global width: the expected number
    *    of files a uniformly random point lookup must open — the direct
    *    price of the layout for [[readPruned]]-style access.
    *
    * The readout that decides whether to pay for a re-cluster
    * ([[zOrderRepartition]] / sort-on-write) BEFORE burning the rewrite:
    * compare the factor against the post-rewrite value on a sample.
    * One row per call; NULL factor when the column has zero global width
    * (single-value domain — nothing to cluster). */
  def clusteringReport(zoneMap: DataFrame, colName: String): DataFrame = {
    val lo = col(s"min_$colName").cast("double")
    val hi = col(s"max_$colName").cast("double")
    zoneMap
      .agg(
        count(lit(1)).as("n_files"),
        sum(hi - lo).as("__sumw"),
        (max(hi) - min(lo)).as("__gw"))
      .select(
        col("n_files"),
        round(col("__gw"), 6).as("global_width"),
        when(col("__gw") > 0, round(col("__sumw") / col("n_files") / col("__gw"), 6))
          .as("clustering_factor"),
        when(col("__gw") > 0, round(col("__sumw") / col("__gw"), 6))
          .as("files_per_point"))
  }

  def skewReport(df: DataFrame, keyCol: String, topN: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"), count(lit(1)).as("n_keys"))
    val skew = col("n").cast("double") * col("n_keys") / col("total")
    counts
      .orderBy(col("n").desc, col("key").asc)
      .limit(topN)
      .crossJoin(broadcast(totals))
      .select(
        col("key"),
        col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        round(skew, 6).as("skew"),
        greatest(lit(1), ceil(skew).cast("int")).as("salt_buckets"))
  }

  /** Bloom-prefiltered equi-join: the explicit form of Catalyst's
    * runtime-filter optimization, for when the planner can't prove it
    * should inject one (non-trivial small-side subtrees, joins composed
    * through APIs the heuristics don't see through).
    *
    * The dimension side's keys fold into ONE serialized Bloom filter via
    * Spark's native partial-aggregable `BloomFilterAggregate`, delivered
    * to the fact side as a scalar subquery; the fact table is then cut
    * MAP-SIDE by the codegen `BloomFilterMightContain` predicate BEFORE
    * its shuffle (or before the broadcast-join probe). At 100 TB the win
    * is shuffle-volume: a selective dimension (say 0.1% of fact keys
    * survive) means 99.9% of fact rows never leave their input partition
    * instead of being shuffled and dropped at the join. False positives
    * only cost a join probe — the exact join still runs, so the result
    * EQUALS the plain join row-for-row (no false negatives by Bloom
    * construction; q_layout_bloom_join's oracle is the plain SQL join).
    *
    * Supports the no-false-negative join types (`inner`, `left_semi`):
    * types that keep unmatched fact rows (left/full outer) must not
    * prefilter the fact side. */
  def bloomJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      expectedItems: Long = 1L << 20,
      joinType: String = "inner"): DataFrame = {
    require(
      joinType == "inner" || joinType == "left_semi",
      s"bloomJoin keeps only matched fact rows; $joinType would need the unfiltered fact side")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

    val bloomDF = dim.select(
      GraftBridge.column(
        new BloomFilterAggregate(
          GraftBridge.expression(xxhash64(col(key))),
          expectedItems).toAggregateExpression()).as("bf"))
    // null-safe: an empty dim aggregates to a NULL filter -> no fact row
    // can match, which is exactly what the inner/semi join would produce
    val mightMatch = coalesce(
      GraftBridge.column(BloomFilterMightContain(
        GraftBridge.scalarSubquery(bloomDF),
        GraftBridge.expression(xxhash64(col(key))))),
      lit(false))
    fact.where(mightMatch).join(dim, Seq(key), joinType)
  }

  /** Per-shard integrity MANIFEST: row count, an ORDER-INDEPENDENT
    * content checksum, and id bounds — the artifact that lets a 100 TB
    * dataset copy be verified shard-by-shard without re-sorting anything.
    * The checksum is Σ md5₆₀(row content) mod 2⁶⁰: addition commutes, so
    * any partitioning/replica order yields the same value, partial sums
    * merge map-side, and two manifests combine by adding checksums mod
    * 2⁶⁰ (the append/compaction audit). The sum runs in DECIMAL(38,0) —
    * exact at any row count — and reduces mod 2⁶⁰ at the end; a single
    * changed/dropped/duplicated row shifts the shard's checksum. Engine-
    * portable: any SQL engine with md5 + wide integers reproduces it. */
  def manifest(
      df: DataFrame,
      shardCol: String,
      hashCols: Seq[String],
      idCol: String): DataFrame = {
    require(hashCols.nonEmpty, "need at least one content column to checksum")
    // \\u0001-separated so ("a","bc") never checksums like ("ab","c")
    val content = Layout.rowContent(hashCols)
    df.select(
        col(shardCol).as("shard"),
        graft.functions.Funcs.md5Hash60(content).as("__h"),
        col(idCol).as("__id"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_rows"),
        expr("CAST(sum(CAST(__h AS DECIMAL(38, 0))) % 1152921504606846976 AS BIGINT)")
          .as("checksum"),
        min(col("__id")).as("min_id"),
        max(col("__id")).as("max_id"))
  }

  /** Corpus DIFF: which docs were added, removed, or changed between two
    * dataset versions — the release-note / audit primitive behind every
    * "v2.1 of the corpus" publication. One full-outer hash join on the id
    * comparing content fingerprints; unchanged rows are filtered out so
    * the result is edit-sized, not corpus-sized. */
  def diffCorpora(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      hashCols: Seq[String]): DataFrame = {
    require(hashCols.nonEmpty, "need at least one content column to compare")
    def fp(df: DataFrame, hName: String) = df.select(
      col(idCol),
      md5(Layout.rowContent(hashCols)).as(hName))
    fp(oldDf, "__h_old")
      .join(fp(newDf, "__h_new"), Seq(idCol), "full_outer")
      .withColumn(
        "status",
        when(col("__h_old").isNull, "added")
          .when(col("__h_new").isNull, "removed")
          .when(col("__h_old") =!= col("__h_new"), "changed")
          .otherwise("unchanged"))
      .where(col("status") =!= "unchanged")
      .select(col(idCol), col("status"))
  }

  /** [[diffCorpora]] at 100 TB: compare the two versions' per-shard
    * [[manifest]]s FIRST (a shards-sized frame — row counts + additive
    * checksums), and run the doc-level join only over shards whose
    * manifest moved. A typical release touches a handful of shards, so
    * the expensive full-outer join reads a sliver of each corpus instead
    * of both in full; equal manifests certify equal content (modulo the
    * 2⁻⁶⁰-scale checksum-collision caveat every content-hash audit
    * carries). Result equals the unpruned diff (law-tested). */
  def diffCorporaPruned(
      oldDf: DataFrame,
      newDf: DataFrame,
      shardCol: String,
      idCol: String,
      hashCols: Seq[String]): DataFrame = {
    val mo = manifest(oldDf, shardCol, hashCols, idCol)
      .select(col("shard"), col("n_rows").as("__n_old"), col("checksum").as("__c_old"))
    val mn = manifest(newDf, shardCol, hashCols, idCol)
      .select(col("shard"), col("n_rows").as("__n_new"), col("checksum").as("__c_new"))
    val changed = mo.join(mn, Seq("shard"), "full_outer")
      .where(
        col("__c_old").isNull || col("__c_new").isNull ||
        col("__c_old") =!= col("__c_new") || col("__n_old") =!= col("__n_new"))
      .select(col("shard"))
    // null-safe probe: a NULL shard name is a legal shard value — a plain
    // === would never match it and its docs would silently vanish from
    // the pruned diff (breaking the pruned == full law)
    def prune(df: DataFrame) = df.join(
      broadcast(changed), df(shardCol) <=> changed("shard"), "left_semi")
    diffCorpora(prune(oldDf), prune(newDf), idCol, hashCols)
  }

  /** Alias-proof row-content rendering for [[manifest]]/[[diffCorpora]]:
    * each column is md5'd SEPARATELY (fixed 32-hex-char tokens), then the
    * tokens concatenate — no separator can be smuggled inside a value
    * ("ab","c" vs "a","bc" aliased under plain separator
    * joins) and NULL renders as "-", which no md5 output equals, so NULL
    * vs the literal sentinel string stays distinguishable too. External
    * replay: md5(md5(col1) || md5(col2) || ...) with '-' for NULL. */
  private def rowContent(hashCols: Seq[String]): Column =
    concat(hashCols.map(c => coalesce(md5(col(c).cast("string")), lit("-"))): _*)

  /** True if the executed plan contains a shuffle exchange (plan audit
    * helper; used by specs to pin layout behavior). */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")
}
