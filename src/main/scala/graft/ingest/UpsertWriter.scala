package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Dynamic-schema DataFrame construction + the two write verbs onto Parquet.
  *
  * One typing rule serves every ingest verb: a census of the value kinds
  * seen per column ([[graft.model.StixMeta.census]]) gives each column its
  * type ([[columnType]]), and one converter ([[toRow]]) builds the rows. The
  * driver verbs take the census in the driver ([[rowsToDF]]); the Dataset
  * verbs aggregate it on the executors and convert there, so a bundle
  * stores the same schema whichever verb ingests it.
  *
  * [[upsert]] (SCO tables; firepit/sqlstorage.py:367-380): per id,
  * first_observed = MIN, last_observed = MAX, number_observed = SUM, every
  * other column = newest non-null value (null never clobbers — reference
  * tests/test_null.py). Within one batch, later records win
  * (splitter.py:161-187); across batches, the incoming batch wins over
  * stored rows. Implemented as one distributed groupBy(id): the
  * newest-non-null rule is `max(struct(seq, col))` over rows where col is
  * non-null — an ordinary codegen'd aggregate, no window, no collect.
  *
  * [[appendKeyed]] (observed-data, `__columns`, edge and provenance
  * tables; the reference's ON CONFLICT DO NOTHING, sqlstorage.py:389-392):
  * the first sighting of a key wins, the key being the id, a given column
  * tuple, or the whole row ([[AppendKey]]), compared null-safely.
  *
  * Both verbs run in one frame ([[write]]): lease, repair, then create,
  * whole-table rewrite, or the incremental bucket step below.
  *
  * == Fixed cost per call ==
  *
  * A driver verb's batch is a few dozen rows, so a `cache` costs what its
  * Spark jobs and tasks cost, not what its data costs. Two rules keep the
  * incremental step to the jobs it needs:
  *  - a batch held in one partition is declared so ([[onePartition]],
  *    [[rowsToDF]]): its merge, dedup, stats aggregate and broadcast joins
  *    plan without an exchange and run in that one task;
  *  - every stored-table read takes its schema from the footer of one file
  *    ([[footerSchema]], the schema Spark's writer records there), so no
  *    read launches Spark's schema-inference job.
  * The Dataset verbs and table creation keep their distributed plans.
  *
  * == Bucketed incremental storage ==
  *
  * Every table is stored hash-partitioned into `__bucket=K/` subdirectories
  * with K = pmod(hash(bucket keys), N); N is fixed at table creation and
  * recorded in a `_graft_buckets` marker inside the table directory (the
  * catalog of the layout). An incoming batch routes each row to its bucket,
  * and the merge REWRITES ONLY THE BUCKETS THAT RECEIVED ROWS — the
  * row-level ON CONFLICT economics of the reference (sqlstorage.py:382-408)
  * at file granularity: a trickle of bundles into a 100 TB store rewrites
  * O(batch) buckets, not the table. Bucket (routing) keys are chosen so
  * that all rows that can merge/dedup against each other share a bucket,
  * so per-bucket merge is exactly global merge. They are a subset of the
  * merge/dedup key ([[AppendKey]]):
  *  - SCO tables (upsert) and observed-data: `id`;
  *  - `__columns`: (otype, path);
  *  - `__contains`: `target_ref`, and `__reflist`: `source_ref` — the join
  *    keys of the SCO side ([[AppendKey.RowOn]]);
  *  - `__queries` and other whole-row tables: the full (sorted) column set.
  * The keys are recorded in the marker when the table is created, and every
  * incremental write routes by the RECORDED keys, never by the current
  * rule: a table created under an older rule keeps its own routing.
  *
  * == The store is its own join layout ==
  *
  * K is Spark's own bucket id (pmod(murmur3, N)), and every file a publish
  * moves into the live tree carries Spark's bucket-id suffix, the way
  * Spark's bucketed writer names its files (`…_0000K.c000.snappy.parquet`,
  * `delta-…_0000K.parquet`, matching its `__bucket=K` dir). A marker
  * written so ends with the [[SparkBucketsLine]], and [[readTable]] then
  * reads the table as a bucketed relation on its routing keys: a join or
  * an aggregate on those keys plans without a shuffle straight off the
  * store, with no second copy of the data and no catalog table. Spark
  * turns the bucketed scan off where no operator needs it, so a plain
  * scan keeps its file-split parallelism. A marker without that line (a
  * table created before the layout) reads plainly.
  *
  * All buckets of a table always share ONE schema (column set, types, and
  * order): a batch whose union schema differs from the stored schema
  * triggers a full-table merge-rewrite (copy-on-write swap of the whole
  * directory). Schema evolution is rare and early in a store's life;
  * steady-state ingest touches only its own buckets. Uniform schemas keep
  * reads trivially globbable by ANY engine — no Spark mergeSchema pass, no
  * per-file footer reconciliation at 100 TB.
  *
  * == Bucket-local delta files ==
  *
  * Rewriting a whole bucket per touched batch is still O(bucket) write
  * amplification — ~25 GB per trickled row at the documented 100 TB shape
  * (4096 buckets). So the write verbs split every batch by what the rows
  * actually DO to the stored table:
  *
  *  - rows that are PURE INSERTS against the current table state (new ids /
  *    new keys — every row a keyed append writes) are APPENDED as small
  *    `__bucket=K/delta-*.parquet` files — O(batch) bytes written, the
  *    untouched base files stay byte-stable;
  *  - rows that genuinely MERGE with a stored row (upsert of an existing
  *    id) rewrite their bucket as before — which also compacts that
  *    bucket's accumulated deltas for free.
  *
  * Deltas here are NOT shadowing deltas (Hudi/Iceberg merge-on-read): a
  * delta row never supersedes a base row, it IS a table row that happens to
  * live in a small file. That keeps the raw-glob contract exact — any
  * engine reading `table.parquet/&#42;&#42;/&#42;.parquet` sees precisely the
  * table, no reconciliation pass — at the cost of updates (the rare verb at
  * ingest steady state) paying one bucket rewrite. Delta files per bucket
  * are capped ([[DeltaFilesMax]]): past the threshold the bucket is
  * compacted back to its one-file form.
  *
  * Every multi-file publish (bucket swaps and delta appends) stages under a
  * sibling tmp dir and records a `_graft_pending` intent marker before
  * moving files into the live tree; [[repairPending]] (run by every verb
  * and by [[readTable]]) finishes an interrupted publish, so a JVM death
  * mid-move can't leave a silently torn table.
  */
object UpsertWriter {

  /** Buckets per table, fixed at table creation (recorded in the table's
    * `_graft_buckets` marker). 16 keeps local test stores compact; a
    * 100 TB deployment sets this once per store so each bucket holds a few
    * hundred GB (e.g. 4096) — the incremental-rewrite economics are
    * identical at any N. */
  val DefaultBuckets: Int =
    sys.env.get("SPARK_GRAFT_TABLE_BUCKETS").flatMap(_.trim.toIntOption)
      .filter(_ > 0).getOrElse(16)

  /** The hidden hive-partition column carrying the bucket id. */
  private val BucketCol = "__bucket"

  /** The column type for a set of value kinds ([[graft.model.StixMeta
    * .kindOf]]; firepit infer_type analogue, sqlstorage.py:89-104):
    * booleans, ints and numbers kept native (ints beside floats widen to
    * double); scalar lists -> array<string>; nested lists, dicts and mixed
    * kinds -> text, JSON for the containers (the reference stores ALL lists
    * as JSON text; we keep scalar arrays queryable). No kind (only nulls
    * seen) -> string. */
  def columnType(kinds: Int): DataType = {
    import graft.model.StixMeta.Kind
    kinds match {
      case Kind.Bool                                     => BooleanType
      case Kind.Int                                      => LongType
      case k if k != 0 && (k & ~(Kind.Int | Kind.Float)) == 0 => DoubleType
      case Kind.ScalarList                               => ArrayType(StringType)
      case _                                             => StringType
    }
  }

  /** The table schema for per-column kinds: columns sorted by name. */
  def schemaOf(kinds: Map[String, Int]): StructType =
    StructType(kinds.toSeq.sortBy(_._1).map { case (c, k) =>
      StructField(c, columnType(k), nullable = true) })

  /** One value converted to its column's type — the one converter every
    * ingest verb builds rows with, on the driver or on the executors. */
  private def cell(v: Any, t: DataType): Any = (v, t) match {
    case (null, _)                  => null
    case (x: Int, LongType)         => x.toLong
    case (x: Long, DoubleType)      => x.toDouble
    case (x: Int, DoubleType)       => x.toDouble
    case (x: Float, DoubleType)     => x.toDouble
    case (x: collection.Seq[_], ArrayType(StringType, _)) =>
      x.toSeq.map(e => if (e == null) null else e.toString)
    case (x: collection.Seq[_], StringType) => graft.model.StixId.canonicalJson(x.toSeq)
    case (x: collection.Map[_, _], StringType) => graft.model.StixId.canonicalJson(x)
    case (x, StringType)            => x.toString
    case (x, _)                     => x
  }

  /** `r` as a row of `schema`; keys outside the schema are dropped. */
  def toRow(r: collection.Map[String, Any], schema: StructType): Row =
    Row.fromSeq(schema.fields.toSeq.map(f => cell(r.getOrElse(f.name, null), f.dataType)))

  /** `df`, a scan of an RDD of `partitions` partitions, declared to the
    * planner as the one partition it is, if it is one (`coalesce(1)`
    * plans as Spark's `SinglePartition`, which satisfies every
    * clustering): the write frame's merge, dedup, stats aggregate and
    * broadcast joins over such a batch then run in its one task with no
    * exchange, where a plain RDD plan would shuffle a driver-sized batch
    * per operator. */
  private[graft] def onePartition(df: DataFrame, partitions: Int): DataFrame =
    if (partitions == 1) df.coalesce(1) else df

  /** `rows` as a DataFrame of `schema` ([[onePartition]]). */
  def rowsToDF(spark: SparkSession, rows: org.apache.spark.rdd.RDD[Row], schema: StructType): DataFrame =
    onePartition(spark.createDataFrame(rows, schema), rows.getNumPartitions)

  /** Driver-side rows as a one-partition DataFrame of `schema`. */
  def rowsToDF(spark: SparkSession, rows: Seq[Map[String, Any]], schema: StructType): DataFrame =
    rowsToDF(spark, spark.sparkContext.parallelize(rows.map(toRow(_, schema)), 1), schema)

  /** Driver-side rows typed by their own kinds ([[columnType]]). */
  def rowsToDF(spark: SparkSession, rows: Seq[Map[String, Any]]): DataFrame =
    rowsToDF(spark, rows, schemaOf(rows.flatten.groupMapReduce(_._1)(kv =>
      graft.model.StixMeta.kindOf(kv._2))(_ | _)))

  private def pathOf(dir: String, table: String): Path = Paths.get(dir, s"$table.parquet")

  def exists(dir: String, table: String): Boolean = {
    // a crashed whole-dir swap can leave the table existing only as its
    // staged tmp + sibling marker; repair first so existence is truthful
    repairPending(pathOf(dir, table))
    Files.exists(pathOf(dir, table))
  }

  def tables(dir: String): Seq[String] =
    if (!Files.exists(Paths.get(dir))) Nil
    else {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet"))
        .toSeq.sorted
      finally s.close()
    }

  /** Read a stored table WITHOUT the bucketing partition column — the one
    * read entry point callers should use (flat legacy dirs read
    * identically: drop of an absent column is a no-op). Finishes any
    * interrupted publish first (one cheap local Files.exists probe). A
    * table whose marker records Spark-named bucket files reads as a
    * bucketed relation on its routing keys ([[bucketedOn]]). Launches no
    * job ([[scan]]). */
  def readTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    repairPending(pathOf(dir, table))
    val p = pathOf(dir, table)
    val plain = scan(spark, p)
    val raw = (markerOf(p) match {
      case Some(m) if m.sparkBuckets => bucketedOn(plain, m)
      case _                         => plain
    }).drop(BucketCol)
    // scan shape derived from input size: a small many-file bucketed store
    // coalesces to ceil(bytes/16MB) read partitions (one task per tiny file
    // is pure fixed cost — measured ~100 ms each); big stores untouched so
    // large scans keep their parallelism. Filters/pruning push through the
    // coalesce (verified: PushedFilters/ReadSchema unchanged on the scan).
    FsUtil.smallDirStats(p, 256L * 1024 * 1024) match {
      case Some((files, bytes)) if files > 4 =>
        raw.coalesce(math.max(1, (bytes / (16L * 1024 * 1024)).toInt + 1))
      case _ => raw
    }
  }

  /** Bucket-pruned POINT LOOKUP: read only the bucket directories the
    * probed keys hash to, then apply the exact key predicate. On a
    * 4096-bucket 100 TB store a handful of ids opens a handful of buckets
    * — 1/4096th of the table per distinct probe bucket — instead of the
    * full glob; the equality OR-chain pushes down into the parquet scan
    * of those buckets. Uses the SAME hash the write path routes with
    * (pmod(murmur3, n)), so a stored key can never hide in an unprobed
    * bucket (law-tested against the full-scan filter). Probe keys are
    * cast to the stored key type before hashing — a probe rendered as
    * text still lands on the right bucket. Falls back to a filtered full
    * read on a legacy flat table, AND whenever the table's recorded
    * routing keys are not exactly [keyCol] (multi-column dedup keys,
    * full-row distinct buckets, or a pre-key-recording marker): pruning
    * on a column the rows were not hashed by would silently miss stored
    * rows, so unknown/mismatched routing degrades to correct-but-unpruned
    * rather than fast-but-wrong. */
  def readForKeys(
      spark: SparkSession,
      dir: String,
      table: String,
      keyCol: String,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need at least one probe key")
    val p = pathOf(dir, table)
    repairPending(p)
    // key type from ONE parquet footer, not the whole-table glob: every
    // bucket shares one schema by construction (schema-evolution batches
    // rewrite the full table), so any single file is authoritative — a
    // full listing at the 4096-bucket shape would cost more than the
    // pruned read this method exists to make cheap
    val first = firstParquetFile(p)
    val schema = first.flatMap(footerSchema(spark, _))
    val idType = schema
      .orElse(first.map(f => spark.read.parquet(f.toString).schema))
      .getOrElse(scan(spark, p).schema)(keyCol).dataType
    val keyLits = keys.map(k => lit(k).cast(idType))
    val pred = keyLits.map(col(s"`$keyCol`") === _).reduce(_ || _)
    markerOf(p) match {
      case Some(Marker(n, routing, _)) if routing == Seq(keyCol) =>
        import spark.implicits._
        val buckets = keys.toDF(keyCol)
          .select(pmod(hash(col(s"`$keyCol`").cast(idType)), lit(n)).as("b"))
          .distinct().collect().map(_.getInt(0))
        val dirs = buckets.map(b => p.resolve(s"$BucketCol=$b"))
          .filter(Files.exists(_)).map(_.toString)
        if (dirs.isEmpty) readTable(spark, dir, table).where(lit(false))
        else
          reader(spark, schema).option("basePath", p.toString).parquet(dirs.toIndexedSeq: _*)
            .drop(BucketCol)
            .where(pred)
      case _ => readTable(spark, dir, table).where(pred)
    }
  }

  /** The rows of `buckets` only: a partition-pruned scan of table `p`. */
  private def readBuckets(spark: SparkSession, p: Path, buckets: Seq[Int]): DataFrame =
    scan(spark, p).where(col(BucketCol).isin(buckets: _*)).drop(BucketCol)

  /** A plain read of the table (or snapshot) tree `p`, `__bucket` column
    * included, that launches no job: the schema comes from one file's
    * footer ([[footerSchema]]), so Spark runs no inference job. A bucketed
    * tree is read as its `__bucket=K` dirs under `p` as the partition base
    * path; naming `p` itself would make Spark ignore it as a hidden path
    * whenever the table name starts with `_` (`__contains`, ...). A legacy
    * flat table, or one with no bucket dir, reads `p` as it is. */
  private def scan(spark: SparkSession, p: Path): DataFrame = {
    val first = firstParquetFile(p)
    val r = reader(spark, first.flatMap(footerSchema(spark, _)))
    if (first.exists(_.getParent.getFileName.toString.startsWith(s"$BucketCol=")))
      r.option("basePath", p.toString).parquet(s"$p/$BucketCol=*")
    else r.parquet(p.toString)
  }

  /** A parquet reader with `schema` given, or inferring it when None. */
  private def reader(spark: SparkSession, schema: Option[StructType]) =
    schema.fold(spark.read)(spark.read.schema)

  /** The footer key Spark's parquet writer records its row schema under. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema Spark recorded in parquet file `f`'s footer; None for a
    * file without that key (written by another engine) or gone before its
    * footer was read (a concurrent swap): the caller then infers. Given to
    * a read, it is made nullable at every level by Spark itself, as an
    * inferred schema is. A driver-side footer read, like
    * [[FsUtil.footerRowCount]]: no job. */
  private def footerSchema(spark: SparkSession, f: Path): Option[StructType] =
    try {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration))
      try Option(r.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
        .collect { case s: StructType => s }
      finally r.close()
    } catch { case _: java.io.IOException => None } // gone under a swap: infer

  /** First parquet data file under the table tree (any one — all buckets
    * share a single schema). Walks bucket dirs lazily and stops at the
    * first hit, so it touches O(1) directory entries, not the full glob. */
  private def firstParquetFile(p: Path): Option[Path] = {
    if (!Files.exists(p)) return None
    val s = Files.walk(p)
    try s.iterator().asScala
      .find(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  // ----- bucket layout bookkeeping ----------------------------------------

  private def markerPath(p: Path): Path = p.resolve("_graft_buckets")

  /** The last marker line of a table whose files all carry Spark's
    * bucket-id suffix (see the header): it may be read as a bucketed
    * relation. */
  private val SparkBucketsLine = "@spark-bucket-files"

  /** Marker body: bucket count on line 1, then ONE ROUTING KEY COLUMN PER
    * LINE — the catalog of how rows were hashed into buckets — then the
    * [[SparkBucketsLine]]. */
  private def markerContent(n: Int, keys: Seq[String]): Array[Byte] =
    ((n.toString +: keys) :+ SparkBucketsLine).mkString("", "\n", "\n").getBytes("UTF-8")

  /** A table's recorded layout: bucket count, routing keys, and whether
    * its files carry Spark's bucket suffix. Older markers read as keys
    * empty (count-only: key-pruned reads fall back to the full filtered
    * read, and the next write rewrites the table) or without the suffix
    * (plain reads). */
  private final case class Marker(n: Int, keys: Seq[String], sparkBuckets: Boolean)

  /** The marker of a stored table; None for a legacy flat directory (its
    * next write migrates it to the bucketed layout). */
  private def markerOf(p: Path): Option[Marker] =
    if (!Files.exists(markerPath(p))) None
    else {
      val lines =
        try new String(Files.readAllBytes(markerPath(p)), "UTF-8")
          .split('\n').map(_.trim).filter(_.nonEmpty).toSeq
        catch { case _: Exception => Nil }
      lines.headOption.flatMap(_.toIntOption).map { n =>
        val tagged = lines.last == SparkBucketsLine
        Marker(n, lines.slice(1, lines.size - (if (tagged) 1 else 0)), tagged)
      }
    }

  private def bucketOf(keys: Seq[String], n: Int): Column =
    pmod(hash(keys.map(k => col(s"`$k`")): _*), lit(n))

  /** `plain`, a read of a table whose files all carry their bucket
    * suffix, as a bucketed relation on its routing keys: the same scan
    * with the table's bucket spec, built from the plain read's own
    * relation (no catalog table, no extra job). */
  private def bucketedOn(plain: DataFrame, m: Marker): DataFrame = {
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    plain.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation } match {
      case Some(r: HadoopFsRelation) =>
        plain.sparkSession.baseRelationToDataFrame(
          r.copy(bucketSpec = Some(BucketSpec(m.n, m.keys, Nil)))(r.sparkSession))
      case _ => plain
    }
  }

  /** `name` with bucket `k`'s suffix inserted where Spark's bucketed
    * writer puts it, before the first dot (`part-…_00003.c000.snappy
    * .parquet`), so `BucketingUtils.getBucketId` reads `k` back. */
  private def bucketFileName(name: String, k: Int): String = {
    val dot = name.indexOf('.') match { case -1 => name.length; case i => i }
    f"${name.take(dot)}_$k%05d${name.drop(dot)}"
  }

  /** The bucket id of a `__bucket=K` directory. */
  private def bucketIdOf(bucketDir: Path): Int =
    bucketDir.getFileName.toString.stripPrefix(s"$BucketCol=").toInt

  /** Give every data file staged under `tmp` its bucket's suffix (with
    * its checksum sibling). Runs inside the staging dir before any intent
    * marker names it, like the Spark write that staged the files, so a
    * crash here leaves only staging debris the next write replaces. */
  private def suffixStaged(tmp: Path): Unit =
    dataFiles(tmp).foreach { f =>
      val name = f.getFileName.toString
      val to = bucketFileName(name, bucketIdOf(f.getParent))
      Files.move(f, f.resolveSibling(to))
      val crc = f.resolveSibling(s".$name.crc")
      if (Files.exists(crc)) Files.move(crc, f.resolveSibling(s".$to.crc"))
    }

  /** Every parquet data file under `dir`. */
  private def dataFiles(dir: Path): List[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  /** True when writing `incoming` into the stored table would change the
    * table's column set or types (analysis-only — no job runs). */
  private def schemaChanges(stored: DataFrame, incoming: DataFrame): Boolean = {
    val target = stored.limit(0)
      .unionByName(incoming.limit(0), allowMissingColumns = true).schema
    def key(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSet
    key(target) != key(stored.schema)
  }

  // ----- crash-atomic publish ----------------------------------------------
  //
  // A multi-file publish (N bucket-dir swaps, or M delta-file moves) is not
  // atomic on a plain filesystem: a JVM death mid-loop would leave some
  // buckets new and others stale with nothing to say so. So every publish
  // (a) fully stages its output under a sibling tmp dir, (b) writes a
  // `_graft_pending` intent marker inside the live table dir listing every
  // pending move, (c) performs the moves, (d) removes the marker, (e)
  // removes the tmp dir. Each move is idempotent (skip if src gone), so a
  // crash anywhere in (c)-(e) is FINISHED — not rolled back — by the next
  // repairPending(): the staged files are complete by construction, rolling
  // forward is always safe. Single-writer per table, like the reference.

  private def pendingOf(p: Path): Path = p.resolve("_graft_pending")

  /** Every protocol MUTATION goes through this seam (see [[TableFs]] for
    * the object-store mapping); tests swap it to inject crashes between
    * publish steps. Reads stay direct NIO. */
  @volatile private[graft] var fs: TableFs = LocalTableFs

  /** Replace directory `dst` with directory `src`, surviving a crash at
    * any point — THE directory-swap primitive, branched on the store's
    * move atomicity. POSIX: clear + one rename (the marker would be dead
    * weight). Object stores (copy+delete moves): once the source starts
    * dying key-by-key, the destination is the only complete copy, so a
    * naive re-run's "clear dst, re-move src" would destroy data. The
    * `done` phase marker (one atomic PUT) freezes dst the instant the
    * copy phase completes; a repair that finds it skips straight to
    * finishing the source deletion. Every phase is idempotent:
    * clear-dst/copy re-run while src is still complete, delete-src and
    * marker cleanup re-run key-by-key. */
  private def moveTree(src: Path, dst: Path, done: Path): Unit =
    if (fs.atomicMove) {
      if (Files.exists(dst)) fs.deleteTree(dst)
      fs.move(src, dst)
    } else {
      if (!Files.exists(done)) {
        if (Files.exists(dst)) fs.deleteTree(dst)
        fs.copyTree(src, dst)
        fs.put(done, Array.emptyByteArray)
      }
      fs.deleteTree(src)
      fs.deleteIfExists(done)
    }

  /** The copy-complete marker for one pending bucket swap — inside the
    * table dir (underscore-prefixed: invisible to parquet readers). */
  private def swapDoneOf(p: Path, rel: String): Path =
    p.resolve(s"_graft_swapdone_$rel")

  /** One pending move: swap a whole bucket dir, or add one delta file.
    * Idempotent under replay — including replays where the source is
    * already consumed but a copy-complete marker remains. */
  private def applyEntry(p: Path, tmp: Path, entry: String): Unit =
    entry.split('|') match {
      case Array("swap", rel) =>
        val src = tmp.resolve(rel)
        if (Files.exists(src)) moveTree(src, p.resolve(rel), swapDoneOf(p, rel))
        else fs.deleteIfExists(swapDoneOf(p, rel)) // src consumed: only cleanup was lost
      case Array("file", srcRel, dstRel) =>
        val src = tmp.resolve(srcRel)
        if (Files.exists(src)) {
          val dst = p.resolve(dstRel)
          fs.mkdirs(dst.getParent)
          fs.deleteIfExists(dst) // re-run after crash mid-move; src is still
          fs.move(src, dst)      // complete (copy lands before the delete)
        }
      case other =>
        throw new IllegalStateException(s"corrupt _graft_pending entry: ${other.mkString("|")}")
    }

  /** Record the intent marker, perform the moves, clean up — the only code
    * path that mutates a live table tree. */
  private def publishStaged(
      p: Path, tmp: Path, entries: Seq[String], n: Int, keys: Seq[String]): Unit = {
    fs.mkdirs(p)
    fs.put(pendingOf(p),
      (tmp.getFileName.toString +: entries).mkString("", "\n", "\n").getBytes("UTF-8"))
    entries.foreach(applyEntry(p, tmp, _))
    if (!Files.exists(markerPath(p)))
      fs.put(markerPath(p), markerContent(n, keys))
    fs.deleteIfExists(pendingOf(p))
    if (Files.exists(tmp)) fs.deleteTree(tmp)
  }

  private def swapMarkerOf(p: Path): Path =
    p.resolveSibling(p.getFileName.toString + ".swap_pending")

  /** Copy-complete marker for the WHOLE-DIR swap — a sibling (the table
    * dir itself is mid-replacement, so it cannot live inside). */
  private def swapAllDoneOf(p: Path): Path =
    p.resolveSibling(p.getFileName.toString + ".swap_copied")

  // ----- advisory write lease ---------------------------------------------
  // The pending markers make every publish crash-ATOMIC, but two writers on
  // one table can still interleave read-merge-write cycles and lose the
  // earlier writer's update (both read the same base, the later swap wins).
  // A per-table lease file serializes the verbs: acquire = atomic
  // CREATE_NEW of `<table>.parquet.lease` holding (acquisition token, expiry
  // millis); a competing writer waits, and STEALS the lease only once its
  // expiry has passed (a crashed holder therefore blocks the table for at
  // most `DefaultLeaseMs`). The lease is FENCED:
  //   - every acquisition carries a unique token, and release deletes the
  //     lease only if the file still holds that token (a holder whose body
  //     outlived its expiry can never delete a legitimate stealer's lease);
  //   - a steal is rename-to-tombstone, not delete: two stealers racing on
  //     the same stale lease resolve at the atomic rename (exactly one
  //     succeeds), and the winner verifies the tombstone still holds the
  //     content it judged stale before contending (a live lease grabbed in
  //     the read→rename window is restored, not destroyed);
  //   - a held lease is RENEWED every leaseMs/3 by a daemon timer (rewritten
  //     via temp-file + atomic rename, token re-verified first), so a live
  //     verb of any duration — compactAll, a schema-evolution rewrite — is
  //     never stolen from; expiry only passes on a crashed/stalled holder;
  //   - an empty/unparseable lease body (CREATE_NEW creates, then the write
  //     lands — a reader can interleave) is treated as LIVE until the file's
  //     mtime plus the full lease window passes, never as expiry 0.
  // Reentrant within a thread (verbs may nest), so the lease serializes
  // PROCESSES, not call depth. On a shared filesystem this is the standard
  // advisory pattern; on an object store swap CREATE_NEW / rename for
  // conditional PUT / conditional copy+delete — the call sites are unchanged.

  /** How long one verb may hold the table before a peer may steal, absent
    * renewal. Live holders renew at leaseMs/3, so this bounds only how long
    * a CRASHED holder blocks the table. */
  val DefaultLeaseMs: Long = 10L * 60L * 1000L
  private val processToken = java.util.UUID.randomUUID().toString
  private val heldLeases = new ThreadLocal[scala.collection.mutable.Map[String, Int]] {
    override def initialValue(): scala.collection.mutable.Map[String, Int] =
      scala.collection.mutable.Map.empty
  }
  private lazy val leaseRenewer = {
    val ex = new java.util.concurrent.ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val t = new Thread(r, "graft-lease-renewer"); t.setDaemon(true); t
    })
    ex.setRemoveOnCancelPolicy(true)
    ex
  }
  private def leaseOf(p: Path): Path =
    p.resolveSibling(p.getFileName.toString + ".lease")

  /** (token, expiry) parsed from a lease file, or None if it vanished.
    * Unparseable/empty content reads as token "" with expiry = mtime +
    * leaseMs (live with grace — see header comment). */
  private def readLease(lease: Path, leaseMs: Long): Option[(String, Long)] =
    try {
      val parts = new String(Files.readAllBytes(lease), "UTF-8").trim.split(' ')
      val parsed = for {
        tok <- parts.headOption.filter(_.nonEmpty)
        exp <- parts.lastOption.flatMap(_.toLongOption) if parts.length >= 2
      } yield (tok, exp)
      parsed.orElse(Some(("", Files.getLastModifiedTime(lease).toMillis + leaseMs)))
    } catch { case _: java.io.IOException => None } // vanished: holder released

  /** Atomically replace the lease body with a fresh expiry iff it still
    * holds `token` AND has not already expired. Returns false (and renews
    * nothing) once the lease has been stolen, released, or allowed to
    * lapse. The expiry check is the anti-zombie guard: a process frozen
    * past its whole window (GC pause, SIGSTOP) whose renewer fires late
    * must NOT revive its claim — by then a stealer may legitimately hold
    * the path, and an unconditional replace would clobber it. Residual
    * window: the check and the moveReplace are still two steps, so a
    * steal landing in between (requires the expiry instant itself to fall
    * inside those few milliseconds) can be overwritten; closing it needs a
    * content-conditional replace (object stores: PUT with If-Match), which
    * [[TableFs]] deliberately omits because S3's ETag-conditional PUT is
    * the only real implementation and the local protocol never relies on
    * it — the data-layer publish remains crash-atomic regardless. */
  private def renewLease(lease: Path, token: String, leaseMs: Long): Boolean =
    readLease(lease, leaseMs)
      .exists(l => l._1 == token && l._2 > System.currentTimeMillis()) && {
      try {
        val tmp = lease.resolveSibling(lease.getFileName.toString + s".renew.$token")
        fs.put(tmp, s"$token ${System.currentTimeMillis() + leaseMs}\n".getBytes("UTF-8"))
        fs.moveReplace(tmp, lease)
        true
      } catch { case _: java.io.IOException => false }
    }

  /** Steal a lease judged stale at `seen`: atomic rename to a per-stealer
    * tombstone (two stealers → exactly one rename succeeds), then verify
    * the tombstone still holds `seen` — if the path's content changed in the
    * read→rename window we grabbed a LIVE lease, so restore it. */
  private def stealLease(lease: Path, seen: (String, Long), leaseMs: Long): Unit = {
    val tomb = lease.resolveSibling(
      lease.getFileName.toString + ".steal." + java.util.UUID.randomUUID())
    try {
      fs.move(lease, tomb)
      if (readLease(tomb, leaseMs).forall(got => got == seen || got._2 < System.currentTimeMillis()))
        fs.deleteIfExists(tomb) // confirmed stale: open the path for CREATE_NEW contention
      else
        try fs.move(tomb, lease) // grabbed a live lease: put it back
        catch {
          case _: java.io.IOException => // path re-occupied in the window: the
            // displaced holder's release will token-mismatch and warn; drop ours
            fs.deleteIfExists(tomb)
            System.err.println(s"graft: lease $lease displaced during contested steal")
        }
    } catch { case _: java.io.IOException => () } // lost the rename race: re-contend
  }

  /** Fenced release, symmetric with [[stealLease]]: atomically rename the
    * lease to a per-release tombstone (claiming whatever the path holds),
    * verify the tombstone carries OUR token, and only then delete. The old
    * read-token-then-delete release had a TOCTOU: a steal landing between
    * the read and the delete left the releaser deleting the stealer's live
    * lease. Here the rename is the claim — if verification shows a foreign
    * token we grabbed a live lease, so we restore it (or, if the path was
    * re-occupied inside the window, drop our tombstone and warn, exactly
    * like the contested-steal path).
    *
    * Residual window under OBJECT-STORE semantics (`fs.atomicMove ==
    * false`, as with [[S3SimTableFs]]): `fs.move` is COPY then DELETE, so
    * "the rename is the claim" degrades to two key-ops — a steal landing
    * between our COPY and our DELETE of the lease key can re-occupy the
    * path and lose its fresh lease to our trailing DELETE, the same
    * exposure the read-verify-delete release had (the fence is a strict
    * improvement only where rename is atomic). Reaching it requires the
    * lease to have ALREADY expired mid-body — the leaseMs/3 renewal
    * daemon keeps that to a stalled-process case — and the consequence is
    * a warned double-holder window, never data loss (the publish itself
    * stays crash-atomic). Closing it outright needs a delete conditional
    * on content (S3: DELETE has no If-Match; the practical upgrade is an
    * If-Match PUT of a tombstone body), which [[TableFs]] deliberately
    * omits for the same reason [[renewLease]] documents. */
  private def releaseLease(lease: Path, token: String, leaseMs: Long): Unit = {
    val tomb = lease.resolveSibling(
      lease.getFileName.toString + ".release." + java.util.UUID.randomUUID())
    try {
      fs.move(lease, tomb)
      if (readLease(tomb, leaseMs).exists(_._1 == token))
        fs.deleteIfExists(tomb) // confirmed ours: released
      else {
        System.err.println(
          s"graft: lease $lease no longer held at release (stolen after expiry?) — not deleting")
        try fs.move(tomb, lease) // grabbed a live lease: put it back
        catch {
          case _: java.io.IOException =>
            fs.deleteIfExists(tomb)
            System.err.println(s"graft: lease $lease displaced during contested release")
        }
      }
    } catch { case _: java.io.IOException => () } // already gone: nothing to release
  }

  /** Run `body` holding the table's advisory write lease. */
  private[graft] def withTableLease[T](
      p: Path,
      leaseMs: Long = DefaultLeaseMs,
      acquireTimeoutMs: Long = 10L * 60L * 1000L,
      renew: Boolean = true)(body: => T): T = {
    val key = p.toAbsolutePath.toString
    val depth = heldLeases.get()
    if (depth.getOrElse(key, 0) > 0) { // reentrant: already ours on this thread
      depth(key) += 1
      try body finally depth(key) -= 1
    } else {
      val lease = leaseOf(p)
      val token = processToken + ":" + java.util.UUID.randomUUID()
      val deadline = System.currentTimeMillis() + acquireTimeoutMs
      var acquired = false
      while (!acquired) {
        try {
          fs.mkdirs(lease.toAbsolutePath.getParent)
          fs.createNew(lease,
            s"$token ${System.currentTimeMillis() + leaseMs}\n".getBytes("UTF-8"))
          acquired = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            readLease(lease, leaseMs) match {
              case Some(seen) if seen._2 < System.currentTimeMillis() =>
                stealLease(lease, seen, leaseMs)
              case Some(seen) if System.currentTimeMillis() > deadline =>
                throw new IllegalStateException(
                  s"timed out acquiring write lease $lease (holder live until ${seen._2})")
              case _ => Thread.sleep(50L) // live holder, or vanished: re-contend shortly
            }
        }
      }
      val renewal =
        if (renew)
          Some(leaseRenewer.scheduleAtFixedRate(
            () => { renewLease(lease, token, leaseMs); () },
            math.max(1L, leaseMs / 3), math.max(1L, leaseMs / 3),
            java.util.concurrent.TimeUnit.MILLISECONDS))
        else None
      depth(key) = 1
      try body
      finally {
        depth(key) -= 1
        renewal.foreach(_.cancel(false))
        releaseLease(lease, token, leaseMs)
      }
    }
  }

  /** Finish an interrupted publish (no-op in the common case: two local
    * Files.exists probes). The marker's moves are idempotent; if the staged
    * tmp dir is already gone every move already happened and only the
    * cleanup was lost. */
  def repairPending(p: Path): Unit = {
    // interrupted whole-dir swap (sibling marker — the table dir itself may
    // be mid-replacement): the staged tmp is complete, roll forward
    val swp = swapMarkerOf(p)
    if (Files.exists(swp)) {
      val tmpName = new String(Files.readAllBytes(swp), "UTF-8").trim
      val tmp = p.resolveSibling(tmpName)
      if (tmpName.nonEmpty && Files.exists(tmp)) moveTree(tmp, p, swapAllDoneOf(p))
      else fs.deleteIfExists(swapAllDoneOf(p)) // tmp consumed: only cleanup was lost
      fs.deleteIfExists(swp)
    }
    // interrupted per-bucket / delta publish (marker inside the table dir).
    // Entries replay even when the staged tmp is gone: a swap entry whose
    // source was fully consumed may still owe its copy-complete marker
    // cleanup (applyEntry handles the missing-source case itself).
    if (Files.exists(pendingOf(p))) {
      val lines = new String(Files.readAllBytes(pendingOf(p)), "UTF-8")
        .split('\n').filter(_.nonEmpty).toSeq
      val tmp = p.resolveSibling(lines.head)
      lines.tail.foreach(applyEntry(p, tmp, _))
      fs.deleteIfExists(pendingOf(p))
      if (Files.exists(tmp)) fs.deleteTree(tmp)
    }
  }

  /** Write `content` (rows for the `touched` buckets only, no bucket
    * column) into `p`, swapping ONLY those bucket subdirectories; `keys`
    * is the bucket hash key. One file per touched bucket locally; a
    * cluster deployment raises write parallelism by salting the
    * repartition, not by changing the layout. */
  private def swapTouchedBuckets(
      content: DataFrame, p: Path, keys: Seq[String], n: Int, touched: Seq[Int]): Unit = {
    if (touched.isEmpty) return
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    content
      .withColumn(BucketCol, bucketOf(keys, n))
      .repartition(math.max(touched.size, 1), col(BucketCol))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(tmp.toString)
    // guard BEFORE any live mutation: if the write produced rows OUTSIDE
    // the touched set (a nondeterministic incoming frame re-evaluated
    // between the touched collect and the write job), abort with the live
    // table untouched — moving first would leave a partially-rewritten
    // store AND delete the stray rows
    val touchedNames = touched.map(k => s"$BucketCol=$k").toSet
    val strays = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(d => d.startsWith(s"$BucketCol=") && !touchedNames(d)).toList
      finally s.close()
    }
    if (strays.nonEmpty) {
      FsUtil.deleteTree(tmp)
      throw new IllegalStateException(
        s"bucketed write produced rows outside the touched bucket set ($strays); " +
          "is the incoming DataFrame nondeterministic?")
    }
    suffixStaged(tmp)
    val entries = touched
      .filter(k => Files.exists(tmp.resolve(s"$BucketCol=$k")))
      .map(k => s"swap|$BucketCol=$k")
    publishStaged(p, tmp, entries, n, keys)
  }

  // ----- bucket-local delta appends ----------------------------------------

  /** Delta files a bucket may accumulate before it is compacted back to its
    * one-file form. Bounds read-side file counts: at the 100 TB shape a
    * bucket is ~25 GB base + up to this many O(batch)-sized deltas. */
  val DeltaFilesMax: Int = 8

  private def isDeltaFile(name: String): Boolean =
    name.startsWith("delta-") && name.endsWith(".parquet")

  /** Delta files in bucket `k` of table `p`; None when the bucket has no
    * directory. */
  private def deltaFiles(p: Path, k: Int): Option[Int] = {
    val b = p.resolve(s"$BucketCol=$k")
    if (!Files.exists(b)) None
    else {
      val s = Files.list(b)
      try Some(s.iterator().asScala.count(f => isDeltaFile(f.getFileName.toString)))
      finally s.close()
    }
  }

  /** Column mirror of [[isDeltaFile]] over input_file_name() paths. */
  private def isDeltaFileCol: Column =
    input_file_name().rlike("/delta-[^/]*\\.parquet$")

  /** Operational report for the delta store: per bucket, base/delta file
    * and row counts plus the due-for-compaction flag — the SAME threshold
    * predicate the write path's auto-compaction uses. Lives here (not in
    * an operator module) because it must see a CONSISTENT table: it rolls
    * forward any interrupted publish first, like every other read
    * surface, and shares the bucket-column/path/delta-name definitions
    * instead of re-hardcoding them. One metadata-cheap scan; output is
    * buckets-sized. */
  def compactionReport(
      spark: SparkSession,
      dir: String,
      table: String,
      deltaFilesMax: Int = DeltaFilesMax): DataFrame = {
    val p = pathOf(dir, table)
    repairPending(p)
    scan(spark, p)
      .select(
        col(BucketCol).as("bucket"),
        isDeltaFileCol.as("d"),
        input_file_name().as("f"))
      .groupBy("bucket")
      .agg(
        countDistinct(when(!col("d"), col("f"))).as("n_base_files"),
        countDistinct(when(col("d"), col("f"))).as("n_delta_files"),
        sum(when(!col("d"), 1L).otherwise(0L)).as("base_rows"),
        sum(when(col("d"), 1L).otherwise(0L)).as("delta_rows"))
      .withColumn("needs_compaction", col("n_delta_files") > deltaFilesMax)
  }

  /** Append `content` — rows that are PURE INSERTS w.r.t. the live table,
    * already aligned to the stored schema — as `delta-*.parquet` files
    * inside their bucket dirs. Writes O(batch) bytes; every base file stays
    * byte-stable. Returns the buckets that received a delta. */
  private def appendDeltaFiles(
      content: DataFrame, p: Path, keys: Seq[String], n: Int): Seq[Int] = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".delta.tmp")
    content
      .withColumn(BucketCol, bucketOf(keys, n))
      .repartition(col(BucketCol)) // one task per non-empty bucket => one file each
      .write.partitionBy(BucketCol).mode("overwrite").parquet(tmp.toString)
    val stamp = java.util.UUID.randomUUID().toString.take(12)
    val staged = dataFiles(tmp).map(tmp.relativize)
    if (staged.isEmpty) { FsUtil.deleteTree(tmp); return Nil }
    val entries = staged.zipWithIndex.map { case (rel, i) =>
      s"file|$rel|${rel.getParent}/${bucketFileName(s"delta-$stamp-$i.parquet", bucketIdOf(rel.getParent))}"
    }
    publishStaged(p, tmp, entries, n, keys)
    staged.map(rel => bucketIdOf(rel.getParent)).distinct
  }

  /** Compact any bucket whose delta-file count exceeds [[DeltaFilesMax]]
    * back to its one-file form (a plain rewrite of just those buckets —
    * delta rows are ordinary table rows, so no merge logic is needed). */
  private def compactIfNeeded(
      spark: SparkSession, p: Path, keys: Seq[String], n: Int, candidates: Seq[Int]): Unit = {
    val over = candidates.filter(deltaFiles(p, _).exists(_ > DeltaFilesMax))
    if (over.nonEmpty) swapTouchedBuckets(readBuckets(spark, p, over), p, keys, n, over)
  }

  /** Compact EVERY bucket carrying at least `minDeltaFiles` delta files
    * back to its one-file form — the periodic maintenance pass a
    * long-running trickle ingest schedules (e.g. [[graft.streaming
    * .StreamOps.sinkToStore]]'s compactEveryBatches hook) so the store
    * converges to single-file buckets instead of idling at
    * [[DeltaFilesMax]] deltas per bucket (the per-upsert threshold only
    * fires for buckets the triggering batch touches). Metadata-only scan
    * to find due buckets; rewrites only those; holds the table lease.
    * Returns the compacted bucket ids. */
  def compactAll(
      spark: SparkSession, dir: String, table: String,
      minDeltaFiles: Int = 1): Seq[Int] = {
    val p = pathOf(dir, table)
    withTableLease(p) {
      repairPending(p)
      markerOf(p) match {
        case Some(Marker(n, keys, _)) if keys.nonEmpty && Files.exists(p) =>
          val due = (0 until n).filter(deltaFiles(p, _).exists(_ >= minDeltaFiles))
          if (due.nonEmpty) swapTouchedBuckets(readBuckets(spark, p, due), p, keys, n, due)
          due
        case _ => Nil // absent or legacy flat table: nothing bucket-shaped to compact
      }
    }
  }

  // ----- named snapshots ----------------------------------------------------
  // The reproducibility primitive a training pipeline needs from its store:
  // pin the exact table state a run read, while the live table keeps
  // ingesting. The store mutates buckets copy-on-write (whole files are
  // replaced, never written into), so a snapshot is pure FILE SHARING:
  // hard links on POSIX (O(files) metadata, zero bytes moved — the snapshot
  // owns the inodes, later replaces/compactions/deletes cannot reach it),
  // server-side COPY per key on object stores (the TableFs mapping).

  private val SnapshotsDirName = "_graft_snapshots"
  private def snapshotPath(dir: String, table: String, name: String): Path =
    Paths.get(dir, SnapshotsDirName, table, name)
  private def snapOkOf(t: Path): Path = t.resolve("_graft_snapshot_ok")
  private val SnapName = java.util.regex.Pattern.compile("[A-Za-z0-9][A-Za-z0-9._-]*")

  /** Publish a named read-only snapshot of `table`'s CURRENT committed
    * state. Taken under the table's write lease after rolling forward any
    * interrupted publish, so no concurrent bucket swap can tear it —
    * exactly one committed state is captured (bucket files, delta files,
    * and the `_graft_buckets` layout marker; the sibling lease/swap
    * protocol files are not table data and are not captured). Publish is
    * crash-safe marker-last: the tree builds under the final name and
    * `_graft_snapshot_ok` lands only when it is complete — readers never
    * trust a marker-less tree, and a re-run clears such debris and
    * completes. Fails loudly if the name is taken (snapshots are
    * immutable; [[dropSnapshot]] first to reuse a name). */
  def snapshot(dir: String, table: String, name: String): Unit = {
    require(SnapName.matcher(name).matches(), s"bad snapshot name: '$name'")
    val p = pathOf(dir, table)
    withTableLease(p) {
      repairPending(p)
      require(Files.exists(p), s"no such table: $dir/$table")
      val target = snapshotPath(dir, table, name)
      if (Files.exists(snapOkOf(target)))
        throw new IllegalStateException(s"snapshot already exists: $table@$name")
      if (Files.exists(target)) fs.deleteTree(target) // marker-less crash debris
      fs.mkdirs(target.getParent)
      fs.linkOrCopyTree(p, target)
      fs.put(snapOkOf(target), Array.emptyByteArray)
    }
  }

  /** Pin SEVERAL tables' current states under ONE snapshot name — the
    * multi-table consistent cut a training run actually needs (its input
    * is typically documents + embeddings + an index): pinning tables one
    * by one under separate lease acquisitions lets a concurrent ingest
    * land between two pins and capture mutually INCONSISTENT states. Here
    * every table's write lease is acquired first — in SORTED order, so two
    * concurrent multi-table pins (or a pin racing any other sorted
    * multi-lease holder) cannot deadlock — and all are held while each
    * table is rolled forward ([[repairPending]]), validated, and pinned
    * with the same marker-last crash-safe publish as [[snapshot]]. No
    * writer can touch ANY of the tables between the first and last pin,
    * so the captured states form one consistent cut. All-or-nothing at
    * the name level: name collisions and missing tables are checked for
    * every table BEFORE the first pin, and a failure mid-pin rolls back
    * this call's own completed pins — a half-published group never
    * survives. */
  def snapshotAll(dir: String, tables: Seq[String], name: String): Unit = {
    require(SnapName.matcher(name).matches(), s"bad snapshot name: '$name'")
    require(tables.nonEmpty, "snapshotAll: no tables given")
    require(tables.distinct.size == tables.size, s"snapshotAll: duplicate tables in $tables")
    val sorted = tables.sorted
    def pinned(t: String) = snapshotPath(dir, t, name)
    def withAllLeases[T](rest: List[String])(body: => T): T = rest match {
      case Nil => body
      case t :: more => withTableLease(pathOf(dir, t))(withAllLeases(more)(body))
    }
    withAllLeases(sorted.toList) {
      // validate EVERYTHING before pinning ANYTHING: a name collision on
      // table 3 must not leave tables 1-2 pinned
      sorted.foreach { t =>
        val p = pathOf(dir, t)
        repairPending(p)
        require(Files.exists(p), s"no such table: $dir/$t")
        val target = pinned(t)
        if (Files.exists(snapOkOf(target)))
          throw new IllegalStateException(s"snapshot already exists: $t@$name")
        if (Files.exists(target)) fs.deleteTree(target) // marker-less crash debris
      }
      val done = scala.collection.mutable.ListBuffer[String]()
      try {
        sorted.foreach { t =>
          val target = pinned(t)
          fs.mkdirs(target.getParent)
          fs.linkOrCopyTree(pathOf(dir, t), target)
          fs.put(snapOkOf(target), Array.emptyByteArray)
          done += t
        }
      } catch {
        case e: Throwable =>
          // roll back THIS call's completed pins (name-validated above, so
          // they are ours); a crash mid-pin instead leaves marker-less
          // debris the next pin under this name clears
          done.foreach(t => try fs.deleteTree(pinned(t)) catch { case _: Throwable => () })
          throw e
      }
    }
  }

  /** Read a published snapshot — same shape as [[readTable]] (bucket
    * partition column dropped), but over the pinned state: immune to
    * every write the live table has taken since. */
  def readSnapshot(spark: SparkSession, dir: String, table: String, name: String): DataFrame = {
    val target = snapshotPath(dir, table, name)
    require(Files.exists(snapOkOf(target)), s"no such snapshot: $table@$name")
    scan(spark, target).drop(BucketCol)
  }

  /** Published (marker-complete) snapshot names for a table, sorted. */
  def snapshots(dir: String, table: String): Seq[String] = {
    val base = Paths.get(dir, SnapshotsDirName, table)
    if (!Files.exists(base)) Nil
    else {
      val s = Files.list(base)
      try s.iterator().asScala
        .filter(t => Files.exists(snapOkOf(t)))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }

  /** Delete a snapshot (idempotent). POSIX: unlink of the shared inodes'
    * extra names — live data is untouched; object stores: batch DELETE of
    * the snapshot's own keys. */
  def dropSnapshot(dir: String, table: String, name: String): Unit =
    fs.deleteTree(snapshotPath(dir, table, name))

  /** Full-table copy-on-write: write ALL of `content` bucketed to a temp
    * dir (one task and one file per bucket) and swap the whole directory
    * (table creation, legacy migration, and the rare schema-evolution
    * batch). */
  private def swapAllBuckets(
      content: DataFrame, p: Path, keys: Seq[String], n: Int): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    content.withColumn(BucketCol, bucketOf(keys, n))
      .repartition(n, col(BucketCol))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(tmp.toString)
    suffixStaged(tmp)
    fs.put(markerPath(tmp), markerContent(n, keys))
    // the delete-then-move pair is its own torn window (a crash between
    // them loses the table); the staged tmp is complete, so a sibling
    // intent marker lets repairPending roll the swap forward
    val pend = swapMarkerOf(p)
    fs.put(pend, (tmp.getFileName.toString + "\n").getBytes("UTF-8"))
    moveTree(tmp, p, swapAllDoneOf(p))
    fs.deleteIfExists(pend)
  }

  /** The distinct bucket ids `incoming` lands in (one tiny agg over the
    * incoming batch — rows out = #touched buckets <= N). */
  private def touchedBuckets(incoming: DataFrame, keys: Seq[String], n: Int): Seq[Int] =
    incoming.select(bucketOf(keys, n).as("__b")).distinct()
      .collect().toSeq.map(_.getInt(0))

  /** `incoming` aligned to the stored schema (column set, types, order) —
    * only used when schemaChanges() returned false, i.e. the union schema
    * equals the stored schema. Bucket hashes MUST be computed on the
    * aligned rows: a raw long that will coerce to the stored double (or a
    * batch missing a stored column) would otherwise hash differently than
    * the row that actually gets written. */
  private def alignTo(stored: DataFrame, incoming: DataFrame): DataFrame =
    stored.limit(0).unionByName(incoming, allowMissingColumns = true)

  /** The bucketing partition column is an implementation name — a data
    * column by the same name would be clobbered at write and dropped at
    * read; fail loudly instead. */
  private def rejectReserved(incoming: DataFrame): Unit =
    // case-insensitive: Spark resolves columns case-insensitively by
    // default, so '__Bucket' would be clobbered just the same
    if (incoming.columns.exists(_.equalsIgnoreCase(BucketCol)))
      throw new IllegalArgumentException(
        s"column name '$BucketCol' is reserved by the bucketed store")

  /** Rows of `batch` whose `keys` no row of `seen` carries. Keys compare
    * NULL-SAFELY (plain equality would re-append every key holding a null,
    * forever). The seen side's keys are renamed first, so the join stays
    * unambiguous when both sides are plans over the same table. */
  private def unseen(batch: DataFrame, seen: DataFrame, keys: Seq[String]): DataFrame = {
    val renamed = keys.indices.map(i => s"__graft_k$i")
    val seenKeys = seen.select(keys.zip(renamed).map { case (k, r) => col(s"`$k`").as(r) }: _*)
    val cond = keys.zip(renamed).map { case (k, r) => batch.col(s"`$k`") <=> seenKeys.col(r) }
    batch.join(seenKeys, cond.reduce(_ && _), "left_anti")
  }

  /** A stored bucketed table a batch is merging into. */
  private final case class Bucketed(stored: DataFrame, p: Path, keys: Seq[String], n: Int)

  /** The frame both write verbs run in, under the table's lease: reject
    * the reserved column, finish any interrupted publish, then
    *  - no table yet: write `prepare(incoming)` bucketed (creation);
    *  - a legacy flat table, a marker that predates key recording, or a
    *    batch that changes the stored schema: rewrite the whole table as
    *    `evolve(stored)`, which re-routes every row by today's rule;
    *  - otherwise the incremental step, routed by the keys the marker
    *    records (a table keeps the routing it was created with, so a new
    *    row always meets its stored duplicate): align the batch to the stored
    *    schema BEFORE hashing (a long batch into a double column, or a
    *    batch missing a stored column, must hash the value that gets
    *    written), `prepare` it, pin it, collect the buckets it touches, and
    *    hand `step` the batch plus a partition-pruned scan of those
    *    buckets. `step` publishes and returns the buckets it gave delta
    *    files, which are then compacted if due.
    * `keysOf` names the routing keys of a new table with the given
    * columns. */
  private def write(
      spark: SparkSession, dir: String, table: String, incoming: DataFrame, numBuckets: Int,
      keysOf: DataFrame => Seq[String], prepare: DataFrame => DataFrame)(
      evolve: DataFrame => DataFrame)(
      step: (Bucketed, DataFrame, DataFrame) => Seq[Int]): Unit = {
    val p = pathOf(dir, table)
    withTableLease(p) {
      rejectReserved(incoming)
      repairPending(p)
      def rewrite(content: DataFrame, n: Int): Unit =
        swapAllBuckets(content, p, keysOf(content), n)
      if (!Files.exists(p)) rewrite(prepare(incoming), numBuckets)
      else {
        val stored = readTable(spark, dir, table)
        markerOf(p) match {
          case Some(Marker(n, keys, _)) if keys.nonEmpty && !schemaChanges(stored, incoming) =>
            val t = Bucketed(stored, p, keys, n)
            // the select pins the stored column order: delta files must be
            // byte-schema-identical to base files for the raw-glob contract
            val batch = prepare(alignTo(stored, incoming))
              .select(stored.columns.map(c => col(s"`$c`")): _*)
              .persist() // reused across several jobs; also pins a
                         // nondeterministic source so every job sees one batch
            try {
              val old = readBuckets(spark, p, touchedBuckets(batch, t.keys, n))
              compactIfNeeded(spark, p, t.keys, n, step(t, batch, old))
            } finally batch.unpersist()
          case m => rewrite(evolve(stored), m.fold(numBuckets)(_.n))
        }
      }
    }
  }

  // ----- public write verbs -----------------------------------------------

  /** Merge-upsert `incoming` into `dir/table.parquet` by `id`, rewriting
    * only the id-hash buckets the batch touches. Serialized against
    * concurrent writers by the table's advisory lease. */
  def upsert(
      spark: SparkSession, dir: String, table: String, incoming: DataFrame,
      numBuckets: Int = DefaultBuckets): Unit = {
    def sequenced(df: DataFrame) = df.withColumn("__seq", monotonically_increasing_id())
    write(spark, dir, table, incoming, numBuckets, _ => Seq("id"), df => mergeById(sequenced(df)))(
      stored => mergeById(stored.withColumn("__seq", lit(-1L))
        .unionByName(sequenced(incoming), allowMissingColumns = true)))(
      upsertStep(spark))
  }

  /** The incremental upsert, over a batch already merged against itself:
    * split it by what each row DOES to the stored table. Ids already
    * stored genuinely merge (their buckets pay a rewrite, which also
    * compacts them); new ids are pure inserts and append as O(batch) delta
    * files. */
  private def upsertStep(spark: SparkSession)(
      t: Bucketed, batch: DataFrame, old: DataFrame): Seq[Int] = {
    val Bucketed(stored, p, keys, nb) = t
    // NO-CHANGE detection: a batch row whose id is stored and whose
    // merge against the stored row provably changes nothing (per
    // column: null batch value keeps the stored value; a non-null
    // value changes nothing iff it null-safe-equals the stored one —
    // or, for the min/max/sum-merged observation columns, iff the
    // fold is a fixpoint) does NOT force its bucket's rewrite. An
    // idempotent re-ingest / replayed batch — the common case for a
    // crash-retried 100 TB pipeline — thus skips the whole
    // read-merge-swap write path instead of rewriting every touched
    // bucket with byte-identical content. Buckets with at least one
    // genuinely-changing row rewrite exactly as before.
    val dataCols = stored.columns.filterNot(_ == "id").toSeq
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    // map-typed columns have no equality — fall back to treating
    // every stored match as a change (the pre-fast-path behavior)
    val comparable = !stored.schema.fields.exists(f => hasMap(f.dataType))
    val diffExpr: Column =
      if (!comparable) lit(true)
      else dataCols.map { c =>
        val b = col(s"`$c`")
        val s = col(s"`__graft_st_$c`")
        c match {
          case "first_observed"  => b.isNotNull && (s.isNull || b < s)
          case "last_observed"   => b.isNotNull && (s.isNull || b > s)
          case "number_observed" => b.isNotNull && !(s.isNotNull && b === lit(0))
          case _                 => b.isNotNull && !(b <=> s)
        }
      }.reduceOption(_ || _).getOrElse(lit(false))
    // ONE pass splits the batch by what each row does to the stored
    // table AND counts both sides per bucket (previously: separate
    // semi-join, anti-join, and count jobs — at 5-row verb batches
    // the fixed per-job cost, not data volume, dominates the verb)
    val oldTagged = old.select(
      col("id") +: lit(1).as("__graft_stored") +:
        dataCols.map(c => col(s"`$c`").as(s"__graft_st_$c")): _*)
    val tagged = batch
      .join(oldTagged, Seq("id"), "left")
      .withColumn("__graft_chg", col("__graft_stored").isNotNull && diffExpr)
      .persist()
    try {
      val stats = tagged
        .select(bucketOf(keys, nb).as("__b"), col("__graft_stored"), col("__graft_chg"))
        .groupBy("__b", "__graft_stored", "__graft_chg").count().collect()
      val updBuckets = stats
        .filter(r => !r.isNullAt(1) && r.getBoolean(2)).map(_.getInt(0)).toSeq.distinct
      val nInserts = stats
        .filter(r => r.isNullAt(1) && !updBuckets.contains(r.getInt(0)))
        .map(_.getLong(3)).sum
      // delta-append the pure inserts FIRST: their buckets are
      // disjoint from the swap set, so ordering them before the
      // rewrite means no plan ever reads a file listing the swap
      // is about to delete
      val deltaBuckets =
        if (nInserts == 0) Nil // replayed/pure-update batch: skip the write job
        else appendDeltaFiles(
          tagged.where(col("__graft_stored").isNull)
            .where(!bucketOf(keys, nb).isin(updBuckets :+ -1: _*))
            // re-pin the stored column order: the equi-join put the
            // key first, and delta files must be byte-schema-
            // identical to base files for the raw-glob contract
            .select(stored.columns.map(c => col(s"`$c`")): _*),
          p, keys, nb)
      if (updBuckets.nonEmpty) {
        // rewrite buckets containing at least one genuine merge,
        // folding the batch's inserts for those buckets into the
        // same rewrite
        val oldUpd = readBuckets(spark, p, updBuckets).withColumn("__seq", lit(-1L))
        val batchUpd = batch
          .where(bucketOf(keys, nb).isin(updBuckets: _*))
          .withColumn("__seq", lit(0L))
        swapTouchedBuckets(
          mergeById(oldUpd.unionByName(batchUpd))
            .select(stored.columns.map(c => col(s"`$c`")): _*),
          p, keys, nb, updBuckets)
      }
      deltaBuckets
    } finally tagged.unpersist()
  }

  /** What [[appendKeyed]] compares rows by: its dedup key columns for a
    * table of the given columns, the routing keys of a new table (a subset
    * of the dedup key, so duplicates share a bucket), and how a batch
    * keeps one row per key. */
  sealed abstract class AppendKey(
      private[UpsertWriter] val cols: DataFrame => Seq[String],
      private[UpsertWriter] val route: DataFrame => Seq[String],
      private[UpsertWriter] val first: DataFrame => DataFrame)

  object AppendKey {
    /** The id (observed-data). */
    case object Id extends AppendKey(_ => Seq("id"), _ => Seq("id"), _.dropDuplicates("id"))

    /** A given column tuple (`__columns`' (otype, path)). The caller's
      * batch holds one row per tuple already
      * ([[graft.model.StixMeta.columnRows]]). */
    final case class Cols(keys: Seq[String]) extends AppendKey(_ => keys, _ => keys, identity)

    /** The whole row, as its name-sorted column set (provenance tables):
      * identical rows hash identically whatever the batch's column order. */
    case object Row extends AppendKey(_.columns.toSeq.sorted, _.columns.toSeq.sorted, _.distinct())

    /** The whole row, routed by the one column `on` (edge tables, on the
      * SCO side's join key): a join on `on` reads the store's buckets
      * without a shuffle. */
    final case class RowOn(on: String)
        extends AppendKey(_.columns.toSeq.sorted, _ => Seq(on), _.distinct())
  }

  /** Append the rows of `incoming` whose key is not stored yet: the first
    * sighting of a key wins, and a later sighting — conflicting or not —
    * adds nothing (the reference's INSERT ... ON CONFLICT DO NOTHING,
    * sqlstorage.py:389-392). Routes on a subset of the key, so the pruned
    * anti-join is exact and every surviving row is a pure insert: O(batch)
    * delta appends, never a bucket rewrite. */
  def appendKeyed(
      spark: SparkSession, dir: String, table: String, incoming: DataFrame,
      key: AppendKey, numBuckets: Int = DefaultBuckets): Unit =
    write(spark, dir, table, incoming, numBuckets, key.route, key.first) { stored =>
      // stored rows win; the batch is aligned to the widened schema first
      // so a whole-row key may name columns only one side has
      val batch = key.first(incoming)
      val target = stored.limit(0).unionByName(batch.limit(0), allowMissingColumns = true)
      stored.unionByName(
        unseen(alignTo(target, batch), alignTo(target, stored), key.cols(target)),
        allowMissingColumns = true)
    } { (t, batch, old) =>
      appendDeltaFiles(unseen(batch, old, key.cols(batch)), t.p, t.keys, t.n)
    }

  private def mergeById(df: DataFrame): DataFrame = {
    val dataCols = df.columns.filterNot(c => c == "id" || c == "__seq")
    // an SCO can be ALL reference lists (e.g. x-oca-asset with only
    // ip_refs/mac_refs): after reflist extraction its table is just ids
    if (dataCols.isEmpty) return df.select("id").distinct()
    // backtick-quoted refs: flattened STIX columns contain literal dots and
    // quotes (hashes.'SHA-1')
    def bq(c: String) = col(s"`$c`")
    val aggs = dataCols.map { c =>
      c match {
        case "first_observed"  => min(bq(c)).as(c)
        case "last_observed"   => max(bq(c)).as(c)
        case "number_observed" => sum(bq(c)).as(c)
        case _ =>
          // newest non-null: max over (seq, value) structs of non-null rows
          max(when(bq(c).isNotNull, struct(col("__seq").as("s"), bq(c).as("v"))))
            .getField("v").as(c)
      }
    }
    df.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }
}
