package graft.api

import graft.catalog.Catalog
import graft.ingest.{Flatten, Translate, UpsertWriter}
import graft.ingest.UpsertWriter.AppendKey
import graft.model.{StixId, StixMeta}
import graft.model.StixMeta.{NodeLink, RelLink}
import graft.pattern.Pattern
import graft.query._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The storage verb surface — the public API Kestrel calls on the reference
  * (firepit/sqlstorage.py, SURVEY §2.2), over Parquet + a recipe catalog.
  *
  * Every analytic verb registers a lazy view (a logical-plan recipe); data
  * moves only on lookup/values/count actions — exactly the reference's
  * lazy-VIEW architecture, with Catalyst in the role of the host DB planner.
  */
class Storage(val spark: SparkSession, val workDir: String) {

  java.nio.file.Files.createDirectories(java.nio.file.Paths.get(workDir))
  val catalog = new Catalog(spark, workDir)

  private def resolve(name: String): DataFrame =
    if (catalog.contains(name) || UpsertWriter.exists(workDir, name)) catalog.resolve(name)
    else throw new UnknownViewname(name)

  // ----- view persistence (the reference's __symtable survives
  //       reconnects, sqlstorage.py:176-178) ------------------------------
  //
  // Views here are plan recipes, not SQL DDL, so persistence is a verb
  // REPLAY journal: every catalog-mutating verb with serializable args
  // appends one JSON line to __symtable.jsonl, and a new Storage over the
  // same workDir replays the journal to rebuild its views against the
  // current base tables (exactly the replay semantics views already have
  // in-session). Verbs closing over arbitrary plans (assignQuery, aggregate
  // reassign) are session-transient, like the reference's temp tables.

  private val journalPath = java.nio.file.Paths.get(workDir, "__symtable.jsonl")
  private var replaying = false

  // ----- journal growth bound -----------------------------------------------
  //
  // The journal is a REPLAY log, and re-running the same verb with identical
  // args (a benchmark rep, an idempotent pipeline re-run) used to append one
  // more line each time — replay cost at Storage construction grew linearly
  // with total verb CALLS ever made against the workdir, not with distinct
  // views (measured: a round's accumulated journal doubled the q_stix verb
  // family's wall time vs a fresh workdir). The reference has no such growth:
  // its __symtable is keyed by view name (one row per view, upserted).
  //
  // Bound: per view name, remember the journal line that last (re)bound it.
  // Appending a byte-identical line while nothing rebound the name since is
  // a no-op under replay (the verbs below re-register deterministically from
  // their args and resolve other names LIVE at access time), so it is
  // skipped. Excluded from dedup — always appended — are:
  //  - verbs whose registration CAPTURES current catalog state: merge inlines
  //    its inputs' recipes; assign_query may embed arbitrary ASTs; and
  //    assign/group/join/timestamped_view read catalog.viewType(input) at
  //    registration time — a byte-identical repeat after the input was
  //    re-extracted with a DIFFERENT type is NOT replay-invisible (replaying
  //    the original line at its original journal position would resolve the
  //    stale type; the repeat, at its later position, resolves the new one) —
  //    so those verbs always append;
  //  - self-referential registrations (extract of a type into its own name,
  //    filter of a view onto itself, ...): those stack a self-shadowing
  //    layer per call, so dropping a repeat would change the view chain.
  //  - rename/remove/snapshot verbs: appended always; they also clear the
  //    involved names' memo so a later identical re-registration re-appends.
  private val lastBound = scala.collection.mutable.HashMap[String, String]()

  /** The dedup key (view name) for a re-registration line, or None when the
    * line must always append. `args` are the raw journal args. */
  private def dedupName(verb: String, args: Seq[Any]): Option[String] = {
    def s(i: Int): String = Option(args(i)).map(_.toString).orNull
    verb match {
      case "extract" if s(0) != s(1)           => Some(s(0))
      case "filter" if s(0) != s(2)            => Some(s(0))
      case "id_view" if s(0) != s(1)           => Some(s(0))
      case "appdata"                           => Some("appdata:" + s(0))
      case _                                   => None
    }
  }

  /** Is this exact line a replay-invisible repeat right now? True only when
    * the name's last (re)bind was this very line AND no appdata has been
    * journaled for the name since (re-registration resets a view's appData,
    * so with an appdata line in between, replaying the repeat is NOT a
    * no-op — it clears the appdata). */
  private def isDupLine(verb: String, args: Seq[Any], line: String): Boolean =
    dedupName(verb, args).exists(n =>
      lastBound.get(n).contains(line) &&
        (n.startsWith("appdata:") || !lastBound.contains("appdata:" + n)))

  /** Update the per-name memo for one journal line (replay and append). */
  private def noteJournal(verb: String, args: Seq[Any], line: String): Unit = {
    def s(i: Int): String = Option(args(i)).map(_.toString).orNull
    verb match {
      case "rename" =>
        Seq(s(0), s(1)).foreach { n => lastBound.remove(n); lastBound.remove("appdata:" + n) }
      case "remove" =>
        lastBound.remove(s(0)); lastBound.remove("appdata:" + s(0)); ()
      case other =>
        dedupName(other, args) match {
          case Some(n) =>
            lastBound(n) = line
            // a re-registration resets the view's appData: a previously
            // journaled appdata line no longer reflects current state
            if (!n.startsWith("appdata:")) { lastBound.remove("appdata:" + n); () }
          // a non-dedupable rebind (merge/assign_query/self-shadow) must
          // clear the memo — including the name's appdata memo: the next
          // identical dedupable line is NOT a repeat of the current
          // definition
          case None =>
            if (args.nonEmpty && s(0) != null) {
              lastBound.remove(s(0)); lastBound.remove("appdata:" + s(0)); ()
            }
        }
    }
  }

  private def journal(verb: String, args: Any*): Unit =
    if (!replaying) {
      val line = StixId.canonicalJson(Map("verb" -> verb, "args" -> args.toSeq))
      val skip = isDupLine(verb, args.toSeq, line)
      if (!skip) {
        // appends hold the same advisory lease compaction takes: the
        // pre-compaction journal was append-only (concurrent instances could
        // only interleave lines), and compaction's read→rewrite must not
        // silently drop a line a peer appends in between (ADVICE r16).
        // One line takes milliseconds, so the append's lease is short and
        // unrenewed: a holder that dies mid-append blocks the journal for
        // `AppendLeaseMs`, not the ten minutes a table verb may hold
        UpsertWriter.withTableLease(journalPath, leaseMs = Storage.AppendLeaseMs, renew = false) {
          java.nio.file.Files.write(
            journalPath,
            (line + "\n").getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        }
        noteJournal(verb, args.toSeq, line)
      }
    }

  private def replayJournal(): Unit =
    if (java.nio.file.Files.exists(journalPath)) {
      replaying = true
      try {
        val lines = java.nio.file.Files.readAllLines(journalPath)
        // kept = the journal under append-time dedup, applied retroactively
        // to lines written before the dedup existed (or by older builds):
        // an exact-duplicate re-registration with no intervening rebind of
        // the same name is replay-invisible, so it is neither executed nor
        // kept. Everything the oracles read from this file is DISTINCT-
        // keyed on (verb, args), so dropping exact duplicates of a kept
        // line cannot change any oracle result.
        val kept = new java.util.ArrayList[String](lines.size())
        lines.forEach { line =>
          if (line.nonEmpty) {
            val m = Flatten.parseJson(line).asInstanceOf[Map[String, Any]]
            val a = m("args").asInstanceOf[Seq[Any]]
            val verb = m("verb").toString
            if (isDupLine(verb, a, line)) () // replay-invisible repeat: skip + drop
            else {
              kept.add(line)
              noteJournal(verb, a, line)
              replayLine(m, a)
            }
          }
        }
        if (kept.size() < lines.size()) {
          // compact: atomic same-dir tmp + move, so a concurrent reader of
          // the journal never sees a partial file. Held under the journal's
          // advisory lease (appends take it too) and re-verified against the
          // replayed snapshot: a peer's append between our read and this
          // rewrite must survive, so if the file moved on we skip — the next
          // construction compacts instead (ADVICE r16 lost-append race)
          UpsertWriter.withTableLease(journalPath) {
            val cur = java.nio.file.Files.readAllLines(journalPath)
            if (cur == lines) {
              val tmp = journalPath.resolveSibling("__symtable.jsonl.tmp")
              java.nio.file.Files.write(tmp, kept)
              java.nio.file.Files.move(
                tmp, journalPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            }
          }
        }
      } finally replaying = false
    }

  private def replayLine(m: Map[String, Any], a: Seq[Any]): Unit = {
    def s(i: Int): String = Option(a(i)).map(_.toString).orNull
    m("verb") match {
              case "extract" => extract(s(0), s(1), s(2), s(3))
              case "filter"  => filter(s(0), s(1), s(2), s(3))
              case "assign" =>
                assign(s(0), s(1), s(2), s(3), a(4).asInstanceOf[Boolean],
                  Option(a(5)).map(_.toString.toDouble.toInt))
              case "group" =>
                group(s(0), s(1),
                  a(2).asInstanceOf[Seq[Any]].map(_.toString),
                  a(3).asInstanceOf[Seq[Any]].map { t =>
                    val x = t.asInstanceOf[Seq[Any]]
                    (x(0).toString, Option(x(1)).map(_.toString).orNull, x(2).toString)
                  })
              case "join"  => join(s(0), s(1), s(2), s(3), s(4))
              case "merge" => merge(s(0), a(1).asInstanceOf[Seq[Any]].map(_.toString))
              case "id_view" =>
                val ids = a(2).asInstanceOf[Seq[Any]].map(_.toString)
                val t = s(1)
                catalog.registerRecipe(s(0), t)(r => r(t).where(col("id").isin(ids: _*)))
              case "assign_query" =>
                assignQuery(s(0), graft.query.StageJson.fromJson(s(2)), s(1))
              case "timestamped_view" => timestampedView(s(0), s(1), s(2))
              case "rename"  => renameView(s(0), s(1))
              case "remove"  => removeView(s(0))
              case "appdata" => setAppdata(s(0), s(1))
              // snapshot pins are durable filesystem state, not plan
              // recipes: the journal lines are the provenance record and
              // replay must NOT re-execute them (see the snapshot verbs)
              case "snapshot" | "snapshot_multi" | "drop_snapshot" => ()
              case _         => ()
    }
  }

  replayJournal()

  // ----- ingest (sqlstorage.py:410-502) -----------------------------------

  /** Ingest STIX bundle(s): JSON text, file path, or http(s) URL (the
    * reference streams URL bundles via ijson-over-HTTP, raft.py:59-62).
    * Flattens the graph, splits by type, infers/evolves schema,
    * merge-upserts, and records provenance in __queries. */
  def cache(queryId: String, bundles: Seq[String]): Unit = {
    val objs = bundles.flatMap { b =>
      val json =
        if (b.trim.startsWith("{")) b
        else if (b.startsWith("http://") || b.startsWith("https://")) readUrl(b)
        else new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(b)), "UTF-8")
      Flatten.flattenBundle(json)
    }
    writeObjects(objs, queryId)
  }

  private def readUrl(url: String): String = {
    val conn = java.net.URI.create(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(120000)
    conn.setRequestProperty("Accept", "application/json")
    val in = conn.getInputStream
    try new String(in.readAllBytes(), "UTF-8")
    finally { in.close(); conn.disconnect() }
  }

  def cache(queryId: String, bundle: String): Unit = cache(queryId, Seq(bundle))

  /** Distributed ingest: a Dataset of bundle JSON documents is flattened
    * INSIDE executors (Flatten is pure/serializable) into (type, object
    * JSON) rows, typed by one census aggregate and written with the same
    * converter as [[cache]] ([[writeFlat]]) — the 100 TB path: no bundle
    * ever passes through the driver, only the metadata-sized census. */
  def cacheBundles(queryId: String, bundles: org.apache.spark.sql.Dataset[String]): Unit = {
    import bundles.sparkSession.implicits._
    writeFlat(bundles.flatMap(b => Flatten.flattenBundle(b).map(Storage.objRow))
      .toDF("otype", "obj")
      .localCheckpoint(), // parse bundles once, not once per discovered type
      queryId)
  }

  /** Write the Dataset verbs' (otype, obj) object stream. One aggregate
    * over it yields the census, and with it the type list; each type's rows
    * are then built on the executors with the converter the driver verbs
    * use ([[UpsertWriter.toRow]]), so every verb types a table alike. A
    * source of one partition is declared so, as the driver verbs' batches
    * are ([[UpsertWriter.onePartition]]): its census, type frames and
    * provenance rows then plan without exchanges. */
  private def writeFlat(source: DataFrame, queryId: String): Unit = {
    import spark.implicits._
    val flat = UpsertWriter.onePartition(source, source.rdd.getNumPartitions)
    val census = flat.as[(String, String)]
      .flatMap { case (t, obj) =>
        Storage.parseObj(obj).map { case (k, v) => (t, k, StixMeta.kindOf(v)) } }
      .toDF("otype", "path", "kind")
      .groupBy("otype", "path").agg(expr("bit_or(kind)"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    census.groupBy(_._1._1).toSeq.sortBy(_._1).foreach { case (t, typeCensus) =>
      val schema = Storage.schemaOf(typeCensus)
      val rows = flat.where(col("otype") === t).select("obj").as[String].rdd
        .map(obj => UpsertWriter.toRow(Storage.shortened(Storage.parseObj(obj)), schema))
      writeTable(t, UpsertWriter.rowsToDF(spark, rows, schema))
    }
    val meta = StixMeta.columnRows(census)
    if (meta.nonEmpty) writeTable("__columns", UpsertWriter.rowsToDF(spark, meta))
    writeTable("__queries", flat
      .where(!col("otype").isin("__contains", "__reflist"))
      .select(lit(queryId).as("query_id"), get_json_object(col("obj"), "$.id").as("sco_id"))
      .where(col("sco_id").isNotNull)
      .distinct())
  }

  /** Write one batch into table `t` by the table's rule, then drop what
    * was cached over the table — the ONE place a table's write verb is
    * chosen. SCO tables merge-upsert by id (sqlstorage.py:367-408); the
    * rest keep the first sighting of a key (INSERT ... ON CONFLICT DO
    * NOTHING, sqlstorage.py:389-392): observed-data by id, `__columns` by
    * (otype, path), the edge and provenance tables by the whole row. The
    * edge tables route on the SCO side's join key (`__contains` on
    * target_ref, `__reflist` on source_ref), so the observation joins read
    * the store's buckets without a shuffle ([[finish]]). */
  private def writeTable(t: String, df: DataFrame): Unit = {
    def append(k: AppendKey): Unit = UpsertWriter.appendKeyed(spark, workDir, t, df, k)
    t match {
      case "observed-data" => append(AppendKey.Id)
      case "__columns"     => append(AppendKey.Cols(Seq("otype", "path")))
      case "__contains"    => append(AppendKey.RowOn("target_ref"))
      case "__reflist"     => append(AppendKey.RowOn("source_ref"))
      case "__queries"     => append(AppendKey.Row)
      case _               => UpsertWriter.upsert(spark, workDir, t, df)
    }
    catalog.invalidateBase(t)
  }

  /** Post-ingest layout hook, a no-op here. The reference builds its
    * deferred B-tree indexes on the edge tables at this point
    * (sqlstorage.py:824-827, pgstorage.py:487-501). This store needs no
    * such step: every table is written as a Spark bucketed layout on its
    * join key as it is cached (`id` for SCO and observed-data tables,
    * target_ref for `__contains`, source_ref for `__reflist`), and read
    * back as a bucketed relation ([[UpsertWriter.readTable]]), so the
    * observation joins plan without a shuffle before any finish(), and
    * again after a reopen. Kept for API parity. */
  def finish(): Unit = ()

  /** Import scalar values as SCOs of `scoType` via its primary property
    * (reference load() accepts plain strings, sqlstorage.py:485-489). */
  def load(viewname: String, values: Seq[String], scoType: String): String =
    load(viewname, values, scoType, null: String)

  def load(viewname: String, values: Seq[String], scoType: String, queryId: String): String =
    load(
      viewname,
      values.map(v => Map[String, Any]("type" -> scoType, StixMeta.primaryProp(scoType) -> v)),
      scoType,
      queryId)

  /** Import plain SCO dicts (ids synthesized unless preserved), then make a
    * view of them; returns the loaded SCO type (sqlstorage.py:471-502). */
  def load(
      viewname: String,
      objects: Seq[Map[String, Any]],
      scoType: String = "",
      queryId: String = null,
      preserveIds: Boolean = true): String = {
    val typed = objects.map { o =>
      val t = o.getOrElse("type", scoType).toString
      // reference error contract (sqlstorage.py:528-534)
      if (t.isEmpty) throw new InvalidObject("missing `type`")
      val withType = o + ("type" -> t)
      if (preserveIds && o.contains("id")) withType
      else withType + ("id" -> StixId.makeid(withType))
    }
    val qid = Option(queryId).getOrElse(java.util.UUID.randomUUID().toString)
    writeObjects(typed.map(Flatten.jsonNormalize(_)), qid)
    val t = typed.head("type").toString
    val ids = typed.map(_("id").toString)
    catalog.registerRecipe(viewname, t)(r => r(t).where(col("id").isin(ids: _*)))
    journal("id_view", viewname, t, ids)
    t
  }

  /** Ingest translated rows (Translate.translate output: flat
    * `[objname#]type:attr` columns) — the aio "fast translation" write path
    * (firepit/aio/ingest.py:573-731): the data-source identity row, per-
    * object SCO rows, observation rows, `__contains` edges (rank 1, or 0
    * for dst/destination/target-named objects), `__reflist` rows from
    * `*_refs` columns, and `__queries` provenance. */
  def cacheTranslated(
      queryId: String,
      rows: Seq[Map[String, Any]],
      identity: Map[String, Any]): Unit = {
    val objs = Seq.newBuilder[Map[String, Any]]
    if (identity != null && identity.nonEmpty) objs += identity
    rows.foreach(objs ++= Translate.rowToObjects(_))
    writeObjects(objs.result(), queryId)
  }

  /** Distributed fast translation — the 100 TB ingest path. Native event
    * JSON documents are parsed, translated, and exploded into typed objects
    * INSIDE executors (Translate.translateRow is pure/serializable) and
    * written like cacheBundles, identity row included; the driver only sees
    * the distinct native-column set (for constant-value mappings) and the
    * census. */
  def cacheTranslatedEvents(
      queryId: String,
      events: org.apache.spark.sql.Dataset[String],
      stixMapJson: String,
      identityJson: String): Unit = {
    import events.sparkSession.implicits._
    val stixMap = Flatten.parseJson(stixMapJson).asInstanceOf[Map[String, Any]]
    val identity = Flatten.parseJson(identityJson).asInstanceOf[Map[String, Any]]
    val nested = Translate.needsFlatten(stixMap)
    def flatEvent(json: String): Map[String, Any] = {
      val ev = Flatten.parseJson(json).asInstanceOf[Map[String, Any]]
      if (nested) Flatten.jsonNormalize(ev) else ev
    }
    // pass 1: union of native columns, for constant-value mappings
    val present = events.flatMap(e => flatEvent(e).keys).distinct().collect().toSeq
    val valCols = Translate.constCols(stixMap, present)
    val createdNow = Translate.nowRfc3339()
    val translated = events.flatMap { e =>
      val row = Translate.translateRow(
        stixMap, Translate.builtinTransformers, flatEvent(e), identity, valCols, createdNow)
      Translate.rowToObjects(row).map(Storage.objRow)
    }
    // the data-source identity joins the batch ahead of the events, as in
    // cacheTranslated
    val ids = Option(identity).filter(_.nonEmpty).map(Storage.objRow).toSeq
    writeFlat(ids.toDS().union(translated).toDF("otype", "obj")
      .localCheckpoint(), // translate events once, not once per discovered type
      queryId)
  }

  /** Write driver-side objects: per type, a census types the table and
    * records its `__columns` rows, as [[writeFlat]] does on the executors. */
  private def writeObjects(objs: Seq[Map[String, Any]], queryId: String): Unit = {
    val colMeta = Seq.newBuilder[Map[String, Any]]
    objs.groupBy(_("type").toString).foreach { case (t, rows) =>
      val census = StixMeta.census(rows)
      colMeta ++= StixMeta.columnRows(census)
      writeTable(t, UpsertWriter.rowsToDF(spark, rows.map(Storage.shortened), Storage.schemaOf(census)))
    }
    val meta = colMeta.result()
    if (meta.nonEmpty) writeTable("__columns", UpsertWriter.rowsToDF(spark, meta))
    // provenance: every flattened SCO id came from this cache call
    val scoIds = objs
      .filter(o => !Seq("__contains", "__reflist").contains(o("type").toString))
      .flatMap(_.get("id"))
      .map(_.toString)
      .distinct
    if (scoIds.nonEmpty)
      writeTable("__queries", UpsertWriter.rowsToDF(
        spark, scoIds.map(i => Map[String, Any]("sco_id" -> i, "query_id" -> queryId))))
  }

  // ----- pattern verbs (sqlstorage.py:568-600) ----------------------------

  /** view = rows of `scoType` from cache call `queryId` matching `pattern`. */
  def extract(viewname: String, scoType: String, queryId: String, pattern: String): Unit = {
    val pred = Option(pattern).filter(_.nonEmpty).flatMap(p => Pattern.compile(p, scoType, resolve))
    catalog.registerRecipe(viewname, scoType) { r =>
      val base = r(scoType)
      val prov = r("__queries").where(col("query_id") === queryId).select(col("sco_id"))
      val scoped = base.join(prov, base("id") === prov("sco_id"), "left_semi")
      // a pattern over a type that was never ingested can reference columns
      // the id-only empty stand-in lacks; the result is empty either way
      // (sqlitestorage.py:169-171; tests/test_errors.py test_empty_results)
      pred.filter(_ => catalog.baseExists(scoType)).map(scoped.where).getOrElse(scoped)
    }
    journal("extract", viewname, scoType, queryId, pattern)
  }

  /** view = pattern filter over an existing view (sqlstorage.py:579-600). */
  def filter(viewname: String, scoType: String, inputView: String, pattern: String): Unit = {
    Validate.validateName(inputView)
    val pred = Pattern.compile(pattern, scoType, resolve)
    val input = inputView
    catalog.registerRecipe(viewname, scoType) { r =>
      pred.map(r(input).where).getOrElse(r(input))
    }
    journal("filter", viewname, scoType, inputView, pattern)
  }

  // ----- relational verbs (sqlstorage.py:446-469, 541-566, 777-852) -------

  /** Deprecated sort/group assign (sqlstorage.py:446-469). */
  def assign(
      viewname: String,
      on: String,
      op: String,
      by: String,
      asc: Boolean = true,
      limit: Option[Int] = None): Unit = {
    Validate.validateName(on)
    if (op == "sort" || op == "group") Validate.validatePath(by)
    val t = catalog.viewType(on).filter(_.nonEmpty).getOrElse(on)
    op match {
      case "sort" =>
        catalog.registerRecipe(viewname, t) { r =>
          val (df, byCol) = resolvePathColumn(r, on, t, by)
          val sorted = df.orderBy(if (asc) Deref.bq(byCol).asc else Deref.bq(byCol).desc)
          limit.map(sorted.limit).getOrElse(sorted)
        }
        // record the sort spec so lookup can re-apply it after deref joins
        // (reference ORDER BY sniff, sqlstorage.py:608-621)
        catalog.setSortKeys(viewname, Seq((pathColName(t, by), asc)))
        journal("assign", viewname, on, op, by, asc, limit.map(_.toLong).orNull)
      case "group" => group(viewname, on, Seq(by))
      case other   => throw new InvalidQuery(s"assign op $other")
    }
  }

  /** Output column name a path resolves to (the pure-naming mirror of
    * resolvePathColumn). */
  private def pathColName(scoType: String, path: String): String = {
    val links =
      if (path.contains(":")) StixMeta.parsePath(path)
      else StixMeta.parseProp(scoType, path)
    if (!links.exists(_.isInstanceOf[RelLink]))
      links.collect { case NodeLink(_, p) => p }.mkString(".")
    else {
      val prefix = links.collect { case RelLink(_, refName, _) => refName }.mkString(".")
      val leaf = links.last.asInstanceOf[NodeLink].prop
      s"$prefix.$leaf"
    }
  }

  /** Group-by with path joins and auto-aggregation (sqlstorage.py:1028-1077;
    * agg synthesis props.py:405-433). */
  def group(
      newname: String,
      viewname: String,
      by: Seq[String],
      aggs: Seq[(String, String, String)] = Nil): Unit = {
    val t = catalog.viewType(viewname).filter(_.nonEmpty).getOrElse(viewname)
    catalog.registerRecipe(newname, t) { r =>
      var df = r(viewname)
      val keys = by.map { b =>
        val (df2, c) = resolvePathColumn(r, viewname, t, b, Some(df))
        df = df2; c
      }
      val aggCols =
        if (aggs.nonEmpty)
          aggs.map { case (f, c, a) =>
            if (c == null || c == "*") Agg(f, None, a).toColumn
            else {
              // agg attrs may be deref paths too (sqlstorage.py:1060-1067):
              // resolve the joins and aggregate over the joined column
              val (df2, rc) = resolvePathColumn(r, viewname, t, c, Some(df))
              df = df2
              aggOver(f, rc, a)
            }
          }
        else autoAggs(t, df, keys)
      if (aggCols.isEmpty)
        // nothing aggregatable: grouped keys only (reference renders a bare
        // GROUP BY, i.e. distinct key tuples)
        df.select(keys.map(Deref.bq): _*).distinct().orderBy(keys.map(Deref.bq): _*)
      else
        // the grouped output keeps the resolved key names verbatim
        // (including dotted path keys like src_ref.value) — order by those
        df.groupBy(keys.map(Deref.bq): _*)
          .agg(aggCols.head, aggCols.tail: _*)
          .orderBy(keys.map(Deref.bq): _*)
    }
    journal("group", newname, viewname, by, aggs.map(t => Seq(t._1, t._2, t._3)))
  }

  private def autoAggs(scoType: String, df: DataFrame, keys: Seq[String]): Seq[Column] =
    df.schema.fields.toSeq
      .filterNot(f => keys.contains(f.name))
      .flatMap(f => StixMeta.autoAgg(scoType, f.name, f.dataType.simpleString))
      .map { case (func, c, alias) => aggOver(func, c, alias) }

  /** Aggregate over a resolved (possibly dotted) column name. */
  private def aggOver(func: String, c: String, alias: String): Column = {
    val cc = Deref.bq(c)
    (func.toUpperCase match {
      // functions.count written out: Storage.count(viewname) shadows it here
      case "COUNT"   => org.apache.spark.sql.functions.count(cc)
      case "SUM"     => sum(cc)
      case "MIN"     => min(cc)
      case "MAX"     => max(cc)
      case "AVG"     => avg(cc)
      case "NUNIQUE" => count_distinct(cc)
      case o         => throw new InvalidAggregateFunction(o)
    }).as(alias)
  }

  /** Equi-join of two views; shared columns coalesced (sqlstorage.py:541-566). */
  def join(viewname: String, lVar: String, lOn: String, rVar: String, rOn: String): Unit = {
    Validate.validateName(lVar)
    Validate.validateName(rVar)
    val t = catalog.viewType(lVar).filter(_.nonEmpty).getOrElse("")
    catalog.registerRecipe(viewname, t) { r =>
      val l = r(lVar)
      val rt = r(rVar)
      val shared = l.columns.toSet.intersect(rt.columns.toSet)
      val joined = l.alias("l").join(rt.alias("r"), col(s"l.$lOn") === col(s"r.$rOn"), "inner")
      val outCols =
        l.columns.map(c =>
          if (shared.contains(c)) coalesce(col(s"l.$c"), col(s"r.$c")).as(c)
          else col(s"l.$c")) ++
          rt.columns.filterNot(shared.contains).map(c => col(s"r.$c"))
      joined.select(outCols.toSeq: _*)
    }
    journal("join", viewname, lVar, lOn, rVar, rOn)
  }

  /** UNION (with dedup) of same-typed views (sqlstorage.py:777-793). */
  def merge(viewname: String, inputViews: Seq[String]): Unit = {
    inputViews.foreach(Validate.validateName)
    val types = inputViews.map(v => catalog.viewType(v).filter(_.nonEmpty).getOrElse(v)).distinct
    if (types.length > 1)
      throw new IncompatibleType(s"cannot merge types: ${types.mkString(", ")}")
    // inline each input's CURRENT definition (the reference unions the
    // expanded viewdefs, sqlstorage.py:777-793): merged survives source
    // removal; other names inside those definitions still resolve live
    val snapshots = inputViews.map { v =>
      catalog.viewRecipe(v).getOrElse((r: String => DataFrame) => r(v))
    }
    catalog.registerRecipe(viewname, types.head) { r =>
      snapshots.map(_(r)).reduce(_.unionByName(_, allowMissingColumns = true)).distinct()
    }
    journal("merge", viewname, inputViews)
  }

  /** Register a view from an arbitrary Stage-ADT query; grouped queries with
    * no aggregation get auto-aggs (sqlstorage.py:829-852). */
  def assignQuery(viewname: String, query: GQuery, scoType: String = ""): Unit = {
    val hasGroup = query.stages.exists(_.isInstanceOf[Group])
    val hasAgg = query.stages.exists(_.isInstanceOf[Aggregation])
    val q =
      if (hasGroup && !hasAgg) {
        val keys = query.stages.collectFirst { case Group(cols) => cols.map(_.outName) }.get
        val base = query.stages.collectFirst { case Table(n) => n }.get
        val baseType = catalog.viewType(base).filter(_.nonEmpty).getOrElse(base)
        val aggCols = autoAggs(baseType, resolve(base), keys)
        GQuery(query.stages.flatMap {
          case g: Group => Seq(g, Aggregation(aggCols.map(RawAgg)))
          case s        => Seq(s)
        })
      } else query
    // ordering by a dereferenced path ("dst_ref.value") the view doesn't
    // carry: resolve the base through auto-deref for the sort, then project
    // the view's own columns back (the reference accepts such ORDER BYs —
    // SQLite's quoted-identifier fallback — but never actually sorts;
    // sorting for real is the useful reading of the same API)
    val baseName = query.stages.collectFirst { case Table(n) => n }
    // a sort column the query's own projection produces needs no deref help
    val projectedNames = query.stages
      .collect { case Projection(cols) => cols.map(_.outName) }.flatten.toSet
    val dottedSort = query.stages
      .collect { case o: graft.query.Order => o.keys.map(_.col) }.flatten
      .filter(c => c.contains("_ref.") && !projectedNames.contains(c))
    val groupedQ = query.stages.exists(s =>
      s.isInstanceOf[Group] || s.isInstanceOf[Aggregation])
    catalog.registerRecipe(viewname, scoType) { r =>
      val wrap = !groupedQ && dottedSort.nonEmpty && baseName.exists { b =>
        val have = r(b).columns.toSet
        dottedSort.exists(!have.contains(_))
      }
      if (wrap) {
        val b = baseName.get
        val base = r(b)
        val keep = base.columns.toSeq
        // graft ONLY the sort paths onto the base rows (id-correlated), so
        // the resulting view keeps exactly the base view's columns; walk
        // over the CAPTURED base df — resolving `b` by name would recurse
        // when the view redefines itself
        val dr = Deref.autoDerefOver(this, base, b, Some(("id" +: dottedSort).distinct))
        val based = base.join(dr, Seq("id"), "left_outer")
        q.df(n => if (n == b) based else r(n)).select(keep.map(Deref.bq): _*)
      } else q.df(r)
    }
    // record the query's final sort so lookup re-applies it after deref
    query.stages.collect { case o: graft.query.Order => o.keys }.lastOption.foreach { ks =>
      catalog.setSortKeys(viewname, ks.map(k => (k.col, k.asc)))
    }
    // Query-AST views persist when the AST is pure data; plans embedding
    // live Catalyst Columns stay session-transient (StageJson)
    graft.query.StageJson.toJson(query).foreach(j =>
      journal("assign_query", viewname, scoType, j))
  }

  def runQuery(q: GQuery): DataFrame = q.df(resolve)

  /** Write analytic results back (sqlstorage.py:504-539): id-bearing rows
    * merge-upsert into their type tables (with unresolve splitting of
    * `x_ref.prop` columns); no-id aggregates become a materialized table. */
  def reassign(viewname: String, objects: Seq[Map[String, Any]]): Unit = {
    if (objects.isEmpty) return // reference ignores empty input (sqlstorage.py:508)
    // the FIRST object picks the path (sqlstorage.py:512); on the id-bearing
    // path a later object missing its id is an error, not a silent downgrade
    if (objects.head.contains("id")) {
      objects.find(!_.contains("id")).foreach(_ => throw new InvalidObject("missing `id`"))
      val split = Deref.unresolve(objects)
      // provenance id derived from the written id set (reference uses a
      // random uuid4; any identifier satisfies the contract, and a
      // content-keyed uuid5 makes replaying the same reassign a no-op
      // instead of growing __queries by one provenance set per run)
      val qid = graft.model.Uuid5(graft.model.StixId.Namespace,
        "reassign:" + viewname + ":" +
          objects.map(_("id").toString).sorted.mkString(",")).toString
      writeObjects(split.map(o => Flatten.jsonNormalize(o)), qid)
      val ids = objects.map(_("id").toString)
      val t = objects.head("id").toString.split("--").head
      catalog.registerRecipe(viewname, t)(r => r(t).where(col("id").isin(ids: _*)))
      journal("id_view", viewname, t, ids)
    } else {
      val df = UpsertWriter.rowsToDF(spark, objects)
      catalog.registerDF(viewname, df)
    }
  }

  // ----- read verbs (sqlstorage.py:602-729) -------------------------------

  /** Read a view with automatic reference dereferencing (SURVEY §2.3). */
  def lookup(
      viewname: String,
      cols: Seq[String] = Nil,
      limit: Option[Int] = None,
      offset: Int = 0): Seq[Map[String, Any]] = {
    Validate.validateName(viewname) // malformed names first (sqlstorage.py lookup contract)
    // renamed-away names are gone from the symbol table: lookup must raise
    // (test_clobber_viewname); only captured recipes follow rename aliases
    if (!catalog.contains(viewname) && !UpsertWriter.exists(workDir, viewname))
      throw new UnknownViewname(viewname)
    val t = catalog.viewType(viewname).filter(_.nonEmpty).getOrElse(viewname)
    if (cols.nonEmpty) {
      // a requested column must exist on the view or be a valid STIX path
      // (reference raises InvalidAttr, sqlstorage.py:628-634)
      val dbcols = resolve(viewname).columns.toSet
      cols.filterNot(dbcols.contains).foreach { c =>
        try Validate.validatePath(c)
        catch { case _: InvalidStixPath => throw new InvalidAttr(c) }
      }
    }
    var df = Deref.autoDeref(this, viewname, if (cols.isEmpty) None else Some(cols))
    // deref joins reorder rows; re-apply the view's recorded sort
    // (reference sort-preservation sniff, sqlstorage.py:608-621)
    val applicable = catalog.sortKeys(viewname).filter { case (c, _) => df.columns.contains(c) }
    if (applicable.nonEmpty)
      df = df.orderBy(applicable.map { case (c, asc) =>
        if (asc) Deref.bq(c).asc else Deref.bq(c).desc
      }: _*)
    if (offset > 0) df = df.offset(offset)
    limit.foreach(n => df = df.limit(n))
    val typeVal = t
    // type is synthesized only for "*" lookups or when explicitly asked
    // (sqlstorage.py:661-664)
    val addType = cols.isEmpty || cols.contains("type")
    df.collect().toSeq.map { row =>
      val m = row.schema.fieldNames.zip(row.toSeq).toMap
      if (addType && !m.contains("type")) m + ("type" -> typeVal) else m
    }
  }

  /** Single column (STIX path, implicit joins) as a lazy DataFrame — the
    * plan behind values(); exposed so the driver's oracle can hash-check
    * the path-join machinery without a collect. */
  def valuesDF(path: String, viewname: String): DataFrame = {
    val t = catalog.viewType(viewname).filter(_.nonEmpty).getOrElse(viewname)
    val (df, c) = resolvePathColumn(resolve, viewname, t, path)
    df.select(Deref.bq(c))
  }

  /** Single column (STIX path, implicit joins) as values (sqlstorage.py:667-683). */
  def values(path: String, viewname: String): Seq[Any] =
    valuesDF(path, viewname).collect().toSeq.map(_.get(0))

  def count(viewname: String): Long = resolve(viewname).count()

  /** All table names: parquet datasets + materialized reassign results
    * (the reference's sqlite tables, sqlitestorage.py:268-274). */
  def tables(): Seq[String] =
    (UpsertWriter.tables(workDir) ++ catalog.materializedNames)
      .filterNot(_.startsWith("__")).distinct

  /** Table names that are SCO types = tables minus symbol-table names
    * (sqlitestorage.py:276-285); identity and observed-data are types. */
  def types(): Seq[String] =
    UpsertWriter.tables(workDir).filterNot(t => t.startsWith("__") || catalog.contains(t))
  def views(): Seq[String] = catalog.viewNames
  def tableType(viewname: String): Option[String] = catalog.viewType(viewname)
  def columns(name: String): Seq[String] = resolve(name).columns.toSeq
  def schema(name: String): Seq[(String, String)] =
    resolve(name).schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  /** Column metadata recorded at ingest: full STIX path -> shortened column
    * name + dtype per object type (__columns table; reference
    * sqlstorage.py:187-189, consumed by aio/asyncstorage.py:199-224). */
  def columnsMetadata(otype: String): Seq[Map[String, Any]] =
    if (!UpsertWriter.exists(workDir, "__columns")) Nil
    else
      resolve("__columns")
        .where(col("otype") === otype)
        .orderBy("path")
        .collect().toSeq
        .map(r => r.schema.fieldNames.zip(r.toSeq).toMap)

  /** Resolve a full STIX property path to its stored column name. */
  def columnShortname(otype: String, path: String): Option[String] =
    columnsMetadata(otype)
      .collectFirst { case m if m.get("path").contains(path) => m("shortname").toString }

  def removeView(name: String): Unit = { catalog.removeView(name); journal("remove", name) }

  /** Delete ALL data in this store — tables, journal and views
    * (sqlitestorage.py:323-329 removes the db file). */
  def delete(): Unit = {
    catalog.viewNames.toList.foreach(catalog.removeView)
    UpsertWriter.tables(workDir).foreach(catalog.invalidateBase)
    val p = java.nio.file.Paths.get(workDir)
    if (java.nio.file.Files.exists(p)) {
      // shared leak-free recursive delete (graft.ingest.FsUtil)
      val top = java.nio.file.Files.list(p)
      try top.forEach(graft.ingest.FsUtil.deleteTree(_)) finally top.close()
    }
  }
  def renameView(o: String, n: String): Unit = { catalog.renameView(o, n); journal("rename", o, n) }
  def setAppdata(view: String, data: String): Unit = {
    catalog.setAppData(view, data)
    journal("appdata", view, data)
  }
  def getAppdata(view: String): Option[String] = catalog.getAppData(view)

  // ----- snapshots: reproducibility pins over the bucketed store ---------
  //
  // The writer-level pins (UpsertWriter.snapshot family: lease-consistent,
  // crash-safe marker-last publish, zero-copy hard links on POSIX / one
  // server-side COPY on object stores) promoted to the verb surface every
  // real consumer drives — a training run pins its input BY NAME through
  // the same Storage it queries, instead of dropping to writer internals.
  // Journaled for PROVENANCE: a pin is durable filesystem state, not a
  // plan recipe, so replay records it without re-executing (re-pinning the
  // CURRENT table state under an old name on replay would silently change
  // what the name means; a missing snapshot dir means it was dropped or
  // never published — both answered by the journal itself).

  /** Pin `table`'s current state under snapshot `name`. Fails if the name
    * is already published (pins are immutable — drop first to re-pin). */
  def snapshot(table: String, name: String): Unit = {
    UpsertWriter.snapshot(workDir, table, name)
    journal("snapshot", table, name)
  }

  /** Pin SEVERAL tables under one snapshot name in ONE verb call — the
    * consistent cut a training run pins its whole input with (documents +
    * embeddings + an index): all tables' leases are held simultaneously
    * while the pins land (sorted acquisition order — deadlock-free; see
    * [[graft.ingest.UpsertWriter.snapshotAll]]), so no concurrent ingest
    * can slip between two tables' pins, and the group is all-or-nothing.
    * Journaled as ONE entry — one name, one provenance record. Read each
    * table back with [[readSnapshot]] under the shared name. */
  def snapshot(tables: Seq[String], name: String): Unit = {
    UpsertWriter.snapshotAll(workDir, tables, name)
    journal("snapshot_multi", tables.mkString(","), name)
  }

  /** Read a pinned snapshot — same frame shape as the live table, immune
    * to every write the table has taken since the pin. */
  def readSnapshot(table: String, name: String): DataFrame =
    UpsertWriter.readSnapshot(spark, workDir, table, name)

  /** Published snapshot names of `table`, sorted. */
  def snapshots(table: String): Seq[String] =
    UpsertWriter.snapshots(workDir, table)

  /** Drop a pinned snapshot (idempotent; live data untouched). */
  def dropSnapshot(table: String, name: String): Unit = {
    UpsertWriter.dropSnapshot(workDir, table, name)
    journal("drop_snapshot", table, name)
  }

  /** Bulk view metadata: one row per view with (name, type, appdata) — the
    * reference's __symtable dump (get_view_data, sqlstorage.py:761-771). */
  def getViewData(viewnames: Seq[String] = Nil): Seq[Map[String, Any]] = {
    val names = if (viewnames.nonEmpty) viewnames.filter(catalog.contains) else catalog.viewNames
    names.map(n =>
      Map[String, Any](
        "name" -> n,
        "type" -> catalog.viewType(n).getOrElse(""),
        "appdata" -> catalog.getAppData(n).orNull))
  }

  // ----- observation-weighted verbs (sqlstorage.py:854-1026) --------------

  /** view ⋈ __contains ⋈ observed-data (the observation join every
    * weighted verb shares). `v` may already carry path-join extensions. */
  private def observationJoinDF(v: DataFrame): DataFrame = {
    val contains = resolve("__contains")
    val obs = resolve("observed-data")
    v.join(contains, v("id") === contains("target_ref"))
      .join(obs, contains("source_ref") === obs("id"))
  }

  private def observationJoin(viewname: String): DataFrame =
    observationJoinDF(resolve(viewname))

  /** Resolve a (possibly ref) path on a view: returns the join-extended
    * frame and the column to read. `ipv4-addr:value` anchors on the view's
    * own type; `src_ref.value` adds the deref join (path_joins,
    * sqlstorage.py:107-140). */
  private def pathOn(viewname: String, path: String): (DataFrame, String) = {
    val t = catalog.viewType(viewname).filter(_.nonEmpty).getOrElse(viewname)
    resolvePathColumn(resolve, viewname, t, path)
  }

  /** Observation-weighted frequency as a (lazy) DataFrame; the key column
    * is named after the path as passed, matching the reference's rows-out
    * keys (value_counts, sqlstorage.py:854-874). */
  def valueCountsDF(viewname: String, path: String): DataFrame = {
    val (v, c) = pathOn(viewname, path)
    observationJoinDF(v)
      .groupBy(Deref.bq(c).as(path))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"))
      .orderBy(Deref.bq(path))
  }

  def valueCounts(viewname: String, path: String): Seq[(Any, Long)] =
    valueCountsDF(viewname, path).collect().toSeq.map(r => (r.get(0), r.getLong(1)))

  /** SUM(number_observed) over the observation join, optionally restricted
    * to rows whose resolved `path` equals `value` (sqlstorage.py:891-911). */
  def numberObservedDF(viewname: String, path: String, value: Any = null): DataFrame = {
    val (v, c) = pathOn(viewname, path)
    val base = observationJoinDF(v)
    val filtered = Option(value).map(x => base.where(Deref.bq(c) === lit(x))).getOrElse(base)
    filtered.agg(coalesce(sum("number_observed"), lit(0L)).as("number_observed"))
  }

  def numberObserved(viewname: String, path: String, value: Any = null): Long =
    numberObservedDF(viewname, path, value).head().getLong(0)

  /** Attach observation timestamps to each SCO row; obs id renamed
    * observation_id; ordered by the attribute; optional path=value
    * restriction with ref-path resolution (sqlstorage.py:913-990). */
  def timestamped(
      viewname: String,
      path: String = null,
      value: Any = null,
      timestamp: String = "first_observed"): DataFrame = {
    val (v, filterCol) = Option(path) match {
      case Some(p) => pathOn(viewname, p)
      case None    => (resolve(viewname), null)
    }
    val baseCols = resolve(viewname).columns
    val contains = resolve("__contains")
    val obs = resolve("observed-data")
      .withColumnRenamed("id", "observation_id")
    var df = v
      .join(contains, v("id") === contains("target_ref"))
      .join(obs, contains("source_ref") === col("observation_id"))
    if (filterCol != null && value != null) df = df.where(Deref.bq(filterCol) === lit(value))
    if (path != null)
      // with a path, the reference projects ONLY (timestamp, path)
      // (extract_observeddata_attribute proj; test_storage.py:778-779)
      df.select(col(timestamp), Deref.bq(filterCol).as(path)).orderBy(col(timestamp))
    else
      df.select(col("observation_id") +: col(timestamp) +: baseCols.map(c => v(s"`$c`")): _*)
        .orderBy(col(timestamp))
  }

  /** Attach observed-data attributes to each SCO row
    * (extract_observeddata_attribute, sqlstorage.py:913-976): `attributes`
    * come from the observation ('id' surfaces as observation_id); `paths`
    * restricts/projects view columns (all columns when empty); with exactly
    * one path, `value` filters on its resolved column. */
  def extractObservedDataAttribute(
      viewname: String,
      attributes: Seq[String],
      paths: Seq[String] = Nil,
      value: Any = null,
      limit: Option[Int] = None): DataFrame = {
    var v = resolve(viewname)
    val projected = paths.filter(_ != "*").map { p =>
      val (v2, c) = resolvePathColumn(
        resolve, viewname, catalog.viewType(viewname).filter(_.nonEmpty).getOrElse(viewname),
        p, Some(v))
      v = v2
      p -> c
    }
    val contains = resolve("__contains")
    val obs = resolve("observed-data").withColumnRenamed("id", "observation_id")
    var df = v
      .join(contains, v("id") === contains("target_ref"))
      .join(obs, contains("source_ref") === col("observation_id"))
    if (value != null && projected.length == 1)
      df = df.where(Deref.bq(projected.head._2) === lit(value))
    val attrCols = attributes.map {
      case "id" => col("observation_id")
      case a    => obs.col(s"`$a`")
    }
    val projCols: Seq[Column] =
      if (projected.nonEmpty) projected.map { case (p, c) => Deref.bq(c).as(p) }
      else resolve(viewname).columns.toSeq.map(c => v(s"`$c`"))
    var out = df.select(attrCols ++ projCols: _*).orderBy(attrCols: _*)
    limit.foreach(n => out = out.limit(n))
    out
  }

  /** Register timestamped(input) as a live dependent VIEW: the recipe
    * replays on every resolve, so later upserts into the input's base
    * tables are visible — the reference's assign_query(timestamped(...,
    * run=False)) shape (test_storage.py:394-428). */
  def timestampedView(
      viewname: String,
      input: String,
      timestamp: String = "first_observed"): Unit = {
    val in = input
    val ts = timestamp
    catalog.registerRecipe(viewname, catalog.viewType(in).getOrElse("")) { _ =>
      timestamped(in, timestamp = ts)
    }
    journal("timestamped_view", viewname, input, timestamp)
  }

  /** (MIN(first_observed), MAX(last_observed), SUM(number_observed)) as a
    * one-row DataFrame, optionally restricted to resolved `path` = `value`
    * (sqlstorage.py:992-1026). Timestamps are RFC-3339 text at rest, so
    * text MIN/MAX == temporal MIN/MAX (reference text_min/text_max,
    * sqlstorage.py:149-152). */
  def summaryDF(viewname: String, path: String = null, value: Any = null): DataFrame = {
    val base = Option(path) match {
      case Some(p) =>
        val (v, c) = pathOn(viewname, p)
        val joined = observationJoinDF(v)
        Option(value).map(x => joined.where(Deref.bq(c) === lit(x))).getOrElse(joined)
      case None => observationJoin(viewname)
    }
    base.agg(
      min("first_observed").as("first_observed"),
      max("last_observed").as("last_observed"),
      coalesce(sum("number_observed"), lit(0L)).as("number_observed"))
  }

  def summary(viewname: String, path: String = null, value: Any = null): (String, String, Long) = {
    val r = summaryDF(viewname, path, value).head()
    (Option(r.get(0)).map(_.toString).orNull,
      Option(r.get(1)).map(_.toString).orNull,
      r.getLong(2))
  }

  // ----- path resolution (sqlstorage.py:107-140) --------------------------

  /** Resolve a STIX path (possibly with implicit ref joins) to a usable
    * column on a (possibly join-extended) frame. */
  private[graft] def resolvePathColumn(
      r: String => DataFrame,
      viewname: String,
      scoType: String,
      path: String,
      base: Option[DataFrame] = None): (DataFrame, String) = {
    Validate.validatePath(path)
    val df0 = base.getOrElse(r(viewname))
    // a materialized/grouped frame may already carry the dotted path as a
    // flat column (e.g. re-sorting a reassigned group by 'src_ref.value');
    // the reference checks view columns before synthesizing path joins
    // (sqlstorage.py:624-639)
    if (df0.columns.contains(path)) return (df0, path)
    val links =
      if (path.contains(":")) StixMeta.parsePath(path)
      else StixMeta.parseProp(scoType, path)
    if (links.isEmpty) throw new InvalidStixPath(path)
    val hasRel = links.exists(_.isInstanceOf[RelLink])
    if (!hasRel) {
      val c = links.collect { case NodeLink(_, p) => p }.mkString(".")
      // "no such column" is a typed error, not an engine AnalysisException
      // (sqlitestorage.py:166-168 -> InvalidAttr)
      if (!df0.columns.contains(c)) throw new InvalidAttr(c)
      (df0, c)
    } else {
      var df = df0
      var lastPrefix = ""
      links.foreach {
        case RelLink(_, refName, toType) =>
          val alias = refName.stripSuffix("_refs").stripSuffix("_ref")
          val prefix = if (lastPrefix.isEmpty) refName else s"$lastPrefix.$refName"
          if (refName.endsWith("_refs")) {
            val rl = r("__reflist").where(col("ref_name") === refName)
              .select(col("source_ref"), col("target_ref"))
            val tgt = prefixed(r(toType), prefix)
            df = df
              .join(rl, Deref.bq(if (lastPrefix.isEmpty) "id" else s"$lastPrefix.id") === rl("source_ref"))
              .join(tgt, rl("target_ref") === tgt.col(s"`$prefix.id`"))
          } else {
            val keyCol = if (lastPrefix.isEmpty) refName else s"$lastPrefix.$refName"
            val tgt = prefixed(r(toType), prefix)
            df = df.join(tgt, Deref.bq(keyCol) === tgt.col(s"`$prefix.id`"), "left_outer")
          }
          lastPrefix = prefix
        case _ => ()
      }
      val leaf = links.last.asInstanceOf[NodeLink].prop
      (df, s"$lastPrefix.$leaf")
    }
  }

  private def prefixed(df: DataFrame, prefix: String): DataFrame =
    df.select(df.columns.map(c => col(s"`$c`").as(s"$prefix.$c")).toSeq: _*)
}

object Storage {
  /** How long a journal append holds the journal's lease. Compaction
    * takes the renewed `UpsertWriter.DefaultLeaseMs`. */
  private[graft] val AppendLeaseMs: Long = 10L * 1000L

  /** One object as a Dataset-verb row: its type, and the rest as JSON
    * (type and spec_version never become columns, splitter.py:240-241). */
  private def objRow(o: Map[String, Any]): (String, String) =
    (o("type").toString, StixId.canonicalJson(o - "type" - "spec_version"))

  private def parseObj(json: String): Map[String, Any] =
    Flatten.parseJson(json).asInstanceOf[Map[String, Any]]

  /** Keys shortened to column names at ingest (splitter.py:240-256). */
  private def shortened(o: Map[String, Any]): Map[String, Any] =
    o.map { case (k, v) => StixMeta.shortenKey(k) -> v }

  /** A table's schema from its census: paths shortened to columns. */
  private def schemaOf(census: Map[(String, String), Int]): org.apache.spark.sql.types.StructType =
    UpsertWriter.schemaOf(census.toSeq.groupMapReduce(e => StixMeta.shortenKey(e._1._2))(_._2)(_ | _))
}
