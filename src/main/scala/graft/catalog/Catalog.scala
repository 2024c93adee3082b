package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Engine-owned symbol table: name -> view definition.
  *
  * The reference keeps named views in `__symtable` and defines every analytic
  * result as a SQL VIEW over base tables (firepit/sqlstorage.py:176-178,
  * 218-226; view DDL firepit/sqlitestorage.py:192-218). Views there are lazy
  * and *replayed* against current base-table contents; dependent views see
  * updates (pinned by reference tests/test_storage.py:394-428).
  *
  * Here a view is a recipe `resolve => DataFrame` re-run on each access, so
  * laziness and update-visibility come from DataFrame immutability + replay.
  * Self-redefinition ("view defined in terms of its own previous definition",
  * firepit/sqlitestorage.py:199-211) is just closing over the previous recipe
  * before rebinding — no dependency-cycle machinery needed.
  */
class Catalog(val spark: SparkSession, val dataDir: String) {

  case class ViewDef(
      recipe: (String => DataFrame) => DataFrame,
      scoType: String = "",
      var appData: String = null,
      /** (column, ascending) sort spec recorded by sorting verbs so lookup
        * can re-apply view order after deref joins (sqlstorage.py:608-621). */
      var sortKeys: Seq[(String, Boolean)] = Nil,
      /** true for registerDF results (reassign materializations) — these
        * count as TABLES in the reference's catalog verbs
        * (test_storage.py:341-343). */
      materialized: Boolean = false
  )

  private val views = mutable.LinkedHashMap[String, ViewDef]()
  private val baseCache = mutable.HashMap[String, DataFrame]()
  // old name -> new name after renameView: dependent recipes that captured
  // the old name keep resolving, matching the reference's pg backend where
  // dependent views follow a renamed view (they track the object, not the
  // text). Re-registering the old name clears its alias.
  private val aliases = mutable.HashMap[String, String]()

  private def canonical(name: String): String = {
    var n = name
    var guard = 0
    while (!views.contains(n) && aliases.contains(n) && guard < 16) { n = aliases(n); guard += 1 }
    n
  }

  /** Resolve a relation name: registered view first (following rename
    * aliases), else a base parquet table under `dataDir`. Base reads are
    * cached per catalog (one logical scan node reused across the session;
    * Catalyst prunes columns/filters per consumer). */
  def resolve(name: String): DataFrame =
    views.get(canonical(name)) match {
      case Some(v) => v.recipe(resolve)
      case None =>
        baseCache.getOrElseUpdate(name, readBase(name))
    }

  /** A base table through the one stored-table reader
    * ([[graft.ingest.UpsertWriter.readTable]]: rolls an interrupted publish
    * forward, drops the bucket column, coalesces small stores). Parquet
    * TIMESTAMP(NANOS) is read as raw long (nanosAsLong, set in the session
    * builder — Spark has no nanosecond timestamp type); normalize to
    * TimestampType at the scan by integer-dividing to micros, matching how
    * nanos-aware engines truncate. Pure projection — stays in the scan's
    * codegen stage, no extra pass. */
  private def readBase(name: String): DataFrame = {
    // a view over a type that was never ingested yields EMPTY results, not an
    // error — the reference maps sqlite's "no such table: main.X" to an empty
    // cursor (sqlitestorage.py:169-171; tests/test_errors.py
    // test_empty_results). Schema is id-only: nothing downstream can know
    // more about a table that never existed.
    if (!graft.ingest.UpsertWriter.exists(dataDir, name))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types
          .StructField("id", org.apache.spark.sql.types.StringType))))
    val df = graft.ingest.UpsertWriter.readTable(spark, dataDir, name)
    df.schema.fields.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) => df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case None    => df
    }
  }

  def register(name: String, q: graft.query.GQuery, scoType: String = ""): Unit =
    registerRecipe(name, scoType)(resolve => q.df(resolve))

  /** Register from an arbitrary recipe (storage verbs that aren't pure Stage
    * folds: merge/join-with-coalesce/extract).
    *
    * Self-shadowing: if the recipe resolves its own name — `filter(v, t, v,
    * pat)`, `extract("url", "url", …)`, the Kestrel re-assignment pattern —
    * the reference inlines the *previous* definition of that name into the
    * new view DDL (firepit/sqlitestorage.py:192-218, pgstorage.py:290-333).
    * We do the same: the recipe's resolver routes a direct self-reference to
    * the definition captured at registration time (previous view recipe, or
    * the base parquet table when none), so replay can never recurse into the
    * view being defined. Other views still resolve live — dependent views
    * observe updates (tests/test_storage.py:394-428). */
  def registerRecipe(name: String, scoType: String = "")(
      recipe: (String => DataFrame) => DataFrame): Unit = {
    validateName(name)
    aliases.remove(name)
    val previous = views.get(name).map(_.recipe)
    val wrapped: (String => DataFrame) => DataFrame = { resolve =>
      val selfSafe: String => DataFrame = n =>
        if (n == name)
          previous
            .map(_(resolve))
            .getOrElse(baseCache.getOrElseUpdate(n, readBase(n)))
        else resolve(n)
      recipe(selfSafe)
    }
    views(name) = ViewDef(wrapped, scoType)
  }

  /** Register a concrete DataFrame (materialized result, e.g. reassign). */
  def registerDF(name: String, df: DataFrame, scoType: String = ""): Unit = {
    validateName(name)
    aliases.remove(name)
    views(name) = ViewDef(_ => df, scoType, materialized = true)
  }

  /** Names bound to materialized DataFrames (reference: real tables). */
  def materializedNames: Seq[String] =
    views.collect { case (n, v) if v.materialized => n }.toSeq

  /** Rebind a name to a new recipe that may reference the OLD definition —
    * the reference's view self-shadowing (firepit/sqlitestorage.py:199-211). */
  def redefine(name: String)(f: DataFrame => DataFrame): Unit = {
    val old = views.get(name)
    // Fallback must bypass the views map (reading `resolve(name)` would hit
    // the view we are about to install → unbounded recursion) and replay the
    // base parquet table, matching the reference's view self-shadowing over
    // the base table (firepit/sqlitestorage.py:192-218).
    val oldRecipe: (String => DataFrame) => DataFrame =
      old.map(_.recipe).getOrElse(_ => baseCache.getOrElseUpdate(name, readBase(name)))
    views(name) = ViewDef(resolve => f(oldRecipe(resolve)), old.map(_.scoType).getOrElse(""))
  }

  /** Drop a cached base-table read (call after upserting new data so the
    * next resolve sees the new files). */
  def invalidateBase(name: String): Unit = baseCache.remove(name)

  /** Does the base parquet table exist right now? (the reference's sqlite
    * "no such table" probe — views over absent tables resolve to empty). */
  def baseExists(name: String): Boolean =
    new java.io.File(s"$dataDir/$name.parquet").exists()

  /** Snapshot of a name's CURRENT recipe (alias-resolved) — merge() inlines
    * its inputs' definitions at merge time like the reference's
    * _get_view_def expansion (sqlstorage.py:777-793), so the merged view
    * survives later removal of its sources (test_storage.py:574-595). */
  private[graft] def viewRecipe(name: String): Option[(String => DataFrame) => DataFrame] =
    views.get(canonical(name)).map(_.recipe)

  def viewNames: Seq[String] = views.keys.toSeq
  // NOTE: contains does NOT follow rename aliases — a renamed-away name is
  // no longer a view in the symbol table (only captured recipes follow it)
  def contains(name: String): Boolean = views.contains(name)
  def viewType(name: String): Option[String] = views.get(canonical(name)).map(_.scoType)

  def removeView(name: String): Unit = { views.remove(name); aliases.remove(name) }

  /** Rename clobbers any existing target, preserving the definition
    * (firepit/sqlstorage.py:795-822); recipes that captured the old name
    * follow it via the alias table. */
  def renameView(oldName: String, newName: String): Unit = {
    validateName(newName)
    views.get(oldName).foreach { v =>
      views.remove(oldName)
      views(newName) = v
      aliases.remove(newName)
      aliases(oldName) = newName
    }
  }

  def setSortKeys(name: String, keys: Seq[(String, Boolean)]): Unit =
    views.get(canonical(name)).foreach(_.sortKeys = keys)
  def sortKeys(name: String): Seq[(String, Boolean)] =
    views.get(canonical(name)).map(_.sortKeys).getOrElse(Nil)

  def setAppData(name: String, data: String): Unit =
    views.get(canonical(name)).foreach(_.appData = data)
  def getAppData(name: String): Option[String] =
    views.get(canonical(name)).flatMap(v => Option(v.appData))

  /** Name validation kept for API/error parity with the reference
    * (firepit/validate.py:8-16; raises InvalidViewname). */
  def validateName(name: String): Unit = graft.api.Validate.validateName(name)
}
