package graft

import graft.api.Storage
import graft.ingest.{BundleUtil, Flatten}
import graft.model.{StixId, Uuid5}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Queries.Q

/** Oracle-checked rows for the store-lifecycle verb delete() and the splint
  * bundle utilities (timeshift / dedup_ids / limit) — the verbs that were
  * spec-only through round 7 (reference firepit/sqlitestorage.py:323-329
  * delete; firepit/splint.py:50-221 utilities).
  *
  * Each query drives a deterministic scratch store built once per build
  * (a [[Fixtures]] entry, like StixCorpus); the oracles read the
  * engine's own written parquet/journal from disk:
  *
  *  - q_stix_delete: ingest -> extract -> finish -> DELETE -> re-ingest;
  *    the surviving table set is checked against a disk glob and the
  *    surviving view set against the persisted __symtable journal — a
  *    delete() that leaves the journal (or in-memory views) behind
  *    mismatches.
  *  - q_stix_timeshift: the oracle re-derives every shifted timestamp from
  *    the ORIGINAL store's parquet with the same integer arithmetic
  *    (the corpus pins scale = 2 exactly, so the Double scale factor is
  *    integer-exact and any engine reproduces it bit-for-bit).
  *  - q_stix_splint_dedup: post-dedup id set vs DISTINCT ids of the raw
  *    store; plus the limit() store vs the first-4-by-time prefix derived
  *    from the dedup store (cross-store derivations — neither side is
  *    compared to itself).
  */
object SplintQueries {

  private val dir = Fixtures.entry("splint")
  private val deleteWD = s"$dir/del_store"
  private val origWD = s"$dir/shift_orig"
  private val shiftWD = s"$dir/shift_new"
  private val rawWD = s"$dir/dedup_raw"
  private val dedupWD = s"$dir/dedup_out"
  private val limitWD = s"$dir/limit_out"

  private def t(wd: String, name: String) =
    s"read_parquet('$wd/$name.parquet/**/*.parquet', hive_partitioning=0)"

  private def pad(n: Long, w: Int): String = {
    val s = n.toString
    "0" * math.max(0, w - s.length) + s
  }
  private def ts(sec: Long): String =
    s"2023-01-01T${pad(sec / 3600, 2)}:${pad(sec % 3600 / 60, 2)}:${pad(sec % 60, 2)}.000Z"

  /** One 2.0 observation: a url + an ipv4 (pure function of i). */
  private def obs(i: Int): Map[String, Any] = Map(
    "type" -> "observed-data",
    "id" -> s"observed-data--${Uuid5(StixId.Namespace, s"graft-splint-obs-$i")}",
    "first_observed" -> ts(i.toLong * 137),
    "last_observed" -> ts(i.toLong * 137 + 60 * (i % 3)),
    "number_observed" -> (1L + i % 3),
    "objects" -> Map(
      "0" -> Map("type" -> "url", "value" -> s"http://splint.example.com/page/${i % 7}"),
      "1" -> Map("type" -> "ipv4-addr", "value" -> s"10.1.${i % 4}.${1 + i}")))

  /** url-only observation (different table footprint for the post-delete
    * re-ingest, so leftover pre-delete state is visible). */
  private def urlObs(i: Int): Map[String, Any] = Map(
    "type" -> "observed-data",
    "id" -> s"observed-data--${Uuid5(StixId.Namespace, s"graft-splint-uobs-$i")}",
    "first_observed" -> ts(40000L + i * 61),
    "last_observed" -> ts(40000L + i * 61),
    "number_observed" -> 1L,
    "objects" -> Map(
      "0" -> Map("type" -> "url", "value" -> s"http://after.example.com/p/$i")))

  private def bundleOf(objs: Seq[Map[String, Any]], tag: String): String =
    StixId.canonicalJson(Map(
      "type" -> "bundle",
      "id" -> s"bundle--${Uuid5(StixId.Namespace, s"graft-splint-bundle-$tag")}",
      "objects" -> objs))

  // timeshift parameters: scale is EXACTLY 2 (newE-newS == 2*(oldE-oldS)),
  // so (t - oldS) * scale is an integer-exact Double product and the
  // oracle replays it with BIGINT arithmetic
  private val shiftBundleObs = (0 until 10).map(obs)
  private val oldStartMs = java.time.Instant.parse(ts(0)).toEpochMilli
  private val oldEndMs = java.time.Instant.parse(ts(9L * 137 + 60 * (9 % 3))).toEpochMilli
  private[graft] val newStart = "2030-01-01T00:00:00.000Z"
  private val newStartMs = java.time.Instant.parse(newStart).toEpochMilli
  private[graft] val newEnd =
    java.time.Instant.ofEpochMilli(newStartMs + 2 * (oldEndMs - oldStartMs)).toString

  /** Build every scratch store if absent (a new Storage over a built
    * store replays its journal). */
  private def ensure(spark: SparkSession): Unit = Fixtures.published("splint") { tmp =>
    def wd(published: String) = tmp + published.stripPrefix(dir)

    // --- delete-store lifecycle: ingest, view, finish, DELETE, re-ingest
    val del = new Storage(spark, wd(deleteWD))
    del.cache("d1", bundleOf((0 until 10).map(obs), "del-a"))
    del.extract("delp_v1", "url", "d1", null)
    del.finish()
    del.delete()
    del.cache("d2", bundleOf((0 until 5).map(urlObs), "del-b"))
    del.extract("delp_v2", "url", "d2", null)

    // --- timeshift: original store + linearly remapped store
    val shiftBundle = bundleOf(shiftBundleObs, "shift")
    new Storage(spark, wd(origWD)).cache("t1", shiftBundle)
    val shifted = BundleUtil.timeshift(
      Flatten.parseJson(shiftBundle).asInstanceOf[Map[String, Any]], newStart, newEnd)
    new Storage(spark, wd(shiftWD)).cache("t1", StixId.canonicalJson(shifted))

    // --- dedup_ids + limit: raw bundle with planted duplicate-id objects
    val rawObjs = (0 until 10).map(obs) ++ (0 until 5).map(obs) ++ Seq(obs(10))
    val rawBundle = Flatten
      .parseJson(bundleOf(rawObjs, "dedup")).asInstanceOf[Map[String, Any]]
    new Storage(spark, wd(rawWD)).cache("r1", StixId.canonicalJson(rawBundle))
    val deduped = BundleUtil.dedupIds(rawBundle)
    new Storage(spark, wd(dedupWD)).cache("r1", StixId.canonicalJson(deduped))
    new Storage(spark, wd(limitWD)).cache("r1", StixId.canonicalJson(BundleUtil.limit(deduped, 4)))
  }

  private[graft] val all: Seq[Q] = Seq(

    // ----- delete(): everything pre-delete must be gone from disk AND
    //       memory; the post-delete re-ingest defines the surviving state.
    //       tables() (disk listing + in-memory materializations) vs a raw
    //       glob; views() vs the persisted __symtable journal — the same
    //       dual source q_stix_views uses, here proving the journal was
    //       truncated by delete() (pre-delete delp_v1 must NOT resurface)
    Q("q_stix_delete", (spark, _) => {
      ensure(spark)
      import spark.implicits._
      val st = new Storage(spark, deleteWD)
      (st.tables().map(("table", _)) ++ st.views().map(("view", _)))
        .toDF("kind", "name").orderBy("kind", "name")
    }, Some(
      s"""SELECT 'table' AS kind, regexp_extract(file, '([^/]+)\\.parquet/$$', 1) AS name
         |FROM glob('$deleteWD/*/')
         |WHERE file LIKE '%.parquet/'
         |  AND NOT starts_with(regexp_extract(file, '([^/]+)\\.parquet/$$', 1), '__')
         |UNION ALL
         |SELECT DISTINCT 'view' AS kind, args->>0 AS name
         |FROM read_json('$deleteWD/__symtable.jsonl',
         |      format='newline_delimited', columns={'verb': 'VARCHAR', 'args': 'JSON[]'})
         |WHERE verb = 'extract'
         |ORDER BY kind, name""".stripMargin)),

    // ----- splint timeshift: every [first,last] interval linearly remapped
    //       onto [newStart, newEnd]; the oracle recomputes each shifted
    //       timestamp FROM THE ORIGINAL STORE with the same arithmetic
    Q("q_stix_timeshift", (spark, _) => {
      ensure(spark)
      new Storage(spark, shiftWD).catalog.resolve("observed-data")
        .select(col("id"), col("first_observed"), col("last_observed"))
        .orderBy("id")
    }, Some(
      s"""WITH o AS (
         |  SELECT id, epoch_ms(CAST(first_observed AS TIMESTAMP)) AS f,
         |         epoch_ms(CAST(last_observed AS TIMESTAMP)) AS l
         |  FROM ${t(origWD, "observed-data")}),
         |b AS (SELECT min(f) AS os FROM o)
         |SELECT id,
         |  strftime(make_timestamp(($newStartMs + (f - os) * 2) * 1000),
         |           '%Y-%m-%dT%H:%M:%S.%gZ') AS first_observed,
         |  strftime(make_timestamp(($newStartMs + (l - os) * 2) * 1000),
         |           '%Y-%m-%dT%H:%M:%S.%gZ') AS last_observed
         |FROM o, b ORDER BY id""".stripMargin)),

    // ----- splint dedup_ids + limit: the deduped store's observation set
    //       must equal the raw store's DISTINCT ids; the limit(4) store
    //       must hold exactly the dedup store's first 4 observations by
    //       time (limit keeps bundle order == generation order == time
    //       order here). Cross-store derivations, so a dedup that drops or
    //       duplicates an observation — or a limit that keeps the wrong
    //       prefix — mismatches.
    Q("q_stix_splint_dedup", (spark, _) => {
      ensure(spark)
      import spark.implicits._
      val ded = new Storage(spark, dedupWD).catalog.resolve("observed-data")
        .select(col("id")).as[String].collect().sorted.map(("dedup", _))
      val lim = new Storage(spark, limitWD).catalog.resolve("observed-data")
        .select(col("id")).as[String].collect().sorted.map(("limit", _))
      (ded ++ lim).toSeq.toDF("src", "id").orderBy("src", "id")
    }, Some(
      s"""SELECT 'dedup' AS src, id FROM ${t(rawWD, "observed-data")} GROUP BY id
         |UNION ALL
         |SELECT 'limit' AS src, id FROM (
         |  SELECT id FROM ${t(dedupWD, "observed-data")}
         |  ORDER BY first_observed LIMIT 4)
         |ORDER BY src, id""".stripMargin)))
}
