package graft

import org.apache.spark.sql.functions._
import graft.api.{Deref, Storage}
import Queries.Q

/** Oracle-checked STIX hunting queries — the reference's core use case
  * (cache -> extract-by-pattern -> deref lookup -> observation analytics;
  * reference tests/test_storage.py:24-147, test_lookup.py:7-70,
  * test_deref.py:60-90, test_value_counts.py, test_summary.py).
  *
  * Each query drives the Storage verb surface over the deterministic
  * StixCorpus workdir; each oracle recomputes the expected answer in plain
  * DuckDB SQL over the engine's own written base tables (url.parquet,
  * network-traffic.parquet, __contains.parquet, __queries.parquet, ...) —
  * so the pattern compiler, provenance semi-join, auto-deref join tree and
  * observation joins are all checked by the driver's hard signal, not just
  * by ScalaTest.
  */
object StixQueries {

  private val WD = StixCorpus.dir
  private def t(name: String) = s"read_parquet('$WD/$name.parquet/**/*.parquet', hive_partitioning=0)"
  private def prov(qid: String) =
    s"(SELECT sco_id FROM ${t("__queries")} WHERE query_id = '$qid')"

  private def q(name: String, oracle: String)(build: Storage => org.apache.spark.sql.DataFrame): Q =
    Q(name, (spark, _) => build(StixCorpus.ensure(spark)), Some(oracle))

  private[graft] val all: Seq[Q] = Seq(

    // ----- extract by pattern: LIKE on a local column (test_storage.py:24-41)
    q("q_stix_extract_like",
      s"""SELECT id, value FROM ${t("url")}
         |WHERE value LIKE '%page/1%' AND id IN ${prov("q1")}
         |ORDER BY id""".stripMargin) { st =>
      st.extract("urls_like", "url", "q1", "[url:value LIKE '%page/1%']")
      st.catalog.resolve("urls_like").select(col("id"), col("value")).orderBy("id")
    },

    // ----- extract by pattern: ISSUBSET through a ref path (the pattern
    //       compiles to in_subnet over an IN-subquery semi-join on ipv4-addr)
    q("q_stix_extract_subnet",
      s"""SELECT id, src_ref, dst_port FROM ${t("network-traffic")}
         |WHERE src_ref IN (SELECT id FROM ${t("ipv4-addr")} WHERE value LIKE '192.168.%')
         |  AND id IN ${prov("q1")}
         |ORDER BY id""".stripMargin) { st =>
      st.extract(
        "intranet_conns", "network-traffic", "q1",
        "[network-traffic:src_ref.value ISSUBSET '192.168.0.0/16']")
      st.catalog.resolve("intranet_conns")
        .select(col("id"), col("src_ref"), col("dst_port"))
        .orderBy("id")
    },

    // ----- extract by pattern: numeric comparison (dst_port < 1024,
    //       test_storage.py:117-127's shape)
    q("q_stix_extract_ports",
      s"""SELECT id, src_port, dst_port FROM ${t("network-traffic")}
         |WHERE dst_port < 1024 AND id IN ${prov("q2")}
         |ORDER BY id""".stripMargin) { st =>
      st.extract("lowports", "network-traffic", "q2", "[network-traffic:dst_port < 1024]")
      st.catalog.resolve("lowports")
        .select(col("id"), col("src_port"), col("dst_port"))
        .orderBy("id")
    },

    // ----- filter verb over an existing view with OR pattern
    //       (sqlstorage.py:579-600)
    q("q_stix_filter_or",
      s"""SELECT id, dst_port FROM ${t("network-traffic")}
         |WHERE dst_port < 1024 AND (dst_port = 443 OR dst_port = 80)
         |  AND id IN ${prov("q2")}
         |ORDER BY id""".stripMargin) { st =>
      st.extract("lowports2", "network-traffic", "q2", "[network-traffic:dst_port < 1024]")
      st.filter(
        "web_conns", "network-traffic", "lowports2",
        "[network-traffic:dst_port = 443 OR network-traffic:dst_port = 80]")
      st.catalog.resolve("web_conns").select(col("id"), col("dst_port")).orderBy("id")
    },

    // ----- lookup auto-deref: dual ipv4/ipv6 join with COALESCE on value
    //       (deref.py:28-59; pinned upstream by test_deref.py:60-90)
    q("q_stix_lookup_deref",
      s"""SELECT n.id, coalesce(s4.value, s6.value) AS "src_ref.value",
         |  coalesce(d4.value, d6.value) AS "dst_ref.value", n.dst_port
         |FROM ${t("network-traffic")} n
         |LEFT JOIN ${t("ipv4-addr")} s4 ON n.src_ref = s4.id
         |LEFT JOIN ${t("ipv6-addr")} s6 ON n.src_ref = s6.id
         |LEFT JOIN ${t("ipv4-addr")} d4 ON n.dst_ref = d4.id
         |LEFT JOIN ${t("ipv6-addr")} d6 ON n.dst_ref = d6.id
         |WHERE n.id IN ${prov("q1")}
         |ORDER BY n.id""".stripMargin) { st =>
      st.extract("conns_q1", "network-traffic", "q1", null)
      Deref.autoDeref(st, "conns_q1")
        .select(
          col("id"),
          col("`src_ref.value`"),
          col("`dst_ref.value`"),
          col("dst_port"))
        .orderBy("id")
    },

    // ----- assign(sort, limit) verb (sqlstorage.py:446-469)
    q("q_stix_assign_sort",
      s"""SELECT id, value FROM ${t("url")}
         |WHERE id IN ${prov("q1")}
         |ORDER BY value DESC LIMIT 10""".stripMargin) { st =>
      st.extract("urls_q1", "url", "q1", null)
      st.assign("top_urls", "urls_q1", "sort", "value", asc = false, limit = Some(10))
      st.catalog.resolve("top_urls").select(col("id"), col("value"))
    },

    // ----- pattern ref-LIST path: process:opened_connection_refs.dst_port
    //       routes through the __reflist edge table as a nested semi-join
    //       (stix20.py:75-84)
    q("q_stix_reflist",
      s"""SELECT id, name, pid FROM ${t("process")}
         |WHERE id IN (
         |  SELECT r.source_ref FROM ${t("__reflist")} r
         |  JOIN ${t("network-traffic")} n ON r.target_ref = n.id
         |  WHERE r.ref_name = 'opened_connection_refs' AND n.dst_port = 443)
         |  AND id IN ${prov("q1")}
         |ORDER BY id""".stripMargin) { st =>
      st.extract("procs_rl", "process", "q1",
        "[process:opened_connection_refs.dst_port = 443]")
      st.catalog.resolve("procs_rl")
        .select(col("id"), col("name"), col("pid"))
        .orderBy("id")
    },

    // ----- group verb with explicit aggs incl. NUNIQUE (sqlstorage.py:1028-1077)
    q("q_stix_group",
      s"""SELECT dst_port, count(*) AS n, count(DISTINCT src_ref) AS unique_src
         |FROM ${t("network-traffic")}
         |WHERE id IN ${prov("q1")}
         |GROUP BY dst_port ORDER BY dst_port""".stripMargin) { st =>
      st.extract("conns_grp", "network-traffic", "q1", null)
      st.group("by_port", "conns_grp", Seq("dst_port"),
        Seq(("COUNT", "*", "n"), ("NUNIQUE", "src_ref", "unique_src")))
      st.catalog.resolve("by_port")
    },

    // ----- join verb: equi-join of two views with shared-column coalesce
    //       (sqlstorage.py:541-566)
    q("q_stix_join",
      s"""SELECT n.id, n.src_ref, n.dst_port, i.value
         |FROM ${t("network-traffic")} n
         |JOIN ${t("ipv4-addr")} i ON n.src_ref = i.id
         |WHERE n.id IN ${prov("q1")} AND i.id IN ${prov("q1")}
         |ORDER BY n.id""".stripMargin) { st =>
      st.extract("conns_j", "network-traffic", "q1", null)
      st.extract("ips_j", "ipv4-addr", "q1", null)
      st.join("joined", "conns_j", "src_ref", "ips_j", "id")
      st.catalog.resolve("joined")
        .select(col("id"), col("src_ref"), col("dst_port"), col("value"))
        .orderBy("id")
    },

    // ----- merge verb: distinct UNION of same-typed views
    //       (sqlstorage.py:777-793)
    q("q_stix_merge",
      s"""SELECT id, value FROM ${t("url")}
         |WHERE (value LIKE '%page/1%' AND id IN ${prov("q1")})
         |   OR id IN ${prov("q2")}
         |ORDER BY id""".stripMargin) { st =>
      st.extract("urls_m1", "url", "q1", "[url:value LIKE '%page/1%']")
      st.extract("urls_m2", "url", "q2", null)
      st.merge("m_urls", Seq("urls_m1", "urls_m2"))
      st.catalog.resolve("m_urls").select(col("id"), col("value")).orderBy("id")
    },

    // ----- value_counts: observation-weighted frequency through the
    //       view ⋈ __contains ⋈ observed-data join (sqlstorage.py:854-874)
    q("q_stix_value_counts",
      s"""SELECT u.value, count(*) AS count
         |FROM ${t("url")} u
         |JOIN ${t("__contains")} c ON u.id = c.target_ref
         |JOIN ${t("observed-data")} o ON c.source_ref = o.id
         |WHERE u.id IN ${prov("q1")}
         |GROUP BY u.value ORDER BY u.value""".stripMargin) { st =>
      st.extract("urls_vc", "url", "q1", null)
      st.valueCountsDF("urls_vc", "value")
    },

    // ----- number_observed: SUM(number_observed) over the same join
    //       (sqlstorage.py:891-911)
    q("q_stix_number_observed",
      s"""SELECT CAST(sum(o.number_observed) AS BIGINT) AS number_observed
         |FROM ${t("url")} u
         |JOIN ${t("__contains")} c ON u.id = c.target_ref
         |JOIN ${t("observed-data")} o ON c.source_ref = o.id
         |WHERE u.id IN ${prov("q1")}""".stripMargin) { st =>
      st.extract("urls_no", "url", "q1", null)
      st.numberObservedDF("urls_no", "url:value")
    },

    // ----- summary: (MIN first, MAX last, SUM n) — RFC-3339 text min/max
    //       (sqlstorage.py:992-1026)
    q("q_stix_summary",
      s"""SELECT min(o.first_observed) AS first_observed,
         |  max(o.last_observed) AS last_observed,
         |  CAST(sum(o.number_observed) AS BIGINT) AS number_observed
         |FROM ${t("network-traffic")} n
         |JOIN ${t("__contains")} c ON n.id = c.target_ref
         |JOIN ${t("observed-data")} o ON c.source_ref = o.id
         |WHERE n.id IN ${prov("q1")}""".stripMargin) { st =>
      st.extract("conns_sum", "network-traffic", "q1", null)
      st.summaryDF("conns_sum")
    },

    // ----- timestamped: attach observation timestamps to each SCO row,
    //       observation id renamed observation_id (sqlstorage.py:913-990)
    q("q_stix_timestamped",
      s"""SELECT o.id AS observation_id, o.first_observed, u.id, u.value
         |FROM ${t("url")} u
         |JOIN ${t("__contains")} c ON u.id = c.target_ref
         |JOIN ${t("observed-data")} o ON c.source_ref = o.id
         |WHERE u.id IN ${prov("q1")}
         |ORDER BY o.first_observed, u.id""".stripMargin) { st =>
      st.extract("urls_ts", "url", "q1", null)
      st.timestamped("urls_ts")
        .select(col("observation_id"), col("first_observed"), col("id"), col("value"))
        .orderBy("first_observed", "id")
    },

    // ----- values() on a ref path: the single-column read with implicit
    //       joins (sqlstorage.py:667-683; test_storage.py:24-41's values
    //       contract). parseProp targets the HEAD ref type (ipv4-addr), so
    //       v6-sourced rows surface as NULL — the oracle mirrors that left
    //       join exactly. NULLS FIRST matches Spark's asc null ordering.
    q("q_stix_values",
      s"""SELECT s4.value AS "src_ref.value"
         |FROM ${t("network-traffic")} n
         |LEFT JOIN ${t("ipv4-addr")} s4 ON n.src_ref = s4.id
         |WHERE n.src_port > 0 AND n.id IN ${prov("q1")}
         |ORDER BY 1 NULLS FIRST""".stripMargin) { st =>
      st.extract("vals_conns", "network-traffic", "q1", "[network-traffic:src_port > 0]")
      st.valuesDF("src_ref.value", "vals_conns").orderBy(col("`src_ref.value`"))
    },

    // ----- reassign: write analytic results back (sqlstorage.py:504-539) —
    //       tag the 5 lexicographically-first urls with x_risk, then
    //       re-query THROUGH the engine (id-recipe view over the merged
    //       url table). The oracle recomputes the expected scores from
    //       value independently, so a silently-dropped upsert column (null
    //       x_risk) hash-mismatches. Deterministic inputs make the merge
    //       idempotent across verify/bench re-runs.
    q("q_stix_reassign",
      s"""WITH sel AS (SELECT id, value FROM ${t("url")}
         |  WHERE value NOT LIKE 'http://loaded.%' ORDER BY id LIMIT 5)
         |SELECT id, CAST(length(value) AS BIGINT) AS x_risk FROM sel
         |ORDER BY id""".stripMargin) { st =>
      // exclude q_stix_load's rows so the picked set is identical no matter
      // which of the two url-writing queries runs first in a session
      val sel = st.catalog.resolve("url")
        .select(col("id"), col("value"))
        .where(!col("value").startsWith("http://loaded."))
        .orderBy("id").limit(5).collect()
      val objs = sel.toSeq.map(r =>
        Map[String, Any](
          "type" -> "url", "id" -> r.getString(0),
          "x_risk" -> r.getString(1).length.toLong))
      st.reassign("risky_urls", objs)
      st.catalog.resolve("risky_urls").select(col("id"), col("x_risk")).orderBy("id")
    },

    // ----- load(): scalar values become SCOs via the primary property
    //       (sqlstorage.py:485-489), written through the same upsert path —
    //       the oracle reads them back from the engine's url table.
    //       Deterministic uuid5 ids make the upsert idempotent across runs.
    q("q_stix_load",
      s"""SELECT value FROM ${t("url")}
         |WHERE value LIKE 'http://loaded.example.com/%'
         |ORDER BY value""".stripMargin) { st =>
      st.load("loaded_urls", Seq(
        "http://loaded.example.com/a",
        "http://loaded.example.com/b",
        "http://loaded.example.com/c"), "url", queryId = "loadq1")
      st.catalog.resolve("loaded_urls").select(col("value")).orderBy("value")
    },

    // ----- tables(): the catalog surface as a hard-signal row — the oracle
    //       lists the engine's written parquet datasets via glob()
    //       (sqlitestorage.py:268-274's sqlite_master scan)
    q("q_stix_tables",
      s"""SELECT regexp_extract(file, '([^/]+)\\.parquet/$$', 1) AS name
         |FROM glob('$WD/*/')
         |WHERE file LIKE '%.parquet/'
         |  AND NOT starts_with(regexp_extract(file, '([^/]+)\\.parquet/$$', 1), '__')
         |ORDER BY name""".stripMargin) { st =>
      val spark = st.spark
      import spark.implicits._
      st.tables().toDF("name").orderBy("name")
    },

    // ----- columns(): per-table schema names vs DESCRIBE over the same
    //       parquet (sqlitestorage.py:287-293)
    q("q_stix_columns",
      s"""SELECT column_name AS name FROM (
         |  DESCRIBE SELECT * FROM ${t("network-traffic")})
         |ORDER BY name""".stripMargin) { st =>
      val spark = st.spark
      import spark.implicits._
      st.columns("network-traffic").toDF("name").orderBy("name")
    },

    // ----- types(): SCO-type tables = parquet datasets minus catalog
    //       shadowing minus materialized analytics (sqlitestorage.py:
    //       276-285). A materialized no-id reassign is registered FIRST:
    //       tables() lists it, types() must not — the glob oracle sees only
    //       real parquet datasets, so a leak of the probe hash-fails.
    q("q_stix_types",
      s"""SELECT regexp_extract(file, '([^/]+)\\.parquet/$$', 1) AS name
         |FROM glob('$WD/*/')
         |WHERE file LIKE '%.parquet/'
         |  AND NOT starts_with(regexp_extract(file, '([^/]+)\\.parquet/$$', 1), '__')
         |ORDER BY name""".stripMargin) { st =>
      val spark = st.spark
      import spark.implicits._
      st.reassign("type_probe_agg", Seq(Map[String, Any]("n" -> 1L)))
      st.types().toDF("name").orderBy("name")
    },

    // ----- views(): the registered-view catalog, checked against the
    //       engine's OWN persisted __symtable journal (the reference's
    //       __symtable scan, sqlitestorage.py:276-285) — register four
    //       probe views, remove one, RENAME one, and both sides must agree
    //       on the surviving set (registered − removed − rename-sources
    //       + rename-targets).
    q("q_stix_views",
      s"""WITH j AS (SELECT verb, args FROM read_json('$WD/__symtable.jsonl',
         |      format='newline_delimited', columns={'verb': 'VARCHAR', 'args': 'JSON[]'})),
         |reg AS (SELECT DISTINCT args->>0 AS name FROM j
         |      WHERE verb = 'extract' AND (args->>0) LIKE 'vwp%'),
         |gone AS (SELECT DISTINCT args->>0 AS name FROM j WHERE verb = 'remove'),
         |ren AS (SELECT DISTINCT args->>0 AS o, args->>1 AS n FROM j WHERE verb = 'rename')
         |SELECT name FROM (
         |  SELECT name FROM reg
         |  WHERE name NOT IN (SELECT name FROM gone)
         |    AND name NOT IN (SELECT o FROM ren)
         |  UNION
         |  SELECT n AS name FROM ren
         |  WHERE n LIKE 'vwp%' AND o IN (SELECT name FROM reg))
         |ORDER BY name""".stripMargin) { st =>
      val spark = st.spark
      import spark.implicits._
      st.extract("vwp_a", "url", "q1", null)
      st.extract("vwp_b", "ipv4-addr", "q1", null)
      st.extract("vwp_c", "url", "q2", null)
      st.extract("vwp_d", "url", "q1", null)
      st.removeView("vwp_c")
      st.renameView("vwp_d", "vwp_e")
      st.views().filter(_.startsWith("vwp")).toDF("name").orderBy("name")
    },

    // ----- table_type(): view -> SCO type, vs the journaled symtable rows
    //       (sqlstorage.py:744-752)
    q("q_stix_table_type",
      s"""SELECT DISTINCT args->>0 AS name, args->>1 AS otype
         |FROM read_json('$WD/__symtable.jsonl',
         |      format='newline_delimited', columns={'verb': 'VARCHAR', 'args': 'JSON[]'})
         |WHERE verb = 'extract' AND (args->>0) LIKE 'ttp%'
         |ORDER BY name""".stripMargin) { st =>
      val spark = st.spark
      import spark.implicits._
      st.extract("ttp_conns", "network-traffic", "q1", null)
      st.extract("ttp_urls", "url", "q1", null)
      Seq("ttp_conns", "ttp_urls")
        .map(v => (v, st.tableType(v).getOrElse("")))
        .toDF("name", "otype").orderBy("name")
    },

    // ----- schema(): (column, dtype) pairs vs DESCRIBE with the DuckDB ->
    //       Spark simpleString type mapping (sqlitestorage.py:287-293's
    //       PRAGMA table_info)
    q("q_stix_schema",
      s"""SELECT column_name AS name,
         |  CASE column_type
         |    WHEN 'VARCHAR' THEN 'string' WHEN 'BIGINT' THEN 'bigint'
         |    WHEN 'DOUBLE' THEN 'double' WHEN 'BOOLEAN' THEN 'boolean'
         |    WHEN 'VARCHAR[]' THEN 'array<string>'
         |    ELSE lower(column_type) END AS dtype
         |FROM (DESCRIBE SELECT * FROM ${t("network-traffic")})
         |ORDER BY name""".stripMargin) { st =>
      val spark = st.spark
      import spark.implicits._
      st.schema("network-traffic").toDF("name", "dtype").orderBy("name")
    },

    // ----- get_view_data(): the bulk __symtable dump (name, type, appdata)
    //       (sqlstorage.py:761-771) — appdata round-trips through the
    //       journaled setAppdata verb, so the oracle reads it back from the
    //       engine's own persisted journal.
    q("q_stix_get_view_data",
      s"""WITH j AS (SELECT verb, args FROM read_json('$WD/__symtable.jsonl',
         |      format='newline_delimited', columns={'verb': 'VARCHAR', 'args': 'JSON[]'})),
         |e AS (SELECT DISTINCT args->>0 AS name, args->>1 AS otype FROM j
         |      WHERE verb = 'extract' AND (args->>0) LIKE 'gvd%'),
         |a AS (SELECT DISTINCT args->>0 AS name, args->>1 AS appdata FROM j
         |      WHERE verb = 'appdata')
         |SELECT e.name, e.otype, a.appdata
         |FROM e LEFT JOIN a USING (name)
         |ORDER BY e.name""".stripMargin) { st =>
      val spark = st.spark
      import spark.implicits._
      st.extract("gvd_a", "url", "q1", null)
      st.setAppdata("gvd_a", """{"notes":"probe"}""")
      st.extract("gvd_b", "network-traffic", "q1", null)
      st.getViewData(Seq("gvd_a", "gvd_b"))
        .map(m => (
          m("name").toString,
          m("type").toString,
          Option(m("appdata")).map(_.toString).orNull))
        .toDF("name", "otype", "appdata")
        .orderBy("name")
    },

    // ----- rename_view: the rename is journaled (read_json round-trip) AND
    //       the renamed view's rows stay reachable under the new name — the
    //       data side replays the source extract's predicate + provenance
    //       semi-join in SQL (sqlstorage.py rename_view)
    q("q_stix_rename",
      s"""WITH j AS (SELECT verb, args FROM read_json('$WD/__symtable.jsonl',
         |      format='newline_delimited', columns={'verb': 'VARCHAR', 'args': 'JSON[]'})),
         |ren AS (SELECT DISTINCT args->>1 AS name FROM j
         |      WHERE verb = 'rename' AND (args->>0) = 'rnm_src')
         |SELECT ren.name, u.id, u.value
         |FROM ren CROSS JOIN (
         |  SELECT id, value FROM ${t("url")}
         |  WHERE value LIKE '%page/1%' AND id IN ${prov("q1")}) u
         |ORDER BY u.id""".stripMargin) { st =>
      st.extract("rnm_src", "url", "q1", "[url:value LIKE '%page/1%']")
      st.renameView("rnm_src", "rnm_dst") // clobbers any rnm_dst from a prior run
      st.catalog.resolve("rnm_dst")
        .select(lit("rnm_dst").as("name"), col("id"), col("value"))
        .orderBy("id")
    },

    // ----- summarize_pattern (stix20.py:162-208): per journaled probe
    //       pattern, the (sco_type, path) set the compiler reports it
    //       touches. The oracle re-derives the set from the engine's OWN
    //       journal by lexing type:path tokens out of the persisted pattern
    //       text — exact for these union-semantics probes (observation-level
    //       AND intersection is pinned separately by StixCoreSpec).
    q("q_stix_summarize",
      s"""WITH j AS (SELECT verb, args FROM read_json('$WD/__symtable.jsonl',
         |      format='newline_delimited', columns={'verb': 'VARCHAR', 'args': 'JSON[]'})),
         |e AS (SELECT DISTINCT args->>0 AS name, args->>3 AS pattern FROM j
         |      WHERE verb = 'extract' AND (args->>0) LIKE 'smp%'),
         |tok AS (SELECT name,
         |      unnest(regexp_extract_all(pattern, '[a-z0-9-]+:[A-Za-z0-9_.]+')) AS t
         |   FROM e)
         |SELECT DISTINCT name, string_split(t, ':')[1] AS sco_type, string_split(t, ':')[2] AS path
         |FROM tok ORDER BY name, sco_type, path""".stripMargin) { st =>
      val spark = st.spark
      import spark.implicits._
      val pats = Seq(
        "smp_a" -> ("url", "[url:value LIKE '%page/1%']"),
        "smp_b" -> ("network-traffic",
          "[network-traffic:src_ref.value ISSUBSET '192.168.0.0/16' AND network-traffic:dst_port = 22]"),
        "smp_c" -> ("ipv4-addr",
          "[ipv4-addr:value = '192.168.1.1' OR ipv4-addr:value ISSUBSET '10.0.0.0/8']"))
      pats.foreach { case (n, (tpe, p)) => st.extract(n, tpe, "q1", p) }
      pats
        .flatMap { case (n, (_, p)) =>
          graft.pattern.Pattern.summarize(p).toSeq.flatMap { case (tpe, paths) =>
            paths.toSeq.map(path => (n, tpe, path))
          }
        }
        .toDF("name", "sco_type", "path")
        .orderBy("name", "sco_type", "path")
    },

    // ----- funnel over the STIX data model: the hunting surface composed
    //       with the pipeline operators — per-source-address ordered
    //       progression web (443) -> SMB (445) -> SSH (22) over
    //       observed-data timestamps of the engine-ingested corpus, each
    //       step within 12 h of the previous (23 -> 6 -> 2 at corpus scale).
    q("q_stix_funnel",
      s"""WITH ev AS (SELECT n.src_ref AS user_id, CAST(n.dst_port AS VARCHAR) AS et,
         |        CAST(o.first_observed AS TIMESTAMP) AS ts
         |      FROM ${t("network-traffic")} n
         |      JOIN ${t("__contains")} c ON n.id = c.target_ref
         |      JOIN ${t("observed-data")} o ON c.source_ref = o.id
         |      WHERE n.id IN ${prov("q1")}),
         |s1 AS (SELECT user_id, min(ts) AS t FROM ev WHERE et = '443' GROUP BY user_id),
         |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN s1 USING (user_id)
         |      WHERE e.et = '445' AND e.ts > s1.t
         |        AND e.ts <= s1.t + INTERVAL '12 hours' GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN s2 USING (user_id)
         |      WHERE e.et = '22' AND e.ts > s2.t
         |        AND e.ts <= s2.t + INTERVAL '12 hours' GROUP BY e.user_id)
         |SELECT 1 AS step, '443' AS event_type, (SELECT count(*) FROM s1) AS n_users
         |UNION ALL SELECT 2, '445', (SELECT count(*) FROM s2)
         |UNION ALL SELECT 3, '22', (SELECT count(*) FROM s3)
         |ORDER BY step""".stripMargin) { st =>
      st.extract("fn_conns", "network-traffic", "q1", null)
      val events = st.timestamped("fn_conns")
        .select(
          col("src_ref").as("user_id"),
          col("dst_port").cast("string").as("event_type"),
          to_timestamp(col("first_observed")).as("ts"))
      graft.operators.Events
        .funnel(events, Seq("443", "445", "22"), maxGap = "12 hours")
        .orderBy("step")
    },

    // ----- gap sessionization over the STIX data model: per-source
    //       observation sessions split on gaps > 150 min (the beaconing /
    //       activity-burst view of the same observed-data timestamps the
    //       funnel row uses; 56 single-session + 16 two-session sources)
    q("q_stix_sessions",
      s"""WITH ev AS (SELECT n.src_ref AS user_id,
         |        CAST(o.first_observed AS TIMESTAMP) AS ts, n.id AS event_id
         |      FROM ${t("network-traffic")} n
         |      JOIN ${t("__contains")} c ON n.id = c.target_ref
         |      JOIN ${t("observed-data")} o ON c.source_ref = o.id
         |      WHERE n.id IN ${prov("q1")}),
         |w AS (SELECT user_id, ts, event_id,
         |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM ev),
         |x AS (SELECT user_id, ts, event_id,
         |        CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 9000
         |             THEN 1 ELSE 0 END AS ns FROM w),
         |y AS (SELECT user_id, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS UNBOUNDED PRECEDING) AS sid FROM x),
         |z AS (SELECT user_id, sid, count(*) AS n FROM y GROUP BY user_id, sid)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(max(n) AS BIGINT) AS max_session_events
         |FROM z GROUP BY user_id ORDER BY user_id""".stripMargin) { st =>
      st.extract("sess_conns", "network-traffic", "q1", null)
      val events = st.timestamped("sess_conns")
        .select(
          col("src_ref").as("user_id"),
          to_timestamp(col("first_observed")).as("ts"),
          col("id").as("event_id"))
      graft.operators.Events.sessionize(events, gapMinutes = 150).orderBy("user_id")
    },

    // ----- PageRank over the SCO reference graph: __reflist edges plus
    //       network-traffic's scalar src/dst refs — structural hub
    //       detection (which address is most central in the hunt); the
    //       oracle unrolls the damped iteration with the same per-iteration
    //       9dp rounding the operator applies
    q("q_stix_pagerank", {
      def it(i: Int, prev: String): String =
        s"""c$i AS (SELECT e.dst AS id, sum(r.rank / od.outdeg) AS s
           |      FROM e JOIN od USING (src) JOIN $prev r ON r.id = e.src GROUP BY e.dst),
           |r$i AS (SELECT nodes.id,
           |        round(CAST(0.15 AS DOUBLE)/nn.n
           |          + CAST(0.85 AS DOUBLE)*coalesce(c$i.s, CAST(0 AS DOUBLE)), 9) AS rank
           |      FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.id = nodes.id)""".stripMargin
      s"""WITH edges AS (
         |  SELECT source_ref AS src, target_ref AS dst FROM ${t("__reflist")}
         |  UNION
         |  SELECT id, src_ref FROM ${t("network-traffic")} WHERE src_ref IS NOT NULL
         |  UNION
         |  SELECT id, dst_ref FROM ${t("network-traffic")} WHERE dst_ref IS NOT NULL),
         |e AS (SELECT DISTINCT src, dst FROM edges WHERE src IS NOT NULL AND dst IS NOT NULL),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT id, round(CAST(1.0 AS DOUBLE)/nn.n, 9) AS rank
         |      FROM nodes CROSS JOIN nn),
         |${it(1, "r0")},
         |${it(2, "r1")},
         |${it(3, "r2")}
         |SELECT id, round(rank, 6) AS rank FROM r3 ORDER BY id""".stripMargin
    }) { st =>
      val rl = st.catalog.resolve("__reflist")
        .select(col("source_ref").as("src"), col("target_ref").as("dst"))
      val nt = st.catalog.resolve("network-traffic")
      val edges = rl
        .unionByName(nt.select(col("id").as("src"), col("src_ref").as("dst")))
        .unionByName(nt.select(col("id").as("src"), col("dst_ref").as("dst")))
      graft.operators.Graph.pageRank(edges, iters = 3).orderBy("id")
    },

    // ----- weakly-connected components over the same reference graph:
    //       which SCOs form one connected cluster of activity. The oracle
    //       computes the transitive closure with a recursive CTE and takes
    //       min reachable id (lexicographic — matches the engine's label)
    q("q_stix_components",
      s"""WITH RECURSIVE edges AS (
         |  SELECT source_ref AS src, target_ref AS dst FROM ${t("__reflist")}
         |  UNION
         |  SELECT id, src_ref FROM ${t("network-traffic")} WHERE src_ref IS NOT NULL
         |  UNION
         |  SELECT id, dst_ref FROM ${t("network-traffic")} WHERE dst_ref IS NOT NULL),
         |e0 AS (SELECT DISTINCT src, dst FROM edges WHERE src IS NOT NULL AND dst IS NOT NULL),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         |grp AS (SELECT id, min(r) AS component_id FROM reach GROUP BY id),
         |sz AS (SELECT component_id, CAST(count(*) AS BIGINT) AS component_size
         |       FROM grp GROUP BY component_id)
         |SELECT g.id, g.component_id, sz.component_size
         |FROM grp g JOIN sz USING (component_id) ORDER BY g.id""".stripMargin) { st =>
      val rl = st.catalog.resolve("__reflist")
        .select(col("source_ref").as("src"), col("target_ref").as("dst"))
      val nt = st.catalog.resolve("network-traffic")
      val edges = rl
        .unionByName(nt.select(col("id").as("src"), col("src_ref").as("dst")))
        .unionByName(nt.select(col("id").as("src"), col("dst_ref").as("dst")))
      graft.operators.Graph.connectedComponents(edges).orderBy("id")
    },

    // ----- per-node triangle counts over the same reference graph plus
    //       __contains edges (observed-data→SCO containment closes the
    //       observed-data / network-traffic / address triangles): the
    //       local-clustering complement to PageRank — hubs that fan out
    //       rank high but sit in no triangle; infrastructure cliques light
    //       up here. The oracle enumerates each triangle once as a < b < c.
    q("q_stix_triangles",
      s"""WITH edges AS (
         |  SELECT source_ref AS src, target_ref AS dst FROM ${t("__reflist")}
         |  UNION
         |  SELECT id, src_ref FROM ${t("network-traffic")} WHERE src_ref IS NOT NULL
         |  UNION
         |  SELECT id, dst_ref FROM ${t("network-traffic")} WHERE dst_ref IS NOT NULL
         |  UNION
         |  SELECT source_ref, target_ref FROM ${t("__contains")}),
         |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges
         |      WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |w AS (SELECT e1.a, e1.b, e2.b AS c FROM u e1 JOIN u e2 ON e1.b = e2.a),
         |tri AS (SELECT w.a, w.b, w.c FROM w JOIN u e3 ON e3.a = w.a AND e3.b = w.c),
         |n AS (SELECT unnest([a, b, c]) AS id FROM tri)
         |SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM n GROUP BY id
         |ORDER BY id""".stripMargin) { st =>
      val rl = st.catalog.resolve("__reflist")
        .select(col("source_ref").as("src"), col("target_ref").as("dst"))
      val ct = st.catalog.resolve("__contains")
        .select(col("source_ref").as("src"), col("target_ref").as("dst"))
      val nt = st.catalog.resolve("network-traffic")
      val edges = rl
        .unionByName(nt.select(col("id").as("src"), col("src_ref").as("dst")))
        .unionByName(nt.select(col("id").as("src"), col("dst_ref").as("dst")))
        .unionByName(ct)
      graft.operators.Graph.triangleCounts(edges).orderBy("id")
    },

    // ----- 2-core of the same reference graph: peel degree-<2 nodes to a
    //       fixpoint — strips leaf observations, keeps the mutually-linked
    //       backbone (the dense-cluster complement to components, which
    //       keeps every pendant). The engine runs 4 fixed peel rounds and
    //       reports convergence; the oracle unrolls the same 4 rounds
    //       (peeling is monotone, so an unchanged round IS the fixpoint
    //       and extra rounds are no-ops).
    q("q_stix_kcore", {
      // every u_i is referenced 4x downstream — without MATERIALIZED,
      // DuckDB inlines CTEs and the peel chain re-evaluates exponentially
      def peel(i: Int) =
        s"""d$i AS MATERIALIZED (SELECT id, count(*) AS deg FROM
           |      (SELECT a AS id FROM u${i - 1} UNION ALL SELECT b FROM u${i - 1}) n$i GROUP BY id),
           |s$i AS MATERIALIZED (SELECT id FROM d$i WHERE deg >= 2),
           |u$i AS MATERIALIZED (SELECT u.a, u.b FROM u${i - 1} u
           |      JOIN s$i sa ON u.a = sa.id JOIN s$i sb ON u.b = sb.id)""".stripMargin
      s"""WITH edges AS (
         |  SELECT source_ref AS src, target_ref AS dst FROM ${t("__reflist")}
         |  UNION
         |  SELECT id, src_ref FROM ${t("network-traffic")} WHERE src_ref IS NOT NULL
         |  UNION
         |  SELECT id, dst_ref FROM ${t("network-traffic")} WHERE dst_ref IS NOT NULL
         |  UNION
         |  SELECT source_ref, target_ref FROM ${t("__contains")}),
         |u0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges
         |      WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |${peel(1)},
         |${peel(2)},
         |${peel(3)},
         |${peel(4)},
         |cd AS (SELECT id, count(*) AS core_deg FROM
         |      (SELECT a AS id FROM u4 UNION ALL SELECT b FROM u4) n5 GROUP BY id),
         |conv AS (SELECT (SELECT count(*) FROM u4) = (SELECT count(*) FROM u3) AS converged)
         |SELECT s4.id, CAST(coalesce(cd.core_deg, 0) AS BIGINT) AS core_deg, conv.converged
         |FROM s4 LEFT JOIN cd USING (id) CROSS JOIN conv ORDER BY s4.id""".stripMargin
    }) { st =>
      val rl = st.catalog.resolve("__reflist")
        .select(col("source_ref").as("src"), col("target_ref").as("dst"))
      val ct = st.catalog.resolve("__contains")
        .select(col("source_ref").as("src"), col("target_ref").as("dst"))
      val nt = st.catalog.resolve("network-traffic")
      val edges = rl
        .unionByName(nt.select(col("id").as("src"), col("src_ref").as("dst")))
        .unionByName(nt.select(col("id").as("src"), col("dst_ref").as("dst")))
        .unionByName(ct)
      graft.operators.Graph.kCore(edges, k = 2, rounds = 4).orderBy("id")
    },

    // ----- full CORENESS decomposition of the same reference graph: per
    //       node, the max k whose k-core still holds it (k swept 1..3;
    //       levels nest, so each level peels from the previous level's
    //       surviving edges). The oracle unrolls the same per-level peel
    //       chains (4 MATERIALIZED rounds each, the q_stix_kcore shape
    //       iterated: level 3 peels from level 2's u24) and takes each
    //       node's max surviving level.
    q("q_stix_coreness", {
      // peel round i of level k over u$k${i-1}, threshold k — MATERIALIZED
      // for the same exponential-inlining reason as q_stix_kcore
      def peel(k: Int, i: Int) =
        s"""d$k$i AS MATERIALIZED (SELECT id, count(*) AS deg FROM
           |      (SELECT a AS id FROM u$k${i - 1} UNION ALL SELECT b FROM u$k${i - 1}) n$k$i GROUP BY id),
           |s$k$i AS MATERIALIZED (SELECT id FROM d$k$i WHERE deg >= $k),
           |u$k$i AS MATERIALIZED (SELECT u.a, u.b FROM u$k${i - 1} u
           |      JOIN s$k$i sa ON u.a = sa.id JOIN s$k$i sb ON u.b = sb.id)""".stripMargin
      s"""WITH edges AS (
         |  SELECT source_ref AS src, target_ref AS dst FROM ${t("__reflist")}
         |  UNION
         |  SELECT id, src_ref FROM ${t("network-traffic")} WHERE src_ref IS NOT NULL
         |  UNION
         |  SELECT id, dst_ref FROM ${t("network-traffic")} WHERE dst_ref IS NOT NULL
         |  UNION
         |  SELECT source_ref, target_ref FROM ${t("__contains")}),
         |u20 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges
         |      WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |${peel(2, 1)},
         |${peel(2, 2)},
         |${peel(2, 3)},
         |${peel(2, 4)},
         |u30 AS MATERIALIZED (SELECT a, b FROM u24),
         |${peel(3, 1)},
         |${peel(3, 2)},
         |${peel(3, 3)},
         |${peel(3, 4)},
         |lvl AS (SELECT a AS id, 1 AS k FROM u20 UNION SELECT b, 1 FROM u20
         |        UNION SELECT id, 2 FROM s24 UNION SELECT id, 3 FROM s34),
         |conv AS (SELECT ((SELECT count(*) FROM u24) = (SELECT count(*) FROM u23)
         |             AND (SELECT count(*) FROM u34) = (SELECT count(*) FROM u33)) AS converged)
         |SELECT id, CAST(max(k) AS BIGINT) AS coreness, conv.converged
         |FROM lvl CROSS JOIN conv GROUP BY id, conv.converged ORDER BY id""".stripMargin
    }) { st =>
      val rl = st.catalog.resolve("__reflist")
        .select(col("source_ref").as("src"), col("target_ref").as("dst"))
      val ct = st.catalog.resolve("__contains")
        .select(col("source_ref").as("src"), col("target_ref").as("dst"))
      val nt = st.catalog.resolve("network-traffic")
      val edges = rl
        .unionByName(nt.select(col("id").as("src"), col("src_ref").as("dst")))
        .unionByName(nt.select(col("id").as("src"), col("dst_ref").as("dst")))
        .unionByName(ct)
      graft.operators.Graph.coreness(edges, maxK = 3, rounds = 4)
        .select(col("id"), col("coreness").cast("long").as("coreness"), col("converged"))
        .orderBy("id")
    },

    // ----- payload_bin decoders through the pattern compiler: LIKE routes
    //       to like_bin, MATCHES to match_bin (base64-decode then match —
    //       sqlitestorage.py:78-87 match_bin/like_bin). The oracle decodes
    //       the same base64 column in SQL.
    q("q_stix_payload",
      s"""SELECT id, mime_type FROM ${t("artifact")}
         |WHERE (decode(from_base64(payload_bin)) LIKE '%beacon%'
         |    OR regexp_matches(decode(from_base64(payload_bin)), 'exfil-[0-9]+'))
         |  AND id IN ${prov("q1")}
         |ORDER BY id""".stripMargin) { st =>
      st.extract("artifacts_pb", "artifact", "q1",
        "[artifact:payload_bin LIKE '%beacon%' OR artifact:payload_bin MATCHES 'exfil-[0-9]+']")
      st.catalog.resolve("artifacts_pb")
        .select(col("id"), col("mime_type"))
        .orderBy("id")
    },

    // ----- finish(): the post-ingest bucketed layout — results read
    //       THROUGH the re-registered bucketed warehouse tables must equal
    //       the parquet ground truth the oracle reads (sqlstorage.py:
    //       824-827's deferred-index hook; co-location audited by
    //       LayoutSpec, correctness pinned here).
    // ----- snapshot(): the reproducibility verb on the API surface —
    //       cache -> pin -> cache more, then the pin must read as the
    //       q1-only state while the live table shows both ingests (the
    //       q_layout_snapshot shape, driven end-to-end THROUGH Storage:
    //       verbs, journal, and the lease-consistent writer path). The
    //       oracle recomputes both sides from the shared corpus tables:
    //       snap = urls with q1 provenance (url ids are content-derived
    //       UUIDv5, so the q1-only state IS the q1-provenance subset on
    //       (id, value)), live = the full url table.
    Q("q_stix_snapshot", (spark, _) => {
      StixCorpus.ensure(spark) // the oracle reads the shared corpus tables
      // fixture store (cache q1 -> PIN -> cache q2, built once): the row
      // measures the verb READ path — a per-rep scratch re-ingest
      // measured 40.8 s of pure setup at sf0.1
      val st = StixCorpus.ensureSnap(spark)
      st.readSnapshot("url", "s1")
        .select(lit("snap").as("side"), col("id"), col("value"))
        .unionByName(st.catalog.resolve("url")
          .select(lit("live").as("side"), col("id"), col("value")))
        .orderBy("side", "id")
    }, Some(
      // live restricts to q1 ∪ q2 provenance: the SHARED corpus's url
      // table also carries rows other verbs loaded under different query
      // ids; the scratch store only ever saw the q1/q2 bundles
      s"""SELECT 'snap' AS side, id, value FROM ${t("url")}
         |WHERE id IN ${prov("q1")}
         |UNION ALL
         |SELECT 'live', id, value FROM ${t("url")}
         |WHERE id IN ${prov("q1")} OR id IN ${prov("q2")}
         |ORDER BY side, id""".stripMargin)),

    // ----- snapshot(Seq(tables), name): the MULTI-TABLE consistent cut —
    //       one verb call pins url AND user-account under one name (all
    //       leases held simultaneously, ONE journal entry) between the two
    //       ingests; both pins must read as the q1-only state while the
    //       live tables show both ingests. Ids are content-derived UUIDv5,
    //       so the q1-only state IS the q1-provenance subset (the
    //       q_stix_snapshot argument, per table).
    Q("q_stix_snapshot_multi", (spark, _) => {
      StixCorpus.ensure(spark) // the oracle reads the shared corpus tables
      val st = StixCorpus.ensureSnapMulti(spark)
      st.readSnapshot("url", "m1")
        .select(lit("snap_url").as("side"), col("id"), col("value").as("val"))
        .unionByName(st.readSnapshot("user-account", "m1")
          .select(lit("snap_user").as("side"), col("id"), col("user_id").as("val")))
        .unionByName(st.catalog.resolve("url")
          .select(lit("live_url").as("side"), col("id"), col("value").as("val")))
        .unionByName(st.catalog.resolve("user-account")
          .select(lit("live_user").as("side"), col("id"), col("user_id").as("val")))
        .orderBy("side", "id")
    }, Some(
      s"""SELECT 'snap_url' AS side, id, value AS val FROM ${t("url")}
         |WHERE id IN ${prov("q1")}
         |UNION ALL
         |SELECT 'snap_user', id, user_id FROM ${t("user-account")}
         |WHERE id IN ${prov("q1")}
         |UNION ALL
         |SELECT 'live_url', id, value FROM ${t("url")}
         |WHERE id IN ${prov("q1")} OR id IN ${prov("q2")}
         |UNION ALL
         |SELECT 'live_user', id, user_id FROM ${t("user-account")}
         |WHERE id IN ${prov("q1")} OR id IN ${prov("q2")}
         |ORDER BY side, id""".stripMargin)),

    q("q_stix_finish",
      s"""SELECT u.value, count(*) AS count
         |FROM ${t("url")} u
         |JOIN ${t("__contains")} c ON u.id = c.target_ref
         |JOIN ${t("observed-data")} o ON c.source_ref = o.id
         |WHERE u.id IN ${prov("q2")}
         |GROUP BY u.value ORDER BY u.value""".stripMargin) { st =>
      st.finish()
      st.extract("urls_fin", "url", "q2", null)
      st.valueCountsDF("urls_fin", "value")
    }
  ) ++ xlate ++ wood

  // ----- woodchipper conversion path (reference woodchipper.py:429-521):
  //       Sysmon endpoint logs -> PathMapper -> bundle -> cache, answers
  //       recomputed over the written tables
  private def WWD = WoodCorpus.dir
  private def wt(name: String) = s"read_parquet('$WWD/$name.parquet/**/*.parquet', hive_partitioning=0)"
  private def wq(name: String, oracle: String)(build: Storage => org.apache.spark.sql.DataFrame): Q =
    Q(name, (spark, _) => build(WoodCorpus.ensure(spark)), Some(oracle))

  private def wood: Seq[Q] = Seq(

    // parent/user deref over converted process-creation events
    wq("q_wood_procs",
      s"""SELECT p.id, p.name, p.pid,
         |  par.name AS "parent_ref.name", u.user_id AS "creator_user_ref.user_id"
         |FROM ${wt("process")} p
         |LEFT JOIN ${wt("process")} par ON p.parent_ref = par.id
         |LEFT JOIN ${wt("user-account")} u ON p.creator_user_ref = u.id
         |WHERE p.pid >= 1000
         |ORDER BY p.id""".stripMargin) { st =>
      st.extract("wprocs", "process", "wq1", "[process:pid >= 1000]")
      Deref.autoDeref(st, "wprocs", Some(Seq(
          "id", "name", "pid", "parent_ref.name", "creator_user_ref.user_id")))
        .orderBy("id")
    },

    // opened_connection_refs reflist semi-join from the converted net events
    wq("q_wood_reflist",
      s"""SELECT p.id, p.name, p.pid FROM ${wt("process")} p
         |WHERE p.id IN (
         |  SELECT r.source_ref FROM ${wt("__reflist")} r
         |  JOIN ${wt("network-traffic")} n ON r.target_ref = n.id
         |  WHERE r.ref_name = 'opened_connection_refs' AND n.dst_port = 443)
         |ORDER BY p.id""".stripMargin) { st =>
      st.extract("wconns", "process", "wq1",
        "[process:opened_connection_refs.dst_port = 443]")
      st.catalog.resolve("wconns")
        .select(col("id"), col("name"), col("pid"))
        .orderBy("id")
    }
  )

  // ----- fast-translation ingest path (reference firepit/aio/ingest.py):
  //       the same verb surface over tables written by the DISTRIBUTED
  //       stix-shifter translation (TranslateCorpus.cacheTranslatedEvents)
  private def XWD = TranslateCorpus.dir
  private def xt(name: String) = s"read_parquet('$XWD/$name.parquet/**/*.parquet', hive_partitioning=0)"
  private def xprov(qid: String) =
    s"(SELECT sco_id FROM ${xt("__queries")} WHERE query_id = '$qid')"
  private def xq(name: String, oracle: String)(build: Storage => org.apache.spark.sql.DataFrame): Q =
    Q(name, (spark, _) => build(TranslateCorpus.ensure(spark)), Some(oracle))

  private def xlate: Seq[Q] = Seq(

    // extract by compiled pattern + dual v4/v6 deref over translated conns;
    // first protocol via the grouped+layer-sorted protocols column
    xq("q_xlate_deref",
      s"""SELECT n.id, coalesce(s4.value, s6.value) AS "src_ref.value",
         |  d4.value AS "dst_ref.value", n.src_port, n.dst_port,
         |  n.protocols[1] AS proto
         |FROM ${xt("network-traffic")} n
         |LEFT JOIN ${xt("ipv4-addr")} s4 ON n.src_ref = s4.id
         |LEFT JOIN ${xt("ipv6-addr")} s6 ON n.src_ref = s6.id
         |LEFT JOIN ${xt("ipv4-addr")} d4 ON n.dst_ref = d4.id
         |WHERE n.dst_port = 443 AND n.id IN ${xprov("xq1")}
         |ORDER BY n.id""".stripMargin) { st =>
      st.extract("xconns", "network-traffic", "xq1", "[network-traffic:dst_port = 443]")
      Deref.autoDeref(st, "xconns")
        .select(
          col("id"), col("`src_ref.value`"), col("`dst_ref.value`"),
          col("src_port"), col("dst_port"),
          element_at(col("protocols"), 1).as("proto"))
        .orderBy("id")
    },

    // observation-weighted value_counts over translated urls
    xq("q_xlate_value_counts",
      s"""SELECT u.value, count(*) AS count
         |FROM ${xt("url")} u
         |JOIN ${xt("__contains")} c ON u.id = c.target_ref
         |JOIN ${xt("observed-data")} o ON c.source_ref = o.id
         |WHERE u.id IN ${xprov("xq1")}
         |GROUP BY u.value ORDER BY u.value""".stripMargin) { st =>
      st.extract("xurls", "url", "xq1", null)
      st.valueCountsDF("xurls", "value")
    },

    // summary over translated conns: the observed-data attributes came from
    // cybox:false mappings (first/last_observed, ToInteger number_observed)
    xq("q_xlate_summary",
      s"""SELECT min(o.first_observed) AS first_observed,
         |  max(o.last_observed) AS last_observed,
         |  CAST(sum(o.number_observed) AS BIGINT) AS number_observed
         |FROM ${xt("network-traffic")} n
         |JOIN ${xt("__contains")} c ON n.id = c.target_ref
         |JOIN ${xt("observed-data")} o ON c.source_ref = o.id
         |WHERE n.id IN ${xprov("xq1")}""".stripMargin) { st =>
      st.extract("xconns_sum", "network-traffic", "xq1", null)
      st.summaryDF("xconns_sum")
    },

    // __contains rank marking: dst-named instances carry rank 0
    // (aio/ingest.py:707-711) — count rank-1 (primary) edges per target type
    xq("q_xlate_rank",
      s"""SELECT t.otype, count(*) AS n FROM (
         |  SELECT CASE
         |    WHEN c.target_ref LIKE 'ipv4-addr--%' THEN 'ipv4-addr'
         |    WHEN c.target_ref LIKE 'ipv6-addr--%' THEN 'ipv6-addr'
         |    WHEN c.target_ref LIKE 'network-traffic--%' THEN 'network-traffic'
         |    WHEN c.target_ref LIKE 'url--%' THEN 'url'
         |    WHEN c.target_ref LIKE 'user-account--%' THEN 'user-account'
         |    ELSE 'other' END AS otype
         |  FROM ${xt("__contains")} c
         |  WHERE c.x_firepit_rank = 1) t
         |GROUP BY t.otype ORDER BY t.otype""".stripMargin) { st =>
      val c = st.catalog.resolve("__contains")
      c.where(col("x_firepit_rank") === 1)
        .select(regexp_extract(col("target_ref"), "^([a-z0-9-]+)--", 1).as("otype"))
        .withColumn("otype",
          when(col("otype").isin("ipv4-addr", "ipv6-addr", "network-traffic", "url", "user-account"),
            col("otype")).otherwise("other"))
        .groupBy("otype").agg(count(lit(1)).as("n"))
        .orderBy("otype")
    }
  )
}
