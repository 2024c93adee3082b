package graft

import graft.api.{Deref, IncompatibleType, Storage, StixPatternError}
import graft.ingest.{Flatten, UpsertWriter}
import graft.model.{StixId, StixMeta, Uuid5}
import java.util.UUID

/** Semantics pinned from the reference: deterministic ids, graph flatten,
  * upsert merge rules, pattern compilation, verbs, auto-deref. */
class StixCoreSpec extends SparkSpec {

  private def tmpStore(): Storage =
    new Storage(spark, suiteTempDir("graft-store"))

  // A hand-built STIX 2.0-style bundle (observation with indexed objects).
  private val bundle20 =
    """{"type":"bundle","id":"bundle--b1","objects":[
      |{"type":"identity","id":"identity--i1","name":"unit-test"},
      |{"type":"observed-data","id":"observed-data--o1",
      | "created_by_ref":"identity--i1",
      | "first_observed":"2024-01-01T00:00:00.000Z",
      | "last_observed":"2024-01-01T01:00:00.000Z","number_observed":2,
      | "objects":{
      |   "0":{"type":"ipv4-addr","value":"10.0.0.1"},
      |   "1":{"type":"ipv4-addr","value":"192.168.1.5"},
      |   "2":{"type":"network-traffic","src_ref":"0","dst_ref":"1",
      |        "src_port":4444,"dst_port":80,"protocols":["tcp","http"]},
      |   "3":{"type":"url","value":"http://example.com/page/1"}
      | }}]}""".stripMargin

  private val bundle20b =
    """{"type":"bundle","id":"bundle--b2","objects":[
      |{"type":"observed-data","id":"observed-data--o2",
      | "first_observed":"2024-01-02T00:00:00.000Z",
      | "last_observed":"2024-01-02T01:00:00.000Z","number_observed":3,
      | "objects":{
      |   "0":{"type":"ipv4-addr","value":"10.0.0.1"},
      |   "1":{"type":"url","value":"http://example.com/other"}
      | }}]}""".stripMargin

  test("Uuid5 matches the RFC 4122 python reference vector") {
    // uuid.uuid5(uuid.NAMESPACE_DNS, 'python.org')
    val dns = UUID.fromString("6ba7b810-9dad-11d1-80b4-00c04fd430c8")
    assert(Uuid5(dns, "python.org").toString == "886313e1-3b8a-5372-9b90-0c9aee199e5d")
  }

  test("makeid matches the reference ids for the STIX 2.1 spec examples") {
    // expected ids generated with the reference's makeid algorithm over
    // tests/test_stix21_objects.json (the spec's own SCO examples)
    val goldens = Seq(
      """{"name":"Slime Industries","number":15139,"rir":"ARIN","spec_version":"2.1","type":"autonomous-system"}""" ->
        "autonomous-system--3aa27478-50b5-5ab8-9da9-cdc12b657fff",
      """{"path":"C:\\Windows\\System32","spec_version":"2.1","type":"directory"}""" ->
        "directory--0a58d0c1-59e6-5afd-8252-dcd3f13e5622",
      """{"resolves_to_refs":["ipv4-addr--ff26c055-6336-5bc5-b98d-13d6226742dd"],"spec_version":"2.1","type":"domain-name","value":"example.com"}""" ->
        "domain-name--bedb4899-d24b-5401-bc86-8f6b4cc18ec7",
      """{"display_name":"John Doe","spec_version":"2.1","type":"email-addr","value":"john@example.com"}""" ->
        "email-addr--7165e2a9-671f-585d-b1e1-ca59c671d934",
      """{"date":"1997-11-21T15:55:06.000Z","from_ref":"email-addr--89f52ea8-d6ef-51e9-8fce-6a29236436ed","is_multipart":false,"spec_version":"2.1","subject":"Saying Hello","to_refs":["email-addr--e4ee5301-b52d-59cd-a8fa-8036738c7194"],"type":"email-message"}""" ->
        "email-message--92fa1bfd-2c62-5a30-8b7c-5b91ea73cf29",
      """{"hashes":{"SHA-256":"fe90a7e910cb3a4739bed9180e807e93fa70c90f25a8915476f5e4bfbac681db"},"name":"foo.dll","size":25536,"spec_version":"2.1","type":"file"}""" ->
        "file--949eb97a-da1e-5292-8959-03c4249dc9f3",
      // non-ASCII name: uuid5 over raw UTF-8, not escaped
      """{"hashes":{"SHA-256":"841a8921140aba50671ebb0770fecc4ee308c4952cfeff8de154ab14eeef4649"},"name":"qu\u00eary.dll","name_enc":"windows-1252","spec_version":"2.1","type":"file"}""" ->
        "file--7d1e3a18-89e7-5bc5-be36-9879f5b7f5c8",
      """{"spec_version":"2.1","type":"ipv4-addr","value":"198.51.100.3"}""" ->
        "ipv4-addr--28bb3599-77cd-5a82-a950-b5bc3caf07c4"
    )
    goldens.foreach { case (json, expected) =>
      val obj = Flatten.parseJson(json).asInstanceOf[Map[String, Any]]
      assert(StixId.makeid(obj) == expected, s"id mismatch for $json")
    }
  }

  test("makeid is deterministic and value-sensitive") {
    val a = StixId.makeid(Map("type" -> "ipv4-addr", "value" -> "10.0.0.1"))
    val b = StixId.makeid(Map("type" -> "ipv4-addr", "value" -> "10.0.0.1"))
    val c = StixId.makeid(Map("type" -> "ipv4-addr", "value" -> "10.0.0.2"))
    assert(a == b && a != c && a.startsWith("ipv4-addr--"))
  }

  test("makeid picks hashes by preference order") {
    val md5Only = StixId.makeid(Map("type" -> "file", "hashes" -> Map("MD5" -> "x")))
    val both = StixId.makeid(
      Map("type" -> "file", "hashes" -> Map("MD5" -> "x", "'SHA-256'" -> "y")))
    assert(md5Only == both) // SHA-256 ignored when MD5 present
  }

  test("canonicalJson sorts keys and is compact") {
    assert(StixId.canonicalJson(Map("b" -> 1L, "a" -> "x")) == """{"a":"x","b":1}""")
  }

  test("jsonNormalize flattens with the quote rule; skips x-* nested dicts") {
    val flat = Flatten.jsonNormalize(Map(
      "type" -> "file",
      "hashes" -> Map("SHA-1" -> "abc"),
      "name" -> "f.exe"))
    assert(flat("hashes.'SHA-1'") == "abc")
    val custom = Flatten.jsonNormalize(Map(
      "type" -> "x-custom",
      "nested" -> Map("a" -> 1L)))
    assert(custom.contains("nested")) // not recursed for custom SCOs
    // ...but extensions on x-* types ARE recursed (test_raft.py case 5)
    val ext = Flatten.jsonNormalize(Map(
      "type" -> "x-foo",
      "extensions" -> Map("x-cool-ext" -> Map("a" -> 1L, "b" -> 2L))))
    assert(ext("extensions.'x-cool-ext'.a") == 1L && ext("extensions.'x-cool-ext'.b") == 2L)
    // deep non-x nesting flattens fully (test_raft.py case 3)
    val deep = Flatten.jsonNormalize(Map("type" -> "foo", "a" -> Map("b" -> Map("c" -> 1L))))
    assert(deep("a.b.c") == 1L)
  }

  test("flatten 2.0: edges, id resolution, rank marking") {
    val objs = Flatten.flattenBundle(bundle20)
    val contains = objs.filter(_("type") == "__contains")
    assert(contains.length == 4)
    // ranks: src ipv4, network-traffic, url -> 1; dst ipv4 unranked
    val ranked = contains.filter(_.contains("x_firepit_rank"))
    assert(ranked.length == 3)
    val nt = objs.find(_("type") == "network-traffic").get
    val srcId = nt("src_ref").toString
    assert(srcId.startsWith("ipv4-addr--")) // index resolved to 2.1 id
    val srcIp = objs.find(o => o("type") == "ipv4-addr" && o("value") == "10.0.0.1").get
    assert(srcId == srcIp("id"))
    assert(ranked.exists(_("target_ref") == srcIp("id")))
  }

  test("flatten 2.1: object_refs -> __contains, _refs -> __reflist") {
    val b21 =
      """{"type":"bundle","id":"bundle--x","objects":[
        |{"type":"observed-data","id":"observed-data--z","spec_version":"2.1",
        | "object_refs":["ipv4-addr--1","network-traffic--2"]},
        |{"type":"network-traffic","spec_version":"2.1","id":"network-traffic--2",
        | "opened_connection_refs":["network-traffic--7","network-traffic--8"]}
        |]}""".stripMargin
    val objs = Flatten.flattenBundle(b21)
    assert(objs.count(_("type") == "__contains") == 2)
    val rl = objs.filter(_("type") == "__reflist")
    assert(rl.length == 2 && rl.forall(_("ref_name") == "opened_connection_refs"))
  }

  test("upsert merge: min/max/sum observed, newest-non-null, no null clobber") {
    withTempDir("graft-upsert") { dir =>
      UpsertWriter.upsert(spark, dir, "t", UpsertWriter.rowsToDF(spark, Seq(
        Map("id" -> "a", "first_observed" -> "2024-01-02", "last_observed" -> "2024-01-02",
          "number_observed" -> 2L, "name" -> "orig", "extra" -> "keep"))))
      UpsertWriter.upsert(spark, dir, "t", UpsertWriter.rowsToDF(spark, Seq(
        Map("id" -> "a", "first_observed" -> "2024-01-01", "last_observed" -> "2024-01-03",
          "number_observed" -> 3L, "name" -> "new", "extra" -> null, "added" -> "evolved"),
        Map("id" -> "b", "name" -> "other"))))
      val rows = spark.read.parquet(s"$dir/t.parquet").collect()
        .map(r => r.getAs[String]("id") -> r).toMap
      val a = rows("a")
      assert(a.getAs[String]("first_observed") == "2024-01-01")
      assert(a.getAs[String]("last_observed") == "2024-01-03")
      assert(a.getAs[Long]("number_observed") == 5L)
      assert(a.getAs[String]("name") == "new")    // newest non-null wins
      assert(a.getAs[String]("extra") == "keep")  // null does not clobber
      assert(a.getAs[String]("added") == "evolved") // schema evolution
      assert(rows("b").getAs[String]("added") == null)
    }
  }

  test("cache + extract + values: end-to-end hunt flow") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.extract("urls", "url", "q1", "[url:value LIKE '%page%']")
    assert(s.count("urls") == 1)
    assert(s.values("url:value", "urls") == Seq("http://example.com/page/1"))
  }

  test("ingest is idempotent/dedupable across bundles (deterministic ids)") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.cache("q2", bundle20b)
    // 10.0.0.1 appears in both bundles -> single row
    assert(s.count("ipv4-addr") == 2)
    assert(s.count("url") == 2)
    // provenance keeps both cache calls separate
    s.extract("v1", "url", "q1", "")
    s.extract("v2", "url", "q2", "")
    assert(s.count("v1") == 1 && s.count("v2") == 1)
  }

  test("pattern: type scoping drops non-matching comparisons") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.extract("ips", "ipv4-addr", "q1", "[url:value = 'nope']") // scoped out
    assert(s.count("ips") == 2) // no predicate left -> all ipv4 rows
  }

  test("pattern: IN list, ISSUBSET, NOT LIKE, MATCHES, START/STOP") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.extract("inlist", "ipv4-addr", "q1", "[ipv4-addr:value IN ('10.0.0.1', '1.2.3.4')]")
    assert(s.values("ipv4-addr:value", "inlist") == Seq("10.0.0.1"))
    s.extract("subnet", "ipv4-addr", "q1", "[ipv4-addr:value ISSUBSET '10.0.0.0/8']")
    assert(s.values("ipv4-addr:value", "subnet") == Seq("10.0.0.1"))
    s.extract("notlike", "url", "q1", "[url:value NOT LIKE '%page%']")
    assert(s.count("notlike") == 0)
    s.extract("rex", "url", "q1", "[url:value MATCHES 'page/[0-9]+']")
    assert(s.count("rex") == 1)
    s.extract("qual", "url", "q1",
      "[url:value LIKE '%page%'] START t'2024-01-01T00:00:00Z' STOP t'2024-01-02T00:00:00Z'")
    assert(s.count("qual") == 1)
  }

  test("pattern: ref path becomes a semi-join") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.extract("conns", "network-traffic", "q1", "[network-traffic:src_ref.value = '10.0.0.1']")
    assert(s.count("conns") == 1)
    s.extract("nomatch", "network-traffic", "q1", "[network-traffic:src_ref.value = '9.9.9.9']")
    assert(s.count("nomatch") == 0)
  }

  test("pattern: [*] list property matches array columns") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.extract("tcp", "network-traffic", "q1", "[network-traffic:protocols[*] = 'tcp']")
    assert(s.count("tcp") == 1)
    s.extract("quic", "network-traffic", "q1", "[network-traffic:protocols[*] = 'quic']")
    assert(s.count("quic") == 0)
  }

  test("pattern: parse errors raise StixPatternError") {
    intercept[StixPatternError] { graft.pattern.Pattern.parse("[url:value LIKE") }
    intercept[StixPatternError] { graft.pattern.Pattern.parse("url:value = 'x'") }
  }

  test("filter verb narrows an existing view") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.extract("allips", "ipv4-addr", "q1", "")
    s.filter("ten", "ipv4-addr", "allips", "[ipv4-addr:value LIKE '10.%']")
    assert(s.count("ten") == 1)
  }

  test("lookup auto-derefs references with dotted aliases") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.extract("conns", "network-traffic", "q1", "")
    val rows = s.lookup("conns")
    assert(rows.length == 1)
    val row = rows.head
    assert(row("src_ref.value") == "10.0.0.1")
    assert(row("dst_ref.value") == "192.168.1.5")
    assert(row("type") == "network-traffic")
  }

  test("group with auto-aggregation") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.cache("q2", bundle20b)
    s.extract("ips", "ipv4-addr", "q1", "")
    s.group("byval", "ips", Seq("value"))
    val df = s.catalog.resolve("byval")
    assert(df.columns.contains("value"))
    assert(df.count() == 2)
  }

  test("merge rejects incompatible types; unions compatible ones") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.extract("a", "url", "q1", "")
    s.extract("b", "ipv4-addr", "q1", "")
    intercept[IncompatibleType] { s.merge("m", Seq("a", "b")) }
    s.cache("q2", bundle20b)
    s.extract("c", "url", "q2", "")
    s.merge("m2", Seq("a", "c"))
    assert(s.count("m2") == 2)
  }

  test("value_counts / number_observed / summary over observations") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.cache("q2", bundle20b)
    s.extract("ips", "ipv4-addr", "q1", "")
    val vc = s.valueCounts("ips", "ipv4-addr:value").toMap
    assert(vc("10.0.0.1") == 2L) // seen in two observations
    assert(vc("192.168.1.5") == 1L)
    assert(s.numberObserved("ips", "value", "10.0.0.1") == 5L) // 2 + 3
    val (first, last, n) = s.summary("ips")
    assert(first == "2024-01-01T00:00:00.000Z" && last == "2024-01-02T01:00:00.000Z" && n == 7L)
  }

  test("timestamped attaches observation attributes") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.extract("urls", "url", "q1", "")
    val df = s.timestamped("urls")
    assert(df.columns.contains("observation_id") && df.columns.contains("first_observed"))
    assert(df.count() == 1)
  }

  test("reassign + unresolve write enrichments back") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.extract("conns", "network-traffic", "q1", "")
    val row = s.lookup("conns").head
    val enriched = Map(
      "id" -> row("id"),
      "type" -> "network-traffic",
      "x_verdict" -> "malicious",
      "src_ref.id" -> row("src_ref.id"),
      "src_ref.value" -> row("src_ref.value"),
      "src_ref.x_geo" -> "US")
    s.reassign("enriched", Seq(enriched))
    assert(s.count("enriched") == 1)
    // the split-out ipv4 enrichment landed on the referenced row
    val ip = s.catalog.resolve("ipv4-addr")
      .where(org.apache.spark.sql.functions.col("value") === "10.0.0.1")
      .head()
    assert(ip.getAs[String]("x_geo") == "US")
    // and the view row carries the verdict
    val nt = s.catalog.resolve("network-traffic").head()
    assert(nt.getAs[String]("x_verdict") == "malicious")
  }

  test("unresolve splits dotted ref columns into typed objects") {
    val objs = Deref.unresolve(Seq(Map(
      "id" -> "network-traffic--1", "src_port" -> 80L,
      "src_ref.id" -> "ipv4-addr--9", "src_ref.value" -> "1.2.3.4")))
    assert(objs.length == 2)
    val ip = objs.find(_.get("type").contains("ipv4-addr")).get
    assert(ip("value") == "1.2.3.4" && ip("id") == "ipv4-addr--9")
    val nt = objs.find(_.contains("src_port")).get
    assert(nt("src_ref") == "ipv4-addr--9" && !nt.contains("src_ref.value"))
  }

  test("load synthesizes ids and registers a view") {
    val s = tmpStore()
    s.load("loaded", Seq(
      Map("type" -> "url", "value" -> "http://x.test/1"),
      Map("type" -> "url", "value" -> "http://x.test/2")))
    assert(s.count("loaded") == 2)
    assert(s.tableType("loaded").contains("url"))
  }

  test("assign sort/limit and assignQuery with auto-agg synthesis") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    s.cache("q2", bundle20b)
    s.extract("urls", "url", "q1", "")
    s.assign("sorted", "urls", "sort", "value", asc = false, limit = Some(1))
    assert(s.values("value", "sorted") == Seq("http://example.com/page/1"))
    // assignQuery: grouped with no aggs -> auto-agg synthesized from schema
    import graft.query._
    s.extract("ips", "ipv4-addr", "q1", "")
    s.assignQuery("byip", GQuery.table("ips", Group(Seq(Col("value")))), "ipv4-addr")
    assert(s.count("byip") == 2)
    // runQuery executes a raw Stage query against views
    val n = s.runQuery(GQuery.table("ips", CountRows())).head().getLong(0)
    assert(n == 2)
  }

  test("self-shadowing: view recipes resolving their own name replay the previous definition") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    // view named after its base table (the extract("url","url",...) shape)
    s.extract("url", "url", "q1", "[url:value LIKE '%page%']")
    assert(s.count("url") == 1)
    // Kestrel re-assignment: filter a view into itself, twice
    s.extract("allips", "ipv4-addr", "q1", "")
    s.filter("allips", "ipv4-addr", "allips", "[ipv4-addr:value LIKE '10.%']")
    assert(s.count("allips") == 1)
    s.filter("allips", "ipv4-addr", "allips", "[ipv4-addr:value LIKE '10.0.%']")
    assert(s.count("allips") == 1)
  }

  test("__columns metadata: extension props shortened with uuid5 fallback") {
    val s = tmpStore()
    val longProp = "a" * 50
    val b =
      s"""{"type":"bundle","id":"bundle--bc","objects":[
         |{"type":"observed-data","id":"observed-data--oc",
         | "first_observed":"2024-01-01T00:00:00.000Z",
         | "last_observed":"2024-01-01T00:00:00.000Z","number_observed":1,
         | "objects":{
         |   "0":{"type":"file","name":"f.exe",
         |        "extensions":{"x-acme-ext":{"score":5,"$longProp":"v"}}}
         | }}]}""".stripMargin
    s.cache("qc", b)
    assert(s.columns("file").contains("x_score"))
    val meta = s.columnsMetadata("file")
    assert(meta.exists(m =>
      m("path") == "extensions.'x-acme-ext'.score" && m("shortname") == "x_score" && m("dtype") == "int"))
    // still >48 chars after the x_ rewrite -> uuid5 hex of the full path
    val recorded = meta.find(m => m("path").toString.contains(longProp)).get
    val expected = Uuid5(StixMeta.ColumnsNs, recorded("path").toString).toString.replace("-", "")
    assert(recorded("shortname") == expected)
    assert(s.columnShortname("file", recorded("path").toString).contains(expected))
  }

  test("lookup re-applies assign(sort) order after deref joins") {
    val s = tmpStore()
    val b =
      """{"type":"bundle","id":"bundle--bs","objects":[
        |{"type":"observed-data","id":"observed-data--os",
        | "first_observed":"2024-01-01T00:00:00.000Z",
        | "last_observed":"2024-01-01T00:00:00.000Z","number_observed":1,
        | "objects":{
        |   "0":{"type":"ipv4-addr","value":"10.0.0.1"},
        |   "1":{"type":"ipv4-addr","value":"10.0.0.2"},
        |   "2":{"type":"ipv4-addr","value":"10.0.0.3"},
        |   "3":{"type":"network-traffic","src_ref":"0","dst_ref":"1","src_port":1111,"dst_port":80},
        |   "4":{"type":"network-traffic","src_ref":"1","dst_ref":"2","src_port":3333,"dst_port":443},
        |   "5":{"type":"network-traffic","src_ref":"2","dst_ref":"0","src_port":2222,"dst_port":22}
        | }}]}""".stripMargin
    s.cache("qs", b)
    s.extract("conns", "network-traffic", "qs", "")
    s.assign("by_port", "conns", "sort", "src_port", asc = false)
    val rows = s.lookup("by_port")
    assert(rows.map(_("src_port")) == Seq(3333L, 2222L, 1111L))
    assert(rows.head("src_ref.value") == "10.0.0.2") // deref columns attached
  }

  test("views persist across Storage instances via the __symtable journal") {
    withTempDir("graft-persist") { dir =>
      val s1 = new Storage(spark, dir)
      s1.cache("q1", bundle20)
      s1.cache("q2", bundle20b)
      s1.extract("urls", "url", "q1", "[url:value LIKE '%page%']")
      s1.extract("u2", "url", "q2", "")
      s1.merge("all_urls", Seq("urls", "u2"))
      s1.assign("sorted", "all_urls", "sort", "value", asc = false)
      s1.setAppdata("urls", """{"note":"kept"}""")
      s1.renameView("u2", "u2r")

      // a brand-new Storage over the same workdir rebuilds the views
      val s2 = new Storage(spark, dir)
      assert(s2.views().toSet == Set("urls", "u2r", "all_urls", "sorted"))
      assert(s2.count("urls") == 1 && s2.count("all_urls") == 2)
      assert(s2.values("value", "sorted") ==
        Seq("http://example.com/page/1", "http://example.com/other"))
      assert(s2.getAppdata("urls").contains("""{"note":"kept"}"""))
      assert(s2.tableType("urls").contains("url"))
      // replayed views see data cached AFTER the journal entry was written
      // (same q1 provenance so the extract's semi-join admits the new row)
      s2.cache("q1",
        bundle20.replace("page/1", "page/9").replace("observed-data--o1", "observed-data--o3")
          .replace("bundle--b1", "bundle--b3"))
      assert(s2.count("urls") == 2) // lazy replay over current base tables
    }
  }

  test("snapshot verbs: pin through Storage, journaled, replay-safe round trip") {
    withTempDir("graft-snapverb") { dir =>
      val s1 = new Storage(spark, dir)
      s1.cache("q1", bundle20)
      val before = s1.catalog.resolve("url")
        .select("id", "value").collect().map(_.toSeq).toSet
      s1.snapshot("url", "s1")
      s1.cache("q2", bundle20b)
      // the pin reads the pre-churn state; the live table moved
      assert(s1.readSnapshot("url", "s1")
        .select("id", "value").collect().map(_.toSeq).toSet == before)
      assert(s1.catalog.resolve("url").count() > before.size)
      assert(s1.snapshots("url") == Seq("s1"))
      // pins are immutable: re-pinning an existing name fails loudly
      intercept[IllegalStateException] { s1.snapshot("url", "s1") }
      // journal carries the provenance lines
      val journal = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "__symtable.jsonl")), "UTF-8")
      assert(journal.contains("\"snapshot\"") && journal.contains("\"s1\""))
      // a brand-new Storage replays the journal WITHOUT re-executing the pin
      // (re-pinning would throw "already exists") and still sees it
      val s2 = new Storage(spark, dir)
      assert(s2.snapshots("url") == Seq("s1"))
      assert(s2.readSnapshot("url", "s1")
        .select("id", "value").collect().map(_.toSeq).toSet == before)
      // drop is journaled + idempotent; replay after drop stays clean
      s2.dropSnapshot("url", "s1")
      s2.dropSnapshot("url", "s1")
      assert(s2.snapshots("url").isEmpty)
      val s3 = new Storage(spark, dir)
      assert(s3.snapshots("url").isEmpty)
      intercept[IllegalArgumentException] { s3.readSnapshot("url", "s1") }
    }
  }

  test("multi-table snapshot verb: one journal entry, consistent cut, replay-safe") {
    withTempDir("graft-snapmulti") { dir =>
      val s1 = new Storage(spark, dir)
      s1.cache("q1", bundle20)
      val urlBefore = s1.catalog.resolve("url")
        .select("id", "value").collect().map(_.toSeq).toSet
      val v4Before = s1.catalog.resolve("ipv4-addr")
        .select("id", "value").collect().map(_.toSeq).toSet
      s1.snapshot(Seq("ipv4-addr", "url"), "m1")
      s1.cache("q2", bundle20b)
      // both pins read the pre-churn cut through the shared name
      assert(s1.readSnapshot("url", "m1")
        .select("id", "value").collect().map(_.toSeq).toSet == urlBefore)
      assert(s1.readSnapshot("ipv4-addr", "m1")
        .select("id", "value").collect().map(_.toSeq).toSet == v4Before)
      // ONE journal entry for the group, verb snapshot_multi
      val journal = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "__symtable.jsonl")), "UTF-8")
      assert(journal.contains("\"snapshot_multi\"") && journal.contains("\"m1\""))
      assert(journal.linesIterator.count(_.contains("snapshot_multi")) == 1)
      // replay records, never re-pins: a fresh Storage sees both members
      val s2 = new Storage(spark, dir)
      assert(s2.snapshots("url") == Seq("m1") && s2.snapshots("ipv4-addr") == Seq("m1"))
      assert(s2.readSnapshot("url", "m1")
        .select("id", "value").collect().map(_.toSeq).toSet == urlBefore)
      // group re-pin under the taken name fails the whole group loudly
      intercept[IllegalStateException] { s2.snapshot(Seq("ipv4-addr", "url"), "m1") }
    }
  }

  test("assignQuery views persist via the Stage-ADT JSON codec; Column-bearing plans stay transient") {
    import graft.query._
    withTempDir("graft-aq") { dir =>
      val s1 = new Storage(spark, dir)
      s1.cache("q1", bundle20)
      s1.extract("ips", "ipv4-addr", "q1", "")
      val q = GQuery.table(
        "ips",
        Filter(Seq(Comparison("value", "LIKE", RLit("10.%")))),
        Projection(Seq(Col("value"))),
        Order(Seq(OrderKey("value"))))
      // codec round-trip is exact on the data-only ADT
      assert(StageJson.fromJson(StageJson.toJson(q).get) == q)
      s1.assignQuery("tens", q, "ipv4-addr")
      s1.assignQuery(
        "transient",
        GQuery.table("ips", Aggregation(Seq(ExprAgg(
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)), "n")))),
        "ipv4-addr")
      val s2 = new Storage(spark, dir)
      assert(s2.views().contains("tens"))
      assert(s2.values("value", "tens") == Seq("10.0.0.1"))
      assert(!s2.views().contains("transient")) // live Columns cannot replay
    }
  }

  test("prop_metadata: known table, ref-path resolution, name heuristics") {
    assert(StixMeta.propMetadata("network-traffic", "dst_port") == ("int", "categorical"))
    assert(StixMeta.propMetadata("network-traffic", "src_byte_count") == ("int", "numerical"))
    assert(StixMeta.propMetadata("file", "mtime") == ("str", "timestamp"))
    assert(StixMeta.propMetadata("url", "value") == ("str", "categorical"))
    // ref path resolves to the target type's entry
    assert(StixMeta.pathMetadata("network-traffic:src_ref.value") == ("str", "categorical"))
    // heuristics for unknown props
    assert(StixMeta.propMetadata("x-custom", "created_time") == ("str", "timestamp"))
    assert(StixMeta.propMetadata("x-custom", "event_count") == ("str", "numerical"))
    assert(StixMeta.propMetadata("x-custom", "whatever") == ("str", "categorical"))
  }

  test("summarize_pattern: referenced paths per type; obs-AND intersects") {
    import graft.pattern.Pattern
    assert(Pattern.summarize("[url:value LIKE '%x%']") == Map("url" -> Set("value")))
    assert(
      Pattern.summarize("[ipv4-addr:value = '1.2.3.4' OR network-traffic:dst_port < 1024]") ==
        Map("ipv4-addr" -> Set("value"), "network-traffic" -> Set("dst_port")))
    // comparison-level AND unions; observation-level AND intersects
    assert(
      Pattern.summarize("[url:value = 'a' AND network-traffic:dst_port = 80]") ==
        Map("url" -> Set("value"), "network-traffic" -> Set("dst_port")))
    assert(
      Pattern.summarize("[url:value = 'a' AND url:x_p = 'b'] AND [url:value = 'c']") ==
        Map("url" -> Set("value")))
  }

  test("catalog verbs: tables/types/views/rename/remove/appdata") {
    val s = tmpStore()
    s.cache("q1", bundle20)
    assert(s.tables().contains("url") && !s.tables().exists(_.startsWith("__")))
    // identity/observed-data ARE types in the reference (tables minus views,
    // sqlitestorage.py:276-285; pinned by test_spec_version_2_1.py)
    assert(s.types().contains("network-traffic") && s.types().contains("identity"))
    s.extract("v", "url", "q1", "")
    assert(s.views().contains("v"))
    s.setAppdata("v", """{"note":1}""")
    assert(s.getAppdata("v").contains("""{"note":1}"""))
    s.renameView("v", "w")
    assert(!s.views().contains("v") && s.count("w") == 1)
    s.removeView("w")
    assert(!s.views().contains("w"))
  }
}
