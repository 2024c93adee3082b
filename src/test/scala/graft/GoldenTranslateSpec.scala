package graft

import graft.api.Storage
import graft.ingest.{Flatten, Translate}

/** Replay of the reference's fast-translation suite
  * (tests/test_asyncingest.py) against Translate + the cacheTranslated write
  * path. The exact `ipv4-addr--…` ids pin byte-level uuid5 parity with the
  * reference's makeid. */
class GoldenTranslateSpec extends SparkSpec {

  private val ts = "2023-01-30T16:34:17.784Z"
  private val dataSource: Map[String, Any] = Map(
    "id" -> "identity--97e0ed39-5cf3-4daf-94cd-06087221db32",
    "name" -> "test", "identity_class" -> "test",
    "created" -> ts, "modified" -> ts, "type" -> "identity")

  // tests/test_asyncingest.py:49-248 (stix_map) — expressed as JSON
  private val stixMapJson =
    """{
      | "timestamp": [
      |   {"key": "first_observed", "transformer": "EpochToTimestamp", "cybox": false},
      |   {"key": "last_observed", "transformer": "EpochToTimestamp", "cybox": false}],
      | "applicationname": {"key": "software.name"},
      | "ip": [
      |   {"key": "ipv4-addr.value", "object": "host_ip", "unwrap": true, "transformer": "FilterIPv4List"},
      |   {"key": "ipv6-addr.value", "object": "host_ipv6", "unwrap": true, "transformer": "FilterIPv6List"},
      |   {"key": "x-oca-asset.ip_refs", "object": "host", "references": ["host_ip", "host_ipv6"], "unwrap": true}],
      | "mac": [
      |   {"key": "mac-addr.value", "object": "host_mac", "unwrap": true},
      |   {"key": "x-oca-asset.mac_refs", "object": "host", "references": "host_mac", "unwrap": true}],
      | "sourceip": [
      |   {"key": "ipv4-addr.value", "object": "src_ip"},
      |   {"key": "ipv6-addr.value", "object": "src_ip"},
      |   {"key": "network-traffic.src_ref", "object": "nt", "references": "src_ip"}],
      | "sourceport": {"key": "network-traffic.src_port", "object": "nt"},
      | "process": {
      |   "command_line": {"key": "process.command_line", "object": "process"},
      |   "entity_id": {"key": "process.x_unique_id", "object": "process"},
      |   "parent": {
      |     "command_line": {"key": "process.command_line", "object": "process_parent"},
      |     "entity_id": {"key": "process.x_unique_id", "object": "process_parent"},
      |     "name": [
      |       {"key": "process.name", "object": "process_parent"},
      |       {"key": "process.parent_ref", "object": "process", "references": "process_parent"}],
      |     "pid": [
      |       {"key": "process.pid", "object": "process_parent", "transformer": "ToInteger"},
      |       {"key": "process.parent_ref", "object": "process", "references": "process_parent"}]},
      |   "pid": [
      |     {"key": "process.pid", "object": "process", "transformer": "ToInteger"},
      |     {"key": "x-oca-event.process_ref", "object": "event", "references": "process"}],
      |   "name": [
      |     {"key": "process.name", "object": "process"},
      |     {"key": "x-oca-event.process_ref", "object": "event", "references": "process"}]},
      | "protocol": {"key": "network-traffic.protocols", "object": "nt",
      |              "transformer": "ToLowercaseArray", "group": true},
      | "hostname": [{"key": "x-oca-asset.hostname", "object": "host"}],
      | "application": {
      |   "type": [{"key": "network-traffic.protocols", "object": "nt",
      |             "group": "True", "transformer": "ToLowercaseArray"}]},
      | "user": {
      |   "name": [
      |     {"key": "user-account.user_id", "object": "user"},
      |     {"key": "user-account.account_login", "object": "user"}],
      |   "id": [{"key": "user-account.user_id", "object": "user"}]},
      | "event": {
      |   "category": {"key": "x-oca-event.category", "group": true, "object": "event"},
      |   "kind": {"key": "x-oca-event.category", "group": true, "object": "event",
      |            "transformer": "ValueToList"}},
      | "qid": [
      |   {"key": "x-custom-obj.qid", "object": "custom-obj", "transformer": "ToInteger"},
      |   {"key": "x-custom-obj.const", "object": "custom-obj", "value": 1}]
      |}""".stripMargin

  private def stixMap =
    Flatten.parseJson(stixMapJson).asInstanceOf[Map[String, Any]]

  // stix-shifter's ToLowercaseArray / ValueToList (test_asyncingest.py:28-46)
  private val transformers: Map[String, Translate.Transformer] = Map(
    "ToLowercaseArray" -> {
      case l: Seq[_]   => l.map(_.toString.toLowerCase)
      case s: String   => s.split(", ").toSeq.map(_.toLowerCase)
      case other       => other
    },
    "ValueToList" -> (v => Seq(v)))

  private val eventsJson = Seq(
    """{"foo": "bar", "timestamp": "1675275995001", "applicationname": "frogger",
      | "hostname": "ATLWKS138", "ip": ["192.168.1.1"], "mac": ["01:02:03:AA:BB:CC"],
      | "sourceip": "192.168.1.1", "sourceport": 51275, "protocol": "TCP",
      | "qid": "12345678"}""".stripMargin,
    """{"foo": "bar", "timestamp": "1675275995002", "hostname": "ATLSRV1",
      | "ip": ["10.0.0.1", "192.168.123.1"], "mac": ["40:50:60:DD:EE:FF", "01:02:03:DD:EE:FF"],
      | "sourceip": "192.168.1.2", "sourceport": 51276, "protocol": "TCP",
      | "application": {"type": "ssh"}, "qid": "12345679"}""".stripMargin,
    """{"timestamp": "1675275995003",
      | "sourceip": "2001:db8:85a3:8d3:1319:8a2e:370:7348",
      | "process": {
      |   "parent": {"name": "services.exe", "pid": 1048,
      |     "entity_id": "{8dfc401c-d536-625b-0b00-000000002100}",
      |     "executable": "C:\\Windows\\System32\\services.exe",
      |     "command_line": "C:\\Windows\\system32\\services.exe"},
      |   "name": "svchost.exe", "working_directory": "C:\\Windows\\system32\\",
      |   "pid": 1992, "entity_id": "{8dfc401c-6275-627f-8035-000000002100}",
      |   "hash": {"sha256": "cb19fd67b1d028e01f54c426a0924528c4a8d8ed8996cfe0ee0c6e45285436a1",
      |            "md5": "1b280ad032268a636ecfe6f9165431b7"},
      |   "executable": "C:\\Windows\\System32\\svchost.exe",
      |   "command_line": "C:\\Windows\\system32\\svchost.exe -k LocalServiceNetworkRestricted -p -s WinHttpAutoProxySvc"},
      | "event": {"category": ["foo"], "kind": "bar"},
      | "user": {"id": 1001, "name": "paul"}}""".stripMargin)

  private def events: Seq[Map[String, Any]] =
    eventsJson.map(Flatten.parseJson(_).asInstanceOf[Map[String, Any]])

  private def translated: Seq[Map[String, Any]] =
    Translate.translate(stixMap, transformers, events, dataSource)

  private def at(rows: Seq[Map[String, Any]], col: String, i: Int): Any =
    rows(i).getOrElse(col, null)

  test("translate: column fan-out, unwrap, refs, groups (test_asyncingest.py:255-451)") {
    val rows = translated
    assert(rows.size == 3)
    val cols = rows.flatMap(_.keys).toSet
    assert(!cols.contains("host_ipv6_0#ipv6-addr:value"))

    assert(at(rows, "host#x-oca-asset:ip_refs", 0) ==
      Seq("ipv4-addr--cd2ddd9b-6ae2-5d22-aec9-a9940505e5d5"))
    assert(at(rows, "host#x-oca-asset:ip_refs", 1) ==
      Seq("ipv4-addr--7dd44d27-f473-5ba9-b12b-0d3a61bbed2e",
          "ipv4-addr--1037c297-4eb1-5505-9784-0303035746fc"))
    assert(at(rows, "host#x-oca-asset:ip_refs", 2) == null)

    assert(at(rows, "host_mac_0#mac-addr:value", 0) == "01:02:03:AA:BB:CC")
    assert(at(rows, "host_mac_0#mac-addr:value", 1) == "40:50:60:DD:EE:FF")
    assert(at(rows, "host_mac_0#mac-addr:value", 2) == null)

    assert(at(rows, "host_ip_0#ipv4-addr:value", 0) == "192.168.1.1")
    assert(at(rows, "host_ip_0#ipv4-addr:value", 1) == "10.0.0.1")
    assert(at(rows, "host_ip_1#ipv4-addr:value", 0) == null)
    assert(at(rows, "host_ip_1#ipv4-addr:value", 1) == "192.168.123.1")

    assert(at(rows, "src_ip#ipv6-addr:value", 2) == "2001:db8:85a3:8d3:1319:8a2e:370:7348")
    assert(at(rows, "src_ip#ipv4-addr:value", 0) == "192.168.1.1")
    assert(at(rows, "src_ip#ipv4-addr:value", 1) == "192.168.1.2")
    assert(at(rows, "src_ip#ipv4-addr:value", 2) == null)

    assert(at(rows, "nt#network-traffic:src_ref", 0) ==
      "ipv4-addr--cd2ddd9b-6ae2-5d22-aec9-a9940505e5d5")
    assert(at(rows, "nt#network-traffic:src_ref", 1) ==
      "ipv4-addr--1c7d5746-e728-5d1c-bb2b-deb4020f547f")
    assert(at(rows, "nt#network-traffic:src_ref", 2) ==
      "ipv6-addr--985b9abb-05e9-522b-a869-f7db86c19a2b")

    assert(at(rows, "nt#network-traffic:src_port", 0) == 51275L)
    assert(at(rows, "nt#network-traffic:src_port", 1) == 51276L)

    assert(at(rows, "nt#network-traffic:protocols", 0) == Seq("tcp"))
    assert(at(rows, "nt#network-traffic:protocols", 1) == Seq("tcp", "ssh"))

    assert(at(rows, "custom-obj#x-custom-obj:qid", 0) == 12345678L)
    assert(at(rows, "custom-obj#x-custom-obj:qid", 1) == 12345679L)
    // constant-value mapping applies to EVERY row (ingest.py:461-464)
    assert((0 to 2).forall(i => at(rows, "custom-obj#x-custom-obj:const", i) == 1L))

    assert(at(rows, "observed-data:first_observed", 0) == "2023-02-01T18:26:35.001000Z")
    assert(at(rows, "observed-data:last_observed", 0) == "2023-02-01T18:26:35.001000Z")
    assert(at(rows, "observed-data:first_observed", 2) == "2023-02-01T18:26:35.003000Z")

    assert(at(rows, "process#process:name", 2) == "svchost.exe")
    assert(at(rows, "process#process:parent_ref", 2) ==
      at(rows, "process_parent#process:id", 2))
    assert(at(rows, "process_parent#process:name", 2) == "services.exe")

    // user.id and user.name both map user_id — sorted first-writer wins
    assert(at(rows, "user#user-account:user_id", 2) == 1001L)
    assert(at(rows, "user#user-account:account_login", 2) == "paul")

    assert(at(rows, "software:name", 0) == "frogger")
    assert(at(rows, "event#x-oca-event:category", 2) == Seq("foo", "bar"))

    assert(cols.contains("src_ip#ipv4-addr:id"))
    assert(cols.contains("software:id"))
    // observed-data required columns synthesized (ingest.py:478-485)
    rows.foreach { r =>
      assert(r("observed-data:created_by_ref") == dataSource("id"))
      assert(r("observed-data:number_observed") == 1L)
      assert(r("observed-data:id").toString.startsWith("observed-data--"))
    }
  }

  test("translate: half-unmapped / nested-unmapped columns don't crash (test_unmapped_col)") {
    val sm = Flatten.parseJson(
      """{"timestamp": [
        |   {"key": "first_observed", "transformer": "EpochToTimestamp", "cybox": false},
        |   {"key": "last_observed", "transformer": "EpochToTimestamp", "cybox": false}],
        | "foo": {"bar": {"key": "x-foo-object.bar"}}}""".stripMargin)
      .asInstanceOf[Map[String, Any]]
    val e1 = Seq(Map[String, Any]("foo" -> "bar", "timestamp" -> "1675275995001"))
    assert(Translate.translate(sm, Map.empty, e1, dataSource).size == 1)
    val e2 = Seq(
      Map[String, Any]("foo" -> Map("baz" -> "wowee"), "timestamp" -> "1675275995002"),
      Map[String, Any]("timestamp" -> "1675275995003"))
    assert(Translate.translate(sm, Map.empty, e2, dataSource).size == 2)
  }

  test("translate: protocols column absent from some rows (test_translate_no_protocol)") {
    val sm = Flatten.parseJson(
      """{"CreatedAt": {"key": "first_observed"},
        | "Service": {
        |   "Action": {"NetworkConnectionAction": {"Protocol": [
        |     {"key": "network-traffic.protocols", "object": "nt", "transformer": "ToLowercaseArray"}]}},
        |   "Count": {"key": "x-ibm-finding.event_count", "object": "finding"}}}""".stripMargin)
      .asInstanceOf[Map[String, Any]]
    val evs = Seq(
      Map[String, Any](
        "CreatedAt" -> "2023-06-08T08:21:04.979Z",
        "Service" -> Map(
          "Action" -> Map("ActionType" -> "AWS_API_CALL",
            "AwsApiCallAction" -> Map("Api" -> "ListObjects")),
          "Count" -> 9L)),
      Map[String, Any](
        "CreatedAt" -> "2023-05-01T13:56:28.723Z",
        "Service" -> Map(
          "Action" -> Map("ActionType" -> "NETWORK_CONNECTION",
            "NetworkConnectionAction" -> Map("Protocol" -> "TCP")),
          "Count" -> 7L)))
    val rows = Translate.translate(sm, transformers, evs, dataSource)
    assert(rows.size == 2)
    assert(at(rows, "nt#network-traffic:protocols", 0) == null)
    assert(at(rows, "nt#network-traffic:protocols", 1) == Seq("tcp"))
    assert(at(rows, "finding#x-ibm-finding:event_count", 0) == 9L)
  }

  test("translate: empty list value for mapped column (test_translate_regkey)") {
    val sm = Flatten.parseJson(
      """{"eventDateTime": [{"key": "first_observed"}],
        | "event_count": {"key": "number_observed", "transformer": "ToInteger"},
        | "registryKeyStates": {"key": {"key": "windows-registry-key.key", "object": "registry"}}}""".stripMargin)
      .asInstanceOf[Map[String, Any]]
    val evs = Seq(Map[String, Any](
      "eventDateTime" -> "2023-08-07T22:00:22.052Z", "registryKeyStates" -> Seq.empty))
    val rows = Translate.translate(sm, Map("ToInteger" -> ((v: Any) => v.toString.toLong)), evs, dataSource)
    assert(rows.size == 1)
    assert(at(rows, "observed-data:first_observed", 0) == "2023-08-07T22:00:22.052Z")
  }

  test("transformer failures keep the raw value instead of killing the batch") {
    val sm = Flatten.parseJson(
      """{"pid": {"key": "process.pid", "object": "p", "transformer": "ToInteger"},
        | "name": {"key": "process.name", "object": "p"}}""".stripMargin)
      .asInstanceOf[Map[String, Any]]
    val rows = Translate.translate(sm, Map.empty,
      Seq(Map[String, Any]("pid" -> "not-a-number", "name" -> "x.exe")), dataSource)
    assert(rows.size == 1)
    assert(at(rows, "p#process:pid", 0) == "not-a-number") // raw survives
    assert(at(rows, "p#process:name", 0) == "x.exe")
  }

  test("rowToObjects: SCO dicts, __contains ranks, __reflist explode (ingest.py:659-731)") {
    val row = Map[String, Any](
      "observed-data:id" -> "observed-data--1",
      "observed-data:first_observed" -> "2023-08-31T14:07:20.000Z",
      "src_ip#ipv4-addr:id" -> "ipv4-addr--1",
      "src_ip#ipv4-addr:value" -> "192.168.1.1",
      "dst_ip#ipv4-addr:id" -> "ipv4-addr--2",
      "dst_ip#ipv4-addr:value" -> "192.168.1.9",
      "host#x-oca-asset:id" -> "x-oca-asset--1",
      "host#x-oca-asset:hostname" -> "wk1",
      "host#x-oca-asset:ip_refs" -> Seq("ipv4-addr--1", "ipv4-addr--1", "ipv4-addr--2"),
      "no_id#software:name" -> "orphan") // no id -> skipped (ingest.py:672-674)
    val objs = Translate.rowToObjects(row)
    val byType = objs.groupBy(_("type").toString)
    assert(!byType.contains("software"))
    assert(byType("observed-data").head("id") == "observed-data--1")
    // the SCO dict keeps scalars, drops the _refs column
    val asset = byType("x-oca-asset").head
    assert(asset("hostname") == "wk1" && !asset.contains("ip_refs"))
    // __contains: rank 1, but 0 for dst/destination/target instances
    // (aio/ingest.py:707-711 — the sync raft.py path uses None instead)
    val edges = byType("__contains").map(e =>
      e("target_ref").toString -> e.get("x_firepit_rank")).toMap
    assert(edges("ipv4-addr--1").contains(1L))
    assert(edges("ipv4-addr--2").contains(0L))
    assert(edges("x-oca-asset--1").contains(1L))
    // __reflist exploded + deduped
    val refs = byType("__reflist")
    assert(refs.size == 2)
    assert(refs.forall(r => r("ref_name") == "ip_refs" && r("source_ref") == "x-oca-asset--1"))
    assert(refs.map(_("target_ref")).toSet == Set("ipv4-addr--1", "ipv4-addr--2"))
  }

  test("cacheTranslated end-to-end: tables, dedup, edges (test_ingest:589-615)") {
    val s = new Storage(spark, suiteTempDir("graft-xlate"))
    s.cacheTranslated("my-query-id", translated, dataSource)
    val expected = Set("software", "observed-data", "ipv4-addr", "ipv6-addr", "mac-addr",
      "network-traffic", "process", "user-account", "x-oca-asset", "x-oca-event",
      "x-custom-obj", "identity")
    assert(expected.subsetOf(s.types().toSet))
    // 192.168.1.1 appears as host_ip_0 AND src_ip in row 0 -> same uuid5 id
    assert(s.count("ipv4-addr") == 4)
    assert(s.count("observed-data") == 3)
    assert(s.count("process") == 2) // process + process_parent, one event
    // reflist rows landed and power deref-side lookups
    val rl = s.catalog.resolve("__reflist")
    assert(rl.where(rl("ref_name") === "ip_refs").count() == 3)
    assert(rl.where(rl("ref_name") === "mac_refs").count() == 3)
    // provenance
    import org.apache.spark.sql.functions.col
    assert(s.catalog.resolve("__queries").where(col("query_id") === "my-query-id").count() > 0)
  }

  test("cacheTranslatedEvents: re-ingest is idempotent; new columns evolve the schema") {
    import spark.implicits._
    val s = new Storage(spark, suiteTempDir("graft-xlate-evo"))
    val sm =
      """{"sourceip": [
        |   {"key": "ipv4-addr.value", "object": "src_ip"},
        |   {"key": "network-traffic.src_ref", "object": "nt", "references": "src_ip"}],
        | "sourceport": {"key": "network-traffic.src_port", "object": "nt", "transformer": "ToInteger"},
        | "appname": {"key": "network-traffic.x_app", "object": "nt"}}""".stripMargin
    val idj = graft.model.StixId.canonicalJson(dataSource)
    val batch1 = Seq(
      """{"sourceip": "10.1.1.1", "sourceport": 80}""",
      """{"sourceip": "10.1.1.2", "sourceport": 81}""").toDS()
    s.cacheTranslatedEvents("e1", batch1, sm, idj)
    assert(s.count("ipv4-addr") == 2)
    val ntCount = s.count("network-traffic")
    // same batch again: deterministic ids dedup, counts unchanged
    s.cacheTranslatedEvents("e2", batch1, sm, idj)
    assert(s.count("ipv4-addr") == 2)
    assert(s.count("network-traffic") == ntCount)
    // a batch with a NEW mapped column evolves the nt schema
    val batch2 = Seq("""{"sourceip": "10.1.1.3", "sourceport": 82, "appname": "ssh"}""").toDS()
    s.cacheTranslatedEvents("e3", batch2, sm, idj)
    assert(s.count("ipv4-addr") == 3)
    assert(s.columns("network-traffic").contains("x_app"))
    // old rows carry null in the new column; the new row carries the value
    val apps = s.catalog.resolve("network-traffic").select("x_app").collect().map(_.getString(0))
    assert(apps.count(_ == "ssh") == 1 && apps.count(_ == null) == ntCount)
  }

  test("cacheTranslatedEvents: distributed path matches the driver-side path") {
    import spark.implicits._
    // the builtin transformers on both sides (executors know no others),
    // plus a mapped list of ints
    val map = stixMapJson.replace("\"hostname\":",
      "\"ports\": {\"key\": \"network-traffic.x_ports\", \"object\": \"nt\"},\n \"hostname\":")
    val evs = eventsJson.updated(0, eventsJson.head.replace("\"qid\"", "\"ports\": [80, 443], \"qid\""))
    val driver = new Storage(spark, suiteTempDir("graft-xlate-drv"))
    driver.cacheTranslated("qd", Translate.translate(
      Flatten.parseJson(map).asInstanceOf[Map[String, Any]], Map.empty,
      evs.map(Flatten.parseJson(_).asInstanceOf[Map[String, Any]]), dataSource), dataSource)
    val s = new Storage(spark, suiteTempDir("graft-xlate-dist"))
    s.cacheTranslatedEvents("qd", evs.toDS().repartition(2), map,
      graft.model.StixId.canonicalJson(dataSource))
    assertSameShape(driver, s)
    assert(s.schema("network-traffic").toMap.apply("x_ports") == "array<string>")
    Seq("ipv4-addr" -> 4L, "observed-data" -> 3L, "x-oca-asset" -> 2L).foreach { case (t, n) =>
      assert(s.count(t) == n && driver.count(t) == n, s"table $t")
    }
  }
}
