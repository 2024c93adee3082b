package graft

import graft.api.Storage
import graft.ingest.LogMapper
import java.nio.file.Files

/** Distributed ingest + log conversion paths. */
class IngestPathsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore() =
    new Storage(spark, suiteTempDir("graft-ingest"))

  private def mkBundle(ip: String, url: String) =
    s"""{"type":"bundle","id":"bundle--x","objects":[
       |{"type":"observed-data","id":"observed-data--${ip.replace('.', '-')}",
       | "first_observed":"2024-01-01T00:00:00.000Z","last_observed":"2024-01-01T00:00:00.000Z",
       | "number_observed":1,
       | "objects":{"0":{"type":"ipv4-addr","value":"$ip"},
       |            "1":{"type":"url","value":"$url"}}}]}""".stripMargin

  private def fixture(name: String): String =
    new String(Files.readAllBytes(java.nio.file.Paths.get(s"src/test/resources/fixtures/$name")), "UTF-8")

  /** Ingest `bundles` once by `cache` and once by `cacheBundles`, each into
    * an empty store; returns both stores and the jobs each verb launched. */
  private def bothPaths(bundles: Seq[String]): ((Storage, Int), (Storage, Int)) = {
    val (driver, dataset) = (tmpStore(), tmpStore())
    val ds = bundles.toDS().repartition(bundles.size)
    ((driver, countJobs(driver.cache("q1", bundles))._2),
      (dataset, countJobs(dataset.cacheBundles("q1", ds))._2))
  }

  test("cacheBundles: executor-side flatten, same tables as driver cache") {
    val ((d, _), (s, _)) = bothPaths(Seq(
      mkBundle("10.0.0.1", "http://a.test/1"),
      mkBundle("10.0.0.2", "http://a.test/2"),
      mkBundle("10.0.0.1", "http://a.test/3"))) // dup ip across bundles
    assertSameShape(d, s)
    assert(s.count("ipv4-addr") == 2) // deterministic-id dedup held
    assert(s.count("url") == 3)
    s.extract("u", "url", "q1", "[url:value LIKE '%a.test%']")
    assert(s.count("u") == 3)
    // provenance recorded for the distributed path too
    assert(s.catalog.resolve("__queries").where($"query_id" === "q1").count() >= 5)
  }

  private lazy val regkey = bothPaths(Seq(fixture("regkey-example.json")))

  test("cache and cacheBundles store regkey-example alike; lists of dicts are JSON text") {
    val ((d, _), (s, _)) = regkey
    assertSameShape(d, s)
    assert(s.schema("windows-registry-key").toMap.apply("values") == "string")
    // registry keys get random ids (no id-contributing property)
    def rows(st: Storage) = st.lookup("windows-registry-key").map(_ - "id")
    assert(rows(d) == rows(s))
    assert(rows(s).map(_("values")) == Seq("""[{"name":"WindowsDefender"}]"""))
  }

  test("cacheBundles of regkey-example launches at most 4 more jobs than cache") {
    val ((_, driverJobs), (_, datasetJobs)) = regkey
    assert(datasetJobs <= driverJobs + 4, s"cacheBundles $datasetJobs jobs, cache $driverJobs")
  }

  test("cache and cacheBundles store test_bundle_2 and mixed-kind columns alike") {
    def sw(name: String, mixed: String) =
      s"""{"type":"software","name":"$name","x_ints":[1,2,3],"x_mixed":$mixed,"x_none":null}"""
    val mixedKinds =
      s"""{"type":"bundle","id":"bundle--k","objects":[
         |{"type":"observed-data","id":"observed-data--k1",
         | "first_observed":"2024-01-01T00:00:00.000Z","last_observed":"2024-01-01T00:00:00.000Z",
         | "number_observed":1,
         | "objects":{"0":${sw("a", "7")},"1":${sw("b", "\"seven\"")}}}]}""".stripMargin
    val ((d, _), (s, _)) = bothPaths(Seq(fixture("test_bundle_2.json"), mixedKinds))
    assertSameShape(d, s)
    val types = s.schema("software").toMap
    assert(types("x_ints") == "array<string>")
    assert(types("x_mixed") == "string")
    assert(types("x_none") == "string")
    val dtypes = s.columnsMetadata("software").map(m => m("path") -> m("dtype")).toMap
    assert(dtypes.get("x_ints").contains("list") && dtypes.get("x_mixed").contains("int"))
    assert(!dtypes.contains("x_none")) // a path only ever null records no dtype
  }

  test("one store fed by cache and then by cacheBundles keeps one schema") {
    val ((s, _), _) = regkey // the store `cache` built above, fed again by cacheBundles
    val before = storeShape(s)
    s.cacheBundles("q2", Seq(fixture("regkey-example.json")).toDS())
    assert(storeShape(s) == before)
    s.extract("k", "windows-registry-key", "q2", "")
    assert(s.lookup("k").map(_("values")) == Seq("""[{"name":"WindowsDefender"}]"""))
  }

  test("SysmonMapper: process-creation and network events -> SCO graph") {
    val recs: Seq[Map[String, Any]] = Seq(
      Map(
        "EventID" -> 1L, "UtcTime" -> "2024-03-01T09:00:00.000Z",
        "Hostname" -> "WKSTN-7", "Channel" -> "Microsoft-Windows-Sysmon/Operational",
        "Image" -> "C:\\Windows\\System32\\cmd.exe",
        "CommandLine" -> "cmd.exe /c whoami",
        "ProcessId" -> 4242L, "ProcessGuid" -> "{guid-child}",
        "ParentImage" -> "C:\\Windows\\explorer.exe",
        "ParentProcessId" -> 1000L, "ParentProcessGuid" -> "{guid-parent}",
        "User" -> "CORP\\alice",
        "Hashes" -> "SHA1=aa11,MD5=bb22"),
      Map(
        "EventID" -> 3L, "UtcTime" -> "2024-03-01T09:01:00.000Z",
        "Hostname" -> "WKSTN-7",
        "Image" -> "C:\\tools\\nc.exe",
        "ProcessId" -> 7777L, "ProcessGuid" -> "{guid-nc}",
        "SourceIp" -> "10.9.9.9", "SourcePort" -> 50111L,
        "DestinationIp" -> "203.0.113.7", "DestinationPort" -> 4444L,
        "Protocol" -> "tcp"))
    assert(recs.forall(LogMapper.SysmonMapper.detect))
    assert(recs.forall(r => LogMapper.detectPathMapper(r).contains(LogMapper.SysmonMapper)))
    val s = tmpStore()
    s.cache("q1", LogMapper.toBundleJson(recs, LogMapper.SysmonMapper))
    // event 1: child + parent process, binary file + directory, user account
    assert(s.count("process") == 3) // cmd.exe + explorer.exe + nc.exe
    assert(s.count("file") == 3)    // cmd.exe, explorer.exe, nc.exe binaries
    assert(s.count("user-account") == 1)
    assert(s.count("x-oca-asset") == 1)
    val cmd = s.catalog.resolve("process")
      .where($"name" === "cmd.exe").head()
    assert(cmd.getAs[Long]("pid") == 4242L)
    assert(cmd.getAs[String]("command_line") == "cmd.exe /c whoami")
    assert(cmd.getAs[String]("parent_ref").startsWith("process--"))
    assert(cmd.getAs[String]("creator_user_ref").startsWith("user-account--"))
    val cmdFile = s.catalog.resolve("file").where($"name" === "cmd.exe").head()
    assert(cmdFile.getAs[String]("hashes.'SHA-1'") == "aa11")
    assert(cmdFile.getAs[String]("hashes.MD5") == "bb22")
    assert(cmdFile.getAs[String]("parent_directory_ref").startsWith("directory--"))
    // event 3: opened_connection_refs reflist to a network-traffic with IPs
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port = 4444]")
    val conn = s.lookup("conns").head
    assert(conn("src_ref.value") == "10.9.9.9" && conn("dst_ref.value") == "203.0.113.7")
    val rl = s.catalog.resolve("__reflist")
      .where($"ref_name" === "opened_connection_refs").collect()
    assert(rl.length == 1 && rl.head.getAs[String]("source_ref").startsWith("process--"))
    // x-oca-event carries the decoded action
    val ev = s.catalog.resolve("x-oca-event").orderBy("code").collect()
    assert(ev.map(_.getAs[Long]("code")).toSeq == Seq(1L, 3L))
    assert(ev.head.getAs[String]("action") == "Process Creation")
  }

  test("ZeekJsonMapper: conn and dns streams -> network-traffic / domain-name") {
    val recs: Seq[Map[String, Any]] = Seq(
      Map(
        "@stream" -> "conn", "ts" -> 1709280000L,
        "id_orig_h" -> "192.168.5.5", "id_orig_p" -> 55555L,
        "id_resp_h" -> "203.0.113.80", "id_resp_p" -> 80L,
        "proto" -> "tcp", "orig_ip_bytes" -> 1234L, "resp_ip_bytes" -> 4321L,
        "orig_pkts" -> 10L, "resp_pkts" -> 12L,
        "orig_l2_addr" -> "aa:bb:cc:dd:ee:01"),
      Map(
        "@stream" -> "dns", "ts" -> 1709280060L,
        "id_orig_h" -> "192.168.5.5", "id_orig_p" -> 5353L,
        "id_resp_h" -> "192.168.5.1", "id_resp_p" -> 53L,
        "proto" -> "udp",
        "query" -> "evil.example.com",
        "answers" -> Seq("198.51.100.9", "NXDOMAIN", "2001:db8::9")))
    assert(recs.forall(LogMapper.ZeekJsonMapper.detect))
    val s = tmpStore()
    s.cache("qz", LogMapper.toBundleJson(recs, LogMapper.ZeekJsonMapper))
    assert(s.count("network-traffic") == 2)
    s.extract("web", "network-traffic", "qz", "[network-traffic:dst_port = 80]")
    val web = s.lookup("web").head
    assert(web("src_ref.value") == "192.168.5.5")
    assert(web("src_byte_count") == 1234L && web("dst_packets") == 12L)
    // conn: src MAC behind resolves_to_refs on the address
    val macs = s.catalog.resolve("mac-addr").collect()
    assert(macs.map(_.getAs[String]("value")).toSeq == Seq("aa:bb:cc:dd:ee:01"))
    // dns: domain resolves to the two IP-shaped answers only
    val rl = s.catalog.resolve("__reflist").where($"ref_name" === "resolves_to_refs")
    assert(rl.count() == 3) // 1 mac + 2 dns answers
    assert(s.count("domain-name") == 1)
    assert(s.count("ipv6-addr") == 1)
    // first_observed came from the unix timestamp
    val (first, _, _) = { s.extract("d", "domain-name", "qz", ""); s.summary("d") }
    assert(first == "2024-03-01T08:01:00.000Z")
  }

  test("ZeekCsvMapper + IscHoneypotJsonMapper golden conversions") {
    val zeek = Map[String, Any](
      "ts" -> 1709280000L, "id.orig_h" -> "10.2.2.2", "id.orig_p" -> 40000L,
      "id.resp_h" -> "10.3.3.3", "id.resp_p" -> 22L, "proto" -> "tcp",
      "orig_ip_bytes" -> 99L)
    assert(LogMapper.ZeekCsvMapper.detect(zeek))
    val s = tmpStore()
    s.cache("qc", LogMapper.toBundleJson(Seq(zeek), LogMapper.ZeekCsvMapper))
    s.extract("ssh", "network-traffic", "qc", "[network-traffic:dst_port = 22]")
    val row = s.lookup("ssh").head
    assert(row("src_ref.value") == "10.2.2.2" && row("src_byte_count") == 99L)

    val isc = Map[String, Any](
      "url" -> "/admin.php", "user_agent" -> "curl/8.0", "source" -> "198.51.100.77",
      "date" -> "2024-04-01", "time" -> "12:30:00")
    assert(LogMapper.IscHoneypotJsonMapper.detect(isc))
    val s2 = tmpStore()
    s2.cache("qi", LogMapper.toBundleJson(Seq(isc), LogMapper.IscHoneypotJsonMapper))
    assert(s2.count("url") == 1)
    val nt = s2.lookup("network-traffic").head
    assert(nt("dst_port") == 80L && nt("dst_ref.value") == "127.0.0.1")
    assert(nt("src_ref.value") == "198.51.100.77")
    // extension header landed as a shortened column
    assert(s2.columns("network-traffic").contains("x_request_header.'User-Agent'"))
  }

  test("file-format readers: zeek .log TSV, CSV, JSONL -> records -> bundles") {
    withTempDir("graft-logs") { d =>
      val dir = java.nio.file.Paths.get(d)
      // zeek native conn.log shape: #-directives + TSV, '-' = unset
      val zeekLog = dir.resolve("conn.log")
      def tsv(cells: String*): String = cells.mkString("\t")
      Files.writeString(zeekLog, Seq(
        "#separator \\x09",
        tsv("#fields", "ts", "id.orig_h", "id.orig_p", "id.resp_h", "id.resp_p", "proto", "orig_ip_bytes"),
        tsv("#types", "time", "addr", "port", "addr", "port", "enum", "count"),
        tsv("1709280000", "10.4.4.4", "44444", "10.5.5.5", "443", "tcp", "512"),
        tsv("1709280060", "10.4.4.5", "44445", "10.5.5.5", "80", "tcp", "-")
      ).mkString("", "\n", "\n"))
      val zeekRecs = LogMapper.recordsFromZeekLog(zeekLog.toString)
      assert(zeekRecs.length == 2)
      assert(zeekRecs.head("id.orig_h") == "10.4.4.4" && zeekRecs.head("orig_ip_bytes") == 512L)
      assert(!zeekRecs(1).contains("orig_ip_bytes")) // '-' dropped
      assert(zeekRecs.forall(LogMapper.ZeekCsvMapper.detect))
      val s = tmpStore()
      s.cache("qz", LogMapper.toBundleJson(zeekRecs, LogMapper.ZeekCsvMapper))
      assert(s.count("network-traffic") == 2)

      val csv = dir.resolve("events.csv")
      Files.writeString(csv,
        "url,user_agent,source,date,time\n/a.php,curl/8,198.51.100.9,2024-04-01,01:02:03\n")
      val csvRecs = LogMapper.recordsFromCsv(csv.toString)
      assert(csvRecs.length == 1 && csvRecs.head("source") == "198.51.100.9")
      assert(LogMapper.IscHoneypotJsonMapper.detect(csvRecs.head))

      val jsonl = dir.resolve("dns.jsonl")
      Files.writeString(jsonl,
        """{"@stream":"dns","ts":1709280060,"id_orig_h":"10.4.4.4","id_orig_p":5353,"id_resp_h":"10.4.4.1","id_resp_p":53,"proto":"udp","query":"x.test","answers":["198.51.100.1"]}
          |""".stripMargin)
      val jsonRecs = LogMapper.recordsFromJsonl(jsonl.toString)
      assert(jsonRecs.length == 1)
      assert(LogMapper.detectPathMapper(jsonRecs.head).contains(LogMapper.ZeekJsonMapper))
    }
  }

  test("cache() streams bundles from an http URL") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val body = mkBundle("10.7.7.7", "http://h.test/x").getBytes("UTF-8")
    server.createContext("/bundle.json", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
      }
    })
    server.start()
    try {
      val s = tmpStore()
      s.cache("qh", s"http://127.0.0.1:${server.getAddress.getPort}/bundle.json")
      assert(s.count("ipv4-addr") == 1)
      assert(s.values("url:value", "url") == Seq("http://h.test/x"))
    } finally server.stop(0)
  }

  test("getViewData bulk metadata; validators raise the typed error contract") {
    val s = tmpStore()
    s.cache("q1", mkBundle("10.0.0.5", "http://v.test/1"))
    s.extract("urls", "url", "q1", "")
    s.extract("ips", "ipv4-addr", "q1", "")
    s.setAppdata("urls", """{"k":1}""")
    val all = s.getViewData()
    assert(all.map(_("name")).toSet == Set("urls", "ips"))
    val one = s.getViewData(Seq("urls")).head
    assert(one("type") == "url" && one("appdata") == """{"k":1}""")
    // error contract (reference tests/test_errors.py shapes)
    intercept[graft.api.InvalidStixPath] {
      graft.api.Validate.validatePath("value; DROP TABLE url")
    }
    intercept[graft.api.InvalidViewname] {
      graft.api.Validate.validateName("bad name!")
    }
    graft.api.Validate.validatePath("network-traffic:src_ref.value")
    graft.api.Validate.validatePath("hashes.'SHA-1'")
    graft.api.Validate.validatePath("protocols[*]")
    intercept[graft.api.InvalidStixPath] { s.values("value; --", "urls") }
    // error contract on verbs (reference tests/test_errors.py shapes)
    intercept[graft.api.InvalidViewname] {
      s.filter("v2", "url", "urls; DROP TABLE url", "[url:value LIKE '%a%']")
    }
    intercept[graft.api.InvalidViewname] { s.merge("m", Seq("urls", "bad name")) }
    intercept[graft.api.InvalidAttr] { s.lookup("urls", cols = Seq("value; --")) }
    intercept[graft.api.InvalidStixPath] { s.assign("v3", "urls", "sort", "no such path;") }
  }

  test("LogMapper: flat records -> bundle -> cache -> query") {
    val recs: Seq[Map[String, Any]] = Seq(
      Map("timestamp" -> "2024-02-01T10:00:00.000Z", "src_ip" -> "10.1.1.1",
        "dst_ip" -> "8.8.8.8", "src_port" -> 5353L, "dst_port" -> 53L,
        "protocol" -> "UDP", "user" -> "alice"),
      Map("timestamp" -> "2024-02-01T10:01:00.000Z", "src_ip" -> "10.1.1.2",
        "dst_ip" -> "1.1.1.1", "dst_port" -> 443L, "url" -> "https://x.test/a"))
    val s = tmpStore()
    s.cache("q1", LogMapper.toBundleJson(recs))
    assert(s.count("network-traffic") == 2)
    assert(s.count("ipv4-addr") == 4)
    assert(s.count("user-account") == 1)
    s.extract("dns", "network-traffic", "q1", "[network-traffic:dst_port = 53]")
    val row = s.lookup("dns").head
    assert(row("src_ref.value") == "10.1.1.1" && row("dst_ref.value") == "8.8.8.8")
    assert(row("protocols").asInstanceOf[scala.collection.Seq[String]].toSeq == Seq("udp"))
  }
}
