package graft

import graft.api.Storage
import graft.ingest.PathAssembler
import java.nio.file.Files

/** Replays of the reference's smaller suites: timestamp normalization
  * (tests/test_timestamp.py), async-storage basics + deep custom objects
  * (tests/test_asyncstorage.py), and the CLI flow (tests/test_cli.py). */
class GoldenMiscSpec extends SparkSpec {

  private def fixture(name: String): String =
    new java.io.File(s"src/test/resources/fixtures/$name").getAbsolutePath

  private def tmpDir() = Files.createTempDirectory("graft-misc").toString

  // ---- test_timestamp.py -------------------------------------------------
  // to_datetime parses 0-6 fractional digits; timefmt(prec=3) renders
  // millisecond precision with truncation. normTs is the composition.

  test("timestamp: to_datetime ∘ timefmt(3) truncates fractions (test_timestamp.py)") {
    val cases = Seq(
      "2022-02-01T00:00:00"        -> "2022-02-01T00:00:00.000Z",
      "2022-02-01T00:00:00.1"      -> "2022-02-01T00:00:00.100Z",
      "2022-02-01T00:00:00.12"     -> "2022-02-01T00:00:00.120Z",
      "2022-02-01T00:00:00.123"    -> "2022-02-01T00:00:00.123Z",
      "2022-02-01T00:00:00.1234"   -> "2022-02-01T00:00:00.123Z",
      "2022-02-01T00:00:00.12345"  -> "2022-02-01T00:00:00.123Z",
      "2022-02-01T00:00:00.123456" -> "2022-02-01T00:00:00.123Z",
      // already-zoned text round-trips
      "2022-02-01T00:00:00.000Z"   -> "2022-02-01T00:00:00.000Z",
      "2022-02-01T00:00:00.123Z"   -> "2022-02-01T00:00:00.123Z")
    cases.foreach { case (in, out) => assert(PathAssembler.normTs(in) == out, in) }
  }

  // ---- test_asyncstorage.py ---------------------------------------------

  test("storage basics: tables/types/lookup/dotted paths (test_asyncstorage.py:42-74)") {
    val s = new Storage(spark, tmpDir())
    s.cache("q1", Seq(fixture("test_bundle.json")))
    assert(s.tables().contains("url"))
    assert(s.types().contains("url"))
    val urls = s.lookup("url").map(_("value").toString).toSet
    assert(urls.contains("http://www8.example.com/page/176"))
    assert(urls.contains("http://www27.example.com/page/64"))
    val urlsOnly = s.lookup("url", cols = Seq("value")).map(_("value").toString).toSet
    assert(urlsOnly == urls)
    val conns = s.lookup("network-traffic",
      cols = Seq("src_ref.value", "src_port", "dst_ref.value", "dst_port", "protocols"))
    assert(conns.map(_("src_ref.value").toString).contains("192.168.212.97"))
    val exp = Set("observed-data", "identity", "url", "network-traffic", "ipv4-addr", "user-account")
    assert(s.tables().toSet == exp)
    assert(s.types().toSet == exp)
    assert(s.views().isEmpty)
    assert(s.columns("url").toSet == Set("id", "value"))
  }

  test("custom objects flatten only one level deep (test_asyncstorage.py:77-140)") {
    val s = new Storage(spark, tmpDir())
    s.cache("q1",
      """{"type": "bundle", "id": "bundle--9e83faeb-3cb3-4aa2-97d0-35230c98e064",
        | "objects": [
        |  {"type": "identity", "id": "identity--f431f809-377b-45e0-aa1c-6a4751cae5ff",
        |   "name": "example", "identity_class": "events"},
        |  {"id": "observed-data--cc5f37b9-b7bc-45b4-a3a0-99e2540a039b",
        |   "type": "observed-data",
        |   "created_by_ref": "identity--f431f809-377b-45e0-aa1c-6a4751cae5ff",
        |   "created": "2023-04-18T02:24:27.941Z", "modified": "2023-04-18T02:24:27.941Z",
        |   "objects": {"0": {"type": "x-oca-example",
        |     "level_01": {"level_02": {"level_03": {"level_04": {"level_05":
        |       {"level_06": {"level_07": {"level_08": {
        |         "stuff": "It's a lot",
        |         "things": [{"key": "key_1", "value": "value_1"},
        |                    {"key": "key_2", "value": "value_2"},
        |                    {"key": "key_3", "value": "value_3"}]}}}}}}}}}}}]}""".stripMargin)
    assert(s.columns("x-oca-example").toSet == Set("id", "level_01"))
  }

  test("cache accepts HTTP(S) bundle URLs (raft.py:59-62)") {
    val body = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixture("test_bundle.json")))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/bundle.json", exchange => {
      exchange.getResponseHeaders.add("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, body.length)
      val os = exchange.getResponseBody
      os.write(body); os.close()
    })
    server.start()
    try {
      val s = new Storage(spark, tmpDir())
      val port = server.getAddress.getPort
      s.cache("q1", Seq(s"http://127.0.0.1:$port/bundle.json"))
      assert(s.count("url") == 31)
      assert(s.tables().contains("network-traffic"))
    } finally server.stop(0)
  }

  // ---- test_cli.py -------------------------------------------------------

  test("cli: cache -> extract -> filter -> lookup --columns (test_cli.py)") {
    val wd = tmpDir()
    Cli.run(spark, Seq(wd, "cache", "test-id", fixture("test_bundle.json")))
    Cli.run(spark, Seq(wd, "extract", "ips", "ipv4-addr", "test-id", "[ipv4-addr:value LIKE '%']"))
    Cli.run(spark, Seq(wd, "filter", "filt_ips", "ipv4-addr", "ips", "[ipv4-addr:value LIKE '192.%']"))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Cli.run(spark, Seq(wd, "lookup", "ips", "--columns=value"))
    }
    val lines = out.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
    assert(lines.size == 70) // test_bundle has 70 distinct ipv4 addrs
    val parsed = lines.map(l => graft.ingest.Flatten.parseJson(l).asInstanceOf[Map[String, Any]])
    assert(parsed.forall(_.keySet == Set("value")))
  }

  test("cli: lookup caps output at the interactive default, --limit overrides") {
    val wd = tmpDir()
    Cli.run(spark, Seq(wd, "cache", "test-id", fixture("test_bundle.json")))
    Cli.run(spark, Seq(wd, "extract", "ips", "ipv4-addr", "test-id", "[ipv4-addr:value LIKE '%']"))
    def lookupLines(args: String*): Int = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        Cli.run(spark, Seq(wd, "lookup", "ips") ++ args)
      }
      out.toString("UTF-8").linesIterator.count(_.nonEmpty)
    }
    assert(lookupLines("--limit=5") == 5)
    assert(lookupLines("--limit=0") == 70) // 0 = unlimited (all 70 addrs)
    assert(lookupLines() == 70) // default cap (1000) doesn't bite small views
  }

  test("cli: snapshot / snapshots / read-snapshot / drop-snapshot") {
    val wd = tmpDir()
    Cli.run(spark, Seq(wd, "cache", "test-id", fixture("test_bundle.json")))
    Cli.run(spark, Seq(wd, "snapshot", "ipv4-addr", "prerun"))
    def capture(args: String*): Seq[String] = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) { Cli.run(spark, Seq(wd) ++ args) }
      out.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
    }
    assert(capture("snapshots", "ipv4-addr") == Seq("prerun"))
    val pinned = capture("read-snapshot", "ipv4-addr", "prerun", "0")
    assert(pinned.size == 70) // the pin reads the full cached state
    Cli.run(spark, Seq(wd, "drop-snapshot", "ipv4-addr", "prerun"))
    assert(capture("snapshots", "ipv4-addr").isEmpty)
  }

  test("cli: convert a zeek log then delete the store") {
    val wd = tmpDir()
    Cli.run(spark, Seq(wd, "convert", fixture("zeek_example.log"), "zq1"))
    val s = new Storage(spark, wd)
    assert(s.count("network-traffic") > 0)
    Cli.run(spark, Seq(wd, "delete"))
    assert(new Storage(spark, wd).tables().isEmpty)
  }

  private def captureOut(body: => Unit): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out))(body)
    out.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
  }

  test("cli: sql runs a SELECT over workdir tables (cli.py:229-235)") {
    val wd = tmpDir()
    Cli.run(spark, Seq(wd, "cache", "test-id", fixture("test_bundle.json")))
    val lines = captureOut {
      Cli.run(spark, Seq(wd, "sql",
        "SELECT count(*) AS n FROM url"))
    }
    assert(lines == Seq("""{"n":31}"""))
    // dashed table names register with underscores
    val nt = captureOut {
      Cli.run(spark, Seq(wd, "sql", "SELECT count(*) AS n FROM network_traffic"))
    }
    assert(nt.size == 1 && nt.head.startsWith("""{"n":"""))
    // the engine's scalar surface is installed on the sql session
    // (GraftExtensions), same as the reference's per-connection functions
    val fn = captureOut {
      Cli.run(spark, Seq(wd, "sql",
        "SELECT count(*) AS n FROM ipv4_addr WHERE in_subnet(value, '10.0.0.0/8')"))
    }
    assert(fn.size == 1 && fn.head.startsWith("""{"n":"""), s"got $fn")
  }

  test("cli: load a JSON file of SCOs then query it (cli.py:258-273)") {
    val wd = tmpDir()
    withTempDir("graft_load") { d =>
      val f = java.nio.file.Paths.get(d, "load.json")
      java.nio.file.Files.writeString(f,
        """[{"type":"url","value":"http://a.example.com/1"},
          | {"type":"url","value":"http://b.example.com/2"}]""".stripMargin)
      Cli.run(spark, Seq(wd, "load", "my_urls", f.toString, "--sco-type=url"))
      val s = new Storage(spark, wd)
      assert(s.count("my_urls") == 2)
      assert(s.values("value", "my_urls").map(_.toString).sorted ==
        Seq("http://a.example.com/1", "http://b.example.com/2"))
    }
  }

  test("cli: CSV load is RFC-4180 (quoted commas, doubled quotes, embedded newlines)") {
    val wd = tmpDir()
    withTempDir("graft_load") { d =>
      val f = java.nio.file.Paths.get(d, "load.csv")
      // value 1: comma inside quotes; value 2: doubled quote; value 3:
      // embedded newline inside quotes; row 4 is short (padded with null)
      java.nio.file.Files.writeString(f,
        "value,x_note\n" +
          "\"http://a.example.com/1,2\",plain\n" +
          "http://b.example.com/2,\"say \"\"hi\"\"\"\n" +
          "http://c.example.com/3,\"line1\nline2\"\n" +
          "http://d.example.com/4\n")
      Cli.run(spark, Seq(wd, "load", "csv_urls", f.toString, "--sco-type=url"))
      val s = new Storage(spark, wd)
      assert(s.count("csv_urls") == 4)
      val rows = s.lookup("csv_urls", Seq("value", "x_note"))
        .map(m => m("value").toString -> m.get("x_note").flatMap(Option(_)).map(_.toString).orNull)
        .toMap
      assert(rows("http://a.example.com/1,2") == "plain")
      assert(rows("http://b.example.com/2") == "say \"hi\"")
      assert(rows("http://c.example.com/3") == "line1\nline2")
      assert(rows("http://d.example.com/4") == null) // short row -> restval null
    }
  }

  test("cli: splint transforms print a bundle on stdout (splint.py:50-221)") {
    val wd = tmpDir()
    def parse(lines: Seq[String]): Map[String, Any] =
      graft.ingest.Flatten.parseJson(lines.mkString("\n")).asInstanceOf[Map[String, Any]]
    def objs(b: Map[String, Any]): Seq[Map[String, Any]] =
      b("objects").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Map[String, Any]])
    val src = fixture("test_bundle.json")
    val orig = parse(Seq(java.nio.file.Files.readString(java.nio.file.Paths.get(src))))
    val limited = parse(captureOut(Cli.run(spark, Seq(wd, "splint", "limit", "3", src))))
    val obsCount = objs(limited).count(_("type") == "observed-data")
    assert(obsCount == 3, s"limit 3 kept $obsCount observations")
    val randomized = parse(captureOut(Cli.run(spark, Seq(wd, "splint", "randomize-ids", src))))
    val origIds = objs(orig).flatMap(_.get("id")).toSet
    val newIds = objs(randomized).flatMap(_.get("id")).toSet
    assert(newIds.size == origIds.size && newIds.intersect(origIds).isEmpty)
  }

  test("cli: unknown --option is a positional arg, not a silent drop") {
    val wd = tmpDir()
    // cache receives '--weird.json' as a file path and fails on the missing
    // file — before the fix it was silently stripped and cache misparsed
    intercept[Exception] {
      Cli.run(spark, Seq(wd, "cache", "qx", "--weird.json"))
    }
  }
}
