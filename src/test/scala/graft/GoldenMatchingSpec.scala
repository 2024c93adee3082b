package graft

import graft.api.Storage
import graft.query._

/** Golden matching + binning tests replayed from the reference suite
  * (tests/test_matching.py, tests/test_binning.py) on its fixture bundles:
  * payload_bin decode-then-match, backslash semantics in LIKE / MATCHES /
  * equality, struct-list [*] predicates, and exact time/integer bin
  * outputs. */
class GoldenMatchingSpec extends SparkSpec {

  private def fixture(name: String): String =
    new java.io.File(s"src/test/resources/fixtures/$name").getAbsolutePath

  private def tmpStore(): Storage =
    new Storage(spark, suiteTempDir("graft-match"))

  test("payload_bin LIKE decodes base64 first (test_matching.py:6-39)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("one_event.json")))
    s.extract("x", "artifact", "q1", "[artifact:payload_bin LIKE '%IngressInterface=ethernet1/1%']")
    assert(s.lookup("x").length == 1)
    s.extract("y", "artifact", "q1", "[artifact:payload_bin LIKE '%IngressInterface=ethernet1/2%']")
    assert(s.lookup("y").length == 0)
    // same through the Stage ADT Predicate (round-3 payload_bin routing)
    val n = s
      .runQuery(GQuery.table(
        "artifact",
        Filter(Seq(Comparison("payload_bin", "LIKE", RLit("%IngressInterface=ethernet1/1%"))))))
      .count()
    assert(n == 1)
  }

  test("payload_bin MATCHES with regex escapes (test_matching.py:56-77)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("one_event.json")))
    s.extract("x", "artifact", "q1",
      "[artifact:payload_bin MATCHES '(Ing|E)ressInterface=ethernet1/\\\\d']")
    assert(s.lookup("x").length == 1)
    s.extract("y", "artifact", "q1",
      "[artifact:payload_bin MATCHES '(Ing|E)ressInterface=ethernet1/2']")
    assert(s.lookup("y").length == 0)
  }

  test("registry key: LIKE and MATCHES with literal backslashes (test_matching.py:42-91)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("regkey-example.json")))
    s.extract("x", "windows-registry-key", "q1",
      "[windows-registry-key:key LIKE '%\\\\Microsoft\\\\Windows\\\\CurrentVersion\\\\Run%']")
    assert(s.lookup("x").length == 1)
    s.extract("m", "windows-registry-key", "q1",
      "[windows-registry-key:key MATCHES '^.*\\\\\\\\Microsoft\\\\\\\\Windows\\\\\\\\CurrentVersion\\\\\\\\Run(Once)?$']")
    assert(s.lookup("m").length == 1)
  }

  test("ccoe: backslash equality and literal-dot regex (test_matching.py:94-119)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("ccoe_investigator_demo.json")))
    s.extract("p1", "process", "q1",
      "[process:command_line MATCHES '^C:\\\\\\\\WINDOWS\\\\\\\\system32\\\\\\\\services\\\\.exe$']")
    assert(s.lookup("p1").length == 2)
    s.extract("p2", "process", "q1",
      "[process:command_line = 'C:\\\\WINDOWS\\\\system32\\\\services.exe']")
    assert(s.lookup("p2").length == 2)
  }

  test("time and integer binning goldens (test_binning.py)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("test_bundle.json")))
    // 2-minute bins of first_observed, SUM(number_observed); our BinnedCol
    // emits epoch-second longs (engine-portable; the reference renders ISO
    // text) — compare against the reference labels' epochs
    val ts = s
      .runQuery(GQuery.table(
        "observed-data",
        Group(Seq(BinnedCol("first_observed", 2, "m", Some("ts")))),
        Aggregation(Seq(Agg("SUM", "number_observed", "count"))),
        Order(Seq(OrderKey("ts")))))
      .collect()
    def epoch(iso: String): Long = java.time.Instant.parse(iso).getEpochSecond
    assert(ts(0).getLong(0) == epoch("2020-06-30T19:24:00Z") && ts(0).getLong(1) == 20L)
    assert(ts(1).getLong(0) == epoch("2020-06-30T19:26:00Z") && ts(1).getLong(1) == 42L)
    assert(ts(2).getLong(0) == epoch("2020-06-30T19:28:00Z") && ts(2).getLong(1) == 38L)
    val ports = s
      .runQuery(GQuery.table(
        "network-traffic",
        Group(Seq(BinnedCol("src_port", 10000, "", Some("port")))),
        Aggregation(Seq(Agg("COUNT", "id", "count"))),
        Order(Seq(OrderKey("port")))))
      .collect()
    assert(ports(0).getLong(0) == 40000L && ports(0).getLong(1) == 4L)
    assert(ports(1).getLong(0) == 50000L && ports(1).getLong(1) == 69L)
    assert(ports(2).getLong(0) == 60000L && ports(2).getLong(1) == 27L)
  }
}
