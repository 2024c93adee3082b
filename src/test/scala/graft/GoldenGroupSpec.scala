package graft

import graft.api.Storage

/** Golden replay of the reference's group-verb suite (tests/test_group.py)
  * and the null-no-clobber upsert test (tests/test_null.py) on the public
  * fixture bundles. Expected counts/values are copied verbatim from the
  * reference assertions.
  */
class GoldenGroupSpec extends SparkSpec {

  private def fixture(name: String): String =
    new java.io.File(s"src/test/resources/fixtures/$name").getAbsolutePath

  private def tmpStore(): Storage =
    new Storage(spark, suiteTempDir("graft-golden"))

  private def extractConns(s: Storage): Unit = {
    s.cache("q1", Seq(fixture("test_bundle.json")))
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port < 1024]")
  }

  test("group self-shadow by src_ref.value adds unique_dst_port auto-agg (test_group.py:4-15)") {
    val s = tmpStore()
    extractConns(s)
    // group('conns', 'conns', ...) — the view groups ITSELF; the recipe must
    // capture the previous definition, not recurse
    s.group("conns", "conns", Seq("src_ref.value"))
    val srcs = s.values("src_ref.value", "conns")
    assert(srcs.nonEmpty)
    val groups = s.lookup("conns")
    assert(groups.nonEmpty)
    assert(groups.head.keySet.contains("unique_dst_port"))
  }

  test("group by plain dst_port keeps the key column (test_group.py:18-29)") {
    val s = tmpStore()
    extractConns(s)
    s.group("conns", "conns", Seq("dst_port"))
    assert(s.values("dst_port", "conns").nonEmpty)
    val groups = s.lookup("conns")
    assert(groups.nonEmpty && groups.head.keySet.contains("dst_port"))
  }

  test("group by src+dst ref values -> 74 groups (test_group.py:32-40)") {
    val s = tmpStore()
    extractConns(s)
    s.group("grp_conns", "conns", Seq("src_ref.value", "dst_ref.value"))
    assert(s.lookup("grp_conns").length == 74)
  }

  test("group by src with COUNT(dst_ref.value) -> 53 groups, golden counts (test_group.py:43-63)") {
    val s = tmpStore()
    extractConns(s)
    s.group("grp_conns", "conns", Seq("src_ref.value"),
      aggs = Seq(("COUNT", "dst_ref.value", "count")))
    val groups = s.lookup("grp_conns")
    assert(groups.length == 53)
    val bySrc = groups.map(g => g("src_ref.value").toString -> g("count")).toMap
    assert(bySrc("192.168.216.111") == 2L)
    assert(bySrc("192.168.27.170") == 2L)
    assert(bySrc("192.168.70.186") == 2L)
    assert(bySrc("192.168.90.122") == 6L)
    assert(bySrc("192.168.95.234") == 1L)
  }

  test("group by src+dst with COUNT(*) -> 74 groups, golden counts (test_group.py:66-86)") {
    val s = tmpStore()
    extractConns(s)
    s.group("grp_conns", "conns", Seq("src_ref.value", "dst_ref.value"),
      aggs = Seq(("COUNT", "*", "count")))
    val groups = s.lookup("grp_conns")
    assert(groups.length == 74)
    groups.foreach { g =>
      val src = g("src_ref.value").toString
      val dst = g("dst_ref.value").toString
      val n = g("count")
      (src, dst) match {
        case ("192.168.216.111", "10.0.0.197") => assert(n == 2L)
        case ("192.168.27.170", "10.0.0.214")  => assert(n == 2L)
        case ("192.168.70.186", "10.0.0.139")  => assert(n == 2L)
        case ("192.168.90.122", "10.0.0.214")  => assert(n == 2L)
        case _                                 => assert(n == 1L)
      }
    }
  }

  test("an upserted null does not clobber an existing value (test_null.py)") {
    val s = tmpStore()
    def bundle(bundleId: String, obsId: String, extra: String): String =
      s"""{
         |  "type": "bundle",
         |  "id": "bundle--$bundleId",
         |  "spec_version": "2.0",
         |  "objects": [
         |    {
         |      "type": "identity",
         |      "id": "identity--ec1709c3-63a6-4fac-94d7-e648355d35a4",
         |      "created": "2020-06-30T19:31:23.304Z",
         |      "modified": "2020-06-30T19:31:23.304Z",
         |      "name": "test",
         |      "identity_class": "organization"
         |    },
         |    {
         |      "type": "observed-data",
         |      "id": "observed-data--$obsId",
         |      "created_by_ref": "identity--ec1709c3-63a6-4fac-94d7-e648355d35a4",
         |      "created": "2020-06-30T19:31:23.651Z",
         |      "modified": "2020-06-30T19:31:23.651Z",
         |      "first_observed": "2020-06-30T19:25:09.447726Z",
         |      "last_observed": "2020-06-30T19:28:49.692424Z",
         |      "number_observed": 1,
         |      "objects": {
         |        "0": {"type": "ipv4-addr", "value": "192.168.212.97"$extra}
         |      }
         |    }
         |  ]
         |}""".stripMargin
    s.cache("b1", bundle("0911b0a3-7a32-4bd5-bddd-5757bd87e8a0",
      "4bd9c203-a327-4b81-b2fa-e6fc8d705dcc", ""","x_extra": "foo""""))
    s.cache("b2", bundle("123d417e-e745-4017-8b2c-b3f710b91457",
      "bd5309ae-149b-4bb1-80a6-331e3ef82ee2", ""))
    val values = s.values("ipv4-addr:x_extra", "ipv4-addr")
    assert(values.headOption.contains("foo"))
  }
}
