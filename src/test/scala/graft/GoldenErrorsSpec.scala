package graft

import graft.api._
import graft.query._

/** Golden replay of the reference's error-contract suite
  * (tests/test_errors.py), the validator tables (tests/test_validate.py),
  * the props metadata tables (tests/test_props.py), and the evolving-load
  * tests (tests/test_normalized.py). Expected values copied verbatim from
  * the reference assertions.
  */
class GoldenErrorsSpec extends SparkSpec {

  private def fixture(name: String): String =
    new java.io.File(s"src/test/resources/fixtures/$name").getAbsolutePath

  private def tmpStore(): Storage =
    new Storage(spark, suiteTempDir("graft-errors"))

  private def storeWithUrls(): Storage = {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("test_bundle.json")))
    s.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    s
  }

  test("bad STIX patterns raise StixPatternError from extract and filter (test_errors.py:30-42)") {
    val s = storeWithUrls()
    intercept[StixPatternError] { s.extract("junk", "ipv4-addr", "q1", "whatever") }
    intercept[StixPatternError] {
      s.filter("junk", "url", "urls", "value = 'http://www26.example.com/page/176'")
    }
  }

  test("malformed view names raise InvalidViewname across verbs (test_errors.py:45-97)") {
    val s = storeWithUrls()
    intercept[InvalidViewname] {
      s.filter("junk", "url", "urls OR 1", "[url:value = 'http://www26.example.com/page/176']")
    }
    intercept[InvalidViewname] { s.lookup("urls\" UNION ALL SELECT * FROM \"q1_url") }
    s.load("test_urls", Seq(
      Map[String, Any]("type" -> "url", "value" -> "http://www26.example.com/page/176", "risk" -> "high"),
      Map[String, Any]("type" -> "url", "value" -> "http://www67.example.com/page/264", "risk" -> "high")))
    intercept[InvalidViewname] {
      s.join("sqli\" AS SELECT * FROM \"q1_url\"; CREATE VIEW \"marked",
        "urls", "value", "test_urls", "value")
    }
  }

  test("values: unknown-but-valid path raises InvalidAttr; injection raises InvalidStixPath (test_sqli_2)") {
    val s = storeWithUrls()
    intercept[InvalidAttr] { s.values("url:fake.path", "urls") }
    intercept[InvalidStixPath] {
      s.values("value\" FROM \"q1_ipv4-addr\" UNION ALL SELECT \"value", "urls")
    }
  }

  test("query over an injection-shaped table name raises InvalidViewname (test_query_sqli_table)") {
    intercept[InvalidViewname] { GQuery(Seq(Table("urls; select * from url; --"))) }
  }

  test("an injection-shaped predicate VALUE is inert data (test_query_sqli_predicate)") {
    val s = storeWithUrls()
    assert(s.runQuery(GQuery.table("url")).count() > 0)
    val q = GQuery.table("urls",
      Filter(Seq(Comparison("value", "=", RLit("1; select * from url; --")))))
    assert(s.runQuery(q).count() == 0)
  }

  test("extract of a type never ingested yields empty results (test_empty_results)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("test_bundle.json")))
    s.extract("my_findings", "x-ibm-finding", "q1", "[x-ibm-finding:name = 'Whatever']")
    assert(s.lookup("my_findings") == Seq.empty)
  }

  test("bundle objects with empty or missing `type` raise InvalidObject (test_empty_type/test_missing_type)") {
    val s = tmpStore()
    def bundle(objJson: String): String =
      s"""{"type": "bundle", "id": "bundle--0911b0a3-7a32-4bd5-bddd-5757bd87e8a0",
         |"objects": [$objJson]}""".stripMargin
    intercept[InvalidObject] {
      s.cache("b1", bundle("""{"type": "", "id": "27f23ce-93de-4ee3-8dd1-cbb4e5b005cd", "value": "foo"}"""))
    }
    intercept[InvalidObject] {
      s.cache("b2", bundle("""{"id": "27f23ce-93de-4ee3-8dd1-cbb4e5b005cd", "value": "foo"}"""))
    }
  }

  test("reassign: id-bearing path requires every object to carry an id (sqlstorage.py:530-534)") {
    val s = storeWithUrls()
    val rows = s.lookup("urls", limit = Some(2))
    intercept[InvalidObject] {
      s.reassign("marked", Seq(rows.head, rows(1) - "id"))
    }
  }

  test("validate_name table (test_validate.py:11-32)") {
    val good = Seq("foo", "__tmp_6668fcc6300f40e39c255c6573d79180",
      "network-traffic", "x509-certificate")
    val bad = Seq("[*]", "foo;", "foo; --", "admin'--", "admin\"--",
      "foo OR \"1\" = \"1", "ipv4-addr\" union select * from \"user-account",
      "foo; select value from \"ipv4-addr")
    good.foreach(Validate.validateName)
    bad.foreach(n => intercept[InvalidViewname] { Validate.validateName(n) })
  }

  test("validate_path table (test_validate.py:35-69)") {
    val good = Seq("foo", "things[*]", "one.two", "hashes.'SHA-256'",
      "values[*].name", "extensions.'http-request-ext'.request_headers.'Content-Type'",
      "ipv4-addr:value", "file:hashes.'SHA-1'", "file:hashes.IMPHASH",
      "windows-registry-key:values[*].data", "network-traffic:protocols[*]",
      "src_port", "x_unique_id", "x-qradar:high_level_category_id",
      "high_level_category_id", "x_com_ibm_ariel.cre_event_list[*]")
    val bad = Seq("foo;", "foo; --", "foo.\"bar\"", "ipv4_addr:value",
      "admin'--", "admin\"--", "foo OR \"1\" = \"1",
      "ipv4-addr\" union select * from \"user-account",
      "foo; select value from \"ipv4-addr")
    good.foreach(Validate.validatePath)
    bad.foreach(p => intercept[InvalidStixPath] { Validate.validatePath(p) })
  }

  test("primary_prop table (test_props.py:11-25)") {
    import graft.model.StixMeta.primaryProp
    assert(primaryProp("directory") == "path")
    assert(primaryProp("file") == "name")
    assert(primaryProp("ipv4-addr") == "value")
    assert(primaryProp("ipv6-addr") == "value")
    assert(primaryProp("process") == "name")
    assert(primaryProp("url") == "value")
    assert(primaryProp("user-account") == "user_id")
  }

  test("auto_agg table (test_props.py:28-58)") {
    import graft.model.StixMeta.autoAgg
    val cases: Seq[(String, String, String, Option[(String, String)])] = Seq(
      ("directory", "path", "TEXT", Some(("NUNIQUE", "unique_path"))),
      ("file", "name", "TEXT", Some(("NUNIQUE", "unique_name"))),
      ("file", "first_observed", "TEXT", Some(("MIN", "first_observed"))),
      ("file", "last_observed", "TEXT", Some(("MAX", "last_observed"))),
      ("file", "number_observed", "INTEGER", Some(("SUM", "number_observed"))),
      ("file", "hashes.MD5", "TEXT", Some(("NUNIQUE", "unique_hashes.MD5"))),
      ("ipv4-addr", "value", "TEXT", Some(("NUNIQUE", "unique_value"))),
      ("ipv6-addr", "xf_risk", "INTEGER", Some(("AVG", "mean_xf_risk"))),
      ("network-traffic", "dst_bytes", "INTEGER", Some(("AVG", "mean_dst_bytes"))),
      ("network-traffic", "dst_port", "INTEGER", Some(("NUNIQUE", "unique_dst_port"))),
      ("network-traffic", "src_port", "INTEGER", Some(("NUNIQUE", "unique_src_port"))),
      ("process", "pid", "INTEGER", Some(("NUNIQUE", "unique_pid"))),
      ("process", "ppid", "INTEGER", Some(("NUNIQUE", "unique_ppid"))),
      ("url", "value", "TEXT", Some(("NUNIQUE", "unique_value"))),
      ("url", "id", "TEXT", None),
      ("url", "type", "TEXT", None),
      ("url", "x_contained_by_ref", "TEXT", None),
      ("url", "x_root", "INTEGER", None),
      ("user-account", "user_id", "TEXT", Some(("NUNIQUE", "unique_user_id"))),
      ("ipv4-addr", "xf_risk", "bigint", Some(("AVG", "mean_xf_risk"))))
    cases.foreach { case (t, p, ct, expect) =>
      val got = autoAgg(t, p, ct).map(a => (a._1, a._3))
      assert(got == expect, s"auto_agg($t, $p, $ct)")
    }
  }

  test("path/prop metadata tables (test_props.py:61-88)") {
    import graft.model.StixMeta.{pathMetadata, propMetadata}
    assert(pathMetadata("file:name") == (("str", "categorical")))
    assert(pathMetadata("network-traffic:src_ref.value") == (("str", "categorical")))
    assert(pathMetadata("x-oca-event:network_ref.dst_byte_count") == (("int", "numerical")))
    assert(propMetadata("x-unknown-type", "unknown_ref.value") == (("str", "categorical")))
    assert(propMetadata("x-oca-event", "unknown_ref.value") == (("str", "categorical")))
  }

  test("parse_path golden (test_props.py:91-108)") {
    import graft.model.StixMeta
    import graft.model.StixMeta.{NodeLink, RelLink}
    assert(StixMeta.parsePath("network-traffic:src_ref.value") == Seq(
      RelLink("network-traffic", "src_ref", "ipv4-addr"), NodeLink("ipv4-addr", "value")))
    assert(StixMeta.parsePath("process:binary_ref.parent_directory_ref.path") == Seq(
      RelLink("process", "binary_ref", "file"),
      RelLink("file", "parent_directory_ref", "directory"),
      NodeLink("directory", "path")))
    assert(StixMeta.parsePath("foo:bar_ref.value") == Seq.empty)
  }

  test("load: evolving schema merges into one row either direction (test_normalized.py)") {
    val s1 = tmpStore()
    val r1 = s1.load("test_ips", Seq(
      Map[String, Any]("value" -> "10.0.0.1"),
      Map[String, Any]("value" -> "10.0.0.1", "x_extra" -> 1L)), scoType = "ipv4-addr")
    assert(r1 == "ipv4-addr")
    val rows1 = s1.lookup("test_ips")
    assert(rows1.length == 1)
    assert(rows1.head("type") == "ipv4-addr")
    assert(rows1.head("value") == "10.0.0.1")
    assert(rows1.head("x_extra") == 1L)

    val s2 = tmpStore()
    val r2 = s2.load("test_ips", Seq(
      Map[String, Any]("value" -> "10.0.0.1", "x_extra" -> 99L),
      Map[String, Any]("value" -> "10.0.0.1")), scoType = "ipv4-addr")
    assert(r2 == "ipv4-addr")
    val rows2 = s2.lookup("test_ips")
    assert(rows2.length == 1)
    assert(rows2.head("x_extra") == 99L)
  }
}
