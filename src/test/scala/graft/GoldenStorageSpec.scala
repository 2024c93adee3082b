package graft

import graft.api.Storage
import graft.query._

/** Replay of the remaining tests/test_storage.py cases not covered by
  * GoldenFixtureSpec — exact row counts and values from the reference's own
  * assertions. */
class GoldenStorageSpec extends SparkSpec {

  private def fixture(name: String): String =
    new java.io.File(s"src/test/resources/fixtures/$name").getAbsolutePath

  private def tmpStore(): Storage =
    new Storage(spark, suiteTempDir("graft-gstor"))

  private def bundled(): Storage = {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("test_bundle.json")))
    s
  }

  test("operator matrix incl. negations (test_storage.py:182-207)") {
    val s = bundled()
    val cases = Seq(
      // (type, prop, op, rendered value, expected-in, expected-out, negatable)
      ("url", "value", "LIKE", "'%example.com/page/1%'",
        "http://www26.example.com/page/176", "http://www67.example.com/page/264", true),
      ("url", "value", "MATCHES", "'^.*example.com/page/1[0-9]*$'",
        "http://www26.example.com/page/176", "http://www67.example.com/page/264", true),
      ("ipv4-addr", "value", "ISSUBSET", "'10.0.0.0/8'", "10.0.0.141", "192.168.212.97", true),
      ("ipv4-addr", "value", "=", "'10.0.0.141'", "10.0.0.141", "192.168.212.97", false),
      ("network-traffic", "dst_port", "<=", "1024", "22", "3128", false),
      ("user-account", "account_login", "IN", "('alice', 'bob', 'carol')", "bob", "david", true),
      ("network-traffic", "dst_ref.value", "ISSUBSET", "'10.0.0.0/25'", "10.0.0.73", "10.0.0.197", true))
    cases.foreach { case (t, prop, op, v, expected, unexpected, negatable) =>
      s.extract("data", t, "q1", s"[$t:$prop $op $v]")
      val data = s.values(s"$t:$prop", "data").map(_.toString)
      assert(data.contains(expected), s"$t:$prop $op")
      assert(!data.contains(unexpected), s"$t:$prop $op")
      if (negatable) {
        s.extract("data", t, "q1", s"[$t:$prop NOT $op $v]")
        val neg = s.values(s"$t:$prop", "data").map(_.toString)
        assert(neg.contains(unexpected), s"$t:$prop NOT $op")
        assert(!neg.contains(expected), s"$t:$prop NOT $op")
      }
    }
  }

  test("assign group by ref path auto-aggs unique_dst_port (test_storage.py:210-235)") {
    val s = bundled()
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port < 1024]")
    s.assign("conns", "conns", "group", "src_ref.value")
    assert(s.values("src_ref.value", "conns").nonEmpty)
    val groups = s.lookup("conns")
    assert(groups.nonEmpty)
    assert(groups.head.contains("unique_dst_port"))
    // plain-column grouping keeps the key column name (test_storage.py:224-235)
    val s2 = bundled()
    s2.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port < 1024]")
    s2.assign("conns", "conns", "group", "dst_port")
    assert(s2.values("dst_port", "conns").nonEmpty)
    assert(s2.lookup("conns").head.contains("dst_port"))
  }

  test("schema lists id and value for url (test_storage.py:252-260)") {
    val s = bundled()
    val cols = s.schema("url").map(_._1)
    assert(cols.contains("id") && cols.contains("value"))
  }

  test("filter narrows a view; filter re-types across the view (test_storage.py:263-286)") {
    val s = bundled()
    s.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    s.filter("urls", "url", "urls", "[url:value = 'http://www20.example.com/page/19']")
    val urls = s.values("url:value", "urls").map(_.toString)
    assert(urls == Seq("http://www20.example.com/page/19"))
    assert(s.views() == Seq("urls"))

    val s2 = bundled()
    s2.extract("ssh_conns", "network-traffic", "q1", "[network-traffic:dst_port = 22]")
    s2.filter("ssh_ips", "ipv4-addr", "ssh_conns", "[network-traffic:dst_port = 22]")
    assert(s2.lookup("ssh_conns").length == 29)
    assert(s2.lookup("ssh_ips").length == 29)
    assert(s2.views().toSet == Set("ssh_conns", "ssh_ips"))
  }

  test("appdata round-trips and survives re-open (test_storage.py:431-444)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("test_bundle.json")))
    s.extract("ssh_conns", "network-traffic", "q1", "[network-traffic:dst_port = 22]")
    s.setAppdata("ssh_conns", """{"foo": 99}""")
    val r = graft.ingest.Flatten.parseJson(s.getAppdata("ssh_conns").get)
      .asInstanceOf[Map[String, Any]]
    assert(r == Map("foo" -> 99L))
    // a second Storage over the same workdir replays the journal
    val s2 = new Storage(spark, s.workDir)
    val r2 = graft.ingest.Flatten.parseJson(s2.getAppdata("ssh_conns").get)
      .asInstanceOf[Map[String, Any]]
    assert(r2 == Map("foo" -> 99L))
  }

  test("get_view_data bulk listing carries appdata (test_storage.py:447-463)") {
    val s = bundled()
    s.extract("ssh_conns", "network-traffic", "q1", "[network-traffic:dst_port = 22]")
    s.setAppdata("ssh_conns", """{"foo": 99}""")
    s.extract("dns_conns", "network-traffic", "q1", "[network-traffic:dst_port = 53]")
    s.setAppdata("dns_conns", """{"bar": 98}""")
    val results = s.getViewData(Seq("ssh_conns", "dns_conns"))
    assert(results.length == 2)
    results.foreach { r =>
      val app = graft.ingest.Flatten.parseJson(r("appdata").toString)
      if (r("name") == "ssh_conns") assert(app == Map("foo" -> 99L))
      else assert(app == Map("bar" -> 98L))
    }
  }

  test("duplicate ids across caches keep counts stable (test_storage.py:466-479)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("test_bundle.json")))
    s.extract("urls1", "url", "q1", "[url:value LIKE '%page/1%']")
    val urls1 = s.values("url:value", "urls1")
    s.cache("q2", Seq(fixture("test_bundle.json")))
    s.extract("urls2", "url", "q2", "[url:value LIKE '%page/1%']")
    val urls2 = s.values("url:value", "urls2")
    assert(urls1.length == urls2.length)
  }

  test("merge equals union; survives removing sources (test_storage.py:496-512, 574-595)") {
    Seq(Seq("urls1"), Seq("urls2"), Seq("urls1", "urls2")).foreach { toRemove =>
      val s = tmpStore()
      s.cache("test-bundle", Seq(fixture("test_bundle.json")))
      val all = s.values("url:value", "url").map(_.toString).toSet
      s.extract("urls1", "url", "test-bundle", "[url:value LIKE '%page/1%']")
      val u1 = s.values("url:value", "urls1").map(_.toString).toSet
      s.extract("urls2", "url", "test-bundle", "[url:value NOT LIKE '%page/1%']")
      val u2 = s.values("url:value", "urls2").map(_.toString).toSet
      assert((u1 | u2) == all)
      s.merge("merged", Seq("urls1", "urls2"))
      toRemove.foreach(s.removeView)
      assert(s.values("url:value", "merged").map(_.toString).toSet == all)
    }
  }

  test("redefining a view with a NEW type while a dependent exists (test_storage.py:515-528)") {
    val s = bundled()
    s.extract("foo", "url", "q1", "[url:value LIKE '%page/1%']")
    assert(s.values("url:value", "foo").length == 14)
    s.assign("sorted_foo", "foo", "sort", "value")
    // re-extract foo as a different type: must not throw
    s.extract("foo", "ipv4-addr", "q1", "[ipv4-addr:value ISSUBSET '192.168.0.0/16']")
    assert(s.tableType("foo").contains("ipv4-addr"))
  }

  test("finish() then extract still answers exactly (test_storage.py:658-667)") {
    val s = bundled()
    s.finish()
    s.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    val urls = s.values("url:value", "urls").map(_.toString)
    assert(urls.length == 14)
    assert(urls.contains("http://www8.example.com/page/176"))
    assert(!urls.contains("http://www27.example.com/page/64"))
  }

  test("assign_query join+group auto-agg (test_storage.py:670-687)") {
    val s = bundled()
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port < 1024]")
    s.assignQuery("conns", GQuery(Seq(
      Table("conns"),
      Join("ipv4-addr", "src_ref", "=", "id"),
      Group(Seq(Col("value", alias = Some("src_ref.value")))))))
    assert(s.values("src_ref.value", "conns").nonEmpty)
    val groups = s.lookup("conns")
    assert(groups.nonEmpty)
    assert(groups.head.contains("unique_dst_port"))
  }

  test("assign_query explicit agg + order + limit goldens (test_storage.py:690-729)") {
    val s = bundled()
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port > 0]")
    s.assignQuery("grp_conns", GQuery(Seq(
      Table("conns"),
      Join("ipv4-addr", "src_ref", "=", "id"),
      Group(Seq(Col("value", alias = Some("src_ref.value")))),
      Aggregation(Seq(Agg("COUNT", Some("src_port"), "total"))),
      Order(Seq(OrderKey.desc("total"))),
      Limit(10))))
    val groups = s.lookup("grp_conns")
    assert(groups.length == 10)
    assert(groups.head.contains("total"))
    // tie order among equal counts is unspecified; the count sequence is not
    assert(groups.map(_("total")) == Seq(6L, 4L, 4L, 4L, 3L, 3L, 3L, 3L, 3L, 2L))
  }

  test("assign_query aliased double join + desc order (test_storage.py:732-753)") {
    val s = bundled()
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port > 0]")
    s.assignQuery("conns", GQuery(Seq(
      Table("conns"),
      Join("ipv4-addr", "src_ref", "=", "id", alias = Some("src")),
      Join("ipv4-addr", "dst_ref", "=", "id", alias = Some("dst"), lhs = Some("conns")),
      Projection(Seq(
        Col("value", table = Some("src"), alias = Some("src_ref.value")),
        Col("src_port"),
        Col("value", table = Some("dst"), alias = Some("dst_ref.value")),
        Col("dst_port"),
        Col("protocols"))),
      Order(Seq(OrderKey.desc("src_ref.value"))))))
    val srcs = s.values("src_ref.value", "conns").map(_.toString)
    assert(srcs.head > srcs.last)
    assert(srcs == srcs.sorted.reverse)
  }

  test("number_observed weights by observations (test_storage.py:756-764)") {
    val s = bundled()
    s.extract("users", "user-account", "q1", "[ipv4-addr:value LIKE '10.%']")
    assert(s.numberObserved("users", "account_login") == 100L)
    assert(s.numberObserved("users", "account_login", "henry") == 2L)
    assert(s.numberObserved("users", "account_login", "isabel") == 12L)
  }

  test("timestamped key sets and filters (test_storage.py:767-783)") {
    val s = bundled()
    s.extract("users", "user-account", "q1", "[ipv4-addr:value LIKE '10.%']")
    val accounts = s.timestamped("users").collect()
    assert(accounts.length == 100)
    val names = accounts.head.schema.fieldNames.toSet
    assert(Set("first_observed", "account_login", "user_id", "id").subsetOf(names))
    val logins = s.timestamped("users", "account_login").collect()
    assert(logins.length == 100)
    assert(logins.head.schema.fieldNames.toSet == Set("first_observed", "account_login"))
    val nHenry = logins.count(_.getAs[String]("account_login") == "henry")
    val henry = s.timestamped("users", "account_login", "henry").collect()
    assert(henry.length == nHenry)
  }

  test("delete() empties the store (test_storage.py:658-667 tail)") {
    val s = bundled()
    assert(s.tables().nonEmpty)
    s.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    s.delete()
    assert(s.tables().isEmpty)
    intercept[graft.api.UnknownViewname] { s.count("url") }
    // the workdir is reusable after delete
    s.cache("q2", Seq(fixture("test_bundle.json")))
    assert(s.count("url") == 31)
  }

  private def catalogTables(): Set[String] =
    spark.catalog.listTables().collect().map(_.name).toSet

  test("delete() after finish() leaves nothing behind; the store is reusable") {
    val s = bundled()
    val before = catalogTables()
    s.finish()
    // finish() writes no copy: no catalog table, no internal name surfaces
    assert(catalogTables() == before && !before.exists(_.startsWith("graft_f")))
    assert(!s.tables().exists(_.startsWith("__")),
      s"tables() leaked internal tables: ${s.tables().filter(_.startsWith("__"))}")
    s.delete()
    assert(s.tables().isEmpty)
    // and finish() on re-cached data works
    s.cache("q2", Seq(fixture("test_bundle.json")))
    s.finish()
    assert(s.count("url") == 31)
  }

  test("finish() runs no job, writes no catalog table; later data is seen") {
    val s = bundled()
    s.finish()
    val before = catalogTables()
    val s2 = new Storage(spark, s.workDir)
    val (_, jobs) = countJobs(s2.finish())
    assert(jobs == 0, s"finish() ran $jobs Spark jobs (expected 0)")
    assert(catalogTables() == before && !before.exists(_.startsWith("graft_f")))
    s2.extract("urls_refin", "url", "q1", "[url:value LIKE '%page/1%']")
    assert(s2.values("url:value", "urls_refin").length == 14)
    // data cached after finish() is seen at once, and after another finish()
    s2.load("lv_refin", Seq("http://refinish.example.com/z"), "url")
    def urls(st: Storage) = st.values("url:value", "url").map(_.toString)
    assert(urls(s2).contains("http://refinish.example.com/z"))
    s2.finish()
    assert(urls(new Storage(spark, s.workDir)).contains("http://refinish.example.com/z"))
    assert(urls(s2).length == 32)
    s.delete()
  }

  test("replaying the same load/reassign grows no provenance (deterministic qids)") {
    val s = bundled()
    def provCount() = s.catalog.resolve("__queries").count()
    s.load("lv", Seq("10.99.0.1", "10.99.0.2"), "ipv4-addr", "fixed-load-q")
    val objs = Seq(Map[String, Any](
      "type" -> "url", "id" -> "url--11111111-1111-5111-9111-111111111111",
      "value" -> "http://replay.example.com/x"))
    s.reassign("rv", objs)
    val n1 = provCount()
    // exact replays: content-keyed qids make the provenance append a no-op
    s.load("lv", Seq("10.99.0.1", "10.99.0.2"), "ipv4-addr", "fixed-load-q")
    s.reassign("rv", objs)
    assert(provCount() == n1, "replaying identical load/reassign must not grow __queries")
  }

  test("value_counts exact counts (test_storage.py:786-800)") {
    val s = bundled()
    val data = s.valueCounts("user-account", "account_login").toMap
    assert(data("henry") == 2L)
    assert(data("isabel") == 12L)
  }
}
