package graft

import graft.api.Storage

/** Golden observation-verb tests replayed from the reference suite
  * (tests/test_value_counts.py, test_number_observed.py, test_summary.py)
  * on test_bundle.json — observation-weighted counts and time summaries,
  * including ref-path resolution ('src_ref.value') and value filters. */
class GoldenObservationSpec extends SparkSpec {

  private def bundle =
    new java.io.File("src/test/resources/fixtures/test_bundle.json").getAbsolutePath

  private def store(): Storage = {
    val s = new Storage(spark, suiteTempDir("graft-obs"))
    s.cache("q1", Seq(bundle))
    s
  }

  test("value_counts goldens (test_value_counts.py)") {
    val s = store()
    assert(s.valueCounts("url", "value").length == 31)
    val ipv4 = s.valueCounts("ipv4-addr", "value")
    assert(ipv4.length == 70)
    assert(ipv4.toMap.apply("192.168.203.101") == 3L)
    s.extract("tens", "ipv4-addr", "q1", "[ipv4-addr:value ISSUBSET '10.0.0.0/8']")
    val tens = s.valueCounts("tens", "ipv4-addr:value")
    assert(tens.length == 10)
    assert(tens.toMap.apply("10.0.0.73") == 14L)
    // ref path: value_counts over network-traffic's src address
    val srcs = s.valueCounts("network-traffic", "src_ref.value")
    assert(srcs.length == 60)
    assert(srcs.toMap.apply("192.168.203.101") == 3L)
  }

  test("number_observed goldens incl. ref paths and value filters (test_number_observed.py)") {
    val s = store()
    assert(s.numberObserved("url", "value") == 31L)
    assert(s.numberObserved("ipv4-addr", "value") == 200L)
    assert(s.numberObserved("ipv4-addr", "value", "192.168.203.101") == 3L)
    assert(s.numberObserved("ipv4-addr", "value", "9.9.9.9") == 0L)
    s.extract("tens", "ipv4-addr", "q1", "[ipv4-addr:value ISSUBSET '10.0.0.0/8']")
    assert(s.numberObserved("tens", "ipv4-addr:value") == 100L)
    assert(s.numberObserved("tens", "value", "10.0.0.73") == 14L)
    assert(s.numberObserved("network-traffic", "src_ref.value") == 100L)
    assert(s.numberObserved("network-traffic", "src_ref.value", "192.168.203.101") == 3L)
    s.extract("tconns", "network-traffic", "q1",
      "[network-traffic:dst_ref.value ISSUBSET '10.0.0.0/8']")
    assert(s.numberObserved("tconns", "network-traffic:dst_ref.value") == 100L)
    assert(s.numberObserved("tconns", "dst_ref.value", "10.0.0.73") == 14L)
  }

  test("timestamped row counts incl. ref paths and value filters (test_timestamped.py)") {
    val s = store()
    assert(s.timestamped("url", "value").count() == 31L)
    assert(s.timestamped("ipv4-addr", "value").count() == 200L)
    assert(s.timestamped("ipv4-addr", "value", "192.168.203.101").count() == 3L)
    s.extract("tens", "ipv4-addr", "q1", "[ipv4-addr:value ISSUBSET '10.0.0.0/8']")
    assert(s.timestamped("tens", "ipv4-addr:value").count() == 100L)
    assert(s.timestamped("tens", "value", "10.0.0.73").count() == 14L)
    assert(s.timestamped("network-traffic", "src_ref.value").count() == 100L)
    assert(s.timestamped("network-traffic", "src_ref.value", "192.168.203.101").count() == 3L)
  }

  test("extract_observeddata_attribute goldens (test_obs_attr.py)") {
    val s = store()
    val d1 = s.extractObservedDataAttribute("url", Seq("last_observed"))
    assert(d1.count() == 31L)
    assert(d1.columns.contains("last_observed"))
    val d2 = s.extractObservedDataAttribute("url", Seq("id"), paths = Seq("value"))
    assert(d2.count() == 31L)
    assert(d2.columns.toSet == Set("observation_id", "value"))
    val d3 = s.extractObservedDataAttribute(
      "url", Seq("number_observed", "first_observed", "last_observed", "id"))
    assert(d3.count() == 31L)
    assert(d3.columns.toSet ==
      Set("number_observed", "first_observed", "last_observed", "observation_id", "value", "id"))
  }

  test("registry values[*].name struct-list predicate (test_stix_patterns.py:37)") {
    val s = new Storage(spark, suiteTempDir("graft-rk"))
    s.cache("q1", Seq(
      new java.io.File("src/test/resources/fixtures/regkey-example.json").getAbsolutePath))
    s.extract("x", "windows-registry-key", "q1",
      "[windows-registry-key:values[*].name = 'WindowsDefender']")
    assert(s.count("x") == 1)
    s.extract("y", "windows-registry-key", "q1",
      "[windows-registry-key:values[*].name = 'nope']")
    assert(s.count("y") == 0)
  }

  test("reassign after grouping: table flip and back (test_storage.py:317-361)") {
    val s = store()
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port < 1024]")
    s.assign("grouped_conns", "conns", "group", "src_ref.value")
    val grouped = s.lookup("grouped_conns")
    val enriched = grouped.map(_ + ("x_enrich" -> 1L))
    s.reassign("grouped_conns", enriched)
    val rows = s.lookup("grouped_conns")
    assert(rows.length == grouped.length)
    assert(rows.head("x_enrich") == 1L)
    // still composable: sort the materialized frame by the dotted column
    s.assign("x_conns", "grouped_conns", "sort", "src_ref.value")
    assert(s.lookup("x_conns").length == grouped.length)
    // and re-assign onto its own name (view again, self-shadowing)
    s.assign("grouped_conns", "grouped_conns", "sort", "src_ref.value")
    assert(s.lookup("grouped_conns").length == grouped.length)
  }

  test("reassign splits ref enrichments into referenced rows (test_storage.py:366-392)") {
    val s = store()
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port = 22]")
    val conns = s.lookup("conns")
    s.extract("dests", "ipv4-addr", "q1", "[network-traffic:dst_port = 22]")
    val enriched = conns.map(_ + ("dst_ref.x_enrich" -> 1L))
    s.reassign("conns", enriched)
    assert(s.lookup("conns").length == conns.length)
    val dests = s.lookup("dests")
    dests.foreach { dest =>
      assert(dest.contains("x_enrich"))
      if (dest("value").toString.startsWith("10.")) assert(dest("x_enrich") == 1L)
    }
  }

  test("reassign with dependent timestamped view (test_storage.py:394-428)") {
    val s = store()
    s.extract("urls", "url", "q1", "[url:value LIKE '%page/1%']")
    val urls = s.lookup("urls")
    assert(urls.length == 14)
    s.timestampedView("ts_urls", "urls")
    val enriched = urls.map(_ + ("x_enrich" -> 1L))
    s.reassign("urls", enriched)
    val rows = s.lookup("urls")
    assert(rows.length == 14 && rows.head("x_enrich") == 1L)
    // the dependent view sees the enrichment written AFTER it was defined
    val ts = s.lookup("ts_urls")
    assert(ts.head("x_enrich") == 1L)
    assert(ts.head.contains("first_observed"))
  }

  test("summary goldens with exact text timestamps (test_summary.py)") {
    val s = store()
    val (uf, ul, un) = s.summary("url", "value")
    assert(uf == "2020-06-30T19:25:10.723267Z")
    assert(ul == "2020-06-30T19:29:59.916295Z")
    assert(un == 31L)
    val (f1, l1, n1) = s.summary("ipv4-addr", "value")
    assert(f1 == "2020-06-30T19:25:09.447726Z" && l1 == "2020-06-30T19:29:59.96346Z" && n1 == 200L)
    val (f2, l2, n2) = s.summary("ipv4-addr", "value", "192.168.203.101")
    assert(f2 == "2020-06-30T19:26:18.788238Z" && l2 == "2020-06-30T19:28:23.940523Z" && n2 == 3L)
    val (f3, l3, n3) = s.summary("network-traffic", "src_ref.value", "192.168.203.101")
    assert(f3 == "2020-06-30T19:26:18.788238Z" && l3 == "2020-06-30T19:28:23.940523Z" && n3 == 3L)
  }
}
