package graft

import graft.api.Storage
import graft.query.{GQuery, Table => QTable, Order => QOrder}

/** Behavioral replay of the reference's deref suite (tests/test_deref.py).
  * The reference asserts on rendered SQL projection strings; the DataFrame
  * engine has no SQL text, so each assert is re-expressed over the OUTPUT
  * of lookup(): which dotted columns exist, which plain ref columns were
  * consumed, and what the coalesced/enriched values are. */
class GoldenDerefSpec extends SparkSpec {

  private def fixture(name: String): String =
    new java.io.File(s"src/test/resources/fixtures/$name").getAbsolutePath

  private def tmpStore() =
    new Storage(spark, suiteTempDir("graft-deref"))

  test("deref: src/dst refs replaced by value+id dotted cols (test_deref.py:10-20)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("test_bundle.json")))
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port < 1024]")
    val viewCols = s.columns("conns").toSet
    assert(viewCols.contains("src_ref") && viewCols.contains("dst_ref"))
    val row = s.lookup("conns").head
    val outCols = row.keySet - "type"
    // reference: len(proj.cols) == len(cols) - 2 + 2*2 — src_ref/dst_ref
    // vanish, each contributes .value and .id (ipv4-addr has exactly those)
    assert(outCols == viewCols - "src_ref" - "dst_ref" +
      ("src_ref.value") + ("src_ref.id") + ("dst_ref.value") + ("dst_ref.id"))
  }

  test("deref with explicit paths projects exactly those (test_deref.py:36-45)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("test_bundle.json")))
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port < 1024]")
    val rows = s.lookup("conns", cols = Seq("src_ref.value"))
    assert(rows.nonEmpty)
    // '"src_ref"."value" AS "src_ref.value"' is the single projected column
    assert(rows.forall(r => (r.keySet - "type") == Set("src_ref.value")))
    assert(rows.forall(_("src_ref.value") != null))
  }

  test("deref mixed v4/v6: enrichment round-trip through reassign (test_deref.py:61-90)") {
    val s = tmpStore()
    s.cache("q1", Seq(fixture("mixed-v4-v6.json")))
    s.extract("conns", "network-traffic", "q1", "[network-traffic:dst_port < 1024]")
    val conns = s.lookup("conns")
    assert(conns.nonEmpty)
    // simulate analytics enrichment (test_deref.py:68-71)
    val enriched = conns.map(_ ++ Map[String, Any]("src_ref.x_enrich" -> 1L, "dst_ref.x_enrich" -> 1L))
    s.reassign("conns", enriched)
    val after = s.lookup("conns")
    val cols = after.flatMap(_.keys).toSet
    // (v4, v6) X (src, dst) joins produce coalesced value/id plus the
    // enrichment column unresolved into the addr tables
    assert(cols.contains("src_ref.value") && cols.contains("src_ref.id"))
    assert(cols.contains("dst_ref.value") && cols.contains("dst_ref.id"))
    assert(cols.contains("src_ref.x_enrich") && cols.contains("dst_ref.x_enrich"))
    // every conn still resolves a src address through the COALESCE
    assert(after.forall(_("src_ref.value") != null))
    // the rows we enriched carry it back (v4 and v6 alike)
    assert(after.exists(r => r("src_ref.x_enrich") == 1L))
    // sorting a derefed view by a dotted column still works (test_deref.py:84-90)
    s.assignQuery("sconns", GQuery(Seq(
      QTable("conns"), QOrder(Seq(graft.query.OrderKey("dst_ref.value"))))))
    val sorted = s.lookup("sconns")
    assert(sorted.size == after.size)
    val vals = sorted.map(_("dst_ref.value").toString)
    assert(vals == vals.sorted)
  }
}
