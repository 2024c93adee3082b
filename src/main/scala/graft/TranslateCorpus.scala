package graft

import graft.api.Storage
import org.apache.spark.sql.SparkSession

/** Deterministic native-event corpus for the fast-translation ingest path
  * (stix-shifter mapping-driven, reference firepit/aio/ingest.py) — the
  * q_xlate_* oracle queries run verbs over the tables
  * `cacheTranslatedEvents` writes, and each oracle recomputes the answer in
  * DuckDB over those same written tables.
  *
  * 600 QRadar-ish flat events exercise: dual ipv4/ipv6 mapping split by
  * value shape, ref resolution into network-traffic, protocols grouping,
  * observed-data attributes via `cybox: false`, constant-value columns, and
  * the `__contains` rank marking (dst-named instances get no rank).
  */
object TranslateCorpus {

  val dir: String = Fixtures.entry("xlate")

  private val stixMapJson =
    """{
      | "starttime": [
      |   {"key": "first_observed", "transformer": "EpochToTimestamp", "cybox": false},
      |   {"key": "last_observed", "transformer": "EpochToTimestamp", "cybox": false}],
      | "eventcount": {"key": "number_observed", "transformer": "ToInteger", "cybox": false},
      | "sourceip": [
      |   {"key": "ipv4-addr.value", "object": "src_ip"},
      |   {"key": "ipv6-addr.value", "object": "src_ip"},
      |   {"key": "network-traffic.src_ref", "object": "nt", "references": "src_ip"}],
      | "destinationip": [
      |   {"key": "ipv4-addr.value", "object": "dst_ip"},
      |   {"key": "ipv6-addr.value", "object": "dst_ip"},
      |   {"key": "network-traffic.dst_ref", "object": "nt", "references": "dst_ip"}],
      | "sourceport": {"key": "network-traffic.src_port", "object": "nt", "transformer": "ToInteger"},
      | "destinationport": {"key": "network-traffic.dst_port", "object": "nt", "transformer": "ToInteger"},
      | "protocol": {"key": "network-traffic.protocols", "object": "nt",
      |              "transformer": "ToLowercaseArray", "group": true},
      | "username": {"key": "user-account.user_id", "object": "acct"},
      | "url": {"key": "url.value", "object": "u"},
      | "eventsource": [
      |   {"key": "x-qradar.source", "object": "qr"},
      |   {"key": "x-qradar.const_tag", "object": "qr", "value": "graft"}]
      |}""".stripMargin

  private val identityJson =
    """{"id": "identity--4a2e06e0-9d34-5cd1-9f30-0ec82dcb6509",
      | "name": "xlate-corpus", "identity_class": "system",
      | "created": "2023-03-01T00:00:00.000Z", "modified": "2023-03-01T00:00:00.000Z",
      | "type": "identity"}""".stripMargin

  /** Pure event generator: every field a function of i. */
  private def event(i: Int): String = {
    val srcIp =
      if (i % 7 == 3) s""""2001:db8:0:0:0:0:0:${(i % 200).toHexString}""""
      else s""""10.0.${i / 256}.${i % 256}""""
    val dstIp = s""""192.168.1.${i % 50}""""
    val proto = if (i % 3 == 0) "TCP" else "UDP"
    val user = if (i % 4 == 0) s""", "username": "user${i % 20}"""" else ""
    val url = if (i % 5 == 0) s""", "url": "http://site${i % 30}.example/page/$i"""" else ""
    s"""{"starttime": "${1677628800000L + i * 1000L}",
       | "eventcount": ${1 + i % 3},
       | "sourceip": $srcIp, "destinationip": $dstIp,
       | "sourceport": ${1024 + i % 5000}, "destinationport": ${if (i % 3 == 0) 443 else 80 + i % 10},
       | "protocol": "$proto", "eventsource": "qradar-$i"$user$url}""".stripMargin.replaceAll("\n", "")
  }

  /** Build the corpus if absent via the DISTRIBUTED translation path;
    * returns a Storage over it. */
  def ensure(spark: SparkSession): Storage =
    new Storage(spark, Fixtures.published("xlate") { tmp =>
      import spark.implicits._
      val events = (0 until 600).map(event).toDS().repartition(4)
      new Storage(spark, tmp).cacheTranslatedEvents("xq1", events, stixMapJson, identityJson)
    })
}
