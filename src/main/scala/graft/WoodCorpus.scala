package graft

import graft.api.Storage
import graft.ingest.LogMapper
import org.apache.spark.sql.SparkSession

/** Deterministic Sysmon-style event corpus for the woodchipper conversion
  * path (reference firepit/woodchipper.py:429-521): raw endpoint log
  * records -> PathMapper dicts -> observation bundle -> cache. The
  * q_wood_* oracles recompute answers over the tables this ingest writes.
  *
  * 120 events: process creations (EventID 1, parent/child chains, binary
  * hashes, users) with every third event a network connection (EventID 3,
  * opened by the process) — exercising parent_ref/creator_user_ref deref
  * and the opened_connection_refs reflist.
  */
object WoodCorpus {

  val dir: String = Fixtures.entry("wood")

  private def pad(n: Int, w: Int): String = {
    val s = n.toString
    "0" * math.max(0, w - s.length) + s
  }

  private def events: Seq[Map[String, Any]] =
    (0 until 120).flatMap { i =>
      val ts = f"2024-03-01T09:${i / 60}%02d:${i % 60}%02d.000Z"
      val host = s"WKSTN-${i % 5}"
      val proc = Map[String, Any](
        "EventID" -> 1L, "UtcTime" -> ts, "Hostname" -> host,
        "Channel" -> "Microsoft-Windows-Sysmon/Operational",
        "Image" -> s"C:\\Apps\\tool${i % 7}.exe",
        "CommandLine" -> s"tool${i % 7}.exe --job ${pad(i, 4)}",
        "ProcessId" -> (1000L + i), "ProcessGuid" -> s"{guid-${pad(i, 4)}}",
        "ParentImage" -> "C:\\Windows\\explorer.exe",
        "ParentProcessId" -> (100L + i % 10),
        "ParentProcessGuid" -> s"{guid-parent-${i % 10}}",
        "User" -> s"CORP\\user${i % 8}",
        "Hashes" -> s"SHA1=${pad(i, 4)}aa,MD5=${pad(i, 4)}bb")
      val net =
        if (i % 3 == 0)
          Seq(Map[String, Any](
            "EventID" -> 3L, "UtcTime" -> ts, "Hostname" -> host,
            "Image" -> s"C:\\Apps\\tool${i % 7}.exe",
            "ProcessId" -> (1000L + i), "ProcessGuid" -> s"{guid-${pad(i, 4)}}",
            "SourceIp" -> s"10.1.${i / 50}.${i % 50}", "SourcePort" -> (50000L + i),
            "DestinationIp" -> s"198.51.100.${i % 20}",
            "DestinationPort" -> (if (i % 6 == 0) 443L else 8080L),
            "Protocol" -> "tcp"))
        else Nil
      proc +: net
    }

  /** Build the corpus if absent; returns a Storage over it. */
  def ensure(spark: SparkSession): Storage =
    new Storage(spark, Fixtures.published("wood") { tmp =>
      new Storage(spark, tmp).cache("wq1", LogMapper.toBundleJson(events, LogMapper.SysmonMapper))
    })
}
