package graft

import graft.operators.Layout
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic Z-ORDERED table for the zone-map pruning row: 100k rows
  * with two pseudo-uniform dimensions, laid out by [[Layout
  * .zOrderRepartition]] into 32 files so each file covers a compact
  * rectangle in (a, b) space. q_layout_zonemap then proves the data-
  * skipping contract — a range read through the per-file zone map equals
  * the full scan with the same predicate — while LayoutSpec pins that the
  * map actually PRUNES (files opened << files on disk). Synthetic (like
  * DeltaCorpus) so the fixture is scale-factor-independent.
  */
object ZoneCorpus {

  val dir: String = Fixtures.entry("zone")

  val Rows = 100000
  val Files = 32

  def ensure(spark: SparkSession): Unit = Fixtures.published("zone") { tmp =>
    val rows = spark.range(Rows).select(
      col("id"),
      ((col("id") * 2654435761L) % 100003L).as("a"),
      ((col("id") * 7919L) % 99991L).as("b"))
    Layout.zOrderRepartition(rows, "a", "b", numFiles = Files, bits = 17)
      .write.mode("overwrite").parquet(tmp)
  }
}
