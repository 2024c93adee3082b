package graft

import graft.ingest.UpsertWriter
import graft.ingest.UpsertWriter.AppendKey
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic bucketed store with WORST-CASE delta pile-up: every bucket
  * holds exactly [[UpsertWriter.DeltaFilesMax]] delta files — one short of
  * the compaction trigger — so q_layout_delta_read pins the read-side cost
  * of the delta write path at its glob-fan-out maximum (buckets x
  * (1 base + DeltaFilesMax deltas) files). The oracle reads the same raw
  * glob: deltas are ordinary table rows (UpsertWriter's non-shadowing
  * contract), so engine and DuckDB must agree with no reconciliation.
  */
object DeltaCorpus {

  val dir: String = Fixtures.entry("delta")
  val table = "piled"

  val BaseRows = 40000
  val RowsPerBatch = 1000

  def ensure(spark: SparkSession): Unit = Fixtures.published("delta") { tmp =>
    def batch(tag: String, n: Int, from: Int) =
      spark.range(n).select(
        concat(lit(s"$tag-"), (col("id") + from).cast("string")).as("id"),
        (col("id") % 97).cast("long").as("v"))
    // base load, then DeltaFilesMax pure-insert batches: each batch's new
    // ids hash across all buckets, so every bucket gains ONE delta file
    // per batch and none crosses the compaction threshold
    UpsertWriter.appendKeyed(spark, tmp, table, batch("base", BaseRows, 0), AppendKey.Id)
    (0 until UpsertWriter.DeltaFilesMax).foreach { b =>
      UpsertWriter.appendKeyed(
        spark, tmp, table, batch(s"delta$b", RowsPerBatch, 0), AppendKey.Id)
    }
  }
}
