package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic messy-text corpus for the unicode-cleaning path
  * (q_text_clean): combining sequences that NFC must compose, format
  * characters (ZWSP/ZWJ/BOM, category Cf) and C0/C1 controls that the
  * cleaner must strip while keeping \n and \t, plus already-clean rows
  * that must pass through byte-identical. All strings are built from
  * escape sequences (no raw control bytes in source) and the corpus is
  * built once like the other fixture corpora.
  */
object UnicodeCorpus {

  val dir: String = Fixtures.entry("unicode")
  val table = s"$dir/messy.parquet"

  private[graft] def rows: Seq[(Long, String)] = {
    val templates = Seq[String](
      "cafe\u0301 latte and a c\u0327edilla", // NFD e-acute, c-cedilla
      "zero\u200bwidth\u200djoined words",    // ZWSP + ZWJ (Cf)
      "\ufeffbom prefixed document",           // BOM (Cf)
      "bell\u0007 and null\u0000 controls",   // C0 controls
      "line one\r\nline two\tindented",      // CR stripped, LF/TAB kept
      "o\u0302\u0323 multi combining",        // composes to a single char
      "already clean ascii text",
      "a\u030aring and n\u0303tilde",         // aring and ntilde via combining
      "c1 range\u0085\u009ccontrolchars",     // C1 controls
      "soft\u00adhyphen inside",               // SHY (Cf)
      "mixed\u200b mess\r\n\ufeffall kinds",
      "precomposed \u00e9\u00e7 stays")
    (0 until 24).map { i =>
      val t = templates(i % templates.length)
      (i.toLong, s"doc$i $t tail${i * 7 % 13}")
    }
  }

  /** Build the corpus if absent (once per build, see [[Fixtures]]). */
  def ensure(spark: SparkSession): Unit = Fixtures.published("unicode") { tmp =>
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, t) => Row(id, t) }, 1),
        schema)
      .write.mode("overwrite").parquet(s"$tmp/messy.parquet")
  }
}
