package graft.ingest

import java.nio.file.{Files, Path}

/** Local-filesystem helpers shared by the write path (UpsertWriter swap)
  * and Storage.delete. */
object FsUtil {

  /** Recursive delete with eagerly-closed directory streams — an unclosed
    * `Files.list` leaks one OS handle per directory for the life of the
    * JVM, and the write path deletes a tree on EVERY table swap. */
  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteTree(_))
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** Row count of parquet `files` read from FOOTERS ONLY — a driver-side
    * metadata probe that costs no Spark job (a `df.count()` probe launches
    * one full job per call; measured as a per-micro-batch job in every
    * streaming index operator, VERDICT r16). Reading stops once the count
    * reaches `cap`, so a many-file input costs O(1) footers when the
    * caller only needs to know it is big. Returns None when the list is
    * empty, a file is not named `.parquet` (never opened), or a footer is
    * unreadable — callers fall back to their size-agnostic behavior. */
  def footerRowCount(
      files: Seq[String],
      conf: org.apache.hadoop.conf.Configuration,
      cap: Long = Long.MaxValue): Option[Long] = {
    if (files.isEmpty || !files.forall(_.endsWith(".parquet"))) return None
    try {
      var rows = 0L
      val it = files.iterator
      while (it.hasNext && rows < cap) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(it.next()), conf))
        try rows += r.getRecordCount
        finally r.close()
      }
      Some(rows)
    } catch { case _: Exception => None }
  }

  /** (parquet file count, total bytes) of a table dir, or None once the
    * walk passes `byteCap` — a capped metadata probe so scan-shaping
    * decisions for SMALL stores never pay an unbounded listing on a big
    * one. Local-FS walk: the bucketed stores this feeds are local dirs. */
  def smallDirStats(p: Path, byteCap: Long): Option[(Int, Long)] = {
    if (!Files.isDirectory(p)) return None
    var files = 0
    var bytes = 0L
    val s = Files.walk(p)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val f = it.next()
        if (Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")) {
          files += 1
          bytes += Files.size(f)
          if (bytes > byteCap) return None
        }
      }
      Some((files, bytes))
    } finally s.close()
  }
}
