package graft

import java.nio.file.{Files, FileSystemException, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession

/** The one store for build-once fixtures (oracle corpora, staged stream
  * inputs, published model artifacts) and per-run scratch dirs.
  *
  * Every entry is a flat child of [[root]] named
  * `<family>_<md5(codeKey|inputKey)>`: [[codeKey]] fingerprints the
  * engine's compiled classes, so a new build can never be served a fixture
  * an older build wrote, and the input key separates entries built from
  * different inputs (corpus file size+mtime, content keys). Nothing is
  * hand-versioned; `rm -rf /tmp/graft_fixtures` is the only reset.
  *
  * [[published]] entries appear complete or not at all: the build runs in
  * a hidden sibling, `_READY` is written inside it, and it is renamed into
  * place atomically. The loser of a cross-JVM race discards its own copy
  * and reads the winner's; threads of one JVM queue on a per-entry lock.
  * [[scratch]] dirs belong to one invocation and are deleted on exit.
  */
object Fixtures {

  val root: String = "/tmp/graft_fixtures"

  /** md5 of every `.class` file under `graft/` in the engine's code
    * source (class dir or jar), in path order. Computed once per JVM; an
    * unreadable code source fails loud rather than keying on nothing. */
  lazy val codeKey: String = {
    val loc = Option(getClass.getProtectionDomain.getCodeSource).map(_.getLocation)
      .getOrElse(throw new IllegalStateException("graft.Fixtures: no code source to fingerprint"))
    val src = Paths.get(loc.toURI)
    val md = java.security.MessageDigest.getInstance("MD5")
    def add(name: String, bytes: Array[Byte]): Unit = {
      md.update(name.getBytes("UTF-8")); md.update(bytes)
    }
    var n = 0
    if (Files.isDirectory(src)) {
      val walk = Files.walk(src.resolve("graft"))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".class"))
          .map(p => src.relativize(p).toString -> p).toSeq.sortBy(_._1)
          .foreach { case (name, p) => add(name, Files.readAllBytes(p)); n += 1 }
      } finally walk.close()
    } else {
      val jar = new java.util.zip.ZipFile(src.toFile)
      try {
        import scala.jdk.CollectionConverters._
        jar.entries().asScala
          .filter(e => e.getName.startsWith("graft/") && e.getName.endsWith(".class"))
          .toSeq.sortBy(_.getName)
          .foreach { e =>
            val in = jar.getInputStream(e)
            try add(e.getName, in.readAllBytes()) finally in.close()
            n += 1
          }
      } finally jar.close()
    }
    if (n == 0) throw new IllegalStateException(s"graft.Fixtures: no graft classes under $src")
    hex(md.digest())
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private def md5(s: String): String =
    hex(java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  /** The entry path for (family, inputKey) — built or not. */
  def entry(family: String, inputKey: String = ""): String = entryAt(codeKey, family, inputKey)

  private[graft] def entryAt(code: String, family: String, inputKey: String): String =
    s"$root/${family}_${md5(s"$code|$inputKey")}"

  /** DuckDB expression for [[entry]] when the input key is only known to
    * the oracle (`keySql` is a VARCHAR expression over its tables). */
  def duckEntry(family: String, keySql: String): String =
    s"'$root/${family}_' || md5('$codeKey|' || $keySql)"

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The (family, inputKey) entry, built by `build(stagingDir)` if absent. */
  def published(family: String, inputKey: String = "")(build: String => Unit): String =
    publish(entry(family, inputKey))(build)

  private[graft] def publish(dir: String)(build: String => Unit): String = {
    val ready = Paths.get(dir, "_READY")
    if (!Files.exists(ready)) locks.computeIfAbsent(dir, _ => new Object).synchronized {
      if (!Files.exists(ready)) {
        val tmp = Paths.get(root, s".stage_${Paths.get(dir).getFileName}_$uuid")
        Files.createDirectories(tmp)
        try {
          build(tmp.toString)
          Files.write(tmp.resolve("_READY"), Array.emptyByteArray)
          try Files.move(tmp, Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
          catch { case _: FileSystemException => () } // lost the race; the winner is complete
        } finally ingest.FsUtil.deleteTree(tmp)
        if (!Files.exists(ready))
          throw new IllegalStateException(s"fixture $dir not published: an entry without _READY blocks it")
      }
    }
    dir
  }

  /** Run `body` on a fresh `<family>_run_<uuid>` dir, deleted on exit. */
  def scratch[T](family: String)(body: String => T): T = {
    val dir = Paths.get(root, s"${family}_run_$uuid")
    try body(dir.toString) finally ingest.FsUtil.deleteTree(dir)
  }

  private def uuid: String = java.util.UUID.randomUUID().toString.replace("-", "")

  /** Build every oracle corpus up front (untimed setup for the measurement
    * mains); one `[tag]` stderr line names each corpus that fails. */
  def ensureAll(spark: SparkSession, tag: String): Unit =
    Seq[(String, SparkSession => Any)](
      ("StixCorpus", StixCorpus.ensure), ("TranslateCorpus", TranslateCorpus.ensure),
      ("WoodCorpus", WoodCorpus.ensure), ("MediaCorpus", MediaCorpus.ensure),
      ("AudioCorpus", AudioCorpus.ensure), ("VideoCorpus", VideoCorpus.ensure),
      ("DeltaCorpus", DeltaCorpus.ensure), ("UnicodeCorpus", UnicodeCorpus.ensure),
      ("ZoneCorpus", ZoneCorpus.ensure)
    ).foreach { case (name, ensure) =>
      try { ensure(spark); () }
      catch {
        case t: Throwable =>
          System.err.println(s"[$tag] corpus $name failed: ${t.getClass.getSimpleName}: " +
            String.valueOf(t.getMessage).take(200))
      }
    }
}
