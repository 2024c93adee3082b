package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The fixture store's contract: keyed rebuilds, race-free publish,
  * scratch cleanup, and a flat root (one level of entries under it). */
class FixturesSpec extends AnyFunSuite {

  private val root = Paths.get(Fixtures.root)

  /** Entries this spec creates, removed afterwards whatever happens. */
  private def withEntries[T](dirs: String*)(body: => T): T =
    try body finally dirs.foreach(d => ingest.FsUtil.deleteTree(Paths.get(d)))

  private def stageDirs(): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.list(root)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith(".stage_")).toList
      finally s.close()
    }

  test("code key fingerprints the compiled engine classes") {
    assert(Fixtures.codeKey.matches("[0-9a-f]{32}"), Fixtures.codeKey)
    assert(Fixtures.entry("fx") == Fixtures.entryAt(Fixtures.codeKey, "fx", ""))
  }

  test("a different code key or input key rebuilds the entry") {
    val a = Fixtures.entryAt("codeA", "fixturesspec", "in1")
    val b = Fixtures.entryAt("codeB", "fixturesspec", "in1")
    val c = Fixtures.entryAt("codeA", "fixturesspec", "in2")
    assert(Set(a, b, c).size == 3)
    val builds = new AtomicInteger(0)
    def build(tag: String)(tmp: String): Unit = {
      builds.incrementAndGet()
      Files.writeString(Paths.get(tmp, "content"), tag)
    }
    withEntries(a, b, c) {
      assert(Fixtures.publish(a)(build("a")) == a)
      assert(Fixtures.publish(a)(build("a-again")) == a) // present: not rebuilt
      Fixtures.publish(b)(build("b"))
      Fixtures.publish(c)(build("c"))
      assert(builds.get() == 3)
      assert(Seq(a, b, c).map(d => Files.readString(Paths.get(d, "content"))) == Seq("a", "b", "c"))
      assert(Seq(a, b, c).forall(d => Files.exists(Paths.get(d, "_READY"))))
    }
  }

  test("two threads racing on published build one complete entry and both read it") {
    val dir = Fixtures.entryAt(Fixtures.codeKey, "fixturesspec", s"race-${System.nanoTime()}")
    val builds = new AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    withEntries(dir) {
      val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          start.await()
          val d = Fixtures.publish(dir) { tmp =>
            builds.incrementAndGet()
            Thread.sleep(200)
            Files.writeString(Paths.get(tmp, "content"), "built")
          }
          results.add(Files.readString(Paths.get(d, "content")))
        })
      }
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
      assert(builds.get() == 1)
      assert(results.asScala.toList == List("built", "built"))
      assert(Files.exists(Paths.get(dir, "_READY")))
    }
  }

  test("the loser of a cross-process publish race discards its copy and reads the winner's") {
    val dir = Fixtures.entryAt(Fixtures.codeKey, "fixturesspec", s"loser-${System.nanoTime()}")
    withEntries(dir) {
      val got = Fixtures.publish(dir) { tmp =>
        Files.writeString(Paths.get(tmp, "content"), "loser")
        // another process publishes the same entry while this build runs
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, "content"), "winner")
        Files.write(Paths.get(dir, "_READY"), Array.emptyByteArray)
      }
      assert(got == dir)
      assert(Files.readString(Paths.get(dir, "content")) == "winner")
      assert(!stageDirs().exists(_.getFileName.toString.contains(Paths.get(dir).getFileName.toString)))
    }
  }

  test("a failed build publishes nothing and leaves no staging dir") {
    val dir = Fixtures.entryAt(Fixtures.codeKey, "fixturesspec", s"fail-${System.nanoTime()}")
    withEntries(dir) {
      intercept[IllegalStateException] {
        Fixtures.publish(dir) { tmp =>
          Files.writeString(Paths.get(tmp, "content"), "half")
          throw new IllegalStateException("build failed")
        }
      }
      assert(!Files.exists(Paths.get(dir)))
      assert(!stageDirs().exists(_.getFileName.toString.contains(Paths.get(dir).getFileName.toString)))
    }
  }

  test("scratch deletes its directory when the body throws") {
    var seen: String = null
    intercept[RuntimeException] {
      Fixtures.scratch("fixturesspec") { dir =>
        seen = dir
        Files.createDirectories(Paths.get(dir, "nested"))
        Files.writeString(Paths.get(dir, "nested", "f"), "x")
        throw new RuntimeException("body failed")
      }
    }
    assert(seen != null && !Files.exists(Paths.get(seen)))
    assert(Fixtures.scratch("fixturesspec") { dir => dir } != seen)
  }

  test("every entry is a direct child of the root") {
    val dirs = Seq(
      StixCorpus.dir, TranslateCorpus.dir, WoodCorpus.dir, MediaCorpus.dir, AudioCorpus.dir,
      VideoCorpus.dir, DeltaCorpus.dir, UnicodeCorpus.dir, ZoneCorpus.dir,
      Fixtures.entry("streamdocs", "k"), Fixtures.entryAt("other", "bpe", "k"))
    assert(dirs.distinct.size == dirs.size)
    dirs.foreach(d => assert(Paths.get(d).getParent == root, d))
    Fixtures.scratch("fixturesspec")(d => assert(Paths.get(d).getParent == root, d))
    val dir = Fixtures.entryAt(Fixtures.codeKey, "fixturesspec", s"flat-${System.nanoTime()}")
    withEntries(dir) {
      Fixtures.publish(dir)(tmp => assert(Paths.get(tmp).getParent == root, tmp))
    }
  }
}
