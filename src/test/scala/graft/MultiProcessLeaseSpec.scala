package graft

import java.nio.file.{Files, Paths}

import graft.ingest.UpsertWriter

/** Cross-PROCESS lease contention: every other lease spec in the repo races
  * threads inside one JVM, where the lease's `processToken`, reentrancy
  * ThreadLocal, and renewal scheduler are all shared state that could in
  * principle mask a protocol hole. Here three genuinely separate OS
  * processes (this test JVM spawns two `java` children running
  * [[graft.ingest.LeaseContender]], then contends itself) share NOTHING but
  * the filesystem — the deployment shape the advisory lease is actually
  * for: many Spark drivers writing one table on shared storage.
  *
  * Two independent mutual-exclusion signals:
  *  - the upserted table must hold every id all three writers wrote
  *    (interleaved publishes lose rows);
  *  - a non-atomic read-sleep-increment counter file, bumped once per batch
  *    inside `withTableLease`, must equal writers × batches (any window
  *    with two holders loses an update — the classic lost-update
  *    detector). */
class MultiProcessLeaseSpec extends SparkSpec {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def runContention(dir: String, nBatches: Int, perBatch: Int, fsMode: String): Unit = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    def spawn(writerId: String): Process = {
      val cmd = (Seq(javaBin, "-Xmx2g", "-cp", sys.props("java.class.path")) ++ addOpens ++
        Seq("-Dspark.ui.enabled=false",
          "graft.ingest.LeaseContender", dir, writerId,
          nBatches.toString, perBatch.toString) ++
        (if (fsMode.nonEmpty) Seq(fsMode) else Nil))
      new ProcessBuilder(cmd: _*)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectErrorStream(false)
        .redirectError(ProcessBuilder.Redirect.DISCARD)
        .start()
    }
    val children = Seq("A", "B").map(spawn)
    // this JVM is the third contender — same verbs, in-process
    try {
      if (fsMode == "s3") UpsertWriter.fs = graft.ingest.S3SimTableFs
      graft.ingest.LeaseContender.contend(spark, dir, "C", nBatches, perBatch)
    } finally UpsertWriter.fs = graft.ingest.LocalTableFs
    children.foreach { p =>
      assert(p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES), "child JVM wedged")
      assert(p.exitValue() == 0, s"child JVM exited ${p.exitValue()}")
    }
    Seq("A", "B").foreach(w =>
      assert(Files.exists(Paths.get(dir, s"done-$w")), s"writer $w did not finish"))

    // signal 1: every id from every writer survived the interleaved upserts
    val ids = UpsertWriter.readTable(spark, dir, "t")
      .select("id").collect().map(_.getString(0)).toSet
    val expected =
      (for (w <- Seq("A", "B", "C"); b <- 0 until nBatches; i <- 0 until perBatch)
        yield s"$w-$b-$i").toSet ++ (0 until 4).map(i => s"shared-$i")
    assert(ids == expected,
      s"lost ${expected.diff(ids).size} rows; ${ids.diff(expected).size} unexpected")

    // signal 2: the lost-update detector counted every lease-guarded bump
    val counted =
      new String(Files.readAllBytes(Paths.get(dir, "counter.txt")), "UTF-8").trim.toLong
    assert(counted == 3L * nBatches,
      s"counter $counted != ${3 * nBatches}: two processes held the lease at once")
  }

  test("three OS processes upserting one table: no lost rows, no lost counter updates") {
    withTempDir("graft-mproc")(runContention(_, nBatches = 4, perBatch = 10, fsMode = ""))
  }

  test("the same three-process contention holds under OBJECT-STORE semantics") {
    // every directory swap is copy+delete (non-atomic), createNew is the
    // conditional PUT: exclusion must rest on createNew alone — proven
    // here between real OS processes sharing only the store tree
    withTempDir("graft-mproc-s3")(runContention(_, nBatches = 3, perBatch = 8, fsMode = "s3"))
  }
}
