package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedCounts aggregates a stream with watermarked state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val events = input.toDF().toDF("ts", "event_type")
    val q = StreamOps
      .windowedCounts(events, "1 hour", "2 hours")
      .writeStream
      .format("memory")
      .queryName("win_counts")
      .outputMode("update")
      .start()
    try {
      input.addData(
        (ts("2024-01-01 00:10:00"), "click"),
        (ts("2024-01-01 00:20:00"), "click"),
        (ts("2024-01-01 01:10:00"), "view"))
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
        .toSet
      assert(rows.contains(("2024-01-01 00:00:00.0", "click", 2L)))
      assert(rows.contains(("2024-01-01 01:00:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("funnelProgress: per-user state machine advances in order across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")
    val q = StreamOps
      .funnelProgress(events, Seq("signup", "view", "purchase"),
        maxGapMicros = 3600L * 1000000L) // 1 hour
      .toDF("user_id", "steps_completed")
      .writeStream
      .format("memory")
      .queryName("funnel_state")
      .outputMode("update")
      .start()
    try {
      // batch 1: u1 signs up and views (in window); u2 signs up;
      // u3 views BEFORE any signup (no credit); u4 signs up
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L, "signup"),
        (ts("2024-01-01 00:30:00"), 1L, "view"),
        (ts("2024-01-01 00:00:00"), 2L, "signup"),
        (ts("2024-01-01 00:00:00"), 3L, "view"),
        (ts("2024-01-01 00:00:00"), 4L, "signup"))
      q.processAllAvailable()
      // batch 2 (later event times — in-order feed): u1 purchases within
      // the window of the view; u4 views AFTER the 1h gap (no credit)
      input.addData(
        (ts("2024-01-01 01:00:00"), 1L, "purchase"),
        (ts("2024-01-01 02:30:00"), 4L, "view"))
      q.processAllAvailable()
      val last = spark.table("funnel_state")
        .groupBy("user_id").agg(max("steps_completed").as("sc"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(last == Map(1L -> 3, 2L -> 1, 3L -> 0, 4L -> 1))
    } finally q.stop()
  }

  test("windowedSketch merges CMS state across micro-batches, equals the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.CmsSketch
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamOps
      .windowedSketch(events, "user_id", 4, 64, "1 hour", "2 hours")
      .writeStream
      .format("memory")
      .queryName("win_sketch")
      .outputMode("complete")
      .start()
    try {
      // same window fed over TWO micro-batches: the sketch state must merge
      input.addData((ts("2024-01-01 00:10:00"), 7L), (ts("2024-01-01 00:20:00"), 7L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:30:00"), 7L), (ts("2024-01-01 00:40:00"), 9L))
      q.processAllAvailable()
      val streamed = spark.table("win_sketch")
        .where(col("window_start") === ts("2024-01-01 00:00:00"))
        .head().getSeq[Long](1)
      val batch = Seq(7L, 7L, 7L, 9L).toDF("user_id")
        .agg(CmsSketch.cms(col("user_id"), 4, 64)).head().getSeq[Long](0)
      assert(streamed == batch)
      // and the estimate over the streamed sketch reads the true counts
      val est = spark.table("win_sketch")
        .where(col("window_start") === ts("2024-01-01 00:00:00"))
        .select(
          CmsSketch.estimate(col("sk"), lit(7L), 4, 64),
          CmsSketch.estimate(col("sk"), lit(9L), 4, 64))
        .head()
      assert(est.getLong(0) == 3L && est.getLong(1) == 1L)
    } finally q.stop()
  }

  test("windowedDistinct merges KMV state across micro-batches, equals the batch estimate") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.KmvSketch
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamOps
      .windowedDistinct(events, "user_id", 16, "1 hour", "2 hours")
      .writeStream
      .format("memory")
      .queryName("win_kmv")
      .outputMode("complete")
      .start()
    try {
      input.addData((ts("2024-01-01 00:10:00"), 1L), (ts("2024-01-01 00:20:00"), 2L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:30:00"), 2L), (ts("2024-01-01 00:40:00"), 3L))
      q.processAllAvailable()
      val streamed = spark.table("win_kmv")
        .where(col("window_start") === ts("2024-01-01 00:00:00"))
        .head().getDouble(1)
      val batch = Seq(1L, 2L, 2L, 3L).toDF("user_id")
        .agg(round(KmvSketch.kmvDistinct(col("user_id"), 16), 6)).head().getDouble(0)
      assert(streamed == batch && streamed == 3.0) // k > distinct -> exact
    } finally q.stop()
  }

  test("sessionCounts merges gap-close events into one session window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamOps
      .sessionCounts(events, "30 minutes", "2 hours")
      .writeStream
      .format("memory")
      .queryName("sess_counts")
      .outputMode("complete")
      .start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L), // session 1 of user 1
        (ts("2024-01-01 00:10:00"), 1L),
        (ts("2024-01-01 02:00:00"), 1L), // gap > 30m -> session 2
        (ts("2024-01-01 00:05:00"), 2L))
      q.processAllAvailable()
      val rows = spark.table("sess_counts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(3)))
        .toSet
      assert(rows == Set(
        (1L, "2024-01-01 00:00:00.0", 2L),
        (1L, "2024-01-01 02:00:00.0", 1L),
        (2L, "2024-01-01 00:05:00.0", 1L)))
    } finally q.stop()
  }

  test("dedupStream drops in-horizon duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "event_id")
    val q = StreamOps
      .dedupStream(events, Seq("event_id"), "1 hour")
      .writeStream
      .format("memory")
      .queryName("dedup_out")
      .outputMode("append")
      .start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:05:00"), 2L))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("session_window merges late rows across file-source micro-batches") {
    // the availableNow drains in the oracle queries see the whole corpus in
    // one batch; this pins the cross-batch path: maxFilesPerTrigger=1 over
    // two files, where batch 2 carries a LATE row that must merge into a
    // session opened (and buffered in the state store) by batch 1
    withTempDir("graft_stream_mb") { dir =>
      val batch1 = Seq(
        (ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:10:00"), 1L),
        (ts("2024-01-01 01:00:00"), 2L)).toDF("ts", "user_id")
      val batch2 = Seq(
        (ts("2024-01-01 00:20:00"), 1L), // late: extends user 1's first session
        (ts("2024-01-01 03:00:00"), 1L)).toDF("ts", "user_id")
      batch1.coalesce(1).write.mode("append").parquet(dir)
      batch2.coalesce(1).write.mode("append").parquet(dir)
      val src = spark.readStream
        .schema(batch1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
      val sink = s"sess_mb_${java.util.UUID.randomUUID().toString.take(8)}"
      val q = StreamOps.sessionCounts(src, "30 minutes", "10 days")
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        q.awaitTermination()
        val sq = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
        val fedBatches = sq.recentProgress.count(_.numInputRows > 0)
        assert(fedBatches >= 2, s"expected a multi-batch drain, got $fedBatches feeding batches")
        val rows = spark.table(sink).collect()
          .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(3)))
          .toSet
        assert(rows == Set(
          (1L, "2024-01-01 00:00:00.0", 3L), // late 00:20 row merged in
          (1L, "2024-01-01 03:00:00.0", 1L),
          (2L, "2024-01-01 01:00:00.0", 1L)))
      } finally q.stop()
    }
  }

  test("stateless pipeline ops (filter report) run unchanged under streaming") {
    // the map-side corpus ops are stateless selects, so the SAME operator
    // code drives a readStream: the continuous-ingest quality gate needs no
    // streaming-specific variant
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val rules = graft.operators.TextOps.gopherRules(
      org.apache.spark.sql.functions.col("text"),
      minTokens = 3, maxTokens = 100, maxRepetition = 0.5, minStopword = 0.0)
    val q = graft.operators.TextOps.filterReport(docs, rules)
      .writeStream
      .format("memory")
      .queryName("stream_filter")
      .outputMode("append")
      .start()
    try {
      input.addData((1L, "the quick brown fox jumps"), (2L, "x y"))
      q.processAllAvailable()
      val rows = spark.table("stream_filter").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(rows == Set((1L, null, 1), (2L, "too_short", 0)), s"rows=$rows")
    } finally q.stop()
  }

  test("intervalJoin pairs same-key events within the window across two streams") {
    implicit val sqlCtx = spark.sqlContext
    val li = MemoryStream[(java.sql.Timestamp, Long, String)]
    val ri = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamOps.intervalJoin(
      li.toDF().toDF("ts", "user_id", "event_type"),
      ri.toDF().toDF("ts", "user_id", "event_type"),
      within = "10 minutes", watermark = "30 minutes")
      .writeStream.format("memory").queryName("ij").outputMode("append").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
      li.addData((t(0), 1L, "alert"), (t(30), 2L, "alert"))
      // t(20) is outside alert-1's 10-minute window; user 2's obs is inside
      ri.addData((t(5), 1L, "obs"), (t(20), 1L, "obs"), (t(31), 2L, "obs"))
      q.processAllAvailable()
      val rows = spark.table("ij").collect()
        .map(x => (x.getLong(0), x.getTimestamp(1), x.getTimestamp(3))).toSet
      assert(rows == Set((1L, t(0), t(5)), (2L, t(30), t(31))), s"rows=$rows")
    } finally q.stop()
  }

  test("dedupAgainstCorpus drops already-ingested fingerprints and in-stream dups") {
    implicit val sqlCtx = spark.sqlContext
    val seen = Seq("already ingested doc").toDF("text")
      .select(graft.operators.TextOps.fingerprint(col("text")).as("fingerprint"))
    val input = MemoryStream[(Timestamp, String)]
    val events = input.toDF().toDF("ts", "text")
    val q = StreamOps.dedupAgainstCorpus(events, seen, watermark = "1 hour")
      .writeStream.format("memory").queryName("corpus_dedup").outputMode("append")
      .start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), "already ingested doc"), // vs static corpus
        (ts("2024-01-01 00:01:00"), "fresh doc"),
        (ts("2024-01-01 00:02:00"), "FRESH   doc")) // in-stream dup (normalized)
      q.processAllAvailable()
      val texts = spark.table("corpus_dedup").collect().map(_.getAs[String]("text")).toSet
      assert(texts == Set("fresh doc"))
    } finally q.stop()
  }

  test("runningCounts keeps per-user state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamOps
      .runningCounts(events)
      .toDF("user_id", "n")
      .writeStream
      .format("memory")
      .queryName("run_counts")
      .outputMode("update")
      .start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), 7L), (ts("2024-01-01 00:01:00"), 7L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:02:00"), 7L))
      q.processAllAvailable()
      val last = spark.table("run_counts").collect().map(r => r.getLong(1)).max
      assert(last == 3L)
    } finally q.stop()
  }

  test("runningCounts expires idle per-user state at the event-time horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamOps
      .runningCounts(events, watermark = "1 hour",
        idleTimeoutMicros = 2L * 3600L * 1000000L)
      .toDF("user_id", "n")
      .writeStream
      .format("memory")
      .queryName("run_counts_expiry")
      .outputMode("update")
      .start()
    try {
      // batch 1: u7 twice, u8 once (u8 keeps the stream alive later)
      input.addData(
        (ts("2024-01-01 00:00:00"), 7L),
        (ts("2024-01-01 00:30:00"), 7L),
        (ts("2024-01-01 00:00:00"), 8L))
      q.processAllAvailable()
      // batch 2: only u8, far in the future — watermark advances to 09:00,
      // past u7's idle deadline (00:30 + 2h = 02:30)
      input.addData((ts("2024-01-01 10:00:00"), 8L))
      q.processAllAvailable()
      // batch 3: u8 again — u7's timeout FIRES here (timeouts are evaluated
      // against the watermark computed at the previous batch's end)
      input.addData((ts("2024-01-01 10:30:00"), 8L))
      q.processAllAvailable()
      // batch 4: u7 returns after eviction — count restarts from a fresh
      // state (1), NOT 3: the state really was removed, not kept forever
      input.addData((ts("2024-01-01 11:00:00"), 7L))
      q.processAllAvailable()
      val u7 = spark.table("run_counts_expiry").collect()
        .filter(_.getLong(0) == 7L).map(_.getLong(1)).toSet
      assert(u7.contains(2L), s"pre-expiry count missing: $u7")
      assert(u7.contains(1L), s"post-expiry restart missing: $u7")
      assert(!u7.contains(3L), s"state survived the idle horizon: $u7")
    } finally q.stop()
  }

  test("funnelProgress drops events below the watermark (late-event policy)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")
    val q = StreamOps
      .funnelProgress(events, Seq("signup", "view"),
        maxGapMicros = 6L * 3600L * 1000000L, watermark = "1 hour")
      .toDF("user_id", "steps_completed")
      .writeStream
      .format("memory")
      .queryName("funnel_late")
      .outputMode("update")
      .start()
    try {
      // batch 1: u1 signs up at 00:00; a noise event at 06:00 pushes the
      // watermark to 05:00 at batch end
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L, "signup"),
        (ts("2024-01-01 06:00:00"), 9L, "noise"))
      q.processAllAvailable()
      // batch 2: u1's view at 00:30 would advance the funnel (after the
      // 00:00 frontier, inside the 6h gap) — but it is BELOW the 05:00
      // watermark, so the late-event policy drops it: u1 stays at step 1,
      // matching the batch funnel on the watermark-visible prefix
      input.addData((ts("2024-01-01 00:30:00"), 1L, "view"))
      q.processAllAvailable()
      val u1 = spark.table("funnel_late").collect()
        .filter(_.getLong(0) == 1L).map(_.getInt(1)).toSet
      assert(u1.contains(1), s"signup not counted: $u1")
      assert(!u1.contains(2), s"late view advanced the funnel: $u1")
      // an ON-TIME view at 05:30 (above the 05:00 watermark, still inside
      // the 6h gap of the 00:00 frontier) advances the funnel: lateness,
      // not the gap, was the only barrier for the dropped event
      input.addData((ts("2024-01-01 05:30:00"), 1L, "view"))
      q.processAllAvailable()
      val u1b = spark.table("funnel_late").collect()
        .filter(_.getLong(0) == 1L).map(_.getInt(1)).toSet
      assert(u1b.contains(2), s"on-time view did not advance: $u1b")
    } finally q.stop()
  }

  test("sinkToStore periodic compaction converges a trickle stream to zero deltas") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_sink_compact") { base =>
      val input = MemoryStream[(Long, String)]
      val q = StreamOps
        .sinkToStore(input.toDF().toDF("id", "v"), base, "t", compactEveryBatches = 6)
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        // 3 x DeltaFilesMax micro-batches of PURE INSERTS: each appends
        // delta files; the per-upsert threshold alone would leave buckets
        // idling below DeltaFilesMax deltas forever on a trickle like this
        val nBatches = 3 * graft.ingest.UpsertWriter.DeltaFilesMax
        (0 until nBatches).foreach { b =>
          input.addData((0 until 5).map(i => (b * 100L + i, s"v$b-$i")): _*)
          q.processAllAvailable()
        }
        // nBatches is a multiple of compactEveryBatches, so the last batch
        // ran compactAll: every bucket is back to its one-file form
        val table = java.nio.file.Paths.get(base, "t.parquet")
        val s = java.nio.file.Files.walk(table)
        val deltas =
          try s.iterator().asScala.map(_.getFileName.toString)
            .filter(n => n.startsWith("delta-") && n.endsWith(".parquet")).toList
          finally s.close()
        assert(deltas.isEmpty, s"uncompacted deltas after the stream: $deltas")
        // and no row was lost on the way
        assert(graft.ingest.UpsertWriter.readTable(spark, base, "t").count()
          == nBatches * 5L)
      } finally q.stop()
    }
  }

  test("indexLexical: per-batch appended index answers equal the whole-corpus BM25") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    withTempDir("graft_stream_bm25") { base =>
      val idx = s"$base/idx"
      val input = MemoryStream[(Long, String)]
      val b1 = Seq((1L, "join the stream of vector data"), (2L, "a vector join"),
        (3L, "nothing relevant here"))
      val b2 = Seq((4L, "stream stream stream"), (5L, "join vector stream join"), (6L, ""))
      val q = StreamOps.indexLexical(input.toDF().toDF("doc_id", "text"), idx)
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val terms = Seq("join", "vector", "stream")
      val streamed = TextOps.bm25SearchIndexed(
          spark.read.parquet(s"$idx/postings"),
          TextOps.bm25FoldDf(spark.read.parquet(s"$idx/df_parts")),
          TextOps.bm25FoldCorpus(spark.read.parquet(s"$idx/corpus_parts")),
          terms, topK = 10)
        .collect().map(_.toSeq).toSeq
      val whole = TextOps.bm25TopK((b1 ++ b2).toDF("doc_id", "text"), terms, topK = 10)
        .collect().map(_.toSeq).toSeq
      assert(streamed == whole, s"streamed=$streamed whole=$whole")
      // two micro-batches -> two partial corpus rows; empty-text doc 6
      // counted by the corpus state (n_docs=6) though it has no postings
      assert(spark.read.parquet(s"$idx/corpus_parts").count() == 2)
      val c = TextOps.bm25FoldCorpus(spark.read.parquet(s"$idx/corpus_parts")).collect()(0)
      assert(c.getLong(0) == 6L)
    }
  }

  test("indexPositional: ONE streamed store answers bm25 + phrase + proximity equal to batch faces") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    withTempDir("graft_stream_pos") { base =>
      val idx = s"$base/idx"
      val input = MemoryStream[(Long, String)]
      val b1 = Seq((1L, "join the stream of vector data"), (2L, "a vector join"),
        (3L, "slow hash batch of slow hash batch items"))
      val b2 = Seq((4L, "stream stream stream"), (5L, "join vector stream join"), (6L, ""))
      val q = StreamOps.indexPositional(input.toDF().toDF("doc_id", "text"), idx)
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val corpus = (b1 ++ b2).toDF("doc_id", "text")
      val store = spark.read.parquet(s"$idx/postings")
      // face 1: ranked retrieval from the SAME rows — equals the corpus scan
      val terms = Seq("join", "vector", "stream")
      val streamed = TextOps.bm25SearchPositional(
          store,
          TextOps.bm25FoldDf(spark.read.parquet(s"$idx/df_parts")),
          TextOps.bm25FoldCorpus(spark.read.parquet(s"$idx/corpus_parts")),
          terms, topK = 10)
        .collect().map(_.toSeq).toSeq
      val whole = TextOps.bm25TopK(corpus, terms, topK = 10)
        .collect().map(_.toSeq).toSeq
      assert(streamed == whole, s"streamed=$streamed whole=$whole")
      // face 2: phrase — equals the corpus scan face
      val ph = TextOps.phraseHitsIndexed(store, "slow hash batch")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val phWhole = TextOps.phraseHits(corpus, "slow hash batch")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(ph == phWhole && ph.nonEmpty, s"ph=$ph whole=$phWhole")
      // face 3: proximity — equals the corpus scan face
      val px = TextOps.proximityIndexed(store, "join", "stream", maxDist = 5)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val pxWhole = TextOps.proximityHits(corpus, "join", "stream", maxDist = 5)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(px == pxWhole && px.nonEmpty, s"px=$px whole=$pxWhole")
      // the df/corpus states are the indexLexical frames exactly: two partial
      // corpus rows, empty-text doc 6 counted though it posts nothing
      assert(spark.read.parquet(s"$idx/corpus_parts").count() == 2)
      val c = TextOps.bm25FoldCorpus(spark.read.parquet(s"$idx/corpus_parts")).collect()(0)
      assert(c.getLong(0) == 6L)
    }
  }

  test("indexChunks: per-batch novelty appends equal the whole-corpus chunkNovelty") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    withTempDir("graft_stream_chunks") { base =>
      val idx = s"$base/idx"
      val input = MemoryStream[(Long, String)]
      // shared template text across docs so cross-doc (and cross-BATCH)
      // duplicate chunks exist; batches are id-ordered (the face's contract)
      val tpl = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val b1 = Seq((1L, s"one unique opening $tpl"), (2L, s"two other words $tpl"))
      val b2 = Seq((3L, s"three fresh tokens $tpl"), (4L, tpl), (5L, ""))
      val q = StreamOps.indexChunks(input.toDF().toDF("doc_id", "text"), idx, w = 3, divisor = 2)
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.read.parquet(s"$idx/novelty")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val whole = Dedup.chunkNovelty((b1 ++ b2).toDF("doc_id", "text"), w = 3, divisor = 2)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(streamed == whole, s"streamed=$streamed whole=$whole")
      // a batch-2 doc made entirely of batch-1 chunks must read zero novelty
      val byDoc = spark.read.parquet(s"$idx/novelty").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(byDoc(4L) == 0L, s"re-crawled template doc must be 0-novel: $byDoc")
      // owner store holds each hash once per batch-part; folded it is global
      val folded = spark.read.parquet(s"$idx/owner_parts")
      val global = Dedup.chunkOwners(
        Dedup.chunkHashes((b1 ++ b2).toDF("doc_id", "text"), w = 3, divisor = 2))
      val f = Dedup.chunkMergeOwners(folded, folded.limit(0))
        .orderBy("__h").collect().map(_.toSeq).toSeq
      val g = global.orderBy("__h").collect().map(_.toSeq).toSeq
      assert(f == g, "folded per-batch owners must equal global ownership")
    }
  }

  test("indexVocab: per-batch appended state recomputes the whole-corpus Heaps curve") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    withTempDir("graft_stream_vocab") { base =>
      val idx = s"$base/idx"
      val input = MemoryStream[(Long, String)]
      val b1 = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"))
      val b2 = Seq((3L, "alpha epsilon"), (4L, ""), (5L, "zeta beta"))
      val q = StreamOps.indexVocab(input.toDF().toDF("doc_id", "text"), idx)
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val cps = Seq(3L, 5L, 6L)
      val streamed = TextOps.vocabGrowthFromState(
          TextOps.vocabFoldState(spark.read.parquet(s"$idx/vocab_parts")),
          spark.read.parquet(s"$idx/doc_tokens"), cps)
        .orderBy("checkpoint").collect().map(_.toSeq).toSeq
      val whole = TextOps.vocabGrowth((b1 ++ b2).toDF("doc_id", "text"), cps)
        .orderBy("checkpoint").collect().map(_.toSeq).toSeq
      assert(streamed == whole, s"streamed=$streamed whole=$whole")
      // the folded state equals the whole-corpus vocabState (min/sum law),
      // including the empty doc 4 appearing in doc_tokens with mass 0
      val fs = TextOps.vocabFoldState(spark.read.parquet(s"$idx/vocab_parts"))
        .orderBy("term").collect().map(_.toSeq).toSeq
      val ws = TextOps.vocabState((b1 ++ b2).toDF("doc_id", "text"))
        .orderBy("term").collect().map(_.toSeq).toSeq
      assert(fs == ws, s"folded=$fs whole=$ws")
      val masses = spark.read.parquet(s"$idx/doc_tokens").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(masses(4L) == 0L && masses.size == 5, s"masses=$masses")
    }
  }

  test("sinkToStore crash mid-publish: restart from the checkpoint loses no rows") {
    // end-to-end stream fault tolerance: the writer dies inside a
    // micro-batch's publish protocol (and stays dead — real crash
    // semantics), the streaming query fails, and a RESTARTED query on the
    // same checkpoint replays the uncommitted batch through the
    // idempotent upsert — exactly-once to the store
    class InjectedCrash extends RuntimeException("injected crash")
    class FaultFs(killAt: Int) extends graft.ingest.TableFs {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      private def step(): Unit =
        if (n.incrementAndGet() >= killAt) throw new InjectedCrash
      def put(p: java.nio.file.Path, c: Array[Byte]): Unit = { step(); graft.ingest.LocalTableFs.put(p, c) }
      def createNew(p: java.nio.file.Path, c: Array[Byte]): Unit = { step(); graft.ingest.LocalTableFs.createNew(p, c) }
      def move(s: java.nio.file.Path, d: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.move(s, d) }
      def moveReplace(s: java.nio.file.Path, d: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.moveReplace(s, d) }
      def deleteIfExists(p: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.deleteIfExists(p) }
      def deleteTree(p: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.deleteTree(p) }
      def mkdirs(p: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.mkdirs(p) }
      def copyTree(s: java.nio.file.Path, d: java.nio.file.Path): Unit = { step(); graft.ingest.LocalTableFs.copyTree(s, d) }
    }
    withTempDir("graft_sink_crash") { base =>
      val (inDir, storeDir, ck) = (s"$base/in", s"$base/store", s"$base/ck")
      val sp = spark
      import sp.implicits._
      // three 1-file batches with disjoint ids: creation swap, then two
      // delta appends — order-independent expected state
      Seq("a" -> 0L, "b" -> 100L, "c" -> 200L).foreach { case (tag, off) =>
        (off until off + 100L).map(i => (i, s"$tag$i")).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(inDir)
      }
      val schema = spark.read.parquet(inDir).schema
      def startQ() = {
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        StreamOps.sinkToStore(src, storeDir, "t", numBuckets = 4)
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      // die inside the 2nd/3rd micro-batch's publish (table creation takes
      // the first ~8 protocol mutations)
      graft.ingest.UpsertWriter.fs = new FaultFs(10)
      val q1 = startQ()
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.awaitTermination()
      }
      graft.ingest.UpsertWriter.fs = graft.ingest.LocalTableFs
      // restart: the dead holder's lease expires in production — delete it
      // here — then the same checkpoint replays the uncommitted batch
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(storeDir))
      try s.forEach(f =>
        if (f.getFileName.toString.endsWith(".lease")) java.nio.file.Files.deleteIfExists(f))
      finally s.close()
      val q2 = startQ()
      q2.awaitTermination()
      val got = graft.ingest.UpsertWriter.readTable(spark, storeDir, "t")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = Seq("a" -> 0L, "b" -> 100L, "c" -> 200L).flatMap { case (tag, off) =>
        (off until off + 100L).map(i => (i, s"$tag$i"))
      }.toSet
      assert(got == want,
        s"lost ${(want -- got).size} rows, gained ${(got -- want).size} after crash-restart")
    }
  }

  test("intervalJoinLeft: inner matches, watermark-proven nulls, trailing-window gate") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val lIn = MemoryStream[(Long, String, Timestamp)]
    val rIn = MemoryStream[(Long, String, Timestamp)]
    val sinkName = s"ijl_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = StreamOps
      .intervalJoinLeft(
        lIn.toDF().toDF("user_id", "event_type", "ts"),
        rIn.toDF().toDF("user_id", "event_type", "ts"),
        within = "10 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName(sinkName).outputMode("append")
      .start()
    try {
      // user 1 matches inside the window; user 2 has provably no match
      // once the watermark passes 10:10+1min; user 8 (the left pusher at
      // 11:00) has a join window the final watermark never clears
      lIn.addData((1L, "a", ts(0)), (2L, "b", ts(0)))
      rIn.addData((1L, "c", ts(5)))
      q.processAllAvailable()
      lIn.addData((8L, "lpush", Timestamp.valueOf("2024-01-01 11:00:00")))
      rIn.addData((9L, "rpush", Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      // one more batch so the watermark computed from 11:00 propagates
      // and flushes the expired outer state
      lIn.addData((8L, "lpush2", Timestamp.valueOf("2024-01-01 11:00:30")))
      rIn.addData((9L, "rpush2", Timestamp.valueOf("2024-01-01 11:00:30")))
      q.processAllAvailable()
      val rows = spark.table(sinkName)
        .collect()
        .map(x => (x.getLong(0), x.getString(2), Option(x.getString(4))))
        .toSet
      assert(rows.contains((1L, "a", Some("c"))), s"matched pair missing: $rows")
      assert(rows.contains((2L, "b", None)), s"proven non-match must emit null: $rows")
      assert(!rows.exists { case (u, _, r) => u == 8L && r.isEmpty },
        s"trailing-window left rows must NOT emit nulls before the watermark clears them: $rows")
    } finally q.stop()
  }

  test("streaming stats maintenance: per-batch mergeStats equals the whole-stream pass") {
    // the mergeable-stats consumer shape: each micro-batch folds its
    // statsOf frame into the running stats (what a foreachBatch sink
    // persists), and the final row equals a single pass over everything
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    var running: org.apache.spark.sql.DataFrame = null
    val all = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val q = input.toDF().toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = graft.operators.Profile.statsOf(batch.toDF(), Seq("id", "v"))
          .localCheckpoint(true) // pin: the running frame outlives the batch
        running = if (running == null) s else graft.operators.Profile.mergeStats(running, s)
        ()
      }
      .start()
    try {
      val r = new scala.util.Random(7)
      (0 until 4).foreach { b =>
        val rows = (0 until 50).map(i => (b * 50L + i, r.nextDouble() * 100))
        all ++= rows
        input.addData(rows: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val sp = spark
    import sp.implicits._
    val direct = graft.operators.Profile
      .finalizeStats(graft.operators.Profile.statsOf(all.toSeq.toDF("id", "v"), Seq("id", "v")))
      .collect().map(x => x.getString(0) -> x).toMap
    val merged = graft.operators.Profile.finalizeStats(running)
      .collect().map(x => x.getString(0) -> x).toMap
    for (c <- Seq("id", "v")) {
      assert(merged(c).getLong(1) == direct(c).getLong(1), s"$c n_rows")
      assert(math.abs(merged(c).getDouble(3) - direct(c).getDouble(3)) < 1e-6, s"$c mean")
      assert(math.abs(merged(c).getDouble(4) - direct(c).getDouble(4)) < 1e-6, s"$c stddev")
      assert(merged(c).getDouble(7) == direct(c).getDouble(7), s"$c distinct_est")
    }
  }

  test("indexPositional refuses a pre-dl (doc,term,pos) store: loud failure, no mixed-schema append") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    withTempDir("graft_predl") { base =>
      // a store written by the pre-unified schema: positions without dl
      Seq((1L, "alpha", 0), (1L, "beta", 1))
        .toDF("doc_id", "term", "pos")
        .write.parquet(s"$base/idx/postings")
      val input = MemoryStream[(Long, String)]
      val q = StreamOps.indexPositional(input.toDF().toDF("doc_id", "text"), s"$base/idx")
        .option("checkpointLocation", s"$base/ck")
        .start()
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        input.addData((2L, "gamma delta"))
        q.processAllAvailable()
      }
      q.stop()
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c => String.valueOf(c.getMessage).contains("predates the dl column")),
        s"expected the pre-dl guard, got: $ex")
      // nothing appended: the old store still holds exactly its two rows
      assert(spark.read.parquet(s"$base/idx/postings").count() == 2)
    }
  }

  test("gateQuality: the kept set equals the batch lrScore+filter, batching-invariant") {
    // the streaming trained-quality gate's law: stateless per-doc scoring
    // against the broadcast published weights means the accumulated kept
    // rows equal the whole-corpus batch replay however the stream was cut
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val docsAll = Seq(
      (0L, "alpha beta gamma alpha"), (1L, "zug blor kraz"),
      (2L, "alpha gamma gamma"), (3L, "blor zug zug kraz"),
      (4L, "beta beta alpha"), (5L, "kraz kraz"),
      (6L, ""), (7L, "alpha zug"))
    val train = docsAll.map { case (i, t) => (i, t, if (i % 2 == 0) 1 else 0) }
      .toDF("doc_id", "text", "y")
    val model = graft.operators.TextOps.lrTrainNewton(train, "y", dim = 32, iters = 6)
    val weights = model.qWeights.toSeq.toDF("feature", "qw")
    withTempDir("graft_gate") { base =>
      val input = MemoryStream[(Long, String)]
      val q = StreamOps
        .gateQuality(input.toDF().toDF("doc_id", "text"), weights, 0.5, base, dim = 32)
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData(docsAll.take(3): _*)
        q.processAllAvailable()
        input.addData(docsAll.drop(3): _*)
        q.processAllAvailable()
      } finally q.stop()
      val kept = spark.read.parquet(s"$base/kept")
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[String]("text"), r.getAs[Long]("qmargin"), r.getAs[Double]("p")))
        .toSet
      val replay = docsAll.toDF("doc_id", "text")
      val expected = graft.operators.TextOps
        .lrScore(replay, model, "doc_id", "text")
        .where(col("p") >= 0.5)
        .join(replay, "doc_id")
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[String]("text"), r.getAs[Long]("qmargin"), r.getAs[Double]("p")))
        .toSet
      assert(expected.nonEmpty && expected.size < docsAll.size,
        s"law needs a discriminating gate: kept ${expected.size}/${docsAll.size}")
      assert(kept == expected, s"streamed kept set != batch replay\n$kept\n$expected")
    }
  }

  test("gateQualityToStore: kept set lands in the bucketed store; a replayed batch leaves it unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val docsAll = Seq(
      (0L, "alpha beta gamma alpha"), (1L, "zug blor kraz"),
      (2L, "alpha gamma gamma"), (3L, "blor zug zug kraz"),
      (4L, "beta beta alpha"), (5L, "kraz kraz"))
    val train = docsAll.map { case (i, t) => (i, t, if (i % 2 == 0) 1 else 0) }
      .toDF("doc_id", "text", "y")
    val model = graft.operators.TextOps.lrTrainNewton(train, "y", dim = 32, iters = 6)
    val weights = model.qWeights.toSeq.toDF("feature", "qw")
    withTempDir("graft_gatestore") { base =>
      val input = MemoryStream[(Long, String)]
      val q = StreamOps
        .gateQualityToStore(input.toDF().toDF("doc_id", "text"), weights, 0.5,
          base, "kept", dim = 32)
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData(docsAll.take(3): _*)
        q.processAllAvailable()
        input.addData(docsAll.drop(3): _*)
        q.processAllAvailable()
      } finally q.stop()
      def tableSet() = graft.ingest.UpsertWriter.readTable(spark, base, "kept")
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("text"),
          r.getAs[Long]("qmargin"), r.getAs[Double]("p"))).toSet
      val replay = docsAll.toDF("doc_id", "text")
      val expected = graft.operators.TextOps
        .lrScore(replay, model, "doc_id", "text")
        .where(col("p") >= 0.5)
        .join(replay, "doc_id")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
          r.getAs[Long]("qmargin"), r.getAs[Double]("p"))).toSet
      assert(expected.nonEmpty && expected.size < docsAll.size)
      assert(tableSet() == expected, "store content != batch replay")
      // exactly-once under foreachBatch replay: re-upserting a batch's kept
      // rows (same ids, same values — what a retried micro-batch produces)
      // leaves the table IDENTICAL, unlike a parquet append
      val batch2 = docsAll.drop(3).toDF("doc_id", "text")
      val kept2 = graft.operators.TextOps
        .lrScore(batch2, model, "doc_id", "text")
        .where(col("p") >= 0.5)
        .join(batch2, "doc_id")
        .select(col("doc_id").as("id"), col("qmargin"), col("p"), col("text"))
      graft.ingest.UpsertWriter.upsert(spark, base, "kept", kept2)
      assert(tableSet() == expected, "replayed batch changed the store")
    }
  }

  test("sinkToStore drains micro-batches through the delta-write upsert") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_sink") { base =>
      val input = MemoryStream[(Long, String)]
      val q = StreamOps.sinkToStore(input.toDF().toDF("id", "v"), base, "t")
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData((1L, "a"), (2L, "b"))
        q.processAllAvailable() // batch 1 creates the store
        input.addData((2L, "b2"), (3L, "c"))
        q.processAllAvailable() // batch 2: id 2 merges, id 3 delta-appends
        val rows = graft.ingest.UpsertWriter.readTable(spark, base, "t")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(rows == Set((1L, "a"), (2L, "b2"), (3L, "c")), s"rows=$rows")
        // the pure insert arrived as a delta file, not a bucket rewrite
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(base, "t.parquet"))
          .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        var sawDelta = false
        while (files.hasNext) {
          val f = files.next().getFileName.toString
          if (f.startsWith("delta-")) sawDelta = true
        }
        assert(sawDelta, "expected at least one delta file from the pure-insert batch")
      } finally q.stop()
    }
  }

  test("windowedBinCounts bins against static cuts with per-window state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val events = input.toDF().toDF("ts", "value")
    val q = StreamOps
      .windowedBinCounts(events, cuts = Seq(10.0, 20.0), valueCol = "value",
        width = "1 hour", watermark = "2 hours")
      .writeStream
      .format("memory")
      .queryName("bin_counts")
      .outputMode("complete")
      .start()
    try {
      input.addData(
        (ts("2024-01-01 00:05:00"), 5.0),   // bin 0 (<= 10)
        (ts("2024-01-01 00:15:00"), 10.0),  // bin 0 (ties to the lower bin)
        (ts("2024-01-01 00:25:00"), 15.0),  // bin 1
        (ts("2024-01-01 01:05:00"), 99.0))  // bin 2, next window
      q.processAllAvailable()
      val rows = spark.table("bin_counts").collect()
        .map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getLong(2)))
        .toSet
      assert(rows == Set(
        ("2024-01-01 00:00:00.0", 0, 2L),
        ("2024-01-01 00:00:00.0", 1, 1L),
        ("2024-01-01 01:00:00.0", 2, 1L)), s"rows=$rows")
    } finally q.stop()
  }

  test("indexMedia: per-batch screened appends equal the one-shot media dedup") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    withTempDir("graft_stream_media") { base =>
      // reuse the media corpus's deterministic pixel streams: ids 40..47 are
      // planted near-dups of 0..7 — batch 2 must drop them against batch 1's
      // stored hashes (cross-batch blocking through the persisted store)
      val px = MediaCorpus.allPixels.toMap
      def pngRows(ids: Seq[Int]): Seq[(Long, Array[Byte])] =
        ids.map(i => (i.toLong, MediaCorpus.pngOf(px(i))))
      val b1 = pngRows(0 to 7)
      val b2 = pngRows(40 to 47)
      val input = MemoryStream[(Long, Array[Byte])]
      val q = StreamOps.indexMedia(
          input.toDF().toDF("media_id", "content"), s"$base/idx")
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.read.parquet(s"$base/idx/hashes")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val whole = Multimodal.nearDupImagesIncremental(
          Multimodal.imageHashes(
            (b1 ++ b2).toDF("media_id", "content")).localCheckpoint(),
          spark.read.parquet(s"$base/idx/hashes")
            .select("media_id", "dhash_hi", "dhash_lo").limit(0))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(streamed == whole, s"streamed=$streamed whole=$whole")
      // the planted copies really dropped and the originals really kept
      assert((0 to 7).forall(i => streamed(i.toLong) == 1L), s"originals: $streamed")
      assert((40 to 47).forall(i => streamed(i.toLong) == 0L), s"copies: $streamed")
    }
  }

  test("indexDataCard: the card recomputed from per-batch partials equals the corpus card") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    withTempDir("graft_stream_card") { base =>
      // cross-batch structure the fold must get right: an exact dup pair
      // split ACROSS batches, a lang whose max spans batches, shared sources
      val b1 = Seq(
        (1L, "alpha beta gamma", "en", "web"),
        (2L, "beta beta", "en", "web"),
        (3L, "delta epsilon", "fr", "books"))
      val b2 = Seq(
        (4L, "alpha beta gamma", "en", "web"),  // dup of doc 1, other batch
        (5L, "zeta", "fr", "web"),
        (6L, "", "de", "books"))                // empty doc counts in docs/chars
      val input = MemoryStream[(Long, String, String, String)]
      val q = StreamOps.indexDataCard(
          input.toDF().toDF("doc_id", "text", "lang", "source"), s"$base/state")
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      def st(n: String) = spark.read.parquet(s"$base/state/$n")
      val streamed = TextOps.corpusReportFromState(
          st("scal_parts"), st("fp_parts"), st("lang_parts"),
          st("src_parts"), st("vocab_parts"))
        .orderBy("metric").collect().map(_.toSeq).toSeq
      val whole = TextOps.corpusReport((b1 ++ b2).toDF("doc_id", "text", "lang", "source"))
        .orderBy("metric").collect().map(_.toSeq).toSeq
      assert(streamed == whole, s"streamed=$streamed whole=$whole")
      val m = streamed.map(r => r.head.toString -> r(1).asInstanceOf[Double]).toMap
      assert(m("n_docs") == 6.0 && m("exact_dup_ratio") > 0.0,
        s"the cross-batch dup must register: $m")
    }
  }

  test("indexSourceSketches: folded per-batch KMV partials equal the whole-corpus overlap") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Profile
    withTempDir("graft_stream_overlap") { base =>
      val k = 4 // tiny sketch: both batches overflow it, exercising the trim
      // two sources sharing half their values; spread across batches so the
      // fold must union-and-trim, not just concatenate
      val b1 = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("B", 3L), ("B", 4L), ("B", 10L))
      val b2 = Seq(("A", 4L), ("A", 5L), ("A", 6L), ("B", 5L), ("B", 11L), ("B", 12L))
      val input = MemoryStream[(String, Long)]
      val q = StreamOps.indexSourceSketches(
          input.toDF().toDF("src", "v"), s"$base/state", "v", "src", k)
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val whole = (b1 ++ b2).toDF("src", "v")
      val folded = Profile.sketchFoldState(
        spark.read.parquet(s"$base/state/sketch_parts"), k)
      // state law: folded per-batch sketches == the one-pass corpus sketch
      val fs = folded.orderBy("source").collect().map(_.toSeq).toSeq
      val ws = Profile.sketchState(whole, "v", "src", k)
        .orderBy("source").collect().map(_.toSeq).toSeq
      assert(fs == ws, s"folded=$fs whole=$ws")
      // estimate law: the monitor's read face == the batch operator
      val streamed = Profile.sketchOverlapFromState(folded, k)
        .collect().map(_.toSeq).toSeq
      val batch = Profile.sketchOverlap(whole, "v", "src", k)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch && batch.nonEmpty, s"streamed=$streamed batch=$batch")
    }
  }

  test("monitorDrift: per-batch occupancy partials fold to the whole-snapshot PSI") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    withTempDir("graft_stream_drift") { base =>
      val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      val centDf = cents.toDF("centroid_id", "cent_emb")
      val ref = Seq(
        (1L, Seq(0.9, 0.1)), (2L, Seq(0.8, 0.2)),
        (3L, Seq(0.1, 0.9)), (4L, Seq(0.2, 0.8))).toDF("vec_id", "embedding")
      // cur shifts to 3/1 vs the reference's 2/2 — real drift, nonzero PSI
      val b1 = Seq((10L, Seq(1.0, 0.05)), (11L, Seq(0.7, 0.1)))
      val b2 = Seq((12L, Seq(0.9, 0.3)), (13L, Seq(0.05, 1.0)))
      val input = MemoryStream[(Long, Seq[Double])]
      val q = StreamOps.monitorDrift(
          input.toDF().toDF("vec_id", "embedding"), s"$base/state", cents)
        .option("checkpointLocation", s"$base/ck")
        .start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val partsDf = spark.read.parquet(s"$base/state/cell_counts")
      // the state is occupancy partials: ≤ k rows per batch, never vectors
      assert(partsDf.columns.toSet == Set("centroid_id", "n"))
      assert(partsDf.count() <= 4, s"state rows=${partsDf.count()}")
      val refCounts = Similarity.semDedupAssign(ref, centDf)
        .groupBy("centroid_id").agg(count(lit(1)).as("n"))
      val streamed = Similarity.embeddingDriftFromCounts(
          refCounts, Similarity.driftFoldCounts(partsDf), centDf)
        .orderBy("centroid_id").collect().map(_.toSeq).toSeq
      val whole = Similarity.embeddingDrift(
          ref, (b1 ++ b2).toDF("vec_id", "embedding"), centDf)
        .orderBy("centroid_id").collect().map(_.toSeq).toSeq
      assert(streamed == whole, s"streamed=$streamed whole=$whole")
      assert(streamed.nonEmpty && streamed.head.last.asInstanceOf[Double] > 0.0,
        s"the shifted snapshot must register nonzero PSI: $streamed")
    }
  }
}
