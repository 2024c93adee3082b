package graft.streaming

import graft.operators.TextOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming counterparts of the batch event operators.
  *
  * The transforms are expressed on DataFrames so the SAME code serves batch
  * (`spark.read`) and streaming (`spark.readStream`) inputs — swap the
  * source, keep the plan. Watermarks bound state; aggregations are
  * partial-aggregated map-side before the state-store shuffle, so a
  * 1000-executor cluster shards state by (window, key) with no hot spots.
  */
object StreamOps {

  /** Start a configured stream with a harness-sized state-store partition
    * count and drain it to completion (AvailableNow / finite sources).
    *
    * Why: each stateful operator keeps one state store PER SHUFFLE
    * PARTITION, fixed at the query's first batch, and every micro-batch
    * commits a delta file per store — at the session's 32 partitions a
    * query whose whole state is a few hundred rows pays 32+ file commits
    * and store inits per batch per operator of pure fixed cost. The small
    * local streams the harness drains size that to `parts`. A production
    * job sizes partitions to STATE VOLUME instead — this helper tunes the
    * drain shape, not the operator semantics (aggregation results are
    * partition-count-independent). */
  def startDrained(
      spark: org.apache.spark.sql.SparkSession,
      parts: Int = 4)(w: org.apache.spark.sql.streaming.DataStreamWriter[Row]): Unit =
    // The partition count is session conf, read once at the query's first
    // batch — there is no per-query override, so the set/run/restore is a
    // critical section: without the lock two concurrent drains race the
    // save/restore (one could permanently pin the session at `parts`), and
    // any BATCH query planned mid-drain would silently inherit the reduced
    // parallelism. The lock serializes drains; batch work concurrent with
    // a drain still sees `parts` (unavoidable at session scope — the
    // harness runs queries serially, so this costs nothing there).
    drainLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val old = spark.conf.get(key)
      spark.conf.set(key, parts)
      try w.start().awaitTermination()
      finally spark.conf.set(key, old)
    }

  private val drainLock = new Object

  /** Narrow a batch-sized frame to ~1/4 of its compute parallelism before
    * an append, so each micro-batch lands a few well-sized files instead
    * of one file per compute partition (guide §6: readers of the
    * accumulated store pay ~one task per file; a 32-way batch used to
    * append 32 dust files per state per batch). The COMPUTE above the
    * coalesce keeps its full parallelism — only the final write narrows.
    * Vocab-/scalar-sized state partials coalesce all the way to 1 file
    * (the "ONE partial per batch" contract the operators document). */
  private def packAppend(df: DataFrame): DataFrame =
    df.coalesce(math.max(1, df.rdd.getNumPartitions / 4))

  /** Normalize an event-time column to TimestampType, the only type
    * `withWatermark` accepts. Three layouts exist in the wild:
    *  - TIMESTAMP(NANOS) parquet read under nanosAsLong → LongType nanos;
    *    integer-divide to micros (truncation matches nanos-aware engines);
    *  - TIMESTAMP_NTZ (timestamp[us] without tz) → cast to TIMESTAMP
    *    (sessions pin UTC, so the wall-clock instant is unchanged);
    *  - TimestampType → already event-time-ready.
    * Pure projection — stays inside the scan's codegen stage. */
  def eventTime(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema.fields.find(_.name == tsCol).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn(tsCol, expr(s"timestamp_micros($tsCol div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn(tsCol, col(tsCol).cast("timestamp"))
      case _ => df
    }

  /** Tumbling-window counts per event_type with bounded state. */
  def windowedCounts(
      events: DataFrame,
      width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Gap-based session windows per user (the streaming face of
    * Events.sessionize): Spark's native session_window merges events closer
    * than `gap` into one growing window per key; the watermark closes and
    * emits sessions once no earlier event can arrive. State is sharded by
    * (key, session), merged incrementally — no per-key sort, no custom
    * state code. */
  def sessionCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("session_events"))
      .select(
        col("user_id"),
        col("s.start").as("session_start"),
        col("s.end").as("session_end"),
        col("session_events"))

  /** Continuous ingestion INTO the bucketed warehouse: drain a stream
    * through foreachBatch into the delta-write store, so each micro-batch
    * runs the SAME upsert the batch verbs use — bucket-pruned merges for
    * ids already stored, O(batch) delta-file appends for pure inserts,
    * crash-atomic publishes with roll-forward repair. A stream trickling
    * into a 100 TB table therefore rewrites only the buckets each batch
    * touches, and a reader mid-stream always sees a consistent table
    * (the raw-glob read contract is unchanged). Returns the configured
    * writer; callers pick the trigger (AvailableNow for backfills,
    * ProcessingTime for live tails) and start it. */
  def sinkToStore(
      stream: DataFrame,
      dir: String,
      table: String,
      numBuckets: Int = graft.ingest.UpsertWriter.DefaultBuckets,
      /** > 0: every that many micro-batches, run a full-table compaction
        * pass ([[graft.ingest.UpsertWriter.compactAll]]) so a long-running
        * trickle stream converges to single-file buckets. The per-upsert
        * threshold alone only compacts buckets the triggering batch
        * touches, so an endless stream otherwise idles at up to
        * DeltaFilesMax deltas per bucket. 0 keeps threshold-only
        * behavior. */
      compactEveryBatches: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      graft.ingest.UpsertWriter.upsert(
        batch.sparkSession, dir, table, batch.toDF(), numBuckets)
      if (compactEveryBatches > 0 && (batchId + 1) % compactEveryBatches == 0) {
        graft.ingest.UpsertWriter.compactAll(batch.sparkSession, dir, table)
        ()
      }
    }

  /** Continuous lexical-index maintenance — the streaming face of the
    * persisted BM25 index ([[graft.operators.TextOps.bm25Index]] family),
    * closing the crawl loop for lexical retrieval the way
    * [[dedupSemantic]] closes it for embeddings: documents stream in and
    * each micro-batch appends
    *  - its postings (doc, term, tf, dl) under `dir/postings` —
    *    append-only is exact because doc ids are disjoint across batches,
    *  - ONE vocab-sized partial (term, df) state under `dir/df_parts`,
    *  - ONE (n_docs, sum_dl) row under `dir/corpus_parts`.
    * Both partial states fold by pure integer addition, so the read face
    * ([[graft.operators.TextOps.bm25FoldDf]] / `bm25FoldCorpus`) equals
    * the whole-corpus pass EXACTLY however the stream was batched —
    * searches ([[graft.operators.TextOps.bm25SearchIndexed]]) touch
    * postings only and the corpus text is never rescanned. Per batch:
    * tokenization runs ONCE — bm25Index binds the token array to one
    * attribute, and BOTH side states derive from the pinned postings (df
    * via bm25Df, corpus stats via bm25CorpusFromPostings + a row count —
    * no re-tokenize); appended state is O(batch); a compactor can later fold
    * `df_parts` down to one file without changing any answer (the fold is
    * associative). Crash note: the three appends are not atomic as a
    * group — a re-run of an incomplete batch can double-append, so
    * exactly-once deployments route the appends through the bucketed
    * store ([[sinkToStore]]) or key parquet files by (batchId, table) the
    * way foreachBatch idempotence is normally done; the harness drains
    * are single-run. */
  /** STREAMING TRAINED-QUALITY GATE — the CCNet-shape crawl filter: each
    * micro-batch is scored against the PUBLISHED logistic-regression
    * weights ([[graft.operators.TextOps.lrScore]] — integer micro-unit
    * margins, one broadcast model join + one doc-keyed sum, the cheapest
    * possible streaming face) and docs with p >= `tau` land under
    * `dir/kept` WITH their qmargin/p columns; below-threshold docs are
    * dropped before they ever reach the store loop. The gate is STATELESS
    * per doc (no streaming state, no cross-batch memory), so the kept set
    * is batching-invariant by construction: the accumulated kept rows
    * equal the whole-corpus batch replay (lrScore + filter) however the
    * stream was cut — the law the q_stream_lr oracle and StreamingSpec
    * pin. Production routes `dir/kept` into the bucketed store
    * ([[sinkToStore]]) or swaps the parquet append for an upsert; the
    * model is metadata (broadcast once per batch), so a 1000-executor
    * crawl pays one map-side scan per batch and nothing corpus-sized.
    * Same at-least-once append caveat (and remedies) as
    * [[indexLexical]]. */
  def gateQuality(
      stream: DataFrame,
      weights: DataFrame,
      tau: Double,
      dir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      /** MUST equal the published model's hash-bucket count: buckets are
        * `hash mod dim`, so a mismatch silently scores every doc at the
        * bias-only margin (no feature ever matches a weight row). */
      dim: Int = 256): org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    validateGateDim(weights, dim)
    stream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      // single-file micro-batches arrive as ONE partition; tokenization is
      // the real work — spread before paying it (the indexLexical rationale)
      val raw = batch.toDF()
      val spread = TextOps.spread(raw, rowsPerTask = 64L)
      val b = spread.persist()
      try {
        val scored = graft.operators.TextOps.lrScore(b, weights, idCol, textCol, dim)
        packAppend(b.join(scored.where(col("p") >= tau), Seq(idCol)))
          .write.mode("append").parquet(s"$dir/kept")
      } finally {
        b.unpersist()
        ()
      }
    }
  }

  /** The gate's weights/dim wiring check (ADVICE r15): a `dim` that does
    * not match the published model's hash-bucket count silently scores
    * every doc at the bias-only margin (p = 0.5, which PASSES the default
    * tau = 0.5 gate) — a miswired 100 TB gate keeps everything instead of
    * failing. One tiny aggregate over the broadcastable weights frame at
    * stream construction, never per batch. */
  private def validateGateDim(weights: DataFrame, dim: Int): Unit = {
    // memoized per (weights plan semantic hash, dim): repeated gate
    // constructions against the same published model (identical local
    // relation / same artifact read) pay the probe once per process — the
    // memo caches a VALIDATION VERDICT on immutable model metadata, never
    // a query result; a republished artifact yields a new plan hash and
    // re-validates
    val key = (weights.queryExecution.analyzed.semanticHash(), dim)
    if (!validatedGates.containsKey(key)) {
      val mx = weights.agg(max(col("feature"))).head()
      require(
        // getAs[Number]: a caller's weights frame may carry an int-typed
        // feature column (ADVICE r16 — getLong would ClassCastException)
        mx.isNullAt(0) || mx.getAs[Number](0).longValue() < dim,
        s"gate dim=$dim does not cover the published weights' feature space " +
          s"(max feature ${mx.get(0)}) — the model was trained with a larger " +
          "hash-bucket count; pass the model's own dim")
      validatedGates.put(key, java.lang.Boolean.TRUE)
      ()
    }
  }
  private val validatedGates =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Boolean]()

  /** [[gateQuality]] composed with the BUCKETED STORE — the verdict-shape
    * production loop in one face: each micro-batch is scored against the
    * published weights, below-`tau` docs are dropped, and the kept docs
    * (with their qmargin/p provenance columns) are UPSERTED into the
    * crash-atomic bucketed table (id-keyed — `idCol` is renamed to the
    * store's `id` key). Because the sink is the merge-upsert rather than
    * a parquet append, a replayed micro-batch re-upserts the same ids
    * with the same values and the table is UNCHANGED — this face is
    * exactly-once under foreachBatch retries, the remedy the append
    * faces document ("route the appends through the bucketed store"),
    * here built in. O(batch) bucket rewrites per micro-batch; readers
    * mid-stream see a consistent table (the store's publish contract). */
  def gateQualityToStore(
      stream: DataFrame,
      weights: DataFrame,
      tau: Double,
      storeDir: String,
      table: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      dim: Int = 256,
      numBuckets: Int = graft.ingest.UpsertWriter.DefaultBuckets)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    validateGateDim(weights, dim)
    stream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val raw = batch.toDF()
      val spread = TextOps.spread(raw, rowsPerTask = 64L)
      val b = spread.persist()
      try {
        val scored = graft.operators.TextOps.lrScore(b, weights, idCol, textCol, dim)
        val kept = b.join(scored.where(col("p") >= tau), Seq(idCol))
          .withColumnRenamed(idCol, "id")
        graft.ingest.UpsertWriter.upsert(b.sparkSession, storeDir, table, kept, numBuckets)
      } finally {
        b.unpersist()
        ()
      }
    }
  }

  def indexLexical(
      stream: DataFrame,
      dir: String,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      // A file-backfill micro-batch (maxFilesPerTrigger=1) arrives as ONE
      // partition, and tokenization is this operator's real work — spread
      // a narrow batch across the executors before paying it (measured:
      // the single-task index build dominated the drain 3x). A batch that
      // already carries parallelism passes through unshuffled.
      val raw = batch.toDF()
      val spread = TextOps.spread(raw, rowsPerTask = 64L)
      // persist (not localCheckpoint): the pins live exactly one batch —
      // a long-running stream must not accumulate session-lifetime blocks
      val b = spread.persist()
      val postings = graft.operators.TextOps.bm25Index(b, idCol, textCol).persist()
      try {
        packAppend(postings).write.mode("append").parquet(s"$dir/postings")
        // vocab-sized / single-row partials: ONE file per batch, per the
        // state contract (readers pay ~a task per file)
        graft.operators.TextOps.bm25Df(postings)
          .coalesce(1).write.mode("append").parquet(s"$dir/df_parts")
        graft.operators.TextOps.bm25CorpusFromPostings(b, postings, idCol)
          .coalesce(1).write.mode("append").parquet(s"$dir/corpus_parts")
      } finally {
        postings.unpersist()
        b.unpersist()
        ()
      }
    }

  /** Continuous UNIFIED-LEXICAL-INDEX maintenance — the streaming face of
    * the positional store ([[graft.operators.TextOps.positionalIndex]]):
    * ONE (doc, term, pos, dl) postings table that keeps phrase
    * ([[graft.operators.TextOps.phraseHitsIndexed]]), proximity
    * ([[graft.operators.TextOps.proximityIndexed]]) AND ranked retrieval
    * ([[graft.operators.TextOps.bm25SearchPositional]]) current under a
    * continuous crawl — closing the gap where [[indexLexical]] kept BM25
    * fresh while a separately-built positional index went stale, and at
    * ~half the postings storage of keeping both. Each micro-batch
    * tokenizes ONCE (the positional frame is pinned and feeds all three
    * appends) and appends
    *  - its positional postings under `dir/postings` — append-only is
    *    exact because doc ids are disjoint across batches,
    *  - ONE vocab-sized partial (term, df) state under `dir/df_parts`
    *    (derived from the pinned postings via
    *    [[graft.operators.TextOps.bm25FromPositional]] — no re-tokenize),
    *  - ONE (n_docs, sum_dl) row under `dir/corpus_parts`.
    * The read faces are [[graft.operators.TextOps.bm25FoldDf]] /
    * `bm25FoldCorpus` exactly as for [[indexLexical]] — the df/corpus
    * states are IDENTICAL frames (the derivation law), so a deployment
    * can switch stores without touching its search code. Keep
    * [[indexLexical]] only when positions are genuinely never needed
    * (its postings are (doc,term)-sized, not (doc,term,pos)-sized).
    * Crash note: three appends, not atomic as a group — the
    * [[indexLexical]] at-least-once caveat and remedies apply. */
  def indexPositional(
      stream: DataFrame,
      dir: String,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      // single-file micro-batches arrive as ONE partition; tokenization is
      // the real work — spread before paying it (the indexLexical rationale)
      val raw = batch.toDF()
      // Fail LOUDLY on a store written by the pre-dl (doc, term, pos)
      // schema: mode(append) onto it would yield mixed-schema parquet that
      // silently drops dl depending on which footer Spark infers from, and
      // bm25FromPositional over such a store is wrong, not erroring.
      // One footer read per micro-batch against a store we are about to
      // append to anyway — rebuild the store (or backfill dl) to migrate.
      val postingsPath = new org.apache.hadoop.fs.Path(s"$dir/postings")
      val hfs = postingsPath.getFileSystem(raw.sparkSession.sessionState.newHadoopConf())
      if (hfs.exists(postingsPath)) {
        val existing = raw.sparkSession.read.parquet(s"$dir/postings").schema
        require(
          existing.fieldNames.contains("dl"),
          s"positional store at $dir/postings predates the dl column " +
            "(pre-unified (doc,term,pos) schema) — appending would mix schemas " +
            "and silently drop dl; rebuild the store with positionalIndex")
      }
      val spread = TextOps.spread(raw, rowsPerTask = 64L)
      val b = spread.persist()
      val positional = graft.operators.TextOps.positionalIndex(b, idCol, textCol).persist()
      try {
        // positionalIndex is NARROW (projection + posexplode): materialize
        // the pin at full compute width first, so the packed append below
        // reads the cache instead of collapsing the tokenize to few tasks
        positional.count()
        packAppend(positional).write.mode("append").parquet(s"$dir/postings")
        val bm25p = graft.operators.TextOps.bm25FromPositional(positional, idCol)
        graft.operators.TextOps.bm25Df(bm25p)
          .coalesce(1).write.mode("append").parquet(s"$dir/df_parts")
        graft.operators.TextOps.bm25CorpusFromPostings(b, bm25p, idCol)
          .coalesce(1).write.mode("append").parquet(s"$dir/corpus_parts")
      } finally {
        positional.unpersist()
        b.unpersist()
        ()
      }
    }

  /** Continuous CHUNK-OWNERSHIP maintenance — the streaming face of the
    * chunk-level storage-dedup state ([[graft.operators.Dedup.chunkOwners]]
    * family), closing the continuous re-crawl loop the way [[indexLexical]]
    * closes it for BM25: documents stream in and each micro-batch
    *  - CDC-chunks ONCE (the pinned frame feeds BOTH consumers — the
    *    multi-consumer-pin discipline, batch-scoped persist),
    *  - probes the persisted ownership store by one hash equi-join and
    *    appends its per-doc novelty rows under `dir/novelty`
    *    ([[graft.operators.Dedup.chunkNoveltyAgainst]] — the store read
    *    prunes to the `__h` column),
    *  - appends its own ownership state under `dir/owner_parts`
    *    ([[graft.operators.Dedup.chunkOwners]]; keys are de-duplicated at
    *    the probe, so the appended parts ARE a valid store without
    *    compaction — a compactor can still fold them via
    *    [[graft.operators.Dedup.chunkMergeOwners]] without changing any
    *    answer).
    * With id-ordered micro-batches the accumulated novelty rows EQUAL the
    * whole-corpus [[graft.operators.Dedup.chunkNovelty]] pass (every
    * hash's first copy lives in the earliest batch carrying it — the
    * law the batch face pins), so a crawler's storage-dedup accounting
    * stays exact at batch cost: the 100 TB chunk store is probed by one
    * equi-join per batch, never re-chunked or re-scanned. Novelty is
    * written BEFORE the batch's owners land, so the probe always sees
    * "previous batches only". Crash note: the two appends are not atomic
    * as a group — same exactly-once caveat (and remedies) as
    * [[indexLexical]]. */
  def indexChunks(
      stream: DataFrame,
      dir: String,
      w: Int = 4,
      divisor: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      // single-file micro-batches arrive as ONE partition; chunking is the
      // real work — spread before paying it (the indexLexical rationale)
      val raw = batch.toDF()
      val spark = raw.sparkSession
      val spread = TextOps.spread(raw, rowsPerTask = 64L)
      val b = spread.persist()
      val chunks = graft.operators.Dedup.chunkHashes(b, w, divisor, idCol, textCol).persist()
      try {
        val ownerPath = s"$dir/owner_parts"
        val store =
          if (new java.io.File(ownerPath).exists()) spark.read.parquet(ownerPath)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(
                "__h", org.apache.spark.sql.types.StringType))))
        // both outputs are post-shuffle (join/aggregate) — the coalesce
        // narrows only the final write to ONE file per batch per state
        graft.operators.Dedup.chunkNoveltyAgainst(chunks, store, idCol)
          .coalesce(1).write.mode("append").parquet(s"$dir/novelty")
        graft.operators.Dedup.chunkOwners(chunks, idCol)
          .coalesce(1).write.mode("append").parquet(ownerPath)
      } finally {
        chunks.unpersist()
        b.unpersist()
        ()
      }
    }

  /** Continuous VOCABULARY maintenance — the streaming face of the
    * mergeable vocabulary state ([[graft.operators.TextOps.vocabState]]
    * family): each micro-batch appends
    *  - ONE vocab-sized partial (term, first, n) state under
    *    `dir/vocab_parts`,
    *  - its per-doc token masses under `dir/doc_tokens` (append-only —
    *    doc ids are disjoint across batches, so the union IS the corpus
    *    table).
    * The partial states fold by min/sum
    * ([[graft.operators.TextOps.vocabFoldState]]), so the Heaps curve
    * recomputed from state ([[graft.operators.TextOps.vocabGrowthFromState]])
    * equals the whole-corpus [[graft.operators.TextOps.vocabGrowth]] pass
    * EXACTLY however the stream was batched — the corpus text is scanned
    * once at its own arrival and never again. The pinned batch pays two
    * tokenize kernels (the state's explode and the mass's count — the
    * SOURCE is read once; fusing them would trade a vocab-sized shuffle
    * column for the cheap recount). Crash note: two appends, same
    * exactly-once caveat as [[indexLexical]]. */
  def indexVocab(
      stream: DataFrame,
      dir: String,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val raw = batch.toDF()
      val spread = TextOps.spread(raw, rowsPerTask = 64L)
      val b = spread.persist()
      try {
        graft.operators.TextOps.vocabState(b, idCol, textCol)
          .coalesce(1).write.mode("append").parquet(s"$dir/vocab_parts")
        // doc_tokens is NARROW over the pinned batch (the vocabState write
        // above materialized the pin at full width): pack, don't dust
        packAppend(graft.operators.TextOps.vocabDocTokens(b, idCol, textCol))
          .write.mode("append").parquet(s"$dir/doc_tokens")
      } finally {
        b.unpersist()
        ()
      }
    }

  /** Continuous MEDIA-FINGERPRINT dedup — the streaming face of
    * [[graft.operators.Multimodal.nearDupImagesIncremental]], closing the
    * continuous-crawl loop for the media modality the way [[indexLexical]]
    * / [[indexChunks]] close it for text: raw image rows stream in, each
    * micro-batch decodes + dHashes ONCE (batch-scoped pin — the hash
    * frame feeds three consumers), screens against the persisted hash
    * index (16-bit pigeonhole block equi-joins, batch×index and
    * batch×peer — never all-pairs, never a re-decode of the index), and
    * appends ALL its rows — kept and dropped, the transitive-blocking
    * contract — under `dir/hashes`. With id-ordered micro-batches the
    * accumulated kept flags EQUAL the one-shot run over the concatenation
    * (the incremental face's own law), so a crawler's image dedup
    * accounting stays exact at batch cost: state is 8 bytes per image
    * ever seen, the image bytes are decoded exactly once at arrival.
    * The append is localCheckpoint-pinned first, cutting the plan's read
    * of the very store files it is about to append beside. Crash note:
    * single append per batch — same at-least-once caveat as
    * [[indexLexical]]. */
  def indexMedia(
      stream: DataFrame,
      dir: String,
      maxDist: Int = 3,
      idCol: String = "media_id",
      binCol: String = "content"): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val raw = batch.toDF()
      val spark = raw.sparkSession
      val spread = TextOps.spread(raw, rowsPerTask = 64L)
      val hashes = graft.operators.Multimodal.imageHashes(spread, idCol, binCol).persist()
      try {
        val storePath = s"$dir/hashes"
        val store =
          if (new java.io.File(storePath).exists()) spark.read.parquet(storePath)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(
                "media_id", org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField(
                "dhash_hi", org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField(
                "dhash_lo", org.apache.spark.sql.types.LongType))))
        graft.operators.Multimodal
          .nearDupImagesIncremental(hashes, store, maxDist, assertOrdered = true)
          .localCheckpoint()
          .coalesce(1) // 8 B/image hash state — one file per batch
          .write.mode("append").parquet(storePath)
      } finally {
        hashes.unpersist()
        ()
      }
    }

  /** Continuous EMBEDDING-DRIFT maintenance — the streaming face of
    * [[graft.operators.Similarity.embeddingDrift]]: embedding rows arrive
    * as micro-batches (this month's crawl), each batch assigns against
    * the FIXED centroid set through the plan-literal kernel (zero
    * shuffle before the count) and appends ONE ≤ k-row
    * (centroid_id, n) occupancy partial under `dir/cell_counts`.
    * Partials fold by per-cell integer addition
    * ([[graft.operators.Similarity.driftFoldCounts]]), so the PSI read
    * face ([[graft.operators.Similarity.embeddingDriftFromCounts]]
    * against any reference snapshot's counts) EQUALS the batch
    * [[graft.operators.Similarity.embeddingDrift]] over the accumulated
    * snapshot exactly, however the stream was cut — the monitor's state
    * is k rows per corpus, and no embedding is ever rescanned. Crash
    * note: single append per batch — a replayed batch double-counts its
    * cells until the checkpoint commits, the same at-least-once caveat
    * as [[indexLexical]] (run the monitor's appends through
    * [[sinkToStore]]-style idempotent keys if the stream can replay). */
  def monitorDrift(
      stream: DataFrame,
      dir: String,
      centroids: Seq[(Long, Seq[Double])],
      idCol: String = "vec_id",
      embCol: String = "embedding"): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val raw = batch.toDF()
      val spread = TextOps.spread(raw, rowsPerTask = 64L)
      graft.operators.Similarity.driftCellCounts(spread, centroids, idCol, embCol)
        .coalesce(1) // ≤ k rows of state — one file per batch
        .write.mode("append").parquet(s"$dir/cell_counts")
      ()
    }

  /** Continuous DATA-CARD maintenance — the streaming face of
    * [[graft.operators.TextOps.corpusReport]]: each micro-batch appends
    * its four card partials ([[graft.operators.TextOps.cardState]] —
    * one scalar row, the batch's distinct fingerprints, (lang, n)
    * counts, distinct sources) plus its [[graft.operators.TextOps
    * .vocabState]] rows, and the card recomputes from state alone
    * ([[graft.operators.TextOps.corpusReportFromState]]) — EXACTLY equal
    * to the whole-corpus card however the stream was cut. The pinned
    * batch pays the tokenize kernel per consumer (scalar mass + vocab),
    * the indexVocab trade-off; the SOURCE is read once. Crash note:
    * five appends per batch, the [[indexLexical]] at-least-once caveat
    * applies to each. */
  def indexDataCard(
      stream: DataFrame,
      dir: String,
      textCol: String = "text",
      langCol: String = "lang",
      sourceCol: String = "source",
      idCol: String = "doc_id"): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val raw = batch.toDF()
      val spread = TextOps.spread(raw, rowsPerTask = 64L)
      val b = spread.persist()
      try {
        val (scal, fps, langs, srcs) =
          graft.operators.TextOps.cardState(b, textCol, langCol, sourceCol)
        scal.coalesce(1).write.mode("append").parquet(s"$dir/scal_parts")
        fps.coalesce(1).write.mode("append").parquet(s"$dir/fp_parts")
        langs.coalesce(1).write.mode("append").parquet(s"$dir/lang_parts")
        srcs.coalesce(1).write.mode("append").parquet(s"$dir/src_parts")
        graft.operators.TextOps.vocabState(b, idCol, textCol)
          .coalesce(1).write.mode("append").parquet(s"$dir/vocab_parts")
      } finally {
        b.unpersist()
        ()
      }
    }

  /** Continuous CROSS-SOURCE OVERLAP maintenance — the streaming face of
    * [[graft.operators.Profile.sketchOverlap]]: rows stream in and each
    * micro-batch appends ONE sources-sized partial of per-source KMV
    * sketches under `dir/sketch_parts`
    * ([[graft.operators.Profile.sketchState]] — ≤ sources × k longs).
    * Partials fold by per-source bottom-k union
    * ([[graft.operators.Profile.sketchFoldState]]), so the overlap
    * estimates recomputed from state
    * ([[graft.operators.Profile.sketchOverlapFromState]]) EQUAL the
    * whole-corpus pass exactly however the stream was cut — the "are
    * these two crawls covering the same material" monitor stays current
    * at batch cost, and the corpus is never re-aggregated. Crash note:
    * single append per batch, same at-least-once caveat as
    * [[indexLexical]]. */
  def indexSourceSketches(
      stream: DataFrame,
      dir: String,
      valueCol: String,
      sourceCol: String,
      k: Int = 256): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val raw = batch.toDF()
      val spread = TextOps.spread(raw, rowsPerTask = 64L)
      graft.operators.Profile.sketchState(spread, valueCol, sourceCol, k)
        .coalesce(1) // sources-sized state — one file per batch
        .write.mode("append").parquet(s"$dir/sketch_parts")
      ()
    }

  /** Per-window BINNED value counts against a static reference's bin
    * edges — the streaming half of distribution-drift monitoring
    * (Profile.distributionDrift): the reference cuts come from the tuned
    * dump (a tiny literal CASE chain, pure map-side), the stream keeps
    * one watermark-bounded count per (window, bin) — ≤ nBins rows of
    * state per window shard, nothing proportional to the data. PSI per
    * window is then plain algebra over the emitted counts frame (the
    * batch operator's scaffold/clamp/ln steps), run downstream of the
    * sink where it belongs — streaming state stays minimal. */
  def windowedBinCounts(
      events: DataFrame,
      cuts: Seq[Double],
      valueCol: String = "value",
      width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    // the shared tie-to-lower chain (validates non-empty ASCENDING cuts —
    // unsorted edges would silently shadow later bins)
    val bin = graft.operators.Profile.binExprLiteral(cuts, col(valueCol).cast("double"))
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("bin"), col("n"))
  }

  /** Per-window Count-Min sketch of `valueCol` — the native sketch
    * aggregate ([[graft.functions.CmsSketch]]) composing with Structured
    * Streaming state: each window's state is the FIXED d×w counter matrix
    * (8 KB at 4×256) regardless of how many distinct values the window
    * sees, and micro-batches fold in via the aggregate's merge through
    * the state store. The streaming answer to "track per-window key
    * frequencies" when the key domain is unbounded — a groupBy(window,
    * key) count grows state with distinct keys; this never does.
    * Downstream, point frequencies come from [[graft.functions.CmsSketch
    * .estimate]] against the emitted sketches (overcount-only, engine-
    * replayable cell arithmetic). */
  def windowedSketch(
      events: DataFrame,
      valueCol: String,
      depth: Int = 4,
      sketchWidth: Int = 256,
      width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"))
      .agg(graft.functions.CmsSketch.cms(col(valueCol), depth, sketchWidth).as("sk"))
      .select(col("w.start").as("window_start"), col("sk"))

  /** Per-window DISTINCT-count estimate via the KMV sketch — the
    * cardinality sibling of [[windowedSketch]]: state per window is the
    * k-bounded hash set however many distinct values arrive (streaming
    * `approx_count_distinct` with an ENGINE-REPLAYABLE estimator — the
    * oracle recomputes it from the k smallest distinct hashes per
    * window). */
  def windowedDistinct(
      events: DataFrame,
      valueCol: String,
      k: Int = 64,
      width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"))
      .agg(round(graft.functions.KmvSketch.kmvDistinct(col(valueCol), k), 6).as("est_distinct"))
      .select(col("w.start").as("window_start"), col("est_distinct"))

  /** Exact streaming deduplication by key columns within the watermark
    * horizon (the streaming face of Dedup.exact). */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates(keyCols :+ "ts")

  /** Streaming face of Dedup.exactIncremental: drop arriving docs whose
    * content fingerprint is already in the persisted corpus (stream-static
    * LEFT ANTI join — Spark re-plans the static side per micro-batch, so a
    * fingerprint set updated between batches is picked up), then in-stream
    * dropDuplicates bounded by the watermark. At scale the static side is
    * the bucketed fingerprint table of previous runs; the join hashes on
    * the fingerprint, never the text. */
  def dedupAgainstCorpus(
      stream: DataFrame,
      seen: DataFrame,
      textCol: String = "text",
      watermark: String = "2 hours"): DataFrame = {
    val fp = stream.withColumn(
      "fingerprint", graft.operators.TextOps.fingerprint(col(textCol)))
    fp.join(seen.select(col("fingerprint")), Seq("fingerprint"), "left_anti")
      .withWatermark("ts", watermark)
      // WithinWatermark, not dropDuplicates(key): a bare key-dedup keeps
      // every fingerprint in the state store forever — this one expires
      // state at the horizon, the only bounded choice on an endless stream
      .dropDuplicatesWithinWatermark(Seq("fingerprint"))
  }

  /** STREAMING SEMANTIC DEDUP — the continuous-crawl face of
    * Similarity.semDedupIncremental: embedding rows stream in, each is
    * assigned to its nearest persisted centroid by the STATELESS literal
    * kernel (Similarity.semDedupAssignLit — zero shuffle, zero aggregate,
    * so the micro-batch plan stays row-at-a-time), and a row is dropped
    * when its cluster holds a within-`threshold` neighbor in the PERSISTED
    * index (stream-static left-anti join, centroid-keyed with the cosine
    * bound as the residual condition — per-micro-batch joins against the
    * static side, no streaming state at all). Survivors come back in the
    * index's own row shape (idCol, centroid_id, v, nrm), so a foreachBatch
    * sink appends them straight to the index table and the loop closes:
    * batch N+1 dedups against everything batch N kept.
    *
    * Like the batch face, dropped rows should also be appended when
    * later near-duplicates of a dropped row must keep dropping (the
    * transitive-blocking contract) — emit the anti-join's complement from
    * the same micro-batch if that is the policy; the default emits
    * survivors because a crawl loop usually indexes only what it kept.
    * Within-batch pairs are NOT compared here (no exact key exists for
    * dropDuplicatesWithinWatermark; micro-batch-internal near-dups land
    * once appended and block from the NEXT batch on). */
  def dedupSemantic(
      stream: DataFrame,
      index: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      threshold: Double = 0.4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val a = graft.operators.Similarity.semDedupAssignLit(stream, centroids, idCol, embCol)
    val idx = index.select(
      col("centroid_id").as("__ocid"), col("v").as("__vb"), col("nrm").as("__nb"))
    a.join(
      idx,
      col("centroid_id") === col("__ocid") &&
        round(
          graft.functions.DotF(col("v"), col("__vb")) / (col("nrm") * col("__nb")),
          6) >= threshold,
      "left_anti")
  }

  /** [[dedupSemantic]] against the SQ8-COMPRESSED persisted index
    * ([[graft.operators.Similarity.semDedupIncrementalSq8]]'s
    * (centroid_id, q, qn) contract) — the streaming crawl loop without
    * the full-precision index's unbounded double-vector payload: the
    * static side streams 2-byte codes + one norm per vector, the
    * dequantized reconstruction lo + q·(hi−lo)/255 rebuilds MAP-SIDE
    * inside the join (never stored), and the drop rule is the same
    * deterministic dequantized-cosine threshold the batch face applies.
    * Assignment stays the stateless literal kernel (zero shuffle, zero
    * state; per-micro-batch stream-static anti-join like the
    * full-precision face). Survivors return in the index's own row shape
    * (idCol, centroid_id, q, qn) so a foreachBatch append closes the
    * loop; same kept-AND-dropped append guidance and same within-batch
    * caveat as [[dedupSemantic]]. The grid (lo, hi) is the index's own,
    * fixed at creation. */
  def dedupSemanticSq8(
      stream: DataFrame,
      index: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      lo: Double,
      hi: Double,
      threshold: Double = 0.4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val S = graft.operators.Similarity
    val a = S.semDedupAssignLit(stream, centroids, idCol, embCol)
      .withColumn("q", S.sq8Codes(col("v"), lo, hi))
      .withColumn("xq", S.sq8Reconstruct(col("q"), lo, hi))
      .withColumn("qn", graft.functions.NormF(col("xq")))
    val idx = index.select(
      col("centroid_id").as("__ocid"),
      S.sq8Reconstruct(col("q").cast("array<double>"), lo, hi).as("__xb"),
      col("qn").as("__nb"))
    a.join(
        idx,
        col("centroid_id") === col("__ocid") &&
          round(
            graft.functions.DotF(col("xq"), col("__xb")) / (col("qn") * col("__nb")),
            6) >= threshold,
        "left_anti")
      .select(
        col(idCol),
        col("centroid_id"),
        col("q").cast("array<smallint>").as("q"),
        col("qn"))
  }

  /** Stream-stream interval join: pair each left event with every right
    * event for the same key arriving within [left.ts, left.ts + within] —
    * the "click joined to the impressions of the preceding window" shape,
    * here "alert joined to the observations that followed it". Both sides
    * carry a watermark AND the join condition bounds the two event times
    * relative to each other, which is exactly what Spark needs to compute
    * a state-eviction horizon per side: state is (watermark + within)-
    * bounded on both sides, sharded by the equi-key, so a 1000-executor
    * run holds a bounded window of each stream per key shard — no unbounded
    * buffering. Output columns: key, l_ts, l_type, r_ts, r_type. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String = "user_id",
      typeCol: String = "event_type",
      within: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(
      r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $within"))
      .select(
        col(s"l.$keyCol").as(keyCol),
        col("l.ts").as("l_ts"),
        col(s"l.$typeCol").as("l_type"),
        col("r.ts").as("r_ts"),
        col(s"r.$typeCol").as("r_type"))
  }

  /** LEFT OUTER face of [[intervalJoin]]: unmatched left events emit with
    * a null right side once the watermark PROVES no match can arrive
    * (the join state for that window has expired) — the "which events
    * never got their expected follow-up" stream. Null emission is
    * therefore watermark-gated: a left row whose join window the
    * watermark has not yet passed sits in state, matched-or-not, and on
    * a drained finite stream rows in the trailing `within` + delay
    * window may never produce their null row — standard stream-stream
    * outer-join semantics (a bounded completeness horizon), not data
    * loss. Law-tested in StreamingSpec: matched rows equal the inner
    * join, a provably-unmatched row emits null, and a trailing-window
    * row emits nothing. */
  def intervalJoinLeft(
      left: DataFrame,
      right: DataFrame,
      keyCol: String = "user_id",
      typeCol: String = "event_type",
      within: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(
      r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $within"),
      "leftOuter")
      .select(
        col(s"l.$keyCol").as(keyCol),
        col("l.ts").as("l_ts"),
        col(s"l.$typeCol").as("l_type"),
        col("r.ts").as("r_ts"),
        col(s"r.$typeCol").as("r_type"))
  }

  /** STREAMING funnel: per-user ordered step progression as custom state
    * (the flatMapGroupsWithState face of Events.funnel). State per user is
    * (current step, frontier micros, last-seen ms) — three numbers however
    * many events the user ever sends — and, unlike a NoTimeout state
    * machine, the state store is BOUNDED on an endless stream:
    *
    *  - **Late-event policy**: an event whose time is below the current
    *    watermark is DROPPED (both by Spark's stateful-operator late-row
    *    filter and an explicit in-function guard), so the emitted counts
    *    equal the batch funnel restricted to the watermark-visible prefix
    *    of the stream. A NoTimeout/no-watermark machine would instead
    *    apply stragglers in arrival order — a silently different answer
    *    than the batch operator on the same data.
    *  - **State expiry (EventTimeTimeout)**: a user mid-funnel can only
    *    advance via an event within `maxGap` of the current frontier;
    *    once the watermark passes frontier+gap any such event would be
    *    late (= dropped), so evicting at that instant is semantically
    *    lossless. Completed users expire as soon as the watermark moves.
    *    Step-0 users (nothing but a two-number default yet) expire after
    *    `idleTimeoutMicros` of event-time silence — a user returning
    *    later restarts at step 0, which is exactly what a fresh state
    *    computes. Net: state ∝ users active inside the horizon, not all
    *    users ever seen.
    *
    * Each batch's events for a user are sorted by event time inside the
    * group (bounded per user per batch) and walked through the same
    * min-after-frontier rule the batch operator uses: the FIRST step-i
    * event after the step-(i−1) frontier and within `maxGap` advances the
    * state — in time order that IS the batch semantics' min(). Emits
    * (user, steps_completed) per batch with data.
    *
    * Memory assumption: the per-user buffer-and-sort holds ONE user's
    * events from ONE micro-batch — bounded by the trigger interval ×
    * that user's event rate, not by history. A pathological burst batch
    * concentrated on a single user lands on one task (the groupByKey
    * shuffle routes by user); if one user's per-trigger volume can
    * exceed task memory, shorten the trigger interval (or rate-limit the
    * source) — the protocol itself never needs more than a batch. */
  def funnelProgress(
      events: Dataset[Row],
      steps: Seq[String],
      maxGapMicros: Long = 6L * 3600L * 1000000L,
      watermark: String = "2 hours",
      idleTimeoutMicros: Long = 24L * 3600L * 1000000L): Dataset[(Long, Int)] = {
    require(steps.nonEmpty, "need at least one funnel step")
    val gapMicros = maxGapMicros
    val idleMs = idleTimeoutMicros / 1000L
    import events.sparkSession.implicits._
    val stepArr = steps.toArray
    events
      .select(col("user_id"), col("event_type"), col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
         state: GroupState[(Int, Long, Long)]) =>
          if (state.hasTimedOut) {
            // Past this instant no on-time event can change the answer
            // (see expiry rule above) — drop the state, emit nothing.
            state.remove()
            Iterator.empty
          } else {
            var (step, frontier, lastMs) =
              state.getOption.getOrElse((0, Long.MinValue, 0L))
            val wmMs = state.getCurrentWatermarkMs()
            rows
              .map { case (_, tpe, t) =>
                (tpe, t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
              }
              .filter { case (_, us) => us >= wmMs * 1000L } // drop-late guard
              .toSeq.sortBy { case (tpe, us) => (us, tpe) }
              .foreach { case (tpe, us) =>
                if (us / 1000L > lastMs) lastMs = us / 1000L
                if (step < stepArr.length && tpe == stepArr(step) &&
                  (step == 0 || (us > frontier && us <= frontier + gapMicros))) {
                  frontier = us
                  step += 1
                }
              }
            state.update((step, frontier, lastMs))
            val expiryMs =
              if (step == 0) lastMs + idleMs // idle horizon for not-started users
              else if (step == stepArr.length) wmMs // complete: evict on next advance
              else (frontier + gapMicros) / 1000L // no on-time advance possible after
            state.setTimeoutTimestamp(math.max(wmMs + 1L, expiryMs))
            Iterator.single((user, step))
          }
      }
  }

  /** Per-user running event counter — the custom-state escape hatch
    * (reference has no streaming; SURVEY §2.7), state-bounded like
    * [[funnelProgress]]: one (count, last-seen ms) pair per user, evicted
    * by EventTimeTimeout after `idleTimeoutMicros` of event-time silence.
    * A user returning after eviction restarts from zero, so the operator's
    * contract on an endless stream is "running count within the idle
    * horizon" — the only bounded reading of a per-key counter when the key
    * domain grows without limit. Emits one updated (user_id, count) row
    * per user per micro-batch with data. */
  def runningCounts(
      events: Dataset[Row],
      watermark: String = "2 hours",
      idleTimeoutMicros: Long = 24L * 3600L * 1000000L): Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    val idleMs = idleTimeoutMicros / 1000L
    events
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (n, lastMs) = state.getOption.getOrElse((0L, 0L))
            rows.foreach { case (_, t) =>
              n += 1L
              if (t.getTime > lastMs) lastMs = t.getTime
            }
            state.update((n, lastMs))
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1L, lastMs + idleMs))
            Iterator.single((user, n))
          }
      }
  }
}
