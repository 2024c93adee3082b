package graft

import graft.query._
import graft.catalog.Catalog
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Plan audits: pin the physical properties the engine's scale story relies
  * on (filters reach the parquet scan, projections prune the read schema,
  * dimension joins broadcast, pattern ref-paths become join rewrites — not
  * driver collects). These are the Catalyst behaviors the reference
  * delegates to its host DB planner (SURVEY §4). */
class PlanAuditSpec extends SparkSpec {

  private def cat = new Catalog(spark, sfDir)

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown: Stage filters reach the parquet scan") {
    val df = GQuery
      .table(
        "orders",
        Filter(Seq(Comparison("o_totalprice", ">", RLit(100000.0)))),
        Projection(Seq(Col("o_orderkey"), Col("o_totalprice"))))
      .df(cat.resolve)
    val plan = physical(df)
    assert(plan.contains("PushedFilters: ["), "expected pushed filters in scan")
    assert(
      plan.contains("GreaterThan(o_totalprice,100000.0)"),
      s"filter not pushed to scan:\n$plan")
  }

  test("column pruning: projection narrows ReadSchema to selected columns") {
    val df = GQuery
      .table("lineitem", Projection(Seq(Col("l_orderkey"), Col("l_quantity"))))
      .df(cat.resolve)
    val plan = physical(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment"), s"scan reads unneeded columns: $readSchema")
  }

  test("dimension joins broadcast (no shuffle on the small side)") {
    val df = GQuery
      .table(
        "customer",
        Join("nation", "c_nationkey", "=", "n_nationkey"),
        Projection(Seq(Col("c_custkey"), Col("n_name"))))
      .df(cat.resolve)
    assert(physical(df).contains("BroadcastHashJoin"), "dim join should broadcast")
  }

  test("IN-subquery compiles to a join rewrite, not a driver collect") {
    val sub = GQuery.table(
      "orders",
      Filter(Seq(Comparison("o_orderpriority", "=", RLit("1-URGENT")))),
      Projection(Seq(Col("o_orderkey"))))
    val df = GQuery
      .table(
        "lineitem",
        Filter(Seq(Comparison("l_orderkey", "IN", RQuery(sub, "o_orderkey")))),
        Projection(Seq(Col("l_orderkey"))))
      .df(cat.resolve)
    val plan = physical(df)
    // the optimizer rewrites InSubquery to a semi/existence join
    assert(
      plan.contains("LeftSemi") || plan.contains("ExistenceJoin"),
      s"IN-subquery did not become a join:\n$plan")
  }

  test("IVF corpus assignment is a partial-aggregable min_by, not a window") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.operators.Similarity.ivfTopK(emb, emb.where(col("vec_id") < 2), k = 2)
    val plan = physical(df)
    // map-side combine: the argmax runs as partial_min_by before the
    // exchange, so the shuffle carries corpus rows, not corpus x nlist
    assert(plan.contains("partial_min_by"), s"assignment lost map-side combine:\n$plan")
    // exactly two windows remain: probe-side top-nprobe and the final
    // per-query top-k rank — none over the corpus x centroid cross product
    val windows = "(?m)^\\s*[+:]?[- ]*Window ".r.findAllIn(plan).length
    assert(windows == 2, s"expected 2 windows (probe + topk), found $windows")
  }

  test("shard packing plans no window at all (two-pass offsets, no global sort task)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        graft.operators.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    val df = graft.operators.Sampling.packShards(docs, "doc_id", "n_tokens", 4096L)
    // the running sum is per-partition map work seeded by broadcast offsets —
    // a single-partition Window (Spark's "No Partition Defined" warning path)
    // must never appear; in fact no Window node should exist anywhere
    val windows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"packShards planned a Window:\n${physical(df)}")
    // and the packed data stays spread over many partitions
    assert(df.rdd.getNumPartitions > 1, "packed output collapsed to one partition")
  }

  test("stratified/temperature sampling plans zero shuffles (pure map-side filter)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.operators.Sampling
      .stratifiedSample(docs, "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25))
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, s"sampling filter should not shuffle:\n${physical(df)}")
    // temperatureSample = one tiny counts agg (collected) + the same filter
    val ts = graft.operators.Sampling
      .temperatureSample(docs, "doc_id", "lang", tau = 0.5, targetTotal = 100L)
    val tsEx = ts.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(tsEx.isEmpty, s"temperature filter should not shuffle:\n${physical(ts)}")
  }

  test("quotaSample window runs over pre-filtered survivors, not the corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.operators.Sampling.quotaSample(docs, "doc_id", "lang", 25, seed = "q1")
    val plan = physical(df)
    // the exact row_number window must sit above the broadcast-join
    // threshold pre-filter, so the skewed stratum shuffle carries
    // ~quota rows per stratum instead of every row of the corpus
    val winIdx = plan.indexOf("Window")
    val bjIdx = plan.indexOf("BroadcastHashJoin")
    assert(winIdx >= 0 && bjIdx >= 0, s"expected window over broadcast pre-filter:\n$plan")
    assert(winIdx < bjIdx, s"window must consume the pre-filter output:\n$plan")
  }

  test("map-side text ops plan zero shuffles (filter pipeline, split, z-order)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    val fr = graft.operators.TextOps.filterReport(
      docs, graft.operators.TextOps.gopherRules(col("text")))
    assert(exchanges(fr).isEmpty, s"filterReport must stay map-side:\n${physical(fr)}")
    val sp = graft.operators.Sampling.hashSplit(
      docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.5))
    assert(exchanges(sp).isEmpty, s"hashSplit must stay map-side:\n${physical(sp)}")
    val zv = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(graft.operators.Layout.zOrderValue(col("l_partkey"), col("l_suppkey")))
    assert(exchanges(zv).isEmpty, s"zOrderValue must stay map-side:\n${physical(zv)}")
  }

  test("bm25 global top-k is a TakeOrdered, and the term filter precedes the shuffle") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.operators.TextOps.bm25TopK(docs, Seq("join", "vector"), topK = 10)
    val plan = physical(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must be a distributed TakeOrdered, not a single-task window:\n$plan")
    // the query-term filter must run below the first exchange: postings of
    // non-query terms never shuffle (the plan's generate+filter sits in the
    // scan stage)
    val firstEx = plan.indexOf("Exchange hashpartitioning")
    val filterIdx = plan.lastIndexOf("Filter")
    assert(firstEx >= 0 && filterIdx > firstEx,
      s"term filter should sit under (after, in print order) the first exchange:\n$plan")
  }

  test("bm25SearchIndexed never re-tokenizes: term filter on postings, df/stats broadcast, TakeOrdered") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val T = graft.operators.TextOps
    val postings = T.bm25Index(docs).localCheckpoint() // the persisted table
    val dfTab = T.bm25Df(postings).localCheckpoint()
    val corpus = T.bm25Corpus(docs).localCheckpoint()
    val plan = physical(T.bm25SearchIndexed(postings, dfTab, corpus, Seq("join", "vector")))
    // the search plan reads the three stored frames only — no Generate
    // (tokenize+explode) may appear; df and stats come back as broadcasts
    assert(!plan.contains("Generate"), s"search must not re-tokenize:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must be a distributed TakeOrdered:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"df/stats must broadcast:\n$plan")
  }

  test("bm25SearchPositional: term filter pushes below the tf aggregate to the postings scan") {
    val T = graft.operators.TextOps
    withTempDir("graft_pos_audit") { tmp =>
      T.positionalIndex(spark.read.parquet(s"$sfDir/documents.parquet"))
        .write.parquet(s"$tmp/postings")
      val store = spark.read.parquet(s"$tmp/postings")
      val bp = T.bm25FromPositional(store)
      val plan = physical(T.bm25SearchPositional(
        store, T.bm25Df(bp), T.bm25CorpusFromPostings(
          spark.read.parquet(s"$sfDir/documents.parquet"), bp),
        Seq("join", "vector")))
      // the unified-store search must stay query-term-sized: Catalyst pushes
      // the grouping-key isin through the derived tf aggregate to the scan
      assert(plan.contains("PushedFilters: [In(term"),
        s"term filter must reach the postings scan:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"),
        s"global top-k must be a distributed TakeOrdered:\n$plan")
    }
  }

  test("phraseHitsIndexed never re-tokenizes: term filters on postings, (doc, start) equi-joins") {
    val T = graft.operators.TextOps
    val postings = T.positionalIndex(
      spark.read.parquet(s"$sfDir/documents.parquet")).localCheckpoint()
    val plan = physical(T.phraseHitsIndexed(postings, "slow hash batch"))
    assert(!plan.contains("Generate"), s"search must not re-tokenize:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"position alignment must be equi-joins:\n$plan")
    assert(plan.contains("start"), s"expected the aligned-start equi key:\n$plan")
  }

  test("proximityIndexed never re-tokenizes: bucketed (doc, __bk) equi-join, no cartesian") {
    val T = graft.operators.TextOps
    val postings = T.positionalIndex(
      spark.read.parquet(s"$sfDir/documents.parquet")).localCheckpoint()
    val plan = physical(T.proximityIndexed(postings, "join", "stream", maxDist = 5))
    // one Generate is the deliberate 3-element neighbor-bucket explode,
    // never a tokenize of text (postings carry no text column at all)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair join degenerated:\n$plan")
    assert(plan.contains("__bk"), s"expected the distance-bucket equi key:\n$plan")
  }

  test("bm25Index tokenizes ONCE: the generate/project path reads one bound token attribute") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = physical(graft.operators.TextOps.bm25Index(docs))
    // dl and the explode both read the ONE bound token-array attribute: the
    // generator's argument must be an attribute (explode(__toks#N)), never
    // the inlined regexp chain, and the tokenize kernel must appear exactly
    // once across the Project/Generate compute path. (Spark's
    // InferFiltersFromGenerate additionally plants a size()>0 pre-filter
    // that echoes the expression in Filter/FileScan lines — an empty-doc
    // skip, not a second tokenize of surviving rows; excluded here.)
    assert("Generate explode\\(__toks#\\d+\\)".r.findFirstIn(plan).isDefined,
      s"generator must read the bound attribute, not re-tokenize:\n$plan")
    val computeHits = plan.linesIterator
      .filterNot(l => l.contains("Filter") || l.contains("FileScan"))
      .map(l => "regexp_replace".r.findAllIn(l.toLowerCase).size).sum
    assert(computeHits == 1,
      s"expected exactly one tokenize kernel on the compute path, found $computeHits:\n$plan")
  }

  test("anomaly/transition stats join back by BROADCAST, never sort-merge") {
    val events = new Catalog(spark, sfDir).resolve("events")
    val an = graft.operators.Events.dailyAnomalies(events)
    assert(physical(an).contains("BroadcastHashJoin"))
    assert(!physical(an).contains("SortMergeJoin"),
      s"tiny stats frame must broadcast:\n${physical(an)}")
    val tr = graft.operators.Events.typeTransitions(events)
    assert(!physical(tr).contains("SortMergeJoin"),
      s"per-prev totals must broadcast:\n${physical(tr)}")
  }

  test("lrScore: model joins by BROADCAST, margins partial-aggregate, no cartesian, no UDF") {
    val docs = new Catalog(spark, sfDir).resolve("documents")
    val model = graft.operators.TextOps.LrModel(
      Map(-1L -> 1000L, 3L -> -2000L, 17L -> 500L), dim = 256)
    val plan = physical(
      graft.operators.TextOps.lrScore(docs, model, "doc_id", "text"))
    // the model is metadata-sized: it must broadcast into the tf join,
    // never shuffle the corpus against it
    assert(plan.contains("BroadcastHashJoin"), s"model join must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian in scoring:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"scoring is declarative, no UDF:\n$plan")
    // the margin is a hash aggregate (map-side combinable), not a window
    assert(!plan.contains("Window"), s"margin sum must not be a window:\n$plan")
  }

  test("k-means iteration carries no ScalaUDF (native double-array kernels)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity.kmeansCentroids(emb, k = 2, iters = 1)
    val plan = physical(cents)
    // dot/norm run as codegen'd DotF/NormF on array<double> — a boxed
    // Seq[Double] UDF would re-materialize every vector per row per iteration
    assert(!plan.contains("ScalaUDF"), s"k-means plan still boxes through a UDF:\n$plan")
    assert(plan.toLowerCase.contains("dot_f") || plan.contains("DotF"),
      s"expected native dot kernel in plan:\n$plan")
  }

  test("topKPerGroup never funnels a group through one task's sort") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.operators.Sampling
      .topKPerGroup(docs, "source", "n_chars", k = 3, idCol = "doc_id", salts = 8)
    val plan = physical(df)
    // both tournament levels are hash-partitioned windows; a global sort
    // or single-partition exchange would mean the salt did nothing
    assert(!plan.contains("Exchange SinglePartition"),
      s"top-k per group must not single-task:\n$plan")
    assert("(?s)Window".r.findAllIn(plan).size >= 2 &&
      plan.contains("__salt"), s"expected salted local level + exact final level:\n$plan")
  }

  test("triangleCounts plans only equi hash joins, no cartesian products") {
    val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
    val df = graft.operators.Graph.triangleCounts(e)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), s"wedge join degenerated:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"wedge join degenerated:\n$plan")
  }

  test("nearDupImages candidates come from an equi block join, never all-pairs") {
    MediaCorpus.ensure(spark)
    val hashes = graft.operators.Multimodal
      .imageHashes(spark.read.parquet(MediaCorpus.table), binCol = "png")
      .localCheckpoint(true) // audit the pair join, not the decode pass
    val plan = physical(graft.operators.Multimodal.nearDupImages(hashes))
    assert(!plan.contains("CartesianProduct"), s"pair join degenerated:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"pair join degenerated:\n$plan")
    assert(plan.contains("block_idx") && plan.contains("block_val"),
      s"expected the pigeonhole equi keys in the join:\n$plan")
  }

  test("nearDupAudio candidates come from an equi block join, never all-pairs") {
    AudioCorpus.ensure(spark)
    val stats = graft.operators.Multimodal
      .audioStats(spark.read.parquet(AudioCorpus.table), binCol = "wav")
      .localCheckpoint(true) // audit the pair join, not the decode pass
    val plan = physical(graft.operators.Multimodal.nearDupAudio(stats))
    assert(!plan.contains("CartesianProduct"), s"pair join degenerated:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"pair join degenerated:\n$plan")
    assert(plan.contains("block_idx") && plan.contains("block_val"),
      s"expected the pigeonhole equi keys in the join:\n$plan")
  }

  test("nearDupVideo candidates come from an equi block join, never all-pairs") {
    VideoCorpus.ensure(spark)
    val stats = graft.operators.Multimodal
      .videoStats(spark.read.parquet(VideoCorpus.table), binCol = "gif")
      .localCheckpoint(true) // audit the pair join, not the decode pass
    val plan = physical(graft.operators.Multimodal.nearDupVideo(stats))
    assert(!plan.contains("CartesianProduct"), s"pair join degenerated:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"pair join degenerated:\n$plan")
    assert(plan.contains("block_idx") && plan.contains("block_val"),
      s"expected the pigeonhole equi keys in the join:\n$plan")
  }

  test("nearDupImagesIncremental probes are equi block joins, never all-pairs") {
    MediaCorpus.ensure(spark)
    val hashes = graft.operators.Multimodal
      .imageHashes(spark.read.parquet(MediaCorpus.table), binCol = "png")
      .localCheckpoint(true) // audit the probe joins, not the decode pass
    val plan = physical(graft.operators.Multimodal.nearDupImagesIncremental(
      hashes.where(col("media_id") >= 40),
      hashes.where(col("media_id") < 40).select("media_id", "dhash_hi", "dhash_lo")))
    assert(!plan.contains("CartesianProduct"), s"probe join degenerated:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"probe join degenerated:\n$plan")
    assert(plan.contains("block_idx") && plan.contains("block_val"),
      s"expected the pigeonhole equi keys in both probes:\n$plan")
  }

  test("containmentIncremental is fingerprint equi-joins, never all-pairs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val index = graft.operators.Dedup.winnowFingerprints(docs)
    val batch = docs.limit(50)
    val plan = physical(
      graft.operators.Dedup.containmentIncremental(batch, index))
    assert(!plan.contains("CartesianProduct"), s"pair join degenerated:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"pair join degenerated:\n$plan")
    assert(plan.contains("fingerprint"),
      s"expected the fingerprint equi key in the join:\n$plan")
  }

  test("ivfSearchIndexed joins the index on centroid_id, no corpus re-assignment") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = emb.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))
    val index = graft.operators.Similarity.ivfAssign(emb, cents).localCheckpoint(true)
    val plan = physical(graft.operators.Similarity
      .ivfSearchIndexed(index, cents, emb.where(col("vec_id") < 5)))
    // the index side must meet the probes on a centroid_id equi-join;
    // the only nested-loop joins are the deliberate 8-row broadcast
    // centroid products on the probe side
    assert(!plan.contains("CartesianProduct"), s"index join degenerated:\n$plan")
    assert(plan.contains("centroid_id"), s"expected the centroid equi key:\n$plan")
  }

  test("pq/ivfpq indexed search: no re-train, ADC joins are equi, cells via centroid_id") {
    val S = graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val probes = emb.where(col("vec_id") < 5)
    val books = S.pqTrain(emb, m = 2).localCheckpoint(true)
    val codes = S.pqEncodeIndexed(emb, books).localCheckpoint(true)
    val flatPlan = physical(S.pqSearchIndexed(codes, books, emb, probes))
    // answering from stored codes must not re-run codebook training: the
    // search plan carries no aggregate over sliced corpus vectors beyond
    // the ADC sum — pin the absence of the training-time argmax column
    assert(!flatPlan.contains("CartesianProduct"), s"ADC join degenerated:\n$flatPlan")
    assert(flatPlan.contains("subspace"), s"expected the (subspace, code) equi keys:\n$flatPlan")
    val cents = emb.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))
    val assignment = S.ivfAssign(emb, cents).localCheckpoint(true)
    val ivfPlan = physical(S.ivfpqSearchIndexed(assignment, codes, books, cents, probes))
    assert(!ivfPlan.contains("CartesianProduct"), s"cell join degenerated:\n$ivfPlan")
    assert(ivfPlan.contains("centroid_id"), s"expected the centroid equi key:\n$ivfPlan")
  }

  test("OPQ ∘ IVF-PQ composition: rotated-space search keeps the indexed shape (no cartesian, no retrain, no UDF)") {
    val S = graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val sample = emb.where(col("vec_id") % 4 === 0).localCheckpoint(true)
    val model = S.opqTrain(sample, m = 2, k = 4, iters = 1, rounds = 1)
    // the production chain q_ann_opq_ivfpq runs: rotate once, coarse-assign
    // in rotated space, ADC against persisted codes, exact rerank — the
    // rotation must not change the indexed search's plan class
    val rotated = S.rotate(emb, model.rotation)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x, 6) + lit(0.0)).as("embedding"))
      .localCheckpoint(true)
    val cents = rotated.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))
      .localCheckpoint(true)
    val assignment = S.ivfAssign(rotated, cents).localCheckpoint(true)
    val codes = S.pqEncodeIndexed(rotated, model.codebooks).localCheckpoint(true)
    val plan = physical(S.ivfpqSearchIndexed(
      assignment, codes, model.codebooks, cents, rotated.where(col("vec_id") < 5)))
    assert(!plan.contains("CartesianProduct"), s"cell/ADC join degenerated:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"rotated search boxes through a UDF:\n$plan")
    assert(plan.contains("centroid_id"), s"expected the centroid equi key:\n$plan")
    assert(plan.contains("subspace"), s"expected the (subspace, code) equi keys:\n$plan")
  }

  test("kmeansAssign is a broadcast argmax aggregate, not a window") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // localCheckpoint truncates the training lineage (whose deterministic
    // init legitimately uses a tiny k-row window) so the audit covers the
    // assignment plan alone — the pipeline shape when centroids are reused
    val cents = graft.operators.Similarity
      .kmeansCentroids(emb, k = 2, iters = 1)
      .localCheckpoint()
    val df = graft.operators.Similarity.kmeansAssign(emb, cents)
    val plan = physical(df)
    assert(!plan.contains("ScalaUDF"), s"assignment boxes through a UDF:\n$plan")
    assert(!plan.contains("Window"),
      s"argmax must be the min_by partial aggregate, not a row_number sort:\n$plan")
  }

  test("semDedupIncremental pair joins stay centroid-keyed; no cartesian, no window, no UDF") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity
      .kmeansCentroids(emb, k = 2, iters = 1)
      .localCheckpoint()
    val index = graft.operators.Similarity
      .semDedupAssign(emb.where(col("vec_id") % 2 === 0), cents)
      .select("centroid_id", "v", "nrm")
      .localCheckpoint() // audit the probe plan, not the index build
    val df = graft.operators.Similarity
      .semDedupIncremental(emb.where(col("vec_id") % 2 === 1), index, cents)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), s"pair join degenerated:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"cosine boxes through a UDF:\n$plan")
    assert(!plan.contains("Window"), s"argmax must be the min_by aggregate:\n$plan")
    assert(plan.contains("centroid_id"), s"expected the centroid equi key:\n$plan")
  }

  test("semDedupIncrementalSq8: centroid-keyed probes over the code index; no cartesian/window/UDF") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val S = graft.operators.Similarity
    val cents = S.kmeansCentroids(emb, k = 2, iters = 1).localCheckpoint()
    val index = S
      .semDedupIncrementalSq8(emb.where(col("vec_id") % 2 === 0),
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("centroid_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("q",
              org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ShortType)),
            org.apache.spark.sql.types.StructField("qn",
              org.apache.spark.sql.types.DoubleType)))),
        cents, -0.5, 0.5)
      .select("centroid_id", "q", "qn")
      .localCheckpoint() // audit the probe plan, not the index build
    val df = S.semDedupIncrementalSq8(
      emb.where(col("vec_id") % 2 === 1), index, cents, -0.5, 0.5)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), s"pair join degenerated:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"cosine boxes through a UDF:\n$plan")
    assert(!plan.contains("Window"), s"argmax must be the min_by aggregate:\n$plan")
    assert(plan.contains("centroid_id"), s"expected the centroid equi key:\n$plan")
  }

  test("kmeansMoments shuffles k*dim scalar rows, never vectors; merge+finalize stay aggregate-only") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity
      .kmeansCentroids(emb, k = 2, iters = 1)
      .localCheckpoint()
    val S = graft.operators.Similarity
    val m = S.kmeansMergeMoments(
      S.kmeansMoments(emb.where(col("vec_id") % 2 === 0), cents),
      S.kmeansMoments(emb.where(col("vec_id") % 2 === 1), cents))
    val plan = physical(S.kmeansFromMoments(m))
    assert(!plan.contains("ScalaUDF"), s"moment pass boxes through a UDF:\n$plan")
    assert(!plan.contains("Window"), s"argmax must be the min_by aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"centroid probe degenerated:\n$plan")
    // the post-explode aggregate is map-side combinable: partial then
    // final HashAggregate around the (centroid_id, i)-keyed exchange
    assert("(?s)HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregates:\n$plan")
  }

  test("piiStats is one map-side pass plus a single source-keyed shuffle") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.operators.TextOps.piiStats(docs)
    // string-count: under AQE the executed plan is an AdaptiveSparkPlanExec
    // leaf, so collecting ShuffleExchangeExec nodes sees nothing
    val plan = physical(df)
    val exchanges = "Exchange ".r.findAllIn(plan).size
    assert(exchanges == 1 && plan.contains("Exchange hashpartitioning(source"),
      s"expected exactly the final aggregate's shuffle:\n$plan")
  }

  test("auto-deref over translated tables: left joins on ids, no cartesian") {
    val st = TranslateCorpus.ensure(spark)
    st.extract("pa_conns", "network-traffic", "xq1", "[network-traffic:dst_port = 443]")
    val df = graft.api.Deref.autoDeref(st, "pa_conns")
    val plan = physical(df)
    // every deref hop is a key-equality join; nothing degenerates to a
    // nested-loop/cartesian product
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"deref produced a non-equi join:\n$plan")
    // the SCO-side tables are small here and must broadcast; at cluster
    // scale the same joins hash-partition on id — either way, equi-joins
    assert(plan.contains("Join"), "expected deref joins in plan")
  }

  test("deref-sort wrap adds one id-equi join and keeps base columns") {
    val st = TranslateCorpus.ensure(spark)
    st.extract("pw_conns", "network-traffic", "xq1", "[network-traffic:src_port > 0]")
    st.assignQuery("pw_sorted", GQuery(Seq(
      Table("pw_conns"), Order(Seq(OrderKey("src_ref.value"))))))
    val df = st.catalog.resolve("pw_sorted")
    assert(df.columns.toSeq == st.catalog.resolve("pw_conns").columns.toSeq,
      "wrapped view must keep exactly the base view's columns")
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct"), s"sort wrap went cartesian:\n$plan")
    assert(plan.contains("Sort"), "expected a Sort node for the dotted order key")
  }

  test("streaming windowed counts: stateful agg with partial map-side combine") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)]
    val df = StreamOps.windowedCounts(
      events.toDF().toDF("ts", "event_type"), "1 hour", "2 hours")
    val sink = s"plan_audit_stream_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = df.writeStream.format("memory").queryName(sink).outputMode("complete").start()
    try {
      events.addData((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a"))
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
        .lastProgress.toString()
      // the state store shards by (window, key): the plan ran stateful agg
      assert(plan.contains("stateOperators"), "expected stateful operator progress")
    } finally q.stop()
  }

  test("bloomJoin: might_contain cuts the fact side below the join, dim broadcasts") {
    val fact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val dim = spark.read.parquet(s"$sfDir/orders.parquet")
      .where(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("l_orderkey"))
    val df = graft.operators.Layout.bloomJoin(fact, dim, "l_orderkey")
    val plan = physical(df)
    assert(plan.contains("might_contain"),
      s"fact side must carry the Bloom probe predicate:\n$plan")
    // the probe must sit BELOW the join (printed after it): map-side cut
    // before any join machinery, so pruned rows never reach the shuffle
    val joinIdx = plan.indexOf("Join")
    val probeIdx = plan.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe should sit under the join in the plan print:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the selective dim side should broadcast into the exact join:\n$plan")
  }

  test("manifest is one hash aggregate — no window, no second shuffle") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.operators.Layout.manifest(docs, "source", Seq("doc_id", "text"), "doc_id")
    val plan = physical(df)
    assert(!plan.contains("Window"), s"manifest must not window:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one shuffle (the shard agg), got $exchanges:\n$plan")
  }

  test("distributionDrift joins its tiny frames by broadcast, never sort-merge") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.operators.Profile
      .distributionDrift(docs, "n_chars", "source", refSource = "src0", nBins = 4)
    val plan = physical(df)
    assert(!plan.contains("SortMergeJoin"),
      s"post-count algebra runs on sources×bins rows — must broadcast:\n$plan")
    assert(!plan.contains("Window"), s"no window anywhere in drift:\n$plan")
  }

  test("applyMixturePlan carries no per-source window; plan/bases broadcast back") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars").as("tokens"))
    val stats = docs.groupBy("source")
      .agg(sum("tokens").as("tokens"), count(lit(1)).cast("double").as("weight"))
    // checkpoint the (sources-sized) plan frame so the audit sees ONLY the
    // corpus path — mixturePlan's own windows run over tens of rows and
    // are not what this test polices
    val plan = Sampling.mixturePlan(stats, budget = 1200L)
      .select("source", "alloc").localCheckpoint()
    val out = Sampling.applyMixturePlan(docs, plan)
    val p = physical(out)
    // the corpus-side prefix sum is the two-pass runningOffset (range sort
    // + mapPartitions), never a source-partitioned window over the corpus
    assert(!p.contains("Window"), s"no per-source window allowed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"bases+plan frames must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here warrants a shuffle join:\n$p")
  }

  test("applyMixtureEpochs: same no-window shape; the epoch explode is a map-side Generate") {
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars").as("tokens"))
    val stats = docs.groupBy("source")
      .agg(sum("tokens").as("tokens"), count(lit(1)).cast("double").as("weight"))
    val plan = Sampling.mixturePlan(stats, budget = 1200L)
      .select("source", "tokens", "alloc").localCheckpoint()
    val p = physical(Sampling.applyMixtureEpochs(docs, plan))
    assert(!p.contains("Window"), s"no per-source window allowed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"bases+plan frames must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"nothing here warrants a shuffle join:\n$p")
    // the up-sampling explode is a Generate over already-joined rows —
    // it must not introduce any exchange of its own
    assert(p.contains("Generate"), s"expected the epoch explode:\n$p")
  }

  test("stripBoilerplate's strip pass is map-side: corpus rejoins only a 1-row broadcast") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = physical(graft.operators.TextOps.stripBoilerplate(docs))
    // the boilerplate set arrives as a broadcast nested-loop of a 1-row
    // aggregate; the corpus itself must not shuffle for the strip
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"boilerplate set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not join by shuffle:\n$plan")
    // the ONLY hash shuffles are inside the detection aggregate (line
    // counts), which runs on exploded lines — not on document rows
    assert(!plan.contains("Window"), s"no window anywhere:\n$plan")
  }

  test("sketchOverlap: one corpus aggregation; the pair frame never re-shuffles the corpus") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val df = graft.operators.Profile.sketchOverlap(
      orders.select(col("o_orderpriority").as("src"), col("o_custkey")), "o_custkey", "src", 64)
    val plan = physical(df)
    assert(plan.contains("partial_kmv_hashes"),
      s"sketches must build through partial object aggregation:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the S² pair join runs on sketch rows — must not sort-merge:\n$plan")
  }

  test("nbClassify: model joins broadcast; the only corpus shuffle keys on (doc, label)") {
    import graft.operators.TextOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (tm, lm) = TextOps.nbTrain(docs.where(col("doc_id") % 2 === 0), "lang")
    val plan = physical(TextOps.nbClassify(docs.where(col("doc_id") % 2 === 1), tm, lm))
    assert(plan.contains("BroadcastHashJoin"), s"model must broadcast:\n$plan")
    assert(!plan.contains("Window"), s"argmax is a struct-max aggregate, not a window:\n$plan")
  }

  test("pmiBigrams: unigram counts broadcast back onto the bigram frame") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = physical(graft.operators.TextOps.pmiBigrams(docs, minCount = 20L))
    assert(plan.contains("BroadcastHashJoin"), s"vocab-sized counts must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join on the bigram frame:\n$plan")
  }

  test("phraseHits and winsorize clamp plan zero corpus shuffles and no global sort") {
    import graft.operators.{Profile, TextOps}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pPlan = physical(TextOps.phraseHits(docs, "slow hash batch"))
    assert(!pPlan.contains("Exchange"), s"phrase scan is pure map-side:\n$pPlan")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val wPlan = physical(Profile.winsorize(
      li, "l_extendedprice", concat_ws(":", col("l_orderkey"), col("l_linenumber"))))
    // thresholds ride a TakeOrdered sample + 1-row broadcast; the corpus
    // itself is never globally sorted
    assert(wPlan.contains("TakeOrderedAndProject"), s"sample must be TakeOrdered:\n$wPlan")
    assert(wPlan.contains("BroadcastNestedLoopJoin"),
      s"thresholds must broadcast:\n$wPlan")
    assert(!wPlan.contains("SortMergeJoin"), s"corpus never shuffles for the clamp:\n$wPlan")
  }

  test("CMS / sampleQuantiles aggregate through partials (no raw-value shuffle)") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val sk = li.agg(graft.functions.CmsSketch.cms(col("l_suppkey"), 4, 256))
    val skPlan = physical(sk)
    // TypedImperativeAggregate state flows through ObjectHashAggregate
    // partial/final pairs: per-partition matrices merge, rows never shuffle
    assert(skPlan.contains("ObjectHashAggregate"),
      s"CMS must run as a partial-aggregable object aggregate:\n$skPlan")
    assert(skPlan.contains("partial_cms_sketch"),
      s"expected a partial aggregation mode:\n$skPlan")
    val qs = graft.operators.Profile.sampleQuantiles(
      li, "l_extendedprice", concat_ws(":", col("l_orderkey"), col("l_linenumber")))
    val qsPlan = physical(qs)
    assert(qsPlan.contains("TakeOrderedAndProject"),
      s"bottom-k-by-hash must be a distributed TakeOrdered, not a global sort:\n$qsPlan")
    // the GROUPED sample flows as O(k) object-aggregate state — no group
    // is sorted or buffered whole
    val gq = graft.operators.Profile.groupQuantiles(
      li, "l_extendedprice",
      concat_ws(":", col("l_orderkey"), col("l_linenumber")), "l_returnflag")
    val gqPlan = physical(gq)
    assert(gqPlan.contains("partial_bottom_k_sample"),
      s"grouped sample must partial-aggregate:\n$gqPlan")
    assert(!gqPlan.contains("Window") && !gqPlan.contains("Sort "),
      s"no per-group sort/window allowed:\n$gqPlan")
  }

  test("tokenBudgetSample cumulative window runs over pre-filtered survivors") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        graft.operators.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    val df = graft.operators.Sampling
      .tokenBudgetSample(docs, "doc_id", "lang", "n_tokens", 2000L, seed = "tb1")
    val plan = physical(df)
    // same contract as quotaSample: the exact cumulative-sum window sits
    // above the broadcast threshold pre-filter, so a Zipfian stratum's
    // shuffle carries ~budget token mass, not the corpus
    val winIdx = plan.indexOf("Window")
    val bjIdx = plan.indexOf("BroadcastHashJoin")
    assert(winIdx >= 0 && bjIdx >= 0, s"expected window over broadcast pre-filter:\n$plan")
    assert(winIdx < bjIdx, s"window must consume the pre-filter output:\n$plan")
  }

  test("PCA: fit is ONE constant-state aggregate pass; projection is map-side codegen") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // the fit's only data job: a single partial/final aggregate over the
    // scan — one exchange of constant-size buffers, no join, no window
    val fitPlan = physical(
      emb.agg(graft.functions.VecMoments.moments(col("embedding"), 64)))
    assert(fitPlan.contains("vec_moments"), s"expected the moments aggregate:\n$fitPlan")
    val exchanges = "Exchange".r.findAllIn(fitPlan).size
    assert(exchanges == 1, s"fit must shuffle once (partial->final), saw $exchanges:\n$fitPlan")
    for (bad <- Seq("Join", "Window", "Sort "))
      assert(!fitPlan.contains(bad), s"fit must not plan $bad:\n$fitPlan")
    // projection: literal matrix baked into a compiled kernel — zero
    // shuffle, and the ProjectF call sits inside whole-stage codegen
    val model = graft.operators.Similarity.pcaFit(emb, "embedding", 64)
    val projPlan = physical(graft.operators.Similarity.pcaProject(emb, model, 16))
    assert(!projPlan.contains("Exchange"), s"projection must be map-side:\n$projPlan")
    // executedPlan.toString renders a codegen stage as the "*(n)" prefix
    assert(projPlan.contains("*(1) Project"), s"projection must codegen:\n$projPlan")
    assert(projPlan.contains("project_f"), s"expected the ProjectF kernel:\n$projPlan")
    // JL: same kernel, no fit pass at all — zero exchanges, codegen
    val jlPlan = physical(graft.operators.Similarity.jlProject(emb, 64, 16))
    assert(!jlPlan.contains("Exchange"), s"JL projection must be map-side:\n$jlPlan")
    assert(jlPlan.contains("project_f") && jlPlan.contains("*(1) Project"),
      s"expected the compiled JL kernel inside codegen:\n$jlPlan")
  }

  test("semDedupAssignLit plans ZERO exchanges: the literal argmax is pure map-side codegen") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.operators.Similarity
      .kmeansCentroids(emb, k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    val plan = physical(graft.operators.Similarity.semDedupAssignLit(emb, cents))
    assert(!plan.contains("Exchange"), s"literal assignment must be map-side:\n$plan")
    assert(!plan.contains("HashAggregate"), s"no argmax aggregate allowed here:\n$plan")
    assert(plan.contains("dot_f") || plan.contains("DotF"),
      s"expected the native dot kernel:\n$plan")
  }

  test("fertility/vocabGrowth/calibration/agreement: aggregate-only, no window, no cartesian over data") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def audit(name: String, df: org.apache.spark.sql.DataFrame, allowBnlj: Boolean = false): Unit = {
      val plan = physical(df)
      val bad = Seq("CartesianProduct", "Window") ++
        (if (allowBnlj) Nil else Seq("BroadcastNestedLoopJoin"))
      for (b <- bad) assert(!plan.contains(b), s"$name must not plan $b:\n$plan")
    }
    audit("tokenizerFertility", graft.operators.TextOps.tokenizerFertility(docs))
    // vocabGrowth zips its two ONE-ROW aggregate frames with a broadcast
    // NLJ — single-row sides, data never crosses it
    audit("vocabGrowth",
      graft.operators.TextOps.vocabGrowth(docs, Seq(10L, 50L)), allowBnlj = true)
    // calibrationReport's 1-row total joins back via a broadcast NLJ by
    // design (a single-row frame with no key); data never crosses it
    val scored = docs.select(
      (col("doc_id") % 100 / 100.0).as("p"), (col("doc_id") % 2).cast("double").as("y"))
    audit("calibrationReport",
      graft.operators.TextOps.calibrationReport(scored, "p", "y"), allowBnlj = true)
    val pa = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select((col("vec_id") % 4).as("c"), col("label").as("l"))
    audit("partitionAgreement",
      graft.operators.Similarity.partitionAgreement(pa, "c", "l"), allowBnlj = true)
  }

  test("dedupLines: min-struct ownership, equi-joins only, no window, no cartesian") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = physical(graft.operators.TextOps.dedupLines(docs))
    // ownership must be the hash-aggregate min-struct, not a corpus window
    for (bad <- Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!plan.contains(bad), s"dedupLines must not plan $bad:\n$plan")
  }

  test("chunkNovelty and the gopher battery plan equi-joins only, no windows") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def badNodes(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val plan = physical(df)
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")
        .filter(plan.contains)
    }
    val cn = graft.operators.Dedup.chunkNovelty(docs)
    assert(badNodes(cn).isEmpty,
      s"chunkNovelty must be equi-join + hash aggregates only: ${badNodes(cn)}")
    val gr = graft.operators.TextOps.gopherRepetitionReport(docs)
    assert(badNodes(gr).isEmpty,
      s"gopher battery must be hash aggregates + equi-joins only: ${badNodes(gr)}")
  }

  test("chunkNoveltyAgainst: hash equi-join probe, no window, no cartesian over data") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val ch = graft.operators.Dedup.chunkHashes(docs)
    val store = graft.operators.Dedup.chunkOwners(
      graft.operators.Dedup.chunkHashes(docs.where(col("doc_id") < 10)))
    val plan = physical(graft.operators.Dedup.chunkNoveltyAgainst(ch, store))
    for (bad <- Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!plan.contains(bad), s"chunkNoveltyAgainst must not plan $bad:\n$plan")
  }

  test("kCore: per-round degree aggregate + id equi-joins; conv flag is a 1-row broadcast") {
    val edges = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id").cast("string").as("src"),
        col("event_type").as("dst"))
    val df = graft.operators.Graph.kCore(edges, k = 2, rounds = 2)
    val plan = physical(df)
    // the peel loop must stay equi-keyed; the only nested-loop join allowed
    // is the 1-row converged-flag broadcast cross
    assert(!plan.contains("CartesianProduct"), s"kCore planned a cartesian:\n$plan")
    assert(!plan.contains("Window"), s"kCore planned a window:\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 2, s"kCore: only the two 1-row stat crosses may nest-loop ($bnlj):\n$plan")
  }

  test("coreness: plan depth and join count constant in maxK (flags fold at the pinned boundary)") {
    import org.apache.spark.sql.execution.SparkPlan
    import spark.implicits._
    // K4 + pendant — enough structure for three levels to do real peeling
    val edges = Seq(
      ("k0", "k1"), ("k0", "k2"), ("k0", "k3"),
      ("k1", "k2"), ("k1", "k3"), ("k2", "k3"), ("k3", "p")).toDF("src", "dst")
    def depth(p: SparkPlan): Int =
      if (p.children.isEmpty) 1 else 1 + p.children.map(depth).max
    def audit(maxK: Int): (Int, Int) = {
      val qe = graft.operators.Graph
        .coreness(edges, maxK = maxK, rounds = 2).queryExecution
      val joins = "Join".r.findAllIn(qe.executedPlan.toString).size
      (depth(qe.executedPlan), joins)
    }
    val (d2, j2) = audit(2)
    val (d5, j5) = audit(5)
    // per-level survivor legs union linearly (the output's nature), but the
    // converged flag is a driver literal: depth and join count must not
    // grow with maxK — the r13 shape nested one crossJoin per level
    assert(d5 == d2, s"plan depth grew with maxK: $d2 -> $d5")
    assert(j5 == j2 && j2 <= 1,
      s"flag joins must not accumulate per level: maxK=2 has $j2, maxK=5 has $j5")
  }

  test("vocabGrowthFromState: state-only aggregates, corpus text never rescanned") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val st = graft.operators.TextOps.vocabState(docs).localCheckpoint()
    val dt = graft.operators.TextOps.vocabDocTokens(docs).localCheckpoint()
    val plan = physical(
      graft.operators.TextOps.vocabGrowthFromState(st, dt, Seq(100L, 200L)))
    // reading pinned state must not re-tokenize: no Generate (explode of
    // tokens) except the bounded checkpoint-struct explode, and no scan of
    // the documents parquet
    assert(!plan.contains("documents.parquet"),
      s"state face must not rescan the corpus:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      s"state face must stay aggregate-only:\n$plan")
  }
}
