package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Two paths, as a real 100 TB pipeline needs:
  *  - bruteForceTopK: exact top-k. The probe set is broadcast (it is small
  *    by construction); the corpus side streams map-side — one pass, no
  *    corpus shuffle, then a per-probe top-k aggregation. Exact but O(N*Q).
  *  - lshTopK: sign-LSH bucketed ANN. Bucket = sign bits of the first
  *    `bits` dimensions; candidates are generated by an equi-join on the
  *    bucket id, so work scales with bucket occupancy, not corpus size.
  *    (With learned centroids this same shape becomes IVF; the bucketing
  *    column is the only thing that changes.)
  *
  * Cosine is computed as an in-order left fold over the arrays (upcast to
  * double) — sequential, deterministic, identical in any engine that folds
  * element-wise; scores are rounded inside the query for cross-engine
  * hash-parity, with vec_id as the deterministic tie-break.
  */
object Similarity {

  /** Dot/norm are native codegen expressions over the unsafe array data
    * (graft.functions.DotF/NormF) — the preference-ladder top rung: no
    * per-row boxing of Seq[Float], whole-stage codegen via a static call,
    * identical in-order summation to any engine's element-wise fold. */
  def dot(a: Column, b: Column): Column = graft.functions.DotF(a, b)

  /** Centroid column snapped to fp32 then WIDENED to the paired frame's
    * own element type: the kernels (DotF) require both sides to share an
    * element type, and an OPQ-rotated corpus is array<double> where the
    * raw tables are array<float>. On a float frame this is the historical
    * no-op fp32 snap; on a double frame the snap is the same (oracle-
    * mirrored as ::FLOAT[]::DOUBLE[]) and the widening cast is exact. */
  private def snappedCent(cent: Column, frame: DataFrame, embCol: String): Column = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    // cast via ELEMENT type with containsNull=true on both hops: the
    // frame's own ArrayType may carry containsNull=false (e.g. built by
    // transform()), and Catalyst refuses a cast that narrows nullability
    val elem = frame.schema(embCol).dataType match {
      case ArrayType(e, _) => e
      case other =>
        throw new IllegalArgumentException(s"$embCol is not an array column: $other")
    }
    cent.cast(ArrayType(FloatType, containsNull = true))
      .cast(ArrayType(elem, containsNull = true))
  }

  def norm(a: Column): Column = graft.functions.NormF(a)

  /** Cosine via the kernels. Prefer the precomputed-norm forms below in
    * joins: norms are per-VECTOR, so computing them per PAIR wastes 2/3 of
    * the work — each frame carries a `nrm` column instead. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def cosineWithNorms(a: Column, b: Column, an: Column, bn: Column): Column =
    dot(a, b) / (an * bn)

  /** Exact top-k neighbors for each probe vector (probes broadcast). */
  def bruteForceTopK(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val p = broadcast(
      probes.select(
        col(idCol).as("query_id"),
        col(embCol).as("q_emb"),
        norm(col(embCol)).as("q_nrm")))
    val scored = corpus
      .select(
        col(idCol).as("neighbor_id"),
        col(embCol).as("c_emb"),
        norm(col(embCol)).as("c_nrm"))
      .crossJoin(p)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosineWithNorms(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")), 6)
          .as("score"))
    topKPerQuery(scored, k)
  }

  /** Matryoshka-style dimension truncation: keep the first `d` dims of
    * the embedding — the at-rest/bandwidth trade (d/dim of the bytes per
    * vector, i.e. half the index at d = dim/2) that MRL-trained embedders
    * make near-free. Drop-in corpus/probe transform for every ANN
    * operator here; its retrieval cost is a MEASURED recall against the
    * full-dimension truth (q_embed_trunc_recall), not a guess. */
  def truncateDims(df: DataFrame, d: Int, embCol: String = "embedding"): DataFrame = {
    require(d >= 1, "need at least one dimension")
    df.withColumn(embCol, slice(col(embCol), 1, d))
  }

  /** ANN: probes join only their own sign-LSH bucket. */
  def lshTopK(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int = 5,
      bits: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val withBucket = (df: DataFrame, idAs: String, embAs: String, nrmAs: String) =>
      df.select(
        col(idCol).as(idAs),
        col(embCol).as(embAs),
        norm(col(embCol)).as(nrmAs),
        signBucketExpr(embCol, bits).as("bucket"))
    val c = withBucket(corpus, "neighbor_id", "c_emb", "c_nrm")
    val p = broadcast(withBucket(probes, "query_id", "q_emb", "q_nrm"))
    val scored = c
      .join(p, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosineWithNorms(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")), 6)
          .as("score"))
    topKPerQuery(scored, k)
  }

  /** Multi-probe sign-LSH: each query probes every bucket within Hamming
    * distance `radius` of its own — the standard recall knob for LSH: a
    * true neighbor differing on a few hyperplane signs is found without
    * re-bucketing the corpus. Candidate volume grows to
    * sum_{j<=radius} C(bits, j) / 2^bits of the corpus (still an equi-join
    * on bucket, never all-pairs); the probe side stays broadcast — it
    * merely fans out by the probe-bucket count. Tune with [[recallAtK]]
    * until measured recall clears the pipeline's bar. */
  def multiProbeLshTopK(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int = 5,
      bits: Int = 4,
      radius: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val withBucket = (df: DataFrame, idAs: String, embAs: String, nrmAs: String) =>
      df.select(
        col(idCol).as(idAs),
        col(embCol).as(embAs),
        norm(col(embCol)).as(nrmAs),
        signBucketExpr(embCol, bits).as("bucket"))
    val c = withBucket(corpus, "neighbor_id", "c_emb", "c_nrm")
    // XOR masks of Hamming weight <= radius; each neighbor lives in exactly
    // one bucket and the masks are distinct, so no candidate dedup is needed
    val masks = (0L until (1L << bits)).filter(m => java.lang.Long.bitCount(m) <= radius)
    val p = broadcast(
      withBucket(probes, "query_id", "q_emb", "q_nrm")
        .withColumn("bucket",
          explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*))))
    val scored = c
      .join(p, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosineWithNorms(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")), 6)
          .as("score"))
    topKPerQuery(scored, k)
  }

  /** Sign-LSH bucket as a portable SQL expression (bit i set iff dim i+1 > 0). */
  def signBucketExpr(embCol: String, bits: Int): Column =
    expr(
      s"""aggregate(sequence(1, $bits), cast(0 as bigint), (acc, i) ->
         |  acc + CASE WHEN element_at($embCol, i) > 0
         |             THEN shiftleft(cast(1 as bigint), i - 1) ELSE cast(0 as bigint) END)""".stripMargin)

  /** Deterministic top-k: rank by (score desc, neighbor_id asc) per query. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** recall@k of an ANN result against the exact result — the measurement
    * loop for tuning bits/bands/nprobe ("measure, don't guess"). Inputs are
    * topK frames (query_id, rank, neighbor_id, ...); one row per query in
    * the EXACT result with a 6dp recall fraction. The denominator is
    * least(k, that query's exact-neighbor count) — a query whose full
    * ground truth is shorter than k (small corpus, rank-filtered exact
    * frame) can still reach 1.0 — and zero-overlap queries report 0.0
    * instead of vanishing, so averaging recall across queries is safe.
    * Two probe-sized aggregations + a probe-sized join — trivially
    * distributed. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val ex = exact.where(col("rank") <= k).select(col("query_id"), col("neighbor_id"))
    val exCounts = ex.groupBy("query_id").agg(count(lit(1)).as("__exn"))
    val hits = approx.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .join(ex, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id")
      .agg(count(lit(1)).as("__hits"))
    exCounts.join(hits, Seq("query_id"), "left_outer")
      .select(
        col("query_id"),
        round(
          coalesce(col("__hits"), lit(0L)) /
            least(lit(k.toLong), col("__exn")).cast("double"),
          6).as("recall"))
  }

  /** Reciprocal Rank Fusion of ranked lists — the standard hybrid-retrieval
    * combiner (Cormack et al., SIGIR 2009): each list contributes
    * 1/(c + rank) for every id it ranks, ids are scored by the sum over
    * lists, and the top k by fused score win. Rank-based, so a lexical
    * (BM25) list and a dense (cosine) list fuse without score calibration.
    *
    * Inputs are (idCol, rankCol) frames. Output: rank, id, rrf (6dp),
    * n_lists (how many lists ranked the id). Determinism note: with two
    * lists every per-id sum is a single IEEE addition (commutative-exact),
    * so the 6dp fused scores are engine-reproducible; the final window
    * runs over at most lists x topK fused candidates, never a corpus.
    * Scale shape: the lists are already tiny (top-k per retriever); fusion
    * is one union + one hash agg. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      k: Int = 10,
      c: Int = 60,
      idCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    import org.apache.spark.sql.expressions.Window
    val contribs = rankings
      .map(_.select(
        col(idCol),
        (lit(1.0) / (lit(c.toDouble) + col(rankCol).cast("double"))).as("__contrib")))
      .reduce(_.unionByName(_))
    contribs
      .groupBy(idCol)
      .agg(
        round(sum("__contrib"), 6).as("rrf"),
        count(lit(1)).cast("int").as("n_lists"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(col("rrf").desc, col(idCol))))
      .select(col("rank"), col(idCol), col("rrf"), col("n_lists"))
  }

  /** Standard IVF sizing rule: nlist ≈ √N (the FAISS guideline for
    * inverted-file indexes), clamped to a sane range. At N = 2k oracle
    * scale this yields ~45 cells; at a 10⁹-vector shard it yields ~32k —
    * per-cell occupancy stays ≈ √N in both, so a fixed `nprobe` keeps the
    * probed fraction (nprobe/√N) SHRINKING as the corpus grows while each
    * probed list stays scan-affordable. Pass the result as `nlist` to
    * [[ivfTopK]] / [[ivfpqTopK]] / [[kmeansCentroids]]. */
  def nlistFor(n: Long, minNlist: Int = 4, maxNlist: Int = 65536): Int =
    math.max(minNlist,
      math.min(maxNlist, math.round(math.sqrt(math.max(n, 1L).toDouble)).toInt))

  /** Companion probe-count rule: a fixed FRACTION of the cell count
    * (default 1/8, floor 2) — recall is governed by the probed fraction,
    * so holding it constant holds recall roughly constant as nlistFor
    * rescales the index (law-tested: recall@k ≥ 0.8 holds on a 10×
    * corpus with the rescaled nlist/nprobe). */
  def nprobeFor(nlist: Int, fraction: Double = 0.125): Int =
    math.max(2, math.ceil(nlist * fraction).toInt)

  /** Re-train cadence hook: centroids trained at `trainedN` vectors are
    * due for re-training once the corpus has grown past `growthFactor`×
    * (default 2×) — the point where nlistFor(currentN) has drifted ~√2
    * from the trained cell count and per-cell occupancy has doubled. A
    * pipeline checks this per ingest batch (two longs, no data read) and
    * schedules kmeansCentroids + re-assignment when it fires; between
    * re-trainings, new vectors keep assigning to the OLD centroids —
    * queries stay correct (assignment and probing use the same lists),
    * only per-cell balance degrades, which is what the cadence bounds. */
  def ivfRetrainDue(trainedN: Long, currentN: Long, growthFactor: Double = 2.0): Boolean =
    currentN >= math.ceil(trainedN * growthFactor).toLong

  /** IVF (inverted-file) ANN: assign every vector to its nearest centroid,
    * then probe only the `nprobe` best centroid lists per query — the
    * candidate set shrinks from N to the probed lists' occupancy, and both
    * assignment and probing are equi-joins on centroid_id.
    *
    * Centroids here are deterministic samples (the first `nlist` corpus
    * vectors); a production pipeline swaps in k-means centroids — the
    * operator shape (assign / probe / top-k) is unchanged, which is the
    * point: IVF is sign-LSH with a learned bucketing column.
    * Scores are rounded before every argmax/rank so results are
    * engine-reproducible; ties break on ids. */
  def ivfTopK(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int = 5,
      nlist: Int = 8,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      /** learned (centroid_id, cent_emb) lists, e.g. kmeansCentroids output;
        * null keeps the deterministic first-nlist sample */
      learnedCentroids: DataFrame = null): DataFrame = {
    val centroidBase = Option(learnedCentroids)
      .map(_.select(
        col("centroid_id"),
        col("cent_emb").cast("array<float>").as("cent_emb")))
      .getOrElse(
        corpus
          .orderBy(col(idCol))
          .limit(nlist)
          .select(col(idCol).as("centroid_id"), col(embCol).as("cent_emb")))
    ivfSearchIndexed(
      ivfAssign(corpus, centroidBase, idCol, embCol),
      centroidBase, probes, k, nprobe, idCol, embCol)
  }

  /** Assign vectors to their nearest centroid — the PERSISTABLE IVF index
    * rows (id, embedding, nrm, centroid_id) and the append primitive of
    * the indexed search path. At 100 TB this corpus-sized pass is paid
    * ONCE at index build; an arriving batch runs ivfAssign on ITS vectors
    * only and appends (centroids stay fixed between retrains —
    * [[ivfRetrainDue]] says when rebalancing is due, and stale centroids
    * stay CORRECT because assignment and probing share the same lists).
    *
    * The assignment is an ARGMAX per vector: min_by over (-score, id) is
    * a partial-aggregable hash aggregate (map-side combine, no sort) — a
    * row_number window here would sort all N·nlist scored rows, which is
    * the difference between a narrow agg and a full shuffle-sort at
    * nlist=4096. emb/nrm are functionally dependent on the id, so
    * first() is deterministic. Ties: equal score → smallest centroid_id,
    * matching ORDER BY cscore DESC, centroid_id. */
  def ivfAssign(
      vecs: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val cents = broadcast(
      centroids.select(
        col("centroid_id"),
        snappedCent(col("cent_emb"), vecs, embCol).as("cent_emb"))
        .withColumn("cent_nrm", norm(col("cent_emb"))))
    vecs
      .select(col(idCol), col(embCol), norm(col(embCol)).as("nrm"))
      .crossJoin(cents)
      .select(
        col(idCol),
        col(embCol),
        col("nrm"),
        col("centroid_id"),
        round(cosineWithNorms(col(embCol), col("cent_emb"), col("nrm"), col("cent_nrm")), 6)
          .as("cscore"))
      .groupBy(col(idCol))
      .agg(
        first(col(embCol)).as(embCol),
        first(col("nrm")).as("nrm"),
        min_by(col("centroid_id"), struct(-col("cscore"), col("centroid_id")))
          .as("centroid_id"))
  }

  /** IVF search against a prebuilt assignment index ([[ivfAssign]] rows,
    * possibly unioned across appends): probe the top-nprobe centroid
    * lists per query and exact-re-rank only those lists' vectors — the
    * corpus is touched only where the equi-join on centroid_id lands,
    * never rescanned or re-assigned per search. */
  def ivfSearchIndexed(
      index: DataFrame,
      centroids: DataFrame,
      probes: DataFrame,
      k: Int = 5,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = broadcast(
      centroids.select(
        col("centroid_id"),
        snappedCent(col("cent_emb"), probes, embCol).as("cent_emb"))
        .withColumn("cent_nrm", norm(col("cent_emb"))))
    // Probe side keeps top-nprobe lists; the probe set is small by contract
    // (it is broadcast in every other path), so a per-probe window is fine.
    val probed = {
      val w = Window.partitionBy("query_id").orderBy(col("cscore").desc, col("centroid_id").asc)
      probes
        .select(col(idCol).as("query_id"), col(embCol).as("q_emb"), norm(col(embCol)).as("q_nrm"))
        .crossJoin(cents)
        .select(
          col("query_id"), col("q_emb"), col("q_nrm"), col("centroid_id"),
          round(cosineWithNorms(col("q_emb"), col("cent_emb"), col("q_nrm"), col("cent_nrm")), 6)
            .as("cscore"))
        .withColumn("crank", row_number().over(w))
        .where(col("crank") <= nprobe)
        .drop("cscore", "crank")
    }
    val scored = index
      .select(
        col(idCol).as("neighbor_id"), col(embCol).as("c_emb"),
        col("nrm").as("c_nrm"), col("centroid_id"))
      .join(probed, "centroid_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(cosineWithNorms(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")), 6)
          .as("score"))
    // no dedup needed: each neighbor lives in exactly one centroid list
    topKPerQuery(scored, k)
  }

  /** Lloyd's k-means over the embedding column, expressed as DataFrame
    * aggregation — the learned-centroid upgrade for ivfTopK's bucketing
    * column. Each iteration is one crossJoin(broadcast centroids) ->
    * argmin-assign (min_by hash aggregate, map-side combinable) ->
    * per-centroid mean (zip_with array fold in a single groupBy). All
    * shuffles are keyed on centroid_id (k rows out), so the per-iteration
    * cost is one narrow pass over the corpus — the shape that survives a
    * 100x scale-up. Initialization is the deterministic first-k sample, so
    * results are reproducible run-to-run. */
  def kmeansCentroids(
      corpus: DataFrame,
      k: Int = 8,
      iters: Int = 5,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      /** > 0: eager localCheckpoint of the k-row centroid frame every that
        * many iterations, truncating the linear lazy DAG (see pageRank —
        * same rationale; results identical because means round to 9dp). */
      checkpointEvery: Int = 0): DataFrame = {
    var centroids = corpus
      .orderBy(col(idCol))
      .limit(k)
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col(idCol)))
          .cast("long").as("centroid_id"),
        col(embCol).cast("array<double>").as("cent_emb"))
    val vecs = corpus.select(col(idCol).as("vid"), col(embCol).cast("array<double>").as("v"))
    (1 to iters).foreach { i =>
      val c = broadcast(centroids)
      val assigned = vecs
        .crossJoin(c)
        .select(
          col("vid"),
          col("v"),
          col("centroid_id"),
          // rounded like every other argmax in this file: a 6dp score makes
          // the assignment (and so the learned centroids) engine-reproducible
          round(dotD(col("v"), col("cent_emb")) / (normD(col("v")) * normD(col("cent_emb"))), 6)
            .as("score"))
        .groupBy("vid")
        .agg(
          first(col("v")).as("v"),
          min_by(col("centroid_id"), struct(-col("score"), col("centroid_id"))).as("centroid_id"))
      // per-centroid mean: explode to (centroid, dim, x) scalars and
      // average — partial aggregation combines map-side, so the shuffle
      // carries ~k·dim rows per partition, never whole vectors. Means are
      // rounded 9dp: avg() sums partials in partition order, so unrounded
      // means carry ulp-level run-to-run (and cross-engine) noise that the
      // NEXT iteration's 6dp argmax could amplify into a flipped assignment
      centroids = assigned
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos")
        .agg(round(avg("x"), 9).as("m"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(
          col("centroid_id"),
          transform(col("pm"), p => p.getField("m")).as("cent_emb"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        centroids = centroids.localCheckpoint(true)
    }
    centroids
  }

  /** Hard assignment of every corpus vector to its nearest learned
    * centroid — kmeansCentroids' argmax step exposed as an operator, so a
    * pipeline can materialize cluster ids once and reuse them (cluster-
    * balanced sampling, per-cluster stats, IVF list builds). One broadcast
    * crossJoin against the k centroids + a min_by hash aggregate: map-side
    * combinable, single shuffle keyed on the vector id, identical
    * rounded-argmax tie rule (6dp score, then smallest centroid_id) as
    * training, so assign(train(X)) is self-consistent. */
  def kmeansAssign(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    kmeansScores(corpus, centroids, idCol, embCol).select(col(idCol), col("cluster_id"))

  /** [[kmeansAssign]] keeping the assignment's cosine score — the
    * vector's similarity to its own cluster center, i.e. how well the
    * learned structure explains it. Same broadcast-crossJoin + single
    * min_by/max hash aggregate (the max cosine IS the argmax centroid's
    * score under the shared 6dp-then-id tie rule). */
  def kmeansScores(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val cents = broadcast(
      centroids
        .select(col("centroid_id"), snappedCent(col("cent_emb"), corpus, embCol).as("cent_emb"))
        .withColumn("cent_nrm", norm(col("cent_emb"))))
    corpus
      .select(col(idCol), col(embCol), norm(col(embCol)).as("__nrm"))
      .crossJoin(cents)
      .select(
        col(idCol),
        col("centroid_id"),
        round(cosineWithNorms(col(embCol), col("cent_emb"), col("__nrm"), col("cent_nrm")), 6)
          .as("cscore"))
      .groupBy(idCol)
      .agg(
        min_by(col("centroid_id"), struct(-col("cscore"), col("centroid_id"))).as("cluster_id"),
        max(col("cscore")).as("score"))
  }

  /** Embedding-space OUTLIERS: vectors whose cosine to their own k-means
    * centroid falls at or below the corpus's p-quantile of that score —
    * "the docs no cluster explains", the embedding-side counterpart of
    * the text-quality filters (mislabeled scrapes, encoding wrecks, and
    * off-distribution content pool here). Threshold via the mergeable
    * bottom-k-by-hash quantile sketch (Profile.sampleQuantiles), so the
    * whole op is: Lloyd's (broadcast argmax passes) + one score
    * aggregate + a TakeOrdered sample + one map-side broadcast compare —
    * nothing sorts the corpus globally. */
  def embeddingOutliers(
      corpus: DataFrame,
      k: Int = 4,
      iters: Int = 2,
      p: Double = 0.1,
      sampleK: Int = 256,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // scored feeds BOTH the threshold sample and the final filter; pin the
    // k-row centroid frame so the Lloyd chain runs once, not once per
    // branch (the two scoring passes themselves are the documented 2-pass
    // sketch-threshold shape, same as quality selection)
    val cents = kmeansCentroids(corpus, k = k, iters = iters, idCol = idCol, embCol = embCol)
      .localCheckpoint()
    val scored = kmeansScores(corpus, cents, idCol, embCol)
    val thr = Profile.sampleQuantiles(scored, "score", col(idCol), k = sampleK, ps = Seq(p))
      .select(col("q").as("__thr"))
    scored
      .crossJoin(broadcast(thr))
      .where(col("score") <= col("__thr"))
      .select(col(idCol), col("cluster_id"), col("score"))
  }

  /** Per-cluster corpus profile: k-means the embedding column, assign every
    * vector, and report each cluster's size, dominant label and label
    * purity — the "is my corpus's latent structure aligned with its
    * declared categories" curation readout (low purity = labels and
    * content disagree; a tiny cluster = an outlier pocket worth eyeballing
    * before it trains). Beyond the Lloyd's passes, the cost is one
    * (cluster, label) hash aggregate then a k·|labels|-row reduction —
    * nothing downstream of the corpus scan exceeds k·|labels| rows. Ties
    * on the dominant label break to the smallest label value. */
  def clusterProfile(
      corpus: DataFrame,
      labelCol: String = "label",
      k: Int = 4,
      iters: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(corpus, k = k, iters = iters, idCol = idCol, embCol = embCol)
    val assigned = kmeansAssign(corpus, cents, idCol, embCol)
      .join(corpus.select(col(idCol), col(labelCol)), idCol)
    assigned
      .groupBy(col("cluster_id"), col(labelCol))
      .agg(count(lit(1)).as("ln"))
      .groupBy("cluster_id")
      .agg(
        sum(col("ln")).as("n"),
        min_by(col(labelCol), struct(-col("ln"), col(labelCol))).as("top_label"),
        round(max(col("ln")).cast("double") / sum(col("ln")), 6).as("purity"))
  }

  /** Corpus-level external clustering validation against a ground-truth
    * label column: PURITY (Σ_clusters max-label count / N) and ADJUSTED
    * RAND INDEX (Hubert & Arabie 1985 — pair-counting agreement corrected
    * for chance; 1.0 = identical partitions, ≈0 = random assignment,
    * negative = worse than chance) — the two indices curation readouts
    * actually quote, complementing [[clusterProfile]]'s per-cluster rows.
    *
    * Everything after the assignment argmax runs on the (cluster, label)
    * CONTINGENCY TABLE — k·|labels| rows of metadata — so the corpus is
    * touched exactly as often as [[kmeansAssign]] touches it and the
    * index arithmetic is aggregate-only (no window over data). Returns
    * ONE row: (n, n_clusters, n_labels, purity, ari).
    *
    * Degenerate agreement (both partitions trivial — e.g. one cluster,
    * one label — makes the chance correction 0/0): ARI is 1.0 by
    * convention, matching scikit-learn's adjusted_rand_score. */
  def clusterQuality(
      corpus: DataFrame,
      labelCol: String = "label",
      k: Int = 4,
      iters: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(corpus, k = k, iters = iters, idCol = idCol, embCol = embCol)
      .localCheckpoint(true)
    val assigned = kmeansAssign(corpus, cents, idCol, embCol)
      .join(corpus.select(col(idCol), col(labelCol).as("__cq_lbl")), idCol)
    partitionAgreement(assigned, "cluster_id", "__cq_lbl")
  }

  /** The index arithmetic behind [[clusterQuality]], usable on ANY pair of
    * discrete columns (k-means vs labels, two different clusterings, LSH
    * buckets vs categories): purity of `aCol` against `bCol` and the
    * symmetric Adjusted Rand Index, from the contingency table alone. */
  def partitionAgreement(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cont = df.groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("nij"))
    def c2(c: Column): Column = (c * (c - lit(1)) / lit(2)).cast("double")
    val byCluster = cont.groupBy(aCol)
      .agg(sum(col("nij")).as("ai"), max(col("nij")).as("maxl"))
      .agg(sum(c2(col("ai"))).as("sum_a"), sum(col("maxl")).as("pure_n"),
        count(lit(1)).as("n_clusters"), sum(col("ai")).as("n"))
    val byLabel = cont.groupBy(bCol).agg(sum(col("nij")).as("bj"))
      .agg(sum(c2(col("bj"))).as("sum_b"), count(lit(1)).as("n_labels"))
    val sumIj = cont.agg(sum(c2(col("nij"))).as("sum_ij"))
    byCluster.crossJoin(byLabel).crossJoin(sumIj)
      .select(
        col("n"), col("n_clusters"), col("n_labels"),
        round(col("pure_n").cast("double") / col("n"), 6).as("purity"),
        {
          val expected = col("sum_a") * col("sum_b") / c2(col("n"))
          val maxIdx = (col("sum_a") + col("sum_b")) / lit(2.0)
          when(maxIdx === expected, lit(1.0))
            .otherwise(round((col("sum_ij") - expected) / (maxIdx - expected), 6))
            .as("ari")
        })
  }

  // double-array kernels: the same native codegen Expressions the float
  // paths use (graft.functions.VecOps dispatches on the element type), so
  // the k-means iteration carries no ScalaUDF nodes — no per-row boxing
  // across `iters` full corpus passes
  private def dotD(a: Column, b: Column): Column = graft.functions.DotF(a, b)
  private def normD(a: Column): Column = graft.functions.NormF(a)

  /** Per-band sign-LSH bucket: band `band_idx` hashes dims
    * [band_idx*bits+1, band_idx*bits+bits] to their sign pattern. Portable
    * SQL arithmetic (mirrors the DuckDB oracle exactly). */
  def bandBucketExpr(embCol: String, bits: Int, bandIdxCol: String): Column =
    expr(
      s"""aggregate(sequence(1, $bits), cast(0 as bigint), (acc, i) ->
         |  acc + CASE WHEN element_at($embCol, cast($bandIdxCol * $bits + i as int)) > 0
         |             THEN shiftleft(cast(1 as bigint), i - 1) ELSE cast(0 as bigint) END)"""
        .stripMargin)

  /** Band-width sizing rule for the embedding LSH (the [[nlistFor]] twin):
    * bits ≈ log2(N) holds expected bucket occupancy N/2^bits at O(1), so
    * candidate volume stays near-linear as the corpus grows — a fixed
    * width is an all-pairs join delayed, not avoided (at 10× data a fixed
    * bucket set quadruples-squared the per-bucket pair count). Clamped so
    * bands×bits never exceeds the embedding dimension. Law-tested:
    * measured candidate volume at N and 10N with the rescaled bits grows
    * sub-quadratically. */
  def bitsFor(n: Long, bands: Int = 4, dim: Int = 64, minBits: Int = 4): Int =
    math.max(minBits, math.min(dim / bands,
      math.ceil(math.log(math.max(n, 2L).toDouble) / math.log(2.0)).toInt))

  /** Near-duplicate pairs by embedding cosine >= threshold, candidates from
    * multi-band random-hyperplane LSH: two vectors are candidates iff ALL
    * `bits` sign bits agree in SOME band — an equi-join on
    * (band_idx, bucket), never all-pairs.
    *
    * Scale tuning: bucket count per band is 2^bits, so expected bucket
    * occupancy is N/2^bits — set bits ≈ log2(N) ([[bitsFor]]) to hold
    * candidate volume near-linear (a single fixed-width bucket set is an
    * all-pairs join delayed, not avoided). `bands` trades recall against
    * candidate volume; bands*bits must be <= the embedding dimension.
    * Hyperplanes here are axis-aligned (deterministic, engine-portable); a
    * production pipeline swaps in random-projection signs — the operator
    * shape is unchanged. Candidates colliding in several bands are scored
    * once per collision and deduplicated; the overcount is bounded by
    * `bands`. */
  def cosineNearDupPairs(
      corpus: DataFrame,
      threshold: Double = 0.8,
      bands: Int = 4,
      bits: Int = 6,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    bandedCandidatePairs(corpus, bands, bits, idCol, embCol)
      .select(
        col("a_id"),
        col("b_id"),
        round(cosineWithNorms(col("a_emb"), col("b_emb"), col("a_nrm"), col("b_nrm")), 6)
          .as("score"))
      .where(col("score") >= threshold)
      .distinct()

  /** LSH candidate generation stage of cosineNearDupPairs (exposed for
    * candidate-volume testing: candidates must stay ≪ N^2). NOT
    * deduplicated across bands. */
  private[graft] def bandedCandidatePairs(
      corpus: DataFrame,
      bands: Int,
      bits: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // literal-sequence explode then derive the bucket above the Generate
    // (same optimizer-shape reasoning as Dedup.minhashPairs)
    val ex = embeddingBands(corpus, bands, bits, idCol, embCol)
    val a = ex.select(
      col(idCol).as("a_id"), col("emb").as("a_emb"), col("nrm").as("a_nrm"),
      col("band_idx"), col("bucket"))
    val b = ex.select(
      col(idCol).as("b_id"), col("emb").as("b_emb"), col("nrm").as("b_nrm"),
      col("band_idx"), col("bucket"))
    a.join(b, Seq("band_idx", "bucket")).where(col("a_id") < col("b_id"))
  }

  /** Per-vector band rows (id, emb, nrm, band_idx, bucket) — the
    * persistable embedding-LSH index, the vector-side twin of
    * Dedup.minhashBands. A continuously-fed corpus persists this table
    * and appends each batch's rows, so arriving vectors near-dedup
    * against the whole corpus via [[cosineNearDupIncremental]]'s band
    * equi-join instead of a corpus rescan. */
  def embeddingBands(
      corpus: DataFrame,
      bands: Int = 4,
      bits: Int = 6,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    // the caller's id column name is PRESERVED (like minhashBands keeps
    // doc_id) so a persisted index records which id it was built from;
    // emb/nrm/band_idx/bucket are the index's own fixed names
    corpus
      .select(col(idCol), col(embCol).as("emb"), norm(col(embCol)).as("nrm"))
      .select(col(idCol), col("emb"), col("nrm"),
        explode(sequence(lit(0), lit(bands - 1))).as("band_idx"))
      .withColumn("bucket", bandBucketExpr("emb", bits, "band_idx"))

  /** Incremental embedding near-dup: drop new vectors whose cosine against
    * ANY indexed vector reaches `threshold`. Candidates come from the
    * (band_idx, bucket) equi-join of the batch's bands against the
    * persisted [[embeddingBands]] index — work scales with bucket
    * occupancy, never corpus size — and the dropped-id set is batch-sized,
    * driving one left-anti join back onto the batch. */
  def cosineNearDupIncremental(
      newVecs: DataFrame,
      index: DataFrame,
      threshold: Double = 0.8,
      bands: Int = 4,
      bits: Int = 6,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // cheap sanity on the persisted index (limit-1 read): the stored
    // vectors must have room for bands*bits sign dims. Bucket geometry
    // itself (which dims each band hashed) isn't recoverable from rows —
    // callers own the bands/bits contract, same as minhashIncremental.
    index.select(size(col("emb"))).head(1).headOption.foreach { r =>
      require(r.getInt(0) >= bands * bits,
        s"index vectors have ${r.getInt(0)} dims < bands*bits = ${bands * bits}")
    }
    val nb = embeddingBands(newVecs, bands, bits, idCol, embCol)
      .select(
        col(idCol), col("emb").as("__nemb"), col("nrm").as("__nnrm"),
        col("band_idx"), col("bucket"))
    val dup = nb
      .join(
        index.select(
          col("emb").as("__oemb"), col("nrm").as("__onrm"),
          col("band_idx"), col("bucket")),
        Seq("band_idx", "bucket"))
      .where(
        round(cosineWithNorms(col("__nemb"), col("__oemb"), col("__nnrm"), col("__onrm")), 6)
          >= threshold)
      .select(col(idCol))
      .distinct()
    newVecs.join(dup, Seq(idCol), "left_anti")
  }

  /** Product quantization ANN (PQ + ADC, the billion-scale FAISS core):
    * the vector space splits into `m` subspaces, each trained to a tiny
    * spherical-k-means codebook ([[kmeansCentroids]] per slice — the same
    * rounded-argmax Lloyd's the IVF path uses), and every vector encodes
    * to m ONE-BYTE codes — at 64 dims × float32, a 128× index compression,
    * which is what makes billion-vector ANN fit in memory at all.
    * Queries score by Asymmetric Distance Computation: an m×k lookup
    * table of (query-subvector · codeword) dot products per probe, so the
    * corpus-side pass is a broadcast-join + per-pair SUM of m table
    * entries — no per-pair vector math. The per-query shortlist re-ranks
    * with exact cosine on raw vectors.
    *
    * Determinism: codes come from the 6dp-rounded argmax (engine-exact);
    * table entries are exact in-order dot folds; with m = 2 the per-pair
    * sum of two doubles is order-free (IEEE addition is commutative), so
    * the 6dp-rounded approximate ranking is engine-exact too. For m > 2
    * the sum order would need the same rounding quarantine avg() gets
    * elsewhere. Subspace slices must have nonzero norms (cosine codebooks;
    * holds for dense embeddings). */
  def pqTopK(
      corpus: DataFrame,
      probes: DataFrame,
      m: Int = 2,
      k: Int = 4,
      iters: Int = 2,
      topK: Int = 5,
      candidateFactor: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (codes, table) = pqEncode(corpus, probes, m, k, iters, idCol, embCol)
    val approx = codes
      .join(table, Seq("subspace", "code"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("tscore")), 6).as("iscore"))
    pqRerank(corpus, probes, approx, topK, candidateFactor, idCol, embCol)
  }

  /** Shared PQ machinery: train per-subspace codebooks, encode the corpus
    * to (neighbor_id, subspace, code), and build the broadcast ADC lookup
    * table (query_id, subspace, code, tscore). Used by [[pqTopK]] (flat
    * scan) and [[ivfpqTopK]] (coarse-cell-restricted scan). */
  private def pqEncode(
      corpus: DataFrame,
      probes: DataFrame,
      m: Int,
      k: Int,
      iters: Int,
      idCol: String,
      embCol: String): (DataFrame, DataFrame) = {
    // plan-time schema probe (one-row read, same class as the index-shape
    // guard in cosineNearDupIncremental): slice bounds must be literals
    val d = corpus.select(size(col(embCol))).head.getInt(0)
    require(d % m == 0, s"embedding dim $d not divisible by m=$m subspaces")
    val sub = d / m
    val codebooks = broadcast(pqTrainWith(corpus, m, k, iters, idCol, embCol, sub))
    val codes = pqEncodeWith(corpus, codebooks, m, sub, idCol, embCol)
      .withColumnRenamed(idCol, "neighbor_id")
    val table = broadcast(adcTableWith(probes, codebooks, m, sub, idCol, embCol))
    (codes, table)
  }

  /** (id, subspace, sub-vector) rows — ONE scan of `df`, the m subspaces
    * generated per row (posexplode of a sequence literal) instead of the
    * former m-branch union that re-scanned the input once per subspace
    * (m× the scan work and an m-wide plan for identical rows; the slice
    * commutes with the elementwise double cast, so values are unchanged). */
  private def pqSlices(
      df: DataFrame, m: Int, sub: Int,
      idCol: String, idAs: String, embCol: String, svAs: String): DataFrame =
    df.select(
        col(idCol).as(idAs),
        explode(sequence(lit(0), lit(m - 1))).as("subspace"),
        col(embCol).cast("array<double>").as("__full"))
      .select(
        col(idAs),
        col("subspace"),
        slice(col("__full"), col("subspace") * sub + 1, lit(sub)).as(svAs))

  /** Train per-subspace PQ codebooks — the PERSISTABLE half of the PQ
    * index ([[pqTopK]]'s internal training chain made a first-class
    * artifact): one spherical-k-means chain per contiguous subspace
    * slice, fp32-snapped for cross-engine parity. Output
    * (subspace, centroid_id, centd) — m·k rows of metadata, paid once at
    * index build; [[pqEncodeIndexed]] encodes arriving batches against
    * it and [[pqSearchIndexed]] answers from the stored codes, so the
    * corpus is never re-trained or re-encoded per query. Retrain on
    * [[ivfRetrainDue]]'s growth schedule, then re-encode once. */
  def pqTrain(
      corpus: DataFrame,
      m: Int,
      k: Int = 4,
      iters: Int = 2,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val d = corpus.select(size(col(embCol))).head.getInt(0)
    require(d % m == 0, s"embedding dim $d not divisible by m=$m subspaces")
    pqTrainWith(corpus, m, k, iters, idCol, embCol, d / m)
  }

  /** All m subspaces' k-means chains FUSED into one lockstep Lloyd's loop
    * keyed on `subspace` (VERDICT r16: the per-subspace chains serialized
    * m × iters × ~3 stage materializations of tiny aggregates — chain
    * LENGTH, not compute, dominated the q_ann training rows). Each fused
    * iteration is the same broadcast-argmax + rounded-mean pair
    * kmeansCentroids runs, grouped by (subspace, …) instead of m separate
    * jobs; ONE localCheckpoint pins the m·k-row codebook where the union
    * used to pin m times. Per (subspace, vid) the candidate set, the 6dp
    * rounded argmax, and the 9dp rounded means are the SAME VALUES as the
    * per-subspace chains — the 9dp round exists precisely to absorb
    * partition-order summation noise (kmeansCentroids' own documented
    * invariant), so the trained codebooks are unchanged (law-spec'd). */
  private def pqTrainWith(
      corpus: DataFrame, m: Int, k: Int, iters: Int,
      idCol: String, embCol: String, sub: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slices = pqSlices(corpus, m, sub, idCol, "vid", embCol, "v")
    // init: the k smallest-id vectors, sliced into every subspace and
    // ranked by id — kmeansCentroids' orderBy(id).limit(k) + row_number
    // init applied per subspace (ids are unique). The k-row top-k runs
    // before the explode, so the corpus is never sorted.
    var centroids = pqSlices(corpus.orderBy(col(idCol)).limit(k), m, sub, idCol, "vid", embCol, "v")
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("subspace")).orderBy(col("vid"))))
      .select(
        col("subspace"),
        col("__rn").cast("long").as("centroid_id"),
        col("v").as("cent_emb"))
    (1 to iters).foreach { _ =>
      val c = broadcast(centroids)
      val assigned = slices
        .join(c, Seq("subspace"))
        .select(
          col("subspace"),
          col("vid"),
          col("v"),
          col("centroid_id"),
          round(dotD(col("v"), col("cent_emb")) / (normD(col("v")) * normD(col("cent_emb"))), 6)
            .as("score"))
        .groupBy("subspace", "vid")
        .agg(
          first(col("v")).as("v"),
          min_by(col("centroid_id"), struct(-col("score"), col("centroid_id"))).as("centroid_id"))
      centroids = assigned
        .select(col("subspace"), col("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("subspace", "centroid_id", "pos")
        .agg(round(avg("x"), 9).as("m"))
        .groupBy("subspace", "centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(
          col("subspace"),
          col("centroid_id"),
          transform(col("pm"), p => p.getField("m")).as("cent_emb"))
    }
    centroids
      .localCheckpoint()
      .select(
        col("subspace"),
        col("centroid_id"),
        col("cent_emb").cast("array<float>").cast("array<double>").as("centd"))
  }

  // (m, sub) read from a codebook frame: one driver probe of the
  // metadata-sized table, never of the corpus
  private def codebookShape(codebooks: DataFrame): (Int, Int) = {
    val r = codebooks.agg(max(col("subspace")), min(size(col("centd")))).head()
    (r.getInt(0) + 1, r.getInt(1))
  }

  private def pqEncodeWith(
      batch: DataFrame, codebooks: DataFrame, m: Int, sub: Int,
      idCol: String, embCol: String): DataFrame =
    pqSlices(batch, m, sub, idCol, idCol, embCol, "sv")
      .join(codebooks, Seq("subspace"))
      .select(
        col(idCol), col("subspace"), col("centroid_id"),
        round(dotD(col("sv"), col("centd")) / (normD(col("sv")) * normD(col("centd"))), 6)
          .as("cs"))
      .groupBy(col(idCol), col("subspace"))
      .agg(min_by(col("centroid_id"), struct(-col("cs"), col("centroid_id"))).as("code"))

  private def adcTableWith(
      probes: DataFrame, codebooks: DataFrame, m: Int, sub: Int,
      idCol: String, embCol: String): DataFrame =
    pqSlices(probes, m, sub, idCol, "query_id", embCol, "qv")
      .join(codebooks, Seq("subspace"))
      .select(
        col("query_id"), col("subspace"), col("centroid_id").as("code"),
        dotD(col("qv"), col("centd")).as("tscore"))

  /** Encode a batch against FIXED trained codebooks — (idCol, subspace,
    * code), m one-byte codewords per vector: the persisted PQ code table.
    * Append-only across batches (ids disjoint; encoding is per-row map
    * work against the broadcast codebooks, so the union of per-batch
    * encodes EQUALS the whole-corpus encode — law-tested). Same rounded-
    * argmax rule as the training-time encode, so indexed == flat
    * exactly. */
  def pqEncodeIndexed(
      batch: DataFrame,
      codebooks: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (m, sub) = codebookShape(codebooks)
    pqEncodeWith(batch, broadcast(codebooks), m, sub, idCol, embCol)
  }

  /** ADC search over PERSISTED codes — the production face of [[pqTopK]]:
    * the query builds its m×k lookup table against the broadcast
    * codebooks (query-sized), candidates score by the table-lookup SUM
    * over the stored (id, subspace, code) rows (no per-pair vector math,
    * the corpus vectors untouched), and only the per-query shortlist
    * re-ranks exact against `corpus` (shortlist-sized point lookups).
    * Answers EQUAL [[pqTopK]] with the same codebooks — law-tested and
    * oracle-shared. */
  def pqSearchIndexed(
      codes: DataFrame,
      codebooks: DataFrame,
      corpus: DataFrame,
      probes: DataFrame,
      topK: Int = 5,
      candidateFactor: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (m, sub) = codebookShape(codebooks)
    val table = broadcast(
      adcTableWith(probes, broadcast(codebooks), m, sub, idCol, embCol))
    val approx = codes
      .select(col(idCol).as("neighbor_id"), col("subspace"), col("code"))
      .join(table, Seq("subspace", "code"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("tscore")), 6).as("iscore"))
    pqRerank(corpus, probes, approx, topK, candidateFactor, idCol, embCol)
  }

  /** IVF-PQ search over PERSISTED state — the production face of
    * [[ivfpqTopK]], composing the two stored index legs: the coarse
    * [[ivfAssign]] assignment table restricts each query to its
    * `nprobe` probed cells (centroid_id equi-join — ~nprobe/nlist of the
    * corpus), the stored [[pqEncodeIndexed]] codes score those
    * candidates by the broadcast ADC table, and the shortlist re-ranks
    * exact against the assignment's own raw vectors. A query is
    * query-sized work against three stored tables; nothing re-assigns,
    * re-trains, or re-encodes. */
  def ivfpqSearchIndexed(
      assignment: DataFrame,
      codes: DataFrame,
      codebooks: DataFrame,
      centroids: DataFrame,
      probes: DataFrame,
      nprobe: Int = 2,
      topK: Int = 5,
      candidateFactor: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (m, sub) = codebookShape(codebooks)
    val cents = broadcast(
      centroids.select(
        col("centroid_id"),
        snappedCent(col("cent_emb"), probes, embCol).as("cent_emb"))
        .withColumn("cent_nrm", norm(col("cent_emb"))))
    val probed = {
      val w = Window.partitionBy("query_id").orderBy(col("cscore").desc, col("centroid_id").asc)
      probes
        .select(col(idCol).as("query_id"), col(embCol).as("q_emb"), norm(col(embCol)).as("q_nrm"))
        .crossJoin(cents)
        .select(
          col("query_id"), col("centroid_id"),
          round(cosineWithNorms(col("q_emb"), col("cent_emb"), col("q_nrm"), col("cent_nrm")), 6)
            .as("cscore"))
        .withColumn("crank", row_number().over(w))
        .where(col("crank") <= nprobe)
        .select(col("query_id"), col("centroid_id"))
    }
    val candidates = probed
      .join(
        assignment.select(col(idCol).as("neighbor_id"), col("centroid_id")),
        Seq("centroid_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val table = broadcast(
      adcTableWith(probes, broadcast(codebooks), m, sub, idCol, embCol))
    val approx = candidates
      .join(
        codes.select(col(idCol).as("neighbor_id"), col("subspace"), col("code")),
        Seq("neighbor_id"))
      .join(table, Seq("query_id", "subspace", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("tscore")), 6).as("iscore"))
    pqRerank(
      assignment.select(col(idCol), col(embCol)), probes, approx,
      topK, candidateFactor, idCol, embCol)
  }

  /** Shared PQ tail: window the approximate scores to a per-query
    * shortlist, then re-rank the shortlist with exact cosine on raw
    * vectors — shortlist-sized, never corpus-sized. */
  private def pqRerank(
      corpus: DataFrame,
      probes: DataFrame,
      approx: DataFrame,
      topK: Int,
      candidateFactor: Int,
      idCol: String,
      embCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("iscore").desc, col("neighbor_id").asc)
    val shortlist = approx
      .withColumn("crank", row_number().over(w))
      .where(col("crank") <= topK * candidateFactor)
      .select(col("query_id"), col("neighbor_id"))
    val qside = broadcast(probes.select(
      col(idCol).as("query_id"), col(embCol).as("q_emb"), norm(col(embCol)).as("q_nrm")))
    val cside = corpus.select(
      col(idCol).as("neighbor_id"), col(embCol).as("c_emb"), norm(col(embCol)).as("c_nrm"))
    topKPerQuery(
      shortlist
        .join(qside, Seq("query_id"))
        .join(cside, Seq("neighbor_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          round(cosineWithNorms(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")), 6)
            .as("score")),
      topK)
  }

  /** IVF-PQ — the two FAISS index legs composed, which is the actual
    * billion-scale recipe (IndexIVFPQ): an IVF coarse quantizer restricts
    * each query's scan to `nprobe` of `nlist` cells, and WITHIN the probed
    * cells vectors score by the PQ ADC table-lookup sum (global codebooks —
    * the non-residual IVFPQ variant, so codes are query-independent and the
    * index is buildable in one corpus pass). The shortlist re-ranks exact.
    *
    * Scale shape: candidate pairs = probed cells' members only (~nprobe/
    * nlist of the corpus per query), the ADC join carries m rows per
    * candidate against a broadcast m×k table, and both the coarse
    * assignment and the encoding are partial-aggregable min_by hash
    * aggregates. The coarse quantizer here is the same deterministic
    * first-nlist sample [[ivfTopK]] defaults to ([[kmeansCentroids]] slots
    * in via the same argmax for a learned one). */
  def ivfpqTopK(
      corpus: DataFrame,
      probes: DataFrame,
      nlist: Int = 8,
      nprobe: Int = 2,
      m: Int = 2,
      k: Int = 4,
      iters: Int = 2,
      topK: Int = 5,
      candidateFactor: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centroids = broadcast(
      corpus
        .orderBy(col(idCol))
        .limit(nlist)
        .select(
          col(idCol).as("centroid_id"),
          col(embCol).as("cent_emb"),
          norm(col(embCol)).as("cent_nrm")))
    def cellScores(df: DataFrame, idAs: String): DataFrame =
      df.select(col(idCol).as(idAs), col(embCol).as("e"), norm(col(embCol)).as("n"))
        .crossJoin(centroids)
        .select(
          col(idAs),
          col("centroid_id"),
          round(cosineWithNorms(col("e"), col("cent_emb"), col("n"), col("cent_nrm")), 6)
            .as("cscore"))
    // corpus side: argmax cell per vector (min_by hash agg — see ivfTopK)
    val assigned = cellScores(corpus, "neighbor_id")
      .groupBy("neighbor_id")
      .agg(min_by(col("centroid_id"), struct(-col("cscore"), col("centroid_id")))
        .as("centroid_id"))
    // probe side: top-nprobe cells (probe set is small by contract)
    val probed = {
      val w = Window.partitionBy("query_id").orderBy(col("cscore").desc, col("centroid_id").asc)
      cellScores(probes, "query_id")
        .withColumn("crank", row_number().over(w))
        .where(col("crank") <= nprobe)
        .select(col("query_id"), col("centroid_id"))
    }
    val candidates = probed
      .join(assigned, Seq("centroid_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val (codes, table) = pqEncode(corpus, probes, m, k, iters, idCol, embCol)
    val approx = candidates
      .join(codes, Seq("neighbor_id"))
      .join(table, Seq("query_id", "subspace", "code"))
      .groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("tscore")), 6).as("iscore"))
    pqRerank(corpus, probes, approx, topK, candidateFactor, idCol, embCol)
  }

  /** SQ8 scalar-quantized ANN (FAISS's SQ8 idea): embeddings quantize onto
    * a corpus-global 0..255 grid — at rest that index is ONE BYTE per
    * dimension, a 4× memory/IO compression against float32, which at 100 TB
    * is the difference between an in-memory index and a disk-bound one.
    * Candidates rank by the quantized dot product, then only the per-query
    * shortlist (k × candidateFactor) is re-ranked with exact cosine on the
    * raw vectors.
    *
    * Determinism: the quantized codes are integer-valued (kept in doubles so
    * the codegen DotF kernel applies — products ≤ 255² and 4096-dim sums
    * stay far under 2⁵³, so the arithmetic is EXACT, not approximately
    * rounded), which makes the candidate ranking hash-exact across engines
    * with no fp-rounding quarantine at all; only the final re-rank rounds.
    * The grid is one broadcast (lo, hi) row; a degenerate constant corpus
    * (hi == lo) quantizes to all-zeros rather than dividing by zero. */
  def sq8TopK(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int = 5,
      candidateFactor: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = broadcast(
      corpus
        .select(explode(col(embCol)).as("x"))
        .agg(min(col("x")).cast("double").as("lo"), max(col("x")).cast("double").as("hi")))
    // identical double arithmetic on both engines: exact float->double
    // widening, then ((x - lo) / (hi - lo)) * 255 in this exact order
    def quant(v: Column): Column =
      transform(v, x =>
        least(
          greatest(
            when(col("hi") > col("lo"),
              floor((x.cast("double") - col("lo")) / (col("hi") - col("lo")) * lit(255.0)))
              .otherwise(lit(0.0)),
            lit(0.0)),
          lit(255.0)))
    val cq = corpus
      .crossJoin(grid)
      .select(
        col(idCol).as("neighbor_id"),
        col(embCol).as("c_emb"),
        norm(col(embCol)).as("c_nrm"),
        quant(col(embCol)).as("c_q"))
    val pq = broadcast(
      probes
        .crossJoin(grid)
        .select(
          col(idCol).as("query_id"),
          col(embCol).as("q_emb"),
          norm(col(embCol)).as("q_nrm"),
          quant(col(embCol)).as("q_q")))
    val approx = cq
      .crossJoin(pq)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm"),
        dotD(col("q_q"), col("c_q")).as("iscore"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("iscore").desc, col("neighbor_id").asc)
    val shortlist = approx
      .withColumn("crank", row_number().over(w))
      .where(col("crank") <= k * candidateFactor)
    topKPerQuery(
      shortlist.select(
        col("query_id"),
        col("neighbor_id"),
        round(cosineWithNorms(col("q_emb"), col("c_emb"), col("q_nrm"), col("c_nrm")), 6)
          .as("score")),
      k)
  }


  // ===== PCA / whitening ==================================================
  //
  // Linear dimensionality reduction over the embedding column — the
  // standard preprocessing rung under PQ/IVF (FAISS couples PCA + PQ for
  // exactly this reason): rotate into the covariance eigenbasis, keep the
  // top-k variance directions, optionally whiten. The 100 TB shape is the
  // whole point: fitting needs ONE corpus pass through a constant-state
  // aggregate ([[graft.functions.VecMoments]] — count + sums + upper-
  // triangle Gram sums, elementwise-mergeable partials on the shuffle),
  // the d×d eigensolve is driver-side metadata work (microseconds for
  // d <= 1024, data never touches it), and projection is a plan-time
  // literal matrix baked into a compiled kernel
  // ([[graft.functions.ProjectF]]) — map-side, zero shuffle.

  /** Fitted PCA basis. `components(r)` is the r-th principal axis (unit
    * norm, descending `explainedVariance`); rows are mutually orthogonal.
    * Sign canonicalization: each axis flips so its largest-magnitude
    * coordinate is positive — eigenvector sign is arbitrary, pinning it
    * makes fits reproducible across partitionings and engines. */
  final case class PcaModel(
      n: Long,
      mean: Array[Double],
      explainedVariance: Array[Double],
      components: Array[Array[Double]]) {
    def dim: Int = mean.length
  }

  /** The raw one-pass moments: (n, sums, upper-triangle Gram sums). */
  private def momentsOf(df: DataFrame, embCol: String, dim: Int): Array[Double] =
    df.agg(graft.functions.VecMoments.moments(col(embCol), dim).as("m"))
      .head().getSeq[Double](0).toArray

  /** INCREMENTAL PCA, the persisted-state face (the same batch-maintenance
    * contract as Profile.statsOf / Dedup.*Incremental): [[pcaMoments]]
    * reduces a batch to ONE mergeable row — (dim, the VecMoments state) —
    * [[pcaMergeMoments]] folds two such rows with elementwise addition
    * (the sums are set-additive, so per-batch maintenance equals the
    * whole-corpus pass exactly, never a rescan), and [[pcaFromMoments]] /
    * [[pcaCovarianceFromMoments]] finalize a model or the covariance
    * frame from the accumulated row. A continuous crawl keeps one
    * dim²/2-sized parquet row per corpus and refreshes its PCA basis per
    * append at batch cost. */
  def pcaMoments(df: DataFrame, embCol: String = "embedding", dim: Int = 64): DataFrame =
    df.agg(graft.functions.VecMoments.moments(col(embCol), dim).as("m"))
      .select(lit(dim).as("dim"), col("m"))

  /** Merge two [[pcaMoments]] rows; a dim mismatch fails loudly (the
    * states are not alignable), mirroring mergeStats' carried-k guard. */
  def pcaMergeMoments(a: DataFrame, b: DataFrame): DataFrame = {
    val dimOk = when(col("dim") === col("dimb"), col("dim"))
      .otherwise(raise_error(concat(
        lit("pcaMergeMoments: dim mismatch ("), col("dim"),
        lit(" vs "), col("dimb"), lit(")"))))
    a.crossJoin(b.select(col("dim").as("dimb"), col("m").as("mb")))
      .select(
        dimOk.as("dim"),
        zip_with(col("m"), col("mb"), (x, y) => x + y).as("m"))
  }

  private def momentsRow(moments: DataFrame): (Int, Array[Double]) = {
    val r = moments.head()
    (r.getInt(0), r.getSeq[Double](1).toArray)
  }

  /** Finalize a model from accumulated moments — [[pcaFit]] minus the scan. */
  def pcaFromMoments(moments: DataFrame): PcaModel = {
    val (dim, m) = momentsRow(moments)
    fitFromState(m, dim)
  }

  /** Covariance frame from accumulated moments — the oracle face of the
    * incremental path (q_embed_pca_cov_inc replays it whole-corpus). */
  def pcaCovarianceFromMoments(moments: DataFrame): DataFrame = {
    val (dim, m) = momentsRow(moments)
    covFrame(moments.sparkSession, m, dim)
  }

  /** Sample covariance entries as a frame — the ORACLE face of the fit:
    * one row per (i, j), i <= j, with per-dimension means and
    * cov_ij = (Σx_i·x_j − n·μ_i·μ_j) / (n − 1), all from the single
    * [[graft.functions.VecMoments]] pass. The emitted frame is d·(d+1)/2
    * rows of metadata (driver-built, bounded by dim², never by data). */
  def pcaCovariance(df: DataFrame, embCol: String = "embedding", dim: Int = 64): DataFrame =
    covFrame(df.sparkSession, momentsOf(df, embCol, dim), dim)

  private def covFrame(
      spark: org.apache.spark.sql.SparkSession, m: Array[Double], dim: Int): DataFrame = {
    val n = m(0)
    require(n >= 2.0, s"covariance needs >= 2 rows, got ${n.toLong}")
    val rows = for { i <- 0 until dim; j <- i until dim } yield {
      val s = m(graft.functions.VecMoments.triOffset(dim, i, j))
      val mi = m(1 + i) / n
      val mj = m(1 + j) / n
      (i, j, mi, mj, (s - n * mi * mj) / (n - 1.0))
    }
    import spark.implicits._
    rows.toDF("i", "j", "mean_i", "mean_j", "cov")
  }

  /** Fit PCA in one corpus pass + a driver-side d×d Jacobi eigensolve. */
  def pcaFit(df: DataFrame, embCol: String = "embedding", dim: Int = 64): PcaModel =
    fitFromState(momentsOf(df, embCol, dim), dim)

  private def fitFromState(m: Array[Double], dim: Int): PcaModel = {
    val n = m(0)
    require(n >= 2.0, s"PCA needs >= 2 rows, got ${n.toLong}")
    val mean = Array.tabulate(dim)(i => m(1 + i) / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      (m(graft.functions.VecMoments.triOffset(dim, a, b)) - n * mean(i) * mean(j)) / (n - 1.0)
    }
    val (vals, vecs) = jacobiEig(cov)
    val order = vals.indices.sortBy(i => -vals(i))
    val comps = order.map { c =>
      val v = Array.tabulate(dim)(r => vecs(r)(c))
      // sign pin: largest-|coordinate| positive (first index wins ties)
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v.map(x => -x) else v
    }.toArray
    PcaModel(n.toLong, mean, order.map(vals(_)).toArray, comps)
  }

  /** Project `embCol` onto the top-k principal axes (append `outCol`,
    * array<double> length k). `whiten` divides each component by
    * sqrt(eigenvalue) for unit output variance (axes with eigenvalue
    * <= 0 — numerically flat directions — pass through unscaled).
    * Map-side only: the k×d matrix and mean are plan-time literals inside
    * the compiled [[graft.functions.ProjectF]] kernel. */
  def pcaProject(
      df: DataFrame, model: PcaModel, k: Int,
      embCol: String = "embedding", outCol: String = "pca",
      whiten: Boolean = false): DataFrame = {
    require(k >= 1 && k <= model.dim, s"k must be in [1, ${model.dim}]")
    // Top-k truncation (and whitening's "top-k carries the signal" reading)
    // is only meaningful on a variance-DESCENDING basis. An opqOrder-permuted
    // model interleaves strong and weak axes by design — truncating it would
    // silently drop strong axes permuted past position k, so it must be
    // projected at full dimension.
    val descending = (1 until model.dim).forall(r =>
      model.explainedVariance(r) <= model.explainedVariance(r - 1) + 1e-12)
    require(descending || k == model.dim,
      s"pcaProject: model axes are not variance-descending (opqOrder-permuted?); " +
        s"k=$k < dim=${model.dim} would drop strong axes — project at k == dim")
    val rows = model.components.take(k).zipWithIndex.map { case (row, r) =>
      val ev = model.explainedVariance(r)
      if (whiten && ev > 0) row.map(_ / math.sqrt(ev)) else row
    }
    val flat = rows.flatten
    df.withColumn(outCol, graft.functions.ProjectF(
      col(embCol), typedLit(model.mean.toSeq), typedLit(flat.toSeq)))
  }

  /** Johnson–Lindenstrauss random projection — the FIT-FREE rung of the
    * dimensionality-reduction ladder (Achlioptas 2003: Rademacher ±1/√k
    * entries satisfy the JL lemma): when even ONE fitting pass over
    * 100 TB is too dear, or as the cheap rotation ahead of SQ8/PQ/LSH,
    * project through a fixed sign matrix instead of a fitted PCA basis.
    * Distances are preserved in expectation (unbiased squared-norm
    * estimator, law-tested on real embeddings) at k = O(log n / ε²).
    *
    * The matrix entries derive from md5 parity of "i:j" (input dim :
    * output dim) — deterministic and engine-portable, so an independent
    * SQL replay reproduces the projection bit-for-bit (6dp), and every
    * executor of a 1000-node cluster rebuilds the identical matrix from
    * the plan literal. Driver builds k·d doubles (metadata-sized) and
    * bakes them into the compiled [[graft.functions.ProjectF]] kernel
    * with a zero mean — pure map-side whole-stage codegen, zero shuffle
    * (the pcaProject shape without the fit pass). */
  /** OPQ-style EIGENVALUE ALLOCATION (the parametric rotation of Ge et
    * al., "Optimized Product Quantization", CVPR 2013): permute a fitted
    * PCA basis so [[pqTopK]]'s m contiguous subspaces carry BALANCED
    * variance products — greedy, axes in descending-eigenvalue order,
    * each to the open subspace (dim/m capacity) with the smallest
    * log-variance product. A plain descending PCA order stacks all the
    * signal into the first subspace (its k centroids must code every
    * strong axis while the last subspace's centroids quantize noise);
    * balancing gives every codebook one share of the signal. Project
    * with [[pcaProject]] and feed [[pqTopK]].
    *
    * Measured (law-pinned): on the near-flat fixture spectrum the
    * allocation changes nothing (recall identical — r13's rotation
    * measurement stands); on a constructed anisotropic corpus
    * (two strong axes, two weak) it recovers recall the naive order
    * loses (0.70 → 0.75 at m=2, k=4). Driver-side metadata arithmetic
    * only — the corpus never moves. */
  def opqOrder(model: PcaModel, m: Int): PcaModel = {
    require(m >= 1 && model.dim % m == 0, s"m must divide dim ${model.dim}")
    val ev = model.explainedVariance
    val cap = model.dim / m
    val counts = Array.fill(m)(0)
    val logsum = Array.fill(m)(0.0)
    val asg = Array.fill(model.dim)(0)
    ev.indices.sortBy(i => (-ev(i), i)).foreach { i =>
      val s = (0 until m).filter(counts(_) < cap).minBy(s => (logsum(s), s))
      asg(i) = s
      counts(s) += 1
      logsum(s) += math.log(math.max(ev(i), java.lang.Double.MIN_NORMAL))
    }
    val order = (0 until m).flatMap(s => asg.indices.filter(asg(_) == s))
    PcaModel(
      model.n,
      model.mean,
      order.map(ev(_)).toArray,
      order.map(model.components(_)).toArray)
  }

  /** Apply a FIXED d×d rotation map-side: the k×d [[pcaProject]] kernel
    * with a zero mean — pure whole-stage-codegen map work, zero shuffle;
    * the matrix is a plan literal every executor rebuilds. `outCol`
    * defaults to replacing `embCol` so a rotated corpus keeps its schema
    * for the downstream PQ faces. */
  def rotate(
      df: DataFrame,
      rotation: Array[Array[Double]],
      embCol: String = "embedding",
      outCol: String = "embedding"): DataFrame = {
    val d = rotation.length
    require(d >= 1 && rotation.forall(_.length == d), "rotation must be square")
    df.withColumn(outCol, graft.functions.ProjectF(
      col(embCol), typedLit(Seq.fill(d)(0.0)), typedLit(rotation.flatten.toSeq)))
  }

  /** OPQ proper — the LEARNED rotation (Ge et al., "Optimized Product
    * Quantization", CVPR 2013, non-parametric solution): alternate
    *  (1) codebook training on the R-rotated corpus ([[pqTrain]]'s
    *      per-subspace spherical k-means), and
    *  (2) the orthogonal-Procrustes rotation update — R minimizing
    *      Σ‖R·x − q(R·x)‖² over orthogonal matrices, where q is the
    *      current PQ reconstruction: R = VUᵀ from the SVD of
    *      B = Σ x·qᵀ, computed here as the polar factor
    *      Bᵀ·(B·Bᵀ)^{-1/2} via the existing Jacobi eigensolve.
    * [[opqOrder]] is the parametric shortcut (permute a PCA basis);
    * this trains the rotation jointly with the codebooks — initialize
    * from `init` (an [[opqOrder]]-allocated PCA model, the paper's
    * recommended warm start) or identity.
    *
    * Scale shape: each round is (a) one map-side rotate (plan-literal
    * matrix, zero shuffle), (b) the PQ training chain (bounded Lloyd
    * aggregates), (c) ONE corpus scan reducing to the d×d cross
    * outer-product matrix via the mergeable [[graft.functions.VecOuter]]
    * aggregate — constant-size partial per partition, exactly the
    * VecMoments/PCA contract — and (d) an O(d³) driver-side polar
    * decomposition on metadata. The corpus is never collected; per-round
    * frames pin at the boundary so plans stay constant across rounds.
    * Rank-deficient B (degenerate corpora) clamps small eigenvalues, so
    * the factor stays well-defined; exact orthogonality is law-tested on
    * real embeddings.
    *
    * Every round scores its (R, codebooks) pair by the model's OWN
    * objective — the corpus-average cos(R·x, q), read off the same B
    * matrix for free as tr(R·B)/n — and the BEST round's pair is
    * returned, so the result never scores below the warm start in the
    * metric the search ranks by (alternation alone does not guarantee
    * that: recall@k and the objective are correlated, not identical,
    * and on small corpora a later round can wobble — measured, see the
    * law spec). Search with [[rotate]] + [[pqEncodeIndexed]] /
    * [[pqSearchIndexed]] against the returned codebooks — re-training
    * inside [[pqTopK]] would discard the joint optimization. */
  final case class OpqModel(
      rotation: Array[Array[Double]],
      codebooks: DataFrame,
      objective: Double)

  def opqTrain(
      corpus: DataFrame,
      m: Int,
      k: Int = 4,
      iters: Int = 2,
      rounds: Int = 3,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      init: Option[PcaModel] = None): OpqModel = {
    val d = corpus.select(size(col(embCol))).head.getInt(0)
    require(m >= 1 && d % m == 0, s"embedding dim $d not divisible by m=$m")
    require(rounds >= 1, "need at least one round")
    val sub = d / m
    var rot: Array[Array[Double]] = init match {
      case Some(mo) =>
        require(mo.dim == d, s"init model dim ${mo.dim} != corpus dim $d")
        mo.components.map(_.clone())
      case None => Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    }
    // The Procrustes step below maximizes Σ cos(R·x, q) — both sides of
    // the cross outer-product UNIT-NORMALIZED — not raw L2 ‖Rx − q‖²:
    // the codebooks (and the search) rank by COSINE, and on unit vectors
    // the two objectives coincide while raw L2 lets high-norm rows drag
    // the rotation off the ranking metric (measured: the L2 step walked
    // recall 1.0 → 0.975 off the warm start on the anisotropic law
    // corpus; the cosine step holds it). Codebooks still train on the
    // RAW rotated corpus — per-subspace cosine encoding is whole-vector-
    // scale-invariant, so normalizing there would change nothing but the
    // centroid means.
    // All-zero rows are EXCLUDED from the Procrustes scan, not divided:
    // x/0 is NaN, and VecOuter skips nulls but accumulates NaN — one such
    // row would poison B and the learned rotation. A zero vector carries
    // no direction, so dropping it from the (cosine) objective is the
    // correct semantics, not a workaround; codebooks still train on the
    // full rotated corpus.
    val unit = corpus
      .where(norm(col(embCol)) > 0)
      .withColumn(
        embCol, zip_with(col(embCol).cast("array<double>"),
          array_repeat(norm(col(embCol)), d), (x, n) => x / n))
    var best: OpqModel = null
    (1 to rounds).foreach { round =>
      // pin at the round boundary: the rotated frame feeds the Lloyd
      // chain, the encode, and the Procrustes scan
      val rotated = rotate(corpus, rot, embCol, embCol).localCheckpoint()
      val codebooks =
        pqTrainWith(rotated, m, k, iters, idCol, embCol, sub).localCheckpoint()
      // reconstruction q per vector: codes -> codewords, assembled in
      // subspace order (array_sort on the (subspace, centd) struct)
      val recon = pqEncodeWith(rotated, broadcast(codebooks), m, sub, idCol, embCol)
        .join(broadcast(codebooks),
          Seq("subspace")).where(col("code") === col("centroid_id"))
        .groupBy(col(idCol))
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("subspace"), col("centd")))),
          s => s.getField("centd"))).as("__q"))
      // B = Σ x̂·q̂ᵀ in ONE pass (x̂ in ORIGINAL axes, q̂ the normalized
      // reconstruction): max_R tr(R·B) = max Σ cos(Rx, q); d×d driver
      // matrix from the mergeable aggregate
      val st = unit.select(col(idCol), col(embCol).as("__x"))
        .join(recon, Seq(idCol))
        // same NaN door on the reconstruction side: an all-zero codeword
        // assembly (degenerate codebook cell) must drop out, not divide
        .where(norm(col("__q")) > 0)
        .withColumn("__qn", zip_with(
          col("__q"), array_repeat(norm(col("__q")), d), (x, n) => x / n))
        .agg(graft.functions.VecOuter.outer(
          col("__x").cast("array<double>"), col("__qn"), d, d).as("b"))
        .head().getSeq[Double](0).toArray
      val n = math.max(st(0), 1.0)
      val b = Array.tabulate(d, d)((i, j) => st(1 + i * d + j))
      // this round's pair scored by its OWN objective: avg cos(R·x, q)
      // = tr(R·B)/n — free, B is already on the driver
      val obj = {
        var s = 0.0; var i = 0
        while (i < d) { var t = 0; while (t < d) { s += rot(i)(t) * b(t)(i); t += 1 }; i += 1 }
        s / n
      }
      if (best == null || obj > best.objective) best = OpqModel(rot, codebooks, obj)
      if (round < rounds) {
        // polar factor of Bᵀ: BBᵀ = U·diag(λ)·Uᵀ  ⇒  R = Bᵀ·U·λ^{-1/2}·Uᵀ
        val bbt = Array.tabulate(d, d) { (i, j) =>
          var s = 0.0; var t = 0; while (t < d) { s += b(i)(t) * b(j)(t); t += 1 }; s
        }
        val (lam, u) = jacobiEig(bbt)
        val lamMax = math.max(lam.max, 1e-300)
        val invSqrt = lam.map(l => 1.0 / math.sqrt(math.max(l, 1e-12 * lamMax)))
        // R = Bᵀ · U · diag(invSqrt) · Uᵀ, composed driver-side
        val tmp = Array.tabulate(d, d) { (i, j) => // (Bᵀ·U)_{ij} · invSqrt_j
          var s = 0.0; var t = 0; while (t < d) { s += b(t)(i) * u(t)(j); t += 1 }
          s * invSqrt(j)
        }
        rot = Array.tabulate(d, d) { (i, j) =>
          var s = 0.0; var t = 0; while (t < d) { s += tmp(i)(t) * u(j)(t); t += 1 }; s
        }
        rot = orthoPolish(rot)
      }
    }
    best
  }

  /** Newton–Schulz orthogonality polish: R ← 1.5·R − 0.5·R·Rᵀ·R converges
    * quadratically to the nearest orthogonal matrix — the Jacobi
    * eigensolve leaves the polar factor ~1e-8 off orthogonal, and an
    * exactly-orthogonal rotation is what makes the rotated-space cosine
    * EQUAL the raw-space cosine (the property the rerank relies on).
    * Driver-side O(d³) per sweep on metadata. */
  private def orthoPolish(r0: Array[Array[Double]]): Array[Array[Double]] = {
    val d = r0.length
    var r = r0
    var sweep = 0
    while (sweep < 4) {
      val rrt = Array.tabulate(d, d) { (i, j) =>
        var s = 0.0; var t = 0; while (t < d) { s += r(i)(t) * r(j)(t); t += 1 }; s
      }
      var dev = 0.0
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          dev = math.max(dev, math.abs(rrt(i)(j) - (if (i == j) 1.0 else 0.0)))
          j += 1
        }
        i += 1
      }
      if (dev < 1e-13) return r
      r = Array.tabulate(d, d) { (i, j) =>
        var s = 0.0; var t = 0; while (t < d) { s += rrt(i)(t) * r(t)(j); t += 1 }
        1.5 * r(i)(j) - 0.5 * s
      }
      sweep += 1
    }
    r
  }

  def jlProject(
      df: DataFrame,
      inDim: Int,
      outDim: Int,
      embCol: String = "embedding",
      outCol: String = "jl"): DataFrame = {
    require(inDim >= 1 && outDim >= 1, "dims must be positive")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      val h = md.digest(s"$i:$j".getBytes("UTF-8"))
      // parity of the first hex nibble: even -> +1, odd -> -1
      if (((h(0) >> 4) & 0xf) % 2 == 0) scale else -scale
    }
    // row-major k×d, matching ProjectF's layout
    val flat = Array.tabulate(outDim * inDim) { idx =>
      sign(idx % inDim, idx / inDim)
    }
    df.withColumn(
      outCol,
      graft.functions.ProjectF(
        col(embCol),
        typedLit(Seq.fill(inDim)(0.0)),
        typedLit(flat.toSeq)))
  }

  /** Cyclic Jacobi eigensolve for a symmetric matrix (Golub & Van Loan
    * 4th ed. §8.5): returns (eigenvalues, eigenvectors as COLUMNS of V),
    * unordered. O(d³) per sweep on the driver — metadata-scale work for
    * embedding dims; data never flows through it. */
  private[operators] def jacobiEig(
      input: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = input.length
    val a = Array.tabulate(d, d)((i, j) => input(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val tol = {
      var fro = 0.0
      for (i <- 0 until d; j <- 0 until d) fro += a(i)(j) * a(i)(j)
      1e-14 * math.max(math.sqrt(fro), 1e-300)
    }
    var sweep = 0
    var off = Double.MaxValue
    while (off > tol && sweep < 100) {
      off = 0.0
      for (p <- 0 until d - 1; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > tol) {
          // rotation angle zeroing a(p)(q) (Rutishauser's stable form)
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) match {
            case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
            case s   => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          }
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (i <- 0 until d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq
            a(i)(q) = s * aip + c * aiq
          }
          for (i <- 0 until d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi
            a(q)(i) = s * api + c * aqi
          }
          for (i <- 0 until d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq
            v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
    * the embedding space with k-means and pruning near-duplicates WITHIN
    * each cluster — a vector is dropped when its cluster holds a
    * higher-cosine-than-threshold neighbor with a smaller id (keep-min-id,
    * the deterministic representative rule used across this file). Returns
    * every vector with its learned cluster and a kept flag (1/0).
    *
    * Scale design: the whole point of the cluster step is to make the
    * quadratic term tractable — the pair join is keyed on centroid_id, so
    * each cluster compares only internally ((N/k)² per cluster, k grown
    * with corpus size exactly as the paper operates: tens of thousands of
    * clusters at web scale, so clusters stay ~constant-sized). Centroids
    * learn on the same rounded-argmax Lloyd's kernels as IVF
    * ([[kmeansCentroids]] — native codegen dot/norm, no ScalaUDF), are
    * float32-quantized before assignment (cross-engine fp parity), and
    * broadcast; assignment is one narrow pass. */
  def semDedup(
      corpus: DataFrame,
      k: Int = 4,
      iters: Int = 2,
      threshold: Double = 0.4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(corpus, k, iters, idCol, embCol).localCheckpoint()
    // pinned: the assignment kernel (broadcast crossJoin + argmax over the
    // corpus) feeds BOTH pair-join sides and the final kept join — unpinned
    // it would re-scan the corpus once per consumer (the round-11
    // multi-consumer lesson)
    val assigned = assignQuantized(corpus, cents, idCol, embCol).localCheckpoint()
    val dup = assigned
      .select(col("centroid_id"), col("vid").as("__aid"), col("v").as("__va"), col("nrm").as("__na"))
      .join(
        assigned.select(
          col("centroid_id"), col("vid").as("__bid"), col("v").as("__vb"), col("nrm").as("__nb")),
        Seq("centroid_id"))
      .where(col("__bid") < col("__aid"))
      .where(
        round(cosineWithNorms(col("__va"), col("__vb"), col("__na"), col("__nb")), 6)
          >= threshold)
      .select(col("__aid").as("vid"))
      .distinct()
      .withColumn("__d", lit(1))
    assigned
      .join(dup, Seq("vid"), "left_outer")
      .select(
        col("vid").as(idCol),
        col("centroid_id"),
        col("__d").isNull.cast("long").as("kept"))
  }

  /** [[semDedup]]'s assignment step exposed as an operator: every vector
    * hard-assigned to its nearest FLOAT32-QUANTIZED centroid under the
    * shared rounded-argmax rule (6dp cosine, then smallest centroid_id),
    * with the double-cast vector and its precomputed norm alongside —
    * exactly the row shape [[semDedupIncremental]]'s persisted index
    * stores, so an append pays assignment ONCE and every later batch
    * probes the stored rows (the ivfSearchIndexed economics). One
    * broadcast crossJoin against k centroids + one min_by hash aggregate;
    * map-side combinable, single shuffle keyed on the vector id. */
  def semDedupAssign(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    assignQuantized(df, centroids, idCol, embCol)
      .select(col("vid").as(idCol), col("centroid_id"), col("v"), col("nrm"))

  /** [[semDedupAssign]] with the centroids baked as a PLAN-TIME LITERAL —
    * zero shuffle, zero aggregation, zero state: each row computes its
    * rounded argmax inside whole-stage codegen over the literal array
    * (the pcaProject trick applied to assignment). This is the shape a
    * stateless Structured Streaming micro-batch needs (the broadcast-
    * crossJoin + argmax-aggregate face plans a per-corpus exchange and a
    * blocking aggregate a stream cannot run row-at-a-time), and what a
    * 1000-executor batch scan wants when k·dim is driver-sized. For
    * large k (IVF-scale nlist) stay with [[semDedupAssign]] — a literal
    * 65536×1024 array belongs in a broadcast, not a plan. Same rule
    * exactly (float32-quantized centroids, 6dp cosine, smallest-id tie;
    * the driver-side norm reproduces NormF's left-to-right fold
    * bit-for-bit), so the two faces agree — law-tested. */
  def semDedupAssignLit(
      df: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "semDedupAssignLit needs at least one centroid")
    val centsLit = array(centroids.map { case (id, raw) =>
      val c = raw.map(x => x.toFloat.toDouble) // the fp32 snap, driver-side
      val cn = math.sqrt(c.foldLeft(0.0)((s, x) => s + x * x)) // == NormF
      struct(
        lit(id).as("cid"),
        typedLit(c).as("centd"),
        lit(cn).as("cn"))
    }: _*)
    df.select(col(idCol), col(embCol).cast("array<double>").as("v"))
      .withColumn("nrm", normD(col("v")))
      .withColumn(
        "__best",
        array_min(transform(centsLit, c => struct(
          (-round(dotD(col("v"), c.getField("centd")) / (col("nrm") * c.getField("cn")), 6))
            .as("negs"),
          c.getField("cid").as("cid")))))
      .select(
        col(idCol),
        col("__best").getField("cid").as("centroid_id"),
        col("v"),
        col("nrm"))
  }

  /** Shared quantized-centroid argmax: (vid, v, nrm, centroid_id). The
    * centroids are float32-snapped before scoring (cross-engine fp parity
    * — the oracle replays cent::FLOAT[]::DOUBLE[]), the score is
    * 6dp-rounded, ties break to the smallest centroid_id. */
  private def assignQuantized(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      embCol: String): DataFrame = {
    val cents = broadcast(centroids.select(
      col("centroid_id"),
      col("cent_emb").cast("array<float>").cast("array<double>").as("centd")))
    df.select(col(idCol).as("vid"), col(embCol).cast("array<double>").as("v"))
      .crossJoin(cents)
      .select(
        col("vid"),
        col("v"),
        col("centroid_id"),
        round(dotD(col("v"), col("centd")) / (normD(col("v")) * normD(col("centd"))), 6)
          .as("cscore"))
      .groupBy("vid")
      .agg(
        first(col("v")).as("v"),
        min_by(col("centroid_id"), struct(-col("cscore"), col("centroid_id"))).as("centroid_id"))
      .withColumn("nrm", normD(col("v")))
  }

  /** INCREMENTAL SemDeDup — the persisted-index batch face of
    * [[semDedup]], completing the incremental family (exact, Bloom,
    * MinHash, SimHash, containment, cosine-band... and now the semantic
    * modality): a new batch is assigned to the FIXED persisted centroids
    * (same quantized rounded-argmax as the batch face) and a row is
    * dropped when its cluster holds a within-`threshold` neighbor either
    * in the persisted index or earlier (smaller id) in the batch itself.
    * Returns (idCol, centroid_id, kept, v, nrm) — rows directly
    * appendable to `index`.
    *
    * Index contract: `index` holds (centroid_id, v, nrm) for EVERY
    * previously seen vector — kept AND dropped — because the batch rule
    * is "any smaller-id neighbor within threshold", so a transitively
    * dropped row still blocks its own later near-duplicates (A≈B≈C with
    * A̸≈C: B drops against A, C must still drop against B). Append the
    * whole returned frame, never only the kept rows. With id-ordered
    * batches the fold over batches EQUALS [[semDedup]] with the same
    * centroids over the concatenation (law-tested and oracle-replayed).
    *
    * Scale design: the pair work is keyed on centroid_id on BOTH probes —
    * each batch row compares only inside its cluster, against
    * |cluster∩index| stored rows and |cluster∩batch| peers; the index is
    * never rescanned corpus-wide and never re-assigned (assignment was
    * paid at its own append). Centroids retrain on [[ivfRetrainDue]]'s
    * schedule (or maintain per-batch via [[kmeansMoments]]); after a
    * retrain, re-assign the index once and continue. */
  def semDedupIncremental(
      batch: DataFrame,
      index: DataFrame,
      centroids: DataFrame,
      threshold: Double = 0.4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // pinned: four consumers (index probe, both within-batch sides, the
    // final kept join) must read one materialized assignment, not re-run it
    val a = assignQuantized(batch, centroids, idCol, embCol).localCheckpoint()
    val vsIndex = a
      .join(
        index.select(
          col("centroid_id"), col("v").as("__vb"), col("nrm").as("__nb")),
        Seq("centroid_id"))
      .where(
        round(cosineWithNorms(col("v"), col("__vb"), col("nrm"), col("__nb")), 6)
          >= threshold)
      .select(col("vid"))
    val vsBatch = a
      .join(
        a.select(
          col("centroid_id"), col("vid").as("__bid"),
          col("v").as("__vb"), col("nrm").as("__nb")),
        Seq("centroid_id"))
      .where(col("__bid") < col("vid"))
      .where(
        round(cosineWithNorms(col("v"), col("__vb"), col("nrm"), col("__nb")), 6)
          >= threshold)
      .select(col("vid"))
    val dup = vsIndex.union(vsBatch).distinct().withColumn("__d", lit(1))
    a.join(dup, Seq("vid"), "left_outer")
      .select(
        col("vid").as(idCol),
        col("centroid_id"),
        col("__d").isNull.cast("long").as("kept"),
        col("v"),
        col("nrm"))
  }

  /** [[semDedupIncremental]] with an SQ8-QUANTIZED persisted index — the
    * storage fix for the full-precision face's one design debt: that
    * index stores (centroid_id, v, nrm) with `v` an `array<double>`, so
    * at 100 TB of embeddings the index IS a full-precision copy of the
    * corpus growing without bound (8 bytes/dim/vector of storage AND of
    * pair-join I/O, forever). This face stores (centroid_id, q, qn) with
    * `q` the [[sq8TopK]] grid's integer codes as `array<smallint>` — 4×
    * smaller at rest before parquet even bit-packs the 0..255 range
    * (a production sink can pack to unsigned bytes at the storage
    * boundary for the full 8×), and the pair joins stream the compressed
    * codes instead of raw doubles.
    *
    * The threshold applies IN THE COMPRESSED SPACE — on the DEQUANTIZED
    * reconstruction x̂ = lo + q·(hi−lo)/255, never on the raw codes: the
    * grid is affine, so code-space cosine carries the grid's offset (it
    * maps every vector into the positive orthant and inflates all
    * similarities — fine for [[sq8TopK]]'s per-query RANKING, ruinous for
    * an absolute threshold; measured: 92% kept-flag disagreement on real
    * embeddings vs 0–5% for the reconstruction rule). A row drops when
    * round(cos(x̂ᵃ, x̂ᵇ), 6) ≥ `threshold` against an indexed vector or a
    * smaller-id batch peer — deterministic, hash-exact and
    * engine-replayable (x̂ rebuilds identically from the stored codes on
    * both engines), and an APPROXIMATION of the full-precision rule with
    * per-element error ≤ one grid step (hi−lo)/255: pairs whose true
    * cosine sits within the grid's noise of the threshold can flip either
    * way (agreement with the uncompressed face on real embeddings is
    * law-measured, not assumed). Assignment still scores the RAW batch
    * vectors against the centroids (assignment is compute at batch time,
    * not storage — only the index payload compresses).
    *
    * The grid (lo, hi) is FIXED at index creation and passed explicitly:
    * appends must quantize onto the index's own grid, never a per-batch
    * one (same fixed-state discipline as the trained-once centroids).
    * Index contract is unchanged: append EVERY returned row, kept and
    * dropped — transitively dropped rows still block. */
  /** The SQ8 grid codes of a vector with PLAN-LITERAL bounds — identical
    * double arithmetic to [[sq8TopK]] and the oracles: exact float→double
    * widening, then ((x − lo) / (hi − lo)) · 255, floored and clamped to
    * [0, 255]. Integer-valued doubles, so downstream dot kernels stay
    * exact; cast to array<smallint> at the storage boundary. */
  def sq8Codes(v: Column, lo: Double, hi: Double): Column =
    transform(v, x =>
      least(
        greatest(
          if (hi > lo)
            floor((x.cast("double") - lit(lo)) / lit(hi - lo) * lit(255.0))
          else lit(0.0),
          lit(0.0)),
        lit(255.0)))

  /** Dequantized reconstruction of [[sq8Codes]]: lo + q·step with
    * step = (hi − lo)/255, in EXACTLY this operation order on both
    * engines (the oracles replay it term for term). Cosine over the
    * reconstruction approximates the raw cosine within the grid's noise —
    * the thresholdable face of SQ8 (code-space cosine instead carries the
    * grid's affine offset; see [[semDedupIncrementalSq8]]). */
  def sq8Reconstruct(q: Column, lo: Double, hi: Double): Column = {
    val step = if (hi > lo) (hi - lo) / 255.0 else 0.0
    transform(q, x => lit(lo) + x * lit(step))
  }

  def semDedupIncrementalSq8(
      batch: DataFrame,
      index: DataFrame,
      centroids: DataFrame,
      lo: Double,
      hi: Double,
      threshold: Double = 0.4,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(hi >= lo, "grid must satisfy hi >= lo")
    // pinned: three consumers (index probe, both within-batch sides) read
    // one materialized assignment+quantization, never re-run it. `xq` (the
    // reconstruction) is batch-lifetime compute — only `q`/`qn` persist.
    val a = assignQuantized(batch, centroids, idCol, embCol)
      .withColumn("q", sq8Codes(col("v"), lo, hi))
      .withColumn("xq", sq8Reconstruct(col("q"), lo, hi))
      .withColumn("qn", normD(col("xq")))
      .select("vid", "centroid_id", "q", "xq", "qn")
      .localCheckpoint()
    val idx = index.select(
      col("centroid_id"),
      // smallint->double is exact; the reconstruction rebuilds map-side
      // from the stored codes — the joins still stream only codes + norm
      sq8Reconstruct(col("q").cast("array<double>"), lo, hi).as("__xb"),
      col("qn").as("__nb"))
    val vsIndex = a
      .join(idx, Seq("centroid_id"))
      .where(round(dotD(col("xq"), col("__xb")) / (col("qn") * col("__nb")), 6) >= threshold)
      .select(col("vid"))
    val vsBatch = a
      .join(
        a.select(col("centroid_id"), col("vid").as("__bid"),
          col("xq").as("__xb"), col("qn").as("__nb")),
        Seq("centroid_id"))
      .where(col("__bid") < col("vid"))
      .where(round(dotD(col("xq"), col("__xb")) / (col("qn") * col("__nb")), 6) >= threshold)
      .select(col("vid"))
    val dup = vsIndex.union(vsBatch).distinct().withColumn("__d", lit(1))
    a.join(dup, Seq("vid"), "left_outer")
      .select(
        col("vid").as(idCol),
        col("centroid_id"),
        col("__d").isNull.cast("long").as("kept"),
        col("q").cast("array<smallint>").as("q"),
        col("qn"))
  }

  /** EMBEDDING-DISTRIBUTION DRIFT between two corpus snapshots — the
    * vector-space sibling of Profile.distributionDrift: scalar drift bins
    * on quantile cuts; embeddings bin on LEARNED CENTROID CELLS (the
    * centroids are the "bins" of the embedding space). Both snapshots
    * hard-assign to the SAME fixed centroids (train on the reference via
    * [[kmeansCentroids]], or reuse a production index's centroid set) and
    * the per-cell occupancy shares compare via PSI — the "did this
    * month's crawl move in embedding space" monitor that catches topic /
    * source / encoder shifts whole-corpus statistics miss.
    *
    * Every centroid cell is scaffolded into BOTH sides (a cell one
    * snapshot never hits is exactly the drift evidence PSI must count,
    * clamped to `eps` like the scalar face); an EMPTY snapshot
    * raise_errors loudly rather than reporting an eps-flat distribution.
    * Output: one row per centroid — (centroid_id, p_ref, p_cur, psi_term,
    * psi), `psi` the constant total (>0.25 is the conventional "shifted"
    * flag).
    *
    * Scale shape: two broadcast-argmax assignment passes (one narrow
    * pass per snapshot, the semDedupAssign kernel) reduced to k-row
    * occupancy counts — the PSI algebra runs on 2k rows of metadata.
    * Nothing vector-sized shuffles. */
  def embeddingDrift(
      ref: DataFrame,
      cur: DataFrame,
      centroids: DataFrame,
      eps: Double = 1e-6,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    def counts(df: DataFrame): DataFrame =
      assignQuantized(df, centroids, idCol, embCol)
        .groupBy("centroid_id").agg(count(lit(1)).as("n"))
    embeddingDriftFromCounts(counts(ref), counts(cur), centroids, eps)
  }

  /** Per-cell occupancy counts of ONE batch against fixed centroids —
    * the MERGEABLE partial of [[embeddingDrift]]'s "cur" side (same
    * maintenance contract as kmeansMoments / vocabState): ≤ k rows of
    * (centroid_id, n), set-additive under [[driftFoldCounts]], so a
    * snapshot accumulated batch-by-batch EQUALS the whole-snapshot
    * assignment pass — the embedding corpus is never rescanned to
    * refresh a drift monitor. Assignment runs through the plan-literal
    * [[semDedupAssignLit]] kernel (law-tested equal to the broadcast-
    * argmax face), so a streaming micro-batch pays zero shuffle before
    * the k-row count. */
  def driftCellCounts(
      batch: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    semDedupAssignLit(batch, centroids, idCol, embCol)
      .groupBy("centroid_id").agg(count(lit(1)).as("n"))

  /** Fold accumulated [[driftCellCounts]] partials: per-cell integer
    * addition — exact however the snapshot was cut into batches. */
  def driftFoldCounts(parts: DataFrame): DataFrame =
    parts.groupBy("centroid_id").agg(sum(col("n")).as("n"))

  /** The PSI algebra of [[embeddingDrift]] over two PRE-AGGREGATED
    * per-cell count frames — the read face of the maintained monitor:
    * both sides are ≤ k rows of state (from [[driftCellCounts]] folds or
    * any equivalent occupancy source), so the comparison is pure
    * metadata arithmetic; no embedding is touched. Scaffold/eps/empty-
    * snapshot semantics identical to the batch face (it delegates here). */
  def embeddingDriftFromCounts(
      refCounts: DataFrame,
      curCounts: DataFrame,
      centroids: DataFrame,
      eps: Double = 1e-6): DataFrame = {
    val cells = broadcast(centroids.select(col("centroid_id")))
    def shares(counts: DataFrame): DataFrame = {
      val tot = counts.agg(sum("n").as("tot"))
      cells
        .join(counts, Seq("centroid_id"), "left_outer")
        .crossJoin(broadcast(tot))
        .select(
          col("centroid_id"),
          greatest(
            when(col("tot") > 0,
              coalesce(col("n"), lit(0L)).cast("double") / col("tot").cast("double"))
              .otherwise(raise_error(lit(
                "embeddingDrift: a snapshot has no assignable rows"))),
            lit(eps)).as("p"))
    }
    val terms = shares(refCounts).withColumnRenamed("p", "p_ref")
      .join(shares(curCounts).withColumnRenamed("p", "p_cur"), Seq("centroid_id"))
      .withColumn("term", (col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")))
    val psi = terms.agg(round(sum("term"), 6).as("psi"))
    terms
      .crossJoin(broadcast(psi))
      .select(
        col("centroid_id"),
        round(col("p_ref"), 6).as("p_ref"),
        round(col("p_cur"), 6).as("p_cur"),
        round(col("term"), 6).as("psi_term"),
        col("psi"))
  }

  /** One Lloyd M-step reduced to a MERGEABLE per-cluster state — the
    * batch-maintenance face of [[kmeansCentroids]], same contract as
    * pcaMoments / Profile.statsOf: each batch assigns against the FIXED
    * current centroids (the iteration's own rule: raw double centroids,
    * 6dp-rounded cosine argmax, smallest-id tie) and reduces to
    * (centroid_id, i, s=Σxᵢ, n=count) rows — k·dim metadata, set-additive,
    * so folding batches with [[kmeansMergeMoments]] and finalizing with
    * [[kmeansFromMoments]] EQUALS the whole-corpus iteration (never a
    * rescan). A continuous crawl refreshes its centroid set per append at
    * batch cost and retrains from scratch only on [[ivfRetrainDue]]'s
    * schedule. The shuffle carries ~k·dim rows per partition (map-side
    * combinable posexplode aggregate), never vectors. */
  def kmeansMoments(
      batch: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val cents = broadcast(centroids.select(
      col("centroid_id"), col("cent_emb").cast("array<double>").as("centd")))
    batch
      .select(col(idCol).as("vid"), col(embCol).cast("array<double>").as("v"))
      .crossJoin(cents)
      .select(
        col("vid"),
        col("v"),
        col("centroid_id"),
        round(dotD(col("v"), col("centd")) / (normD(col("v")) * normD(col("centd"))), 6)
          .as("score"))
      .groupBy("vid")
      .agg(
        first(col("v")).as("v"),
        min_by(col("centroid_id"), struct(-col("score"), col("centroid_id"))).as("centroid_id"))
      .select(
        col("centroid_id"),
        size(col("v")).cast("long").as("__dim"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("centroid_id"), (col("pos") + 1).cast("long").as("i"))
      .agg(
        sum(col("x")).as("s"),
        count(col("x")).as("n"),
        min(col("__dim")).as("__dlo"),
        max(col("__dim")).as("__dhi"))
  }

  /** Merge two [[kmeansMoments]] frames: elementwise (s, n) addition per
    * (centroid_id, i). A dimensionality mismatch between the two states
    * fails LOUDLY at evaluation (the rows are not alignable — silently
    * unioning a 32-dim and a 64-dim state would average phantom zeros),
    * mirroring pcaMergeMoments' dim guard. */
  def kmeansMergeMoments(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("centroid_id", "i")
      .agg(
        sum(col("s")).as("s"),
        sum(col("n")).as("n"),
        min(col("__dlo")).as("__dlo"),
        max(col("__dhi")).as("__dhi"))
      .select(
        col("centroid_id"),
        col("i"),
        // the guard lives INSIDE `s` — the one column every finalize and
        // further merge must consume — so column pruning can never
        // optimize the loud failure away
        when(col("__dlo") === col("__dhi"), col("s"))
          .otherwise(raise_error(concat(
            lit("kmeansMergeMoments: dim mismatch ("), col("__dlo"),
            lit(" vs "), col("__dhi"), lit(")")))).as("s"),
        col("n"),
        col("__dlo"),
        col("__dhi"))

  /** Finalize accumulated [[kmeansMoments]] into a centroid frame
    * (centroid_id, cent_emb) — round(s/n, 9) per coordinate, the exact
    * finalize [[kmeansCentroids]]' iteration applies, so
    * fromMoments(moments(corpus, C)) == one more Lloyd iteration from C.
    * Clusters no batch row reached are absent, as in training. */
  def kmeansFromMoments(moments: DataFrame): DataFrame =
    moments
      .groupBy("centroid_id")
      .agg(array_sort(collect_list(struct(col("i"), round(col("s") / col("n"), 9).as("m"))))
        .as("pm"))
      .select(
        col("centroid_id"),
        transform(col("pm"), p => p.getField("m")).as("cent_emb"))
}
