package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale document pipelines: tokenization,
  * quality scoring, language ID, fingerprinting.
  *
  * Everything here is built from codegen'd built-in expressions (no UDFs) so
  * whole-stage codegen covers the full pipeline; at 100 TB these run as pure
  * map-side column work with no shuffle — the only shuffles in the consuming
  * queries are the final aggregations.
  *
  * Determinism contract: every derived value is either integer, string, or a
  * float rounded inside the query, so results hash-match a reference engine.
  */
object TextOps {

  /** Whitespace-collapsed lowercase normalization — the canonical text key. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Whitespace tokens of the normalized text (empty tokens dropped). */
  def tokens(text: Column): Column =
    filter(split(normalized(text), " "), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: alpha runs, digit runs, and single non-alnum marks
    * counted separately — a cheap proxy for subword tokenizer load. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Spread a narrow-partitioned input before a heavy per-row kernel
    * (tokenize / chunk / decode / signature folds): single-file inputs
    * and file-backfill micro-batches arrive as ONE partition, so the
    * kernel stage would otherwise run as one task regardless of core
    * count (measured: it dominated the dsir/NB rows and the stream drains
    * 3x). The round-robin exchange ships the raw rows once — bytes ≪ the
    * kernel's CPU — and inputs that already carry parallelism pass
    * through unshuffled, so a many-file 100 TB scan is untouched. Every
    * consumer is an exact aggregate or rounds before comparing/ranking,
    * so results are unchanged.
    *
    * The target is DERIVED FROM ROW COUNT — clamp(⌈rows/rowsPerTask⌉, 1,
    * defaultParallelism) — not pinned to the core count: a fixed
    * all-cores spread made small inputs PAY parallelism they cannot use
    * (driver r16: q_text_dsir_select 3.38 s at 32 cores vs 1.89 s at 8).
    * Call sites keep their measured `rowsPerTask` (1024 for the text
    * scans, 64 for stream micro-batches, 1 for the dedup signature
    * passes — i.e. every core for any input with at least that many
    * rows). Rows come from parquet FOOTERS (no Spark job), read only up
    * to the clamp; inputs that are not parquet files get the full
    * spread. */
  private[graft] def spread(df: DataFrame, rowsPerTask: Long): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val target = graft.ingest.FsUtil
      .footerRowCount(df.inputFiles.toSeq, df.sparkSession.sparkContext.hadoopConfiguration,
        cap = p.toLong * rowsPerTask)
      .map(rows => math.max(1L, math.min(p.toLong, (rows + rowsPerTask - 1) / rowsPerTask)).toInt)
      .getOrElse(p)
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Evaluate `expr` once per row and hand it to `body` as a bound lambda
    * variable. Higher-order array functions run interpreted (outside
    * whole-stage codegen's subexpression elimination), so a column that a
    * lambda references per-ELEMENT re-evaluates its whole subtree per
    * element — binding via a 1-element transform makes it a variable read
    * (measured 25x on the n-gram explode: the regex tokenization was
    * re-running for every gram). */
  private def bindOnce(expr: Column)(body: Column => Column): Column =
    element_at(transform(array(expr), v => body(v)), 1)

  /** Word n-gram strings of the normalized text (empty when < n tokens).
    * Guarded: Spark's sequence(1, 0) would generate a DESCENDING [1, 0]. */
  def ngramStrings(text: Column, n: Int): Column =
    bindOnce(tokens(text)) { toks =>
      when(size(toks) >= n,
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }

  /** md5 of each word n-gram — the engine-portable overlap key (md5 hex
    * compares identically in any SQL engine; the fixed-width key also
    * beats long gram strings through a shuffle/broadcast). This is the
    * declarative mirror of Dedup's compiled ngramMd5 kernel, which the
    * decontamination hot path uses instead (interpreted HOFs are slower);
    * PipelineOpsSpec pins the two byte-identical. */
  def ngramHashes(text: Column, n: Int): Column =
    transform(ngramStrings(text, n), g => md5(g))

  /** Gopher-style repetition signal: fraction of duplicate word n-grams,
    * 1 - distinct/total (0 for docs shorter than n tokens). Pure map-side
    * codegen column work — rounded 6dp inside the expression so the value
    * hash-matches a reference engine. */
  def repetitionRatio(text: Column, n: Int): Column =
    bindOnce(ngramStrings(text, n)) { g =>
      when(size(g) > 0,
        round((size(g) - size(array_distinct(g))).cast("double") / size(g), 6))
        .otherwise(lit(0.0))
    }

  /** Stopword list shared with the language-ID heuristic. */
  val enStop: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")
  val deStop: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "zu", "den", "mit", "nicht")
  val frStop: Seq[String] = Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour")
  val esStop: Seq[String] = Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por")

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Ratio of stopword tokens (English list) to all tokens, NULL-safe 0. */
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) > 0, hitCount(t, enStop).cast("double") / size(t)).otherwise(lit(0.0))
  }

  /** Punctuation chars / total chars of the raw text. */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", ""))
    when(length(text) > 0, punct.cast("double") / length(text)).otherwise(lit(0.0))
  }

  /** Composite quality score in [0,1]: length sweet-spot, low punctuation,
    * reasonable stopword density (the usual pre-training heuristics). */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenScore = least(nTok / 50.0, lit(1.0)) // saturates at 50 tokens
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 5.0, lit(0.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    (lenScore + punctScore + stopScore) / 3.0
  }

  /** n-gram-free language ID: argmax of per-language stopword hits, with a
    * fixed priority tie-break (en > de > fr > es > unknown). Runs entirely in
    * codegen'd array expressions — no shuffle, no UDF. */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val en = hitCount(t, enStop)
    val de = hitCount(t, deStop)
    val fr = hitCount(t, frStop)
    val es = hitCount(t, esStop)
    val best = greatest(en, de, fr, es)
    when(best === 0, lit("unknown"))
      .when(en === best, lit("en"))
      .when(de === best, lit("de"))
      .when(fr === best, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Content fingerprint: md5 of the normalized text. Identical rendering in
    * any engine with md5 — the exact-dedup key. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Fixed-size token chunks with overlap — the standard pre-training
    * chunking step (split long documents into window-sized training
    * sequences; adjacent chunks share `overlap` tokens of context).
    *
    * Chunk i covers tokens [i*(chunkSize-overlap), +chunkSize); a document
    * of n tokens yields 1 chunk when n <= chunkSize, else
    * ceil((n-chunkSize)/step)+1 so the tail is always covered and no chunk
    * starts past the text. All arithmetic is integer and the explode is a
    * codegen'd per-row Generate over a computed start sequence — zero
    * shuffle, zero UDF; output size is corpus tokens x (1 + overlap/step),
    * the same linear blow-up any chunker pays. Empty docs yield no rows. */
  def chunk(
      docs: DataFrame, chunkSize: Int = 128, overlap: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkSize > overlap && overlap >= 0, "need chunkSize > overlap >= 0")
    val step = chunkSize - overlap
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .where(col("n") > 0)
      .withColumn(
        "n_chunks",
        when(col("n") <= chunkSize, lit(1))
          .otherwise(ceil((col("n") - chunkSize).cast("double") / step).cast("int") + 1))
      .select(
        col(idCol),
        col("toks"),
        posexplode(sequence(lit(0), col("n_chunks") - 1)).as(Seq("chunk_idx", "start")))
      .select(
        col(idCol),
        col("chunk_idx"),
        // slice() is 1-based; the tail chunk is naturally shorter
        slice(col("toks"), col("chunk_idx") * step + 1, lit(chunkSize)).as("ctoks"))
      .select(
        col(idCol),
        col("chunk_idx"),
        size(col("ctoks")).as("n_tokens"),
        concat_ws(" ", col("ctoks")).as("chunk_text"))
  }

  /** Unicode corpus cleaning — the canonicalization pass raw crawls get
    * before any hashing/dedup/tokenizing (two byte sequences rendering
    * identically must not produce two fingerprints): NFC-compose
    * combining sequences (java.text.Normalizer, public JDK; the identical
    * algorithm any engine's nfc_normalize runs), strip format characters
    * (category Cf: zero-widths, BOM, soft hyphen — invisible dedup
    * poison), and strip C0/C1 controls EXCEPT \n and \t. The NFC step is
    * a compiled string kernel (no Catalyst builtin exists); the strips
    * are codegen'd regexp_replace with RE2-compatible classes, so the
    * whole cleaner replays in SQL. Map-side, zero shuffle; idempotent
    * (law-tested). */
  def cleanText(c: Column): Column =
    regexp_replace(
      regexp_replace(nfcUdf(c), "[\\p{Cf}]", ""),
      "[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]", "")

  private val nfcUdf = udf((s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))

  /** CONTENT-DEFINED chunking: split after any token whose trailing
    * w-token window hashes to 0 mod `divisor` — boundaries are decided by
    * LOCAL content, so an edit only moves the chunks it touches (FastCDC/
    * rsync's insight applied to token streams). Fixed-size [[chunk]]ing
    * shifts EVERY later boundary after an insertion, which defeats
    * chunk-level dedup between document revisions; here revision deltas
    * stay confined (law-tested: appending text leaves all earlier chunks
    * byte-identical). Expected chunk length ≈ `divisor` tokens.
    *
    * Same scale shape as [[chunk]]: boundary detection and slicing are
    * pure codegen'd array expressions over each row, the explode is a
    * per-row Generate — zero shuffle, zero UDF; the 60-bit md5 window
    * hash makes chunk boundaries engine-reproducible. Docs shorter than
    * w+1 tokens form one chunk; empty docs yield no rows. */
  def cdcChunk(
      docs: DataFrame, w: Int = 4, divisor: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(w >= 1 && divisor >= 2, "need window >= 1 and divisor >= 2")
    import graft.functions.Funcs
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .where(col("n") > 0)
      .withColumn(
        "bounds",
        // boundary after token i for i in [w, n-1] (never after the last
        // token — that would leave an empty tail chunk); sequence(w, n-1)
        // DESCENDS when n-1 < w, so guard to the empty list
        when(col("n") - 1 < w, array().cast("array<int>"))
          .otherwise(filter(
            sequence(lit(w), col("n") - 1),
            i => pmod(
              Funcs.md5Hash60(concat_ws(" ", slice(col("toks"), i - w + 1, lit(w)))),
              lit(divisor)) === 0)))
      .withColumn(
        "starts", concat(array(lit(1)), transform(col("bounds"), b => b + 1)))
      .withColumn("ends", concat(col("bounds"), array(col("n"))))
      .select(
        col(idCol), col("toks"),
        posexplode(arrays_zip(col("starts"), col("ends"))).as(Seq("chunk_idx", "se")))
      .select(
        col(idCol),
        col("chunk_idx"),
        (col("se.ends") - col("se.starts") + 1).as("n_tokens"),
        concat_ws(
          " ",
          slice(col("toks"), col("se.starts"), col("se.ends") - col("se.starts") + 1))
          .as("chunk_text"))
  }

  /** Non-empty trimmed lines of `text` split on `sep` — the unit of
    * line-level (CCNet-style) boilerplate detection. Pure codegen array
    * work; whitespace-only lines are dropped so reassembly is canonical. */
  private[operators] def linesOf(text: Column, sep: String): Column =
    filter(
      transform(split(text, java.util.regex.Pattern.quote(sep)), l => trim(l)),
      l => length(l) > 0)

  /** Lines occurring in >= `minDocs` DISTINCT documents — the CCNet
    * boilerplate signal (headers, nav bars, cookie banners, license
    * footers repeat across a site's pages; body text does not). Returns
    * (line, n_docs). One corpus shuffle: the per-line distinct-doc count
    * is a map-side-combinable hash aggregate on the exploded lines; by
    * construction the result is small (each surviving line accounts for
    * >= minDocs corpus lines, so |result| <= corpus_lines / minDocs). */
  def boilerplateLines(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      sep: String = "\n", minDocs: Int = 5): DataFrame = {
    require(minDocs >= 2, "a line in 1 doc is content, not boilerplate")
    docs
      .select(col(idCol).as("__bl_id"), explode(linesOf(col(textCol), sep)).as("line"))
      .groupBy("line")
      .agg(countDistinct(col("__bl_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
  }

  /** Strip boilerplate lines from every document (the CCNet paragraph-dedup
    * step applied at line granularity): detect lines shared by >= `minDocs`
    * docs, then rebuild each doc from its remaining lines. Adds
    * `clean_text` (kept lines re-joined with `sep`), `n_lines` (non-empty
    * lines before), `n_removed`.
    *
    * Scale shape: detection is the one corpus shuffle ([[boilerplateLines]]);
    * the strip pass is MAP-SIDE ONLY — the boilerplate set folds into a
    * single md5-set row broadcast to every task (BroadcastNestedLoopJoin of
    * a 1-row frame), and each doc filters its own line array in place. The
    * corpus text never shuffles, so the pass streams at scan speed. The
    * in-array membership probe is linear in the boilerplate set; for a
    * pathological set (millions of distinct boilerplate lines) switch to
    * the explode + broadcast-anti-join + re-group shape instead. */
  def stripBoilerplate(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      sep: String = "\n", minDocs: Int = 5): DataFrame = {
    val blSet = boilerplateLines(docs, idCol, textCol, sep, minDocs)
      .agg(coalesce(sort_array(collect_set(md5(col("line")))), array().cast("array<string>"))
        .as("__bl"))
    docs
      .crossJoin(broadcast(blSet))
      .withColumn("__lines", linesOf(col(textCol), sep))
      .withColumn("__kept", filter(col("__lines"), l => !array_contains(col("__bl"), md5(l))))
      .withColumn("clean_text", array_join(col("__kept"), sep))
      .withColumn("n_lines", size(col("__lines")))
      .withColumn("n_removed", size(col("__lines")) - size(col("__kept")))
      .drop("__bl", "__lines", "__kept")
  }

  /** Vocabulary growth curve (Heaps' law readout): distinct-token count
    * and type/token ratio at increasing corpus prefixes — how fast the
    * vocabulary still grows decides tokenizer budgets and whether more
    * crawl yields new language or repeats (a flattening curve says the
    * source is mined out). Prefixes are `idCol < checkpoint` (a
    * deterministic corpus order, not partition order).
    *
    * Scale shape: ONE corpus shuffle (token → min owner id, map-side
    * combinable); every checkpoint is then a conditional aggregate over
    * that vocabulary-sized frame plus one over per-doc token counts —
    * the corpus itself is scanned once however many checkpoints. */
  def vocabGrowth(
      docs: DataFrame, checkpoints: Seq[Long],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(checkpoints.nonEmpty, "need at least one checkpoint")
    val firstSeen = docs
      .select(col(idCol).cast("long").as("__vg_id"), explode(tokens(col(textCol))).as("__tok"))
      .groupBy("__tok").agg(min(col("__vg_id")).as("__first"))
    val vAggs = checkpoints.map(c =>
      count(when(col("__first") < c, 1)).as(s"__v$c"))
    val vocabRow = firstSeen.agg(vAggs.head, vAggs.tail: _*)
    val tAggs = checkpoints.map(c =>
      sum(when(col(idCol) < c, tokenCount(col(textCol)).cast("long"))
        .otherwise(lit(0L))).as(s"__t$c"))
    val tokRow = docs.agg(tAggs.head, tAggs.tail: _*)
    val wide = vocabRow.crossJoin(tokRow)
    val rows = explode(array(checkpoints.map(c =>
      struct(lit(c).as("checkpoint"), col(s"__v$c").as("vocab"),
        col(s"__t$c").as("n_tokens"))): _*))
    wide.select(rows.as("r"))
      .select(col("r.checkpoint"), col("r.n_tokens"), col("r.vocab"),
        when(col("r.n_tokens") > 0,
          round(col("r.vocab").cast("double") / col("r.n_tokens"), 6))
          .as("type_token_ratio"))
  }

  /** One-call corpus data card — the summary table a curation report
    * leads with (datasheet/data-statement practice): volume (docs,
    * tokens, chars), mean document length, exact-duplicate ratio,
    * language/source spread with the dominant language's share,
    * vocabulary size and type/token ratio. One (metric, value) row per
    * statistic, every value replayable in plain SQL.
    *
    * Scale shape: three aggregate-only passes, none wider than the
    * corpus scan — (1) a doc-level pass folding counts/masses and the
    * exact-distinct fingerprint count, (2) a language histogram
    * (|langs|-sized shuffle) joined as 1-row frames, (3) the vocabulary
    * count (token → distinct, map-side combinable). No windows, no
    * driver loops; the three 1-row frames cross-join broadcast-style
    * before a bounded metric explode. */
  def corpusReport(
      docs: DataFrame,
      textCol: String = "text",
      langCol: String = "lang",
      sourceCol: String = "source"): DataFrame = {
    val docPass = docs.agg(
      count(lit(1)).as("__docs"),
      sum(tokenCount(col(textCol)).cast("long")).as("__toks"),
      sum(length(col(textCol)).cast("long")).as("__chars"),
      count_distinct(fingerprint(col(textCol))).as("__fps"),
      count_distinct(col(sourceCol)).as("__srcs"))
    val langPass = docs
      .groupBy(col(langCol)).agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("__langs"), max(col("__n")).as("__topn"))
    val vocabPass = docs
      .select(explode(tokens(col(textCol))).as("__tok"))
      .agg(count_distinct(col("__tok")).as("__vocab"))
    cardMetrics(docPass.crossJoin(langPass).crossJoin(vocabPass))
  }

  // the card's metric arithmetic over the wide (__docs __toks __chars
  // __fps __srcs __langs __topn __vocab) frame — shared by the corpus
  // pass and the maintained-state read face so they agree to the digit
  private def cardMetrics(wide: DataFrame): DataFrame = {
    val metrics = Seq(
      ("n_docs", col("__docs").cast("double")),
      ("n_tokens", col("__toks").cast("double")),
      ("n_chars", col("__chars").cast("double")),
      ("mean_doc_tokens",
        round(col("__toks").cast("double") / col("__docs"), 6)),
      ("exact_dup_ratio",
        round(lit(1.0) - col("__fps").cast("double") / col("__docs"), 6)),
      ("n_langs", col("__langs").cast("double")),
      ("top_lang_share",
        round(col("__topn").cast("double") / col("__docs"), 6)),
      ("n_sources", col("__srcs").cast("double")),
      ("vocab_size", col("__vocab").cast("double")),
      ("type_token_ratio",
        round(col("__vocab").cast("double") / col("__toks"), 6)))
    wide
      .select(explode(array(metrics.map { case (n, v) =>
        struct(lit(n).as("metric"), v.as("value"))
      }: _*)).as("__m"))
      .select(col("__m.metric"), col("__m.value"))
  }

  /** Per-batch CARD partials — the mergeable state behind a continuously
    * maintained [[corpusReport]] (the statsOf contract applied to the
    * data card): four tiny frames per batch —
    *  - `scalars`: ONE (docs, toks, chars) row (folds by addition),
    *  - `fps`: the batch's DISTINCT content fingerprints (fold =
    *    distinct count over the union; this is the same 16-byte/doc
    *    state the exact-dedup index keeps),
    *  - `langs`: (lang, n) counts (fold by sum),
    *  - `srcs`: the batch's distinct sources (sources-sized).
    * Vocabulary rides the existing [[vocabState]] family. The fold
    * ([[corpusReportFromState]]) equals the whole-corpus card EXACTLY
    * however the stream was cut — a crawl's data card stays current at
    * batch cost, the corpus never rescanned. */
  def cardState(
      batch: DataFrame,
      textCol: String = "text",
      langCol: String = "lang",
      sourceCol: String = "source"): (DataFrame, DataFrame, DataFrame, DataFrame) = (
    batch.agg(
      count(lit(1)).as("docs"),
      sum(tokenCount(col(textCol)).cast("long")).as("toks"),
      sum(length(col(textCol)).cast("long")).as("chars")),
    batch.select(fingerprint(col(textCol)).as("fp")).distinct(),
    batch.groupBy(col(langCol).as("lang")).agg(count(lit(1)).as("n")),
    batch.select(col(sourceCol).as("source")).distinct())

  /** The card recomputed from accumulated [[cardState]] partials (plus
    * the [[vocabState]] parts for the vocabulary half) — identical
    * arithmetic to [[corpusReport]], state-sized work. */
  def corpusReportFromState(
      scalars: DataFrame,
      fps: DataFrame,
      langs: DataFrame,
      srcs: DataFrame,
      vocabParts: DataFrame): DataFrame = {
    val docPass = scalars.agg(
      sum(col("docs")).as("__docs"),
      sum(col("toks")).as("__toks"),
      sum(col("chars")).as("__chars"))
    val fpPass = fps.agg(count_distinct(col("fp")).as("__fps"))
    val srcPass = srcs.agg(count_distinct(col("source")).as("__srcs"))
    val langPass = langs
      .groupBy(col("lang")).agg(sum(col("n")).as("__n"))
      .agg(count(lit(1)).as("__langs"), max(col("__n")).as("__topn"))
    val vocabPass = vocabParts.agg(count_distinct(col("term")).as("__vocab"))
    cardMetrics(
      docPass.crossJoin(fpPass).crossJoin(srcPass).crossJoin(langPass).crossJoin(vocabPass))
  }

  /** Mergeable vocabulary state — the persisted-index face of
    * [[vocabGrowth]] (the statsOf/bm25Df contract: per-batch maintenance
    * must EQUAL the whole-corpus pass, never a rescan). One row per term:
    * (term, first, n) with `first` the smallest owning doc id and `n` the
    * term's occurrence count. min and sum are set-additive, so
    * [[vocabMergeState]] folds batch states into exactly the whole-corpus
    * state — a continuous crawl maintains its vocabulary (and its Heaps
    * curve, via [[vocabGrowthFromState]]) at vocab-sized batch cost. The
    * state doubles as the term-frequency spectrum (n per term). */
  def vocabState(
      batch: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    batch
      .select(col(idCol).cast("long").as("__vg_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("term")
      .agg(min(col("__vg_id")).as("first"), count(lit(1)).as("n"))

  /** Fold two (or, via reduce, any number of) [[vocabState]] frames:
    * min-first + integer-sum counts — associative, commutative,
    * layout-free. */
  def vocabMergeState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("term")
      .agg(min(col("first")).as("first"), sum(col("n")).as("n"))

  /** Per-doc token masses of one batch — the second (docs-sized,
    * append-only) state table [[vocabGrowthFromState]] needs: doc ids are
    * disjoint across batches, so the union IS the corpus table. */
  def vocabDocTokens(
      batch: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    batch.select(
      col(idCol).cast("long").as("doc_id"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))

  /** Fold a frame of APPENDED partial [[vocabState]] rows — the read face
    * of an append-only vocab store ([[graft.streaming.StreamOps.indexVocab]]
    * writes one partial per micro-batch): min/sum are associative and
    * commutative, so folding the concatenated parts in any grouping equals
    * pairwise [[vocabMergeState]] folds equals the whole-corpus
    * [[vocabState]] (the bm25FoldDf contract for the vocabulary family). */
  def vocabFoldState(parts: DataFrame): DataFrame =
    parts.groupBy("term").agg(min(col("first")).as("first"), sum(col("n")).as("n"))

  /** [[vocabGrowth]] recomputed from persisted state alone (merged
    * [[vocabState]] + appended [[vocabDocTokens]]) — column-identical
    * output, and exact: every field is a conditional count/sum both
    * representations agree on. The corpus text is never touched. */
  def vocabGrowthFromState(
      termFirst: DataFrame, docTokens: DataFrame, checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty, "need at least one checkpoint")
    val vAggs = checkpoints.map(c =>
      count(when(col("first") < c, 1)).as(s"__v$c"))
    val vocabRow = termFirst.agg(vAggs.head, vAggs.tail: _*)
    val tAggs = checkpoints.map(c =>
      sum(when(col("doc_id") < c, col("n_tokens")).otherwise(lit(0L))).as(s"__t$c"))
    val tokRow = docTokens.agg(tAggs.head, tAggs.tail: _*)
    val wide = vocabRow.crossJoin(tokRow)
    val rows = explode(array(checkpoints.map(c =>
      struct(lit(c).as("checkpoint"), col(s"__v$c").as("vocab"),
        col(s"__t$c").as("n_tokens"))): _*))
    wide.select(rows.as("r"))
      .select(col("r.checkpoint"), col("r.n_tokens"), col("r.vocab"),
        when(col("r.n_tokens") > 0,
          round(col("r.vocab").cast("double") / col("r.n_tokens"), 6))
          .as("type_token_ratio"))
  }

  /** Tokenizer fertility per group (usually language): how many subword
    * tokens the tokenizer spends per word and per character — THE
    * cross-lingual budget statistic (a script the tokenizer fragments
    * badly pays 3-5x more sequence length for the same text, so token
    * budgets and mixture weights must be set in TOKENS per language, not
    * documents — the statistic [[graft.operators.Sampling.tokenBudgetSample]]
    * consumes). Whitespace tokens proxy words; [[bpeishTokenCount]]
    * proxies subword load. One map-side-combinable aggregate; the shuffle
    * carries |groups| rows. */
  def tokenizerFertility(
      docs: DataFrame, textCol: String = "text", byCol: String = "lang"): DataFrame = {
    val t = col("__ft_tok"); val b = col("__ft_bpe")
    docs
      .select(col(byCol),
        tokenCount(col(textCol)).cast("long").as("__ft_tok"),
        bpeishTokenCount(col(textCol)).cast("long").as("__ft_bpe"),
        length(col(textCol)).cast("long").as("__ft_chars"))
      .groupBy(byCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(t).as("n_tokens"),
        sum(b).as("n_bpe_tokens"),
        sum(col("__ft_chars")).as("n_chars"))
      .withColumn("fertility",
        when(col("n_tokens") > 0,
          round(col("n_bpe_tokens").cast("double") / col("n_tokens"), 6)))
      .withColumn("chars_per_token",
        when(col("n_bpe_tokens") > 0,
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6)))
  }

  /** CCNet paragraph deduplication proper (Wenzek et al. 2020 §3.1): every
    * line is keyed by a normalized hash, each DISTINCT key is owned by its
    * FIRST corpus occurrence (min (doc, line_idx) — a total order, so the
    * winner is partitioning-invariant), and every later occurrence is
    * dropped; docs are rebuilt from their surviving lines.
    *
    * This differs from [[stripBoilerplate]], which deletes a frequent line
    * from ALL docs including the first: dedupLines preserves exactly one
    * copy of every piece of text, so corpus token mass is never lost —
    * the semantics CCNet actually ships for its crawl snapshots.
    *
    * Keys normalize CCNet-style (lowercase, letters only) when
    * `normalizeKeys`; a line whose normalized key is EMPTY (digits /
    * punctuation only) carries no dedupable content and is always kept.
    *
    * Returns (idCol, clean_text, n_lines, n_removed) for every input doc —
    * docs losing all lines surface with empty clean_text, docs with no
    * non-empty lines pass through unchanged.
    *
    * Scale shape: two equi-keyed shuffles and nothing else — ownership is
    * one hash-keyed min-struct aggregate over the exploded lines (map-side
    * combinable; state per key is one (doc, idx) pair) joined back on the
    * key, and reassembly is one groupBy(doc) over SURVIVING lines with an
    * in-group sort_array (no window, no global sort). The corpus text
    * never crosses a driver boundary. */
  def dedupLines(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      sep: String = "\n", normalizeKeys: Boolean = true): DataFrame = {
    val rawKey = if (normalizeKeys)
      (l: Column) => lower(regexp_replace(l, "[^\\p{L}]+", ""))
    else (l: Column) => l
    val exploded = docs
      .select(col(idCol).as("__dl_id"),
        posexplode(linesOf(col(textCol), sep)).as(Seq("__idx", "__line")))
      .withColumn("__key", md5(rawKey(col("__line"))))
      .withColumn("__dedupable", length(rawKey(col("__line"))) > 0)
    val owners = exploded.where(col("__dedupable"))
      .groupBy("__key")
      .agg(min(struct(col("__dl_id"), col("__idx"))).as("__owner"))
    val kept = exploded
      .join(owners, Seq("__key"), "left")
      .where(!col("__dedupable") ||
        (col("__owner.__dl_id") === col("__dl_id") && col("__owner.__idx") === col("__idx")))
      .groupBy(col("__dl_id"))
      .agg(
        array_join(sort_array(collect_list(struct(col("__idx"), col("__line"))))
          .getField("__line"), sep).as("clean_text"),
        count(lit(1)).as("__n_kept"))
    docs
      .withColumn("n_lines", size(linesOf(col(textCol), sep)))
      .join(kept.withColumnRenamed("__dl_id", idCol), Seq(idCol), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
      .withColumn("n_removed", col("n_lines") - coalesce(col("__n_kept"), lit(0L)))
      .drop("__n_kept")
      .select(col(idCol), col("clean_text"), col("n_lines"), col("n_removed"))
  }

  // ===== BPE tokenizer training ==========================================
  //
  // Byte-pair-encoding vocabulary training (Sennrich et al. 2016) at corpus
  // scale. The load-bearing reduction: after ONE groupBy, training operates
  // on the WORD-FREQUENCY TABLE (distinct words + counts), never the corpus
  // again — a 100 TB crawl collapses to a few million dictionary rows, and
  // every merge iteration is a job over that small table. The inner loop
  // (adjacent-pair counts weighted by word frequency) is pure codegen
  // built-ins; only the per-iteration pair substitution is a compiled JVM
  // kernel (same rationale as the minhash kernels: per-element loops in
  // higher-order lambdas run interpreted).

  /** Word-frequency table: distinct normalized words + occurrence counts.
    * The one corpus-sized job in BPE training. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Adjacent symbol-pair counts over symbol sequences, weighted by word
    * frequency — one BPE iteration's statistics. `symsCol` is the word's
    * current symbol array (initially its characters). */
  def bpePairCounts(words: DataFrame, symsCol: String = "syms"): DataFrame =
    words
      // single-symbol words carry no pairs — and sequence(1, 0) would
      // generate a DESCENDING [1, 0], not an empty list
      .where(size(col(symsCol)) >= 2)
      .select(
        col("n"),
        explode(transform(
          sequence(lit(1), size(col(symsCol)) - 1),
          i => concat_ws("|",
            element_at(col(symsCol), i), element_at(col(symsCol), i + 1))))
          .as("pair"))
      .groupBy("pair").agg(sum(col("n")).as("cnt"))

  /** One greedy left-to-right merge pass: every adjacent (a, b) in `syms`
    * becomes the single symbol a+b. Non-overlapping, leftmost-first — the
    * reference BPE semantics ("aaa" with merge (a,a) -> ["aa", "a"]). */
  private[graft] def mergePair(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  /** Train `numMerges` BPE merges over a corpus. Returns the merge table:
    * (merge_rank, left, right, merged, pair_count) — the tokenizer
    * artifact a training pipeline ships.
    *
    * Per iteration: ONE aggregation over the word table ranks pairs by
    * (count desc, pair asc — deterministic on any layout) and a BATCH of
    * up to `batchM` merges is accepted and applied in one substitution
    * pass. Serial one-merge-per-job training is the 50k-vocab
    * bottleneck (50k sequential Spark jobs); batching cuts the job count
    * by ~batchM while provably preserving the serial result:
    *
    *  - accepted merges are pairwise SYMBOL-DISJOINT, so applying one
    *    cannot change another's pair count (adjacency between symbols
    *    neither merge touches is invariant), and
    *  - a later accept must STRICTLY out-count every candidate that
    *    shares a symbol with an already-accepted merge — including the
    *    (M+1)-th count as the bound for pairs outside the fetched window.
    *    A merged pair (a,b) can only spawn new pairs (x,ab)/(ab,y) with
    *    counts bounded by the old (x,a)/(b,y) counts, and those sources
    *    all share a symbol with (a,b) — so no new pair can out-rank (or
    *    tie, where lexicographic order could flip) a later batch member.
    *
    * Only `batchM+1` rows cross to the driver per iteration (the ranked
    * argmax window — bounded, not a collect of counts). `batchM = 1` IS
    * the serial algorithm; PipelineOpsSpec pins batched == serial.
    * `checkpointEvery` truncates the iteration lineage like
    * Graph.pageRank (default 4: the DAG never exceeds a handful of merge
    * passes even at numMerges = 50k-vocab scale). */
  def bpeTrain(
      docs: DataFrame, numMerges: Int,
      textCol: String = "text", checkpointEvery: Int = 4,
      batchM: Int = 16): Seq[(Int, String, String, String, Long)] =
    bpeTrainWithStats(docs, numMerges, textCol, checkpointEvery, batchM)._1

  /** bpeTrain + the number of driver iterations (Spark job rounds) it
    * took — observable so tests can assert the batching actually batches. */
  private[graft] def bpeTrainWithStats(
      docs: DataFrame, numMerges: Int,
      textCol: String = "text", checkpointEvery: Int = 4,
      batchM: Int = 16): (Seq[(Int, String, String, String, Long)], Int) = {
    require(batchM >= 1, "batchM must be >= 1")
    var words = wordCounts(docs, textCol)
      .select(col("n"), split(col("word"), "").as("syms"))
      .localCheckpoint() // the corpus-sized lineage ends here
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 0
    var iters = 0
    var done = false
    while (rank < numMerges && !done) {
      val cands = bpePairCounts(words)
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(batchM + 1).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      if (cands.isEmpty) done = true
      else {
        iters += 1
        // count bound for any pair OUTSIDE the fetched window
        val restBound = if (cands.length > batchM) cands.last._2 else 0L
        val window = cands.take(batchM)
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val acceptedKeys = scala.collection.mutable.Set.empty[String]
        val used = scala.collection.mutable.Set.empty[String]
        var stop = false
        for ((pair, cnt) <- window if !stop && rank + accepted.size < numMerges) {
          val Array(a, b) = pair.split("\\|", 2)
          if (used(a) || used(b)) stop = true // sorted desc: nothing later can dominate this conflict
          else if (accepted.nonEmpty) {
            // strict dominance over every potential new-pair source:
            // non-accepted fetched candidates sharing a symbol with the
            // accepted set (an accepted merge consumes its own pair — it
            // is not a surviving source), and the out-of-window bound
            val conflictCnt = window.iterator
              .filter { case (p, _) =>
                !acceptedKeys(p) && {
                  val Array(x, y) = p.split("\\|", 2)
                  used(x) || used(y)
                }
              }.map(_._2).maxOption.getOrElse(0L)
            if (cnt > math.max(conflictCnt, restBound)) {
              accepted += ((a, b, cnt)); acceptedKeys += pair; used += a; used += b
            } else stop = true
          } else { accepted += ((a, b, cnt)); acceptedKeys += pair; used += a; used += b }
        }
        val batch = accepted.toSeq
        batch.foreach { case (a, b, cnt) =>
          merges += ((rank, a, b, a + b, cnt)); rank += 1
        }
        // ONE substitution pass applies the whole batch in rank order
        // (literally the serial per-word application, fused)
        val pairs = batch.map { case (a, b, _) => (a, b) }
        val mergeN = udf((syms: Seq[String]) =>
          pairs.foldLeft(syms) { case (s, (a, b)) => mergePair(s, a, b) })
        words = words.withColumn("syms", mergeN(col("syms")))
        if (iters % checkpointEvery == 0) words = words.localCheckpoint()
      }
    }
    (merges.toSeq, iters)
  }

  /** Encode text with a trained merge table: apply every merge in rank
    * order to each word's character sequence, emit (doc, token, count).
    * One map-side pass over the corpus (merges broadcast in the closure).
    *
    * Skip-set fast path: a merge (a, b) can only fire if BOTH symbols
    * occur in the word, and the symbols a word can ever contain are its
    * characters plus symbols produced by merges that already fired — so a
    * per-word presence set turns the 50k-vocab encode from 50k substitution
    * passes per word into 50k O(1) lookups plus the handful of passes that
    * actually apply. The set only grows (a consumed symbol is merely a
    * missed skip), so the result is EXACTLY the naive rank-order fold —
    * law-tested in PipelineOpsSpec. */
  /** Rank-order fold encode of ONE word (the skip-set fast path above). */
  private[graft] def encodeWordFold(
      w: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = w.split("").toSeq.filter(_.nonEmpty)
    val present = scala.collection.mutable.HashSet.empty[String]
    syms.foreach(present += _)
    merges.foreach { case (a, b) =>
      if (present.contains(a) && present.contains(b)) {
        val merged = mergePair(syms, a, b)
        if (merged.length != syms.length) {
          syms = merged
          present += (a + b)
        }
      }
    }
    syms
  }

  /** [[bpeEncode]] through the rank-order fold kernel — the law's reference
    * implementation (O(|merges|) skip-set scan per word). Kept for the
    * heap==fold law; production encodes route the heap. */
  private[graft] def bpeEncodeFold(
      docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val encode = udf((toks: Seq[String]) => toks.flatMap(encodeWordFold(_, merges)))
    docs
      .select(col(idCol), explode(encode(tokens(col(textCol)))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("cnt"))
  }

  /** Per-doc token counts under a BPE merge table. Routes the heap kernel
    * ([[encodeWordHeap]]): O(len·log len) per word independent of the merge
    * table size — at a real 50k vocabulary the fold reference pays 50k set
    * probes per word even when three merges apply. Output is provably
    * identical to the rank-order fold on trained tables (law-tested). */
  def bpeEncode(
      docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    bpeEncodeHeap(docs, merges, textCol, idCol)

  /** Heap encode of ONE word: a doubly-linked symbol list plus a priority
    * queue of adjacent pairs ordered by (merge rank, position), popped with
    * lazy invalidation — O(len·log len) per word INDEPENDENT of the merge
    * table size, vs the fold's O(|merges|) skip-set scan per word. At a
    * real 50k-entry vocabulary the fold pays 50k set probes per word even
    * when three merges apply; the heap pays only for pairs that exist.
    *
    * Produces EXACTLY the rank-order fold's output for any table produced
    * by BPE training (law-tested): a merge's operands are characters or
    * products of strictly earlier merges, so merging the currently
    * lowest-ranked pair can only create pairs of HIGHER rank — the heap's
    * global min-rank order and the fold's rank-by-rank passes linearize
    * identically, and the (rank, position) order reproduces the fold's
    * leftmost-first non-overlapping pass within each rank. */
  private[graft] def encodeWordHeap(
      w: String, rank: scala.collection.Map[(String, String), Int]): Seq[String] = {
    val chars = w.split("").filter(_.nonEmpty)
    val n = chars.length
    if (n == 0) return Nil
    val sym = scala.collection.mutable.ArrayBuffer[String](chars.toIndexedSeq: _*)
    val next = Array.tabulate(n)(i => if (i == n - 1) -1 else i + 1)
    val prev = Array.tabulate(n)(i => i - 1)
    val alive = Array.fill(n)(true)
    // min-heap on (rank, left position); node ids never renumber, so
    // position order IS current sequence order
    val pq = scala.collection.mutable.PriorityQueue.empty[(Int, Int, String, String)](
      Ordering.by[(Int, Int, String, String), (Int, Int)](t => (t._1, t._2)).reverse)
    def push(i: Int): Unit = {
      val j = if (i >= 0) next(i) else -1
      if (i >= 0 && j >= 0)
        rank.get((sym(i), sym(j))).foreach(r => pq.enqueue((r, i, sym(i), sym(j))))
    }
    (0 until n - 1).foreach(push)
    while (pq.nonEmpty) {
      val (_, i, a, b) = pq.dequeue()
      // lazy invalidation: the entry is live iff the pair still sits at i
      val j = if (alive(i)) next(i) else -1
      if (j >= 0 && alive(j) && sym(i) == a && sym(j) == b) {
        sym(i) = a + b
        alive(j) = false
        val k = next(j)
        next(i) = k
        if (k >= 0) prev(k) = i
        if (prev(i) >= 0) push(prev(i))
        push(i)
      }
    }
    (0 until n).collect { case i if alive(i) => sym(i) }
  }

  /** [[bpeEncode]] through the heap kernel — same output, vocabulary-size-
    * independent per-word cost (the encode to use with real tokenizers). */
  def bpeEncodeHeap(
      docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val rank = merges.zipWithIndex.toMap
    val encode = udf((toks: Seq[String]) => toks.flatMap(encodeWordHeap(_, rank)))
    docs
      .select(col(idCol), explode(encode(tokens(col(textCol)))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("cnt"))
  }

  /** Heap-encode each document and return the per-doc SYMBOL STREAM joined
    * back to one string — the lossless-partition invariant of BPE (encode
    * never drops, duplicates, or reorders a character), which an external
    * engine can verify as equality with the de-spaced normalized text. */
  def bpeEncodeJoined(
      docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val rank = merges.zipWithIndex.toMap
    val encode = udf((toks: Seq[String]) => toks.flatMap(encodeWordHeap(_, rank)))
    docs.select(
      col(idCol),
      array_join(encode(tokens(col(textCol))), "").as("detok"))
  }

  /** Per-doc DELIMITED BPE symbol stream: every emitted symbol wrapped in
    * U+001F and adjacent words joined by a U+0001 boundary symbol, e.g.
    * `␟lo␟␟w␟␟␟␟es␟␟t␟`. In this form one rank's greedy leftmost
    * non-overlapping merge pass IS a plain string replace of
    * `␟a␟␟b␟ → ␟ab␟` (delimiters block operand-prefix/suffix false
    * matches; the boundary symbol never pairs), so an external engine can
    * replay the ENTIRE rank-order fold with |merges| replace calls and
    * verify the merge applications themselves — not just the lossless
    * partition. Returns (id, n_symbols, stream_md5) where n_symbols counts
    * emitted symbols excluding word boundaries. */
  def bpeEncodeDelimited(
      docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val rank = merges.zipWithIndex.toMap
    val enc = udf { (toks: Seq[String]) =>
      val streams = toks.map(w => encodeWordHeap(w, rank))
      val sep = "\u001f"
      val s = streams
        .map(_.map(y => sep + y + sep).mkString(""))
        .mkString(sep + "\u0001" + sep)
      (s, streams.map(_.size.toLong).sum)
    }
    docs
      .select(col(idCol), enc(tokens(col(textCol))).as("e"))
      .select(col(idCol), col("e._2").as("n_symbols"), md5(col("e._1")).as("stream_md5"))
  }

  /** Driver-side serial BPE trainer over a SAMPLE of texts — the way real
    * tokenizers are trained (a bounded sample on one node) before the
    * corpus-scale encode runs distributed. Mirrors [[bpeTrain]]'s exact
    * semantics: whitespace-normalized lowercase tokens, pair counts
    * weighted by word frequency, rank by (count desc, "a|b" string asc),
    * greedy leftmost non-overlapping substitution — law-tested equal to
    * the Spark trainer on seeded corpora. ASCII-equivalent lowercasing
    * (Locale.ROOT) — like the engine, pair keys never leave the sample. */
  def bpeTrainLocal(
      texts: Seq[String], numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    val wordN = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach { t =>
      t.replaceAll("\\s+", " ").trim.toLowerCase(java.util.Locale.ROOT)
        .split(" ").filter(_.nonEmpty)
        .foreach(w => wordN.update(w, wordN.getOrElse(w, 0L) + 1L))
    }
    var words: Seq[(Seq[String], Long)] =
      wordN.toSeq.map { case (w, c) => (w.split("").toSeq.filter(_.nonEmpty), c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), cnt) = counts.minBy { case ((x, y), c) => (-c, x + "|" + y) }
        merges += ((rank, a, b, a + b, cnt))
        rank += 1
        words = words.map { case (syms, c) => (mergePair(syms, a, b), c) }
      }
    }
    merges.toSeq
  }

  /** PII redaction patterns, applied in order (emails before bare numbers so
    * an address is one `<EMAIL>`, not a mangled number). Engine-portable
    * POSIX-ish regexes — no lookarounds — so an external auditor can rerun
    * the exact scrub. */
  val redactions: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b(?:\\d[ -]?){13,16}\\b" -> "<CARD>",
    "\\b\\+?\\d{1,3}[ .-]?\\(?\\d{2,4}\\)?[ .-]?\\d{3,4}[ .-]?\\d{3,4}\\b" -> "<PHONE>")

  /** Mask common PII shapes (emails, IPs, SSNs, card-like and phone-like
    * number runs) — the scrub pass a training corpus runs before anything
    * else. A chain of codegen'd regexp_replace calls: pure map-side column
    * work, zero shuffle, safe at any scale. */
  def redact(text: Column): Column =
    redactions.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** Per-source PII density inventory — the measurement BEFORE `redact`:
    * occurrence counts per PII class, plus how many documents carry any,
    * so a curation run can rank sources by leak risk and verify after the
    * scrub that the counts actually hit zero.
    *
    * Classes are counted with `redactions`' precedence: each class counts
    * matches AFTER earlier classes are masked (an email's digits can't
    * double-count as a phone, card digit runs can't count as phones) —
    * exactly the matches `redact` would replace. One map-side codegen
    * pass per document, then a single source-keyed aggregate; nothing
    * wider than |sources| rows ever shuffles. */
  def piiStats(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val names = Seq("emails", "ips", "ssns", "cards", "phones")
    val (counts, _) = redactions.zip(names).foldLeft((Seq.empty[Column], col(textCol))) {
      case ((acc, running), ((pat, tag), name)) =>
        (acc :+ regexp_count(running, lit(pat)).as(name), regexp_replace(running, pat, tag))
    }
    val perDoc = docs.select((col(sourceCol) +: counts): _*)
    val anyPii = names.map(col).reduce(_ + _) > 0
    perDoc
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(when(anyPii, 1L).otherwise(0L)).as("docs_with_pii") +:
          names.map(n => sum(col(n)).as(n))): _*)
  }

  /** Gopher/C4-style quality-filter pipeline: named pass/fail rules
    * evaluated in order, each doc labeled with keep ∈ {0,1} and the FIRST
    * failing rule as reject_reason (null when kept) — the auditable form a
    * corpus release needs (per-rule rejection counts fall out of one
    * groupBy on the reason).
    *
    * Rules are (name, pass-predicate) pairs over the doc row, so callers
    * compose any signal in this file (token counts, repetition, stopword
    * density, langId, lm nll…). The whole report is ONE map-side pass —
    * the when-chain compiles into the same whole-stage-codegen stage as
    * the signals it reads; no shuffle at any scale. */
  def filterReport(
      docs: DataFrame,
      rules: Seq[(String, Column)],
      idCol: String = "doc_id"): DataFrame = {
    require(rules.nonEmpty, "filterReport needs at least one rule")
    val reason = rules.foldRight(lit(null).cast("string")) {
      case ((name, pass), acc) => when(!pass, lit(name)).otherwise(acc)
    }
    docs.select(
      col(idCol),
      reason.as("reject_reason"),
      when(reason.isNull, 1).otherwise(0).as("keep"))
  }

  /** The standard pre-training heuristic rule set (Gopher rules §A1.1 /
    * C4 shapes) over a text column, ready for [[filterReport]]. */
  def gopherRules(
      textCol: Column,
      minTokens: Int = 15,
      maxTokens: Int = 100000,
      maxRepetition: Double = 0.05,
      minStopword: Double = 0.02): Seq[(String, Column)] = Seq(
    "too_short" -> (tokenCount(textCol) >= minTokens),
    "too_long" -> (tokenCount(textCol) <= maxTokens),
    "repetitive" -> (round(repetitionRatio(textCol, 2), 6) <= maxRepetition),
    "low_stopword" -> (round(stopwordRatio(textCol), 6) >= minStopword))

  /** Full Gopher §A1.1 repetition battery (Rae et al. 2021, Table A1) — the
    * per-document metrics the short [[gopherRules]] set approximates with a
    * single dup-2-gram ratio:
    *
    *  - `top{2,3,4}gram_frac`: fraction of the normalized text's CHARACTERS
    *    contained in occurrences of the document's most frequent word
    *    n-gram — occurrences × gram chars / total chars, capped at 1.0
    *    (overlapping occurrences can over-count); ties on the count break
    *    to the lexicographically LARGEST gram so the pick is deterministic
    *    and engine-replayable.
    *  - `dup{5..10}gram_frac`: fraction of TOKENS covered by any n-token
    *    window whose gram occurs more than once in the document —
    *    overlap-aware (a token under several duplicated windows counts
    *    once), the token-level accounting of the paper's duplicate-n-gram
    *    character fraction.
    *
    * Shape at 100 TB: one union of per-n posexploded gram frames feeds ONE
    * shuffle keyed (doc, n, gram); per-gram start lists and the per-doc
    * flatten are bounded by document length, never corpus size (same
    * precedent as [[Dedup.removeDuplicateSpans]]); the coverage union is a
    * linear sweep over the sorted starts inside a codegen'd `aggregate`.
    * Docs shorter than n tokens (no grams) report 0.0 for that n. */
  def gopherRepetitionReport(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): DataFrame = {
    require(topNs.intersect(dupNs).isEmpty, "topNs and dupNs must be disjoint")
    val base = docs.select(
      col(idCol),
      tokens(col(textCol)).as("__toks"))
    val exploded = (topNs ++ dupNs).map { n =>
      val gramArr = when(
        size(col("__toks")) >= n,
        transform(
          sequence(lit(1), size(col("__toks")) - (n - 1)),
          i => concat_ws(" ", slice(col("__toks"), i, lit(n)))))
        .otherwise(array().cast("array<string>"))
      base.select(
        col(idCol),
        lit(n).as("__n"),
        size(col("__toks")).as("__nt"),
        length(array_join(col("__toks"), " ")).as("__nc"),
        posexplode(gramArr).as(Seq("__s", "__gram")))
    }.reduce(_.unionByName(_))
    val grouped = exploded
      .groupBy(col(idCol), col("__n"), col("__gram"))
      .agg(
        count(lit(1)).as("__c"),
        collect_list(col("__s").cast("long")).as("__starts"),
        first(col("__nt")).as("__nt"),
        first(col("__nc")).as("__nc"))
    val topFrac = grouped
      .where(col("__n").isin(topNs.map(Integer.valueOf): _*))
      .groupBy(col(idCol), col("__n"))
      .agg(
        max(struct(col("__c").as("c"), col("__gram").as("g"))).as("__t"),
        first(col("__nc")).as("__nc"))
      .select(
        col(idCol), col("__n"),
        round(
          least(
            lit(1.0),
            (col("__t.c") * length(col("__t.g"))).cast("double") / col("__nc")),
          6).as("__frac"))
    val nL = col("__n").cast("long")
    val dupFrac = grouped
      .where(col("__n").isin(dupNs.map(Integer.valueOf): _*) && col("__c") >= 2)
      .groupBy(col(idCol), col("__n"))
      .agg(
        flatten(collect_list(col("__starts"))).as("__st"),
        first(col("__nt")).as("__nt"))
      .select(
        col(idCol), col("__n"),
        round(
          aggregate(
            sort_array(col("__st")),
            struct(lit(0L).as("cov"), lit(0L).as("end")),
            (acc, s) => struct(
              (acc.getField("cov") +
                greatest(s + nL - greatest(acc.getField("end"), s), lit(0L))).as("cov"),
              greatest(acc.getField("end"), s + nL).as("end")),
            acc => acc.getField("cov")).cast("double") / col("__nt"),
          6).as("__frac"))
    val metrics = topFrac.unionByName(dupFrac)
    val aggs = topNs.map(n =>
      max(when(col("__n") === n, col("__frac"))).as(s"top${n}gram_frac")) ++
      dupNs.map(n =>
        max(when(col("__n") === n, col("__frac"))).as(s"dup${n}gram_frac"))
    val wide = metrics.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val names = topNs.map(n => s"top${n}gram_frac") ++ dupNs.map(n => s"dup${n}gram_frac")
    docs.select(col(idCol))
      .join(wide, Seq(idCol), "left_outer")
      .na.fill(0.0, names)
  }

  /** The published Gopher repetition thresholds (Rae et al. 2021 Table A1)
    * applied to a [[gopherRepetitionReport]] frame: keep = every metric at
    * or below its ceiling. Returns (id, keep, reject_reason) in
    * [[filterReport]] shape — reason names the FIRST failing metric in
    * battery order. */
  def gopherRepetitionFilter(report: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val limits = Seq(
      "top2gram_frac" -> 0.20, "top3gram_frac" -> 0.18, "top4gram_frac" -> 0.16,
      "dup5gram_frac" -> 0.15, "dup6gram_frac" -> 0.14, "dup7gram_frac" -> 0.13,
      "dup8gram_frac" -> 0.12, "dup9gram_frac" -> 0.11, "dup10gram_frac" -> 0.10)
    val present = limits.filter { case (c, _) => report.columns.contains(c) }
    require(present.nonEmpty, "report carries none of the battery columns")
    val reason = present.foldRight(lit(null).cast("string")) {
      case ((name, lim), acc) => when(col(name) > lim, lit(name)).otherwise(acc)
    }
    report.select(
      col(idCol),
      reason.as("reject_reason"),
      when(reason.isNull, 1).otherwise(0).as("keep"))
  }

  /** Per-document text-feature frame (the map-side feature extraction pass
    * of a corpus pipeline). */
  def features(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col("doc_id"),
      tokenCount(t).as("n_tokens"),
      bpeishTokenCount(t).as("n_bpe_tokens"),
      round(stopwordRatio(t), 6).as("stopword_ratio"),
      round(punctRatio(t), 6).as("punct_ratio"),
      round(qualityScore(t), 6).as("quality"),
      langId(t).as("lang_pred"),
      fingerprint(t).as("fingerprint")
    )
  }

  /** Unigram corpus-LM scoring (the CCNet-style quality signal): each
    * document's mean negative log-likelihood under an add-one-smoothed
    * unigram model fit on a REFERENCE corpus — low nll reads like the
    * reference (keep), high nll is out-of-distribution (bucket or drop).
    * p(w) = (c_ref(w)+1) / (total_ref + |V_ref| + 1); the +1 type is the
    * shared OOV mass, so unseen words score finite.
    *
    * Scale shape: the model is vocabulary-sized (MBs against a 100 TB
    * corpus) — one aggregate over the reference, then BROADCAST to a
    * map-side join against the exploded corpus tokens; the scalar
    * (total, vocab) row rides along as a broadcast cross join. The only
    * corpus-sized shuffle is the final per-document average. Documents
    * with no tokens produce no row (nothing to score). */
  def lmScore(
      docs: DataFrame,
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val model = ref
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
    val stats = model.agg(sum("c").as("total"), count(lit(1)).as("vocab"))
    docs
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(model), Seq("w"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_tokens"),
        round(
          avg(-log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
            (col("total") + col("vocab") + lit(1.0)))), 6).as("nll"))
      .select(col(idCol), col("n_tokens"), col("nll"))
  }

  /** Interpolated BIGRAM corpus-LM scoring — the CCNet-style quality
    * signal one order above [[lmScore]]: per-doc mean NLL of
    * −ln(λ·p_bi + (1−λ)·p_uni) over the doc's adjacent token pairs,
    * where p_bi(w|v) = (c(v,w)+1)/(c(v)+V+1) (add-one over the reference
    * vocabulary conditioned on v) and p_uni is [[lmScore]]'s add-one
    * unigram. Interpolation, not backoff: every position mixes both
    * orders, so unseen bigrams degrade smoothly instead of cliffing.
    * Docs with < 2 tokens carry no bigrams and are not scored.
    *
    * Scale shape: both models are REFERENCE-slice-sized (the slice is
    * bounded by contract — MBs against a 100 TB corpus) and broadcast to
    * map-side joins; the only corpus-sized shuffle is the per-document
    * average. Same portability contract as the rest of the family:
    * integer counts, IEEE double math, 6dp round inside the query. */
  def lmScoreBigram(
      docs: DataFrame,
      ref: DataFrame,
      lambda: Double = 0.7,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val uni = ref
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val stats = uni.agg(sum("c").as("total"), count(lit(1)).as("vocab"))
    def bigrams(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(ngramStrings(col(textCol), 2)).as("g"): _*)
        .withColumn("v", split(col("g"), " ").getItem(0))
        .withColumn("w", split(col("g"), " ").getItem(1))
    val bi = bigrams(ref).groupBy("v", "w").agg(count(lit(1)).as("cb"))
    bigrams(docs, col(idCol))
      .join(broadcast(bi), Seq("v", "w"), "left")
      .join(broadcast(uni.select(col("w").as("v"), col("c").as("cv"))), Seq("v"), "left")
      .join(broadcast(uni.select(col("w"), col("c").as("cw"))), Seq("w"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(
          avg(-log(
            lit(lambda) * (coalesce(col("cb"), lit(0L)) + lit(1.0)) /
              (coalesce(col("cv"), lit(0L)) + col("vocab") + lit(1.0)) +
            (lit(1.0) - lit(lambda)) * (coalesce(col("cw"), lit(0L)) + lit(1.0)) /
              (col("total") + col("vocab") + lit(1.0)))), 6).as("nll"))
      .select(col(idCol), col("n_bigrams"), col("nll"))
  }

  /** DSIR-style importance weights for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score each raw document by how much more likely its hashed n-gram
    * features are under a TARGET-domain model than under the raw-corpus
    * model. Features are word n-grams hashed into `buckets` slots
    * (60-bit md5 mod B — engine-portable); both models are add-one
    * smoothed over the B-slot domain, so the per-gram contribution is
    * ln((c_t(b)+1)/(T_t+B)) − ln((c_r(b)+1)/(T_r+B)).
    *
    * Scale shape: both models are B-sized (KBs against a 100 TB corpus) —
    * one aggregate each over target and raw, then BROADCAST back as
    * map-side joins; the scalar totals ride along as broadcast cross
    * joins. The only corpus-sized shuffle is the per-document sum, and
    * the top-`quota` selection is a TakeOrdered (per-partition heads), not
    * a global sort. Ranking is on the 6dp-ROUNDED score with a doc-id
    * tie-break — a total order any engine reproduces. Documents with
    * fewer than n tokens carry no features and are not scored. */
  def dsirScores(
      docs: DataFrame,
      target: DataFrame,
      buckets: Int = 8192,
      n: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // spread before the n-gram kernel: it runs three times here (target
    // model, raw model, scoring pass) and a single-row-group input would
    // pin all three to one task. rowsPerTask measured (sf0.1, 5000 docs,
    // 32 threads, interleaved min-of-3): 64 rows/task → dsir_select
    // 2.14 s, 512 → 1.31, 1024 → 1.14, 2048 → 1.80 — the dsir kernel's
    // per-task fixed cost wants ~1k rows/task; the defaultParallelism cap
    // keeps genuinely large corpora at full width
    val docsS = spread(docs, rowsPerTask = 1024L)
    val targetS = spread(target, rowsPerTask = 1024L)
    def features(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(ngramStrings(col(textCol), n)).as("g"): _*)
        .withColumn("b", pmod(graft.functions.Funcs.md5Hash60(col("g")), lit(buckets.toLong)))
        .drop("g")
    val tModel = features(targetS).groupBy("b").agg(count(lit(1)).as("ct"))
    val rModel = features(docsS).groupBy("b").agg(count(lit(1)).as("cr"))
    val tStats = tModel.agg(sum("ct").as("tt"))
    val rStats = rModel.agg(sum("cr").as("tr"))
    features(docsS, col(idCol))
      .join(broadcast(tModel), Seq("b"), "left")
      .join(broadcast(rModel), Seq("b"), "left")
      .crossJoin(broadcast(tStats)).crossJoin(broadcast(rStats))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_grams"),
        round(sum(
          log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("tt") + lit(buckets.toDouble))) -
          log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / (col("tr") + lit(buckets.toDouble)))), 6)
          .as("logw"))
  }

  /** Top-`quota` raw documents by DSIR importance weight — the selection
    * step of importance resampling in its deterministic top-k form. */
  def dsirSelect(
      docs: DataFrame,
      target: DataFrame,
      quota: Int,
      buckets: Int = 8192,
      n: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    dsirScores(docs, target, buckets, n, idCol, textCol)
      .orderBy(col("logw").desc, col(idCol).asc)
      .limit(quota)

  /** BM25-ranked retrieval: top-k documents for a bag-of-words query.
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (the Lucene/ATIRE variant —
    * the +1 keeps idf positive for terms in over half the corpus).
    *
    * Scale shape: the term filter applies MAP-SIDE before anything shuffles,
    * so the one (doc, term) aggregation carries only postings of the query's
    * terms — query-sized, not corpus-sized. Document length rides along in
    * the same pass (max of a per-doc constant), document frequencies and the
    * corpus stats broadcast back, and the global top-k is a TakeOrdered
    * (per-partition heads, no single-task window). Scores are rounded 6dp
    * BEFORE ranking with a doc_id tie-break — a total order any engine
    * reproduces. */
  def bm25TopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val stats = docs
      .select(tokenCount(col(textCol)).cast("double").as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val postings = docs
      // tokenize ONCE per row: bind the token array (the bm25Index shape);
      // the query-term filter still runs below the shuffle
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(
        col(idCol),
        size(col("__toks")).cast("double").as("dl"),
        explode(col("__toks")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), max("dl").as("dl"))
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = postings
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn(
        "s",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(round(sum("s"), 6).as("score"))
    val top = scored.orderBy(col("score").desc, col(idCol)).limit(topK)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col(idCol)))) // topK rows only
      .select(col("rank"), col(idCol), col("score"))
  }

  /** PERSISTED-INDEX BM25, the lexical sibling of the semantic/IVF index
    * faces: [[bm25TopK]] re-tokenizes the corpus per query, which at
    * 100 TB means a full text scan for every search. The index face pays
    * tokenization ONCE per batch and searches touch postings only.
    *
    * [[bm25Index]] turns a batch into its postings (idCol, term, tf, dl)
    * — append-only across batches (doc ids are disjoint, so the union IS
    * the corpus index; store term-bucketed so a search prunes to its
    * query terms' buckets). [[bm25Df]] reduces a batch's postings to
    * vocab-sized (term, df) rows and [[bm25Corpus]] to ONE
    * (n_docs, sum_dl) row; both merge by pure addition
    * ([[bm25MergeDf]] / [[bm25MergeCorpus]]) — integer counts, so the
    * merged state equals the whole-corpus pass EXACTLY, never a rescan
    * (the same maintenance contract as containmentIncremental's
    * (fingerprint, df) side table). [[bm25SearchIndexed]] then scores a
    * query with a map-side term filter + broadcast df/stats join —
    * query-sized work, equal to [[bm25TopK]] on the concatenated corpus
    * (exact: avgdl = sum_dl/n_docs over integer-valued lengths). */
  def bm25Index(
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    batch
      // tokenize ONCE: bind the token array to an attribute so both the
      // length and the explode read the bound value — CollapseProject
      // refuses to inline a non-cheap alias referenced twice, and the
      // generator reads the attribute from the child projection
      // (plan-audited: exactly one regexp kernel in the build plan)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(
        col(idCol),
        size(col("__toks")).cast("double").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), max("dl").as("dl"))

  /** Vocab-sized (term, df) rows of ONE batch's postings. */
  def bm25Df(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  /** Merge (term, df) states: set-additive integer sums. */
  def bm25MergeDf(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("term").agg(sum("df").as("df"))

  /** One mergeable corpus-stats row: (n_docs, sum_dl). */
  def bm25Corpus(batch: DataFrame, textCol: String = "text"): DataFrame =
    batch
      .select(tokenCount(col(textCol)).cast("double").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))

  /** Merge (n_docs, sum_dl) states. */
  def bm25MergeCorpus(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))

  /** [[bm25Corpus]] derived from an already-tokenized [[bm25Index]] pass —
    * the tokenize-once face for callers that have the batch's postings
    * pinned ([[graft.streaming.StreamOps.indexLexical]]): n_docs counts
    * the BATCH (empty-text docs post nothing but belong in the corpus
    * stats), sum_dl folds each posted doc's dl once. EXACTLY equal to
    * [[bm25Corpus]] — dl values are integer-valued doubles, so the fold
    * order is immaterial, and the all-empty-text batch sums to 0.0 like
    * the direct pass (law-tested). Two bounded aggregates (a row count +
    * a postings fold), no text scan. */
  def bm25CorpusFromPostings(
      batch: DataFrame,
      postings: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    batch.agg(count(lit(1)).as("n_docs"))
      .crossJoin(
        postings.groupBy(col(idCol)).agg(max("dl").as("__dl"))
          .agg(sum("__dl").as("__sd")))
      .select(
        col("n_docs"),
        // empty BATCH -> null (as bm25Corpus' sum over zero rows); a
        // non-empty batch whose docs are all empty-text -> 0.0 (ditto)
        when(col("n_docs") > 0, coalesce(col("__sd"), lit(0.0))).as("sum_dl"))

  /** Fold a frame of APPENDED partial (term, df) states — the read face of
    * an append-only df store ([[graft.streaming.StreamOps.indexLexical]]
    * writes one partial per micro-batch): integer addition is associative
    * and commutative, so folding partials in any grouping equals
    * [[bm25MergeDf]] pairwise folds equals the whole-corpus [[bm25Df]]. */
  def bm25FoldDf(parts: DataFrame): DataFrame =
    parts.groupBy("term").agg(sum("df").as("df"))

  /** Fold appended partial (n_docs, sum_dl) rows — see [[bm25FoldDf]]. */
  def bm25FoldCorpus(parts: DataFrame): DataFrame =
    parts.agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))

  /** Score a query against the persisted index — [[bm25TopK]] minus the
    * corpus scan. The term filter applies map-side over the postings
    * (bucket-prunable by term); df and corpus stats broadcast; identical
    * 6dp-rounded scoring and TakeOrdered top-k. */
  def bm25SearchIndexed(
      postings: DataFrame,
      dfTab: DataFrame,
      corpus: DataFrame,
      queryTerms: Seq[String],
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty, "bm25SearchIndexed needs at least one query term")
    val stats = corpus.select(
      col("n_docs"),
      (col("sum_dl") / col("n_docs")).as("avgdl"))
    val scored = postings
      .where(col("term").isin(queryTerms: _*))
      .join(broadcast(dfTab.where(col("term").isin(queryTerms: _*))), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn(
        "s",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(round(sum("s"), 6).as("score"))
    val top = scored.orderBy(col("score").desc, col(idCol)).limit(topK)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col(idCol)))) // topK rows only
      .select(col("rank"), col(idCol), col("score"))
  }

  /** Exact frequent terms via the SON two-phase algorithm (Savasere–Omiecinski–
    * Navathe; ch. 6 of Mining of Massive Datasets): phase 1 counts each
    * partition in a local hash map and emits only terms reaching the local
    * threshold ⌈minCount/P⌉ — by pigeonhole, any term with global count ≥
    * minCount reaches it in at least one of the P partitions, so the
    * candidate set has NO false negatives. Phase 2 recounts candidates
    * exactly (broadcast semi-join, one aggregation) and applies the global
    * threshold, removing the false positives.
    *
    * The point at 100 TB: the full vocabulary never shuffles. Phase 1 is
    * map-side only, phase 2 shuffles candidate postings — bounded by
    * P · (partitionRows/localMin) terms, not |V|. The output is exact and
    * partitioning-invariant (the candidate superset varies with layout; the
    * verified counts do not). mapPartitions is deliberate here — SURVEY
    * §7.4's "genuine per-partition imperative logic" case. */
  def heavyHitters(
      docs: DataFrame,
      minCount: Long,
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1, "minCount must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = docs.select(explode(tokens(col(textCol))).as("term")).as[String]
    val nPart = math.max(1, terms.rdd.getNumPartitions)
    val localMin = (minCount + nPart - 1) / nPart // ceiling
    val candidates = terms
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach(t => m.update(t, m.getOrElse(t, 0L) + 1L))
        m.iterator.collect { case (t, c) if c >= localMin => t }
      }
      .toDF("term")
      .distinct()
    terms
      .toDF("term")
      .join(broadcast(candidates), Seq("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** Exact phrase occurrences per document — the boolean complement of
    * ranked retrieval ([[bm25TopK]]): count positions where the phrase's
    * tokens appear CONSECUTIVELY. Pure map-side codegen over each row's
    * own token array (a fixed phrase needs no postings index — the scan
    * shape is one pass, zero shuffle; an index only pays once queries
    * outnumber scans). Matching is on normalized tokens, like every text
    * operator here. */
  def phraseHits(
      docs: DataFrame,
      phrase: String,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // Locale.ROOT: the corpus side lowercases with Spark's locale-
    // independent lower(); a default-locale toLowerCase would break the
    // match on locale-sensitive characters (Turkish dotless i)
    val terms = phrase.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty)
    require(terms.nonEmpty, "empty phrase")
    val kk = terms.length
    docs
      // EXACT prefilter before the positional lambda: normalized text IS
      // the tokens joined by single spaces, so space-padded substring
      // presence <=> consecutive-token presence. The (interpreted) lambda
      // then runs only on matching docs — the codegen'd contains() scan
      // carries the corpus
      .where(concat(lit(" "), normalized(col(textCol)), lit(" "))
        .contains(" " + terms.mkString(" ") + " "))
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn(
        "n_hits",
        when(
          size(col("__t")) >= kk,
          size(filter(
            sequence(lit(1), size(col("__t")) - (kk - 1)),
            p => terms.zipWithIndex
              .map { case (t, i) => element_at(col("__t"), p + lit(i)) === lit(t) }
              .reduce(_ && _))))
          .otherwise(lit(0)))
      .where(col("n_hits") > 0)
      .select(col(idCol), col("n_hits"))
  }

  /** POSITIONAL postings of one batch — (idCol, term, pos, dl), pos the
    * 0-based token position, dl the doc's token count: the UNIFIED
    * lexical store. These rows strictly subsume the BM25 postings
    * (tf = count(pos) per (doc, term), dl carried on every row), so one
    * store answers phrase ([[phraseHitsIndexed]]), proximity
    * ([[proximityIndexed]]) AND ranked retrieval
    * ([[bm25SearchPositional]] via [[bm25FromPositional]]) — a crawler
    * keeping both capabilities stores ONE postings table instead of two
    * (~2× less postings storage than positions + a separate
    * [[bm25Index]]). dl is denormalized onto each row on purpose: a BM25
    * query term-filters FIRST, and a (doc, term, pos)-only store could
    * not recover candidate docs' lengths without a full-store rescan or
    * a separate per-doc side table. Append-only across batches (doc ids
    * are disjoint — the union IS the corpus index, no merge step), same
    * maintenance contract as the BM25 postings, streaming face
    * [[graft.streaming.StreamOps.indexPositional]]; store it
    * term-bucketed so a phrase query's scan prunes to its own terms'
    * buckets. One tokenize kernel (the bound-attribute discipline of
    * [[bm25Index]]). */
  def positionalIndex(
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    batch
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(
        col(idCol),
        size(col("__toks")).cast("double").as("dl"),
        posexplode(col("__toks")).as(Seq("pos", "term")))
      .select(col(idCol), col("term"), col("pos"), col("dl"))

  /** BM25 postings derived from POSITIONAL rows — tf = count(pos) per
    * (doc, term), dl carried: EXACTLY equal to [[bm25Index]] on the same
    * batch (law-tested), which is what makes the unified store lossless.
    * The aggregate groups on (idCol, term), so a downstream query-term
    * filter pushes below it to the postings scan (plan-audited) —
    * composing [[bm25SearchIndexed]] over this view stays
    * query-term-sized. */
  def bm25FromPositional(
      positional: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    positional
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), max("dl").as("dl"))

  /** Ranked retrieval from the UNIFIED positional store —
    * [[bm25SearchIndexed]] over [[bm25FromPositional]]'s derived view.
    * The term filter lands at the postings scan (below the tf
    * aggregate — Catalyst pushes grouping-key predicates through
    * aggregates; plan-audited), so the work is query-term-sized exactly
    * like the dedicated-index face. */
  def bm25SearchPositional(
      positional: DataFrame,
      dfTab: DataFrame,
      corpus: DataFrame,
      queryTerms: Seq[String],
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame =
    bm25SearchIndexed(
      bm25FromPositional(positional, idCol),
      dfTab, corpus, queryTerms, topK, k1, b, idCol)

  /** Exact phrase occurrences from a PERSISTED positional index — the
    * production face of [[phraseHits]] (which scans the corpus text):
    * a phrase of k terms is k map-side term filters on the postings and
    * k−1 equi-joins on (doc, aligned start position) — query-term-sized
    * work, the corpus text is never re-tokenized (the [[bm25SearchIndexed]]
    * rationale applied to the boolean face). Counts every (possibly
    * overlapping) start position, exactly like the scan face —
    * law-tested equal and oracle-shared. */
  def phraseHitsIndexed(
      postings: DataFrame,
      phrase: String,
      idCol: String = "doc_id"): DataFrame = {
    val terms = phrase.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty)
    require(terms.nonEmpty, "empty phrase")
    val starts = terms.zipWithIndex.map { case (t, i) =>
      postings.where(col("term") === t)
        .select(col(idCol), (col("pos") - i).as("start"))
    }.reduce((a, b) => a.join(b, Seq(idCol, "start")))
    starts.groupBy(idCol).agg(count(lit(1)).cast("int").as("n_hits"))
  }

  /** PROXIMITY search, scan face: per document, the MINIMAL token
    * distance between any occurrence of `termA` and any of `termB`, kept
    * when ≤ `maxDist` — the ranking signal between exact phrase
    * ([[phraseHits]], distance exactly 1 in order) and bag-of-words
    * retrieval ([[bm25TopK]], no position at all). Map-side over each
    * row's own token array; the per-doc pair fold is bounded by the two
    * terms' in-doc frequencies. Output (idCol, min_dist). */
  def proximityHits(
      docs: DataFrame,
      termA: String,
      termB: String,
      maxDist: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val (a, b) = (termA.toLowerCase(java.util.Locale.ROOT), termB.toLowerCase(java.util.Locale.ROOT))
    docs
      // codegen prefilter before the kernel: both terms must be present
      // as whole tokens (the phraseHits space-padding trick)
      .where {
        val padded = concat(lit(" "), normalized(col(textCol)), lit(" "))
        padded.contains(s" $a ") && padded.contains(s" $b ")
      }
      .select(col(idCol), minPairDistUdf(col(textCol), lit(a), lit(b)).as("min_dist"))
      .where(col("min_dist").isNotNull && col("min_dist") <= maxDist)
  }

  // the compiled mirror of tokens() — same normalization as Dedup's
  // kernels (whitespace collapse, ROOT lowercase, empty tokens dropped;
  // parity with the Spark-side chain is pinned by the shared oracles)
  private def normTokensJvm(text: String): Array[String] =
    if (text == null) Array.empty
    else text.replaceAll("\\s+", " ").trim.toLowerCase(java.util.Locale.ROOT)
      .split(' ').filter(_.nonEmpty)

  /** Minimal token distance between any occurrence of `a` and any of
    * `b` in one pass (the classic sorted-merge argument: the global min
    * is between some occurrence and the nearest PRECEDING occurrence of
    * the other term). Compiled kernel, not an interpreted higher-order
    * fold — the ngramMd5Udf rationale: per-token lambda interpretation
    * measured 3× slower on the co-occurrence-dense fixture corpus. */
  private[operators] def minPairDist(text: String, a: String, b: String): Option[Int] = {
    val toks = normTokensJvm(text)
    var la = -1
    var lb = -1
    var best = Int.MaxValue
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t == a) {
        if (lb >= 0 && i - lb < best) best = i - lb
        la = i
      }
      if (t == b) {
        if (la >= 0 && i - la < best) best = i - la
        lb = i
      }
      i += 1
    }
    if (best == Int.MaxValue) None else Some(best)
  }

  private val minPairDistUdf =
    udf((text: String, a: String, b: String) => minPairDist(text, a, b))

  /** [[proximityHits]] answered from the PERSISTED positional index
    * ([[positionalIndex]] rows): both terms' position lists come from
    * map-side term filters, and candidate pairs join on
    * (doc, distance-bucket) — positions bucket at width maxDist+1 with
    * one side exploded to its neighbor buckets, so any pair within
    * `maxDist` shares a join key (the interval-join trick) and the pair
    * fan-out is bounded by per-bucket occupancy, never per-doc frequency
    * products. Query-term-sized work, no re-tokenize; law-tested equal
    * to the scan face and oracle-shared. */
  def proximityIndexed(
      postings: DataFrame,
      termA: String,
      termB: String,
      maxDist: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val (a, b) = (termA.toLowerCase(java.util.Locale.ROOT), termB.toLowerCase(java.util.Locale.ROOT))
    val w = maxDist + 1
    val pa = postings.where(col("term") === a)
      .select(col(idCol), col("pos").as("__pa"), (col("pos") / w).cast("long").as("__bk"))
    val pb = postings.where(col("term") === b)
      .select(
        col(idCol), col("pos").as("__pb"),
        explode(array(
          (col("pos") / w).cast("long") - 1,
          (col("pos") / w).cast("long"),
          (col("pos") / w).cast("long") + 1)).as("__bk"))
    pa.join(pb, Seq(idCol, "__bk"))
      .select(col(idCol), abs(col("__pa") - col("__pb")).cast("int").as("__d"))
      .where(col("__d") <= maxDist)
      .groupBy(col(idCol))
      .agg(min(col("__d")).as("min_dist"))
  }

  // ===== Naive Bayes classifier filtering =================================
  //
  // The classifier-based quality/language filter of the standard pipeline
  // (a fastText-style linear classifier trained on labeled reference text,
  // then swept over the crawl) in its closed-form member: multinomial
  // Naive Bayes with Laplace smoothing. Training is pure counting — one
  // (label, token) aggregation — so the "training run" is a Spark job, not
  // an optimizer loop, and the model is a vocabulary-sized broadcast.
  //
  // Determinism contract: log-probabilities are QUANTIZED to integers
  // (round(ln(p)·1e6)) at model build; scoring sums integers, so scores
  // are exact BIGINTs any engine reproduces regardless of float summation
  // order — the argmax needs no epsilon. Ties break to the
  // lexicographically largest label (struct-max semantics, mirrored in the
  // oracle's ORDER BY score DESC, label DESC).

  /** Train: (tokenModel(label, token, qlog), labelModel(label, qprior,
    * qdefault)). qlog = quantized ln((c+1)/(tot_label+V)); qdefault is the
    * unseen-token likelihood of each label; V is the training vocabulary
    * size (one bounded driver scalar, like distributionDrift's cuts). */
  def nbTrain(
      docs: DataFrame,
      labelCol: String,
      textCol: String = "text"): (DataFrame, DataFrame) = {
    // NOT spread (measured, r16): the NB chain has many small post-kernel
    // stages — a 32-way spread added more per-task fixed cost downstream
    // than the parallel tokenize saved (q_text_calibration 2.5 -> 4.0 s,
    // q_text_nb_lang 1.0 -> 1.6 s); reverted on those numbers
    val toks = docs.select(col(labelCol).as("label"), explode(tokens(col(textCol))).as("token"))
    val counts = toks.groupBy("label", "token").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("label").agg(sum("c").as("tot"))
    // V rides along as a broadcast 1-row cross join instead of an EAGER
    // driver count(): the old distinct().count() re-ran the tokenize +
    // (label, token) shuffle as its own Spark job on EVERY nbTrain call
    // (measured: ~1/3 of q_text_nb_lang's jobs) just to embed a literal;
    // count_distinct over the same counts frame is value-identical and
    // stays inside the one lazy plan, where the counts exchange is reused
    val vocab = counts.agg(count_distinct(col("token")).cast("double").as("__v"))
    def quant(x: Column): Column = round(log(x) * 1e6).cast("long")
    val tokenModel = counts.join(totals, "label").crossJoin(broadcast(vocab))
      .select(
        col("label"), col("token"),
        quant((col("c") + 1).cast("double") / (col("tot").cast("double") + col("__v")))
          .as("qlog"))
    val priors = docs.groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("nd"))
    val nDocs = priors.agg(sum("nd").cast("double").as("n"))
    // priors is the join's build side by hint: left to AQE, the two sides'
    // equal sizes let stage timing flip the choice, and the flipped plan
    // broadcast totals in one more job (q_text_calibration started 34 jobs
    // in some runs and 35 in others)
    val labelModel = broadcast(priors).join(totals, "label").crossJoin(nDocs).crossJoin(broadcast(vocab))
      .select(
        col("label"),
        quant(col("nd").cast("double") / col("n")).as("qprior"),
        quant(lit(1.0) / (col("tot").cast("double") + col("__v"))).as("qdefault"))
    (tokenModel, labelModel)
  }

  /** Score + argmax: per doc, score(label) = qprior + n_tok·qdefault +
    * Σ_{joined tokens} (qlog − qdefault) — the unseen-token default is
    * factored out so only MODEL HITS join (the exploded corpus inner-joins
    * the broadcast model; absent (token, label) cells cost nothing).
    * Returns (id, predicted, score).
    *
    * Scale shape: one corpus explode + broadcast join + (doc, label)
    * partial sum; the scaffold cross-join is |labels| rows per doc,
    * broadcast side. Nothing shuffles but the per-doc aggregation. */
  def nbClassify(
      docs: DataFrame,
      tokenModel: DataFrame,
      labelModel: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    nbScores(docs, tokenModel, labelModel, idCol, textCol)
      .groupBy(col(idCol))
      .agg(max(struct(col("score").as("__score"), col("label"))).as("m"))
      .select(col(idCol), col("m.label").as("predicted"), col("m.__score").as("score"))

  /** The full per-(doc, label) score table behind [[nbClassify]] — one row
    * per doc per label, for consumers that need more than the argmax:
    * softmax posteriors, margins, [[calibrationReport]]. Same plan shape
    * (explode + broadcast model joins + one (doc, label) partial sum). */
  def nbScores(
      docs: DataFrame,
      tokenModel: DataFrame,
      labelModel: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // not spread — the nbTrain measurement (chain overhead > kernel win)
    val base = docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .withColumn("__n_tok", size(col("__t")))
    val part = base.select(col(idCol), explode(col("__t")).as("token"))
      .join(broadcast(tokenModel), "token")
      .join(broadcast(labelModel.select(col("label"), col("qdefault"))), "label")
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("qlog") - col("qdefault")).as("__part"))
    base.select(col(idCol), col("__n_tok"))
      .crossJoin(broadcast(labelModel))
      .join(part, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (col("qprior") + col("__n_tok") * col("qdefault") + coalesce(col("__part"), lit(0L)))
          .as("score"))
  }

  /** Softmax posterior of ONE target label from an [[nbScores]] frame:
    * p(target | doc) = exp((s_t - m)/1e6) / Σ_l exp((s_l - m)/1e6) with
    * m = max_l s_l (the standard max-shift keeps every exponent <= 0, so
    * nothing overflows however negative the quantized log-likelihoods
    * run). Rounded to 6dp BEFORE any downstream binning so a final-ulp
    * exp() difference between engines cannot flip a reliability bin. */
  def nbPosterior(scores: DataFrame, target: String, idCol: String = "doc_id"): DataFrame = {
    val m = col("__m"); val sc = col("__ls")
    scores
      .groupBy(col(idCol))
      .agg(
        max(col("score")).as("__m"),
        collect_list(struct(col("label"), col("score"))).as("__ls"),
        max(when(col("label") === target, col("score"))).as("__st"))
      .select(
        col(idCol),
        round(
          exp((col("__st") - m).cast("double") / 1e6) /
            aggregate(sc, lit(0.0),
              (acc, x) => acc + exp((x.getField("score") - m).cast("double") / 1e6)),
          6).as("p"))
  }

  /** Reliability diagram + expected-calibration-error pieces for ANY
    * (probability, binary-truth) frame — the quality-classifier audit
    * (Guo et al. 2017): bin p into `nBins` equal-width bins, report per
    * bin the count, mean CONFIDENCE (avg p), empirical ACCURACY (positive
    * fraction), and the bin's weighted |conf − acc| contribution; ECE is
    * the sum of the last column. Aggregate-only: one shuffle keyed by bin. */
  def calibrationReport(
      scored: DataFrame, probCol: String, truthCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "need at least two bins")
    val binned = scored
      .select(
        least(floor(col(probCol) * nBins), lit(nBins - 1)).cast("int").as("bin"),
        col(probCol).as("__p"), col(truthCol).cast("double").as("__y"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("__p")), 6).as("confidence"),
        round(avg(col("__y")), 6).as("accuracy"))
    // total via a 1-row broadcast, not a separate driver count() job
    binned
      .crossJoin(broadcast(binned.agg(sum(col("n")).as("__tot"))))
      .withColumn("ece_part",
        round(abs(col("confidence") - col("accuracy")) * col("n") / col("__tot"), 6))
      .drop("__tot")
  }

  // ---- trained quality classifier: hashed-feature logistic regression ----
  // The TRAINED counterpart of the closed-form [[nbTrain]] — the
  // fastText-linear quality-classifier shape (CCNet / LLaMA-style "does
  // this doc look like reference text"), with the hashing trick standing
  // in for a vocabulary.

  /** Engine-portable hashed bag-of-words bucket: first 15 md5 hex chars of
    * the token as a 60-bit int, mod `dim` — the same md5→int convention as
    * the minhash family, so an oracle replays it verbatim as
    * `(('0x'||substring(md5(t),1,15))::BIGINT) % dim`. */
  def lrFeatureHash(token: Column, dim: Int): Column =
    conv(substring(md5(token), 1, 15), 16, 10).cast("long") % dim

  /** Sparse per-doc design matrix: (id, feature, x) rows where x is the
    * bucket's TOKEN COUNT in the doc (term frequency — the fastText bag;
    * presence bits carry no signal when a corpus's vocabulary is small and
    * shared, because every doc contains every bucket), plus one bias row
    * (feature -1, x = 1) per doc — null/empty texts still carry the bias
    * row, so every doc gets a defined margin downstream. */
  def lrFeatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      dim: Int = 256): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col(idCol), lrFeatureHash(col("__tok"), dim).as("feature"))
      .agg(count(lit(1)).as("x"))
      .unionByName(docs.select(col(idCol), lit(-1L).as("feature"), lit(1L).as("x")))

  /** A trained LR model: per-feature weights in integer MICRO-UNITS
    * (qw = round(w·1e6) — [[nbTrain]]'s quantization convention, so scoring
    * sums exact BIGINTs in any engine and only the final sigmoid touches
    * floats). Features absent from the map carry weight 0. */
  final case class LrModel(qWeights: Map[Long, Long], dim: Int)

  /** Full-batch training of L2-regularized logistic regression over hashed
    * token-count features, by damped diagonal-Newton steps (per-feature
    * curvature preconditioning — raw-count features have wildly uneven
    * scales, so plain GD either crawls or oscillates).
    *
    * Scale shape: the design matrix is built ONCE and pinned; each epoch is
    * two map-side-combined aggregations — a doc-keyed margin sum (design
    * matrix vs the BROADCAST model) and a feature-keyed gradient+curvature
    * sum (design matrix vs the doc-keyed residuals, an id-equi shuffle
    * join) —
    * plus one MODEL-sized collect (≤ dim+1 rows, the k-means-centroid
    * precedent). Nothing corpus-sized reaches the driver; at 100 TB the
    * model trains on a sample (the FAISS/OPQ recipe — q_text_lr does
    * exactly that with its even-half split) and the full corpus only gets
    * SCORED against the broadcast weights.
    *
    * Determinism: gradients are double sums, so a trained weight's last ulp
    * can vary with partition order. The returned model is snapped to
    * micro-units, and the correctness gate replays SCORING given the
    * published model (the q_ann_opq search-given-the-model pattern), never
    * the fit itself. The bias (feature -1) is exempt from L2, per
    * convention. */
  def lrTrain(
      docs: DataFrame,
      labelCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      dim: Int = 256,
      epochs: Int = 20,
      rate: Double = 0.5,
      l2: Double = 0.0): LrModel = {
    require(dim >= 2, "need at least two hash buckets")
    require(epochs >= 1 && rate > 0 && l2 >= 0, "bad hyperparameters")
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = lrFeatures(docs, idCol, textCol, dim).localCheckpoint()
    val labels = docs
      .select(col(idCol), col(labelCol).cast("double").as("__y"))
      .localCheckpoint()
    val nRaw = labels.count()
    if (nRaw == 0L) return LrModel(Map.empty, dim) // empty corpus: nothing to fit
    val n = nRaw.toDouble
    val zero = Map.empty[Long, Double].withDefaultValue(0.0)
    var w = zero
    var bestW = zero
    var bestGrads = Map.empty[Long, (Double, Double)]
    var bestLoss = Double.MaxValue
    var rt = rate
    var vel = zero // heavy-ball momentum over the preconditioned direction
    (1 to epochs).foreach { _ =>
      val wDf = w.toSeq.toDF("feature", "__w")
      val margins = feats.join(broadcast(wDf), Seq("feature"))
        .groupBy(col(idCol)).agg(sum(col("x") * col("__w")).as("__m"))
      // p, residual p - y, and the per-doc curvature p(1-p) in one frame
      val scoredNow = labels.join(margins, Seq(idCol), "left")
        .select(col(idCol),
          (lit(1.0) / (lit(1.0) + exp(-coalesce(col("__m"), lit(0.0))))).as("__p"),
          col("__y"))
        .localCheckpoint()
      val clamped = least(greatest(col("__p"), lit(1e-12)), lit(1.0 - 1e-12))
      val loss = scoredNow
        .agg(avg(-(col("__y") * log(clamped)
          + (lit(1.0) - col("__y")) * log(lit(1.0) - clamped))).as("__l"))
        .head().getDouble(0)
      // keep-best + backtracking (the opqTrain best-by-objective
      // discipline): an improving iterate is accepted and its gradients
      // drive the next step; a worse one is rolled back and the SAME best
      // direction is retried at half the step, so one overshoot can never
      // poison the returned model — Newton steps on strongly correlated
      // count features DO overshoot
      if (loss < bestLoss) {
        bestLoss = loss
        bestW = w
        rt = math.min(rt * 2.0, 4.0) // trust-region expand; backtracking below is the guard
        val resid = scoredNow.select(col(idCol), (col("__p") - col("__y")).as("__r"),
          (col("__p") * (lit(1.0) - col("__p"))).as("__s"))
        // damped DIAGONAL-NEWTON direction: one feature-keyed pass
        // accumulates both the gradient sum(x·r) and the diagonal Hessian
        // sum(x²·s) — per-feature preconditioning that moves in O(10)
        // epochs where plain GD on raw-count features (wildly varying
        // per-feature scale) crawls
        bestGrads = feats.join(resid, Seq(idCol))
          .groupBy(col("feature")).agg(
            sum(col("x") * col("__r")).as("__g"),
            sum(col("x") * col("x") * col("__s")).as("__h"))
          .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      } else {
        rt = rt / 2
        vel = zero // a rejected step's momentum is wrong momentum
      }
      // heavy-ball: v ← 0.9·v − rt·(preconditioned gradient); w ← best + v.
      // Momentum is what actually moves along the correlated-count valley
      // (diagonal preconditioning alone crawls there); the keep-best +
      // backtrack guard above makes the aggressive pairing safe.
      vel = (bestW.keySet ++ bestGrads.keySet ++ vel.keySet).map { f =>
        val (gSum, hSum) = bestGrads.getOrElse(f, (0.0, 0.0))
        val g = gSum / n + (if (f == -1L) 0.0 else l2 * bestW(f))
        val h = hSum / n + l2 + 1e-6
        f -> (0.9 * vel(f) - rt * g / h)
      }.toMap.withDefaultValue(0.0)
      w = (bestW.keySet ++ vel.keySet).map(f => f -> (bestW(f) + vel(f)))
        .toMap.withDefaultValue(0.0)
    }
    // the returned model is the best EVALUATED iterate, never the last
    // unevaluated step
    LrModel(
      bestW.map { case (f, v) => f -> math.round(v * 1e6) }.filter(_._2 != 0L),
      dim)
  }

  /** Full-batch training by FULL-Newton (IRLS) steps with a DRIVER-SIDE
    * solve — the measured upgrade over [[lrTrain]]'s diagonal-Newton
    * epoch loop: at dim ≤ a few hundred the exact Hessian X'SX is a
    * (dim+1)²-entry aggregate (tiny — the k-means-centroid collect
    * precedent) and the dense solve is microseconds of driver math, so
    * the fit converges in a handful of iterations instead of tens of
    * preconditioned-gradient epochs. Each iteration is THREE Spark jobs
    * over the pinned design matrix — per-doc margins→loss, the
    * feature-keyed gradient, and the feature-PAIR-keyed Hessian (the
    * per-doc pair fan-out is nnz² ≤ (distinct tokens + bias)², bounded by
    * the doc's own vocabulary — never corpus²). Keep-best + backtracking
    * exactly as [[lrTrain]]: a worse iterate is rolled back and the SAME
    * best-point Newton direction is retried at half step, so one
    * overshoot can never poison the returned model. Same L2 convention
    * (bias exempt), same micro-unit snap, same published-weight format —
    * a caller can swap trainers without touching scoring or oracles.
    *
    * Scale shape: identical to [[lrTrain]] — nothing corpus-sized reaches
    * the driver ((dim+1)² ≤ ~66k doubles at dim 256); at 100 TB the model
    * fits on a sample and the corpus is only SCORED against the broadcast
    * weights. For dim where (dim+1)² stops being driver-trivial (≳ 4k),
    * prefer [[lrTrain]]'s diagonal epochs. */
  def lrTrainNewton(
      docs: DataFrame,
      labelCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      dim: Int = 256,
      iters: Int = 10,
      l2: Double = 0.0): LrModel = {
    require(dim >= 2, "need at least two hash buckets")
    require(iters >= 1 && l2 >= 0, "bad hyperparameters")
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = lrFeatures(docs, idCol, textCol, dim).localCheckpoint()
    val labels = docs
      .select(col(idCol), col(labelCol).cast("double").as("__y"))
      .localCheckpoint()
    val nRaw = labels.count()
    if (nRaw == 0L) return LrModel(Map.empty, dim)
    val n = nRaw.toDouble
    // dense index: bias (feature -1) at slot 0, bucket f at slot f+1
    val d = dim + 1
    def slot(f: Long): Int = (f + 1L).toInt
    val zero = Map.empty[Long, Double].withDefaultValue(0.0)
    var w = zero
    var bestW = zero
    var bestLoss = Double.MaxValue
    var newtonDir: Map[Long, Double] = zero // direction AT the best point
    var step = 1.0
    (1 to iters).foreach { _ =>
      val wDf = w.toSeq.toDF("feature", "__w")
      val margins = feats.join(broadcast(wDf), Seq("feature"))
        .groupBy(col(idCol)).agg(sum(col("x") * col("__w")).as("__m"))
      val scoredNow = labels.join(margins, Seq(idCol), "left")
        .select(col(idCol),
          (lit(1.0) / (lit(1.0) + exp(-coalesce(col("__m"), lit(0.0))))).as("__p"),
          col("__y"))
        .localCheckpoint()
      val clamped = least(greatest(col("__p"), lit(1e-12)), lit(1.0 - 1e-12))
      val loss = scoredNow
        .agg(avg(-(col("__y") * log(clamped)
          + (lit(1.0) - col("__y")) * log(lit(1.0) - clamped))).as("__l"))
        .head().getDouble(0)
      if (loss < bestLoss) {
        bestLoss = loss
        bestW = w
        step = 1.0
        val resid = scoredNow.select(col(idCol), (col("__p") - col("__y")).as("__r"),
          (col("__p") * (lit(1.0) - col("__p"))).as("__s"))
        val fr = feats.join(resid, Seq(idCol)).localCheckpoint()
        // gradient: one feature-keyed pass (≤ d rows to the driver)
        val gRows = fr.groupBy(col("feature"))
          .agg(sum(col("x") * col("__r")).as("__g"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        // exact Hessian X'SX: one feature-PAIR-keyed pass (≤ d² rows);
        // the id-equi self-join fans out nnz² per doc, bounded by the
        // doc's own distinct-token count — map-side work, tiny result
        val hRows = fr.select(col(idCol), col("feature").as("__fa"),
            col("x").as("__xa"), col("__s"))
          .join(feats.select(col(idCol), col("feature").as("__fb"), col("x").as("__xb")),
            Seq(idCol))
          .groupBy(col("__fa"), col("__fb"))
          .agg(sum(col("__xa") * col("__xb") * col("__s")).as("__h"))
          .collect()
        // assemble (1/n)·X'SX + l2·I (bias exempt) + tiny ridge, solve
        // H·δ = -g by partial-pivot Gaussian elimination — d³ driver math
        val h = Array.ofDim[Double](d, d)
        hRows.foreach { r =>
          h(slot(r.getLong(0)))(slot(r.getLong(1))) = r.getDouble(2) / n
        }
        val g = Array.ofDim[Double](d)
        gRows.foreach { case (f, v) =>
          g(slot(f)) = v / n + (if (f == -1L) 0.0 else l2 * bestW(f))
        }
        var i = 0
        while (i < d) {
          h(i)(i) += (if (i == 0) 0.0 else l2) + 1e-9
          i += 1
        }
        val delta = solveDense(h, g.map(-_))
        newtonDir = (0 until d).iterator
          .map(i => (i.toLong - 1L) -> delta(i)).filter(_._2 != 0.0)
          .toMap.withDefaultValue(0.0)
      } else {
        step = step / 2 // backtrack: retry the best point's direction shorter
      }
      w = (bestW.keySet ++ newtonDir.keySet)
        .map(f => f -> (bestW(f) + step * newtonDir(f)))
        .toMap.withDefaultValue(0.0)
    }
    LrModel(
      bestW.map { case (f, v) => f -> math.round(v * 1e6) }.filter(_._2 != 0L),
      dim)
  }

  /** In-place partial-pivot Gaussian elimination (A·x = b, A square,
    * mutated). Driver-sized linear algebra for [[lrTrainNewton]] — at
    * d = 257 this is ~8M flops, microseconds. */
  private def solveDense(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val d = b.length
    var colI = 0
    while (colI < d) {
      var piv = colI
      var r = colI + 1
      while (r < d) { if (math.abs(a(r)(colI)) > math.abs(a(piv)(colI))) piv = r; r += 1 }
      if (piv != colI) {
        val tr = a(piv); a(piv) = a(colI); a(colI) = tr
        val tb = b(piv); b(piv) = b(colI); b(colI) = tb
      }
      val p = a(colI)(colI)
      require(math.abs(p) > 0.0, s"singular Hessian at pivot $colI")
      r = colI + 1
      while (r < d) {
        val f = a(r)(colI) / p
        if (f != 0.0) {
          var cc = colI
          while (cc < d) { a(r)(cc) -= f * a(colI)(cc); cc += 1 }
          b(r) -= f * b(colI)
        }
        r += 1
      }
      colI += 1
    }
    val x = Array.ofDim[Double](d)
    var i = d - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < d) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  /** Score docs against a trained (or loaded) model: `qmargin` is the exact
    * BIGINT micro-unit margin (bias + Σ tf·weight — integer tf times
    * integer micro-weight, so the sum is order-proof; features outside the
    * model contribute 0 via the inner model join, docs with no model hits
    * at all keep qmargin 0 via the left join — every input doc gets a
    * row), `p = round(σ(qmargin/1e6), 6)` rounded BEFORE any
    * consumer thresholds or bins it, so an exp() ulp cannot flip a
    * decision between engines. One broadcast join + one doc-keyed sum. */
  def lrScore(
      docs: DataFrame,
      weights: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      dim: Int = 256): DataFrame = {
    val hits = lrFeatures(docs, idCol, textCol, dim)
      .join(broadcast(weights.select(col("feature"), col("qw"))), Seq("feature"))
      .groupBy(col(idCol)).agg(sum(col("x") * col("qw")).as("__qm"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__qm"), lit(0L)).as("qmargin"),
        round(
          lit(1.0) / (lit(1.0) + exp(-coalesce(col("__qm"), lit(0L)).cast("double") / 1e6)),
          6).as("p"))
  }

  /** [[lrScore]] from an in-memory model (train-then-score in one hand). */
  def lrScore(
      docs: DataFrame,
      model: LrModel,
      idCol: String,
      textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    lrScore(docs, model.qWeights.toSeq.toDF("feature", "qw"),
      idCol, textCol, model.dim)
  }

  /** Collocation mining by pointwise mutual information: for every adjacent
    * word pair seen >= `minCount` times,
    *   PMI = ln( P(ab) / (P(a)·P(b)) )
    *       = ln( c_ab · N_uni² / (N_bi · c_a · c_b) )
    * — high-PMI pairs co-occur far above chance (fixed phrases, named
    * entities); the standard corpus-analysis signal for phrase discovery
    * and a cheap tokenizer-vocabulary prior. `minCount` screens the
    * estimator's noise floor (PMI of rare pairs is dominated by sampling
    * error — Church & Hanks 1990 recommend exactly this cutoff).
    *
    * Scale shape: ONE corpus shuffle (the map-side-combinable bigram
    * count); unigram counts are vocabulary-sized and broadcast back onto
    * the surviving bigrams, totals are a 1-row broadcast. The ratio is
    * computed in fixed evaluation order from exactly-representable counts
    * and rounded 6dp, so any engine replays the values. */
  def pmiBigrams(
      docs: DataFrame,
      minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1, "minCount must be positive")
    val toks = docs.select(tokens(col(textCol)).as("t"))
    val uni = toks.select(explode(col("t")).as("w")).groupBy("w").agg(count(lit(1)).as("c"))
    val bi = toks
      .where(size(col("t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => struct(
          element_at(col("t"), i).as("a"),
          element_at(col("t"), i + 1).as("b")))).as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val totals = uni.agg(sum("c").cast("double").as("nu"))
      .crossJoin(bi.agg(sum("c_ab").cast("double").as("nb")))
    bi.where(col("c_ab") >= minCount)
      .join(broadcast(uni.select(col("w").as("a"), col("c").as("c_a"))), "a")
      .join(broadcast(uni.select(col("w").as("b"), col("c").as("c_b"))), "b")
      .crossJoin(broadcast(totals))
      .select(
        col("a"), col("b"), col("c_ab"),
        round(
          log(
            (col("c_ab").cast("double") * col("nu") * col("nu")) /
              (col("nb") * col("c_a") * col("c_b"))),
          6).as("pmi"))
  }

  /** Per-document top-k keyword extraction by smoothed TF-IDF
    * (tf × (ln((N+1)/(df+1)) + 1), sklearn's smooth-idf). Deterministic:
    * scores are rounded BEFORE ranking and ties break on the term, so the
    * ranking is a total order any engine reproduces.
    *
    * Scale shape: explode + one (doc, term) count shuffle; document
    * frequencies reduce that frame to vocabulary size and broadcast back;
    * the rank window partitions by document — per-document groups are
    * vocabulary-bounded, never corpus-bounded, so no skew at 100 TB. */
  def tfidfTopK(
      docs: DataFrame,
      k: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // not spread — measured +0.55 s on q_text_tfidf (the nbTrain rationale)
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "score",
        round(col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 6))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }
}
