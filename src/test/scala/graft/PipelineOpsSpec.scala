package graft

import graft.operators.{Dedup, Events, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Semantic specs for the corpus-pipeline operators (the DuckDB oracle
  * covers value parity; these pin the semantics on controlled inputs). */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Int, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("tokens normalize whitespace and case") {
    val t = docs((1, "  Hello   WORLD\t x "))
      .select(TextOps.tokens(col("text")))
      .head()
      .getSeq[String](0)
    assert(t == Seq("hello", "world", "x"))
  }

  test("chunk: overlapping fixed-token windows, short tail, empty docs vanish") {
    val d = docs(
      (1, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2, "a b c"),                                   // fits one chunk
      (3, "   "))                                     // empty after normalize
    val out = TextOps.chunk(d, chunkSize = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // doc 1: step=3, n=10 -> ceil((10-4)/3)+1 = 3 chunks, tail full here
    assert(out.toSeq == Seq(
      (1, 0, 4, "t1 t2 t3 t4"),
      (1, 1, 4, "t4 t5 t6 t7"),
      (1, 2, 4, "t7 t8 t9 t10"),
      (2, 0, 3, "a b c")))
    // coverage law: every token index appears in some chunk
    val n = 10; val size = 4; val step = 3
    val covered = (0 until 3).flatMap(i => i * step until math.min(i * step + size, n)).toSet
    assert(covered == (0 until n).toSet)
  }

  test("packSequences: straddling docs split exactly, every seq full but the last") {
    val sp = spark
    import sp.implicits._
    // token counts 5, 9, 3, 7 -> stream of 24 tokens, seqLen 8 -> 3 seqs
    val d = Seq((1L, 5L), (2L, 9L), (3L, 3L), (4L, 7L), (5L, 0L))
      .toDF("doc_id", "n_tokens")
    val out = graft.operators.Sampling
      .packSequences(d, "doc_id", "n_tokens", 8L, numPartitions = 3)
      .orderBy("seq_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(out.toSeq == Seq(
      (0L, 1L, 0, 5), (0L, 2L, 0, 3),   // seq 0: doc1[0,5) + doc2[0,3)
      (1L, 2L, 3, 6), (1L, 3L, 0, 2),   // seq 1: doc2[3,9) + doc3[0,2)
      (2L, 3L, 2, 1), (2L, 4L, 0, 7)))  // seq 2: doc3[2,3) + doc4 whole
    // laws: zero-token docs vanish; all seqs sum to seqLen except the last
    val bySeq = out.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(bySeq == Map(0L -> 8, 1L -> 8, 2L -> 8))
    // partitioning-invariance: one partition == three partitions
    val out1 = graft.operators.Sampling
      .packSequences(d, "doc_id", "n_tokens", 8L, numPartitions = 1)
      .orderBy("seq_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(out1.toSeq == out.toSeq)
  }

  test("bpeTrain: Sennrich example merges in order; encode applies them") {
    // the classic corpus: low x5, lower x2, newest x6, widest x3
    val corpus = Seq(
      (1, (("low " * 5) + ("lower " * 2) + ("newest " * 6) + ("widest " * 3)).trim))
    val d = docs(corpus: _*)
    val merges = TextOps.bpeTrain(d, numMerges = 4)
    // hand-derived: es(9) -> est(9) -> lo(7) -> low(7); ties break lexic.
    assert(merges.map(m => (m._2, m._3, m._4)) == Seq(
      ("e", "s", "es"), ("es", "t", "est"), ("l", "o", "lo"), ("lo", "w", "low")))
    assert(merges.map(_._5) == Seq(9L, 9L, 7L, 7L))
    // determinism across layouts
    val merges8 = TextOps.bpeTrain(d.repartition(8), numMerges = 4)
    assert(merges8 == merges)
    // encoding "lowest" with the 4 merges: low + est
    val enc = TextOps
      .bpeEncode(docs((7, "lowest lowest")), merges.map(m => (m._2, m._3)))
      .orderBy("token").collect().map(r => (r.getString(1), r.getLong(2)))
    assert(enc.toSeq == Seq(("est", 2L), ("low", 2L)))
  }

  test("bpeTrain batching law: batched == serial merge table; strictly fewer iterations") {
    // seeded corpora with enough distinct frequent pairs that batches of
    // disjoint merges exist — the law is EXACT equality of the merge
    // tables (rank, left, right, merged, count), not approximation
    val vocab = Seq("low", "lower", "newest", "widest", "boring", "zebra",
      "quick", "jumps", "foxes", "crates", "plum", "grape")
    Seq(11, 23).foreach { seed =>
      val r = new scala.util.Random(seed)
      val d = docs((1 to 30).map(i =>
        (i, (1 to 20).map(_ => vocab(r.nextInt(vocab.size))).mkString(" "))): _*)
      val (serial, itS) = TextOps.bpeTrainWithStats(d, numMerges = 24, batchM = 1)
      val (batched, itB) = TextOps.bpeTrainWithStats(d, numMerges = 24, batchM = 16)
      assert(batched == serial, s"seed $seed: batched merge table diverged from serial")
      assert(itS == serial.size) // serial really is one job round per merge
      assert(itB < itS, s"seed $seed: batching accepted no multi-merge round ($itB vs $itS)")
    }
  }

  test("bpeEncode skip-set law: identical to the naive rank-order fold") {
    val sp = spark
    import sp.implicits._
    // train a real merge table, then compare the skip-set encode against a
    // literal per-word fold of every merge in rank order
    val vocab = Seq("low", "lower", "lowest", "newest", "widest", "newer", "wider")
    val r = new scala.util.Random(5)
    val d = docs((1 to 20).map(i =>
      (i, (1 to 15).map(_ => vocab(r.nextInt(vocab.size))).mkString(" "))): _*)
    val merges = TextOps.bpeTrain(d, numMerges = 12).map(m => (m._2, m._3))
    val fast = TextOps.bpeEncodeFold(d, merges)
      .orderBy("doc_id", "token").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).toSeq
    val naive = {
      val enc = udf((toks: Seq[String]) =>
        toks.flatMap { w =>
          var syms: Seq[String] = w.split("").toSeq.filter(_.nonEmpty)
          merges.foreach { case (a, b) => syms = TextOps.mergePair(syms, a, b) }
          syms
        })
      d.select(col("doc_id"), explode(enc(TextOps.tokens(col("text")))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "token").collect()
        .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).toSeq
    }
    assert(fast == naive)
  }

  test("bpeEncodeHeap law: heap kernel == rank-order fold on trained tables") {
    // two seeded corpora -> real trained merge tables (operands are chars
    // or earlier products — the precondition under which min-rank-first
    // and rank-by-rank passes provably linearize identically)
    Seq(3, 17).foreach { seed =>
      val vocab = Seq("low", "lower", "lowest", "newest", "widest", "newer",
        "wider", "borrow", "barrel", "lowly", "stow", "widow")
      val r = new scala.util.Random(seed)
      val texts = (1 to 40).map(_ =>
        (1 to 12).map(_ => vocab(r.nextInt(vocab.size))).mkString(" "))
      val merges = TextOps.bpeTrainLocal(texts, 60).map(m => (m._2, m._3))
      val rank = merges.zipWithIndex.toMap
      // word-level: every vocab word plus adversarial repeats
      (vocab ++ Seq("aaaa", "lowlowlow", "widestwidest", "")).foreach { w =>
        assert(
          TextOps.encodeWordHeap(w, rank) == TextOps.encodeWordFold(w, merges),
          s"seed $seed word '$w'")
      }
      // frame-level: the two encodes agree on a whole corpus
      val d = docs(texts.zipWithIndex.map { case (t, i) => (i, t) }: _*)
      val viaHeap = TextOps.bpeEncodeHeap(d, merges)
        .orderBy("doc_id", "token").collect()
        .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).toSeq
      val viaFold = TextOps.bpeEncodeFold(d, merges)
        .orderBy("doc_id", "token").collect()
        .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).toSeq
      assert(viaHeap == viaFold, s"seed $seed")
      // the public entry point routes the heap kernel
      val viaDefault = TextOps.bpeEncode(d, merges)
        .orderBy("doc_id", "token").collect()
        .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).toSeq
      assert(viaDefault == viaHeap, s"seed $seed: bpeEncode is not the heap path")
    }
  }

  test("bpeEncode flat-cost law: at 10k+ merges the heap kernel beats the fold") {
    // a trained-table-shaped 10k-merge vocabulary (operands are chars or
    // strictly earlier products — the precondition of the heap==fold proof):
    // all 2-char products over a-z, then 3-char extensions, rank = gen order
    val chars = ('a' to 'z').map(_.toString)
    val twoChar = for (x <- chars; y <- chars) yield (x, y)
    val threeChar = for (x <- chars; y <- chars; z <- chars) yield (x + y, z)
    val merges = (twoChar ++ threeChar).take(12000)
    assert(merges.size >= 10000)
    val rank = merges.zipWithIndex.toMap
    val r = new scala.util.Random(41)
    val words = (1 to 800).map(_ =>
      (1 to 8).map(_ => chars(r.nextInt(26))).mkString)
    def time[A](f: => A): (A, Long) = {
      val t0 = System.nanoTime(); val a = f; (a, System.nanoTime() - t0)
    }
    // warm both kernels (JIT) before measuring
    words.take(100).foreach { w =>
      TextOps.encodeWordHeap(w, rank); TextOps.encodeWordFold(w, merges)
    }
    val (heapOut, heapNs) = time(words.map(TextOps.encodeWordHeap(_, rank)))
    val (foldOut, foldNs) = time(words.map(TextOps.encodeWordFold(_, merges)))
    assert(heapOut == foldOut) // the law holds on the synthetic table too
    info(f"10k-merge encode, 800 words: heap ${heapNs / 1e6}%.1f ms, fold ${foldNs / 1e6}%.1f ms")
    // the fold pays |merges| set probes per word; the heap only pays for
    // pairs that exist — at 12k merges the gap is structural, not noise
    assert(heapNs * 2 < foldNs,
      f"heap (${heapNs / 1e6}%.1f ms) not at least 2x faster than fold (${foldNs / 1e6}%.1f ms) at 12k merges")
  }

  test("bpeTrainLocal == bpeTrain: the driver-side sample trainer matches the engine") {
    val vocab = Seq("low", "lower", "newest", "widest", "boring", "zebra",
      "quick", "jumps", "foxes", "crates")
    Seq(7, 29).foreach { seed =>
      val r = new scala.util.Random(seed)
      val texts = (1 to 25).map(_ =>
        (1 to 18).map(_ => vocab(r.nextInt(vocab.size))).mkString(" "))
      val d = docs(texts.zipWithIndex.map { case (t, i) => (i, t) }: _*)
      val viaSpark = TextOps.bpeTrain(d, numMerges = 30)
      val viaLocal = TextOps.bpeTrainLocal(texts, 30)
      assert(viaLocal == viaSpark, s"seed $seed: local trainer diverged")
    }
  }

  test("dsirScores: target-like docs outrank off-target; short docs unscored; layout-invariant") {
    val raw = docs(
      (1, "the cat sat on the mat"),
      (2, "el gato se sienta aqui"),
      (3, "the dog sat on the rug"),
      (4, "x")) // one token -> no bigram features -> unscored
    val target = docs((10, "the cat sat on the mat the dog sat"))
    val out = TextOps.dsirScores(raw, target, buckets = 64)
      .orderBy("doc_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(1, 2, 3))
    val byId = out.map(t => t._1 -> t._3).toMap
    // English docs read more target-like than the Spanish one
    assert(byId(1) > byId(2) && byId(3) > byId(2))
    // layout invariance (rounded values identical across partitionings)
    val out8 = TextOps.dsirScores(raw.repartition(8), target.repartition(3), buckets = 64)
      .orderBy("doc_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out8.toSeq == out.toSeq)
    // selection = top-quota by (logw desc, id) of the scored set
    val sel = TextOps.dsirSelect(raw, target, quota = 2, buckets = 64)
      .collect().map(_.getInt(0)).toSet
    assert(sel == out.sortBy(t => (-t._3, t._1)).take(2).map(_._1).toSet)
  }

  test("mergePair is greedy leftmost non-overlapping") {
    assert(TextOps.mergePair(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(TextOps.mergePair(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    assert(TextOps.mergePair(Seq("x"), "a", "b") == Seq("x"))
  }

  test("weightedSample: deterministic, layout-invariant, weight-biased") {
    val sp = spark
    import sp.implicits._
    val rows = (1 to 200).map(i => (i.toLong, if (i <= 100) 8 else 1))
    val d = rows.toDF("id", "w")
    val s1 = graft.operators.Sampling.weightedSample(d.repartition(1), "id", "w", 40)
      .select("id").as[Long].collect().toSet
    val s8 = graft.operators.Sampling.weightedSample(d.repartition(8), "id", "w", 40)
      .select("id").as[Long].collect().toSet
    assert(s1 == s8, "sample must not depend on physical layout")
    assert(s1.size == 40)
    // heavy rows (w=8) dominate: expected ~ 8/9 of picks; require > 60%
    val heavy = s1.count(_ <= 100)
    assert(heavy > 24, s"weight-8 rows should dominate the sample, got $heavy/40")
    // w=1 everywhere degenerates to plain bottom-k (seed-deterministic)
    val u1 = graft.operators.Sampling.weightedSample(
      d.withColumn("w", lit(1)), "id", "w", 40).select("id").as[Long].collect()
    val u2 = graft.operators.Sampling.weightedSample(
      d.withColumn("w", lit(1)), "id", "w", 40).select("id").as[Long].collect()
    assert(u1.sameElements(u2))
  }

  test("mixturePlan: hand-computed water-fill; caps bind; all-capped when budget exceeds capacity") {
    val sp = spark
    import sp.implicits._
    val stats = Seq(("a", 100L, 1.0), ("b", 1000L, 1.0), ("c", 10000L, 1.0))
      .toDF("source", "tokens", "weight")
    // B=8000, caps 400/4000/40000: a caps (level before it 2666.7 >= 400),
    // then level (8000-400)/2 = 3800 < b's ratio 4000 -> b, c uncapped
    val out = graft.operators.Sampling.mixturePlan(stats, budget = 8000L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(("a", 400.0, 4.0), ("b", 3800.0, 3.8), ("c", 3800.0, 0.38)))
    assert(out.map(_._2).sum == 8000.0, "allocations must spend the whole budget")
    // budget above total capacity: every source fully capped
    val full = graft.operators.Sampling.mixturePlan(stats, budget = 100000L)
      .orderBy("source").collect().map(r => (r.getString(0), r.getDouble(4)))
    assert(full.toSeq == Seq(("a", 400.0), ("b", 4000.0), ("c", 40000.0)))
  }

  test("rrfFuse: hand-computed fusion; consensus outranks single-list; ties break on id") {
    val sp = spark
    import sp.implicits._
    val lex = Seq((1L, 1), (2L, 2), (4L, 3)).toDF("doc_id", "rank")
    val den = Seq((2L, 1), (3L, 2), (4L, 3)).toDF("doc_id", "rank")
    val out = graft.operators.Similarity.rrfFuse(Seq(lex, den), k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // doc 2: 1/62 + 1/61; doc 4: 1/63 + 1/63; doc 1: 1/61; doc 3: 1/62
    def rr(r: Int) = 1.0 / (60.0 + r)
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    assert(out.map(_._2).toSeq == Seq(2L, 4L, 1L, 3L))
    assert(out.map(_._4).toSeq == Seq(2, 2, 1, 1), "n_lists must count contributing lists")
    assert(out(0)._3 == r6(rr(2) + rr(1)) && out(1)._3 == r6(rr(3) + rr(3)))
    assert(out(2)._3 == r6(rr(1)) && out(3)._3 == r6(rr(2)))
  }

  test("groupedSplit: no duplicate group straddles splits; partial group maps are safe") {
    val sp = spark
    import sp.implicits._
    val docs = (1 to 300).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    // 100 groups of 3 (docs i, i+100, i+200 together); map is PARTIAL —
    // docs 201-300 are absent and must fall back to singleton groups
    val groups = (1 to 200).map(i => (i.toLong, (1 + (i - 1) % 100).toLong))
      .toDF("doc_id", "group_id")
    val out = graft.operators.Sampling
      .groupedSplit(docs, groups, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "group_id", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 300)
    // mapped docs: every group lands in exactly one split
    out.filter(_._1 <= 200).groupBy(_._2).foreach { case (g, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"group $g straddles splits")
      assert(rows.length == 2)
    }
    // unmapped docs fall back to group_id == doc_id
    out.filter(_._1 > 200).foreach { case (id, g, _) => assert(g == id) }
    // the assignment is the group-id hashSplit, bit-for-bit
    val viaHash = graft.operators.Sampling
      .hashSplit((1L to 100L).toDF("group_id"), "group_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.filter(_._1 <= 200).foreach { case (_, g, s) => assert(viaHash(g) == s) }
  }

  test("weightedSample cap law: maxWeight=c IS sampling with weights pre-clamped to c") {
    val sp = spark
    import sp.implicits._
    // weights straddle the cap (1..20 vs cap 4): the capped run must equal
    // the uncapped run over min(w, 4) EXACTLY — the cap's bias is "the
    // clamped weight distribution", nothing subtler
    val d = (1 to 150).map(i => (i.toLong, 1 + i % 20)).toDF("id", "w")
    val capped = graft.operators.Sampling
      .weightedSample(d, "id", "w", 30, maxWeight = 4)
      .select("rank", "id").as[(Int, Long)].collect().toSeq
    val preClamped = graft.operators.Sampling
      .weightedSample(d.withColumn("w", least(col("w"), lit(4))), "id", "w", 30)
      .select("rank", "id").as[(Int, Long)].collect().toSeq
    assert(capped == preClamped)
    // and maxWeight=1 degenerates to uniform: weights are irrelevant
    val uni = graft.operators.Sampling
      .weightedSample(d, "id", "w", 30, maxWeight = 1)
      .select("id").as[Long].collect().toSet
    val flat = graft.operators.Sampling
      .weightedSample(d.withColumn("w", lit(1)), "id", "w", 30)
      .select("id").as[Long].collect().toSet
    assert(uni == flat)
  }

  test("kmvDistinct: exact under k, close over k, partitioning-invariant") {
    val sp = spark
    import sp.implicits._
    import graft.functions.KmvSketch.kmvDistinct
    // 10 distinct values, k=32 -> sketch not full -> exact count
    val small = (1 to 100).map(i => i % 10).toDF("v")
    assert(small.agg(kmvDistinct(col("v"), 32)).head().getDouble(0) == 10.0)
    // 5000 distinct, k=64 -> estimate within 25% (k=64 stderr ~ 1/8)
    val big = (1 to 5000).toDF("v")
    val est = big.agg(kmvDistinct(col("v"), 64)).head().getDouble(0)
    assert(math.abs(est - 5000) / 5000 < 0.25, s"estimate $est too far from 5000")
    // merge path: same estimate whatever the physical layout
    val est1 = big.repartition(1).agg(kmvDistinct(col("v"), 64)).head().getDouble(0)
    val est8 = big.repartition(8).agg(kmvDistinct(col("v"), 64)).head().getDouble(0)
    assert(est1 == est && est8 == est)
    // duplicates never change the sketch
    val dup = big.union(big).agg(kmvDistinct(col("v"), 64)).head().getDouble(0)
    assert(dup == est)
  }

  test("fingerprint is whitespace/case-insensitive") {
    val fps = docs((1, "a  b\tc"), (2, "A B C"), (3, "a b d"))
      .select(TextOps.fingerprint(col("text")))
      .collect()
      .map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("langId picks the dominant stopword language") {
    val preds = docs(
      (1, "the cat and the dog of it"),
      (2, "der hund und die katze ist"),
      (3, "zqx wvu")) // no stopwords
      .select(TextOps.langId(col("text")))
      .collect()
      .map(_.getString(0))
    assert(preds.toSeq == Seq("en", "de", "unknown"))
  }

  test("ngramStrings: sliding word n-grams, empty when short") {
    val g = docs((1, "a b c d"), (2, "a b"))
      .orderBy("doc_id")
      .select(TextOps.ngramStrings(col("text"), 3))
      .collect()
      .map(_.getSeq[String](0))
    assert(g(0) == Seq("a b c", "b c d"))
    assert(g(1).isEmpty)
  }

  test("repetitionRatio: duplicate n-gram fraction, 0 for short docs") {
    val r = docs((1, "x y x y x y"), (2, "a b c d"), (3, "a"))
      .orderBy("doc_id")
      .select(TextOps.repetitionRatio(col("text"), 2))
      .collect()
      .map(_.getDouble(0))
    // "x y x y x y" -> 5 bigrams, 2 distinct -> 3/5 duplicates
    assert(r.toSeq == Seq(0.6, 0.0, 0.0))
  }

  test("compiled n-gram md5 kernel is byte-identical to the declarative column") {
    val texts = Seq("A  b\tC d e f G h i", "one two", "", "x y z w v u t s q r p o")
    texts.foreach { txt =>
      val declarative = docs((1, txt))
        .select(TextOps.ngramHashes(col("text"), 8))
        .head().getSeq[String](0)
      assert(declarative == Dedup.ngramMd5Strings(txt, 8).toSeq,
        s"kernel/column divergence on: '$txt'")
    }
  }

  test("decontaminate drops exactly the docs overlapping the benchmark") {
    val corpus = docs(
      (1, "one two three four five six seven eight nine"), // contains bench 8-gram
      (2, "totally different words with no overlap at all here"),
      (3, "one two three four five SIX seven eight extra")) // 8-gram 'one..eight' (case-norm) matches
    val bench = docs((100, "zz one two three four five six seven eight yy"))
    val clean = Dedup.decontaminate(corpus, bench, n = 8)
      .select("doc_id").collect().map(_.getInt(0)).toSet
    assert(clean == Set(2))
    // and the overlap probe is a broadcast semi-join over map-side grams:
    // the corpus side reaches the join without any shuffle exchange
    val plan = Dedup.decontaminate(corpus, bench, n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench grams should broadcast:\n$plan")
  }

  test("exact dedup groups identical normalized texts") {
    val g = Dedup
      .exact(docs((1, "same text here"), (2, "Same  TEXT here"), (3, "other")))
      .orderBy("rep_doc_id")
      .collect()
    assert(g.length == 2)
    assert(g(0).getInt(1) == 1 && g(0).getLong(2) == 2) // rep=1, size=2
  }

  test("shingles: word 3-grams, whole text when short") {
    val sh = docs((1, "a b c d"), (2, "a b"))
      .orderBy("doc_id")
      .select(Dedup.shingles(col("text")))
      .collect()
      .map(_.getSeq[String](0))
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1) == Seq("a b"))
  }

  test("minhash: identical docs collide on every band; disjoint docs do not") {
    val d = docs(
      (1, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3, "z1 z2 z3 z4 z5 z6 z7 z8"))
    val pairs = Dedup.minhashPairs(d).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getInt(0) == 1 && p.getInt(1) == 2 && p.getDouble(2) == 1.0)
  }

  test("ngram jaccard: exact overlap ratio on candidates") {
    val d = docs(
      (1, "w1 w2 w3 w4"), // shingles: {w1 w2 w3, w2 w3 w4}
      (2, "w1 w2 w3 w4"),
      (3, "unrelated totally different words"))
    val j = Dedup.ngramJaccardPairs(d).collect()
    assert(j.length == 1 && j.head.getDouble(2) == 1.0)
  }

  test("dupGroups: driver union-find and distributed propagation produce identical groups") {
    val d = (1 to 8).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1, 2), (2, 3), (5, 6)).toDF("a_id", "b_id")
    def run(threshold: Long) =
      Dedup.dupGroups(d, pairs, driverMaxEdges = threshold)
        .collect().map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1).toSeq
    val viaDriver = run(1000000L)
    val viaPropagation = run(0L)
    val expected = Seq(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 4, 5 -> 5, 6 -> 5, 7 -> 7, 8 -> 8)
    assert(viaDriver == expected)
    assert(viaPropagation == expected)
  }

  test("dupGroups: propagation on a diameter > maxIters path fails loud, converges with raised iters") {
    // a 12-node path graph has diameter 11: min-label needs ~11 rounds to
    // carry label 1 to node 12 — stopping silently at 3 would return labels
    // that are not component minima (and a dedup keeping doc_id == group_id
    // would keep duplicate rows)
    val d = (1 to 12).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val path = (1 to 11).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val ex = intercept[IllegalStateException] {
      Dedup.dupGroups(d, path, maxIters = 3, driverMaxEdges = 0L).collect()
    }
    assert(ex.getMessage.contains("maxIters"))
    val ok = Dedup.dupGroups(d, path, maxIters = 15, driverMaxEdges = 0L)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(ok.forall(_._2 == 1), s"all nodes reach label 1, got $ok")
  }

  test("winnowing fingerprints: shared passage detected at any position") {
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val a = s"AAA BBB CCC DDD EEE $passage"
    val b = s"$passage XXX YYY ZZZ WWW VVV"
    val fps = Dedup.winnowFingerprints(docs((1, a), (2, b), (3, "totally unrelated words here")))
      .collect()
      .groupBy(_.getInt(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val shared = fps(1) intersect fps(2)
    assert(shared.nonEmpty, "shared passage should share fingerprints")
    assert((fps(1) intersect fps(3)).isEmpty)
    // deterministic: same text -> same set
    val again = Dedup.winnowFingerprints(docs((9, a))).collect().map(_.getLong(1)).toSet
    assert(again == fps(1))
  }

  test("simhash: identical token sets -> identical hash; hamming 0 pair found") {
    val d = docs((1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "delta eps zeta"))
    val hs = Dedup.simhashFrame(d).orderBy("doc_id").collect().map(_.getLong(1))
    assert(hs(0) == hs(1))
    // 64-bit fingerprint: order-insensitive over token sets, full Long range
    assert(hs(0) == graft.functions.SimHash64.compute("alpha beta gamma"))
    val pairs = Dedup.simhashPairs(d).collect()
    assert(pairs.exists(r => r.getInt(0) == 1 && r.getInt(1) == 2 && r.getInt(2) == 0))
  }

  test("banded LSH near-dup: planted dups found; candidates stay far below N^2 on a skewed corpus") {
    val rnd = new scala.util.Random(7)
    val dim = 32
    val n = 400
    def vec(): Array[Float] = Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val centroid = vec()
    // skew: every 10th vector clusters near one centroid (a hot LSH bucket)
    val base = (0 until n).map { i =>
      if (i % 10 == 0) centroid.map(v => v + 0.3f * (rnd.nextFloat() - 0.5f)) else vec()
    }
    // planted near-dups: positive scaling preserves every sign bit and cosine=1
    val planted = (0 until 5).map(i => base(i).map(_ * 1.001f))
    val df = (base ++ planted).zipWithIndex.map { case (v, i) => (i, v) }.toDF("vec_id", "embedding")
    // bits ≈ log2(N): 2^9 = 512 buckets per band for 405 vectors
    val bands = 3
    val bits = 9
    val candidates = Similarity.bandedCandidatePairs(df, bands, bits).count()
    assert(candidates < n.toLong * n / 20, s"candidate volume $candidates is quadratic-ish")
    val pairs = Similarity.cosineNearDupPairs(df, 0.99, bands, bits).collect()
    (0 until 5).foreach { i =>
      assert(pairs.exists(r => r.getInt(0) == i && r.getInt(1) == n + i), s"planted pair $i missing")
    }
  }

  test("kmeansCentroids recovers planted clusters; ivfTopK accepts learned lists") {
    val rnd = new scala.util.Random(11)
    // two well-separated clusters around orthogonal-ish anchors
    val anchorA = Array.fill(16)(rnd.nextFloat() + 1.0f)  // all-positive region
    val anchorB = Array.fill(16)(-(rnd.nextFloat() + 1.0f)) // all-negative region
    val vecs = (0 until 60).map { i =>
      val base = if (i % 2 == 0) anchorA else anchorB
      (i, base.map(v => v + 0.05f * (rnd.nextFloat() - 0.5f)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, k = 2, iters = 4).collect()
    assert(cents.length == 2)
    // each learned centroid sits inside one cluster: all coords same sign
    val signs = cents.map(_.getSeq[Double](1).forall(_ > 0))
    assert(signs.toSet == Set(true, false), "centroids should split the two clusters")
    // learned lists drive IVF end-to-end
    val learned = Similarity.kmeansCentroids(df, k = 2, iters = 4)
    val res = Similarity
      .ivfTopK(df, df.where(col("vec_id") < 2), k = 3, nprobe = 1, learnedCentroids = learned)
      .collect()
    assert(res.length == 6) // 2 probes x top-3
    // neighbors of an A-cluster probe are A-cluster members (even ids)
    assert(res.filter(_.getInt(0) == 0).forall(_.getInt(2) % 2 == 0))
  }

  test("IVF scaling rule: nlistFor/nprobeFor hold recall@k >= 0.8 on a 10x corpus") {
    // nlist = sqrt(N) with a constant probed FRACTION: the law is that the
    // rescaled (nlist, nprobe) keeps recall, so the index can re-train on
    // the cadence hook as the corpus grows without re-tuning by hand
    def corpus(n: Int): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(42)
      val anchors = Array.fill(25)(Array.fill(16)(rnd.nextFloat() * 2f - 1f))
      (0 until n).map { i =>
        val a = anchors(i % anchors.length)
        (i.toLong, a.map(v => v + 0.05f * (rnd.nextFloat() - 0.5f)))
      }.toDF("vec_id", "embedding")
    }
    Seq(400, 4000).foreach { n =>
      val df = corpus(n)
      val nlist = Similarity.nlistFor(n)
      val nprobe = Similarity.nprobeFor(nlist)
      val learned = Similarity.kmeansCentroids(df, k = nlist, iters = 3)
      val probes = df.where(col("vec_id") < 20)
      val approx = Similarity.ivfTopK(df, probes, k = 5, nlist = nlist,
        nprobe = nprobe, learnedCentroids = learned)
      val exact = Similarity.bruteForceTopK(df, probes, k = 5)
      val recall = Similarity.recallAtK(approx, exact, 5)
        .agg(avg(col("recall"))).head.getDouble(0)
      assert(recall >= 0.8, s"n=$n nlist=$nlist nprobe=$nprobe recall=$recall")
    }
    // the sizing rule itself: sqrt scaling, clamped; cadence fires on 2x growth
    assert(Similarity.nlistFor(2000) == 45)
    assert(Similarity.nlistFor(1L) == 4)
    assert(Similarity.nlistFor(10L * 1000 * 1000 * 1000, maxNlist = 65536) == 65536)
    assert(!Similarity.ivfRetrainDue(1000, 1500))
    assert(Similarity.ivfRetrainDue(1000, 2000))
  }

  test("embedding-LSH sizing rule: bitsFor holds candidate volume sub-quadratic at 10x") {
    def randVecs(n: Int, dim: Int): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(7)
      (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f)))
        .toDF("vec_id", "embedding")
    }
    val dim = 32
    def candidates(n: Int): Long = {
      val bits = Similarity.bitsFor(n, bands = 2, dim = dim)
      Similarity.bandedCandidatePairs(randVecs(n, dim), bands = 2, bits = bits).count()
    }
    val (c1, c10) = (candidates(1000), candidates(10000))
    // fixed-width buckets would give ~100x the pairs at 10x the vectors;
    // the rescaled width must stay well under that (near-linear in practice)
    assert(c10 > 0 && c10 < 30L * math.max(c1, 1L),
      s"candidate volume exploded: $c1 -> $c10")
    // rule shape: log2 growth, dimension clamp, floor
    assert(Similarity.bitsFor(1000, 2, 32) == 10)
    assert(Similarity.bitsFor(1000000, 2, 32) == 16) // dim/bands clamp
    assert(Similarity.bitsFor(2, 4, 64) == 4) // floor
  }

  test("cosine: orthogonal=0, identical=1") {
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 2f), Array(1f, 2f), 1.0),
      (Array(1f, 0f), Array(-1f, 0f), -1.0)
    ).toDF("a", "b", "expect")
    val bad = df
      .filter(abs(Similarity.cosine(col("a"), col("b")) - col("expect")) > 1e-9)
      .count()
    assert(bad == 0)
  }

  test("bruteForceTopK returns k ranked neighbors excluding self") {
    val emb = (0 until 10)
      .map(i => (i, Array.tabulate(4)(d => (i * 4 + d).toFloat / 40f + 0.1f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.bruteForceTopK(emb, emb.where($"vec_id" === 0), k = 3).collect()
    assert(r.length == 3)
    assert(r.map(_.getInt(1)).toSeq == Seq(1, 2, 3)) // ranks
    assert(!r.exists(_.getInt(2) == 0)) // self excluded
  }

  test("sessionize splits on gaps > threshold") {
    val ev = Seq(
      (1L, 100, "2024-01-01 00:00:00"),
      (2L, 100, "2024-01-01 00:10:00"), // same session
      (3L, 100, "2024-01-01 01:00:00"), // 50-min gap -> new session
      (4L, 200, "2024-01-01 00:00:00")
    ).toDF("event_id", "user_id", "s")
      .withColumn("ts", to_timestamp(col("s")))
    val r = Events.sessionize(ev, 30).orderBy("user_id").collect()
    assert(r(0).getInt(0) == 100 && r(0).getLong(1) == 2 && r(0).getLong(2) == 2)
    assert(r(1).getInt(0) == 200 && r(1).getLong(1) == 1)
  }

  test("funnel counts ordered completions within the conversion window") {
    val ev = Seq(
      // user 1 completes a->b->c in order, inside the window
      (1L, "a", "2024-01-01 00:00:00"), (1L, "b", "2024-01-01 00:10:00"),
      (1L, "c", "2024-01-01 00:20:00"),
      // user 2: b BEFORE a -> never reaches step 2
      (2L, "b", "2024-01-01 00:00:00"), (2L, "a", "2024-01-01 00:10:00"),
      // user 3: a then b, but outside the 1-hour window
      (3L, "a", "2024-01-01 00:00:00"), (3L, "b", "2024-01-01 02:00:00"))
      .map { case (u, t, s) => (u, t, java.sql.Timestamp.valueOf(s)) }
      .toDF("user_id", "event_type", "ts")
    val f = Events.funnel(ev, Seq("a", "b", "c"), maxGap = "1 hour")
      .orderBy("step").collect()
    assert(f.map(r => (r.getInt(0), r.getLong(2))).toSeq ==
      Seq((1, 3L), (2, 1L), (3, 1L)))
  }

  test("asOfJoin carries the latest right row at or before each left time") {
    val left = Seq((1, 10L, "a1"), (1, 20L, "a2"), (2, 15L, "a3"))
      .toDF("u", "t", "av")
    val right = Seq((1, 5L, "b1"), (1, 18L, "b2"), (1, 20L, "b3"), (2, 99L, "b4"))
      .toDF("u", "t", "bv")
    val out = Events.asOfJoin(left, right, Seq("u"), "t", Seq("bv"))
      .orderBy("u", "t").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1, 10L, "a1", "b1"),
      (1, 20L, "a2", "b3"), // equal time counts (<= semantics)
      (2, 15L, "a3", null)  // no prior right row
    ))
  }

  test("windowedAgg buckets to the hour") {
    val ev = Seq(
      (1L, "a", "2024-01-01 00:10:00", 1.0),
      (2L, "a", "2024-01-01 00:50:00", 2.0),
      (3L, "a", "2024-01-01 01:10:00", 4.0)
    ).toDF("event_id", "event_type", "s", "value")
      .withColumn("ts", to_timestamp(col("s")))
    val r = Events.windowedAgg(ev).orderBy("window_start").collect()
    assert(r.length == 2)
    assert(r(0).getLong(2) == 2 && r(0).getDouble(3) == 3.0)
  }

  test("sampling draws are invariant to partitioning and repeatable") {
    import graft.operators.Sampling
    val d = (0 until 500).map(i => (i.toLong, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(Sampling.sample(d.repartition(1), "doc_id", 0.4))
    val b = ids(Sampling.sample(d.repartition(13), "doc_id", 0.4))
    assert(a == b)                       // layout-independent
    assert(a.nonEmpty && a.size < 500)   // actually samples
    // different seed -> different subset
    val c = ids(Sampling.sample(d, "doc_id", 0.4, seed = "other"))
    assert(c != a)
    // quota: exactly min(quota, stratum size) per stratum
    val q = Sampling.quotaSample(d, "doc_id", "lang", 50)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(q("en") == 50 && q("de") == 50)
    val qBig = Sampling.quotaSample(d.where(col("lang") === "en"), "doc_id", "lang", 10000)
    assert(qBig.count() == d.where(col("lang") === "en").count())
  }

  test("selectRepresentatives keeps the best-scored doc per group, ties to smallest id") {
    val d = Seq((1, 10L), (2, 30L), (3, 30L), (4, 5L)).toDF("doc_id", "score")
    val groups = Seq((1, 1), (2, 1), (3, 1), (4, 4)).toDF("doc_id", "group_id")
    val kept = Dedup.selectRepresentatives(d, groups, "score")
      .select("doc_id").collect().map(_.getInt(0)).toSet
    assert(kept == Set(2, 4)) // group 1: 2 and 3 tie at 30 -> 2; singleton 4
    // a NULL score ranks LAST (SQL DESC NULLS LAST), never wins the group
    val dn = Seq((1, Some(10L)), (2, None), (3, Some(5L)))
      .toDF("doc_id", "score")
    val gn = Seq((1, 1), (2, 1), (3, 1)).toDF("doc_id", "group_id")
    val keptN = Dedup.selectRepresentatives(dn, gn, "score")
      .select("doc_id").collect().map(_.getInt(0)).toSet
    assert(keptN == Set(1))
  }

  test("temperatureRates: tau=1 is proportional, tau=0 equalizes strata") {
    val counts = Seq("en" -> 900L, "fr" -> 90L, "de" -> 10L)
    // tau=1: every stratum keeps rate target/N
    val r1 = graft.operators.Sampling.temperatureRates(counts, 1.0, 100).toMap
    assert(r1.values.forall(v => math.abs(v - 0.1) < 1e-9))
    // tau=0: expected draws equalize (10 per stratum) -> rate = 10/n, capped
    val r0 = graft.operators.Sampling.temperatureRates(counts, 0.0, 30).toMap
    assert(math.abs(r0("en") - 10.0 / 900) < 1e-6)
    assert(r0("de") == 1.0)
  }

  test("writeShards: exactly one file per shard; round-trip preserves rows") {
    val sp = spark
    import sp.implicits._
    import graft.operators.Sampling
    val d = (1 to 60).map(i => (i, (i % 7 + 1).toLong)).toDF("doc_id", "n_tokens")
    val assigned = Sampling.packShards(d, "doc_id", "n_tokens", 40L)
      .select("doc_id", "n_tokens", "shard_id")
    withTempDir("graft-shard-export") { dir =>
      Sampling.writeShards(assigned, dir)
      val shardDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      assert(shardDirs.length == assigned.select("shard_id").distinct().count())
      shardDirs.foreach { sd =>
        val files = sd.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1, s"${sd.getName}: expected one file, got ${files.length}")
      }
      val back = spark.read.parquet(dir)
        .select(col("doc_id"), col("n_tokens"), col("shard_id").cast("long"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val want = assigned.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(back == want)
    }
  }

  test("packShards never exceeds budget by more than one document") {
    import graft.operators.Sampling
    val d = (0 until 100).map(i => (i.toLong, (i % 7 + 1).toLong)).toDF("doc_id", "n_tokens")
    val shards = Sampling.packShards(d, "doc_id", "n_tokens", 10L)
      .groupBy("shard_id").agg(sum("n_tokens").as("tot")).collect()
    // each shard holds < budget + its last doc's tokens (greedy boundary)
    assert(shards.forall(_.getLong(1) <= 10L + 7L))
    // shard ids are contiguous from 0
    val idsSeen = shards.map(_.getLong(0)).sorted.toSeq
    assert(idsSeen == (0L until idsSeen.size).toSeq)
  }

  test("packShards two-pass offsets match the single-window running sum") {
    import graft.operators.Sampling
    val d = (0 until 1000).map(i => (i.toLong, (i % 13 + 1).toLong)).toDF("doc_id", "n_tokens")
    // oracle: driver-side exact running sum in key order
    val expected = (0 until 1000).scanLeft(0L)((acc, i) => acc + (i % 13 + 1)).init
      .zipWithIndex.map { case (before, i) => i.toLong -> before / 17L }.toMap
    // many partitions so the cumulative offsets actually cross boundaries
    val got = Sampling.packShards(d, "doc_id", "n_tokens", 17L, numPartitions = 11)
      .select("doc_id", "shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // null tokens contribute nothing, same as sum() over a window
    val withNull = d.withColumn("n_tokens",
      when(col("doc_id") % 5 === 0, lit(null: java.lang.Long)).otherwise(col("n_tokens")))
    val gotNull = Sampling.packShards(withNull, "doc_id", "n_tokens", 17L, numPartitions = 7)
      .select("doc_id", "shard_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expNull = (0 until 1000).scanLeft(0L) { (acc, i) =>
      acc + (if (i % 5 == 0) 0L else (i % 13 + 1L))
    }.init.zipWithIndex.map { case (before, i) => i.toLong -> before / 17L }.toMap
    assert(gotNull == expNull)
  }

  test("packShards pin modes (localCheckpoint vs DISK_ONLY persist) agree") {
    import graft.operators.Sampling
    val d = (0 until 500).map(i => (i.toLong, (i % 11 + 1).toLong)).toDF("doc_id", "n_tokens")
    val local = Sampling.packShards(d, "doc_id", "n_tokens", 23L, numPartitions = 9)
      .select("doc_id", "shard_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val persisted = Sampling
      .packShards(d, "doc_id", "n_tokens", 23L, numPartitions = 9, pin = "persist")
      .select("doc_id", "shard_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == persisted) // the pin is a scheduling choice, not a semantic one
    intercept[IllegalArgumentException] {
      Sampling.packShards(d, "doc_id", "n_tokens", 23L, pin = "nope")
    }
  }

  test("packShardsBy packs per stratum with numeric local shard ids") {
    import graft.operators.Sampling
    val d = (0 until 200)
      .map(i => (i.toLong, if (i % 2 == 0) "web" else "books", (i % 5 + 1).toLong))
      .toDF("doc_id", "source", "n_tokens")
    val packed = Sampling.packShardsBy(d, "doc_id", "n_tokens", 20L, Seq("source"))
    // shard identity = (stratum, shard_id), with shard_id a LONG (the same
    // numeric contract as packShards); both strata restart at shard 0
    val byShard = packed.groupBy("source", "shard_id").agg(sum("n_tokens").as("tot")).collect()
    assert(packed.schema("shard_id").dataType == org.apache.spark.sql.types.LongType)
    assert(byShard.count(r => r.getLong(1) == 0L) == 2) // one shard 0 per stratum
    // greedy bound holds inside each stratum
    assert(byShard.forall(_.getLong(2) <= 20L + 5L))
  }

  test("quotaSample pre-filter bounds windowed rows on Zipfian strata") {
    import graft.operators.Sampling
    // Zipfian: en owns ~83% of the corpus, long tail of smaller strata
    val sizes = Seq("en" -> 20000, "de" -> 2500, "fr" -> 800, "it" -> 150, "pt" -> 40)
    val d = sizes.flatMap { case (lang, n) =>
      (0 until n).map(i => (s"$lang-$i", lang))
    }.toDF("doc_id", "lang")
    val quota = 20
    val cap = quota + 6 * math.sqrt(quota.toDouble) + 16 // expected survivors/stratum
    val counts = sizes.map { case (s, n) => (s, n.toLong) }
    val pre = Sampling.quotaPrefilter(d, "doc_id", "lang", quota, "s0", counts, 1.0)
    val perStratum = pre.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (s, n) =>
      val k = perStratum.getOrElse(s, 0L)
      if (n <= cap) assert(k == n, s"stratum $s (threshold 1.0) must keep all rows")
      else {
        assert(k >= quota, s"stratum $s undershot the quota pre-filter: $k")
        assert(k <= (3 * cap).toLong, s"stratum $s pre-filter failed to bound volume: $k")
      }
    }
    // the exact window runs over ~quota-strata rows, not the 23k corpus
    assert(pre.count() <= sizes.size * (3 * cap).toLong)
    // and the final output is IDENTICAL to the naive full-corpus window
    val naiveW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(Sampling.uniformDraw(col("doc_id"), "s0"), col("doc_id"))
    val naive = d.withColumn("__rk", row_number().over(naiveW))
      .where(col("__rk") <= quota).drop("__rk")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = Sampling.quotaSample(d, "doc_id", "lang", quota)
      .select("doc_id", "lang")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == naive)
  }

  test("duplicateSpans flags cross-doc boilerplate but not within-doc repetition") {
    val boiler = "all rights reserved no part of this document may be reproduced"
    val d = Seq(
      (1, s"alpha beta gamma delta $boiler epsilon zeta"),
      (2, s"one two three four five $boiler six seven"),
      (3, "unique content entirely its own words nothing shared here at all ok fine"),
      // within-doc repetition only: the repeated 8-gram stays single-doc
      (4, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam"),
      (5, "short doc") // < 8 tokens -> zero spans, fraction 0.0
    ).toDF("doc_id", "text")
    val r = Dedup.duplicateSpans(d, n = 8).collect()
      .map(x => x.getAs[Int]("doc_id") ->
        (x.getAs[Long]("n_spans"), x.getAs[Long]("n_dup_spans"))).toMap
    assert(r(1)._2 > 0 && r(2)._2 > 0)      // shared boilerplate flagged both sides
    assert(r(3)._2 == 0)                    // unique content clean
    assert(r(4)._2 == 0 && r(4)._1 > 0)     // within-doc repetition is NOT cross-doc
    assert(r(5) == (0L, 0L))                // sub-n doc: zero spans, no crash
  }

  test("minhashIncremental agrees with the pairwise near-dup relation") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // ground truth: odd docs near-dup (est_jaccard >= 0.5) of ANY even doc,
    // per the pairwise operator
    val pairs = Dedup.minhashPairs(docs).where(col("est_jaccard") >= 0.5)
      .collect().flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
    val dupOdd = pairs.collect { case (a, b) if a % 2 == 1 && b % 2 == 0 => a }.toSet
    val idx = Dedup.minhashBands(docs.where(col("doc_id") % 2 === 0))
    val survivors = Dedup
      .minhashIncremental(docs.where(col("doc_id") % 2 === 1), idx, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val allOdd = docs.where(col("doc_id") % 2 === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == allOdd -- dupOdd)
    assert(dupOdd.nonEmpty) // the corpus plants real near-dups across the split
  }

  test("multiProbeLshTopK: radius 0 = exact-bucket LSH; radius = bits = brute force") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val probes = emb.where(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(
      rows(Similarity.multiProbeLshTopK(emb, probes, k = 5, bits = 4, radius = 0)) ==
        rows(Similarity.lshTopK(emb, probes, k = 5, bits = 4)))
    assert(
      rows(Similarity.multiProbeLshTopK(emb, probes, k = 5, bits = 4, radius = 4)) ==
        rows(Similarity.bruteForceTopK(emb, probes, k = 5)))
  }

  test("funnel supports repeated step names (login -> purchase -> login)") {
    val ev = Seq(
      // user 1: completes a -> b -> a
      (1L, "a", "2024-01-01 00:00:00"), (1L, "b", "2024-01-01 00:10:00"),
      (1L, "a", "2024-01-01 00:20:00"),
      // user 2: a -> b but no second a
      (2L, "a", "2024-01-01 00:00:00"), (2L, "b", "2024-01-01 00:05:00"),
      // user 3: single a only
      (3L, "a", "2024-01-01 00:00:00"))
      .map { case (u, t, s) => (u, t, java.sql.Timestamp.valueOf(s)) }
      .toDF("user_id", "event_type", "ts")
    val f = Events.funnel(ev, Seq("a", "b", "a")).orderBy("step").collect()
    assert(f.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1, "a", 3L), (2, "b", 2L), (3, "a", 1L)))
  }

  test("funnel is single-pass: ONE events scan regardless of funnel depth") {
    // same type-guarded ts normalization the Catalog/StreamOps apply — the
    // testdata has shipped ts as nanos-long AND as TIMESTAMP_NTZ across
    // regenerations; an unconditional conversion breaks on one of them
    val ev = graft.streaming.StreamOps.eventTime(
      spark.read.parquet(s"$sfDir/events.parquet"))
    val steps = Seq("signup", "view", "click", "purchase", "login", "search", "logout", "refund")
    val df = Events.funnel(ev, steps, maxGap = "12 hours")
    val scans = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected ONE events scan for an ${steps.size}-step funnel, got $scans")
    assert(df.count() == steps.size)
  }

  test("single-pass funnel fold equals the chained min-after-frontier computation") {
    val rnd = new scala.util.Random(42)
    val steps = Seq("s1", "s2", "s3", "s4", "s5", "s6")
    val rows = (1 to 40).flatMap { u =>
      (1 to 12).map { _ =>
        val t = java.sql.Timestamp.valueOf(
          f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00")
        (u.toLong, steps(rnd.nextInt(steps.size)), t)
      }
    }
    val ev = rows.toDF("user_id", "event_type", "ts")
    val gap = "3 hours"
    // reference computation: the d-scan frontier chain the operator replaced
    var frontier = ev.where(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("__t"))
    var expected = Seq((1, frontier.count()))
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      frontier = ev.where(col("event_type") === s).join(frontier, "user_id")
        .where(col("ts") > col("__t") &&
          col("ts") <= col("__t") + expr(s"INTERVAL '$gap'"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("__t"))
      expected = expected :+ ((i + 1, frontier.count()))
    }
    val got = Events.funnel(ev, steps, maxGap = gap).orderBy("step")
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    assert(got == expected, s"fold=$got chained=$expected")
    assert(expected.head._2 > 0 && expected.last._2 < expected.head._2) // non-trivial drop-off
  }

  test("exactIncrementalBloom: identical answer to exactIncremental, bloom stays in-plan") {
    val seen = Dedup.exact(docs((0, "alpha beta"), (2, "gamma delta")))
    val batch = docs(
      (1, "ALPHA   beta"), // duplicate of stored 0 after normalization
      (3, "epsilon zeta"), // new
      (5, "epsilon  ZETA"), // in-batch duplicate of 3
      (7, "eta theta")) // new
    val out = Dedup.exactIncrementalBloom(batch, seen)
    // execute `out` ITSELF (not a wrapper) so the AQE plan below is final —
    // subquery reuse is only visible in an executed plan
    val got = out.collect().toSeq.sortBy(_.getInt(0))
    val expect = Dedup.exactIncremental(batch, seen)
      .collect().toSeq.sortBy(_.getInt(0))
    assert(got == expect)
    assert(expect.map(_.getInt(0)) == Seq(3, 7))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom prefilter missing from plan:\n$plan")
    assert(!plan.contains("ScalaUDF"), "bloom path must stay codegen")
    // one store scan feeds every branch: the definite-new filter, the
    // maybe-hit filter, and the anti-join's pushed copy all reuse ONE
    // executed bloom aggregate
    assert(plan.contains("ReusedSubquery"),
      s"bloom subquery must execute once and be reused:\n$plan")
  }

  test("exactIncrementalBloom: empty store (NULL bloom filter) keeps all distinct batch docs") {
    val seen = Dedup.exact(docs())
    val got = Dedup
      .exactIncrementalBloom(docs((1, "a b"), (3, "A  b"), (5, "c d")), seen)
      .orderBy("doc_id").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 5))
  }

  test("lmScore: add-one-smoothed unigram NLL with shared OOV mass") {
    // reference "a a b": c(a)=2, c(b)=1, total=3, vocab=2 -> denominator 6
    val ref = docs((0, "a a b"))
    val rows = TextOps.lmScore(docs((1, "a b z"), (2, "a a")), ref)
      .orderBy("doc_id").collect()
    def p(c: Long) = (c + 1.0) / 6.0
    val nll1 = -(math.log(p(2)) + math.log(p(1)) + math.log(p(0))) / 3
    val nll2 = -math.log(p(2))
    assert(rows(0).getLong(1) == 3 && math.abs(rows(0).getDouble(2) - nll1) < 1e-6)
    assert(rows(1).getLong(1) == 2 && math.abs(rows(1).getDouble(2) - nll2) < 1e-6)
    assert(rows(0).getDouble(2) > rows(1).getDouble(2), "OOV doc must score worse")
  }

  test("lmScoreBigram: hand-computed interpolated NLL; short docs unscored") {
    // reference "a b a b c": unigrams c(a)=2 c(b)=2 c(c)=1, T=5, V=3;
    // bigrams c(a,b)=2 c(b,a)=1 c(b,c)=1
    val ref = docs((0, "a b a b c"))
    val out = TextOps.lmScoreBigram(docs((1, "a b z"), (2, "a")), ref, lambda = 0.7)
      .orderBy("doc_id").collect()
    def pU(c: Long) = (c + 1.0) / (5 + 3 + 1.0)
    def pB(cb: Long, cv: Long) = (cb + 1.0) / (cv + 3 + 1.0)
    val nll = -(
      math.log(0.7 * pB(2, 2) + (1.0 - 0.7) * pU(2)) + // (a,b): seen bigram
      math.log(0.7 * pB(0, 2) + (1.0 - 0.7) * pU(0))   // (b,z): OOV w
    ) / 2
    assert(out.length == 1, "a 1-token doc carries no bigrams and is unscored")
    assert(out(0).getInt(0) == 1 && out(0).getLong(1) == 2)
    assert(math.abs(out(0).getDouble(2) - nll) < 1e-6, s"got ${out(0).getDouble(2)}, want $nll")
    // lambda=0 degenerates to the unigram distribution over positions 2..n
    val uniOnly = TextOps.lmScoreBigram(docs((1, "a b z")), ref, lambda = 0.0)
      .head().getDouble(2)
    val wantUni = -(math.log(pU(2)) + math.log(pU(0))) / 2
    assert(math.abs(uniOnly - wantUni) < 1e-6)
  }

  test("mergeStats law: batch-merged statistics equal the whole-table pass") {
    val sp = spark
    import sp.implicits._
    val d = (1 to 400).map(i => (i, (i * 37 % 211).toDouble, s"s${i % 97}"))
      .toDF("id", "x", "s")
    val whole = graft.operators.Profile.finalizeStats(graft.operators.Profile.statsOf(d, Seq("id", "x")))
      .collect().map(r => r.getString(0) -> r).toMap
    // three arbitrary splits merged pairwise (associativity in practice)
    val parts = Seq(d.where(col("id") % 3 === 0), d.where(col("id") % 3 === 1),
      d.where(col("id") % 3 === 2)).map(graft.operators.Profile.statsOf(_, Seq("id", "x")))
    val merged = graft.operators.Profile.finalizeStats(parts.reduce(graft.operators.Profile.mergeStats(_, _)))
      .collect().map(r => r.getString(0) -> r).toMap
    for (c <- Seq("id", "x")) {
      val (w, m) = (whole(c), merged(c))
      assert(m.getLong(1) == w.getLong(1) && m.getLong(2) == w.getLong(2)) // counts exact
      assert(math.abs(m.getDouble(3) - w.getDouble(3)) < 1e-6, s"$c mean")
      assert(math.abs(m.getDouble(4) - w.getDouble(4)) < 1e-6, s"$c stddev")
      assert(m.getDouble(5) == w.getDouble(5) && m.getDouble(6) == w.getDouble(6)) // min/max
      // the merged bottom-k set IS the union's bottom-k -> estimate EXACT
      assert(m.getDouble(7) == w.getDouble(7), s"$c distinct_est")
    }
    // empty side is the identity
    val z = graft.operators.Profile.statsOf(d.limit(0), Seq("id", "x"))
    val withEmpty = graft.operators.Profile.finalizeStats(
      graft.operators.Profile.mergeStats(graft.operators.Profile.statsOf(d, Seq("id", "x")), z))
      .collect().map(r => r.getString(0) -> r).toMap
    for (c <- Seq("id", "x"))
      assert(withEmpty(c).getDouble(3) == whole(c).getDouble(3), s"$c empty-merge mean")
    // without an id column no sample is carried -> quantiles are NULL
    for (c <- Seq("id", "x"); qi <- 8 to 10)
      assert(whole(c).isNullAt(qi), s"$c q[$qi] must be NULL without idCol")
    // mergeable QUANTILES: batch samples union+trim to the global
    // bottom-k (min-k of a set union is order-free), so merged
    // quantiles equal the whole-table pass EXACTLY, not approximately
    def statsQ(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Profile.statsOf(df, Seq("id", "x"), idCol = Some(col("id")))
    val wholeQ = graft.operators.Profile.finalizeStats(statsQ(d))
      .collect().map(r => r.getString(0) -> r).toMap
    val mergedQ = graft.operators.Profile.finalizeStats(
      Seq(d.where(col("id") % 3 === 0), d.where(col("id") % 3 === 1),
        d.where(col("id") % 3 === 2)).map(statsQ).reduce(graft.operators.Profile.mergeStats(_, _)))
      .collect().map(r => r.getString(0) -> r).toMap
    for (c <- Seq("id", "x"); qi <- 8 to 10)
      assert(mergedQ(c).getDouble(qi) == wholeQ(c).getDouble(qi), s"$c q[$qi]")
    // sample quantiles track the exact ones within sampling error (the
    // population is 400 rows, k=256 -> tight); the median of 1..400 sits
    // near 200 and x is bounded by the 211 modulus
    assert(math.abs(wholeQ("id").getDouble(9) - 200.0) < 40.0)
    assert(wholeQ("x").getDouble(8) >= 0.0 && wholeQ("x").getDouble(10) <= 211.0)
  }

  test("statsOf: many columns fold into ONE aggregation pass; carried k guards merges") {
    val sp = spark
    import sp.implicits._
    val cols = (0 until 10).map(i => s"c$i")
    val d = (1 to 50).map(i => (i, i * 2, i * 3, i * 5, i * 7, i * 11, i * 13, i * 17, i * 19, i * 23))
      .toDF(cols: _*)
    val s = graft.operators.Profile.statsOf(d, cols)
    // plan shape: ONE Aggregate over ONE relation — not a union of
    // per-column aggregates (10 columns used to mean 10 jobs/scans)
    val plan = s.queryExecution.optimizedPlan
    val nAgg = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    val nUnion = plan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.size
    val nLeaves = plan.collectLeaves().size
    assert(nAgg == 1, s"expected one Aggregate, plan has $nAgg")
    assert(nUnion == 0, "per-column aggregates must not union")
    assert(nLeaves == 1, s"expected one scan, plan has $nLeaves leaves")
    assert(s.count() == 10)
    // k travels inside the frame; merging frames with different k must fail
    // loudly, not silently trim the KMV union to the wrong size
    val a = graft.operators.Profile.statsOf(d, Seq("c0"), k = 64)
    val b = graft.operators.Profile.statsOf(d, Seq("c0"), k = 128)
    assert(a.select("k").head().getInt(0) == 64)
    val ex = intercept[Exception] {
      graft.operators.Profile.mergeStats(a, b).collect()
    }
    assert(ex.getMessage.contains("mismatch"), s"got: ${ex.getMessage}")
    // same-k merges carry k through to the finalize estimator
    val m = graft.operators.Profile.mergeStats(a, graft.operators.Profile.statsOf(d, Seq("c0"), k = 64))
    assert(m.select("k").head().getInt(0) == 64)
    assert(graft.operators.Profile.finalizeStats(m).where(col("column") === "c0").count() == 1)
  }

  test("retention: cohort by first-event week, offsets count active weeks") {
    import java.sql.Timestamp
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 100L), // wk0 cohort
      (2L, Timestamp.valueOf("2024-01-10 09:00:00"), 100L), // active wk1
      (3L, Timestamp.valueOf("2024-01-03 12:00:00"), 200L), // wk0 cohort only
      (4L, Timestamp.valueOf("2024-01-08 00:00:00"), 300L)  // wk1 cohort
    ).toDF("event_id", "ts", "user_id")
    val t = Events.retention(ev).orderBy("cohort_week", "week_offset")
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))
    val w0 = t(0)._1
    assert(t.toSeq == Seq(
      (w0, 0L, 2L, 2L, 1.0),
      (w0, 1L, 1L, 2L, 0.5),
      (w0 + 604800L, 0L, 1L, 1L, 1.0)), s"matrix=${t.toSeq}")
  }

  test("removeDuplicateSpans scrubs cross-doc windows from every carrier") {
    val shared = "one two three four five six seven eight" // exactly one 8-token window
    val d = docs(
      (1, s"$shared tail1 tail2"),
      (2, s"head0 $shared"),
      (3, "unrelated words only here nothing more at all"))
    val r = Dedup.removeDuplicateSpans(d, n = 8).orderBy("doc_id").collect()
    assert(r(0).getString(1) == "tail1 tail2" && r(0).getLong(3) == 8)
    assert(r(1).getString(1) == "head0" && r(1).getLong(3) == 8)
    assert(r(2).getString(1) == "unrelated words only here nothing more at all"
      && r(2).getLong(3) == 0)
  }

  test("connectedComponents: direction-blind labels, min-id label, sizes") {
    val sp = spark
    import sp.implicits._
    // two components: {a,b,c} connected through directed edges both ways,
    // {x,y}; direction must not split a weak component
    val edges = Seq(("b", "a"), ("b", "c"), ("y", "x")).toDF("src", "dst")
    val out = graft.operators.Graph.connectedComponents(edges)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq(
      ("a", "a", 3L), ("b", "a", 3L), ("c", "a", 3L),
      ("x", "x", 2L), ("y", "x", 2L)))
    // null endpoints and duplicate edges are ignored
    val noisy = edges.unionByName(Seq(("b", "a"), (null, "a"), ("a", null))
      .toDF("src", "dst"))
    assert(graft.operators.Graph.connectedComponents(noisy).count() == 5)
  }

  test("pageRank: hand-computed two-iteration values on a three-node chain") {
    // a->b, a->c, b->c; N=3, d=0.85, per-iteration 9dp rounding
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val r = graft.operators.Graph.pageRank(edges, iters = 2)
      .orderBy("id").collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 0.05) < 1e-9)
    assert(math.abs(r("b") - 0.07125) < 1e-9)
    assert(math.abs(r("c") - 0.234167) < 1e-9, s"c=${r("c")}")
  }

  test("checkpointEvery truncates iterative lineage without changing results") {
    def planNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect { case n => n }.size
    // pageRank at iters=12: the unchecked plan is a 12-deep join chain; the
    // checkpointed one bottoms out in a LogicalRDD every 3 iterations
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "a"))
      .toDF("src", "dst")
    val plain = graft.operators.Graph.pageRank(edges, iters = 12)
    val ckpt = graft.operators.Graph.pageRank(edges, iters = 12, checkpointEvery = 3)
    assert(planNodes(ckpt) * 2 < planNodes(plain),
      s"checkpointed plan (${planNodes(ckpt)} nodes) should be a fraction of " +
        s"the unchecked chain (${planNodes(plain)} nodes)")
    val a = plain.orderBy("id").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val b = ckpt.orderBy("id").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(a == b, "checkpointing must not change the iterate")

    // kmeans: same law on the centroid frame
    val vecs = (1L to 12L).map(i => (i, Array.tabulate(4)(d => math.sin(i * 2.7 + d).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val cPlain = Similarity.kmeansCentroids(df, k = 2, iters = 12)
    val cCkpt = Similarity.kmeansCentroids(df, k = 2, iters = 12, checkpointEvery = 3)
    assert(planNodes(cCkpt) * 2 < planNodes(cPlain))
    def mat(d: org.apache.spark.sql.DataFrame) = d.orderBy("centroid_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    assert(mat(cPlain) == mat(cCkpt))

    // kCore: the peel loop references each round's edges ~5x, so the
    // UNCHECKED plan grows ~5^rounds relation nodes — the default
    // per-round pin must keep the plan a fraction of that and change
    // nothing (a 4-cycle survives; the tail takes several rounds to peel)
    val path = ((0 until 9).map(i => (s"p$i", s"p${i + 1}")) ++
      Seq(("p0", "c1"), ("c1", "c2"), ("c2", "c3"), ("c3", "p0"))).toDF("src", "dst")
    val kPlain = graft.operators.Graph.kCore(path, k = 2, rounds = 4, checkpointEvery = 0)
    val kCkpt = graft.operators.Graph.kCore(path, k = 2, rounds = 4)
    assert(planNodes(kCkpt) * 2 < planNodes(kPlain))
    def kmat(d: org.apache.spark.sql.DataFrame) = d.orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(kmat(kPlain) == kmat(kCkpt))
    // the 9-edge tail peels one leaf per round, so 4 rounds leave a
    // half-peeled graph — both variants must agree on the honest
    // converged=false too
    assert(kmat(kCkpt).nonEmpty && kmat(kCkpt).forall(!_._3))
  }

  test("sq8TopK: a full-corpus shortlist degenerates to exact brute force") {
    // law: when candidateFactor covers the whole corpus, quantized candidate
    // ranking cannot drop a true neighbor — results equal bruteForceTopK
    val vecs = (1L to 12L).map(i => (i, Array.tabulate(4)(d => math.sin(i * 2.7 + d).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") <= 2)
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getInt(1))
    val exact = Similarity.bruteForceTopK(df, probes, k = 3).collect().toSeq.sortBy(key)
    val sq = Similarity.sq8TopK(df, probes, k = 3, candidateFactor = 12).collect().toSeq.sortBy(key)
    assert(sq == exact, s"sq8=$sq exact=$exact")
  }

  test("pqTopK: a full-corpus shortlist degenerates to exact brute force") {
    // same law as sq8: ADC candidate ranking can only ever DROP candidates;
    // with the shortlist covering the corpus the exact re-rank sees all
    val vecs = (1L to 12L).map(i => (i, Array.tabulate(8)(d => math.cos(i * 1.9 + d).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") <= 2)
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getInt(1))
    val exact = Similarity.bruteForceTopK(df, probes, k = 3).collect().toSeq.sortBy(key)
    val pq = Similarity
      .pqTopK(df, probes, m = 2, k = 3, iters = 2, topK = 3, candidateFactor = 12)
      .collect().toSeq.sortBy(key)
    assert(pq == exact, s"pq=$pq exact=$exact")
  }

  test("semDedup: intra-cluster near-dups drop to min id, clusters never compare") {
    val rows = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.05f, 0f, 0f)), // near-dup of 1, same cluster
      (10L, Array(0f, 1f, 0f, 0f)),
      (11L, Array(0.05f, 0.99f, 0f, 0f))) // near-dup of 10, other cluster
    val r = Similarity.semDedup(rows.toDF("vec_id", "embedding"), k = 2, iters = 2, threshold = 0.9)
      .orderBy("vec_id").collect()
    val kept = r.filter(_.getLong(2) == 1L).map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 10L), s"kept=$kept")
    val cl = r.map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(cl(1L) == cl(2L) && cl(10L) == cl(11L) && cl(1L) != cl(10L), s"clusters=$cl")
  }

  test("semDedupIncremental: dropped index rows still block, id-ordered fold == batch semDedup") {
    // one cluster, a 30°-spaced chain on the unit circle: cos(a,b) =
    // cos(b,c) ≈ .866 ≥ τ = .766 > cos(a,c) = .5 — batch rule keeps a,
    // drops b (near a) AND c (near the DROPPED b). If the index held only
    // kept rows, c would wrongly survive.
    def at(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val cents = Seq((1L, Array(1.0, 0.3))).toDF("centroid_id", "cent_emb")
    val tau = 0.766
    val a = Seq((1L, at(0))).toDF("vec_id", "embedding")
    val b = Seq((2L, at(30))).toDF("vec_id", "embedding")
    val cc = Seq((3L, at(60))).toDF("vec_id", "embedding")
    var index = Similarity.semDedupAssign(a.where(lit(false)), cents)
      .select("centroid_id", "v", "nrm")
    val out = Seq(a, b, cc).flatMap { batch =>
      val r = Similarity.semDedupIncremental(batch, index, cents, tau)
      index = index.unionByName(r.select("centroid_id", "v", "nrm")).localCheckpoint()
      r.select("vec_id", "kept").collect().map(x => x.getLong(0) -> x.getLong(1))
    }.toMap
    assert(out == Map(1L -> 1L, 2L -> 0L, 3L -> 0L), s"fold=$out")
    // law on real embeddings: an id-ordered 3-batch fold reproduces the
    // batch face EXACTLY, given the same (trained-once) centroids
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val trained = Similarity.kmeansCentroids(emb, k = 4, iters = 2).localCheckpoint()
    val mx = emb.agg(max("vec_id")).head().getLong(0)
    var idx = Similarity.semDedupAssign(emb.where(lit(false)), trained)
      .select("centroid_id", "v", "nrm")
    val folded = Seq(
      emb.where(col("vec_id") <= mx / 3),
      emb.where(col("vec_id") > mx / 3 && col("vec_id") <= 2 * mx / 3),
      emb.where(col("vec_id") > 2 * mx / 3)).flatMap { batch =>
      val r = Similarity.semDedupIncremental(batch, idx, trained, 0.4)
      idx = idx.unionByName(r.select("centroid_id", "v", "nrm"))
      r.select("vec_id", "centroid_id", "kept").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    }.sortBy(_._1)
    val whole = Similarity.semDedup(emb, k = 4, iters = 2, threshold = 0.4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1).toSeq
    assert(folded == whole, "incremental fold diverged from batch semDedup")
    assert(folded.count(_._3 == 0L) > 0, "fixture has no semantic near-dups — law is vacuous")
  }

  test("semDedupIncrementalSq8: fold == whole-corpus quantized rule; agreement with full face measured") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val trained = Similarity.kmeansCentroids(emb, k = 4, iters = 2).localCheckpoint()
    val g = emb.select(explode(col("embedding")).as("x"))
      .agg(min(col("x")).cast("double"), max(col("x")).cast("double")).head()
    val (qlo, qhi) = (g.getDouble(0), g.getDouble(1))
    val mx = emb.agg(max("vec_id")).head().getLong(0)
    import org.apache.spark.sql.types._
    def emptyIdx = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("centroid_id", LongType),
        StructField("q", ArrayType(ShortType)),
        StructField("qn", DoubleType))))
    // structural law: an id-ordered 3-batch fold over the growing
    // compressed index == ONE whole-corpus batch against an empty index
    var idx = emptyIdx
    val folded = Seq(
      emb.where(col("vec_id") <= mx / 3),
      emb.where(col("vec_id") > mx / 3 && col("vec_id") <= 2 * mx / 3),
      emb.where(col("vec_id") > 2 * mx / 3)).flatMap { batch =>
      val r = Similarity.semDedupIncrementalSq8(batch, idx, trained, qlo, qhi, 0.4)
        .localCheckpoint()
      idx = idx.unionByName(r.select("centroid_id", "q", "qn"))
      r.select("vec_id", "centroid_id", "kept").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    }.sortBy(_._1)
    val whole = Similarity.semDedupIncrementalSq8(emb, emptyIdx, trained, qlo, qhi, 0.4)
      .select("vec_id", "centroid_id", "kept").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1).toSeq
    assert(folded == whole, "compressed-index fold diverged from the whole-corpus quantized rule")
    assert(folded.count(_._3 == 0L) > 0, "fixture has no semantic near-dups — law is vacuous")
    // the stored codes are genuinely SQ8: smallint payload in [0, 255]
    val qRows = idx.select(explode(col("q")).as("code")).agg(
      min(col("code")).cast("int"), max(col("code")).cast("int")).head()
    assert(qRows.getInt(0) >= 0 && qRows.getInt(1) <= 255, s"codes out of grid: $qRows")
    assert(idx.schema("q").dataType == ArrayType(ShortType), idx.schema("q").dataType.toString)
    // measured agreement with the UNCOMPRESSED face (same centroids): the
    // grid's noise may flip threshold-straddling pairs, so this is a
    // measurement, not an identity — assignments must match exactly, kept
    // flags within a small disagreement budget
    val full = Similarity.semDedup(emb, k = 4, iters = 2, threshold = 0.4)
      .select("vec_id", "centroid_id", "kept").collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    val sq8 = whole.map(x => (x._1, (x._2, x._3))).toMap
    assert(sq8.keySet == full.keySet)
    assert(sq8.forall { case (id, (cid, _)) => full(id)._1 == cid },
      "raw-vector assignment must be identical across faces")
    val disagree = sq8.count { case (id, (_, k)) => full(id)._2 != k }
    val rate = disagree.toDouble / sq8.size
    assert(rate <= 0.05, s"kept-flag disagreement $disagree/${sq8.size} exceeds 5%")
  }

  test("rotation->PQ composition measured: random (JL) rotation degrades recall, trained (PCA) holds it") {
    // the OPQ question, answered with the existing recallAtK loop at equal
    // code size (m=2, k=4 -> 4 bits/vector throughout): OPQ works because
    // its rotation is TRAINED to minimize subspace quantization error — a
    // data-oblivious Rademacher rotation instead MIXES the axes PQ's
    // per-subspace codebooks exploit. Measured on the fixture embeddings
    // (deterministic end-to-end): raw 0.32; JL-rotated 0.12/0.08/0.04 at
    // 64/32/16 dims; PCA-rotated 0.28 at 64 dims. So on THIS fixture no
    // untrained-codebook rotation beats the raw axes (they already match
    // PQ's subspace split), the trained rotation costs little, and the
    // random one collapses recall — jlProject's value stays where its
    // docstring puts it (fit-free reduction, LSH/SQ8 pre-rotation), NOT
    // as a PQ pre-rotation.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").localCheckpoint()
    val probes = emb.where(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(emb, probes, k = 5).localCheckpoint()
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, truth, 5).agg(avg("recall")).head().getDouble(0)
    def pqOn(rot: org.apache.spark.sql.DataFrame): Double =
      meanRecall(Similarity.pqTopK(rot, rot.where(col("vec_id") < 5), m = 2, k = 4, topK = 5))
    val raw = meanRecall(Similarity.pqTopK(emb, probes, m = 2, k = 4, topK = 5))
    val jlByDim = Seq(64, 32, 16).map { d =>
      val jl = Similarity.jlProject(emb, 64, d)
        .select(col("vec_id"), col("jl").as("embedding")).localCheckpoint()
      d -> pqOn(jl)
    }.toMap
    val model = Similarity.pcaFit(emb, "embedding", 64)
    val pca = Similarity.pcaProject(emb, model, 64)
      .select(col("vec_id"), col("pca").as("embedding")).localCheckpoint()
    val pcaRecall = pqOn(pca)
    info(s"raw=$raw jl=$jlByDim pca64=$pcaRecall")
    // deterministic inputs -> pin the measured ordering, not exact floats
    assert(raw > jlByDim(64) && jlByDim(64) >= jlByDim(32) && jlByDim(32) >= jlByDim(16),
      s"random rotation should degrade PQ recall monotonically: raw=$raw jl=$jlByDim")
    assert(pcaRecall > jlByDim(64),
      s"trained rotation should dominate the random one: pca=$pcaRecall jl64=${jlByDim(64)}")
    assert(pcaRecall >= raw - 0.05,
      s"trained rotation should cost at most the grid's noise: raw=$raw pca=$pcaRecall")
  }

  test("proximityIndexed == proximityHits: bucket boundaries, threshold edge, self-term") {
    import graft.operators.TextOps
    def both(d: org.apache.spark.sql.DataFrame, a: String, b: String, w: Int) = (
      TextOps.proximityHits(d, a, b, w)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap,
      TextOps.proximityIndexed(TextOps.positionalIndex(d), a, b, w)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)
    val d = docs(
      (1, "a x x x x x b"),       // dist 6 > 5 -> excluded at w=5
      (2, "a x x x x b"),         // dist 5 == threshold -> kept
      (3, "b a"),                 // order-free, dist 1
      (4, "a x b x x x x x x a"), // min over pairs: 2, not 7
      (5, "a a"),                 // b absent -> excluded
      (6, "x b x"))               // a absent -> excluded
    for (w <- Seq(1, 5, 7)) {
      val (scan, indexed) = both(d, "a", "b", w)
      assert(indexed == scan, s"w=$w: indexed=$indexed scan=$scan")
    }
    assert(both(d, "a", "b", 5)._1 == Map(2 -> 5, 3 -> 1, 4 -> 2))
    // the real corpus: the two faces agree document-for-document
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (scan, indexed) = (
      TextOps.proximityHits(docsDf, "join", "batch", 4)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap,
      TextOps.proximityIndexed(TextOps.positionalIndex(docsDf), "join", "batch", 4)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
    assert(indexed == scan && scan.nonEmpty, s"indexed=$indexed scan=$scan")
  }

  test("pqSearchIndexed == pqTopK; per-batch encodes union to the whole encode") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").localCheckpoint()
    val probes = emb.where(col("vec_id") < 5)
    val books = Similarity.pqTrain(emb, m = 2).localCheckpoint()
    val codes = Similarity.pqEncodeIndexed(emb, books).localCheckpoint()
    // append law: encoding is per-row map work against fixed codebooks —
    // the union of per-batch encodes IS the whole-corpus code table
    val parts = Similarity.pqEncodeIndexed(emb.where(col("vec_id") % 2 === 0), books)
      .unionByName(Similarity.pqEncodeIndexed(emb.where(col("vec_id") % 2 === 1), books))
    assert(parts.collect().map(_.toSeq).toSet == codes.collect().map(_.toSeq).toSet)
    val indexed = Similarity.pqSearchIndexed(codes, books, emb, probes)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val flat = Similarity.pqTopK(emb, probes, m = 2, k = 4, iters = 2, topK = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(indexed == flat && flat.nonEmpty, s"indexed=$indexed flat=$flat")
  }

  test("ivfpqSearchIndexed over persisted assignment + codes == ivfpqTopK") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").localCheckpoint()
    val probes = emb.where(col("vec_id") < 5)
    val cents = emb.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent_emb"))
      .localCheckpoint()
    val assignment = Similarity.ivfAssign(emb, cents).localCheckpoint()
    val books = Similarity.pqTrain(emb, m = 2).localCheckpoint()
    val codes = Similarity.pqEncodeIndexed(emb, books).localCheckpoint()
    val indexed = Similarity
      .ivfpqSearchIndexed(assignment, codes, books, cents, probes, nprobe = 2, topK = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val flat = Similarity
      .ivfpqTopK(emb, probes, nlist = 8, nprobe = 2, m = 2, k = 4, iters = 2, topK = 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(indexed == flat && flat.nonEmpty, s"indexed=$indexed flat=$flat")
  }

  test("opqOrder: balanced subspace variance; recovers PQ recall on anisotropic spectra, no-op on flat") {
    import graft.operators.Similarity
    // constructed anisotropy: two strong axes (var ~31, ~22) and two weak
    // (~0.025, ~0.020) — the naive descending split codes (strong, strong)
    // + (weak, weak); allocation pairs each strong axis with a weak one
    def h(i: Int, j: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j".getBytes("UTF-8"))
      ((md(0) & 0xff) / 255.0) * 2.0 - 1.0
    }
    val syn = (0 until 60).map { i =>
      (i.toLong, Seq(10.0 * h(i, 0), 9.0 * h(i, 1), 0.3 * h(i, 2), 0.25 * h(i, 3)))
    }.toDF("vec_id", "embedding").localCheckpoint()
    val struth = Similarity.bruteForceTopK(
      syn, syn.where(col("vec_id") < 8), k = 5).localCheckpoint()
    def pqRecall(mo: Similarity.PcaModel): Double = {
      val p = Similarity.pcaProject(syn, mo, 4)
        .select(col("vec_id"), col("pca").as("embedding")).localCheckpoint()
      Similarity.recallAtK(
          Similarity.pqTopK(p, p.where(col("vec_id") < 8), m = 2, k = 4, topK = 5),
          struth, 5)
        .agg(avg("recall")).head().getDouble(0)
    }
    val model = Similarity.pcaFit(syn, "embedding", 4)
    assert(model.explainedVariance(1) / model.explainedVariance(2) > 100,
      s"spectrum must be anisotropic: ${model.explainedVariance.toSeq}")
    val alloc = Similarity.opqOrder(model, 2)
    // allocation properties: a permutation, capacity dim/m, balanced
    // log-variance products strictly better than the naive split
    assert(alloc.explainedVariance.sorted.toSeq == model.explainedVariance.sorted.toSeq)
    assert(alloc.components.map(_.toSeq).toSet == model.components.map(_.toSeq).toSet)
    def logProd(ev: Seq[Double]) = ev.map(math.log).sum
    val (n0, n1) = (model.explainedVariance.take(2), model.explainedVariance.drop(2))
    val (a0, a1) = (alloc.explainedVariance.take(2), alloc.explainedVariance.drop(2))
    assert(math.abs(logProd(a0) - logProd(a1)) < math.abs(logProd(n0) - logProd(n1)),
      s"allocation must balance the products: alloc=(${a0.toSeq}, ${a1.toSeq})")
    // the measured recall law (deterministic end-to-end): 0.70 -> 0.75
    val (naive, balanced) = (pqRecall(model), pqRecall(alloc))
    info(s"naive=$naive alloc=$balanced")
    assert(balanced > naive,
      s"allocation should recover recall on an anisotropic spectrum: naive=$naive alloc=$balanced")
    // flat spectrum (the fixture): allocation must change nothing —
    // r13's rotation measurement stands
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").localCheckpoint()
    val fm = Similarity.pcaFit(emb, "embedding", 64)
    val fa = Similarity.opqOrder(fm, 2)
    def rec64(mo: Similarity.PcaModel): Double = {
      val p = Similarity.pcaProject(emb, mo, 64)
        .select(col("vec_id"), col("pca").as("embedding")).localCheckpoint()
      val t = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), k = 5)
      Similarity.recallAtK(
          Similarity.pqTopK(p, p.where(col("vec_id") < 5), m = 2, k = 4, topK = 5),
          t, 5)
        .agg(avg("recall")).head().getDouble(0)
    }
    assert(math.abs(rec64(fm) - rec64(fa)) < 1e-9,
      "a near-flat spectrum must gain nothing from allocation")
    // OPQ proper: the LEARNED rotation, warm-started from the allocation
    // — alternating Procrustes + codebook retraining must (a) stay exactly
    // orthogonal, (b) hold or beat the parametric allocation's recall, and
    // (c) beat the naive descending order (the r13 measurement showed the
    // rotation CHOICE moves recall; this shows the trained one moves it UP)
    locally {
      def rotRecall(basis: Array[Array[Double]], cbs: Option[org.apache.spark.sql.DataFrame]): Double = {
        val rotated = Similarity.rotate(syn, basis).localCheckpoint()
        val books = cbs.getOrElse(Similarity.pqTrain(rotated, m = 2, k = 4))
        val codes = Similarity.pqEncodeIndexed(rotated, books)
        Similarity.recallAtK(
            Similarity.pqSearchIndexed(
              codes, books, rotated, rotated.where(col("vec_id") < 8), topK = 5),
            struth, 5)
          .agg(avg("recall")).head().getDouble(0)
      }
      val trained = Similarity.opqTrain(syn, m = 2, k = 4, rounds = 3, init = Some(alloc))
      val rot = trained.rotation
      // exact orthogonality: R·Rᵀ = I within fp error (Newton–Schulz
      // polished — rotated-space cosine EQUALS raw-space cosine)
      val d = rot.length
      (0 until d).foreach { i =>
        (0 until d).foreach { j =>
          val dot = (0 until d).map(t => rot(i)(t) * rot(j)(t)).sum
          assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
            s"RRt[$i][$j] = $dot not ${if (i == j) 1 else 0}")
        }
      }
      // best-round selection: more rounds never score below the warm
      // start in the model's OWN objective (avg cos(R·x, q))
      val warm = Similarity.opqTrain(syn, m = 2, k = 4, rounds = 1, init = Some(alloc))
      assert(trained.objective >= warm.objective - 1e-12,
        s"objective must be monotone under best-round selection: " +
          s"warm=${warm.objective} trained=${trained.objective}")
      val rNaive = rotRecall(model.components, None)
      val rAlloc = rotRecall(alloc.components, None)
      val rTrained = rotRecall(rot, Some(trained.codebooks))
      info(s"rotated-path recall: naive=$rNaive alloc=$rAlloc trained=$rTrained " +
        s"(objective warm=${warm.objective} trained=${trained.objective})")
      // honest at-ceiling note (measured, kept as the law): from a warm
      // start already at recall 1.0 the trained pair improves the
      // OBJECTIVE (0.883 -> 0.914) while recall@5 can wobble one hit on a
      // 60-point toy (1.0 -> 0.95) — objective and recall are correlated,
      // not identical. The hard claims: trained stays above the naive
      // descending order, and never below the allocation by more than
      // that one-hit toy wobble.
      assert(rTrained > rNaive && rTrained >= rAlloc - 0.05 - 1e-9,
        s"trained rotation regressed: naive=$rNaive alloc=$rAlloc trained=$rTrained")
      // training from COLD (identity): the clean "learning moves it UP"
      // measurement — no warm start, the rotation is entirely learned
      val cold = Similarity.opqTrain(syn, m = 2, k = 4, rounds = 4)
      val identityPair = Similarity.opqTrain(syn, m = 2, k = 4, rounds = 1)
      val idBasis = Array.tabulate(4, 4)((i, j) => if (i == j) 1.0 else 0.0)
      val rIdentity = rotRecall(idBasis, Some(identityPair.codebooks))
      val rCold = rotRecall(cold.rotation, Some(cold.codebooks))
      info(s"cold: objective ${identityPair.objective} -> ${cold.objective}, " +
        s"recall $rIdentity -> $rCold")
      assert(cold.objective >= identityPair.objective - 1e-12,
        s"cold training must hold identity: id=${identityPair.objective} " +
          s"cold=${cold.objective}")
      assert(rCold >= rIdentity,
        s"learned rotation must not lose to no rotation: id=$rIdentity cold=$rCold")
      // rounds=1 with no init degenerates to plain PQ: identity rotation,
      // codebooks equal pqTrain on the unrotated corpus
      assert((0 until d).forall(i => (0 until d).forall(j =>
        identityPair.rotation(i)(j) == (if (i == j) 1.0 else 0.0))))
      assert(identityPair.codebooks.collect().map(_.toSeq).toSet
        == Similarity.pqTrain(syn, m = 2, k = 4).collect().map(_.toSeq).toSet)
    }

    // pcaProject refuses to TRUNCATE a permuted model: the allocation
    // interleaves strong and weak axes, so top-k would silently drop
    // strong axes permuted past k — only full-dim projection is lawful
    assert(alloc.explainedVariance.toSeq !=
      alloc.explainedVariance.sorted(Ordering[Double].reverse).toSeq,
      "sanity: the anisotropic allocation must actually permute the order")
    val guard = intercept[IllegalArgumentException] {
      Similarity.pcaProject(syn, alloc, 2)
    }
    assert(guard.getMessage.contains("variance-descending"), guard.getMessage)
    assert(Similarity.pcaProject(syn, alloc, 4).count() == 60L,
      "full-dim projection of a permuted model stays lawful")
  }

  test("embeddingDrift: hand-computed PSI over centroid cells; empty snapshot fails loud") {
    // two axis clusters as fixed centroids; ref splits 2/2, cur 3/1 -> the
    // exact PSI of (0.5, 0.5) vs (0.75, 0.25) per cell
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("centroid_id", "cent_emb")
    val ref = Seq(
      (1L, Seq(1.0, 0.1)), (2L, Seq(0.9, 0.0)), (3L, Seq(0.1, 1.0)), (4L, Seq(0.0, 0.9)))
      .toDF("vec_id", "embedding")
    val cur = Seq(
      (5L, Seq(1.0, 0.0)), (6L, Seq(0.8, 0.1)), (7L, Seq(0.9, 0.2)), (8L, Seq(0.1, 0.8)))
      .toDF("vec_id", "embedding")
    val r = Similarity.embeddingDrift(ref, cur, cents)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2), x.getDouble(4)))
      .sortBy(_._1)
    val expTerm0 = (0.75 - 0.5) * math.log(0.75 / 0.5)
    val expTerm1 = (0.25 - 0.5) * math.log(0.25 / 0.5)
    val expPsi = BigDecimal(expTerm0 + expTerm1)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.map(x => (x._1, x._2, x._3)).toSeq ==
      Seq((0L, 0.5, 0.75), (1L, 0.5, 0.25)), s"shares wrong: ${r.toSeq}")
    assert(r.forall(x => math.abs(x._4 - expPsi) < 1e-9), s"psi: ${r.head._4} != $expPsi")
    // a cell the current snapshot never hits clamps to eps, counted as drift
    val curOne = cur.where(col("vec_id") =!= 8L)
    val oneSided = Similarity.embeddingDrift(ref, curOne, cents)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(oneSided(1L) == 1.0e-6, s"empty cell must clamp to eps: $oneSided")
    // an empty snapshot is a loud error, not an eps-flat "no drift"
    val err = intercept[Exception] {
      Similarity.embeddingDrift(ref, cur.where(lit(false)), cents).collect()
    }
    assert(err.getMessage != null)
  }

  test("dedupSemanticSq8: survivors append-close the loop (a re-crawl survives nothing)") {
    import graft.streaming.StreamOps
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val trained = Similarity.kmeansCentroids(emb, k = 4, iters = 2).localCheckpoint()
    val cents = trained.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    val g = emb.select(explode(col("embedding")).as("x"))
      .agg(min(col("x")).cast("double"), max(col("x")).cast("double")).head()
    val (qlo, qhi) = (g.getDouble(0), g.getDouble(1))
    import org.apache.spark.sql.types._
    val emptyIdx = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("centroid_id", LongType),
        StructField("q", ArrayType(ShortType)),
        StructField("qn", DoubleType))))
    // batch 1 against an empty index: everything survives (nothing indexed)
    val b1 = StreamOps.dedupSemanticSq8(emb, emptyIdx, cents, qlo, qhi).localCheckpoint()
    assert(b1.count() == emb.count(), "empty index must drop nothing")
    assert(b1.schema("q").dataType == ArrayType(ShortType))
    // survivors ARE the index row shape: append and re-crawl the same
    // vectors — every one now has a cosine-1.0 indexed twin, so none survive
    val idx = emptyIdx.unionByName(b1.select("centroid_id", "q", "qn"))
    val recrawl = StreamOps.dedupSemanticSq8(emb, idx, cents, qlo, qhi)
    assert(recrawl.count() == 0, "a re-crawl against the appended index must drop everything")
  }

  test("semDedupAssignLit == semDedupAssign on real embeddings (literal kernel parity)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val trained = Similarity.kmeansCentroids(emb, k = 4, iters = 2).localCheckpoint()
    val byJoin = Similarity.semDedupAssign(emb, trained)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = trained.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    val byLit = Similarity.semDedupAssignLit(emb, cents)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byLit == byJoin, "literal kernel assignment diverged from the broadcast-argmax face")
    assert(byJoin.values.toSet.size > 1, "degenerate clustering — parity law is vacuous")
    // the literal face carries the same norms (the anti-join consumes them)
    val n1 = Similarity.semDedupAssign(emb, trained).select("vec_id", "nrm")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n2 = Similarity.semDedupAssignLit(emb, cents).select("vec_id", "nrm")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(n1 == n2)
  }

  test("kmeansMoments: merged batches == whole-corpus Lloyd step == kmeansCentroids' next iteration") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val c2 = Similarity.kmeansCentroids(emb, k = 4, iters = 2).localCheckpoint()
    def cents(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    // one more whole-corpus iteration, via the training loop itself
    val c3 = cents(Similarity.kmeansCentroids(emb, k = 4, iters = 3))
    // the same step via moments: whole-corpus and as a 3-batch merge
    val whole = cents(Similarity.kmeansFromMoments(Similarity.kmeansMoments(emb, c2)))
    val batches = Seq(
      emb.where(col("vec_id") % 3 === 0),
      emb.where(col("vec_id") % 3 === 1),
      emb.where(col("vec_id") % 3 === 2)).map(b => Similarity.kmeansMoments(b, c2))
    val merged = cents(Similarity.kmeansFromMoments(
      Similarity.kmeansMergeMoments(Similarity.kmeansMergeMoments(batches(0), batches(1)), batches(2))))
    def close(x: Map[Long, Seq[Double]], y: Map[Long, Seq[Double]]): Unit = {
      assert(x.keySet == y.keySet)
      for (k <- x.keySet; (a, b) <- x(k).zip(y(k))) assert(math.abs(a - b) < 1e-9, s"cluster $k: $a vs $b")
    }
    close(whole, c3)
    close(merged, c3)
  }

  test("kmeansMergeMoments: a dim mismatch fails loud, never averages phantom zeros") {
    val cents2 = Seq((1L, Array(1.0, 0.0))).toDF("centroid_id", "cent_emb")
    val cents3 = Seq((1L, Array(1.0, 0.0, 0.0))).toDF("centroid_id", "cent_emb")
    val m2 = Similarity.kmeansMoments(
      Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding"), cents2)
    val m3 = Similarity.kmeansMoments(
      Seq((2L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding"), cents3)
    val ex = intercept[Exception] {
      Similarity.kmeansFromMoments(Similarity.kmeansMergeMoments(m2, m3)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("dim mismatch")), s"got: ${msgs(ex)}")
  }

  test("equiDepthBins: quantile cut points, lower-bin ties, layout-invariant") {
    import graft.operators.Profile
    val d = (1 to 100).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    def bins(df: org.apache.spark.sql.DataFrame) =
      Profile.equiDepthBins(df, "v", nBins = 4, idCol = "id")
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val b = bins(d)
    // cuts for 1..100 at .25/.5/.75 = 25.75, 50.5, 75.25
    assert(b(25) == 0 && b(26) == 1 && b(50) == 1 && b(51) == 2 && b(76) == 3)
    assert(b == bins(d.repartition(9)), "bin labels must not depend on layout")
    assert(b.values.groupBy(identity).view.mapValues(_.size).toMap ==
      Map(0 -> 25, 1 -> 25, 2 -> 25, 3 -> 25))
  }

  test("topKPerGroup: exact per-group top-k, tie-break on id, salt-invariant") {
    import graft.operators.Sampling
    val d = Seq(
      ("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 9.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0), ("b", 6L, 3.0)).toDF("g", "id", "score")
    def run(salts: Int) =
      Sampling.topKPerGroup(d, "g", "score", k = 2, idCol = "id", salts = salts)
        .select("g", "rank", "id").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val r = run(4)
    // 9.0 tie: doc 2 outranks doc 3 (id ascending)
    assert(r == Set(("a", 1, 2L), ("a", 2, 3L), ("b", 1, 6L), ("b", 2, 5L)), s"r=$r")
    assert(run(1) == r && run(16) == r, "salt count must not change the result")
  }

  test("skewReport: hot keys ranked with share, skew factor and salt hint") {
    import graft.operators.Layout
    // counts 8/2/1/1 over 4 keys -> total 12, mean 3
    val d = (Seq.fill(8)("k1") ++ Seq.fill(2)("k2") ++ Seq("k3", "k4")).toDF("k")
    val rows = Layout.skewReport(d, "k", topN = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))
    assert(rows.toSeq == Seq(
      ("k1", 8L, 0.666667, 2.666667, 3),
      ("k2", 2L, 0.166667, 0.666667, 1)), s"rows=${rows.toSeq}")
  }

  test("triangleCounts: per-node membership; direction, dups and loops ignored") {
    import graft.operators.Graph
    // triangles abc and abd (edge c-d absent); reversed dup edges + a loop
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("b", "c"),
      ("a", "d"), ("d", "b"), ("a", "a")).toDF("src", "dst")
    val r = Graph.triangleCounts(e).collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L), s"r=$r")
  }

  test("kCore: pendant chain peels off a triangle; converged flag; dups/loops ignored") {
    import graft.operators.Graph
    // triangle abc + pendant chain c-d-e (+ reversed dup edge and a loop):
    // round 1 drops e (deg 1), round 2 drops d, round 3 is the no-op
    // fixpoint — at rounds=4 the 2-core is exactly the triangle, each
    // node at core degree 2
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
      ("b", "a"), ("d", "d")).toDF("src", "dst")
    val r = Graph.kCore(e, k = 2, rounds = 4)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getBoolean(2))).sortBy(_._1)
    assert(r.toSeq == Seq(("a", 2L, true), ("b", 2L, true), ("c", 2L, true)), s"r=${r.toSeq}")
    // k above the densest degree empties the graph — and an empty pass is
    // its own fixpoint, so it still reports converged
    assert(Graph.kCore(e, k = 3, rounds = 4).count() == 0)
  }

  test("kCore: under-iterated diameter-shaped graph fails loud via converged=false") {
    import graft.operators.Graph
    // a 7-node path needs 3 peel rounds to dissolve under k=2; rounds=1
    // must NOT silently present the half-peeled graph as the 2-core
    val path = (0 until 6).map(i => (s"n$i", s"n${i + 1}"))
    val e = path.toDF("src", "dst")
    val r1 = Graph.kCore(e, k = 2, rounds = 1).collect()
    assert(r1.nonEmpty && r1.forall(!_.getBoolean(2)), "partial peel must report converged=false")
    // enough rounds: the path has no 2-core, and an exhausted graph converges
    assert(Graph.kCore(e, k = 2, rounds = 4).count() == 0)
    // a survivor isolated by the final pass reports core_deg 0 when not converged
    assert(r1.exists(_.getLong(1) >= 0))
  }

  test("kCoreEdges resume law: continuing from survivors equals one longer run") {
    import graft.operators.Graph
    // 7-node path + a triangle: the path dissolves under k=2 over 3 rounds,
    // so a 2-round run is mid-peel — resuming it for 2 more rounds must
    // equal a single 4-round run (peeling is monotone)
    val e = ((0 until 6).map(i => (s"n$i", s"n${i + 1}")) ++
      Seq(("t0", "t1"), ("t1", "t2"), ("t2", "t0"))).toDF("src", "dst")
    val partial = Graph.kCoreEdges(e, k = 2, rounds = 2)
    assert(partial.collect().forall(!_.getBoolean(2)), "2 rounds must not converge")
    val resumed = Graph.kCoreEdges(
      partial.select("a", "b"), k = 2, rounds = 2, srcCol = "a", dstCol = "b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    val oneRun = Graph.kCoreEdges(e, k = 2, rounds = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(resumed == oneRun, s"resumed=$resumed oneRun=$oneRun")
    assert(oneRun == Set(("t0", "t1", true), ("t0", "t2", true), ("t1", "t2", true)))
  }

  test("coreness: K4 + triangle + pendant decompose to 3/2/1; converged flag ANDs levels") {
    import graft.operators.Graph
    // K4 over k0..k3 (coreness 3), a triangle a,b,c sharing node k0 via a
    // bridge... keep components honest: separate triangle abc, pendant p
    // hanging off a — coreness: K4 nodes 3, triangle nodes 2, pendant 1
    val k4 = for { i <- 0 until 4; j <- i + 1 until 4 } yield (s"k$i", s"k$j")
    val e = (k4 ++ Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "p"))).toDF("src", "dst")
    val r = Graph.coreness(e, maxK = 3, rounds = 4)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getBoolean(2))).toSet
    val want = (Seq("k0", "k1", "k2", "k3").map((_, 3L, true)) ++
      Seq("a", "b", "c").map((_, 2L, true)) :+ (("p", 1L, true))).toSet
    assert(r == want, s"r=$r")
    // maxK below the graph's degeneracy saturates at maxK (K4 nodes cap at 2)
    val capped = Graph.coreness(e, maxK = 2, rounds = 4)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(capped("k0") == 2L && capped("p") == 1L, s"capped=$capped")
    // an under-iterated level must poison the global converged flag
    val path = (0 until 8).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val under = Graph.coreness(path, maxK = 2, rounds = 1).collect()
    assert(under.forall(!_.getBoolean(2)), "under-iterated sweep must report converged=false")
  }

  test("clusterProfile: separable clusters report size, dominant label, purity") {
    import graft.operators.Similarity
    val rows = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0), (3L, Array(0.95f, 0.05f), 1),
      (4L, Array(0.0f, 1.0f), 1), (5L, Array(0.1f, 0.9f), 1), (6L, Array(0.05f, 0.95f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.clusterProfile(rows, labelCol = "label", k = 2, iters = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getDouble(3))).toSet
    // axis clusters {1,2,3} (labels 0,0,1) and {4,5,6} (all 1)
    assert(r == Set((1L, 3L, 0, 0.666667), (2L, 3L, 1, 1.0)), s"r=$r")
  }

  test("decayedTypeCounts: base-2 day-bucket decay, exact dyadic sums") {
    import graft.operators.Events
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2026-01-${d + 1}%02d 09:00:00")
    // type a: 1 event on the newest day, 2 a week old, 4 two weeks old
    val e = (Seq.fill(1)(t(14)) ++ Seq.fill(2)(t(7)) ++ Seq.fill(4)(t(0))).map(("a", _)) ++
      Seq.fill(3)(("b", t(7)))
    val df = e.toDF("event_type", "ts")
    val r = Events.decayedTypeCounts(df, halfLifeDays = 7).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getDouble(2))).toSet
    // a: 1 + 2/2 + 4/4 = 3.0 exactly; b: 3/2 = 1.5 exactly
    assert(r == Set(("a", 7L, 3.0), ("b", 3L, 1.5)), s"r=$r")
  }

  test("piiStats: masked-precedence counts; card digits never count as phones") {
    import graft.operators.TextOps
    val d = Seq(
      ("s1", "mail a@b.co and card 4111 1111 1111 1111"),
      ("s1", "ip 10.0.0.1 appears at 10.0.0.1 twice"),
      ("s2", "clean text with no identifiers")).toDF("source", "text")
    val r = TextOps.piiStats(d).collect().map(x =>
      (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
        x.getLong(5), x.getLong(6), x.getLong(7))).toSet
    // (source, n_docs, docs_with_pii, emails, ips, ssns, cards, phones)
    assert(r == Set(
      ("s1", 2L, 2L, 1L, 2L, 0L, 1L, 0L),
      ("s2", 1L, 0L, 0L, 0L, 0L, 0L, 0L)), s"r=$r")
  }

  test("crossSourceOverlap: shared n-gram windows counted per pair with jaccard") {
    val d = Seq(
      (1, "srcA", "a b c d e f g h i j"), // shares the a..h window with srcB
      (2, "srcB", "a b c d e f g h x y"),
      (3, "srcC", "p q r s t u v w")) // disjoint
      .toDF("doc_id", "source", "text")
    val r = Dedup.crossSourceOverlap(d, n = 8, sourceCol = "source")
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3)))
    // srcA has 3 windows, srcB has 3, shared = 1 -> jaccard 1/5
    assert(r.toSeq == Seq(("srcA", "srcB", 1L, 0.2)), s"r=${r.toSeq}")
  }

  test("ivfpqTopK: probing every cell degenerates to flat PQ") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val probes = emb.where(col("vec_id") < 3)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getInt(1))
    val flat = Similarity.pqTopK(emb, probes, m = 2, k = 4, iters = 1, topK = 3)
      .collect().toSeq.sortBy(key)
    val full = Similarity.ivfpqTopK(emb, probes, nlist = 4, nprobe = 4,
      m = 2, k = 4, iters = 1, topK = 3)
      .collect().toSeq.sortBy(key)
    assert(full == flat, s"nprobe=nlist must equal the flat PQ scan")
    // a restricted probe returns a subset of cells' members — never more
    // rows than the flat scan, and every row still exactly re-ranked
    val narrow = Similarity.ivfpqTopK(emb, probes, nlist = 4, nprobe = 1,
      m = 2, k = 4, iters = 1, topK = 3).collect()
    assert(narrow.length <= flat.length && narrow.nonEmpty)
  }

  test("filterReport: first failing rule wins; keep iff all rules pass") {
    val corpus = docs(
      (1, "the cat and the dog of it is that a fine day outside today ok"), // passes all
      (2, "x y"), // too_short AND low_stopword -> first rule reported
      (3, "the of a an to in is it that and " * 3)) // long enough, repetitive
    val rules = TextOps.gopherRules(col("text"), minTokens = 5,
      maxTokens = 100, maxRepetition = 0.3, minStopword = 0.05)
    val r = TextOps.filterReport(corpus, rules).orderBy("doc_id")
      .collect().map(x => (x.getInt(0), x.getString(1), x.getInt(2))).toSeq
    assert(r == Seq((1, null, 1), (2, "too_short", 0), (3, "repetitive", 0)), s"r=$r")
  }

  test("hashSplit: exhaustive, disjoint, partitioning-invariant, ~right fractions") {
    import graft.operators.Sampling
    val d = (0 until 2000).map(_.toLong).toDF("doc_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      Sampling.hashSplit(df, "doc_id", splits).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = asMap(d.repartition(1))
    val b = asMap(d.repartition(13))
    assert(a == b, "split assignment must not depend on layout")
    assert(a.size == 2000, "every row assigned exactly once")
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 1600) < 120 && counts("val") > 100 &&
      counts("test") > 100, s"counts=$counts")
  }

  test("bm25TopK: rarer term outranks commoner term; rank is total-ordered") {
    // df(x)=1, df(y)=3 over 4 docs: doc 1 (only x carrier) must outrank the
    // y-only carriers; ties among identical y docs break on doc_id
    val corpus = docs((1, "x a b"), (2, "y a b"), (3, "y a b"), (4, "y a b"))
    val r = TextOps.bm25TopK(corpus, Seq("x", "y"), topK = 4)
      .orderBy("rank").collect().map(x => (x.getInt(0), x.getInt(1))).toSeq
    assert(r.map(_._2).head == 1, s"rarest-term doc must rank first: $r")
    assert(r == r.sortBy(_._1) && r.map(_._2).drop(1) == Seq(2, 3, 4), s"r=$r")
    // non-matching docs never appear
    val none = TextOps.bm25TopK(corpus, Seq("zzz"), topK = 4).count()
    assert(none == 0)
  }

  test("bm25SearchIndexed: a 3-batch merged index equals the whole-corpus scan EXACTLY") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val terms = Seq("join", "vector", "stream")
    val whole = TextOps.bm25TopK(corpus, terms, topK = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val parts = Seq(0, 1, 2).map(r => corpus.where(col("doc_id") % 3 === r))
    val idx = parts.map(p => TextOps.bm25Index(p).localCheckpoint())
    val merged = TextOps.bm25SearchIndexed(
      idx.reduce(_ unionByName _),
      idx.map(TextOps.bm25Df).reduce(TextOps.bm25MergeDf),
      parts.map(TextOps.bm25Corpus(_)).reduce(TextOps.bm25MergeCorpus),
      terms, topK = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(merged == whole, s"indexed search diverged:\nwhole=$whole\nmerged=$merged")
    assert(whole.nonEmpty, "fixture matched no query terms — law is vacuous")
    // merged df table equals the whole-corpus document frequencies
    val dfWhole = TextOps.bm25Df(TextOps.bm25Index(corpus))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dfMerged = idx.map(TextOps.bm25Df).reduce(TextOps.bm25MergeDf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfMerged == dfWhole)
  }

  test("bm25FromPositional(positionalIndex) == bm25Index: the unified store subsumes BM25") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "term", "tf", "dl")
        .collect().map(_.toSeq).toSet
    val derived = rows(TextOps.bm25FromPositional(TextOps.positionalIndex(corpus)))
    val direct = rows(TextOps.bm25Index(corpus))
    assert(derived == direct && direct.nonEmpty, "derivation must be exact")
    // empty-text docs post nothing on either face; empty batch -> empty
    val edge = docs((1, "x x y"), (2, ""), (3, "   "))
    assert(rows(TextOps.bm25FromPositional(TextOps.positionalIndex(edge)))
      == rows(TextOps.bm25Index(edge)))
    val none = edge.where(lit(false))
    assert(TextOps.bm25FromPositional(TextOps.positionalIndex(none)).count() == 0L)
    // and the search faces agree end-to-end on the same df/corpus state
    val pos = TextOps.positionalIndex(corpus).localCheckpoint()
    val bp = TextOps.bm25FromPositional(pos)
    val dfTab = TextOps.bm25Df(bp).localCheckpoint()
    val cst = TextOps.bm25CorpusFromPostings(corpus, bp).localCheckpoint()
    val terms = Seq("join", "vector", "stream")
    val viaPos = TextOps.bm25SearchPositional(pos, dfTab, cst, terms, topK = 10)
      .collect().map(_.toSeq).toSeq
    val viaIdx = TextOps.bm25SearchIndexed(
        TextOps.bm25Index(corpus), dfTab, cst, terms, topK = 10)
      .collect().map(_.toSeq).toSeq
    assert(viaPos == viaIdx && viaPos.nonEmpty, s"pos=$viaPos idx=$viaIdx")
  }

  test("bm25CorpusFromPostings == bm25Corpus, incl. empty-text docs and empty batches") {
    val corpus = docs((1, "x a b"), (2, ""), (3, "y a"), (4, "   "))
    def row(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
    val direct = row(TextOps.bm25Corpus(corpus))
    val derived = row(TextOps.bm25CorpusFromPostings(corpus, TextOps.bm25Index(corpus)))
    assert(derived == direct && direct == Seq((4L, 5.0)), s"direct=$direct derived=$derived")
    // all-empty-text batch: postings are empty but the batch is not -> 0.0
    val blank = corpus.where(col("doc_id").isin(2, 4))
    assert(row(TextOps.bm25CorpusFromPostings(blank, TextOps.bm25Index(blank)))
      == row(TextOps.bm25Corpus(blank)))
    // empty batch: null sum on both faces (the bm25MergeCorpus identity)
    val none = corpus.where(lit(false))
    assert(row(TextOps.bm25CorpusFromPostings(none, TextOps.bm25Index(none)))
      == row(TextOps.bm25Corpus(none)))
  }

  test("heavyHitters: exact counts, invariant to partitioning (SON candidates)") {
    val corpus = docs(
      (1, "hot hot hot warm"), (2, "hot hot warm cold"), (3, "hot warm x"))
    def hits(df: org.apache.spark.sql.DataFrame) =
      TextOps.heavyHitters(df, minCount = 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val one = hits(corpus.repartition(1))
    val many = hits(corpus.repartition(7))
    assert(one == Set(("hot", 6L), ("warm", 3L)), s"one=$one")
    assert(one == many, s"partitioning changed the answer: $one vs $many")
  }

  test("dailyAnomalies: spike day flagged, flat series scores zero") {
    val rows =
      (1 to 9).map(d => (d.toLong, "a", f"2024-01-0$d 10:00:00", 1)) ++ // 1/day
        Seq((100L, "a", "2024-01-05 11:00:00", 9), // +9 extra on day 5
          (200L, "b", "2024-01-01 10:00:00", 1), (201L, "b", "2024-01-02 10:00:00", 1))
    val ev = rows
      .flatMap { case (id, t, s, n) => (0 until n).map(i => (id * 100 + i, t, s)) }
      .toSeq.toDF("event_id", "event_type", "s")
      .withColumn("ts", to_timestamp(col("s")))
    val r = Events.dailyAnomalies(ev, 2.0).orderBy("event_type", "day").collect()
    val aFlags = r.filter(_.getString(0) == "a").map(x => x.getLong(2) -> x.getBoolean(4))
    assert(aFlags.count(_._2) == 1 && aFlags.find(_._2).get._1 == 10L,
      s"exactly the 10-count spike day flags: ${aFlags.toSeq}")
    val b = r.filter(_.getString(0) == "b")
    assert(b.forall(x => x.getDouble(3) == 0.0 && !x.getBoolean(4)),
      "flat series has sigma 0 -> z 0, never NaN")
  }

  test("typeTransitions: per-user ordered bigrams with exact probabilities") {
    val ev = Seq(
      (1L, 1, "a", "2024-01-01 00:00:00"), (2L, 1, "b", "2024-01-01 00:01:00"),
      (3L, 1, "a", "2024-01-01 00:02:00"), (4L, 2, "a", "2024-01-01 00:00:00"),
      (5L, 2, "c", "2024-01-01 00:01:00"))
      .toDF("event_id", "user_id", "event_type", "s")
      .withColumn("ts", to_timestamp(col("s")))
    val r = Events.typeTransitions(ev).orderBy("prev_type", "next_type")
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3)))
    // from 'a': a->b once, a->c once (p=0.5 each); from 'b': b->a once (p=1)
    assert(r.toSeq == Seq(("a", "b", 1L, 0.5), ("a", "c", 1L, 0.5), ("b", "a", 1L, 1.0)), s"r=${r.toSeq}")
  }

  test("validate: rule matrix — violations counted exactly, one scan for row rules") {
    import graft.operators.Profile
    val df = Seq(
      (1, "ok", 10.0, "A"), (2, "ok", 99.0, "A"), // 99 out of range; dup (2,..) below
      (2, null, 20.0, "B"), (4, "ok", 30.0, "zz") // null name; 'zz' fails regex
    ).toDF("id", "name", "v", "code")
    val parent = Seq("A", "B").toDF("k")
    val r = Profile.validate(df, Seq(
      Profile.NotNull("name"),
      Profile.InRange("v", 0.0, 50.0),
      Profile.Matches("code", "[A-Z]+"),
      Profile.Unique(Seq("id")),
      Profile.RefIntegrity("code", parent, "k")))
      .collect().map(x => (x.getString(0), x.getLong(3), x.getBoolean(5))).toSeq
    assert(r == Seq(
      ("not_null", 1L, false), ("range", 1L, false), ("regex", 1L, false),
      ("unique", 1L, false), ("fk", 1L, false)), s"r=$r")
    val clean = Profile.validate(df.where(col("id") === 1), Seq(Profile.NotNull("name")))
      .head()
    assert(clean.getBoolean(5) && clean.getLong(3) == 0L)
  }

  test("tfidfTopK: rounded scores rank, ties break on the term") {
    // N=2; df(x)=1, df(y)=df(z)=2 -> idf(x)=ln(1.5)+1, idf(y)=idf(z)=1
    val r = TextOps.tfidfTopK(docs((1, "x x y z"), (2, "y z")), k = 3)
      .orderBy("doc_id", "rank").collect()
    val d1 = r.filter(_.getInt(0) == 1).map(x => (x.getInt(1), x.getString(2))).toSeq
    val d2 = r.filter(_.getInt(0) == 2).map(x => (x.getInt(1), x.getString(2))).toSeq
    assert(d1 == Seq((1, "x"), (2, "y"), (3, "z")), s"doc1=$d1")
    assert(d2 == Seq((1, "y"), (2, "z")), s"doc2=$d2")
    val xScore = r.find(x => x.getInt(0) == 1 && x.getString(2) == "x").get.getDouble(3)
    assert(math.abs(xScore - 2 * (math.log(1.5) + 1)) < 1e-6)
  }

  test("CMS: estimates never undercount, each depth row sums to N, merge is elementwise") {
    import graft.functions.CmsSketch
    val (d, w) = (4, 16) // narrow width so collisions actually occur
    val vals = Seq.tabulate(200)(i => s"v${i % 37}") // 37 distinct, skewed none
    val df = vals.toDF("x")
    val sketch = df.agg(CmsSketch.cms(col("x"), d, w).as("sk"))
    val matrix = sketch.head().getSeq[Long](0)
    assert(matrix.length == d * w)
    // every depth row distributes exactly the N updates
    (0 until d).foreach { i =>
      assert(matrix.slice(i * w, (i + 1) * w).sum == vals.length.toLong, s"row $i")
    }
    // point estimates dominate true counts (min over d cells, collisions add)
    val trueCounts = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val est = df.distinct()
      .crossJoin(broadcast(sketch))
      .select(col("x"), CmsSketch.estimate(col("sk"), col("x"), d, w).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    trueCounts.foreach { case (v, n) => assert(est(v) >= n, s"$v: est ${est(v)} < true $n") }
    // merge law: sketch(a ++ b) == sketch(a) + sketch(b) elementwise
    val (a, b) = vals.splitAt(73)
    def mat(s: Seq[String]) =
      s.toDF("x").agg(CmsSketch.cms(col("x"), d, w)).head().getSeq[Long](0)
    val summed = mat(a).zip(mat(b)).map { case (x, y) => x + y }
    assert(mat(vals) == summed)
  }

  test("sampleQuantiles: k >= n is the exact discrete quantile; layout-invariant") {
    import graft.operators.Profile
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val ps = Seq(0.1, 0.5, 0.9, 0.99)
    val full = Profile.sampleQuantiles(df, "v", col("id"), k = 1000, ps = ps)
      .orderBy("p").collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    // with the whole table sampled the estimate IS floor((n-1)p) of the data
    val sorted = (1 to 100).map(_.toDouble)
    val exact = ps.map(p => (p, sorted(math.floor(99 * p).toInt)))
    assert(full == exact, s"full=$full")
    // partitioning must not change the draw (TakeOrdered merges bottom-ks)
    val k32a = Profile.sampleQuantiles(df.repartition(7), "v", col("id"), k = 32, ps = ps)
      .orderBy("p").collect().toSeq
    val k32b = Profile.sampleQuantiles(df.coalesce(1), "v", col("id"), k = 32, ps = ps)
      .orderBy("p").collect().toSeq
    assert(k32a == k32b)
    // estimates are monotone in p
    val qs = k32a.map(_.getDouble(1))
    assert(qs == qs.sorted)
    // empty input yields NULL estimates, not an ANSI index error
    val empty = Profile.sampleQuantiles(df.where(lit(false)), "v", col("id"), k = 32, ps = ps)
      .collect()
    assert(empty.length == ps.length && empty.forall(_.isNullAt(1)))
  }

  test("applyMixturePlan: greedy per-source hash-order prefix within alloc, layout-invariant") {
    import graft.operators.Sampling
    val docs = (1 to 40).map(i => (i.toLong, if (i <= 20) "a" else "b", 10L))
      .toDF("doc_id", "source", "tokens")
    val plan = Seq(("a", 35.0), ("b", 200.0)).toDF("source", "alloc")
    val kept = Sampling.applyMixturePlan(docs, plan)
      .select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // source a: 10-token docs into a 35-token budget -> exactly 3 kept;
    // source b: alloc covers everything -> all 20 kept
    assert(kept.count(_._2 == "a") == 3, s"kept=$kept")
    assert(kept.count(_._2 == "b") == 20)
    // the a-survivors are the first 3 in md5-hash order (greedy prefix)
    val order = docs.where(col("source") === "a")
      .select(col("doc_id"), graft.functions.Funcs.md5Hash60(col("doc_id")).as("h"))
      .orderBy("h").collect().map(_.getLong(0)).toSeq
    assert(kept.filter(_._2 == "a").map(_._1).toSet == order.take(3).toSet)
    // physical layout must not change the draw (two-pass offsets are exact)
    val k2 = Sampling.applyMixturePlan(docs.repartition(7), plan)
      .select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(k2.toSet == kept.toSet)
    // a source absent from the plan contributes nothing
    val noB = Sampling.applyMixturePlan(docs, plan.where(col("source") === "a"))
    assert(noB.select("source").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("applyMixtureEpochs: full repeats + partial-epoch prefix; degenerates to applyMixturePlan") {
    import graft.operators.Sampling
    val docs = (1 to 40).map(i => (i.toLong, if (i <= 20) "a" else "b", 10L))
      .toDF("doc_id", "source", "tokens")
    // a: 200 tokens, alloc 435 -> 2 full epochs + a 35-token partial
    // b: 200 tokens, alloc 90  -> pure down-sample (epochs < 1)
    val plan = Seq(("a", 200L, 435.0), ("b", 200L, 90.0))
      .toDF("source", "tokens", "alloc")
    val out = Sampling.applyMixtureEpochs(docs, plan)
      .select("doc_id", "source", "epoch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val aCounts = out.filter(_._2 == "a").groupBy(_._1).view.mapValues(_.size).toMap
    assert(aCounts.size == 20 && aCounts.values.forall(c => c == 2 || c == 3),
      s"every a-doc appears 2 or 3 times: $aCounts")
    // the partial (epoch = 2) members are EXACTLY applyMixturePlan's
    // selection at the remainder budget, in the same hash order
    val partial = out.filter(r => r._2 == "a" && r._3 == 2L).map(_._1).toSet
    val remSel = Sampling.applyMixturePlan(
      docs, Seq(("a", 35.0)).toDF("source", "alloc"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(partial == remSel, s"partial=$partial remainder-select=$remSel")
    assert(out.filter(_._2 == "a").map(_._3).toSet == Set(0L, 1L, 2L))
    // token conservation: emitted a-mass fits alloc, overshoot < one doc
    val aMass = out.count(_._2 == "a") * 10L
    assert(aMass <= 435L && aMass > 435L - 10L, s"aMass=$aMass")
    // down-sampling source: identical rows to applyMixturePlan, all epoch 0
    val bRows = out.filter(_._2 == "b")
    val bSel = Sampling.applyMixturePlan(
      docs, Seq(("b", 90.0)).toDF("source", "alloc"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bRows.map(_._1).toSet == bSel && bRows.forall(_._3 == 0L))
    // layout invariance
    val out2 = Sampling.applyMixtureEpochs(docs.repartition(7), plan)
      .select("doc_id", "source", "epoch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out2.sorted == out.sorted)
    // exact multiple: alloc == 2x tokens -> exactly 2 epochs, empty partial
    val exact = Sampling.applyMixtureEpochs(
      docs, Seq(("a", 200L, 400.0)).toDF("source", "tokens", "alloc"))
      .groupBy("doc_id").count().collect()
    assert(exact.length == 20 && exact.forall(_.getLong(1) == 2L))
  }

  test("manifest: order-independent checksums that merge additively and catch edits") {
    import graft.operators.Layout
    val df = Seq((1L, "s1", "aa"), (2L, "s1", "bb"), (3L, "s2", "cc"))
      .toDF("id", "shard", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      Layout.manifest(d, "shard", Seq("id", "text"), "id")
        .orderBy("shard").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val base = rows(df)
    assert(base.map(x => (x._1, x._2, x._4, x._5)) == Seq(("s1", 2L, 1L, 2L), ("s2", 1L, 3L, 3L)))
    // physical order/partitioning must not move a checksum
    assert(rows(df.repartition(5)) == base)
    assert(rows(df.orderBy(col("id").desc)) == base)
    // one changed byte shifts the shard's checksum, leaves others alone
    val edited = rows(Seq((1L, "s1", "aa"), (2L, "s1", "bX"), (3L, "s2", "cc"))
      .toDF("id", "shard", "text"))
    assert(edited.head._3 != base.head._3 && edited(1) == base(1))
    // append audit: checksums of disjoint halves sum (mod 2^60) to the whole
    val half1 = rows(df.where(col("id") === 1))
    val m = BigInt(1) << 60
    val half2 = rows(df.where(col("id") === 2))
    assert((BigInt(half1.head._3) + BigInt(half2.head._3)).mod(m) == BigInt(base.head._3).mod(m))
    // separator: ("a","bc") and ("ab","c") must not collide
    val c1 = rows(Seq((1L, "s", "x")).toDF("id", "shard", "text"))
    val ab = Layout.manifest(
      Seq(("a", "s", "bc")).toDF("k1", "shard", "k2"), "shard", Seq("k1", "k2"), "k1")
      .head().getLong(2)
    val ab2 = Layout.manifest(
      Seq(("ab", "s", "c")).toDF("k1", "shard", "k2"), "shard", Seq("k1", "k2"), "k1")
      .head().getLong(2)
    assert(ab != ab2 && c1.nonEmpty)
    // null-shift: ("x", null) and (null, "x") must not share a checksum
    def oneSum(a: Option[String], b: Option[String]) = Layout.manifest(
      Seq((a.orNull, "s", b.orNull)).toDF("k1", "shard", "k2"), "shard", Seq("k1", "k2"), "shard")
      .head().getLong(2)
    assert(oneSum(Some("x"), None) != oneSum(None, Some("x")))
    // separator smuggling: per-column md5 tokens make boundary shifts
    // unfakeable even when values CONTAIN any would-be separator byte
    assert(oneSum(Some("a\u0001b"), Some("c")) != oneSum(Some("a"), Some("b\u0001c")))
    // NULL vs a literal sentinel-looking string still differ ('-' is not
    // a possible md5 output)
    assert(oneSum(None, Some("x")) != oneSum(Some("-"), Some("x")))
  }

  test("cleanText: NFC composes, Cf and controls strip (keeping newline/tab), idempotent") {
    import graft.operators.TextOps
    def clean(s: String) = Seq(s).toDF("text")
      .select(TextOps.cleanText(col("text"))).head().getString(0)
    assert(clean("cafe\u0301") == "caf\u00e9")     // NFD -> NFC
    assert(clean("o\u0302\u0323") == "\u1ed9")    // multi-combining composes
    assert(clean("a\u200bb\u200dc\ufeffd\u00ade") == "abcde") // Cf stripped
    assert(clean("x\u0007y\u0000z") == "xyz")      // C0 stripped
    assert(clean("l1\r\nl2\tend") == "l1\nl2\tend")     // CR out, LF/TAB kept
    assert(clean("plain ascii") == "plain ascii")        // clean passes through
    // idempotence over the whole fixture corpus
    UnicodeCorpus.ensure(spark)
    val once = spark.read.parquet(UnicodeCorpus.table)
      .select(col("doc_id"), TextOps.cleanText(col("text")).as("c1"))
    val twice = once.select(col("doc_id"), col("c1"),
      TextOps.cleanText(col("c1")).as("c2"))
    assert(twice.where(col("c1") =!= col("c2")).count() == 0)
    // and the corpus genuinely exercises the cleaner
    val changed = spark.read.parquet(UnicodeCorpus.table)
      .where(TextOps.cleanText(col("text")) =!= col("text")).count()
    assert(changed > 10, s"fixture should carry many messy rows, got $changed")
  }

  test("cdcChunk: content-defined boundaries are edit-local; coverage is exact") {
    import graft.operators.TextOps
    val base = (1 to 200).map(i => s"tok${i % 91}").mkString(" ")
    def chunksOf(text: String) = TextOps.cdcChunk(docs((1, text)), w = 4, divisor = 8)
      .orderBy("chunk_idx").collect().map(_.getString(3)).toSeq
    val orig = chunksOf(base)
    assert(orig.length > 3, s"expected several chunks, got ${orig.length}")
    // exact coverage: chunks reassemble the token stream
    assert(orig.mkString(" ") == base.toLowerCase)
    // EDIT LOCALITY — the CDC property: appending text leaves every chunk
    // but the last byte-identical (fixed-size chunking shifts them all)
    val appended = chunksOf(base + " zzz qqq xxx yyy www")
    assert(appended.take(orig.length - 1) == orig.dropRight(1),
      "earlier chunks must survive an append byte-identical")
    // short docs collapse to one chunk; empty docs vanish
    assert(chunksOf("a b") == Seq("a b"))
    assert(TextOps.cdcChunk(docs((1, "  "))).count() == 0)
    // the revision-dedup payoff vs fixed chunking: a PREPEND edit (the
    // boundary-shifting case) leaves most CDC chunks in the v1 store,
    // while fixed-size chunks nearly all shift away
    val d = docs((1, base))
    val edited = docs((1, "zz qq " + base))
    def shared(v1: org.apache.spark.sql.DataFrame, v2: org.apache.spark.sql.DataFrame) = {
      val store = v1.select(md5(col("chunk_text")).as("h")).distinct()
      val total = v2.count()
      val hit = v2.select(md5(col("chunk_text")).as("h")).join(store, "h").count()
      (hit, total)
    }
    val (cdcHit, cdcTot) = shared(
      TextOps.cdcChunk(d, w = 4, divisor = 8), TextOps.cdcChunk(edited, w = 4, divisor = 8))
    val (fixHit, fixTot) = shared(
      TextOps.chunk(d, 8, 0), TextOps.chunk(edited, 8, 0))
    assert(cdcHit * 2 > cdcTot, s"CDC should retain most chunks: $cdcHit/$cdcTot")
    assert(fixHit * 2 < fixTot, s"fixed should lose most chunks: $fixHit/$fixTot")
    assert(cdcHit.toDouble / cdcTot > fixHit.toDouble / fixTot)
  }

  test("mutualInformation: zero for independent columns, H(A) for determined ones") {
    import graft.operators.Profile
    // B = f(A): I(A;B) = H(B); here each a maps to one b
    val det = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q")).toDF("a", "b")
    val d = Profile.mutualInformation(det, "a", "b").head()
    assert(d.getDouble(0) == d.getDouble(2)) // mi == h_b
    assert(math.abs(d.getDouble(0) - math.log(2)) < 1e-6)
    // independent uniform columns: every (a, b) cell equally likely -> MI 0
    val ind = (for { a <- Seq("x", "y"); b <- Seq("p", "q") } yield (a, b)).toDF("a", "b")
    assert(Profile.mutualInformation(ind, "a", "b").head().getDouble(0) == 0.0)
  }

  test("madOutliers: 50%-breakdown statistics flag the planted point, zero-MAD guarded") {
    import graft.operators.Profile
    val d = ((1 to 99).map(i => (i.toLong, i.toDouble)) :+ (1000L, 1000.0)).toDF("id", "v")
    val out = Profile.madOutliers(d, "v", col("id"), k = 2048)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3), Option(r.get(4)).map(_ => r.getDouble(4)), r.getBoolean(5)))
      .toMap
    // k covers the data: med = 50, MAD = 25 exactly
    val (med, mad, _, _) = out(1L)
    assert(med == 50.0 && mad == 25.0)
    // the planted 1000 is the only robust-z > 3.5 point
    assert(out(1000L)._4 && out(1000L)._3.get == BigDecimal(0.6745 * 950 / 25)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out.count(_._2._4) == 1)
    // constant column: MAD = 0 AND MeanAD = 0 -> z NULL, nothing flagged
    val const = Profile.madOutliers(
      (1 to 10).map(i => (i.toLong, 7.0)).toDF("id", "v"), "v", col("id")).collect()
    assert(const.forall(r => r.isNullAt(4) && !r.getBoolean(5)))
    // MAD = 0 but NOT constant (mostly-constant column, one corruption):
    // the MeanAD fallback scale kicks in and the corruption is flagged —
    // previously this degenerate case flagged nothing
    val fb = Profile.madOutliers(
      ((1 to 20).map(i => (i.toLong, 7.0)) :+ (99L, 1000.0)).toDF("id", "v"),
      "v", col("id"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(5))).toMap
    assert(fb.values.forall(_._1 == 0.0)) // MAD really is 0 here
    assert(fb(99L)._2 && fb.count(_._2._2) == 1)
  }

  test("groupQuantiles: exact per group when k covers it, mergeable across layout") {
    import graft.operators.Profile
    // group a: 1..100 (k covers -> exact); group b: single value
    val d = ((1 to 100).map(i => ("a", i.toLong, i.toDouble)) ++
      Seq(("b", 500L, 42.0))).toDF("g", "id", "v")
    def run(df: org.apache.spark.sql.DataFrame) =
      Profile.groupQuantiles(df, "v", col("id"), "g", k = 256, ps = Seq(0.1, 0.5, 0.9))
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val out = run(d)
    // discrete lower quantile over the full group: floor(99*p)+1-th value
    assert(out(("a", 0.1)) == 10.0 && out(("a", 0.5)) == 50.0 && out(("a", 0.9)) == 90.0)
    assert(out(("b", 0.5)) == 42.0)
    // layout invariance: the sample is hash-determined, not partition-determined
    assert(run(d.repartition(13)) == out)
    // an ALL-NULL group still appears, with NULL q (contract: NULL, not absence)
    val withNull = d.unionByName(
      Seq(("c", 900L)).toDF("g", "id").withColumn("v", lit(null).cast("double"))
        .select("g", "id", "v"))
    val nq = Profile.groupQuantiles(withNull, "v", col("id"), "g", k = 256, ps = Seq(0.5))
      .where(col("g") === "c").collect()
    assert(nq.length == 1 && nq.head.isNullAt(2))
  }

  test("winsorize: clamps to sampled quantiles, interior values untouched") {
    import graft.operators.Profile
    val d = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    // k >= n: the sample is the data, thresholds are exact discrete quantiles
    val w = Profile.winsorize(d, "v", col("id"), pLo = 0.1, pHi = 0.9, k = 1024)
      .select("id", "v", "v_w")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // floor((100-1)*0.1)=9 -> 10th smallest = 10; floor(99*0.9)=89 -> 90
    assert(w.forall { case (_, v, vw) => vw == math.min(math.max(v, 10.0), 90.0) })
    assert(w.count { case (_, v, vw) => vw != v } == 9 + 10)
    // NULL values stay NULL — not fabricated low-threshold points
    val withNull = d.unionByName(
      Seq(999L).toDF("id").withColumn("v", lit(null).cast("double")).select("id", "v"))
    val nrow = Profile.winsorize(withNull, "v", col("id"), 0.1, 0.9, 1024)
      .where(col("id") === 999L).head()
    assert(nrow.isNullAt(nrow.fieldIndex("v_w")))
  }

  test("phraseHits: consecutive-token conjunction, counts multiples, no partial credit") {
    import graft.operators.TextOps
    val d = docs(
      (1, "alpha beta gamma x alpha beta gamma"),
      (2, "alpha gamma beta"),   // right tokens, wrong order
      (3, "Alpha  BETA gamma"),  // normalization applies
      (4, "beta gamma"))         // shorter than the phrase
    val out = TextOps.phraseHits(d, "alpha beta gamma")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out == Map(1 -> 2, 3 -> 1))
  }

  test("phraseHitsIndexed == phraseHits: overlap, repeated terms, k=1, fixture corpus") {
    import graft.operators.TextOps
    def both(d: org.apache.spark.sql.DataFrame, p: String) = (
      TextOps.phraseHits(d, p).collect().map(r => r.getInt(0) -> r.getInt(1)).toMap,
      TextOps.phraseHitsIndexed(TextOps.positionalIndex(d), p)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)
    val d = docs(
      (1, "a a a b"),        // overlapping starts: "a a" hits twice
      (2, "a b a b a"),
      (3, "b b"),
      (4, ""))
    for (p <- Seq("a a", "a b a", "b")) {
      val (scan, indexed) = both(d, p)
      assert(indexed == scan, s"phrase '$p': indexed=$indexed scan=$scan")
    }
    assert(both(d, "a a")._2 == Map(1 -> 2), "overlapping starts must both count")
    // the real corpus: the two faces agree document-for-document
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (scan, indexed) = (
      TextOps.phraseHits(docsDf, "batch batch")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap,
      TextOps.phraseHitsIndexed(TextOps.positionalIndex(docsDf), "batch batch")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
    assert(indexed == scan && scan.nonEmpty, s"indexed=$indexed scan=$scan")
  }

  test("cusumChangePoints: accumulates a small persistent shift past the threshold") {
    import graft.operators.Events
    // 14 days at 50/day (baseline mu = 50), then 10 days at 80/day:
    // post-shift drift is +20/day over mu+slack -> S = 20, 40, 60, ...
    val rows = (1 to 24).flatMap { d =>
      val c = if (d <= 14) 50 else 80
      (1 to c).map(i =>
        (java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:${i % 60}%02d:00"), "feed", 1.0))
    }
    val ev = rows.toDF("ts", "event_type", "value")
    val out = Events.cusumChangePoints(ev, slack = 10L, threshold = 30L, baselineDays = 7)
      .orderBy("day")
      .collect().map(r => (r.getAs[Long]("n"), r.getAs[Long]("cusum"), r.getAs[Boolean]("changed")))
    assert(out.length == 24)
    // baseline days: S pinned at 0, nothing flagged
    assert(out.take(14).forall { case (n, s, f) => n == 50L && s == 0L && !f })
    // shift: S ramps 20, 40, 60...; the flag fires from the SECOND shifted
    // day — one noisy day can't trip it, a persistent shift must
    assert(out(14) == ((80L, 20L, false)))
    assert(out(15) == ((80L, 40L, true)))
    assert(out.drop(15).forall(_._3))
    assert(out.last._2 == 20L * 10)
    // SILENT GAP drains the statistic: 7 baseline days at 60 (mu=60), two
    // 90-days (S 20 then 40, flagged), three days with NO events (x=0
    // enters the recurrence, S collapses to 0), then a normal day
    val gappy = ((1 to 9) ++ (13 to 13)).flatMap { d =>
      val c = if (d <= 7) 60 else if (d <= 9) 90 else 60
      (1 to c).map(i =>
        (java.sql.Timestamp.valueOf(f"2024-02-$d%02d 00:${i % 60}%02d:00"), "feed", 1.0))
    }.toDF("ts", "event_type", "value")
    val g = Events.cusumChangePoints(gappy, slack = 10L, threshold = 30L, baselineDays = 7)
      .orderBy("day")
      .collect().map(r => (r.getAs[Long]("n"), r.getAs[Long]("cusum"), r.getAs[Boolean]("changed")))
    assert(g.length == 13, "scaffold must densify the silent days")
    assert(g(8) == ((90L, 40L, true)))            // last loud day flagged
    assert(g(9) == ((0L, 0L, false)))             // first silent day drains fully
    assert(g(12) == ((60L, 0L, false)))           // normal resume is NOT flagged
  }

  test("lshQuality: perfect scores on an exact-dup corpus, guarded zeros with no dups") {
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val d = docs((1, body), (2, body), (3, other), (4, "tiny unrelated snippet here"))
    val r = Dedup.lshQuality(d, tau = 0.5).head()
    // one true pair (1,2); LSH must band-match identical signatures
    assert(r.getAs[Long]("n_truth") == 1L && r.getAs[Long]("n_pred") == 1L)
    assert(r.getAs[Double]("precision") == 1.0 && r.getAs[Double]("recall") == 1.0)
    // no duplicates at all: both denominators guard to 0.0
    val none = Dedup.lshQuality(docs((1, body), (2, other)), tau = 0.5).head()
    assert(none.getAs[Long]("n_truth") == 0L)
    assert(none.getAs[Double]("precision") == 0.0 && none.getAs[Double]("recall") == 0.0)
    // exact truth and estimated pairs agree on the pair identity
    val truth = Dedup.exactJaccardPairs(d, 0.5).collect()
    assert(truth.map(r2 => (r2.getInt(0), r2.getInt(1), r2.getDouble(2))).toSeq ==
      Seq((1, 2, 1.0)))
  }

  test("gapFill: dense hourly grid, zero counts on silent hours, LOCF carries the last mean") {
    import graft.operators.Events
    val ts = java.sql.Timestamp.valueOf(_: String)
    val ev = Seq(
      (ts("2024-01-01 00:10:00"), "click", 2.0),
      (ts("2024-01-01 00:20:00"), "click", 4.0),
      // hour 01 silent, hour 02 observed again
      (ts("2024-01-01 02:30:00"), "click", 10.0),
      (ts("2024-01-01 01:15:00"), "view", 7.0))
      .toDF("ts", "event_type", "value")
    val out = Events.gapFill(ev)
      .select(col("event_type"), date_format(col("hour"), "HH").as("h"), col("n"), col("locf_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), Option(r.get(3)))).toSet
    assert(out == Set(
      ("click", "00", 2L, Some(3.0)),           // mean of 2,4
      ("click", "01", 0L, Some(3.0)),           // silent -> LOCF
      ("click", "02", 1L, Some(10.0)),
      ("view", "00", 0L, None),                 // nothing observed yet -> NULL
      ("view", "01", 1L, Some(7.0)),
      ("view", "02", 0L, Some(7.0))))           // carried to the corpus bound
  }

  test("valueEntropy: hand-computed entropy, uniform max, single-value zero") {
    import graft.operators.Profile
    val d = (Seq.fill(2)(("a", "x")) ++ Seq.fill(2)(("a", "y")) ++
      Seq.fill(4)(("b", "z")) ++ Seq(("c", "p"), ("c", "q"), ("c", "q"), ("c", "q")))
      .toDF("source", "v")
    val out = Profile.valueEntropy(d, "v", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def q(p: Double) = math.round(p * math.log(p) * 1e9)
    def h(ps: Double*) = BigDecimal(-ps.map(q).sum.toDouble / 1e9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("a") == h(0.5, 0.5))             // uniform two values: ln 2
    assert(out("b") == 0.0)                     // single value: zero entropy
    assert(out("c") == h(0.25, 0.75))
    assert(math.abs(out("a") - math.log(2)) < 1e-6)
  }

  test("joinSizeEstimate: exact when collision-free, overcount-only when not") {
    import graft.functions.CmsSketch
    // A: key 1 x3, key 2 x2; B: key 1 x2, key 3 x4 -> true join size 3*2 = 6
    val a = Seq(1L, 1L, 1L, 2L, 2L).toDF("k")
    val b = Seq(1L, 1L, 3L, 3L, 3L, 3L).toDF("k")
    def est(w: Int): Long = a.agg(CmsSketch.cms(col("k"), 4, w).as("ska"))
      .crossJoin(b.agg(CmsSketch.cms(col("k"), 4, w).as("skb")))
      .select(CmsSketch.joinSizeEstimate(col("ska"), col("skb"), 4, w).cast("long"))
      .head().getLong(0)
    // wide sketch: no collisions in any depth row -> exact inner product
    assert(est(4096) == 6L)
    // near-degenerate width: keys collide -> overcount, never undercount,
    // bounded by the all-in-one-cell ceiling ||A||1 * ||B||1
    val tight = est(2)
    assert(tight >= 6L && tight <= 30L)
  }

  test("editDistancePairs: blocked candidates, threshold, dedup to distinct values") {
    val d = Seq("color widget", "color widgit", "color gadget", "dolor widget",
      "color widget", "zz").toDF("name")
    val pairs = Dedup.editDistancePairs(d, "name", maxDist = 1, blockPrefix = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // widget/widgit at distance 1 inside the 'co' block
    assert(pairs.contains(("color widget", "color widgit", 1)))
    // gadget is 2 edits from widget -> above the maxDist=1 threshold
    assert(!pairs.exists(p => p._2 == "color gadget" || p._1 == "color gadget"))
    // dolor widget differs IN the prefix -> different block, not a candidate
    assert(!pairs.exists(p => p._1 == "dolor widget" || p._2 == "dolor widget"))
    // duplicates collapse first: the pair appears once, not per occurrence
    assert(pairs.size == 1)
  }

  test("kAnonymity: flags below-k groups, NULLs group separately") {
    import graft.operators.Profile
    val d = Seq(("us", "a"), ("us", "a"), ("us", "a"), ("de", "b"), ("de", "b"),
      (null, "b")).toDF("country", "seg")
    val out = Profile.kAnonymity(d, Seq("country", "seg"), k = 3L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(out == Set(
      ("us", "a", 3L, true),
      ("de", "b", 2L, false),
      (null, "b", 1L, false)))
  }

  test("rollupDaily: levels are consistent and gid separates rolled-up from NULL data") {
    import graft.operators.Events
    val ts = java.sql.Timestamp.valueOf(_: String)
    val ev = Seq(
      (ts("2024-01-01 10:00:00"), "click", 1.0),
      (ts("2024-01-01 11:00:00"), "click", 2.0),
      (ts("2024-01-02 10:00:00"), "click", 4.0),
      (ts("2024-01-01 10:00:00"), "view", 8.0),
      (ts("2024-01-01 12:00:00"), null, 16.0)) // NULL data value, not a subtotal
      .toDF("ts", "event_type", "value")
    val out = Events.rollupDaily(ev).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("day"),
        r.getAs[Long]("gid"), r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
    // detail rows carry gid 0 — including the NULL-typed data row
    assert(out.filter(_._3 == 0L).toSet == Set(
      ("click", "2024-01-01", 0L, 2L, 3.0), ("click", "2024-01-02", 0L, 1L, 4.0),
      ("view", "2024-01-01", 0L, 1L, 8.0), (null, "2024-01-01", 0L, 1L, 16.0)))
    // per-type subtotal (gid 1) sums that type's days; NULL type keeps its own
    assert(out.filter(_._3 == 1L).toSet == Set(
      ("click", null, 1L, 3L, 7.0), ("view", null, 1L, 1L, 8.0),
      (null, null, 1L, 1L, 16.0)))
    // grand total (gid 3) covers everything
    assert(out.filter(_._3 == 3L).toSeq == Seq((null, null, 3L, 5L, 31.0)))
  }

  test("nbTrain/nbClassify: learns separable classes, integer scores, documented tie-break") {
    import graft.operators.TextOps
    val train = Seq(
      ("sports", "goal match striker penalty referee goal team"),
      ("sports", "match team goal keeper defender striker"),
      ("finance", "market stock bond yield dividend market"),
      ("finance", "stock yield market earnings dividend bond"))
      .toDF("cls", "text")
    val (tm, lm) = TextOps.nbTrain(train, "cls")
    val test = Seq(
      (1, "the striker scored a goal for the team"),
      (2, "bond yield and dividend in the stock market"))
      .toDF("doc_id", "text")
    val out = TextOps.nbClassify(test, tm, lm)
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1)._1 == "sports" && out(2)._1 == "finance")
    // scores are exact integers: replay doc 2's finance score by hand
    val V = 14.0 // distinct training tokens (8 sports + 6 finance)
    def q(x: Double) = math.round(math.log(x) * 1e6)
    val finTot = 12.0
    val qdef = q(1.0 / (finTot + V))
    val counts = Map("market" -> 3, "stock" -> 2, "bond" -> 2, "yield" -> 2, "dividend" -> 2, "earnings" -> 1)
    val toks = Seq("bond", "yield", "and", "dividend", "in", "the", "stock", "market")
    val expected = q(2.0 / 4.0) + toks.map(t =>
      counts.get(t).map(c => q((c + 1).toDouble / (finTot + V))).getOrElse(qdef)).sum
    assert(out(2)._2 == expected)
    // tie-break: empty text scores qprior only (equal priors) -> largest label wins
    val tie = TextOps.nbClassify(Seq((9, "")).toDF("doc_id", "text"), tm, lm)
      .head()
    assert(tie.getString(1) == "sports")
  }

  private def lrHash(tok: String, dim: Int): Long = {
    // the engine-portable bucket, recomputed independently (md5 hex ->
    // 60-bit int -> mod dim), mirroring the DuckDB oracle formula
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8"))
    val hex = d.map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % dim
  }

  test("lrTrain/lrScore: separable toy learned, hand-replayed integer margin, keep-best no worse than 1 epoch") {
    import graft.operators.TextOps
    val train = Seq(
      (0, "alpha beta gamma alpha", 1), (1, "beta alpha gamma gamma", 1),
      (2, "alpha gamma beta", 1), (3, "zug blor kraz zug", 0),
      (4, "blor zug kraz", 0), (5, "kraz blor zug blor", 0))
      .toDF("doc_id", "text", "y")
    val m = TextOps.lrTrain(train, "y", dim = 64, epochs = 15, rate = 0.5)
    val sc = TextOps.lrScore(train, m, "doc_id", "text")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // disjoint vocab -> fully separated at the 0.5 threshold
    (0 to 2).foreach(i => assert(sc(i)._2 > 0.5, s"pos doc $i p=${sc(i)._2}"))
    (3 to 5).foreach(i => assert(sc(i)._2 < 0.5, s"neg doc $i p=${sc(i)._2}"))
    // the margin is an EXACT integer sum: replay doc 0 (alpha x2, beta,
    // gamma, bias) straight from the model map and the portable hash
    def qw(f: Long) = m.qWeights.getOrElse(f, 0L)
    val expected0 = qw(-1L) + 2 * qw(lrHash("alpha", 64)) +
      qw(lrHash("beta", 64)) + qw(lrHash("gamma", 64))
    assert(sc(0)._1 == expected0)
    // keep-best: more epochs can never return a worse model in-sample
    def loss(model: TextOps.LrModel): Double = {
      val ps = TextOps.lrScore(train, model, "doc_id", "text")
        .join(train.select(col("doc_id"), col("y")), "doc_id")
        .collect().map(r => (r.getDouble(2), r.getInt(3)))
      ps.map { case (p0, y) =>
        val p = math.min(math.max(p0, 1e-12), 1 - 1e-12)
        -(y * math.log(p) + (1 - y) * math.log(1 - p))
      }.sum / ps.length
    }
    val m1 = TextOps.lrTrain(train, "y", dim = 64, epochs = 1, rate = 0.5)
    assert(loss(m) <= loss(m1) + 1e-9)
  }

  test("lrFeatures: tf counts not presence, bias row carried by empty and null texts") {
    import graft.operators.TextOps
    val d = Seq((1, "aa aa bb"), (2, ""), (3, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val f = TextOps.lrFeatures(d, dim = 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(f((1, lrHash("aa", 64))) == 2L) // term FREQUENCY, not presence
    assert(f((1, lrHash("bb", 64))) == 1L)
    assert(f((1, -1L)) == 1L)
    // empty/null docs still carry exactly their bias row
    assert(f((2, -1L)) == 1L && f((3, -1L)) == 1L)
    assert(f.keys.count(_._1 == 2) == 1 && f.keys.count(_._1 == 3) == 1)
  }

  test("lrScore property: random corpora x random models, qmargin equals the plain-Scala replay EXACTLY") {
    import graft.operators.TextOps
    // pins the whole portable-scoring contract at once — tokenize, md5
    // bucket (collisions included at dim=16), tf aggregation, bias row,
    // absent-feature zero, and the BIGINT sum — against an independent
    // per-doc replay, over seeded random inputs
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "kappa", "mu", "nu", "xi")
    Seq(16, 64, 256).foreach { dim =>
      val model = TextOps.LrModel(
        (-1L +: vocab.map(lrHash(_, dim))).distinct
          .filter(_ => rnd.nextBoolean())
          .map(f => f -> (rnd.nextInt(2000001) - 1000000).toLong).toMap, dim)
      val corpus = (0 until 30).map { i =>
        val len = rnd.nextInt(12) // includes empty docs
        (i, (0 until len).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val got = TextOps.lrScore(corpus.toDF("doc_id", "text"), model, "doc_id", "text")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      corpus.foreach { case (id, text) =>
        val tf = text.split(" ").filter(_.nonEmpty)
          .groupBy(identity).view.mapValues(_.length).toMap
        val expect = model.qWeights.getOrElse(-1L, 0L) +
          tf.map { case (t, c) =>
            c.toLong * model.qWeights.getOrElse(lrHash(t, dim), 0L)
          }.sum
        assert(got(id) == expect, s"doc $id dim=$dim")
      }
    }
  }

  test("lrTrain: empty corpus -> empty model (p=0.5 everywhere); one-class saturates; l2 shrinks weights") {
    import graft.operators.TextOps
    val empty = Seq.empty[(Int, String, Int)].toDF("doc_id", "text", "y")
    val m0 = TextOps.lrTrain(empty, "y", dim = 16, epochs = 3)
    assert(m0.qWeights.isEmpty)
    val probe = Seq((7, "anything at all")).toDF("doc_id", "text")
    val s0 = TextOps.lrScore(probe, m0, "doc_id", "text").head()
    assert(s0.getLong(1) == 0L && s0.getDouble(2) == 0.5)
    // one-class corpus: the fit saturates toward p -> 1 on its own docs
    val ones = Seq((1, "alpha beta", 1), (2, "beta gamma", 1)).toDF("doc_id", "text", "y")
    val m1 = TextOps.lrTrain(ones, "y", dim = 16, epochs = 10, rate = 0.5)
    TextOps.lrScore(ones, m1, "doc_id", "text").collect()
      .foreach(r => assert(r.getDouble(2) > 0.9))
    // L2 shrinks the learned weights
    val d = Seq(
      (0, "alpha beta gamma alpha", 1), (1, "beta alpha gamma gamma", 1),
      (2, "zug blor kraz zug", 0), (3, "blor zug kraz", 0))
      .toDF("doc_id", "text", "y")
    def l1(m: TextOps.LrModel) = m.qWeights.values.map(v => math.abs(v.toDouble)).sum
    val free = TextOps.lrTrain(d, "y", dim = 16, epochs = 10, rate = 0.5, l2 = 0.0)
    val reg = TextOps.lrTrain(d, "y", dim = 16, epochs = 10, rate = 0.5, l2 = 0.5)
    assert(l1(reg) < l1(free))
  }

  test("lrTrainNewton law: same-or-better held-out accuracy than the epoch trainer in STRICTLY fewer Spark jobs, identical published-weight format") {
    import graft.operators.TextOps
    // a learnable-but-noisy distillation corpus (the q_text_lr shape):
    // label = quality-ish rule over two vocab pools with overlap words, so
    // neither trainer can memorize and held-out accuracy is a real number
    val rnd = new scala.util.Random(42)
    val good = Array("alpha", "beta", "gamma", "delta", "omega")
    val bad = Array("zug", "blor", "kraz", "vex", "qux")
    val both = Array("the", "and", "data")
    val corpus = (0 until 240).map { i =>
      val pool = if (i % 2 == 0) good else bad
      val words = (0 until (5 + rnd.nextInt(8))).map { _ =>
        if (rnd.nextInt(4) == 0) both(rnd.nextInt(both.length))
        else pool(rnd.nextInt(pool.length))
      }
      (i.toLong, words.mkString(" "), if (i % 2 == 0) 1 else 0)
    }.toDF("doc_id", "text", "y")
    val train = corpus.where(col("doc_id") % 4 =!= 1).localCheckpoint()
    val heldOut = corpus.where(col("doc_id") % 4 === 1).localCheckpoint()
    def acc(m: TextOps.LrModel): Double = {
      val rows = TextOps.lrScore(heldOut, m, "doc_id", "text")
        .join(heldOut.select(col("doc_id"), col("y")), "doc_id")
        .collect()
      rows.count(r => (r.getDouble(2) >= 0.5) == (r.getInt(3) == 1)).toDouble / rows.length
    }
    // the production hyperparameters on both sides (lrModelFor's epoch=30
    // config vs the Newton default)
    val (mEpoch, jobsEpoch) = countJobs(
      TextOps.lrTrain(train, "y", dim = 64, epochs = 30, rate = 0.5, l2 = 1e-4))
    val (mNewton, jobsNewton) = countJobs(
      TextOps.lrTrainNewton(train, "y", dim = 64, iters = 10, l2 = 1e-4))
    val (aE, aN) = (acc(mEpoch), acc(mNewton))
    info(s"held-out acc: epochs=$aE newton=$aN; jobs: epochs=$jobsEpoch newton=$jobsNewton")
    assert(aN >= aE - 1e-12,
      s"Newton held-out accuracy $aN worse than epoch trainer $aE")
    assert(jobsNewton < jobsEpoch,
      s"Newton ran $jobsNewton Spark jobs, epoch trainer $jobsEpoch — the law is STRICTLY fewer")
    // identical published format: integer micro-unit map, zero weights
    // dropped, same dim — a caller can swap trainers under lrScore and
    // the publish path untouched
    assert(mNewton.dim == mEpoch.dim)
    assert(mNewton.qWeights.values.forall(_ != 0L))
    val sc = TextOps.lrScore(heldOut, mNewton, "doc_id", "text").head()
    assert(!sc.isNullAt(1) && !sc.isNullAt(2))
  }

  test("containmentPairs: wrapper contains the embedded doc, not vice versa; exact dups both ways") {
    val short = (1 to 30).map(i => s"core$i").mkString(" ")
    val long = (1 to 15).map(i => s"pre$i").mkString(" ") + " " + short + " " +
      (1 to 15).map(i => s"post$i").mkString(" ")
    val d = docs(
      (1, short), (2, long), (4, short),
      (3, "completely different text about unrelated topics entirely elsewhere"))
    val pairs = Dedup.containmentPairs(d, tau = 0.7, maxDf = 100)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(4)).toMap
    // the long doc contains the short one; the short doc does NOT contain
    // the long one (asymmetry is the point)
    assert(pairs.contains((2, 1)) && pairs((2, 1)) >= 0.7)
    assert(!pairs.contains((1, 2)))
    // exact duplicates contain each other fully
    assert(pairs((1, 4)) == 1.0 && pairs((4, 1)) == 1.0)
    // doc 3 shares nothing
    assert(!pairs.keys.exists { case (a, b) => a == 3 || b == 3 })
    // stop-fingerprint bound: maxDf below any sharing level kills all pairs
    assert(Dedup.containmentPairs(d, tau = 0.1, maxDf = 1).count() == 0)
  }

  test("continuous-crawl loop: band index appended per batch == any-earlier-dup semantics") {
    // the steady-state shape every incremental op is built for, run END TO
    // END: three arriving batches, the LSH band index appended after each,
    // survivors screened against everything ingested earlier. Law: a doc
    // survives iff no EARLIER-batch doc estimates >= threshold against it
    // (in-batch dups are a separate pass by convention) — computed
    // independently from the pairwise relation over the concatenation.
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val r = new scala.util.Random(13)
    def fresh(n: Int) = (1 to n).map(_ =>
      (1 to 12).map(_ => vocab(r.nextInt(vocab.size))).mkString(" "))
    // batch b occupies ids [b*100, ...): id order encodes arrival order
    val texts0 = fresh(6)
    val texts1 = fresh(4) ++ Seq(texts0(0), texts0(2))            // 2 cross-dups of batch 0
    val texts2 = fresh(3) ++ Seq(texts1(0), texts0(1), texts0(3)) // dups of batches 0 and 1
    val batches = Seq(texts0, texts1, texts2).zipWithIndex.map { case (ts, b) =>
      docs(ts.zipWithIndex.map { case (t, i) => (b * 100 + i, t) }: _*)
    }
    // the loop: screen against the index of everything earlier, then append
    var index: org.apache.spark.sql.DataFrame = null
    val survived = scala.collection.mutable.Set[Int]()
    batches.foreach { batch =>
      val out =
        if (index == null) batch
        else Dedup.minhashIncremental(batch, index, threshold = 0.5)
      survived ++= out.select("doc_id").collect().map(_.getInt(0))
      val bands = Dedup.minhashBands(batch)
        .select(col("doc_id"), col("sig"), col("band_idx"), col("band_hash"))
      index = if (index == null) bands else index.unionByName(bands)
    }
    // independent truth from the pairwise relation over the concatenation
    val all = batches.reduce(_ unionByName _)
    val dropped = Dedup.minhashPairs(all)
      .where(col("est_jaccard") >= 0.5)
      .collect().map(x => (x.getInt(0), x.getInt(1)))
      .collect { case (a, b) if a / 100 < b / 100 => b } // earlier batch kills later doc
      .toSet
    val expected = batches.flatMap(_.select("doc_id").collect().map(_.getInt(0))).toSet -- dropped
    assert(survived.toSet == expected,
      s"loop survivors diverged: extra=${survived.toSet -- expected} missing=${expected -- survived}")
    // the planted cross-batch dups really were screened out
    assert(dropped.nonEmpty, "fixture should contain cross-batch duplicates")
  }

  test("simhashIncremental agreement law: survivors = batch minus cross near-dups") {
    // survivors of the incremental pass must equal the batch minus every
    // doc that simhashPairs (over the union) pairs with an INDEX doc —
    // same hash, same blocks, same hamming screen
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = docs(
      (2, base),
      (4, base + " extra"),                                  // near doc 2
      (6, "completely unrelated legal boilerplate paragraph about contract law"))
    val batch = docs(
      (1, base),                                             // dup of indexed 2
      (3, "totally fresh content about astronomy and telescopes and galaxies"),
      (5, base + " extra"))                                  // dup of indexed 4
    val survivors = Dedup.simhashIncremental(batch, Dedup.simhashFrame(corpus))
      .select("doc_id").collect().map(_.getInt(0)).toSet
    val crossDup = Dedup.simhashPairs(corpus.unionByName(batch))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
      .flatMap { case (a, b) =>
        Seq(a, b).filter(id => (id % 2 == 1) &&
          Seq(a, b).exists(o => o % 2 == 0)) // batch ids paired with an index id
      }.toSet
    assert(survivors == Set(1, 3, 5) -- crossDup)
    assert(!survivors.contains(1) && !survivors.contains(5) && survivors.contains(3))
    // empty index: everything survives
    assert(Dedup.simhashIncremental(batch, Dedup.simhashFrame(corpus.limit(0))).count() == 3)
  }

  test("containmentIncremental agreement law: equals the pairwise relation's cross pairs") {
    // corpus (the persisted index side) + a batch of wrappers/duplicates;
    // the incremental result must equal the full pairwise relation over
    // corpus ∪ batch restricted to cross pairs (one side in each set),
    // for ANY tau/maxDf — same kernel, same df universe, same ratios
    val core = (1 to 25).map(i => s"core$i").mkString(" ")
    val other = (1 to 25).map(i => s"other$i").mkString(" ")
    val corpus = docs(
      (1, core), (2, other),
      (3, "chrome before " + other + " chrome after"),
      (4, (1 to 25).map(i => s"noise$i").mkString(" ")))
    val batch = docs(
      (101, "intro words here " + core + " trailing remarks"), // wraps corpus doc 1
      (102, core),                                             // exact dup of corpus doc 1
      (103, other.split(" ").take(12).mkString(" ")),          // embedded IN corpus docs 2,3
      (104, "entirely disjoint fresh material nothing shared with anything"))
    for ((tau, maxDf) <- Seq((0.7, 100), (0.5, 100), (0.7, 3))) {
      val full = Dedup.containmentPairs(corpus.unionByName(batch), tau = tau, maxDf = maxDf)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .filter { case (a, b, _, _, _) => (a > 100) != (b > 100) }.sortBy(t => (t._1, t._2))
      val inc = Dedup.containmentIncremental(
          batch, Dedup.winnowFingerprints(corpus), tau = tau, maxDf = maxDf)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .sortBy(t => (t._1, t._2))
      assert(inc.toSeq == full.toSeq, s"tau=$tau maxDf=$maxDf")
    }
    // and the expected pairs are actually present at the default knobs
    val got = Dedup.containmentIncremental(batch, Dedup.winnowFingerprints(corpus))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got.contains((101, 1)), "wrapper batch doc should contain corpus doc 1")
    assert(got.contains((2, 103)), "corpus doc 2 should contain the embedded batch doc")
    assert(!got.exists { case (a, b) => a == 104 || b == 104 })
    // the persisted (fingerprint, df) side table gives identical results
    val idx = Dedup.winnowFingerprints(corpus)
    val sideDf = idx.groupBy("fingerprint").agg(count(lit(1)).as("df"))
    val viaSide = Dedup.containmentIncremental(batch, idx, indexDf = sideDf)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(viaSide == got, "precomputed index df table diverged from recompute")
  }

  test("pmiBigrams: hand-computed PMI, minCount screen, single-token docs carry no pairs") {
    import graft.operators.TextOps
    // bigrams: doc1 (a,b) (b,a) (a,b); doc2 (a,b) (b,c); doc3 none
    val d = docs((1, "a b a b"), (2, "a b c"), (3, "solo"))
    val out = TextOps.pmiBigrams(d, minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // counts: c(a,b)=3; unigrams a=3 b=3 c=1 solo=1 -> nu=8; nb=5
    val expected = BigDecimal(math.log((3.0 * 8.0 * 8.0) / (5.0 * 3.0 * 3.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.toSeq == Seq(("a", "b", 3L, expected)))
    // below the screen nothing survives
    assert(TextOps.pmiBigrams(d, minCount = 4).count() == 0)
  }

  test("sketchOverlap: exact set algebra when sketches are exhaustive, sane estimates when not") {
    import graft.operators.Profile
    // A = 1..100, B = 51..150: |A|=|B|=100, |A∪B|=150, |A∩B|=50, J=1/3
    val df = ((1 to 100).map(("a", _)) ++ (51 to 150).map(("b", _))).toDF("src", "v")
    // k above every cardinality -> the exact branch end-to-end
    val ex = Profile.sketchOverlap(df, "v", "src", k = 512).head()
    assert(ex.getAs[String]("source_a") == "a" && ex.getAs[String]("source_b") == "b")
    assert(ex.getAs[Double]("est_a") == 100.0 && ex.getAs[Double]("est_b") == 100.0)
    assert(ex.getAs[Double]("est_union") == 150.0 && ex.getAs[Double]("est_inter") == 50.0)
    assert(math.abs(ex.getAs[Double]("jaccard_est") - 1.0 / 3.0) < 1e-6)
    // k below the union size -> estimator branch; ~1/sqrt(k) error, loose bounds
    val es = Profile.sketchOverlap(df, "v", "src", k = 64).head()
    assert(math.abs(es.getAs[Double]("est_union") - 150.0) < 60.0)
    assert(math.abs(es.getAs[Double]("est_inter") - 50.0) < 40.0)
    // disjoint sources: intersection and jaccard pin to 0 exactly (exact branch)
    val dj = Profile.sketchOverlap(
      ((1 to 20).map(("a", _)) ++ (100 to 120).map(("b", _))).toDF("src", "v"),
      "v", "src", k = 128).head()
    assert(dj.getAs[Double]("est_inter") == 0.0 && dj.getAs[Double]("jaccard_est") == 0.0)
  }

  test("stripBoilerplate: shared lines removed at threshold, order kept, unique lines survive") {
    import graft.operators.TextOps
    // "HEADER" in 3 docs, "footer x" in 2, bodies unique; minDocs = 3
    val d = docs(
      (1, "HEADER\nbody one\nfooter x"),
      (2, " HEADER \nbody two has words\nfooter x"),
      (3, "HEADER\nbody three"),
      (4, "body four\n\n   \nlast line four"))
    val out = TextOps.stripBoilerplate(d, minDocs = 3)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_lines", "n_removed")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3)))
    // threshold: HEADER (3 docs, trimmed match) stripped; footer x (2 docs) kept
    assert(out(0) == ((1, "body one\nfooter x", 3, 1)))
    assert(out(1) == ((2, "body two has words\nfooter x", 3, 1)))
    assert(out(2) == ((3, "body three", 2, 1)))
    // no boilerplate in doc 4; whitespace-only lines drop in canonical form
    assert(out(3) == ((4, "body four\nlast line four", 2, 0)))
    // empty boilerplate set (threshold above any count): text only canonicalized
    val none = TextOps.stripBoilerplate(d, minDocs = 4)
      .agg(sum(col("n_removed"))).head().getLong(0)
    assert(none == 0L)
    // a doc that is ALL boilerplate strips to the empty string
    val all = TextOps.stripBoilerplate(docs((1, "x\ny"), (2, "x\ny"), (3, "x\nz")), minDocs = 2)
      .orderBy("doc_id").select("clean_text").collect().map(_.getString(0))
    assert(all.toSeq == Seq("", "", "z"))
  }

  test("curriculumShards: shards fill in bin order, bounded overflow, layout-invariant") {
    import graft.operators.Sampling
    val docs = (1 to 80).map(i => (i.toLong, i.toDouble, 10L)).toDF("doc_id", "score", "tk")
    val out = Sampling.curriculumShards(docs, "score", "tk", shardTokens = 100L, nBins = 4)
      .select("doc_id", "bin", "shard_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // bins are the score quartiles: 20 docs each
    assert(out.groupBy(_._2).view.mapValues(_.size).toMap == Map(0 -> 20, 1 -> 20, 2 -> 20, 3 -> 20))
    // consumption order is bin-major: a lower bin never lands in a later
    // shard than any higher bin's earliest shard
    (0 until 3).foreach { b =>
      val maxLow = out.filter(_._2 == b).map(_._3).max
      val minHigh = out.filter(_._2 == b + 1).map(_._3).min
      assert(maxLow <= minHigh, s"bin $b spills past bin ${b + 1}")
    }
    // exact packing: 10-token docs into 100-token shards -> 10 docs/shard
    assert(out.groupBy(_._3).forall(_._2.size == 10))
    // physical layout must not move a single assignment
    val out2 = Sampling.curriculumShards(
      docs.repartition(7), "score", "tk", shardTokens = 100L, nBins = 4)
      .select("doc_id", "bin", "shard_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(out2.sortBy(_._1) == out.sortBy(_._1))
  }

  test("diffCorpora classifies add/remove/change; pruned two-level diff equals the full one") {
    import graft.operators.Layout
    val old = Seq(
      (1L, "s1", "alpha"), (2L, "s1", "beta"), (3L, "s2", "gamma"), (4L, "s3", "delta"))
      .toDF("doc_id", "shard", "text")
    val nw = Seq(
      (1L, "s1", "alpha"),      // unchanged
      (2L, "s1", "beta EDIT"),  // changed
      // 3 removed
      (4L, "s3", "delta"),      // unchanged shard s3
      (5L, "s2", "epsilon"))    // added
      .toDF("doc_id", "shard", "text")
    val full = Layout.diffCorpora(old, nw, "doc_id", Seq("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(full == Set((2L, "changed"), (3L, "removed"), (5L, "added")))
    val pruned = Layout.diffCorporaPruned(old, nw, "shard", "doc_id", Seq("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pruned == full)
    // identical versions: manifests agree everywhere, diff is empty
    assert(Layout.diffCorporaPruned(old, old, "shard", "doc_id", Seq("text")).count() == 0)
    // a same-count shard edit still trips its checksum (content, not size)
    val edit = old.withColumn(
      "text", when(col("doc_id") === 4, lit("DELTA")).otherwise(col("text")))
    assert(Layout.diffCorporaPruned(old, edit, "shard", "doc_id", Seq("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((4L, "changed")))
  }

  test("embeddingOutliers: the p-quantile tail of own-centroid cosine, nothing above it") {
    import graft.operators.{Profile, Similarity}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val out = Similarity.embeddingOutliers(emb, k = 4, iters = 2, p = 0.1, sampleK = 256)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val cents = Similarity.kmeansCentroids(emb, k = 4, iters = 2)
    val scored = Similarity.kmeansScores(emb, cents)
    val thr = Profile.sampleQuantiles(scored, "score", col("vec_id"), k = 256, ps = Seq(0.1))
      .head().getDouble(1)
    val n = scored.count()
    // flagged set == exactly the rows at/below the sketch threshold
    assert(out.nonEmpty && out.length < n)
    assert(out.forall(_._2 <= thr), s"thr=$thr worst=${out.maxBy(_._2)}")
    assert(scored.where(col("score") <= thr).count() == out.length)
  }

  test("distributionDrift: zero PSI vs itself, positive under shift, clamps empty bins") {
    import graft.operators.Profile
    // ref spans 1..40 uniformly; "same" mirrors it; "hi" sits entirely in
    // the top bin (three empty bins exercise the eps clamp)
    val rows =
      (1 to 40).map(i => ("ref", i.toDouble)) ++
      (1 to 40).map(i => ("same", i.toDouble)) ++
      (1 to 40).map(_ => ("hi", 1000.0))
    val df = rows.toDF("source", "v")
    val out = Profile.distributionDrift(df, "v", "source", refSource = "ref", nBins = 4)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(3), r.getDouble(5)))
    val bySource = out.groupBy(_._1)
    // identical distributions -> every per-bin term 0, total 0
    assert(bySource("ref").forall(_._4 == 0.0))
    assert(bySource("same").forall(_._4 == 0.0))
    // the shifted source drifts hard: empty bins clamp to eps (p_src 1e-6
    // rounds to 0.000001), the hit bin holds all mass
    val hi = bySource("hi").sortBy(_._2)
    assert(hi.map(_._3).toSeq == Seq(1.0e-6, 1.0e-6, 1.0e-6, 1.0))
    assert(hi.head._4 > 0.25, s"psi=${hi.head._4}") // well past the 'real shift' bar
    // every source covers every bin (scaffold, not just observed cells)
    assert(out.length == 12)
  }

  test("decontaminateNearDup drops near-copies of benchmark docs, keeps the rest") {
    import graft.operators.Dedup
    val benchText = "the quick brown fox jumps over the lazy dog again and again today"
    val bench = docs((100, benchText))
    val corpus = docs(
      (1, benchText),                                        // exact copy -> drop
      (2, benchText + " extra"),                             // near copy -> drop
      (3, "completely unrelated content about spark plans and shuffles here"))
    val survivors = Dedup.decontaminateNearDup(corpus, bench)
      .select("doc_id").collect().map(_.getInt(0)).toSeq
    assert(survivors == Seq(3), s"survivors=$survivors")
    // with an empty benchmark nothing is dropped
    val all = Dedup.decontaminateNearDup(corpus, bench.where(lit(false)))
    assert(all.count() == 3)
  }

  test("bloomJoin equals the plain join; empty dim yields empty; outer types refuse") {
    import graft.operators.Layout
    val fact = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val dim = spark.read.parquet(s"$sfDir/orders.parquet")
      .where(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("l_orderkey", "l_quantity").collect().toSeq
    val plain = fact.join(dim, Seq("l_orderkey"), "inner")
      .select("l_orderkey", "l_quantity")
    val bloomed = Layout.bloomJoin(fact, dim, "l_orderkey")
      .select("l_orderkey", "l_quantity")
    assert(key(bloomed) == key(plain) && plain.count() > 0)
    val semi = Layout.bloomJoin(fact, dim, "l_orderkey", joinType = "left_semi")
    assert(semi.count() == fact.join(dim, Seq("l_orderkey"), "left_semi").count())
    assert(Layout.bloomJoin(fact, dim.where(lit(false)), "l_orderkey").count() == 0)
    intercept[IllegalArgumentException] {
      Layout.bloomJoin(fact, dim, "l_orderkey", joinType = "left_outer")
    }
  }

  test("tokenBudgetSample equals the naive cumulative window and fills the budget") {
    import graft.operators.Sampling
    // Zipfian strata with varied token masses, including zero-token rows
    val rows = (0 until 3000).map { i =>
      val lang = if (i % 10 < 7) "en" else if (i % 10 < 9) "de" else "fr"
      val toks = if (i % 53 == 0) 0L else (i % 37 + 1).toLong
      (s"d$i", lang, toks)
    }
    val d = rows.toDF("doc_id", "lang", "n_tokens")
    val naiveW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(Sampling.uniformDraw(col("doc_id"), "s0"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    def naive(budget: Long): Set[String] = d
      .withColumn("__b", coalesce(sum(col("n_tokens")).over(naiveW), lit(0L)))
      .where(col("__b") < budget)
      .collect().map(_.getString(0)).toSet
    def got(budget: Long): Set[String] = Sampling
      .tokenBudgetSample(d, "doc_id", "lang", "n_tokens", budget)
      .collect().map(_.getString(0)).toSet
    for (budget <- Seq(0L, 1L, 500L, 5000L, 10000000L)) {
      assert(got(budget) == naive(budget), s"budget $budget diverged from the naive window")
    }
    // budget 0 keeps nothing; huge budget keeps everything (incl. 0-token rows)
    assert(got(0L).isEmpty)
    assert(got(10000000L).size == rows.size)
    // the kept mass reaches the budget and overshoots by at most one doc
    val budget = 500L
    val kept = Sampling.tokenBudgetSample(d, "doc_id", "lang", "n_tokens", budget)
    val perStratum = kept.groupBy("lang")
      .agg(sum(col("n_tokens")).as("m"), max(col("n_tokens")).as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    perStratum.foreach { case (lang, m, mx) =>
      assert(m >= budget, s"$lang under-filled: $m < $budget")
      assert(m - mx < budget, s"$lang overshot by more than one doc: $m")
    }
    // selection is a prefix family: kept(B1) subset of kept(B2) for B1 <= B2
    assert(got(500L).subsetOf(got(5000L)))
    // layout-independent
    assert(got(500L) ==
      Sampling.tokenBudgetSample(d.repartition(13), "doc_id", "lang", "n_tokens", 500L)
        .collect().map(_.getString(0)).toSet)
  }

  test("tokenBudgetSample keeps whole strata whose mass is below the budget") {
    import graft.operators.Sampling
    val d = Seq(
      ("a1", "tiny", 3L), ("a2", "tiny", 0L), ("a3", "tiny", 2L), // mass 5 < 100
      ("b1", "big", 80L), ("b2", "big", 80L), ("b3", "big", 80L)  // mass 240 > 100
    ).toDF("doc_id", "lang", "n_tokens")
    val kept = Sampling.tokenBudgetSample(d, "doc_id", "lang", "n_tokens", 100L)
      .collect().map(r => (r.getString(0), r.getString(1)))
    // tiny: every row survives, zero-token row included
    assert(kept.count(_._2 == "tiny") == 3)
    // big: the cut crosses at the second doc (before-mass 160 >= 100 at the third)
    assert(kept.count(_._2 == "big") == 2)
  }

  test("chunkNovelty applies first-copy accounting over CDC chunks") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten"
    val d = Seq(
      (1, base),                       // first copy: fully novel
      (2, base),                       // exact re-crawl: zero novelty
      (3, "totally different words entirely unrelated content stream " +
        "red orange yellow green blue indigo violet black white gray"),
      (4, base + " fresh trailing tokens appended after the shared body")
    ).toDF("doc_id", "text")
    val r = Dedup.chunkNovelty(d, divisor = 4)
      .collect().map(x => x.getInt(0) -> x).toMap
    assert(r(1).getAs[Double]("novelty") == 1.0)
    assert(r(2).getAs[Double]("novelty") == 0.0)
    assert(r(3).getAs[Double]("novelty") == 1.0)
    // CDC resync: the edited re-crawl shares every untouched chunk
    val n4 = r(4).getAs[Double]("novelty")
    assert(n4 > 0.0 && n4 < 1.0, s"partial overlap must land strictly inside (0,1): $n4")
    // first-copy accounting: novel mass == distinct-chunk token mass
    val novelSum = r.values.map(_.getAs[Long]("novel_tokens")).sum
    val distinctMass = graft.operators.TextOps.cdcChunk(d, divisor = 4)
      .select(md5(col("chunk_text")).as("h"), col("n_tokens"))
      .groupBy("h").agg(first("n_tokens").as("t"))
      .agg(sum(col("t").cast("long"))).head().getLong(0)
    assert(novelSum == distinctMass)
    // layout-independent (owner pick is a deterministic min, not a race)
    val r13 = Dedup.chunkNovelty(d.repartition(13), divisor = 4)
      .collect().map(x => x.getInt(0) -> x.getAs[Double]("novelty")).toMap
    assert(r.keys.forall(k => r13(k) == r(k).getAs[Double]("novelty")))
  }

  test("chunkNoveltyAgainst: id-ordered batch fold equals the whole-corpus pass") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val d = Seq(
      (1, base), (2, base),
      (3, "totally different words entirely unrelated content stream " +
        "red orange yellow green blue indigo violet black white gray"),
      (4, base + " fresh trailing tokens appended after the shared body"),
      (5, base), (6, "more unseen vocabulary arriving very late in the fold"))
      .toDF("doc_id", "text")
    // three id-ordered batches: {1,2}, {3,4}, {5,6}
    val batches = Seq(
      d.where(col("doc_id") <= 2),
      d.where(col("doc_id") > 2 && col("doc_id") <= 4),
      d.where(col("doc_id") > 4))
    var store = Dedup.chunkOwners(Dedup.chunkHashes(d.where(lit(false)), divisor = 4))
    val folded = batches.map { b =>
      val ch = Dedup.chunkHashes(b, divisor = 4).localCheckpoint()
      val r = Dedup.chunkNoveltyAgainst(ch, store)
      store = store.unionByName(Dedup.chunkOwners(ch))
      r
    }.reduce(_ unionByName _)
    val asMap = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(asMap(folded) == asMap(Dedup.chunkNovelty(d, divisor = 4)))
    // doc 5 is an exact re-crawl of batch-1 content: zero novel against the store
    assert(asMap(folded)(5)._2 == 0L)
    // mergeable owners: pairwise merge equals whole-corpus ownership
    val whole = Dedup.chunkOwners(Dedup.chunkHashes(d, divisor = 4))
    val merged = batches
      .map(b => Dedup.chunkOwners(Dedup.chunkHashes(b, divisor = 4)))
      .reduce(Dedup.chunkMergeOwners)
    val ownMap = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(x => x.getString(0) -> x.getStruct(1).toString).toMap
    assert(ownMap(merged) == ownMap(whole))
  }

  test("gopherRepetitionReport matches hand-computed battery values") {
    val d = Seq(
      (1, "a b a b a b"),                   // top2 = 3*3/11, no dup-5
      (2, "x y z w v x y z w v q"),         // dup-5 covers 10 of 11 tokens
      (3, "a a a a a a"),                    // overlap: dup5 = 1.0, top2 capped at 1.0
      (4, "short")                           // 1 token: all zeros
    ).toDF("doc_id", "text")
    val r = TextOps.gopherRepetitionReport(d)
      .collect().map(x => x.getInt(0) -> x).toMap
    assert(r(1).getAs[Double]("top2gram_frac") == math.rint(9.0 / 11.0 * 1e6) / 1e6)
    assert(r(1).getAs[Double]("dup5gram_frac") == 0.0)
    assert(r(2).getAs[Double]("dup5gram_frac") == math.rint(10.0 / 11.0 * 1e6) / 1e6)
    assert(r(3).getAs[Double]("dup5gram_frac") == 1.0)
    assert(r(3).getAs[Double]("top2gram_frac") == 1.0) // 5*3/11 caps at 1.0
    assert((2 to 4).forall(n => r(4).getAs[Double](s"top${n}gram_frac") == 0.0))
    assert((5 to 10).forall(n => r(4).getAs[Double](s"dup${n}gram_frac") == 0.0))
    // every doc reports, schema carries the full battery
    assert(r.size == 4)
    val battery = (2 to 4).map(n => s"top${n}gram_frac") ++ (5 to 10).map(n => s"dup${n}gram_frac")
    val cols = TextOps.gopherRepetitionReport(d).columns.toSet
    assert(battery.forall(cols.contains))
    // published-threshold filter: doc 3 rejects on the FIRST failing metric
    val f = TextOps.gopherRepetitionFilter(TextOps.gopherRepetitionReport(d))
      .collect().map(x => x.getInt(0) -> ((x.getString(1), x.getInt(2)))).toMap
    assert(f(3) == (("top2gram_frac", 0)))
    assert(f(4) == ((null, 1)))
    assert(f(1)._2 == 0) // 0.818 > 0.20 ceiling
  }

  test("dedupLines: first occurrence owns a line, later copies drop, empty keys escape") {
    import graft.operators.TextOps
    val d = docs(
      (1, "Shared header\nbody one\n123 !!"),
      (2, "Shared header\nSHARED   HEADER\nbody two\n123 !!"),
      (3, "shared header 99\nbody three"),
      (4, "body one"))
    val out = TextOps.dedupLines(d).orderBy("doc_id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getLong(3)))
    // doc 1 owns "Shared header" and "body one"; its digits line always survives
    assert(out(0) == ((1, "Shared header\nbody one\n123 !!", 3, 0L)))
    // doc 2: both header variants normalize to doc 1's key (case + whitespace
    // + digit folding) and drop — including the SECOND variant in the same doc
    assert(out(1) == ((2, "body two\n123 !!", 4, 2L)))
    // doc 3's "shared header 99" also folds into the same key (digits strip)
    assert(out(2) == ((3, "body three", 2, 1L)))
    // doc 4 repeats doc 1's body verbatim -> loses its only line
    assert(out(3) == ((4, "", 1, 1L)))
    // conservation law: each distinct dedupable key survives EXACTLY once
    val keys = d.select(explode(split(col("text"), "\n")).as("l"))
      .select(lower(regexp_replace(trim(col("l")), "[^\\p{L}]+", "")).as("k"))
      .where(length(col("k")) > 0).distinct().count()
    val keptDedupable = TextOps.dedupLines(d)
      .select(explode(split(col("clean_text"), "\n")).as("l"))
      .where(length(trim(col("l"))) > 0)
      .select(lower(regexp_replace(trim(col("l")), "[^\\p{L}]+", "")).as("k"))
      .where(length(col("k")) > 0).count()
    assert(keys == keptDedupable)
    // raw mode: the case variant survives as its own line, but the digits
    // line is now dedupable (no empty-key escape) so doc 2 loses two lines
    val raw = TextOps.dedupLines(d, normalizeKeys = false).orderBy("doc_id")
      .collect().map(r => (r.getInt(0), r.getLong(3)))
    assert(raw.toSeq == Seq((1, 0L), (2, 2L), (3, 0L), (4, 1L)))
    // layout invariance: ownership is a total order, not a partition accident
    val a = TextOps.dedupLines(d).orderBy("doc_id").collect().toSeq
    val b = TextOps.dedupLines(d.repartition(13)).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("pcaFit: hand-computed axis-aligned case, sign pin, skip-null contract") {
    import graft.operators.Similarity
    // axis-aligned rectangle: mean (1,2); sample cov diag(4/3, 16/3);
    // first axis = y (larger variance), both sign-pinned positive
    val base = Seq(
      (1L, Array(0f, 0f)), (2L, Array(2f, 0f)),
      (3L, Array(0f, 4f)), (4L, Array(2f, 4f)))
    val df = base.toDF("vec_id", "embedding")
    val m = Similarity.pcaFit(df, "embedding", 2)
    assert(m.n == 4L)
    assert(m.mean.toSeq.map(x => math.rint(x * 1e9) / 1e9) == Seq(1.0, 2.0))
    assert(math.abs(m.explainedVariance(0) - 16.0 / 3) < 1e-9)
    assert(math.abs(m.explainedVariance(1) - 4.0 / 3) < 1e-9)
    assert(m.components(0).toSeq.map(x => math.rint(x * 1e9) / 1e9) == Seq(0.0, 1.0))
    assert(m.components(1).toSeq.map(x => math.rint(x * 1e9) / 1e9) == Seq(1.0, 0.0))
    // projection of (0,0): centered (-1,-2) -> [-2, -1]
    val p = Similarity.pcaProject(df, m, 2).orderBy("vec_id")
      .select("pca").head().getSeq[Double](0)
    assert(p.map(x => math.rint(x * 1e9) / 1e9) == Seq(-2.0, -1.0))
    // NULL and wrong-length vectors are skipped, not poison
    val dirty = df.unionByName(Seq(
      (5L, null.asInstanceOf[Array[Float]]),
      (6L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding"))
    val md = Similarity.pcaFit(dirty, "embedding", 2)
    assert(md.n == 4L && md.mean.toSeq == m.mean.toSeq)
    // a NULL ELEMENT inside a right-length vector is skipped too —
    // ArrayData.getDouble on a null slot would silently read 0.0 and bias
    // the mean/covariance instead of honoring the skip-null convention
    val nullElem = Seq(Tuple1(7L)).toDF("vec_id")
      .withColumn("embedding",
        expr("array(cast(1.0 as float), cast(null as float))"))
    val md2 = Similarity.pcaFit(
      dirty.unionByName(nullElem.select("vec_id", "embedding")), "embedding", 2)
    assert(md2.n == 4L && md2.mean.toSeq == m.mean.toSeq,
      "row with a null vector ELEMENT must be skipped, not read as 0.0")
  }

  test("pcaFit laws on real embeddings: orthonormal basis, eigen residual, variance match") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dim = 64
    val m = Similarity.pcaFit(emb, "embedding", dim)
    def dotv(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    // orthonormal rows
    for (i <- 0 until dim; j <- i until dim) {
      val d = dotv(m.components(i), m.components(j))
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9, s"<v$i,v$j> = $d")
    }
    // descending spectrum; trace preserved
    assert(m.explainedVariance.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    val covRows = Similarity.pcaCovariance(emb, "embedding", dim)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(4))).toMap
    def cv(i: Int, j: Int): Double = covRows(if (i <= j) (i, j) else (j, i))
    val trace = (0 until dim).map(i => cv(i, i)).sum
    assert(math.abs(m.explainedVariance.sum - trace) < 1e-9)
    // C v = lambda v for the top axis
    val v0 = m.components(0)
    val res = (0 until dim).map { r =>
      math.abs((0 until dim).map(c => cv(r, c) * v0(c)).sum - m.explainedVariance(0) * v0(r))
    }.max
    assert(res < 1e-9, s"eigen residual $res")
    // projection variance == eigenvalue; whitening normalizes it to 1
    val proj = Similarity.pcaProject(emb, m, 3)
    val vs = proj.select((0 until 3).map(i => expr(s"var_samp(pca[$i])").as(s"v$i")): _*).head()
    for (i <- 0 until 3)
      assert(math.abs(vs.getDouble(i) - m.explainedVariance(i)) < 1e-9)
    val ws = Similarity.pcaProject(emb, m, 3, whiten = true)
      .select((0 until 3).map(i => expr(s"var_samp(pca[$i])").as(s"v$i")): _*).head()
    for (i <- 0 until 3) assert(math.abs(ws.getDouble(i) - 1.0) < 1e-9)
    // full-rank projection reconstructs exactly (rotation loses nothing)
    val rec = Similarity.pcaProject(emb, m, dim)
      .select(col("embedding"), col("pca")).collect().map { r =>
        val x = r.getSeq[Float](0).map(_.toDouble)
        val p = r.getSeq[Double](1)
        (0 until dim).map { c =>
          math.abs(m.mean(c) + (0 until dim).map(k => m.components(k)(c) * p(k)).sum - x(c))
        }.max
      }.max
    assert(rec < 1e-6, s"reconstruction error $rec")
    // partitioning cannot move the fit (deterministic up to fp-merge noise)
    val m13 = Similarity.pcaFit(emb.repartition(13), "embedding", dim)
    val cd = m.components.zip(m13.components)
      .map { case (a, b) => a.zip(b).map { case (x, y) => math.abs(x - y) }.max }.max
    assert(cd < 1e-9, s"layout moved components by $cd")
  }

  test("tokenizerFertility: hand-computed subword load per language, zero-token guard") {
    import graft.operators.TextOps
    val d = Seq(
      // en: "don't stop" -> ws 2; bpe: don,',t,stop = 4; chars 10
      (1, "en", "don't stop"),
      // en: "a b" -> ws 2, bpe 2, chars 3
      (2, "en", "a b"),
      // xx: empty text -> zero everything, both ratios NULL-guarded
      (3, "xx", "")).toDF("doc_id", "lang", "text")
    val r = TextOps.tokenizerFertility(d).orderBy("lang").collect()
    val en = r(0)
    assert(en.getString(0) == "en" && en.getLong(1) == 2L)
    assert(en.getLong(2) == 4L && en.getLong(3) == 6L && en.getLong(4) == 13L)
    assert(en.getAs[Double]("fertility") == 1.5) // 6 bpe / 4 ws
    assert(en.getAs[Double]("chars_per_token") == math.rint(13.0 / 6 * 1e6) / 1e6)
    val xx = r(1)
    assert(xx.getString(0) == "xx" && xx.getLong(2) == 0L && xx.getLong(3) == 0L)
    assert(xx.isNullAt(5), "zero ws tokens -> fertility NULL, not a division error")
    assert(xx.isNullAt(6), "zero subword tokens -> chars_per_token NULL")
  }

  test("incremental PCA: merged batch moments finalize to the whole-corpus fit") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val whole = Similarity.pcaFit(emb, "embedding", 64)
    val batches = Seq(0, 1, 2).map(r =>
      Similarity.pcaMoments(emb.where(col("vec_id") % 3 === r), "embedding", 64))
    val inc = Similarity.pcaFromMoments(batches.reduce(Similarity.pcaMergeMoments(_, _)))
    assert(inc.n == whole.n)
    val md = inc.mean.zip(whole.mean).map { case (a, b) => math.abs(a - b) }.max
    assert(md < 1e-12, s"mean moved $md")
    val cd = inc.components.zip(whole.components)
      .map { case (a, b) => a.zip(b).map { case (x, y) => math.abs(x - y) }.max }.max
    assert(cd < 1e-9, s"components moved $cd")
    // dim mismatch between moments rows fails loudly, never misaligns
    val m32 = Similarity.pcaMoments(
      Similarity.truncateDims(emb, 32), "embedding", 32)
    val ex = intercept[Exception] {
      Similarity.pcaMergeMoments(batches.head, m32).collect()
    }
    assert(ex.getMessage.contains("dim mismatch"), ex.getMessage)
  }

  test("PCA-reduced search: measured recall beats naive truncation at equal dims") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val m = Similarity.pcaFit(emb, "embedding", 64)
    val d = 32
    def toSearchSpace(df: org.apache.spark.sql.DataFrame) =
      Similarity.pcaProject(df, m, d).drop("embedding")
        .withColumnRenamed("pca", "embedding")
    val probes = emb.where(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(emb, probes, k = 5)
    def recallOf(corpus: org.apache.spark.sql.DataFrame, p: org.apache.spark.sql.DataFrame) =
      Similarity.recallAtK(Similarity.bruteForceTopK(corpus, p, k = 5), truth, 5)
        .agg(avg(col("recall"))).head().getDouble(0)
    val pcaRecall = recallOf(toSearchSpace(emb), toSearchSpace(probes))
    val truncRecall = recallOf(
      Similarity.truncateDims(emb, d), Similarity.truncateDims(probes, d))
    // the learned rotation packs variance into the kept dims; blind
    // truncation keeps whatever happened to come first (measured on this
    // corpus: pca 0.48 vs trunc 0.24 at d=32 — margins pinned well inside)
    assert(pcaRecall >= truncRecall + 0.1,
      s"pca@$d recall $pcaRecall should clear truncation $truncRecall")
    assert(pcaRecall > 0.4, s"pca@$d recall $pcaRecall unusably low")
  }

  test("partitionAgreement: hand-computed ARI/purity, identity, chance, degenerate cases") {
    import graft.operators.Similarity
    // clusters (1,1,2,2,3,3) vs labels (a,a,a,b,b,b):
    // contingency c1={a:2} c2={a:1,b:1} c3={b:2}; sum_ij=2, sum_a=3,
    // sum_b=6, C(6,2)=15 -> ARI=(2-1.2)/(4.5-1.2)=0.242424; purity 5/6
    val d = Seq((1, "a"), (1, "a"), (2, "a"), (2, "b"), (3, "b"), (3, "b"))
      .toDF("c", "l")
    val r = Similarity.partitionAgreement(d, "c", "l").head()
    assert(r.getLong(0) == 6L && r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == math.rint(5.0 / 6 * 1e6) / 1e6)
    assert(r.getDouble(4) == math.rint(0.8 / 3.3 * 1e6) / 1e6)
    // identical partitions agree perfectly
    val same = Seq((1, 1), (1, 1), (2, 2), (3, 3)).toDF("c", "l")
    val rs = Similarity.partitionAgreement(same, "c", "l").head()
    assert(rs.getDouble(3) == 1.0 && rs.getDouble(4) == 1.0)
    // one trivial side: purity collapses to the dominant share, ARI to 0
    val triv = Seq((1, "a"), (1, "a"), (1, "b"), (1, "b")).toDF("c", "l")
    val rt = Similarity.partitionAgreement(triv, "c", "l").head()
    assert(rt.getDouble(3) == 0.5 && rt.getDouble(4) == 0.0)
    // BOTH sides trivial: chance correction is 0/0, pinned to 1.0
    val deg = Seq((1, "a"), (1, "a")).toDF("c", "l")
    assert(Similarity.partitionAgreement(deg, "c", "l").head().getDouble(4) == 1.0)
    // symmetry of ARI (purity is directional, ARI is not)
    val r2 = Similarity.partitionAgreement(d.select(col("l").as("c"), col("c").as("l")), "c", "l").head()
    assert(r2.getDouble(4) == r.getDouble(4))
  }

  test("calibrationReport: hand-computed bins, boundary cap, zero-ECE when calibrated") {
    import graft.operators.TextOps
    // bin 2 (p=0.25): 4 rows, 1 positive -> conf == acc == 0.25, gap 0
    // bin 9: p = 1.0 must CAP into bin 9 (not a phantom bin 10); both
    // rows positive -> gap 0. bin 7 (p=0.75): 2 rows, 0 positives -> the
    // only miscalibrated bin: ece_part = 0.75 * 2/8
    val d = Seq(
      (0.25, 0.0), (0.25, 0.0), (0.25, 0.0), (0.25, 1.0),
      (1.0, 1.0), (1.0, 1.0),
      (0.75, 0.0), (0.75, 0.0)).toDF("p", "y")
    val r = TextOps.calibrationReport(d, "p", "y").orderBy("bin").collect()
    assert(r.map(_.getInt(0)).toSeq == Seq(2, 7, 9))
    val byBin = r.map(x => x.getInt(0) -> x).toMap
    assert(byBin(2).getLong(1) == 4L && byBin(2).getDouble(2) == 0.25 &&
      byBin(2).getDouble(3) == 0.25 && byBin(2).getDouble(4) == 0.0)
    assert(byBin(9).getLong(1) == 2L && byBin(9).getDouble(4) == 0.0)
    assert(byBin(7).getDouble(4) == math.rint(0.75 * 2.0 / 8 * 1e6) / 1e6)
    // ECE == the one miscalibrated bin's mass
    val ece = r.map(_.getDouble(4)).sum
    assert(math.abs(ece - 0.1875) < 1e-9)
  }

  test("nbPosterior: softmax posteriors over the label set sum to one") {
    import graft.operators.TextOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (tm, lm) = TextOps.nbTrain(docs.where(col("doc_id") % 2 === 0), "lang")
    val scores = TextOps.nbScores(docs.where(col("doc_id") % 2 === 1), tm, lm)
      .localCheckpoint(true)
    val labels = scores.select("label").distinct().collect().map(_.getString(0))
    assert(labels.length >= 2)
    val total = labels.map(l =>
        TextOps.nbPosterior(scores, l).withColumnRenamed("p", s"p_$l"))
      .reduce(_.join(_, "doc_id"))
      .select(labels.map(l => col(s"p_$l")).reduce(_ + _).as("s"))
      .agg(min(col("s")), max(col("s"))).head()
    assert(total.getDouble(0) > 0.999 && total.getDouble(1) < 1.001,
      s"posteriors must sum to ~1, got [${total.getDouble(0)}, ${total.getDouble(1)}]")
    // the argmax label's posterior is the modal one (consistency with nbClassify)
    val pred = TextOps.nbClassify(docs.where(col("doc_id") % 2 === 1), tm, lm)
    val best = labels.map(l =>
        TextOps.nbPosterior(scores, l).select(col("doc_id"), lit(l).as("label"), col("p")))
      .reduce(_.unionByName(_))
      .groupBy("doc_id").agg(max(struct(col("p"), col("label"))).as("m"))
      .select(col("doc_id"), col("m.label").as("plabel"))
    val disagree = pred.join(best, "doc_id")
      .where(col("predicted") =!= col("plabel")).count()
    // rounding p to 6dp can tie at the top; allow only a sliver
    assert(disagree <= 2, s"$disagree argmax disagreements")
  }

  test("vocabGrowth: hand-computed prefixes, monotone growth, TTR guard on empty prefix") {
    import graft.operators.TextOps
    val d = Seq(
      (1, "a b c"), (2, "a b d"), (3, "a a a"), (4, "e f")).toDF("doc_id", "text")
    val r = TextOps.vocabGrowth(d, Seq(1L, 3L, 5L)).orderBy("checkpoint")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // id<1: nothing; id<3: docs 1,2 -> 6 tokens, vocab {a,b,c,d}=4;
    // id<5: all -> 11 tokens, vocab {a,b,c,d,e,f}=6
    assert(r.toSeq == Seq((1L, 0L, 0L), (3L, 6L, 4L), (5L, 11L, 6L)))
    val ttr = TextOps.vocabGrowth(d, Seq(1L, 5L)).orderBy("checkpoint").collect()
    assert(ttr(0).isNullAt(3), "empty prefix -> NULL ratio, not a division error")
    assert(ttr(1).getDouble(3) == math.rint(6.0 / 11 * 1e6) / 1e6)
    // growth is monotone in the checkpoint by construction
    val vs = r.map(_._3)
    assert(vs.sliding(2).forall(p => p(0) <= p(1)))
  }

  test("jlProject: basis vectors read out the sign matrix; norms unbiased on real data") {
    import graft.operators.Similarity
    // e_i projects to column i of the sign matrix: every coordinate ±1/√k
    val d = 8; val k = 4
    val basis = (0 until d).map(i =>
      (i.toLong, Array.tabulate(d)(j => if (j == i) 1.0f else 0.0f)))
    val out = Similarity.jlProject(basis.toDF("vec_id", "embedding"), d, k)
      .select("vec_id", "jl").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    out.values.foreach { v =>
      assert(v.length == k)
      v.foreach(x => assert(math.abs(math.abs(x) - 0.5) < 1e-12, s"entry $x"))
    }
    // deterministic: a second build is bit-identical (plan-literal matrix)
    val again = Similarity.jlProject(basis.toDF("vec_id", "embedding"), d, k)
      .select("vec_id", "jl").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out == again)
    // JL unbiasedness: mean ||Px||^2 / ||x||^2 ~ 1 on real embeddings
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ratios = Similarity.jlProject(emb, 64, 16)
      .select("embedding", "jl").collect().map { r =>
        val x = r.getSeq[Float](0); val p = r.getSeq[Double](1)
        p.map(v => v * v).sum / x.map(v => v.toDouble * v).sum
      }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean")
  }

  test("corpusReport: hand-computed data card (dup ratio, lang spread, vocab)") {
    import graft.operators.TextOps
    val d = Seq(
      (1, "a b c", "en", "s1"), (2, "a b c", "en", "s1"), // exact dup pair
      (3, "x y", "fr", "s2"), (4, "", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextOps.corpusReport(d)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("n_docs") == 4.0 && r("n_tokens") == 8.0 && r("n_chars") == 13.0)
    assert(r("mean_doc_tokens") == 2.0)
    assert(r("exact_dup_ratio") == 0.25) // 3 distinct fingerprints of 4 docs
    assert(r("n_langs") == 2.0 && r("top_lang_share") == 0.75)
    assert(r("n_sources") == 2.0)
    assert(r("vocab_size") == 5.0 && r("type_token_ratio") == 0.625)
  }

  test("vocabState fold: 3-batch merged state replays vocabGrowth exactly") {
    import graft.operators.TextOps
    val d = Seq(
      (1, "a b c"), (2, "a b d"), (3, "a a a"), (4, "e f"), (5, ""), (6, "b g a"))
      .toDF("doc_id", "text")
    val batches = Seq(0, 1, 2).map(r => d.where(col("doc_id") % 3 === r))
    val merged = batches.map(b => TextOps.vocabState(b)).reduce(TextOps.vocabMergeState)
    // merged state == whole-corpus state, field for field
    val whole = TextOps.vocabState(d)
    val asMap = (s: org.apache.spark.sql.DataFrame) =>
      s.collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(asMap(merged) == asMap(whole))
    assert(asMap(whole)("a") == ((1L, 6L)) && asMap(whole)("g") == ((6L, 1L)))
    // the Heaps curve from state alone equals the corpus-face operator
    val docTok = batches.map(b => TextOps.vocabDocTokens(b)).reduce(_ unionByName _)
    val fromState = TextOps.vocabGrowthFromState(merged, docTok, Seq(2L, 4L, 7L))
      .orderBy("checkpoint").collect().map(_.toSeq)
    val direct = TextOps.vocabGrowth(d, Seq(2L, 4L, 7L))
      .orderBy("checkpoint").collect().map(_.toSeq)
    assert(fromState.toSeq == direct.toSeq)
  }
}
