package huntbench

import graft.api.Storage
import graft.ingest.Flatten
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** A workload: untimed setup, a timed closed loop of steps that runs for
  * `--seconds`, then untimed answer checks. */
trait Workload {
  /** Op classes whose calls answer a question; their time in a step is the
    * step's read time. */
  def readOps: Set[String]
  def setup(spark: SparkSession, run: Run): Unit
  def timed(spark: SparkSession, run: Run): Unit
  def verify(spark: SparkSession, run: Run): Unit
  /** Removes what a run left outside its run directory; runs last, always. */
  def cleanup(): Unit = ()
}

object Workloads {
  def all: Map[String, Workload] = Map(
    "ingest" -> new Ingest, "hunt" -> new Hunt, "session" -> new Session, "operators" -> new Operators)

  def fresh(p: Path): Path = {
    if (Files.exists(p)) graft.ingest.FsUtil.deleteTree(p)
    Files.createDirectories(p)
  }

  /** Closed loop: steps run back to back while the next one is expected
    * (at the median step time so far) to end within `--seconds`, and at
    * least `minSteps` of them. A traced run makes exactly `minSteps`, so two
    * traced runs make the same calls and their counts compare. */
  def loop(run: Run, minSteps: Int)(step: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (run.opts.seconds * 1e9).toLong
    def fits = System.nanoTime() + Main.median(run.steps) * 1e9 <= deadline
    var i = 0
    while (i < minSteps || (!run.opts.trace && fits)) {
      val c0 = Cpu.ns()
      val t0 = System.nanoTime()
      run.stepRead = 0.0
      run.stepReadCpu = 0.0
      run.tracer.span(s"step$i", "step")(step(i))
      run.steps :+= (System.nanoTime() - t0) / 1e9
      run.stepsCpu :+= (Cpu.ns() - c0) / 1e9
      run.reads :+= run.stepRead
      run.readsCpu :+= run.stepReadCpu
      i += 1
    }
  }

  def setupStep[T](step: String)(body: => T): T =
    try body
    catch {
      case e: SetupError => throw e
      case e: Exception  => throw new SetupError(step, e)
    }

  /** Traced runs only: the bench-side calls into the pattern, catalog and
    * Deref layers for the (pattern, SCO type) pairs and the view a step just
    * defined (Deref builds the lookup plan without running it). */
  def layerCalls(run: Run, s: Storage, patterns: Seq[(String, String)], view: String): Unit =
    if (run.opts.trace) {
      patterns.foreach { case (p, t) =>
        run.layer("Pattern.compile", "pattern")(graft.pattern.Pattern.compile(p, t, s.catalog.resolve))
      }
      run.layer("catalog.resolve", "catalog")(s.catalog.resolve(view))
      run.layer("Deref.autoDeref", "deref")(graft.api.Deref.autoDeref(s, view, Some(Seq("src_ref.value"))))
    }

  /** Bench-side Flatten of a bundle, the ingest layer's own cost. */
  def flatten(run: Run, json: String): Seq[Map[String, Any]] = {
    val objs = run.layer("Flatten.flattenBundle", "ingest")(Flatten.flattenBundle(json))
    run.facts("ingest.objects_out") = run.facts.getOrElse("ingest.objects_out", 0.0).asInstanceOf[Double] + objs.size
    objs
  }

  /** Answer checks of a store after cache calls: every base table holds one
    * row per distinct id and exactly the ids Flatten emits for the cached
    * bundles; the generator's own distinct keys agree with those ids; and
    * `__queries` holds each query id's provenance. Objects of types with no
    * id-contributing properties get a fresh random id per Flatten, so for
    * those only counts are compared. Query ids ending in "ccoe" are the
    * fixture bundle, which the generator did not make. */
  def checkStore(spark: SparkSession, run: Run, wd: Path,
      cached: Seq[(String, Seq[String])], generated: Seq[Obs]): Unit = {
    def flat(jsons: Seq[String]) = ids(jsons.flatMap(Flatten.flattenBundle))
    val perQuery = cached.map { case (q, jsons) => (q, flat(jsons), flat(jsons)) }
    val union = perQuery.flatMap(_._2.toSeq).groupBy(_._1).map { case (t, xs) => t -> xs.flatMap(_._2).toSet }
    val unstable = perQuery.flatMap(p => p._2.keySet.filter(t => p._2(t) != p._3(t))).toSet
    val genIds = perQuery.filterNot(_._1.endsWith("ccoe")).flatMap(_._2.toSeq)
      .groupBy(_._1).map { case (t, xs) => t -> xs.flatMap(_._2).toSet.size }
    run.check("generator keys == flattened ids")(genIds == Gen.expectedRows(generated))
    union.foreach { case (t, want) =>
      run.check(s"table $t rows == distinct ids == emitted ids") {
        val got = storedIds(spark, wd, t)
        got.size == want.size && got.distinct.size == got.size && (unstable(t) || got.toSet == want)
      }
    }
    val prov = spark.read.parquet(wd.resolve("__queries.parquet").toString)
      .select("query_id", "sco_id").collect().groupBy(_.getString(0))
      .map { case (q, rs) => q -> rs.map(_.getString(1)).toSet }
    perQuery.foreach { case (q, byType, _) =>
      run.check(s"__queries provenance of $q") {
        val got = prov.getOrElse(q, Set.empty)
        got.size == byType.values.map(_.size).sum &&
          byType.filter(x => !unstable(x._1)).values.flatten.toSet.subsetOf(got)
      }
    }
  }

  /** Files and bytes under a store directory, and the most files of one table. */
  def storeStats(dir: Path): (Long, Long, Long) = {
    val files = mutable.ArrayBuffer.empty[(Path, Long)]
    Files.walk(dir).forEach(p => if (Files.isRegularFile(p)) files += p -> Files.size(p))
    val perTable = files.groupBy { case (p, _) => dir.relativize(p).getName(0).toString }
    (files.size.toLong, files.map(_._2).sum, if (perTable.isEmpty) 0L else perTable.values.map(_.size.toLong).max)
  }

  def ids(objs: Seq[Map[String, Any]]): Map[String, Set[String]] =
    objs.filterNot(_("type").toString.startsWith("__"))
      .groupBy(_("type").toString).map { case (t, os) => t -> os.map(_("id").toString).toSet }

  /** Ids stored in a base table, read as plain parquet (not through the engine). */
  def storedIds(spark: SparkSession, wd: Path, table: String): Seq[String] =
    spark.read.parquet(wd.resolve(s"$table.parquet").toString).select("id")
      .collect().toSeq.map(_.getString(0))
}

import Workloads._

/** Fresh store; caches new 2.0 and 2.1 bundles, the ccoe bundle, re-caches
  * already-stored observations under new query ids, then `finish()`. */
final class Ingest extends Workload {
  def readOps: Set[String] = Set.empty
  private val obsPerBundle = 40
  private var ccoe: String = _
  private var gen: Gen = _
  // the last step's store and what was cached into it, for the checks
  private var wd: Path = _
  private var cached = Vector.empty[(String, Seq[String])]
  private var generated = Vector.empty[Obs]
  private var obsCached = 0L
  private var bytesCached = 0L

  def setup(spark: SparkSession, run: Run): Unit = {
    ccoe = setupStep("read fixture ccoe_investigator_demo.json")(
      new String(Files.readAllBytes(run.opts.fixture("ccoe_investigator_demo.json")), "UTF-8"))
    gen = new Gen(run.opts.seed)
    val warm = new Gen(run.opts.seed + 1000003L)
    setupStep("warmup store") {
      val s = new Storage(spark, fresh(run.opts.runDir.resolve("warm")).toString)
      val a = warm.observations(10, v21 = false)
      s.cache("w0", warm.bundle(a))
      s.cache("w1", warm.bundle(warm.observations(10, v21 = true)))
      s.cache("w2", warm.bundle(a))
      s.finish()
      s.lookup("network-traffic", Seq("src_ref.value"), Some(5))
    }
  }

  private def cache(run: Run, s: Storage, op: String, qid: String, jsons: Seq[String], nObs: Int): Unit = {
    if (run.opts.trace) jsons.foreach(flatten(run, _))
    run.call(op, s"cache $qid")(s.cache(qid, jsons))
    cached :+= qid -> jsons
    obsCached += nObs
    bytesCached += jsons.map(_.getBytes("UTF-8").length.toLong).sum
  }

  def timed(spark: SparkSession, run: Run): Unit = loop(run, 1) { i =>
    wd = fresh(run.opts.runDir.resolve("ingest"))
    cached = Vector.empty
    val s = run.call("open", "new Storage")(new Storage(spark, wd.toString)).get
    val a = gen.observations(obsPerBundle, v21 = false)
    val b = gen.observations(obsPerBundle, v21 = true)
    generated = (a ++ b).toVector
    cache(run, s, "cache_first", s"i$i-new", Seq(gen.bundle(a), gen.bundle(b)), a.size + b.size)
    cache(run, s, "cache_append", s"i$i-ccoe", Seq(ccoe), 1091)
    val rnd = new scala.util.Random(run.opts.seed + i)
    val (ra, rb) = (rnd.shuffle(a).take(a.size * 3 / 4), rnd.shuffle(b).take(b.size / 2))
    cache(run, s, "cache_merge", s"i$i-seen", Seq(gen.bundle(ra), gen.bundle(rb)), ra.size + rb.size)
    run.call("finish", "finish")(s.finish())
  }

  def verify(spark: SparkSession, run: Run): Unit = {
    val cacheS = run.samples.filter(_._1.startsWith("cache_")).values.flatten.sum
    run.facts("ingest_obs_per_s") = obsCached / cacheS
    run.facts("cache_first_p50_s") = run.p50("cache_first").get
    run.facts("cache_append_p50_s") = run.p50("cache_append").get
    run.facts("cache_merge_p50_s") = run.p50("cache_merge").get
    run.facts("finish_s") = run.p50("finish").get
    val (files, bytes, maxPerTable) = storeStats(wd)
    val steps = run.steps.size.toDouble
    run.facts("store_bytes_per_input_byte") = bytes / (bytesCached / steps)
    run.facts("store.files") = files.toDouble
    run.facts("store.bytes") = bytes.toDouble
    run.facts("store.files_per_table_max") = maxPerTable.toDouble

    checkStore(spark, run, wd, cached, generated)
  }
}

/** Store built once in setup; a scripted hunt of define verbs, each
  * followed by actions; ends by reopening the store (journal replay). */
final class Hunt extends Workload {
  def readOps: Set[String] = Set("lookup", "agg_verb")
  private val obsPerVersion = 120
  private var wd: Path = _
  private var gen: Gen = _
  private var obs: Seq[Obs] = Nil
  private val answers = mutable.ArrayBuffer.empty[(String, () => Boolean)]

  def setup(spark: SparkSession, run: Run): Unit = {
    gen = new Gen(run.opts.seed)
    wd = fresh(run.opts.runDir.resolve("hunt"))
    setupStep("build hunt store") {
      val s = new Storage(spark, wd.toString)
      val h20 = gen.observations(obsPerVersion, v21 = false)
      val h21 = gen.observations(obsPerVersion, v21 = true)
      s.cache("h", Seq(gen.bundle(h20), gen.bundle(h21)))
      obs = h20 ++ h21
      new Hunt.Script(s, gen, obs, None).step("w")
    }
  }

  def timed(spark: SparkSession, run: Run): Unit = {
    val s = new Storage(spark, wd.toString)
    val script = new Hunt.Script(s, gen, obs, Some(run))
    var last = ""
    loop(run, 2) { i => last = s"$i"; script.step(last) }
    answers ++= script.answers
    val s2 = run.call("reopen", "new Storage (journal replay)")(new Storage(spark, wd.toString))
    val rows = s2.flatMap(x => run.call("lookup", "lookup after reopen")(
      x.lookup(s"inside$last", Seq("src_port"))))
    val want = script.inside(last).map(_.srcPort).toSet
    answers += ("lookup after reopen" -> (() => rows.exists(_.map(_("src_port")).toSet == want)))
    run.facts("journal.lines") =
      Files.readAllLines(wd.resolve("__symtable.jsonl")).size.toDouble
  }

  def verify(spark: SparkSession, run: Run): Unit = {
    run.facts("lookup_p50_s") = run.p50("lookup").get
    run.facts("agg_verb_p50_s") = run.p50("agg_verb").get
    run.facts("reopen_s") = run.p50("reopen").get
    answers.foreach { case (n, ok) => run.check(n)(ok()) }
  }
}

object Hunt {
  /** One hunt step over query id h (STIX 2.0 and 2.1 bundles). With no
    * `run` it is the untimed warmup. Answers are kept as closures and checked
    * after the timed run against the generator's observations. */
  final class Script(s: Storage, gen: Gen, obs: Seq[Obs], run: Option[Run]) {
    val answers = mutable.ArrayBuffer.empty[(String, () => Boolean)]
    private val inside0 = mutable.Map.empty[String, Seq[Obs]]
    def inside(k: String): Seq[Obs] = inside0(k)

    private def call[T](op: String, name: String)(body: => T): Option[T] = run match {
      case Some(r) => r.call(op, name)(body)
      case None    => Some(body)
    }

    private def answer(name: String)(ok: => Boolean): Unit = answers += (name -> (() => ok))

    def step(k: String): Unit = {
      val q = "h"
      val (p1, p2) = (gen.ports(k.hashCode.abs % 4), gen.ports(4 + k.hashCode.abs % 4))
      val net = s"10.${gen.subnet}."
      val urlRe = "www[0-2]".r
      val conns = obs.filter(o => o.dstPort == p1 || o.dstPort == p2)
      val ins = conns.filter(_.src.startsWith(net))
      inside0(k) = ins
      val urls = obs.filter(_.url.exists(u => u.contains("/page/1") || urlRe.findFirstIn(u).nonEmpty))
      val arts = obs.filter(_.payload.exists(_.contains(gen.beacon)))

      // define verbs (cheap, register recipes, grow the journal)
      val pConn = s"[network-traffic:dst_port IN ($p1, $p2)]"
      val pIn = s"[network-traffic:src_ref.value ISSUBSET '10.${gen.subnet}.0.0/16']"
      val pUrl = "[url:value LIKE '%/page/1%' OR url:value MATCHES 'www[0-2]']"
      val pArt = s"[artifact:payload_bin LIKE '%${gen.beacon}%' AND artifact:mime_type = 'text/plain']"
      call("define", "extract")(s.extract(s"conns$k", "network-traffic", q, pConn))
      call("define", "filter")(s.filter(s"inside$k", "network-traffic", s"conns$k", pIn))
      call("define", "extract")(s.extract(s"urls$k", "url", q, pUrl))
      call("define", "extract")(s.extract(s"arts$k", "artifact", q, pArt))
      call("define", "group")(s.group(s"byport$k", s"conns$k", Seq("dst_port")))
      call("define", "join")(s.join(s"both$k", s"conns$k", "id", s"inside$k", "id"))
      call("define", "assign sort")(s.assign(s"top$k", s"conns$k", "sort", "src_port", asc = false, limit = Some(5)))
      run.foreach(layerCalls(_, s, Seq(pConn -> "network-traffic", pIn -> "network-traffic",
        pUrl -> "url", pArt -> "artifact"), s"inside$k"))

      // actions
      val lk = call("lookup", "lookup deref+limit")(
        s.lookup(s"inside$k", Seq("src_ref.value", "dst_port", "src_port"), limit = Some(20)))
      answer(s"lookup inside$k") {
        val want = ins.map(o => (o.src, o.dstPort: Any, o.srcPort: Any)).toSet
        val got = lk.get.map(m => (String.valueOf(m("src_ref.value")), m("dst_port"), m("src_port")))
        got.size == math.min(20, ins.size) && got.toSet.subsetOf(want) && got.distinct.size == got.size
      }
      val top = call("lookup", "lookup sorted view")(s.lookup(s"top$k"))
      answer(s"lookup top$k") {
        top.get.map(_("src_port")) == conns.map(_.srcPort).sorted.reverse.take(5)
      }
      val vals = call("lookup", "values")(s.values("src_ref.value", s"inside$k"))
      answer(s"values inside$k")(vals.get.map(String.valueOf).sorted == ins.map(_.src).sorted)
      val grp = call("lookup", "lookup group view")(s.lookup(s"byport$k"))
      answer(s"lookup byport$k")(grp.get.map(_("dst_port")).toSet == conns.map(_.dstPort).toSet)
      val vc = call("agg_verb", "value_counts")(s.valueCounts(s"conns$k", "dst_port"))
      answer(s"value_counts conns$k") {
        vc.get.toMap == conns.groupBy(_.dstPort).map { case (p, xs) => (p: Any) -> xs.size.toLong }
      }
      val sm = call("agg_verb", "summary")(s.summary(s"urls$k"))
      answer(s"summary urls$k") {
        val (f, l, n) = sm.get
        if (urls.isEmpty) n == 0
        else f == urls.map(_.first).min && l == urls.map(_.last).max && n == urls.map(_.number).sum
      }
      val ts = call("agg_verb", "timestamped")(
        s.timestamped(s"arts$k").collect().toSeq.map(_.getAs[String]("first_observed")))
      answer(s"timestamped arts$k")(ts.get == arts.map(_.first).sorted)
      val no = call("agg_verb", "number_observed")(s.numberObserved(s"conns$k", "dst_port", p1))
      answer(s"number_observed conns$k")(no.get == conns.filter(_.dstPort == p1).map(_.number).sum)
      val n = call("agg_verb", "count")(s.count(s"both$k"))
      answer(s"count both$k")(n.get == ins.size.toLong)
    }
  }
}

/** Kestrel's loop on a growing store. Setup caches a base bundle and runs
  * `finish()`; each timed step then caches one small bundle (a GET of
  * network flows, mostly new ids plus some already stored, the upsert path)
  * under a new query id and hunts over it: extract, filter, lookup,
  * value_counts, summary, count. The run ends by reopening the store
  * (journal replay) and looking up the last view. Setup runs no warmup
  * step: in trials one left the timed steps neither faster nor steadier and
  * cost ~14 s of each run. */
final class Session extends Workload {
  def readOps: Set[String] = Set("lookup", "agg_verb")
  private val obsPerGet = 16
  private val reseenPerGet = 4
  private var wd: Path = _
  private var gen: Gen = _
  private var stored = Vector.empty[Obs]
  // re-seen ids come only from flows, so every GET touches the same tables
  private var flows = Vector.empty[Obs]
  private var cached = Vector.empty[(String, Seq[String])]
  private var timedObs = 0L
  private var last: (String, Seq[Obs]) = _
  private val answers = mutable.ArrayBuffer.empty[(String, () => Boolean)]

  /** One timed step. Answers are kept as closures and checked after the
    * timed run. */
  private def step(s: Storage, run: Run, k: String): Unit = {
    def call[T](op: String, name: String)(body: => T): Option[T] = run.call(op, name)(body)
    def answer(name: String)(ok: => Boolean): Unit = answers += (name -> (() => ok))
    val seen = new scala.util.Random(run.opts.seed + k.hashCode).shuffle(flows).take(reseenPerGet)
    val obs = gen.flows(obsPerGet - reseenPerGet, k.hashCode % 2 == 0) ++ seen
    val json = gen.bundle(obs)
    if (run.opts.trace) flatten(run, json)
    val ports = gen.ports.take(3)
    val conns = obs.filter(o => ports.contains(o.dstPort))
    val ins = conns.filter(_.src.startsWith(s"10.${gen.subnet}."))

    call("cache_append", "cache")(s.cache(s"s$k", json))
    cached :+= s"s$k" -> Seq(json)
    stored ++= obs.filterNot(stored.contains)
    flows ++= obs.filterNot(flows.contains)
    timedObs += obs.size
    val pConn = s"[network-traffic:dst_port IN (${ports.mkString(", ")})]"
    val pIn = s"[network-traffic:src_ref.value ISSUBSET '10.${gen.subnet}.0.0/16']"
    call("define", "extract")(s.extract(s"sv$k", "network-traffic", s"s$k", pConn))
    call("define", "filter")(s.filter(s"in$k", "network-traffic", s"sv$k", pIn))
    layerCalls(run, s, Seq(pConn -> "network-traffic", pIn -> "network-traffic"), s"sv$k")
    val lk = call("lookup", "lookup deref")(s.lookup(s"sv$k", Seq("src_ref.value", "dst_port", "src_port")))
    answer(s"lookup sv$k") {
      lk.get.size == conns.size &&
        lk.get.map(m => (String.valueOf(m("src_ref.value")), m("dst_port"), m("src_port"))).toSet ==
          conns.map(o => (o.src, o.dstPort: Any, o.srcPort: Any)).toSet
    }
    // path joins resolve src_ref to its first ref type, ipv4-addr
    // (StixMeta.parseProp); only lookup's auto-deref coalesces ipv4 and
    // ipv6, so an ipv6 source counts under null here
    val vc = call("agg_verb", "value_counts")(s.valueCounts(s"sv$k", "src_ref.value"))
    answer(s"value_counts sv$k") {
      vc.get.map { case (v, c) => Option(v).map(_.toString) -> c }.toMap ==
        conns.groupBy(o => Option(o.src).filter(_ => o.srcType == "ipv4-addr"))
          .map { case (v, xs) => v -> xs.size.toLong }
    }
    val sm = call("agg_verb", "summary")(s.summary(s"sv$k"))
    answer(s"summary sv$k") {
      val (f, l, n) = sm.get
      if (conns.isEmpty) n == 0
      else f == conns.map(_.first).min && l == conns.map(_.last).max && n == conns.map(_.number).sum
    }
    val n = call("agg_verb", "count")(s.count(s"in$k"))
    answer(s"count in$k")(n.get == ins.size.toLong)
    last = s"sv$k" -> conns
  }

  def setup(spark: SparkSession, run: Run): Unit = {
    gen = new Gen(run.opts.seed)
    wd = fresh(run.opts.runDir.resolve("session"))
    setupStep("build session store") {
      val s = new Storage(spark, wd.toString)
      val base = gen.observations(40, v21 = false) ++ gen.observations(40, v21 = true) ++
        gen.flows(reseenPerGet, v21 = false)
      flows = base.takeRight(reseenPerGet).toVector
      val json = gen.bundle(base)
      val t0 = System.nanoTime()
      run.metered("cache_first")(s.cache("base", json))
      run.facts("setup.cache_s") = (System.nanoTime() - t0) / 1e9
      cached :+= "base" -> Seq(json)
      stored ++= base
      val t1 = System.nanoTime()
      run.metered("finish")(s.finish())
      run.facts("setup.finish_s") = (System.nanoTime() - t1) / 1e9
    }
  }

  def timed(spark: SparkSession, run: Run): Unit = {
    val s = new Storage(spark, wd.toString)
    loop(run, 2)(i => step(s, run, s"$i"))
    val (view, conns) = last
    val s2 = run.call("reopen", "new Storage (journal replay)")(new Storage(spark, wd.toString))
    val rows = s2.flatMap(x => run.call("lookup", "lookup after reopen")(x.lookup(view, Seq("src_port"))))
    answers += (s"lookup $view after reopen" -> (() =>
      rows.exists(_.map(_("src_port")).toSet == conns.map(_.srcPort: Any).toSet)))
    run.facts("journal.lines") = Files.readAllLines(wd.resolve("__symtable.jsonl")).size.toDouble
  }

  def verify(spark: SparkSession, run: Run): Unit = {
    run.facts("ingest_obs_per_s") = timedObs / run.samples("cache_append").sum
    run.facts("cache_append_p50_s") = run.p50("cache_append").get
    run.facts("lookup_p50_s") = run.p50("lookup").get
    run.facts("agg_verb_p50_s") = run.p50("agg_verb").get
    run.facts("reopen_s") = run.p50("reopen").get
    val (files, bytes, maxPerTable) = storeStats(wd)
    run.facts("store.files") = files.toDouble
    run.facts("store.bytes") = bytes.toDouble
    run.facts("store.files_per_table_max") = maxPerTable.toDouble
    run.facts("store_bytes_per_input_byte") = bytes.toDouble / cached.map(_._2.head.length.toLong).sum
    answers.foreach { case (n, ok) => run.check(n)(ok()) }
    checkStore(spark, run, wd, cached, stored)
  }
}

/** The operator kernels the Storage workloads never reach, over the
  * engine's sf0.01 documents/embeddings testdata (a copy ships in
  * huntbench/data; setup stages it into the run directory). Each timed call
  * builds the query's DataFrame and runs its `count()`; only the `count()`
  * is read time. q_stream_datacard stages its stream slices under /tmp,
  * keyed by the data directory; `cleanup` removes what the run left there. */
final class Operators extends Workload {
  val names = Seq("q_dedup_containment_inc", "q_ann_pq", "q_text_calibration", "q_stream_datacard")
  def readOps: Set[String] = Set.empty
  private var dataDir: Path = _
  private val counts = mutable.Map.empty[String, Vector[Long]]
  private val tmpBefore = Operators.tmpEntries()

  def setup(spark: SparkSession, run: Run): Unit = {
    dataDir = fresh(run.opts.runDir.resolve("data"))
    setupStep("stage operator inputs") {
      Seq("documents", "embeddings").foreach { t =>
        Files.copy(run.opts.checkout.resolve(s"huntbench/data/sf0.01/$t.parquet"), dataDir.resolve(s"$t.parquet"))
      }
    }
    // one warmup pass: a second left the timed pass's CPU time no steadier
    // and cost 13-21 s of each run's budget
    val t0 = System.nanoTime()
    for (n <- names) setupStep(s"warmup $n")(run.metered(s"warmup_$n")(query(spark, n).count()))
    run.facts("setup.warmup_s") = (System.nanoTime() - t0) / 1e9
  }

  private def query(spark: SparkSession, name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dataDir.toString)

  def timed(spark: SparkSession, run: Run): Unit = {
    val order = new scala.util.Random(run.opts.seed).shuffle(names)
    loop(run, 1) { _ =>
      order.foreach { n =>
        run.call(n, n) {
          val df = query(spark, n)
          val c0 = Cpu.ns()
          val t0 = System.nanoTime()
          val c = df.count()
          run.stepRead += (System.nanoTime() - t0) / 1e9
          run.stepReadCpu += (Cpu.ns() - c0) / 1e9
          c
        }.foreach(c => counts(n) = counts.getOrElse(n, Vector.empty) :+ c)
      }
    }
  }

  /** The DuckDB oracle runs in run.py; here only the engine's own figures
    * are recorded and every rep must agree with the first. */
  def verify(spark: SparkSession, run: Run): Unit = {
    names.foreach { n =>
      run.facts(s"${n}_s") = run.p50(n).get
      run.check(s"$n counts agree across reps")(counts.get(n).exists(_.distinct.size == 1))
    }
    val oracle = names.map(n => n -> Map[String, Any](
      "sql" -> graft.SparkEntry.oracleSql(n), "count" -> counts.get(n).flatMap(_.headOption).getOrElse(-1L)))
    Files.write(run.opts.runDir.resolve("oracle.json"),
      graft.model.StixId.canonicalJson(Map("data_dir" -> dataDir.toString, "queries" -> oracle.toMap))
        .getBytes("UTF-8"))
  }

  override def cleanup(): Unit =
    Operators.tmpEntries().diff(tmpBefore).toSeq.sortBy(-_.getNameCount)
      .foreach(p => if (Files.exists(p)) graft.ingest.FsUtil.deleteTree(p))
}

object Operators {
  private val tmp = java.nio.file.Paths.get("/tmp")

  /** The engine's /tmp/graft_* staging directories and the directories in
    * them (files there belong to other programs too, and are left alone). */
  def tmpEntries(): Set[Path] = {
    def ls(d: Path): Seq[Path] = {
      val st = Files.list(d)
      try st.toArray.toSeq.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_)) finally st.close()
    }
    val top = ls(tmp).filter(_.getFileName.toString.startsWith("graft_"))
    (top ++ top.flatMap(ls)).toSet
  }
}
