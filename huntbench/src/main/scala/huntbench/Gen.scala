package huntbench

import graft.model.StixId

/** One observation of the synthetic hunt corpus. Every observation carries
  * exactly one network-traffic whose `srcPort` is unique within a corpus, so
  * each network-traffic row maps to one observation and one expected answer.
  * The optional parts exercise ref lists (process.opened_connection_refs),
  * deduplicating values (url, user-account) and payload decoders (artifact).
  */
final case class Obs(
    id: String,
    v21: Boolean,
    first: String,
    last: String,
    number: Long,
    src: String,
    dst: String,
    srcPort: Long,
    dstPort: Long,
    proc: Option[String],
    url: Option[String],
    user: Option[String],
    payload: Option[String]) {
  def srcType: String = if (src.contains(":")) "ipv6-addr" else "ipv4-addr"
}

/** Seeded STIX generator. The same seed gives the same observations, the
  * same bundle JSON and therefore the same store. Ids of STIX 2.1 objects are
  * name-based on (version, type, key), so a value re-seen in another bundle
  * maps to the same row the way firepit's deterministic 2.0 ids do.
  */
final class Gen(seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private var next = 0

  val ports: IndexedSeq[Long] = rnd.shuffle(IndexedSeq(22L, 53L, 80L, 443L, 445L, 3389L, 8080L, 9999L))
  val subnet: Int = rnd.nextInt(4) // 10.<subnet>.0.0/16 is the "inside" range
  val beacon: String = Seq("beacon", "implant", "stager")(rnd.nextInt(3))
  private val base = 1600000000L + rnd.nextInt(86400 * 300)

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))

  /** One observation; a `flow` observation carries only the connection. */
  def observation(v21: Boolean, flow: Boolean = false): Obs = {
    val i = next
    next += 1
    val src =
      if (rnd.nextInt(10) == 0) f"2001:db8::${1 + rnd.nextInt(60)}%x"
      else if (rnd.nextInt(3) == 0) s"192.168.${rnd.nextInt(3)}.${1 + rnd.nextInt(60)}"
      else s"10.${rnd.nextInt(4)}.${rnd.nextInt(3)}.${1 + rnd.nextInt(80)}"
    val first = base + i * 61L + rnd.nextInt(60)
    val payload = rnd.nextInt(4) match {
      case 0 => Some(s"$beacon interval ${rnd.nextInt(50)}s to c2.example.net")
      case 1 => Some(s"staging exfil-${rnd.nextInt(30)} chunk")
      case _ => None
    }
    Obs(
      id = s"observed-data--${Gen.uuid(s"obs|$seed|$i")}",
      v21 = v21,
      first = Gen.ts(first),
      last = Gen.ts(first + rnd.nextInt(600)),
      number = 1L + rnd.nextInt(9),
      src = src,
      dst = s"198.51.100.${1 + rnd.nextInt(40)}",
      srcPort = 1024L + i,
      dstPort = pick(ports),
      proc = if (!flow && rnd.nextInt(4) == 0) Some(s"proc${rnd.nextInt(12)}.exe|$seed-$i") else None,
      url = if (!flow && rnd.nextInt(3) == 0) Some(s"http://www${rnd.nextInt(6)}.example.org/page/${rnd.nextInt(30)}") else None,
      user = if (!flow && rnd.nextInt(4) == 0) Some(s"user${rnd.nextInt(15)}") else None,
      payload = if (flow) None else payload)
  }

  def observations(n: Int, v21: Boolean, flow: Boolean = false): Seq[Obs] =
    Seq.fill(n)(observation(v21, flow))

  /** `n` flow observations, the first with an ipv6 source and the rest
    * ipv4, so every batch touches the same tables whatever the seed. */
  def flows(n: Int, v21: Boolean): Seq[Obs] = Seq.tabulate(n) { i =>
    val o = observation(v21, flow = true)
    if (i == 0) o.copy(src = f"2001:db8::${1 + rnd.nextInt(60)}%x")
    else if (o.srcType == "ipv6-addr") o.copy(src = s"10.${rnd.nextInt(4)}.${rnd.nextInt(3)}.${1 + rnd.nextInt(80)}")
    else o
  }

  /** A bundle of observations, each in its own STIX version. */
  def bundle(obs: Seq[Obs]): String = {
    val objects = obs.flatMap(o => if (o.v21) Gen.objs21(o) else Seq(Gen.obs20(o)))
    StixId.canonicalJson(Map(
      "type" -> "bundle",
      "id" -> s"bundle--${Gen.uuid(obs.map(_.id).mkString("|"))}",
      "objects" -> objects))
  }
}

object Gen {
  def uuid(name: String): String =
    java.util.UUID.nameUUIDFromBytes(name.getBytes("UTF-8")).toString

  def ts(sec: Long): String =
    java.time.Instant.ofEpochSecond(sec).toString.replace("Z", ".000Z")

  def b64(s: String): String = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def procName(p: String): String = p.takeWhile(_ != '|')

  /** STIX 2.0: SCOs are numerically indexed under `objects`. */
  def obs20(o: Obs): Map[String, Any] = {
    var objs = Map[String, Any](
      "0" -> Map("type" -> o.srcType, "value" -> o.src),
      "1" -> Map("type" -> "ipv4-addr", "value" -> o.dst),
      "2" -> Map("type" -> "network-traffic", "src_ref" -> "0", "dst_ref" -> "1",
        "src_port" -> o.srcPort, "dst_port" -> o.dstPort, "protocols" -> Seq("tcp")))
    o.proc.foreach(p => objs += "3" -> Map("type" -> "process", "name" -> procName(p),
      "x_unique_id" -> p, "opened_connection_refs" -> Seq("2")))
    o.url.foreach(u => objs += "4" -> Map("type" -> "url", "value" -> u))
    o.user.foreach(u => objs += "5" -> Map("type" -> "user-account", "user_id" -> u, "account_login" -> u))
    o.payload.foreach(p => objs += "6" -> Map("type" -> "artifact", "mime_type" -> "text/plain",
      "payload_bin" -> b64(p)))
    Map("type" -> "observed-data", "id" -> o.id, "first_observed" -> o.first,
      "last_observed" -> o.last, "number_observed" -> o.number, "objects" -> objs)
  }

  private def id21(t: String, key: String): String = s"$t--${uuid(s"2.1|$t|$key")}"

  /** STIX 2.1: SCOs are top-level bundle objects referenced by id. */
  def objs21(o: Obs): Seq[Map[String, Any]] = {
    val src = id21(o.srcType, o.src)
    val dst = id21("ipv4-addr", o.dst)
    val nt = id21("network-traffic", o.id)
    val scos = Seq.newBuilder[Map[String, Any]]
    scos += Map("type" -> o.srcType, "spec_version" -> "2.1", "id" -> src, "value" -> o.src)
    scos += Map("type" -> "ipv4-addr", "spec_version" -> "2.1", "id" -> dst, "value" -> o.dst)
    scos += Map("type" -> "network-traffic", "spec_version" -> "2.1", "id" -> nt,
      "src_ref" -> src, "dst_ref" -> dst, "src_port" -> o.srcPort, "dst_port" -> o.dstPort,
      "protocols" -> Seq("tcp"))
    o.proc.foreach(p => scos += Map("type" -> "process", "spec_version" -> "2.1",
      "id" -> id21("process", p), "name" -> procName(p), "x_unique_id" -> p,
      "opened_connection_refs" -> Seq(nt)))
    o.url.foreach(u => scos += Map("type" -> "url", "spec_version" -> "2.1",
      "id" -> id21("url", u), "value" -> u))
    o.user.foreach(u => scos += Map("type" -> "user-account", "spec_version" -> "2.1",
      "id" -> id21("user-account", u), "user_id" -> u, "account_login" -> u))
    o.payload.foreach(p => scos += Map("type" -> "artifact", "spec_version" -> "2.1",
      "id" -> id21("artifact", p), "mime_type" -> "text/plain", "payload_bin" -> b64(p)))
    val s = scos.result()
    s :+ Map("type" -> "observed-data", "spec_version" -> "2.1", "id" -> o.id,
      "first_observed" -> o.first, "last_observed" -> o.last,
      "number_observed" -> o.number, "object_refs" -> s.map(_("id")))
  }

  /** Per-type distinct keys the generator emitted: the row count each base
    * table must hold after the observations are cached (any number of times,
    * under any query ids). 2.0 and 2.1 objects never share an id. */
  def expectedRows(obs: Seq[Obs]): Map[String, Int] = {
    def keys(o: Obs): Seq[(String, String)] = {
      val v = if (o.v21) "21" else "20"
      Seq("observed-data" -> o.id, "network-traffic" -> o.id,
        o.srcType -> s"$v|${o.src}", "ipv4-addr" -> s"$v|${o.dst}") ++
        o.proc.map(p => "process" -> s"$v|$p") ++
        o.url.map(u => "url" -> s"$v|$u") ++
        o.user.map(u => "user-account" -> s"$v|$u") ++
        o.payload.map(p => "artifact" -> s"$v|$p")
    }
    obs.flatMap(keys).distinct.groupBy(_._1).map { case (t, ks) => t -> ks.size }
  }
}
