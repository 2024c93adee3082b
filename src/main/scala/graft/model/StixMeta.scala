package graft.model

/** Static STIX metadata: ref-target tables, primary properties, path
  * parsing, and auto-aggregation rules (firepit/props.py:325-530).
  */
object StixMeta {

  /** Possible target SCO types for a reference property (props.py:437-490). */
  def refType(scoType: String, part: String): Seq[String] = part match {
    case "parent_ref"                                          => Seq("process")
    case "dst_ref" | "dst_ip_ref" | "src_ref" | "src_ip_ref"   => Seq("ipv4-addr", "ipv6-addr")
    case "resolves_to_refs" if scoType == "ipv4-addr" || scoType == "ipv6-addr" =>
      Seq("mac-addr")
    case "binary_ref" | "image_ref"                            => Seq("file")
    case "parent_directory_ref"                                => Seq("directory")
    case "creator_user_ref"                                    => Seq("user-account")
    case "dst_os_ref" | "src_os_ref" | "dst_application_ref" | "src_application_ref" =>
      Seq("software")
    case "ip_refs"                                             => Seq("ipv4-addr", "ipv6-addr")
    case "mac_refs"                                            => Seq("mac-addr")
    case "opened_connection_refs"                              => Seq("network-traffic")
    case "src_payload_ref" | "dst_payload_ref"                 => Seq("artifact")
    case _ if scoType == "x-oca-event" =>
      part match {
        case "original_ref"           => Seq("artifact")
        case "host_ref"               => Seq("x-oca-asset")
        case "url_ref"                => Seq("url")
        case "file_ref"               => Seq("file")
        case p if p.contains("process") => Seq("process")
        case "domain_ref"             => Seq("domain-name")
        case "registry_ref"           => Seq("windows-registry-key")
        case "network_ref"            => Seq("network-traffic")
        case "user_ref"               => Seq("user-account")
        case _                        => Nil
      }
    case p if scoType == "x-ibm-finding" && p.endsWith("_user_ref") => Seq("user-account")
    case "from_ref" | "sender_ref" | "to_refs" | "cc_refs" | "bcc_refs"
        if scoType == "email-message" =>
      Seq("email-addr")
    case _ => Nil
  }

  def isRef(name: String): Boolean = name.endsWith("_ref") || name.endsWith("_refs")

  /** Namespace for shortened-column uuid5 fallbacks (pgcommon.py:164). */
  val ColumnsNs: java.util.UUID = java.util.UUID.fromString("c55c83a6-06d3-4680-b1e0-1cfd1deb332d")

  private val extensionPrefix = "^extensions\\.'(x-)?[\\w\\d_-]+'\\.".r

  /** Column-name shortening applied at ingest (splitter.py:19-20, 242-244;
    * pgcommon.py:167-172): `extensions.'x-foo'.bar` -> `x_bar`; names still
    * longer than 48 chars become the uuid5 hex of the full path (the
    * 63-char identifier limit of the reference's pg backend — kept for
    * column-name parity). The full path -> shortname mapping is recorded in
    * the __columns metadata table. */
  def shortenKey(key: String): String = {
    if (key.length <= 48 && !key.contains("extensions.")) return key
    val k = extensionPrefix.replaceFirstIn(key, "x_")
    if (k.length > 48) Uuid5(ColumnsNs, key).toString.replace("-", "") else k
  }

  /** The kinds of value an ingested property can hold, as bit flags so a
    * set of kinds is one Int (`|` unions, Spark's `bit_or` aggregates). A
    * null value has no kind (0). */
  object Kind {
    val Bool = 1
    val Int = 2
    val Float = 4
    val Str = 8
    val ScalarList = 16
    val NestedList = 32
    val Dict = 64
  }

  /** The kind of one property value. Lists are scalar lists when no
    * element is itself a list or a dict; anything unrecognised is text.
    * Lists match collection.Seq, not immutable.Seq: Row.toSeq yields a
    * mutable ArraySeq for array columns (reassign round-trips). */
  def kindOf(v: Any): Int = v match {
    case null                       => 0
    case _: Boolean                 => Kind.Bool
    case _: Long | _: Int           => Kind.Int
    case _: Double | _: Float       => Kind.Float
    case s: collection.Seq[_] =>
      if (s.exists(e => e.isInstanceOf[collection.Seq[_]] || e.isInstanceOf[collection.Map[_, _]]))
        Kind.NestedList
      else Kind.ScalarList
    case _: collection.Map[_, _] => Kind.Dict
    case _                          => Kind.Str
  }

  /** The ingest census of `objs`: per (type, path), the set of kinds seen
    * there (0 when the path only ever held null). The type and
    * spec_version keys never become columns and are not counted. Every
    * ingest verb types its tables and records its `__columns` rows from a
    * census; the Dataset verbs aggregate theirs on the executors. */
  def census(objs: Iterable[Map[String, Any]]): Map[(String, String), Int] =
    objs.flatMap { o =>
      val t = o("type").toString
      (o - "type" - "spec_version").map { case (k, v) => (t, k) -> kindOf(v) }
    }.groupMapReduce(_._1)(_._2)(_ | _)

  /** The reference's `value.__class__.__name__` for each kind
    * (splitter.py:255). */
  private val pyDtype = Map(Kind.Bool -> "bool", Kind.Int -> "int", Kind.Float -> "float",
    Kind.Str -> "str", Kind.ScalarList -> "list", Kind.NestedList -> "list", Kind.Dict -> "dict")

  /** The `__columns` rows a census records (ingest.py:640-656): one
    * (otype, path, shortname, dtype) row per (type, path) seen with a
    * non-null value, sorted by (type, path). Edge rows (`__` types) record
    * nothing. Where a path held several kinds, the dtype is the first of
    * theirs with non-'str' preferred (a transformer/parse fallback records
    * the raw string beside the good rows' real dtype), then lexicographic:
    * a total order, so the pick depends only on the set of kinds, never on
    * which path, partition or verb saw a value first.
    *
    * Batch-boundary caveat (intentional): the pick applies WITHIN one
    * ingest batch; across batches the first STORED sighting wins
    * (UpsertWriter.appendKeyed), matching the reference's record-once
    * contract — its new-column hook writes the dtype exactly once and never
    * revisits it (sqlstorage.py:187-189). A batch-1 fallback 'str'
    * therefore stays recorded even if batch 2 sees the real dtype, exactly
    * as upstream. */
  def columnRows(census: Map[(String, String), Int]): Seq[Map[String, Any]] =
    census.toSeq.filter { case ((t, _), kinds) => kinds != 0 && !t.startsWith("__") }
      .sortBy(_._1).map { case ((t, k), kinds) =>
        val d = pyDtype.collect { case (b, d) if (kinds & b) != 0 => d }.minBy(d => (d == "str", d))
        Map[String, Any]("otype" -> t, "path" -> k, "shortname" -> shortenKey(k), "dtype" -> d)
      }

  /** Last dotted/colon piece of a path (props.py:355-360). */
  def getLast(prop: String): String = {
    val i = prop.lastIndexWhere(c => c == '.' || c == ':')
    if (i >= 0) prop.substring(i + 1) else prop
  }

  /** "Primary" property per SCO type, for scalar loads (props.py:362-383). */
  def primaryProp(scoType: String): String = scoType match {
    case "user-account"        => "user_id"
    case "file" | "mutex" | "process" | "software" | "windows-registry-value-type" |
        "x-ibm-finding"        => "name"
    case "directory"           => "path"
    case "autonomous-system"   => "number"
    case "windows-registry-key" => "key"
    case "x509-certificate"    => "serial_number"
    case "x-oca-asset"         => "hostname"
    case "x-oca-event"         => "action"
    case _                     => "value"
  }

  /** A parsed path link: either a plain property on a type, or a reference
    * hop from one type to another (props.py:498-530). */
  sealed trait Link
  case class NodeLink(scoType: String, prop: String) extends Link
  case class RelLink(fromType: String, refName: String, toType: String) extends Link

  /** Parse `type:prop` (with implicit-join ref hops) into links. */
  def parsePath(path: String): Seq[Link] = {
    val (scoType, prop) = splitPath(path)
    parseProp(scoType, prop)
  }

  def splitPath(path: String): (String, String) = {
    val i = path.lastIndexOf(':')
    if (i >= 0) (path.substring(0, i), path.substring(i + 1)) else ("", path)
  }

  def parseProp(scoType: String, prop: String): Seq[Link] = {
    if (!prop.contains("_ref.") && !prop.contains("_refs"))
      return Seq(NodeLink(scoType, prop))
    val parts = prop.split('.')
    val out = Seq.newBuilder[Link]
    var prevType = scoType
    var curScoType = scoType
    for (raw <- parts) {
      val isList = raw.endsWith("[*]")
      val part = if (isList) raw.dropRight(3) else raw
      if (!isRef(part)) {
        val p = if (isList) part + "[*]" else part
        out += NodeLink(prevType, p)
        prevType = part
      } else {
        val targets = refType(curScoType, part)
        if (targets.isEmpty) return Nil // unknown ref target
        val to = targets.head
        out += RelLink(curScoType, part, to)
        curScoType = to
        prevType = to
      }
    }
    out.result()
  }

  /** Curated STIX property metadata — (dtype, ftype) per type:prop, the
    * reference's KNOWN_PROPS feature-type table (props.py:15-313). ftype is
    * the ML-feature kind: timestamp | numerical | categorical. "" = derive
    * by heuristic in propMetadata. */
  val knownProps: Map[String, Map[String, (String, String)]] = {
    val ts = ("str", "timestamp")
    Map(
      "artifact" -> Map("payload_bin" -> ("str", "")),
      "autonomous-system" -> Map(
        "number" -> ("int", "categorical"), "name" -> ("str", ""), "rir" -> ("str", "")),
      "directory" -> Map(
        "accessed" -> ts, "created" -> ts, "modified" -> ts,
        "atime" -> ts, "ctime" -> ts, "mtime" -> ts, "path" -> ("str", "")),
      "domain-name" -> Map("value" -> ("str", "")),
      "email-addr" -> Map("value" -> ("str", "")),
      "email-message" -> Map(
        "is_multipart" -> ("bool", ""), "date" -> ts, "message_id" -> ("str", "")),
      "file" -> Map(
        "accessed" -> ts, "created" -> ts, "modified" -> ts,
        "atime" -> ts, "ctime" -> ts, "mtime" -> ts, "name" -> ("str", "")),
      "ipv4-addr" -> Map("value" -> ("str", "")),
      "ipv6-addr" -> Map("value" -> ("str", "")),
      "mac-addr" -> Map("value" -> ("str", "")),
      "mutex" -> Map("value" -> ("str", "")),
      "network-traffic" -> Map(
        "protocols" -> ("list", ""),
        "dst_port" -> ("int", "categorical"), "src_port" -> ("int", "categorical"),
        "dst_byte_count" -> ("int", "numerical"), "src_byte_count" -> ("int", "numerical"),
        "src_packets" -> ("int", "numerical"), "dst_packets" -> ("int", "numerical"),
        "ipfix.flowId" -> ("str", ""),
        "ipfix.maximumIpTotalLength" -> ("int", "numerical"),
        "ipfix.minimumIpTotalLength" -> ("int", "numerical"),
        "start" -> ts, "end" -> ts),
      "process" -> Map("created" -> ts, "created_time" -> ts),
      "software" -> Map.empty,
      "url" -> Map("value" -> ("str", "")),
      "user-account" -> Map(
        "user_id" -> ("str", ""), "account_login" -> ("str", ""),
        "account_created" -> ts, "account_expires" -> ts,
        "credential_last_changed" -> ts, "account_first_login" -> ts,
        "account_last_login" -> ts),
      "windows-registry-key" -> Map("modified" -> ts, "modified_time" -> ts),
      "x509-certificate" -> Map("validity_not_after" -> ts, "validity_not_before" -> ts),
      "x-ibm-finding" -> Map(
        "time_observed" -> ts, "start" -> ts, "end" -> ts,
        "rule_trigger_count" -> ("int", "numerical"), "severity" -> ("int", "numerical"),
        "event_count" -> ("int", "numerical")),
      "x-oca-asset" -> Map.empty,
      "x-oca-event" -> Map(
        "created" -> ts, "start" -> ts, "end" -> ts,
        "code" -> ("int", "categorical"), "duration" -> ("int", "numerical")),
      "observed-data" -> Map(
        "first_observed" -> ts, "last_observed" -> ts,
        "number_observed" -> ("int", "numerical"))
    )
  }

  private val likelyTimestamps: Set[String] =
    knownProps.values.flatMap(_.collect { case (p, (_, "timestamp")) => p }).toSet

  /** (dtype, ftype) for a property, resolving ref paths to their target
    * type and falling back to name heuristics (prop_metadata,
    * props.py:330-351). */
  def propMetadata(scoType: String, prop: String): (String, String) = {
    val direct = knownProps.getOrElse(scoType, Map.empty).get(prop)
    val meta = direct.orElse {
      parseProp(scoType, prop).lastOption match {
        case Some(NodeLink(t, p)) if t != scoType || p != prop =>
          knownProps.getOrElse(t, Map.empty).get(p)
        case _ => None
      }
    }.getOrElse(("str", ""))
    val dtype = if (meta._1.isEmpty) "str" else meta._1
    val ftype =
      if (meta._2.nonEmpty) meta._2
      else if (prop.endsWith("time") || prop.startsWith("time") || likelyTimestamps.contains(prop))
        "timestamp"
      else if (prop.endsWith("count") || prop.startsWith("count")) "numerical"
      else "categorical"
    (dtype, ftype)
  }

  /** propMetadata over a full `type:prop` path (props.py:318-322). */
  def pathMetadata(path: String): (String, String) = {
    val (t, p) = splitPath(path)
    propMetadata(t, p)
  }

  /** Auto-aggregation synthesis for grouped queries with no explicit aggs
    * (props.py:405-433): number_observed -> SUM; first_observed/start -> MIN;
    * last_observed/end -> MAX; ports/pids -> NUNIQUE unique_X; ints -> AVG
    * mean_X; else NUNIQUE unique_X. Returns (func, col, alias) or None. */
  def autoAgg(scoType: String, prop: String, colType: String): Option[(String, String, String)] = {
    val last = getLast(prop)
    if (Seq("x_root", "x_contained_by_ref", "type", "id").contains(last)) return None
    if (prop == "number_observed") return Some(("SUM", prop, prop))
    if (prop == "first_observed" || prop == "start") return Some(("MIN", prop, prop))
    if (prop == "last_observed" || prop == "end") return Some(("MAX", prop, prop))
    val (func, alias) =
      if ((scoType == "network-traffic" && prop.endsWith("_port")) ||
          (scoType == "process" && prop.endsWith("pid")))
        ("NUNIQUE", s"unique_$prop")
      else if (Seq("integer", "bigint", "long", "int").contains(colType.toLowerCase))
        ("AVG", s"mean_$prop")
      else ("NUNIQUE", s"unique_$prop")
    if (alias.length > 63) None else Some((func, prop, alias))
  }
}
