package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.sds.Fixtures
import graft.sds.Fixtures.Change
import graft.sds.Schemas.MaxBlockNum

/** Generator parameters (one set per workload, from workloads.json). */
final case class GenParams(
    agents: Int, orgs: Int, certificates: Int, requests: Int, standards: Int,
    assertions: Int, zipf: Double, deleteShare: Double, reorgDepth: Int)

object GenParams {
  def from(p: Map[String, String]): GenParams = {
    def i(k: String) = p.getOrElse(k, sys.error(s"missing generator parameter $k")).toInt
    def d(k: String) = p.getOrElse(k, sys.error(s"missing generator parameter $k")).toDouble
    GenParams(i("agents"), i("orgs"), i("certificates"), i("requests"), i("standards"),
      i("assertions"), d("zipf"), d("delete_share"), i("reorg_depth"))
  }
}

/** Zipf(s) ranks 0..n-1 by inverse-CDF lookup; rank 0 is the hottest key. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); a(i) = acc; i += 1 }
    a
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble() * cdf(n - 1)
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** Expected reporting-store contents, kept by the generator as it emits
  * blocks. Each table keeps the projection in `Model.Columns` plus the
  * SCD2 interval, following the store's rules: every SET of an entity is
  * a new version that closes the key's live rows at its block (child
  * tables version with their parent, even to an empty set), an assertion
  * DELETE closes the live row, and a fork drops versions born at or after
  * the fork block and re-opens the ones it closed. */
final class Model {
  import Model._

  final class Row(val vals: Array[String], val start: Long, var end: Long) {
    def key: String = vals(0)
    def render: String = Model.render(vals.toSeq :+ start :+ end)
  }

  private val rows = mutable.Map[String, mutable.ArrayBuffer[Row]]()
  private val liveIdx = mutable.Map[String, mutable.HashMap[String, List[Row]]]()
  val blocks = mutable.TreeMap[Long, String]()
  Columns.keys.foreach { t => rows(t) = mutable.ArrayBuffer(); liveIdx(t) = mutable.HashMap() }

  /** A new version of `key` at `block` whose rows are `children` (each a
    * projection without the key column). */
  def version(table: String, key: String, block: Long, children: Seq[Seq[String]]): Unit = {
    close(table, key, block)
    val added = children.map(c => new Row((key +: c).toArray, block, MaxBlockNum)).toList
    rows(table) ++= added
    if (added.nonEmpty) liveIdx(table)(key) = added
  }

  def close(table: String, key: String, block: Long): Unit =
    liveIdx(table).remove(key).foreach(_.foreach(_.end = block))

  def isLive(table: String, key: String): Boolean = liveIdx(table).contains(key)

  def liveRows(table: String, key: String): List[Row] = liveIdx(table).getOrElse(key, Nil)

  def liveTable(table: String): Iterator[Row] = liveIdx(table).valuesIterator.flatten

  def allRows(table: String): Iterator[Row] = rows(table).iterator

  def keyRows(table: String, key: String): Seq[Row] = rows(table).filter(_.key == key).toSeq

  def asOf(table: String, block: Long): Iterator[Row] =
    rows(table).iterator.filter(r => r.start <= block && r.end > block)

  /** Fork rewind at block `f` (the store's `Scd2.rewind` plus the blocks
    * log reconcile). */
  def rewind(f: Long): Unit = {
    Columns.keys.foreach { t =>
      val kept = rows(t).filter(_.start < f)
      kept.foreach(r => if (r.end >= f) r.end = MaxBlockNum)
      rows(t) = kept
      val idx = mutable.HashMap[String, List[Row]]()
      kept.filter(_.end == MaxBlockNum).foreach(r => idx(r.key) = r :: idx.getOrElse(r.key, Nil))
      liveIdx(t) = idx
    }
    blocks --= blocks.keysIterator.filter(_ >= f).toSeq
  }

  /** Whole-store state as sorted rendered rows per table: what a phase-end
    * check compares the store against. */
  def snapshot(): Map[String, Vector[String]] =
    Columns.keys.map(t => t -> rows(t).iterator.map(_.render).toVector.sorted).toMap
}

object Model {
  /** Per table: the columns the model keeps, scope key first. */
  val Columns: Map[String, Seq[String]] = Map(
    "organizations" -> Seq("organization_id", "name", "organization_type"),
    "contacts" -> Seq("organization_id", "name", "phone_number"),
    "authorizations" -> Seq("organization_id", "public_key", "role"),
    "accreditations" -> Seq("organization_id", "standard_id", "standard_version"),
    "addresses" -> Seq("organization_id", "street_line_1", "city"),
    "agents" -> Seq("public_key", "organization_id", "name"),
    "certificates" -> Seq("certificate_id", "certifying_body_id", "factory_id", "standard_id",
      "standard_version"),
    "requests" -> Seq("request_id", "status"),
    "standards" -> Seq("standard_id", "organization_id", "name"),
    "standard_versions" -> Seq("standard_id", "version"),
    "assertions" -> Seq("assertion_id", "address", "object_id"))

  /** Row rendering shared with the store-side check: nulls as "\N". */
  def render(vals: Seq[Any]): String = vals.map(v => if (v == null) "\\N" else v.toString).mkString("|")
}

/** Seeded SDS traffic: EventList JSON lines, one per block, built with the
  * public `Fixtures` builders (entity JSON for fields those builders fix
  * is written here in the same wire shape).
  *
  * Every block carries one change per conformance fixture of the
  * reference's event-handler tests (FIXTURES.md, section A): an agent, a
  * certifying body, a factory, a certificate, a request, a standard and
  * an assertion. Together they write all 11 entity tables, so every
  * batch merges every table and batches of one size cost alike from seed
  * to seed. Keys of each kind are Zipf-skewed over their population;
  * assertions are sometimes deleted; `reorg()` re-sends the newest
  * blocks under new ids. The generator applies every block to `model` as
  * it emits it. */
final class Gen(seed: Long, p: GenParams) {
  val model = new Model
  private val rnd = new SplittableRandom(seed)
  // Organization ranks carry their type (`orgType`): half are factories,
  // three tenths certifying bodies. Each of the two is drawn over its own
  // ranks, so both are Zipf-skewed with their hottest key first.
  private val zipf: Map[String, Zipf] = Map(
    "agent" -> new Zipf(p.agents, p.zipf),
    "certifying_body" -> new Zipf(math.max(1, p.orgs * 3 / 10), p.zipf),
    "factory" -> new Zipf(math.max(1, p.orgs / 2), p.zipf),
    "certificate" -> new Zipf(p.certificates, p.zipf), "request" -> new Zipf(p.requests, p.zipf),
    "standard" -> new Zipf(p.standards, p.zipf), "assertion" -> new Zipf(p.assertions, p.zipf))
  private var head = 0L
  private var fork = 0
  private val addrCache = mutable.HashMap[String, String]()

  /** Words for factory names; no word is a substring of another or of the
    * rest of a name, so a word search matches exactly the factories that
    * carry it. */
  val words: Vector[String] = Vector("amber", "basalt", "cobalt", "dune", "ember", "fjord",
    "garnet", "heath", "indigo", "jasper", "kelp", "lichen", "marsh", "nectar", "onyx",
    "prairie", "quartz", "russet", "sierra", "tundra", "umber", "violet", "willow", "yarrow")

  def headBlock: Long = head

  /** The key of entity `kind` at rank `r`. */
  def key(kind: String, r: Int): String = Gen.KeyPrefix(kind) + r

  /** The organization rank of the `i`-th certifying body or factory. */
  private def orgRank(kind: String, i: Int): Int = kind match {
    case "certifying_body" => (i / 3) * 10 + 5 + i % 3
    case "factory" => (i / 5) * 10 + i % 5
  }

  private def blockId(num: Long, forkNo: Int): String = s"${java.lang.Long.toHexString(seed)}-$num-f$forkNo"

  private def addr(kind: String, id: String): String =
    addrCache.getOrElseUpdate(kind + id, kind match {
      case "agent" => Fixtures.agentAddress(id)
      case "organization" => Fixtures.orgAddress(id)
      case "certificate" => Fixtures.certAddress(id)
      case "request" => Fixtures.requestAddress(id)
      case "standard" => Fixtures.standardAddress(id)
      case "assertion" => Fixtures.assertionStateAddress(id)
    })

  // Stable per-key attributes, derived from the key's rank. Ranks ending
  // in 8 and 9 (standards bodies, ingestion orgs) are only referred to,
  // never written.
  private def orgType(r: Int): String = if (r % 10 < 5) "FACTORY" else "CERTIFYING_BODY"
  private def orgOfKind(base: Int, offset: Int): String =
    key("organization", (base % math.max(1, p.orgs / 10)) * 10 + offset)
  private def factoryWord(r: Int): String = words(r % words.size)
  private val orgTypeName = Map("FACTORY" -> "Factory", "CERTIFYING_BODY" -> "CertifyingBody")
  private val statuses = Seq("OPEN" -> "Open", "IN_PROGRESS" -> "InProgress",
    "CLOSED" -> "Closed", "CERTIFIED" -> "Certified")

  /** One change of entity `kind` at rank `r` in block `b`; applies it to
    * the model and returns its wire form. */
  private def change(kind: String, r: Int, b: Long): Change = kind match {
    case "agent" =>
      val id = key(kind, r)
      val org = key("organization", r % p.orgs)
      val name = s"agent $r r$b"
      model.version("agents", id, b, Seq(Seq(org, name)))
      Change(addr(kind, id), "SET", Fixtures.container(
        Fixtures.agentJson(publicKey = id, orgId = org, name = name, timestamp = b)))

    case "organization" =>
      val id = key(kind, r)
      val tpe = orgType(r)
      val name = if (tpe == "FACTORY") s"${factoryWord(r)} works $id r$b" else s"org $id r$b"
      val contacts = (0 to (b % 2).toInt).map(i => Seq(s"contact$i r$b", s"555-$r-$i"))
      val auths = (0 to ((b / 2) % 2).toInt).map(i =>
        Seq(key("agent", (r * 7 + i) % p.agents), if (i == 0) "ADMIN" else "TRANSACTOR"))
      val accred = if (tpe == "CERTIFYING_BODY") Seq(Seq(key("standard", ((r + b) % p.standards).toInt), s"v$b")) else Nil
      val street = s"$b Main St"
      val city = factoryWord(r + 1)
      model.version("organizations", id, b, Seq(Seq(name, orgTypeName(tpe))))
      model.version("contacts", id, b, contacts)
      model.version("authorizations", id, b,
        auths.map { case Seq(k, role) => Seq(k, if (role == "ADMIN") "Admin" else "Transactor") })
      model.version("accreditations", id, b, accred)
      model.version("addresses", id, b, if (tpe == "FACTORY") Seq(Seq(street, city)) else Nil)
      val details = tpe match {
        case "CERTIFYING_BODY" =>
          val a = accred.head
          s""","certifying_body_details":{"accreditations":[{"standard_id":"${a(0)}",""" +
            s""""standard_version":"${a(1)}","accreditor_id":"${orgOfKind(r, 8)}","valid_from":1,"valid_to":2}]}"""
        case "FACTORY" =>
          s""","factory_details":{"address":{"street_line_1":"$street","city":"$city",""" +
            s""""state_province":"","country":"NZ","postal_code":"$r"}}"""
      }
      val json = s"""{"id":"$id","name":${Fixtures.jstr(name)},"organization_type":"$tpe",""" +
        contacts.map(c => s"""{"name":"${c(0)}","phone_number":"${c(1)}","language_code":"en"}""")
          .mkString(""""contacts":[""", ",", "],") +
        auths.map(a => s"""{"public_key":"${a(0)}","role":"${a(1)}"}""")
          .mkString(""""authorizations":[""", ",", "]") + details + "}"
      Change(addr(kind, id), "SET", Fixtures.container(json))

    case "certificate" =>
      val id = key(kind, r)
      val body = orgOfKind(r, 5 + r % 3)
      val factory = orgOfKind(r / 3, r % 5)
      val std = key("standard", r % p.standards)
      val ver = s"v$b"
      model.version("certificates", id, b, Seq(Seq(body, factory, std, ver)))
      Change(addr(kind, id), "SET", Fixtures.container(
        s"""{"id":"$id","certifying_body_id":"$body","factory_id":"$factory",""" +
          s""""standard_id":"$std","standard_version":"$ver","valid_from":$b,"valid_to":${b + 100000}}"""))

    case "request" =>
      val id = key(kind, r)
      val (wire, stored) = statuses(rnd.nextInt(statuses.size))
      model.version("requests", id, b, Seq(Seq(stored)))
      Change(addr(kind, id), "SET", Fixtures.container(Fixtures.requestJson(id = id, status = wire)))

    case "standard" =>
      val id = key(kind, r)
      val org = orgOfKind(r, 8)
      val name = s"standard $id r$b"
      val versions = (0 to (b % 2).toInt).map(i => s"$b.$i")
      model.version("standards", id, b, Seq(Seq(org, name)))
      model.version("standard_versions", id, b, versions.map(v => Seq(v)))
      Change(addr(kind, id), "SET", Fixtures.container(
        s"""{"id":"$id","organization_id":"$org","name":${Fixtures.jstr(name)},"versions":[""" +
          versions.map(v => s"""{"version":"$v","link":"l","description":"d","approval_date":$b}""")
            .mkString(",") + "]}"))

    case "assertion" =>
      val id = key(kind, r)
      val stateAddr = addr(kind, id)
      if (model.isLive("assertions", id) && rnd.nextDouble() < p.deleteShare) {
        model.close("assertions", id, b)
        Change(stateAddr, "DELETE", "")
      } else {
        val obj = s"obj$b"
        model.version("assertions", id, b, Seq(Seq(stateAddr, obj)))
        Change(stateAddr, "SET", Fixtures.container(
          Fixtures.assertionJson(id = id, objectId = obj, address = stateAddr)))
      }
  }

  /** The next block on the chain: its EventList JSON line, with one
    * change of each kind in `Gen.BlockKinds`. */
  def nextBlock(): String = {
    head += 1
    val b = head
    val changes = Gen.BlockKinds.map {
      case k @ ("certifying_body" | "factory") => change("organization", orgRank(k, zipf(k).sample(rnd)), b)
      case k => change(k, zipf(k).sample(rnd), b)
    }
    val id = blockId(b, fork)
    model.blocks(b) = id
    Fixtures.batch(b, id, changes)
  }

  /** A reorg: the newest `reorgDepth` blocks are rewound in the model and
    * the returned lines re-send them with new ids and new content. */
  def reorg(): Seq[String] = {
    val from = head - p.reorgDepth + 1
    require(from >= 1, "reorg deeper than the chain")
    fork += 1
    model.rewind(from)
    head = from - 1
    (1 to p.reorgDepth).map(_ => nextBlock())
  }

  /** The generator's own random stream (for seeded spot checks). */
  def random: SplittableRandom = rnd

  /** A key of `kind` drawn with the writer's skew, from the caller's
    * stream (readers draw concurrently). An organization is a certifying
    * body or a factory, as written. */
  def sampleKey(kind: String, r: SplittableRandom): String = kind match {
    case "organization" =>
      val k = if (r.nextBoolean()) "certifying_body" else "factory"
      key(kind, orgRank(k, zipf(k).sample(r)))
    case _ => key(kind, zipf(kind).sample(r))
  }
}

object Gen {
  /** The changes of one block, one per conformance fixture of the
    * reference's event-handler tests (FIXTURES.md, section A). */
  val BlockKinds: Seq[String] = Seq("agent", "certifying_body", "factory", "certificate", "request",
    "standard", "assertion")

  val KeyPrefix: Map[String, String] = Map("agent" -> "pk", "organization" -> "o",
    "certificate" -> "c", "request" -> "q", "standard" -> "s", "assertion" -> "a")
}
