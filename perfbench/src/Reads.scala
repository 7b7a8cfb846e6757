package perfbench

import java.nio.file.Path
import java.util.Locale
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sds.{Pipeline, Queries, Scd2Store}
import graft.sds.Schemas.MaxBlockNum

/** `rest_reads`: the REST API's read mix against a static store.
  *
  * Set-up builds the store from the SDS generator through
  * `Pipeline.applyBatch`, in one batch: every table has its live files
  * and one history directory (the rows the batch's own later blocks
  * closed). Then `clients`
  * closed-loop clients (the reference API waits for a pooled connection
  * per request) issue a weighted mix of reads for the run's seconds,
  * each in whole cycles of the mix. Every answer is checked against the
  * generator's model. */
object Reads {
  /** Read mix: (op, reads per cycle of 20), i.e. 30% byKey, 15% each
    * profile, 10% certificatesResolved and history, 5% each of the rest. */
  val Mix: Seq[(String, Int)] = Seq(
    "byKey" -> 6, "profile_live" -> 3, "profile_asof" -> 3, "certificatesResolved" -> 2,
    "history" -> 2, "searchFactories" -> 1, "requestCountsByStatus" -> 1, "changes" -> 1,
    "asOf_deep" -> 1)

  /** The ops in a fixed interleaved order holding each as often as its
    * weight. Each client walks it from its own offset, so every run
    * issues the same mix and only keys and blocks depend on the seed. */
  val MixCycle: Vector[String] = {
    val left = mutable.LinkedHashMap(Mix: _*)
    val out = mutable.ArrayBuffer[String]()
    while (left.values.exists(_ > 0))
      left.foreach { case (op, n) => if (n > 0) { out += op; left(op) = n - 1 } }
    out.toVector
  }

  /** Entity tables and the generator kind whose keys they carry. */
  private val Entities: Seq[(String, String)] = Seq("organizations" -> "organization",
    "agents" -> "agent", "certificates" -> "certificate", "requests" -> "request",
    "standards" -> "standard", "assertions" -> "assertion")

  /** One read: what to call, and the answer the model expects. */
  final case class Op(name: String, call: () => DataFrame, render: Seq[Row] => Vector[String],
                      expected: Vector[String])

  /** One completed read. */
  final case class Sample(op: String, client: Int, startNs: Long, resolvedNs: Long, endNs: Long,
                          ok: Boolean) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  def run(spark: SparkSession, args: Main.Args, work: Path): Result = {
    import spark.implicits._
    val p = args.params
    def int(k: String) = p.getOrElse(k, sys.error(s"missing parameter $k")).toInt
    val gen = new Gen(args.seed, GenParams.from(p))
    val tracer = new Tracer(args.trace)
    val listener = new WorkListener
    if (args.trace) spark.sparkContext.addSparkListener(listener)

    // ---- set-up: build the store through the write path -------------------
    val raw = new Scd2Store(spark, work.resolve("store").toString)
    val store = new TracingStore(raw, spark.sparkContext, tracer)
    val lines = Seq.fill(int("build_blocks"))(gen.nextBlock())
    val inputBytes = lines.map(_.getBytes("UTF-8").length + 1L).sum
    store.group = "build"
    val buildStart = System.nanoTime()
    Pipeline.applyBatch(store, spark.createDataset(lines).toDF("value"))
    val buildS = (System.nanoTime() - buildStart) / 1e9
    Log("built")
    val queries = new Queries(raw)
    val head = gen.headBlock
    val setupS = Jvm.sinceStartS()

    // ---- timed: closed-loop clients ----------------------------------------
    val clients = int("clients")
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val gc0 = Jvm.gcSeconds()
    val fs0 = CountingLocalFs.snap()
    val windowStart = System.nanoTime()
    val deadline = windowStart + args.seconds * 1000000000L
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val rnd = new SplittableRandom(args.seed * 1000003L + c)
        var i = 0
        // Whole cycles only: every client issues the mix in its exact
        // proportions, at least once, whatever the host's speed.
        while (i == 0 || i % MixCycle.size != 0 || System.nanoTime() < deadline) {
          val op = pick(MixCycle((c * MixCycle.size / clients + i) % MixCycle.size), rnd, gen,
            queries, raw, head)
          val id = s"$c-$i"
          spark.sparkContext.setLocalProperty(TracingStore.OpKey, s"${op.name}#$id")
          val s = System.nanoTime()
          val outcome =
            try {
              val df = op.call()
              val r = System.nanoTime()
              val rows = df.collect().toSeq
              val e = System.nanoTime()
              val rendered = op.render(rows)
              val answer =
                if (args.corrupt.contains("read_answer") && i == 0 && c == 0) rendered :+ "planted row"
                else rendered
              val ok = answer == op.expected
              if (!ok) errors.add(s"${op.name} ($id): expected ${op.expected.take(3)} (${op.expected.size}), " +
                s"got ${answer.take(3)} (${answer.size})")
              Sample(op.name, c, s, r, e, ok)
            } catch {
              case ex: Exception =>
                errors.add(s"${op.name} ($id) threw $ex")
                Sample(op.name, c, s, s, System.nanoTime(), ok = false)
            }
          samples.add(outcome)
          i += 1
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    val windowS = (System.nanoTime() - windowStart) / 1e9
    val fsWindow = CountingLocalFs.snap() - fs0
    val gcS = Jvm.gcSeconds() - gc0
    errors.forEach(e => System.err.println(s"[perfbench] MISMATCH $e"))

    val all = scala.jdk.CollectionConverters.CollectionHasAsScala(samples).asScala.toSeq
    val done = all.filter(_.ok)
    val lat = all.map(_.seconds)
    val heap = Jvm.retainedHeapMb()
    Log(String.format(Locale.ROOT, "%d reads in %.1f s by %d clients: p50 %.3f s, p75 %.3f s, p90 %.3f s",
      Int.box(all.size), Double.box(windowS), Int.box(clients), Double.box(Stats.median(lat)),
      Double.box(Stats.quantile(lat, 0.75)), Double.box(Stats.quantile(lat, 0.9))))
    all.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, ss) =>
      System.err.println(String.format(Locale.ROOT, "[perfbench] %-22s n=%4d p50=%.3f s",
        op, Int.box(ss.size), Double.box(Stats.median(ss.map(_.seconds)))))
    }
    val metrics =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("throughput_per_s", done.size / windowS, "1/s"),
        ("latency_p50_s", Stats.median(lat), "s"),
        ("retained_heap_mb", heap, "MB"))
      else {
        listener.drain()
        Layers.reads(tracer, listener, buildS, all, fsWindow, gcS,
          storeBytes(work.resolve("store")).toDouble / inputBytes,
          Seq(("traced.throughput_per_s", done.size / windowS, "1/s"),
            ("traced.latency_p50_s", Stats.median(lat), "s")))
      }
    if (args.trace) Layers.writeTrace(args.out, "rest_reads", args.seed, tracer, listener)
    Result(errors.isEmpty, all.size, all.size - done.size, metrics)
  }

  def storeBytes(root: Path): Long = {
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  private def zipfKey(rnd: SplittableRandom, gen: Gen, kind: String): String =
    gen.sampleKey(kind, rnd)

  private def sorted(xs: Iterator[String]): Vector[String] = xs.toVector.sorted
  private def rowsOf(cols: Seq[String])(rows: Seq[Row]): Vector[String] =
    rows.map(r => Model.render(cols.map(c => r.get(r.fieldIndex(c))))).toVector.sorted
  private def withInterval(t: String): Seq[String] =
    Model.Columns(t) :+ "start_block_num" :+ "end_block_num"

  /** Draw the arguments of read `name` and compute its expected answer
    * from the model. */
  def pick(name: String, rnd: SplittableRandom, gen: Gen, q: Queries, store: Scd2Store,
           head: Long): Op = {
    val m = gen.model
    name match {
      case "byKey" =>
        val (t, kind) = Entities(rnd.nextInt(Entities.size))
        val key = if (rnd.nextInt(100) < 5) s"${Gen.KeyPrefix(kind)}-missing-${rnd.nextInt(1 << 20)}"
                  else zipfKey(rnd, gen, kind)
        Op("byKey", () => q.byKey(t, key), rowsOf(withInterval(t)),
          sorted(m.liveRows(t, key).iterator.map(_.render)))

      case op @ ("profile_live" | "profile_asof") =>
        val org = zipfKey(rnd, gen, "organization")
        val at = if (op == "profile_asof") Some(1 + rnd.nextLong(head)) else None
        def rows(t: String) = at.fold(m.liveRows(t, org).iterator)(b =>
          m.keyRows(t, org).iterator.filter(r => r.start <= b && r.end > b))
        val expected = rows("organizations").map { o =>
          profile(o.vals(1), o.vals(2), rows("contacts").map(_.vals(1)).toSeq,
            rows("authorizations").map(_.vals(1)).toSeq, rows("accreditations").map(_.vals(1)).toSeq,
            rows("addresses").map(_.vals(1)).toSeq)
        }.toVector
        Op(op, () => q.organizationProfile(org, at), rs => rs.map { r =>
          def kids(c: String, f: String): Seq[String] =
            Option(r.getAs[scala.collection.Seq[Row]](c)).fold(Seq.empty[String])(_.map(_.getAs[Any](f).toString).toSeq)
          profile(r.getAs[String]("name"), r.getAs[String]("organization_type"),
            kids("contacts", "name"), kids("authorizations", "public_key"),
            kids("accreditations", "standard_id"), kids("addresses", "street_line_1"))
        }.toVector.sorted, expected)

      case "certificatesResolved" =>
        val orgName = m.liveTable("organizations").map(r => r.key -> r.vals(1)).toMap
        val stdName = m.liveTable("standards").map(r => r.key -> r.vals(2)).toMap
        val expected = sorted(m.liveTable("certificates").flatMap { c =>
          for (f <- orgName.get(c.vals(2)); b <- orgName.get(c.vals(1)))
            yield Model.render(Seq(c.key, f, b, stdName.getOrElse(c.vals(3), null)))
        })
        Op("certificatesResolved", () => q.certificatesResolved(),
          rowsOf(Seq("certificate_id", "factory_name", "certifying_body_name", "standard_name")), expected)

      case "history" =>
        val (t, kind) = Entities(rnd.nextInt(Entities.size))
        val key = zipfKey(rnd, gen, kind)
        val pk = Model.Columns(t).head
        val expected = m.keyRows(t, key).sortBy(_.start).zipWithIndex
          .map { case (r, i) => s"${r.render}|${i + 1}" }.toVector
        Op("history", () => q.history(t, pk, key),
          rs => rs.map(r => Model.render(withInterval(t).map(c => r.get(r.fieldIndex(c))) :+
            r.getAs[Int]("version_no"))).toVector, expected)

      case "searchFactories" =>
        val word = gen.words(rnd.nextInt(gen.words.size))
        val expected = sorted(m.liveTable("organizations")
          .filter(r => r.vals(2) == "Factory" && r.vals(1).toLowerCase.contains(word))
          .map(r => Model.render(Seq(r.key, r.vals(1)))))
        Op("searchFactories", () => q.searchFactories(word),
          rowsOf(Seq("organization_id", "name")), expected)

      case "requestCountsByStatus" =>
        val expected = sorted(m.liveTable("requests").toSeq.groupBy(_.vals(1))
          .map { case (s, rs) => Model.render(Seq(s, rs.size)) }.iterator)
        Op("requestCountsByStatus", () => q.requestCountsByStatus(),
          rowsOf(Seq("status", "count")), expected)

      case "changes" =>
        val t = Model.Columns.keys.toSeq.sorted.apply(rnd.nextInt(Model.Columns.size))
        val since = math.max(0L, head - 1 - rnd.nextInt(20))
        val expected = sorted(m.allRows(t).flatMap { r =>
          if (r.start > since) Some(s"${r.render}|opened")
          else if (r.end > since && r.end != MaxBlockNum) Some(s"${r.render}|closed")
          else None
        })
        Op("changes", () => store.changes(t, since), rowsOf(withInterval(t) :+ "change_type"), expected)

      case "asOf_deep" =>
        val t = Model.Columns.keys.toSeq.sorted.apply(rnd.nextInt(Model.Columns.size))
        val b = 1 + rnd.nextLong(math.max(1L, head / 10))
        Op("asOf_deep", () => store.asOf(t, b), rowsOf(withInterval(t)),
          sorted(m.asOf(t, b).map(_.render)))
    }
  }

  private def profile(name: String, tpe: String, contacts: Seq[String], auths: Seq[String],
                      accred: Seq[String], addrs: Seq[String]): String =
    Seq(name, tpe, contacts.sorted.mkString(","), auths.sorted.mkString(","),
      accred.sorted.mkString(","), addrs.sorted.mkString(",")).mkString("|")
}
