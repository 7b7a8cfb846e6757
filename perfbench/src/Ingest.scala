package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.sds.{Decode, Pipeline, Scd2Store}

/** `sds_ingest`: one writer drives `Pipeline.fromFiles`, one JSON-lines
  * file per micro-batch, writing the next file only after the previous
  * one is applied (closed loop).
  *
  *  - set-up: session, catch-up input generation, store and stream;
  *  - catch-up: the backlog in one batch, in a fresh JVM, as an SDS pays
  *    it each time it starts. It is the JVM's first micro-batch, so JIT,
  *    codegen and class loading are most of its time (see README);
  *  - tail: `tail_batches` one-block batches at the chain tip, and more
  *    until the run's seconds are up. The median is taken over the first
  *    `tail_batches`, so every run reports the same kind of sample.
  *
  * A traced run then applies one reorg batch (see below). The run ends
  * with a check of the whole store against the model; a mismatch fails
  * every batch. */
object Ingest {
  /** How long a single batch may take before the run is abandoned. */
  private val BatchTimeoutMs = 120000L

  final class Writer(spark: SparkSession, work: Path, store: TracingStore, tracer: Tracer) {
    private val input = Files.createDirectories(work.resolve("input"))
    private val staging = Files.createDirectories(work.resolve("staging"))
    private var seq = 0
    val query: StreamingQuery =
      Pipeline.fromFiles(spark, input.toString, store, work.resolve("checkpoint").toString)

    /** Land one batch file and wait until its last block is committed.
      * Returns (file landed, applied) in System.nanoTime. */
    def apply(lines: Seq[String], tag: Long, group: String): (Long, Long) = {
      seq += 1
      val span = tracer.newId()
      store.group = group
      store.parent = span
      val name = String.format(Locale.ROOT, "batch-%06d.json", Int.box(seq))
      val tmp = staging.resolve(name)
      Files.write(tmp, lines.asJava, UTF_8)
      val t0 = System.nanoTime()
      Files.move(tmp, input.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      val deadline = System.currentTimeMillis() + BatchTimeoutMs
      // processAllAvailable can return before a trigger that started
      // ahead of the file landing has seen it: wait for the commit itself.
      while (store.lastTag < tag) {
        query.exception.foreach(e => throw e)
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(s"batch $name not applied within $BatchTimeoutMs ms")
        query.processAllAvailable()
      }
      val t1 = System.nanoTime()
      tracer.record(span, group, "Pipeline", "batch", t0, t1, 0L)
      (t0, t1)
    }
  }

  def run(spark: SparkSession, args: Main.Args, work: Path): Result = {
    val p = args.params
    def int(k: String) = p.getOrElse(k, sys.error(s"missing parameter $k")).toInt
    val gp = GenParams.from(p)
    val gen = new Gen(args.seed, gp)
    val tracer = new Tracer(args.trace)
    val listener = new WorkListener
    if (args.trace) spark.sparkContext.addSparkListener(listener)

    // ---- set-up: catch-up input, store, stream ------------------------------
    val catchup = Seq.fill(int("catchup_blocks"))(gen.nextBlock())
    val raw = new Scd2Store(spark, work.resolve("store").toString)
    val writer = new Writer(spark, work, new TracingStore(raw, spark.sparkContext, tracer), tracer)
    val batches = mutable.ArrayBuffer[Batch]()
    def runBatch(phase: String, lines: Seq[String], tag: Long): Batch = {
      val g = s"$phase:${batches.size}"
      val fs0 = CountingLocalFs.snap()
      val (s, e) = writer.apply(lines, tag, g)
      val b = Batch(g, phase, lines.size, s, e, CountingLocalFs.snap() - fs0, lastDataProgress(writer.query))
      batches += b
      Log(String.format(Locale.ROOT, "%-10s blocks=%6d wall=%.3f s", g, Int.box(lines.size), Double.box(b.seconds)))
      b
    }
    try {
      val setupS = Jvm.sinceStartS()
      val gc0 = Jvm.gcSeconds()

      // ---- catch-up: the backlog in one batch, cold, as at an SDS start ------
      val windowStart = System.nanoTime()
      val catchupB = runBatch("catchup", catchup, gen.headBlock)

      // ---- tail: one-block batches at the chain tip ---------------------------
      val tailBatches = int("tail_batches")
      require(tailBatches >= 1, "tail_batches must be at least 1")
      val deadline = windowStart + args.seconds * 1000000000L
      while (tailCount(batches) < tailBatches || System.nanoTime() < deadline)
        runBatch("tail", Seq(gen.nextBlock()), gen.headBlock)
      val gcS = Jvm.gcSeconds() - gc0
      val tailB = batches.toSeq.filter(_.phase == "tail").take(tailBatches)
      val tailP50 = Stats.median(tailB.map(_.seconds))
      val catchupRate = catchupB.blocks / catchupB.seconds
      Log(String.format(Locale.ROOT, "catch-up %.2f blocks/s (1 batch of %d blocks); tail p50 %.3f s over %d batches",
        Double.box(catchupRate), Int.box(catchupB.blocks), Double.box(tailP50), Int.box(tailB.size)))

      // Traced runs add one reorg batch after the timed phases: the newest
      // stored blocks re-sent under new ids, then the next block, so the
      // fork path (rewind, compactTo, compactBlocks) is measured and,
      // below, checked.
      if (args.trace) runBatch("reorg", gen.reorg() :+ gen.nextBlock(), gen.headBlock)
      writer.query.stop()
      val heap = Jvm.retainedHeapMb()

      // ---- check: the whole store against the model ---------------------------
      val errs = Check.store(raw, gen.model.snapshot(), gen.model.blocks.toMap, probes(gen),
        dropRow = args.corrupt.contains("store_row"))
      errs.foreach(e => System.err.println(s"[perfbench] MISMATCH $e"))
      Log("checked")
      val attempted = batches.size
      val failed = if (errs.isEmpty) 0 else attempted
      val metrics =
        if (!args.trace) Seq(
          ("setup_s", setupS, "s"),
          ("throughput_per_s", catchupRate, "1/s"),
          ("latency_p50_s", tailP50, "s"),
          ("retained_heap_mb", heap, "MB"))
        else {
          listener.drain()
          val decodeInput = { val g = new Gen(args.seed, gp); Seq.fill(int("decode_blocks"))(g.nextBlock()) }
          Layers.ingest(tracer, listener, batches.toSeq, tailB, decodeStateChangesPerS(spark, decodeInput), gcS,
            Seq(("traced.throughput_per_s", catchupRate, "1/s"),
              ("traced.latency_p50_s", tailP50, "s")))
        }
      if (args.trace) Layers.writeTrace(args.out, "sds_ingest", args.seed, tracer, listener)
      Result(failed == 0, attempted, failed, metrics)
    } finally {
      writer.query.stop()
    }
  }

  private def tailCount(bs: Iterable[Batch]): Int = bs.count(_.phase == "tail")

  /** The newest progress report of a trigger that read data. */
  private def lastDataProgress(q: StreamingQuery): StreamingQueryProgress =
    q.recentProgress.reverseIterator.find(_.numInputRows > 0).orNull

  /** One applied micro-batch as the writer saw it. */
  final case class Batch(group: String, phase: String, blocks: Int, startNs: Long, endNs: Long,
                         fs: CountingLocalFs.Snap,
                         progress: StreamingQueryProgress) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Three as-of spot checks at seeded (table, block) points. */
  def probes(gen: Gen): Seq[(String, Long, Vector[String])] = {
    val tables = Model.Columns.keys.toSeq.sorted
    (0 until 3).map { _ =>
      val t = tables(gen.random.nextInt(tables.size))
      val b = 1 + gen.random.nextLong(gen.headBlock)
      (t, b, gen.model.asOf(t, b).map(_.render).toVector.sorted)
    }
  }

  /** Decode throughput outside `applyBatch`, on `decode_blocks` blocks of
    * the same chain: the public parse → block → state-change chain plus
    * all 11 extractors, each written to the `noop` sink. */
  def decodeStateChangesPerS(spark: SparkSession, lines: Seq[String]): Double = {
    import spark.implicits._
    val raw = spark.createDataset(lines).toDF("value").cache()
    raw.count()
    val t0 = System.nanoTime()
    val sc = Decode.stateChanges(Decode.withBlock(Decode.parseEnvelope(raw))).cache()
    val n = sc.count()
    Decode.extractors.toSeq.sortBy(_._1).foreach { case (_, f) =>
      f(sc).write.format("noop").mode("overwrite").save()
    }
    val s = (System.nanoTime() - t0) / 1e9
    sc.unpersist(); raw.unpersist()
    n / s
  }
}
