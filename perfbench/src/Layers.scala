package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, and the trace file. Every traced
  * run reports every name in `Names`; a layer the workload does not
  * exercise reads 0. */
object Layers {
  val Tables: Seq[String] = Model.Columns.keys.toSeq.sorted
  val ReadOps: Seq[String] = Reads.Mix.map(_._1)

  /** (name, unit) of every per-layer metric, in report order. */
  val Names: Seq[(String, String)] =
    Seq(
      "Pipeline.self_s" -> "s", "Pipeline.store_span_union_s" -> "s", "Pipeline.jobs_per_batch" -> "count",
      "Pipeline.stages_per_batch" -> "count", "Pipeline.tasks_per_batch" -> "count",
      "Pipeline.jobs_outside_store_per_batch" -> "count", "Pipeline.core_busy_frac" -> "fraction",
      "Pipeline.merge_overlap" -> "ratio", "Pipeline.build_batch_s" -> "s",
      "Streaming.trigger_overhead_s" -> "s", "Streaming.walCommit_ms" -> "ms",
      "Streaming.queryPlanning_ms" -> "ms", "Decode.state_changes_per_s" -> "1/s",
      "Scd2Store.applyMerged_s" -> "s") ++
      Tables.map(t => s"Scd2Store.applyMerged.${t}_s" -> "s") ++
      Seq("Scd2Store.applyMerged_jobs" -> "count", "Scd2Store.appendBlocks_s" -> "s",
        "Scd2Store.compactTo_s" -> "s", "Scd2Store.compactBlocks_s" -> "s",
        "Scd2Store.resolve_s" -> "s", "fs.create_calls_per_batch" -> "count",
        "fs.list_calls_per_batch" -> "count", "fs.delete_calls_per_batch" -> "count",
        "fs.bytes_written_per_batch" -> "bytes", "Scd2Store.store_bytes_per_input_byte" -> "ratio") ++
      ReadOps.map(op => s"Queries.${op}_p50_s" -> "s") ++
      Seq("Queries.resolve_p50_s" -> "s", "Queries.execute_p50_s" -> "s",
        "Queries.jobs_per_read" -> "count", "Queries.tasks_per_read" -> "count",
        "fs.open_calls_per_read" -> "count", "fs.list_calls_per_read" -> "count",
        "fs.bytes_read_per_read" -> "bytes", "jvm.gc_s" -> "s")

  private def complete(m: Map[String, Double], traced: Seq[(String, Double, String)]): Seq[(String, Double, String)] =
    Names.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) } ++ traced

  private def jobsIn(l: WorkListener, startMs: Long, endMs: Long): Seq[JobRec] =
    l.all.filter(j => j.startMs >= startMs && j.startMs <= endMs)

  /** `sds_ingest`: per-batch figures are means (sums) or medians (times)
    * over the measured tail batches `tail`; compaction is the reorg
    * batch's total. */
  def ingest(tracer: Tracer, l: WorkListener, batches: Seq[Ingest.Batch], tail: Seq[Ingest.Batch],
             decodeRate: Double, gcS: Double,
             traced: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val spans = tracer.all.groupBy(_.group)
    val cores = Runtime.getRuntime.availableProcessors()
    def perBatch(f: Ingest.Batch => Double): Double = Stats.mean(tail.map(f))
    def medBatch(f: Ingest.Batch => Double): Double = Stats.median(tail.map(f))
    def storeSpans(b: Ingest.Batch) = spans.getOrElse(b.group, Nil).filter(_.layer == "Scd2Store")
    def storeUnion(b: Ingest.Batch) = Tracer.unionNs(storeSpans(b).map(s => (s.startNs, s.endNs))) / 1e9
    def spanSum(b: Ingest.Batch, p: String => Boolean) =
      storeSpans(b).filter(s => p(s.name)).map(_.seconds).sum
    def jobs(b: Ingest.Batch) = jobsIn(l, Clock.epochMs(b.startNs), Clock.epochMs(b.endNs))
    def dur(b: Ingest.Batch, k: String): Double =
      Option(b.progress).flatMap(pr => Option(pr.durationMs.get(k))).map(_.doubleValue).getOrElse(0.0)
    val all = batches.flatMap(storeSpans)
    val m = Map(
      "Pipeline.self_s" -> medBatch(b => b.seconds - storeUnion(b)),
      "Pipeline.store_span_union_s" -> medBatch(storeUnion),
      "Pipeline.jobs_per_batch" -> perBatch(jobs(_).size),
      "Pipeline.stages_per_batch" -> perBatch(jobs(_).map(_.stages.sum).sum),
      "Pipeline.tasks_per_batch" -> perBatch(jobs(_).map(_.tasks.sum).sum),
      "Pipeline.jobs_outside_store_per_batch" -> perBatch(jobs(_).count(_.span.isEmpty)),
      "Pipeline.core_busy_frac" -> perBatch(b =>
        jobs(b).map(_.taskRunMs.sum).sum / (b.seconds * 1e3 * cores)),
      "Pipeline.merge_overlap" -> medBatch { b =>
        val ms = storeSpans(b).filter(_.name.startsWith("applyMerged"))
        val u = Tracer.unionNs(ms.map(s => (s.startNs, s.endNs)))
        if (u == 0) 1.0 else ms.map(s => s.endNs - s.startNs).sum.toDouble / u
      },
      "Streaming.trigger_overhead_s" -> medBatch(b =>
        (dur(b, "triggerExecution") - dur(b, "addBatch")) / 1e3),
      "Streaming.walCommit_ms" -> medBatch(dur(_, "walCommit")),
      "Streaming.queryPlanning_ms" -> medBatch(dur(_, "queryPlanning")),
      "Decode.state_changes_per_s" -> decodeRate,
      "Scd2Store.applyMerged_s" -> perBatch(spanSum(_, _.startsWith("applyMerged."))),
      "Scd2Store.applyMerged_jobs" -> perBatch(jobs(_).count(_.span.startsWith("applyMerged."))),
      "Scd2Store.appendBlocks_s" -> perBatch(spanSum(_, _ == "appendBlocks")),
      "Scd2Store.compactTo_s" -> all.filter(_.name.startsWith("compactTo.")).map(_.seconds).sum,
      "Scd2Store.compactBlocks_s" -> all.filter(_.name == "compactBlocks").map(_.seconds).sum,
      "Scd2Store.resolve_s" -> perBatch(spanSum(_, _ == "resolve")),
      "fs.create_calls_per_batch" -> perBatch(_.fs.creates.toDouble),
      "fs.list_calls_per_batch" -> perBatch(_.fs.lists.toDouble),
      "fs.delete_calls_per_batch" -> perBatch(_.fs.deletes.toDouble),
      "fs.bytes_written_per_batch" -> perBatch(_.fs.bytesWritten.toDouble),
      "jvm.gc_s" -> gcS) ++
      Tables.map(t => s"Scd2Store.applyMerged.${t}_s" -> perBatch(spanSum(_, _ == s"applyMerged.$t")))
    complete(m, traced)
  }

  /** `rest_reads`: per-op medians over the window, work per read. */
  def reads(tracer: Tracer, l: WorkListener, buildS: Double, samples: Seq[Reads.Sample],
            fs: CountingLocalFs.Snap, gcS: Double, storeRatio: Double,
            traced: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val n = math.max(1, samples.size).toDouble
    val readJobs = l.all.filter(_.op.nonEmpty)
    val m = Map(
      "Pipeline.build_batch_s" -> buildS,
      "Scd2Store.store_bytes_per_input_byte" -> storeRatio,
      "Queries.resolve_p50_s" -> Stats.median(samples.map(s => (s.resolvedNs - s.startNs) / 1e9)),
      "Queries.execute_p50_s" -> Stats.median(samples.map(s => (s.endNs - s.resolvedNs) / 1e9)),
      "Queries.jobs_per_read" -> readJobs.size / n,
      "Queries.tasks_per_read" -> readJobs.map(_.tasks.sum).sum / n,
      "fs.open_calls_per_read" -> fs.opens / n,
      "fs.list_calls_per_read" -> fs.lists / n,
      "fs.bytes_read_per_read" -> fs.bytesRead / n,
      "jvm.gc_s" -> gcS) ++
      ReadOps.map { op =>
        val xs = samples.filter(_.op == op).map(_.seconds)
        require(xs.nonEmpty, s"no sample of read op $op")
        s"Queries.${op}_p50_s" -> Stats.median(xs)
      }
    samples.foreach { s =>
      val id = tracer.newId()
      val g = s"read:${s.client}"
      tracer.record(id, g, "Queries", s.op, s.startNs, s.endNs, 0L)
      tracer.record(tracer.newId(), g, "Queries", "resolve", s.startNs, s.resolvedNs, id)
      tracer.record(tracer.newId(), g, "Queries", "execute", s.resolvedNs, s.endNs, id)
    }
    complete(m, traced)
  }

  /** Spans and job records of a traced run, one JSON object per line. */
  def writeTrace(out: Path, workload: String, seed: Long, tracer: Tracer, l: WorkListener): Path = {
    val spans = tracer.all.sortBy(_.startNs).map(s => Json.obj("kind" -> "span", "workload" -> workload,
      "id" -> s.id, "group" -> s.group, "layer" -> s.layer, "name" -> s.name,
      "start_ms" -> Clock.epochMsExact(s.startNs), "end_ms" -> Clock.epochMsExact(s.endNs),
      "parent" -> s.parent))
    val jobs = l.all.sortBy(_.jobId).map(j => Json.obj("kind" -> "job", "workload" -> workload,
      "job" -> j.jobId, "span" -> j.span, "op" -> j.op, "stream_batch" -> j.batch,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages.sum,
      "tasks" -> j.tasks.sum, "task_run_ms" -> j.taskRunMs.sum, "shuffle_bytes" -> j.shuffleBytes.sum,
      "spill_bytes" -> j.spillBytes.sum, "output_bytes" -> j.outputBytes.sum))
    val f = out.resolve(s"trace-$workload-$seed.jsonl")
    Files.write(f, (spans ++ jobs).asJava, UTF_8)
    f
  }
}

/** Maps System.nanoTime readings onto the wall clock (Spark listener
  * events carry epoch milliseconds). */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def epochMsExact(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  def epochMs(ns: Long): Long = math.round(epochMsExact(ns))
}
