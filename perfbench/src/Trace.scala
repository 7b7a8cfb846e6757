package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.sds.{Scd2Store, SdsStore}

/** One traced interval. `group` names what it belongs to (a batch or a
  * read), `parent` the span that caused it (empty for a root). */
final case class Span(id: Long, group: String, layer: String, name: String,
                      startNs: Long, endNs: Long, parent: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; records nothing when disabled. */
final class Tracer(val enabled: Boolean) {
  private val seq = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = seq.incrementAndGet()

  def record(id: Long, group: String, layer: String, name: String, startNs: Long, endNs: Long,
             parent: Long): Unit =
    if (enabled) spans.add(Span(id, group, layer, name, startNs, endNs, parent))

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  /** Total length of the union of intervals (self time must not count
    * overlapping merges on Pipeline's pool twice). */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Store decorator that records one span per `SdsStore` call and tags
  * the Spark jobs a call runs with the span name (a thread-local Spark
  * property: merges run on Pipeline's pool threads, and each pool thread
  * calls `applyMerged` itself, so its jobs carry its own span). It also
  * remembers the newest committed batch tag, which is how the writer
  * knows a file has been applied. */
final class TracingStore(inner: Scd2Store, sc: SparkContext, tracer: Tracer) extends SdsStore {
  @volatile var lastTag: Long = -1L
  /** The batch the next calls belong to, and its span. */
  @volatile var group: String = ""
  @volatile var parent: Long = 0L

  private def traced[T](name: String)(body: => T): T =
    if (!tracer.enabled) body
    else {
      val id = tracer.newId()
      val prev = sc.getLocalProperty(TracingStore.SpanKey)
      sc.setLocalProperty(TracingStore.SpanKey, name)
      val t0 = System.nanoTime()
      try body
      finally {
        tracer.record(id, group, "Scd2Store", name, t0, System.nanoTime(), parent)
        sc.setLocalProperty(TracingStore.SpanKey, prev)
      }
    }

  def table(name: String): DataFrame = traced("resolve")(inner.table(name))
  def live(name: String): DataFrame = traced("resolve")(inner.live(name))
  def applyMerged(name: String, merged: DataFrame, tag: Long): Unit =
    traced(s"applyMerged.$name")(inner.applyMerged(name, merged, tag))
  def compactTo(name: String, full: DataFrame, tag: Long): Unit =
    traced(s"compactTo.$name")(inner.compactTo(name, full, tag))
  def appendBlocks(batch: DataFrame, tag: Long): Unit = {
    traced("appendBlocks")(inner.appendBlocks(batch, tag))
    lastTag = tag
  }
  def compactBlocks(full: DataFrame, tag: Long): Unit = {
    traced("compactBlocks")(inner.compactBlocks(full, tag))
    lastTag = tag
  }
}

object TracingStore {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
}

/** Per-job Spark work, attributed through the job's local properties. */
final class JobRec(val jobId: Int, val span: String, val op: String, val batch: String,
                   val startMs: Long) {
  @volatile var endMs: Long = -1L
  val stages = new LongAdder
  val tasks = new LongAdder
  val taskRunMs = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
  val outputBytes = new LongAdder
}

/** One SparkListener: jobs, stages, tasks, run time, shuffle, spill and
  * output bytes, keyed by job. */
final class WorkListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val pending = new AtomicLong(0)
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())

  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val rec = new JobRec(e.jobId, prop(TracingStore.SpanKey), prop(TracingStore.OpKey),
      prop("streaming.sql.batchId"), e.time)
    rec.stages.add(e.stageInfos.size.toLong)
    e.stageIds.foreach(s => stageJob.put(s, rec))
    jobs.put(e.jobId, rec)
    pending.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    pending.decrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) {
      rec.tasks.increment()
      rec.taskRunMs.add(m.executorRunTime)
      rec.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      rec.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      rec.outputBytes.add(m.outputMetrics.bytesWritten)
    }
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for a moment (events are delivered asynchronously). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      (pending.get() > 0 || System.currentTimeMillis() - lastEventMs.get() < 300)) Thread.sleep(50)
  }

  def all: Seq[JobRec] = jobs.values().asScala.toSeq
}

/** Local `file` FileSystem that counts the calls the store makes. Bound to
  * the `file` scheme through session conf in traced runs only. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { opens.increment(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = { deletes.increment(); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { lists.increment(); super.listStatus(f) }
  override def listLocatedStatus(f: Path) = { lists.increment(); super.listLocatedStatus(f) }
  override def listStatusIterator(f: Path) = { lists.increment(); super.listStatusIterator(f) }
}

object CountingLocalFs {
  val opens, creates, deletes, lists = new LongAdder

  final case class Snap(opens: Long, creates: Long, deletes: Long, lists: Long,
                        bytesRead: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(opens - o.opens, creates - o.creates, deletes - o.deletes,
      lists - o.lists, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  /** The counters now; bytes are those of every `file` FileSystem
    * instance in this JVM (Hadoop's per-scheme statistics). */
  @annotation.nowarn("cat=deprecation")
  def snap(): Snap = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Snap(opens.sum(), creates.sum(), deletes.sum(), lists.sum(),
      st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

object Jvm {
  /** Seconds from JVM start to now. */
  def sinceStartS(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Heap in use after full collections, in MB: the least reading of
    * 3 to 10 collections, stopping once two readings agree within 1 MB.
    * One collection is not enough: Spark's context cleaner releases
    * broadcast and shuffle blocks only after a collection has shown them
    * unreachable. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Long = { System.gc(); Thread.sleep(100); rt.totalMemory() - rt.freeMemory() }
    var prev = used()
    var least = prev
    var i = 1
    var settled = false
    while (i < 10 && !(settled && i >= 3)) {
      val cur = used()
      settled = math.abs(cur - prev) < (1L << 20)
      least = math.min(least, cur)
      prev = cur
      i += 1
    }
    least / (1024.0 * 1024.0)
  }
}
