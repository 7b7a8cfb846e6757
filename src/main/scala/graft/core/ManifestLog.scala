package graft.core

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/** A directory of manifests `m<seq>`: the commit log of every store that
  * publishes its committed state as a list of lines — each SCD2 table
  * and the blocks log of `graft.sds.Scd2Store`, and the near-duplicate
  * store of `graft.streaming.IncrementalDedup`. The reference commits
  * each block in one Postgres transaction (`src/event_handler.rs:34-35`);
  * this is that transaction re-expressed for a distributed filesystem.
  *
  * A publish is a CREATE-EXCLUSIVE write of `m<seq>`, seq = 1 + the
  * highest seq ever seen (complete or partial), whose last line is an
  * end-marker. The name is never reused, so two writers that choose the
  * same seq cannot both publish: the second create fails loudly. The
  * close of that write IS the commit; nothing is renamed, so atomicity
  * does not depend on the filesystem's rename (it holds on local disk,
  * HDFS and rename-as-copy stores like S3A alike). A crash mid-write
  * leaves a file without the end-marker: readers skip it, and the next
  * publish supersedes it (fresh higher seq) and deletes it.
  *
  * Readers resolve the newest complete manifest. A publish keeps the
  * `retain` previous complete generations and deletes every other
  * manifest file; it returns the kept generations so the caller can
  * garbage-collect its own data directories. Callers own their line
  * format. Writers are single-process per log (Structured Streaming's
  * one-active-batch guarantee).
  *
  * `hook` is a test seam called with a commit-point label —
  * `<name>:pre-publish`, `<name>:post-commit`, `pre-read-manifest:m<seq>`
  * — where a throwing hook simulates a process kill. The log holds no
  * mutable state: instances over distinct directories run concurrently
  * without locks.
  */
final class ManifestLog(fs: FileSystem, dir: Path, name: String, retain: Int,
                        hook: String => Unit) {
  import ManifestLog._

  /** Manifest files by seq, newest first — partials included. */
  private def entries(): Seq[(Long, Path)] =
    (if (fs.exists(dir)) fs.listStatus(dir).toSeq.map(_.getPath) else Seq.empty)
      .flatMap { p =>
        val n = p.getName
        (if (n.startsWith("m")) n.drop(1).toLongOption else None).map(_ -> p)
      }
      .sortBy(-_._1)

  /** One manifest; None when the end-marker is missing (a crashed partial
    * publish). Throws `FileNotFoundException` when the file vanished
    * between list and open — a reader racing a publish's cleanup. */
  private def read(seq: Long, p: Path): Option[Generation] = {
    hook(s"pre-read-manifest:m$seq")
    val in = fs.open(p)
    val lines =
      try new String(in.readAllBytes(), UTF_8).linesIterator.toSeq
      finally in.close()
    if (!lines.lastOption.contains(EndMarker)) None
    else Some(Generation(seq, lines.init.filter(_.nonEmpty)))
  }

  /** Newest complete generation, None for an empty log. A listed file
    * that vanished before it was opened was collected by a concurrent
    * publish, so a NEWER manifest exists that the stale listing lacks:
    * that re-lists, never falls back to exhaustion (the lower seqs were
    * collected even earlier, and running out of them would read as an
    * empty store — the wrong-answer shape). Each re-list needs another
    * publish to land mid-read; a pass that hits no vanished file ends. */
  def latest(): Option[Generation] = {
    @annotation.tailrec
    def attempt(n: Int): Option[Generation] = {
      var raced = false
      val found = entries().iterator.flatMap { case (s, p) =>
        try read(s, p)
        catch { case _: FileNotFoundException => raced = true; None }
      }.nextOption()
      if (found.isDefined || !raced) found
      else if (n < MaxRelists) attempt(n + 1)
      else throw new IOException(s"manifest listing for $name kept vanishing " +
        s"across $MaxRelists re-lists — cleanup racing faster than reads can " +
        "complete; retain more generations")
    }
    attempt(1)
  }

  /** Publish `lines` as the new committed generation, delete superseded
    * manifest files, and return the kept generations: the new one first,
    * then the `retain` previous complete ones. A crash after the create
    * leaves only unreferenced files behind, which the next publish and
    * the caller's own collection remove. */
  def publish(lines: Seq[String]): Seq[Generation] = {
    fs.mkdirs(dir)
    val listed = entries()
    val seq = listed.headOption.fold(0L)(_._1) + 1
    val retained = listed.iterator.flatMap { case (s, p) =>
      try read(s, p)
      catch { case _: FileNotFoundException => None } // collected meanwhile
    }.take(retain).toSeq
    hook(s"$name:pre-publish") // the window between choosing a seq and
    // creating it — where a second writer's publish can land
    val out = fs.create(new Path(dir, s"m$seq"), false) // fails if it exists
    try out.write((lines :+ EndMarker).mkString("\n").getBytes(UTF_8))
    finally out.close()
    hook(s"$name:post-commit")
    val kept = Generation(seq, lines) +: retained
    val keep = kept.map(_.seq).toSet
    listed.filterNot { case (s, _) => keep(s) }.foreach { case (_, p) => fs.delete(p, false) }
    kept
  }
}

object ManifestLog {
  /** One complete manifest: its seq and its lines, end-marker removed. */
  final case class Generation(seq: Long, lines: Seq[String])

  /** Last line of every complete manifest. */
  private val EndMarker = "end"

  private val MaxRelists = 8
}
