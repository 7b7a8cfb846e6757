package graft.sds

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Schemas.MaxBlockNum

/** SCD Type 2 merge machinery (SURVEY.md §2.4, W1-W5).
  *
  * Tables are block-interval versioned: a row is valid on
  * `[start_block_num, end_block_num)`, the live version has
  * `end_block_num = MAX_BLOCK_NUM` (reference `src/event_handler.rs`
  * at_block impls). All operations below are set-wise DataFrame
  * transformations — a whole micro-batch of blocks merges in one pass
  * (window over version starts), no per-row driver loops — so the same
  * code scales from the local test store to a cluster; at 100 TB the
  * store layer would be swapped for Delta/Iceberg MERGE while this
  * version-chaining logic stays identical.
  *
  * Versioning model: `entityKey` is the close-out scope (the parent
  * entity's PK). An update at block b replaces the entity's child-row set
  * wholesale: previous versions close at b (W2), and re-applying the same
  * block is a no-op (exactly-once via idempotent merge, SURVEY §7.4).
  */
object Scd2 {

  /** Merge a batch of new entity versions into an existing SCD2 table.
    *
    * @param existing  current table contents
    * @param updates   new rows stamped (start_block_num=b, end_block_num=MAX)
    * @param entityKey columns identifying the entity whose version chain
    *                  advances (e.g. organization_id for contacts)
    * @param versionEvents optional extra (entityKey..., start_block_num)
    *                  version markers: a parent entity updated at block b
    *                  versions its child-row set even when the new set is
    *                  EMPTY — without the marker, removed children would
    *                  never close (no update row ⇒ no chain event)
    */
  def merge(existing: DataFrame, updates: DataFrame, entityKey: Seq[String],
            versionEvents: Option[DataFrame] = None): DataFrame = {
    val cols = existing.columns.toSeq
    val keyCols = entityKey.map(col)
    val versionCols = entityKey :+ "start_block_num"

    // Version events of this batch: every (entityKey, start) that has new
    // rows, plus the explicit markers.
    val newVersions = versionEvents.fold(
      updates.select(versionCols.map(col): _*))(ev =>
        updates.select(versionCols.map(col): _*)
          .unionByName(ev.select(versionCols.map(col): _*)))
      .distinct()

    // A version event replaces any stored rows of the same entity version
    // wholesale → idempotent replay.
    val kept = existing.join(newVersions, versionCols, "left_anti")

    val combined = kept.select(cols.map(col): _*)
      .unionByName(updates.select(cols.map(col): _*))

    // Close-out (W2): each version ends where the entity's next version
    // event occurs; rows already closed earlier (assertion DELETE, W3)
    // keep their earlier end. Markers participate as chain events so an
    // empty replacement set still closes the previous rows.
    val w = Window.partitionBy(keyCols: _*).orderBy(col("start_block_num"))
    val versions = combined
      .select(versionCols.map(col): _*).distinct()
      .unionByName(newVersions)
      .distinct()
      .withColumn("_next_start", lead(col("start_block_num"), 1).over(w))

    combined
      .join(versions, versionCols)
      .withColumn("end_block_num",
        least(col("end_block_num"), coalesce(col("_next_start"), lit(MaxBlockNum))))
      .select(cols.map(col): _*)
  }

  /** W3: close rows matched by `keyCol` at the earliest delete falling
    * inside their validity interval — no replacement row. Handles
    * multiple deletes (and delete/re-create chains) within one batch:
    * each row is clamped by its own earliest applicable delete, not a
    * batch-global minimum. Requires (keyCol, start_block_num) to
    * identify rows (true for assertions). `deletes` = (block_num,
    * <keyCol>); tiny per batch → broadcast. */
  def applyDeletes(table: DataFrame, deletes: DataFrame, keyCol: String): DataFrame = {
    val cols = table.columns.toSeq
    val d = broadcast(deletes.select(col(keyCol).as("_del_key"),
      col("block_num").as("_del_block")))
    val clamps = table.select(col(keyCol), col("start_block_num"), col("end_block_num"))
      .join(d, col(keyCol) === col("_del_key") &&
        col("start_block_num") <= col("_del_block") &&
        col("end_block_num") > col("_del_block"))
      .groupBy(col(keyCol), col("start_block_num"))
      .agg(min(col("_del_block")).as("_clamp"))
    table
      .join(broadcast(clamps), Seq(keyCol, "start_block_num"), "left")
      .withColumn("end_block_num",
        when(col("_clamp").isNotNull, least(col("end_block_num"), col("_clamp")))
          .otherwise(col("end_block_num")))
      .select(cols.map(col): _*)
  }

  /** W4 fork rewind: drop versions born at or after the fork point and
    * re-open versions that were closed by orphaned blocks. */
  def rewind(table: DataFrame, forkBlock: Long): DataFrame =
    table
      .filter(col("start_block_num") < forkBlock)
      .withColumn("end_block_num",
        when(col("end_block_num") >= forkBlock, lit(MaxBlockNum))
          .otherwise(col("end_block_num")))
}

/** Parquet-backed store for the SDS reporting tables — incremental
  * live/history layout (SURVEY.md §4 partitioning, taken further), with
  * a per-table manifest commit:
  *
  * ```
  * <root>/<table>/live/v<N>/     one row per live entity; rewritten per
  *                               batch under a NEW version number
  * <root>/<table>/history/b<T>/  rows CLOSED by batch T; append-only
  * <root>/<table>/history/f<T>-v<N>/  fork fold (W4): full closed set
  * <root>/<table>/_m/m<SEQ>      manifest (`graft.core.ManifestLog`):
  *                               live=/history=/livefile= lines
  * <root>/blocks/segs/s<T>-m<S>/ commit log: one segment per batch T
  * <root>/blocks/segs/c<T>-m<S>/ commit log: fold of the whole log at T
  * <root>/blocks/_m/m<SEQ>       manifest: the committed segment and
  *                               fold directories, one per line
  * ```
  *
  * Why: SCD2 history is immutable except at a fork — only the live set
  * changes per batch. Appending the newly-closed rows and rewriting just
  * the (bounded) live set makes per-batch write cost O(live + batch),
  * INDEPENDENT of history depth — the property that keeps ingest flat at
  * 100 TB of accumulated history. Current-state queries read `live/`
  * alone; as-of/history queries union both.
  *
  * Atomicity: readers resolve state exclusively through the newest
  * complete manifest of a `ManifestLog`, whose create-exclusive,
  * end-marker-validated publish is the commit (no rename anywhere). A
  * commit writes all data directories first, never touching a directory
  * any committed manifest references, then publishes. A crash at ANY
  * point leaves either the old manifest current (old state fully intact,
  * the streaming engine replays the batch) or the new one (commit
  * complete); unreferenced directories from crashed attempts are
  * garbage-collected by the next commit. The production multi-writer
  * swap-in is Delta/Iceberg MERGE, which keeps this exact layout idea as
  * partition `live = end_block_num = MAX`.
  *
  * Reader contract: `live()`/`table()` resolve concrete directory paths
  * at call time and return lazy DataFrames; commits retain the
  * directories of the previous `retainGenerations` manifests (default
  * 1), so a reader must materialize within `retainGenerations + 1`
  * further batch commits or risk FileNotFoundException on the GC'd
  * paths. Long-running readers (a dashboard holding frames across many
  * batches) raise `retainGenerations` at store construction — retention
  * costs only the retained live-set copies, history is shared.
  */
final class Scd2Store(spark: SparkSession, root: String,
                      retainGenerations: Int = 1) extends SdsStore {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}
  import graft.core.ManifestLog

  private val fs: FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Test-only crash injection: invoked with a commit-point label; a
    * throwing hook simulates a process kill at that point. */
  private[sds] var failpoint: String => Unit = _ => ()

  private def dir(name: String): HPath = new HPath(root, name)
  private def historyDir(name: String): HPath = new HPath(dir(name), "history")

  /** The manifest log of a table or of the blocks log. */
  private def log(name: String): ManifestLog =
    new ManifestLog(fs, new HPath(dir(name), "_m"), name, retainGenerations,
      l => failpoint(l))

  private def empty(name: String): DataFrame = {
    val schema = if (name == "blocks") Schemas.blocksTable else Schemas.tables(name)._1
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def listDir(p: HPath): Seq[HPath] =
    if (fs.exists(p)) fs.listStatus(p).toSeq.map(_.getPath) else Seq.empty

  private def deleteRecursively(p: HPath): Unit =
    if (fs.exists(p)) fs.delete(p, true)

  private def hasParquet(p: HPath): Boolean = fs.exists(p) && {
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) found = it.next().getPath.getName.endsWith(".parquet")
    found
  }

  // ---- table manifests -------------------------------------------------

  /** `liveFiles`: per-file zone map of the current live version —
    * (fileName, lo, hi) over the `_k` key-bucket column — carried in
    * the manifest so a PK point lookup selects its one file without
    * listing or footer-probing anything at read time. Empty for
    * manifests written before the zone maps existed (or for tables
    * without a registered scope key): readers degrade to the full live
    * read, never a wrong answer. */
  private case class Manifest(liveVersion: Int, history: Seq[String],
                              liveFiles: Seq[(String, Int, Int)])

  /** Parse a complete table manifest. A complete one without a live=
    * line is genuine corruption and fails loudly. */
  private def parse(name: String, g: ManifestLog.Generation): Manifest = {
    def corrupt(why: String) = new java.io.IOException(
      s"corrupt manifest $name/_m/m${g.seq}: $why")
    val liveV = g.lines.collectFirst { case l if l.startsWith("live=") =>
      l.stripPrefix("live=").toInt }.getOrElse(throw corrupt(
      s"no live= line (content: ${g.lines.mkString("\\n").take(200)})"))
    val liveFiles = g.lines.collect { case l if l.startsWith("livefile=") =>
      l.stripPrefix("livefile=").split(",", 3) match {
        case Array(n, lo, hi) => (n, lo.toInt, hi.toInt)
        case _ => throw corrupt(s"malformed livefile line ($l)")
      }
    }
    Manifest(liveV,
      g.lines.collect { case l if l.startsWith("history=") => l.stripPrefix("history=") },
      liveFiles)
  }

  private def latestManifest(name: String): Option[Manifest] =
    log(name).latest().map(parse(name, _))

  /** Publish a new committed state, then garbage-collect every live and
    * history directory not referenced by the new or the
    * `retainGenerations` previous complete manifests (leftovers of
    * crashed attempts and superseded generations). Retention gives lazy
    * readers that resolved paths before this commit `retainGenerations`
    * full batches to materialize (see the reader contract in the class
    * doc). */
  private def commit(name: String, liveVersion: Int, history: Seq[String],
                     liveFiles: Seq[(String, Int, Int)]): Unit = {
    val kept = log(name).publish(
      (s"live=$liveVersion" +: history.sorted.map("history=" + _)) ++
        liveFiles.sortBy(_._1).map { case (n, lo, hi) => s"livefile=$n,$lo,$hi" })
      .map(parse(name, _))
    val keepLive = kept.map(m => s"v${m.liveVersion}").toSet
    val keepHist = kept.flatMap(_.history).toSet
    listDir(new HPath(dir(name), "live"))
      .filterNot(p => keepLive.contains(p.getName)).foreach(deleteRecursively)
    listDir(historyDir(name))
      .filterNot(p => keepHist.contains(p.getName)).foreach(deleteRecursively)
  }

  private def liveOf(name: String, m: Option[Manifest]): DataFrame =
    m match {
      case Some(mf) =>
        val p = new HPath(dir(name), s"live/v${mf.liveVersion}")
        // _k is the write-side sort/zone-map bucket, not entity data
        if (hasParquet(p)) spark.read.parquet(p.toString).drop("_k")
        else empty(name)
      case None => empty(name)
    }

  /** Live-state view (Q1): one row per entity, read from the live set
    * alone — cost independent of history depth. */
  def live(name: String): DataFrame = liveOf(name, latestManifest(name))

  /** PK point lookup on the live set, MANIFEST-BOUNDED: the live write
    * range-splits rows by `_k` = hash-bucket of the scope key and the
    * manifest carries each file's exact [lo, hi] `_k` range (read once
    * from the parquet footers at write time), so a lookup opens the ONE
    * file whose range covers the key's bucket — not the whole live
    * partition. At a 1000-executor store with thousands of live files,
    * that is the difference between a point read and a full scan.
    * Manifests without zone maps degrade to the filtered full read. */
  def pointLookup(name: String, keyValue: String): DataFrame = {
    val m = latestManifest(name)
    // loud, named failure instead of a bare key-not-found: a typo'd or
    // unregistered table has no scope key to look up by
    val keyCol = Schemas.tables.get(name).map(_._2.head).getOrElse(
      throw new IllegalArgumentException(
        s"pointLookup: table '$name' has no registered scope key; " +
          s"known tables: ${Schemas.tables.keys.toSeq.sorted.mkString(", ")}"))
    val base = m match {
      case Some(mf) if mf.liveFiles.nonEmpty =>
        val k = Scd2Store.liveKeyBucket(keyValue)
        val hit = mf.liveFiles.filter { case (_, lo, hi) => lo <= k && k <= hi }
        if (hit.isEmpty) liveOf(name, m).limit(0) // bucket absent: no such key
        else spark.read.parquet(hit.map { case (n, _, _) =>
          new HPath(dir(name), s"live/v${mf.liveVersion}/$n").toString }: _*)
          .drop("_k")
      case _ => liveOf(name, m)
    }
    base.filter(col(keyCol) === keyValue)
  }

  /** Measurement hook (spec + scale harness): (total live files in the
    * committed zone map, files a `pointLookup(keyValue)` actually
    * reads). */
  private[graft] def pointLookupFootprint(name: String, keyValue: String): (Int, Int) = {
    val files = latestManifest(name).fold(Seq.empty[(String, Int, Int)])(_.liveFiles)
    val k = Scd2Store.liveKeyBucket(keyValue)
    (files.size, files.count { case (_, lo, hi) => lo <= k && k <= hi })
  }

  /** Write the live set for version `liveV` as range-split sorted files
    * keyed by the `_k` bucket of the table's scope key, and return the
    * per-file [lo, hi] zone map (one bounded footer read per file at
    * write time — the read path never probes anything). Tables without
    * a single registered scope key get a plain write and no zone map. */
  private def writeLive(name: String, liveRows: DataFrame, liveV: Int): Seq[(String, Int, Int)] = {
    val dest = new HPath(dir(name), s"live/v$liveV")
    val keyCols = Schemas.tables.get(name).map(_._2).getOrElse(Seq.empty)
    if (keyCols.length != 1) {
      liveRows.write.mode("overwrite").parquet(dest.toString)
      Seq.empty
    } else {
      val rows = liveRows.count()
      val target = spark.conf.get(Scd2Store.LiveTargetRowsKey,
        Scd2Store.LiveTargetRowsDefault.toString).toLong
      require(target > 0, s"${Scd2Store.LiveTargetRowsKey} must be positive")
      val nFiles = math.max(1L, (rows + target - 1) / target).toInt
      liveRows
        .withColumn("_k", pmod(xxhash64(col(keyCols.head)),
          lit(Scd2Store.LiveKeyBuckets)).cast("int"))
        .repartitionByRange(nFiles, col("_k"))
        .sortWithinPartitions(col("_k"), col(keyCols.head))
        .write.mode("overwrite").parquet(dest.toString)
      val conf = spark.sparkContext.hadoopConfiguration
      listDir(dest)
        .filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName)
        .flatMap(p => graft.core.Footers.intRange(p, conf, "_k")
          .map { case (lo, hi) => (p.getName, lo, hi) })
    }
  }

  /** Full SCD2 view: live + closed history. Resolves ONE manifest per
    * call, so the live and history halves always come from the same
    * committed generation. */
  def table(name: String): DataFrame = {
    if (name == "blocks") return blocks()
    val m = latestManifest(name)
    val hist = m.fold(Seq.empty[String])(_.history)
      .map(h => new HPath(historyDir(name), h).toString)
    if (hist.isEmpty) liveOf(name, m)
    else liveOf(name, m).unionByName(spark.read.parquet(hist: _*))
  }

  // ---- blocks commit log: manifest-committed segments ------------------
  //
  // One O(batch) segment per batch (tag T = batch max block), never
  // rewritten once committed; reads reconcile last-id-wins by `_seg` = T.
  // A rare fold (fork, or segment count past BlockCompactThreshold)
  // replaces the whole list and keeps read fan-in bounded. Every directory
  // name carries the suffix m<S>, S = 1 + the newest committed seq when it
  // was written: no committed manifest can reference that name yet, so a
  // write (and a crashed attempt's replay over its residue) never touches
  // a directory a reader can see.

  private def blockSegRoot: HPath = new HPath(dir("blocks"), "segs")

  private val blockSegSchema = Schemas.blocksTable.add("_seg", "long")

  /** Committed blocks-log directories and the suffix for a new one. */
  private def blockDirs(): (Seq[String], Long) =
    log("blocks").latest().fold((Seq.empty[String], 1L))(g => (g.lines, g.seq + 1))

  /** Batch tag of a blocks-log directory `s<T>-m<S>` or `c<T>-m<S>`. */
  private def blockTag(d: String): Long = d.drop(1).takeWhile(_ != '-').toLong

  /** Publish the blocks log as `dirs` and GC unreferenced directories. */
  private def commitBlocks(dirs: Seq[String]): Unit = {
    val keep = log("blocks").publish(dirs).flatMap(_.lines).toSet
    listDir(blockSegRoot).filterNot(p => keep(p.getName)).foreach(deleteRecursively)
  }

  /** Reconciled commit log: last block_id per block_num wins, by segment
    * tag (D4 across batches). Distributed — nothing driver-side. */
  def blocks(): DataFrame = {
    val segs = blockDirs()._1
    if (segs.isEmpty) empty("blocks")
    else spark.read.schema(blockSegSchema)
      .parquet(segs.map(d => new HPath(blockSegRoot, d).toString): _*)
      .groupBy("block_num")
      .agg(max_by(col("block_id"), col("_seg")).as("block_id"))
  }

  /** W5 append: one O(batch) segment, idempotent by tag — a replayed tag
    * already in a committed segment, or at or below a committed fold's
    * tag, adds nothing. So within one committed list every segment's tag
    * exceeds the fold's and the `_seg` reconcile never ties. */
  def appendBlocks(batch: DataFrame, tag: Long): Unit = {
    val (dirs, next) = blockDirs()
    val covered = dirs.exists(d =>
      blockTag(d) == tag || (d.startsWith("c") && blockTag(d) >= tag))
    val committed =
      if (covered) dirs
      else {
        val seg = s"s$tag-m$next"
        batch.withColumn("_seg", lit(tag))
          .write.mode("overwrite").parquet(new HPath(blockSegRoot, seg).toString)
        commitBlocks(dirs :+ seg)
        dirs :+ seg
      }
    if (committed.size > Scd2Store.BlockCompactThreshold)
      compactBlocks(blocks(), tag)
  }

  /** Fold the log into one directory — fork rewind (W4) or periodic
    * compaction. The write executes the read of the committed segments
    * into a fresh directory no manifest references; the manifest publish
    * makes it visible and supersedes everything else at once. A crash
    * before the publish leaves the old log intact (a replay overwrites
    * the unreferenced residue); after it, only unreferenced directories
    * are left for the next commit to collect. The commit log is never
    * empty or lost. */
  def compactBlocks(full: DataFrame, tag: Long): Unit = {
    val fold = s"c$tag-m${blockDirs()._2}"
    failpoint("compactBlocks:pre-promote")
    full.withColumn("_seg", lit(tag))
      .write.mode("overwrite").parquet(new HPath(blockSegRoot, fold).toString)
    failpoint("compactBlocks:post-promote")
    commitBlocks(Seq(fold))
  }

  /** Apply a merged batch result: newly-closed rows append to history
    * (idempotent: skipped when batch `tag` is already in the manifest),
    * the live remainder writes a new live version, and one manifest
    * publish commits both together. */
  def applyMerged(name: String, merged: DataFrame, tag: Long): Unit = {
    merged.persist()
    try {
      val m = latestManifest(name)
      val histName = s"b$tag"
      val prevHist = m.fold(Seq.empty[String])(_.history)
      var newHist = prevHist
      if (!prevHist.contains(histName)) {
        val target = new HPath(historyDir(name), histName)
        deleteRecursively(target) // partial write from a crashed attempt
        val closed = merged.filter(col("end_block_num") =!= MaxBlockNum)
        // asOf prunes any history dir whose tag T satisfies T <= queried
        // block, on the invariant that dir T only holds rows with
        // end_block_num <= T. Enforce it at write time: a violation here
        // would silently turn plan-time pruning into wrong answers.
        val maxEnd = maxClosedEnd(closed)
        maxEnd.foreach(e => require(e <= tag,
          s"history dir b$tag would hold a row closed at block $e > $tag; " +
        "as-of tag pruning requires end_block_num <= dir tag"))
        if (maxEnd.isDefined) {
          closed.write.mode("overwrite").parquet(target.toString)
          newHist = prevHist :+ histName
        }
      }
      val liveV = m.fold(-1)(_.liveVersion) + 1
      val lf = writeLive(name,
        merged.filter(col("end_block_num") === MaxBlockNum), liveV)
      failpoint(s"applyMerged:$name:pre-commit")
      commit(name, liveV, newHist, lf)
    } finally merged.unpersist()
  }

  /** Fork path (W4): the rewound table replaces everything — history is
    * compacted into one fold directory, a new live version is written,
    * and the manifest publish commits both atomically. The fold name
    * embeds the new live version so a replayed attempt never rewrites a
    * directory the current manifest references; until the manifest
    * publish lands, readers see the intact pre-compaction state.
    *
    * This is ALSO the history-maintenance hook: normal ingest appends
    * one `b<tag>` directory per batch, so the read fan-in of
    * history/as-of queries grows with batch count; running
    * `compactTo(name, table(name), tag)` periodically (an operator
    * decision, like VACUUM — cost is O(total history), so schedule it
    * off the ingest path) folds the accumulated directories into one
    * and restores single-directory history reads, with data and
    * crash-safety identical before and after (manifest-committed). */
  def compactTo(name: String, full: DataFrame, tag: Long): Unit = {
    full.persist()
    try {
      val liveV = latestManifest(name).fold(-1)(_.liveVersion) + 1
      val closed = full.filter(col("end_block_num") =!= MaxBlockNum)
      // The fold dir's tag drives asOf plan-time pruning (dir tag T ⇒
      // every row has end_block_num <= T). `tag` is caller-supplied on
      // this public maintenance hook, so clamp the DIR tag up to the max
      // closed end actually present — an under-tagged fold would be
      // wrongly pruned and silently drop rows alive at the queried block.
      val maxEnd = maxClosedEnd(closed)
      val dirTag = maxEnd.fold(tag)(math.max(tag, _))
      val foldName = s"f$dirTag-v$liveV"
      if (maxEnd.isDefined)
        closed.write.mode("overwrite").parquet(
          new HPath(historyDir(name), foldName).toString)
      val lf = writeLive(name,
        full.filter(col("end_block_num") === MaxBlockNum), liveV)
      failpoint(s"compactTo:$name:pre-commit")
      commit(name, liveV,
        if (maxEnd.isDefined) Seq(foldName) else Seq.empty, lf)
    } finally full.unpersist()
  }

  /** Max end_block_num among closed rows (None ⇔ no closed rows): one
    * job replacing the previous isEmpty probe, and the value that the
    * as-of tag-pruning invariant is checked against at write time. */
  private def maxClosedEnd(closed: DataFrame): Option[Long] = {
    val r = closed.agg(max("end_block_num")).collect()(0)
    Option(r.get(0)).map(_.asInstanceOf[Long])
  }

  /** Point-in-time view (Q2): state as of block b, MANIFEST-BOUNDED:
    * a history directory's name carries its batch tag (`b<T>` ingest
    * append, `f<T>-v<N>` fork/compaction fold) and by construction only
    * ever holds rows CLOSED by batch T — every row satisfies
    * end_block_num ≤ T — so any directory with T ≤ b is pruned at PLAN
    * TIME (all its rows fail the `end_block_num > b` predicate). As-of
    * cost therefore follows live-set size + batches SINCE the queried
    * block, not total chain depth: the near-head time travel a reporting
    * store actually serves stays flat as the chain grows (measured in
    * SCALING_LOCAL.json `asof_depth`). Deep-past as-of over a long
    * un-compacted chain still reads every newer directory — that is the
    * documented `compactTo` maintenance case. */
  def asOf(name: String, block: Long): DataFrame = {
    val m = latestManifest(name)
    val hist = m.fold(Seq.empty[String])(_.history)
      .filter(h => histTag(h).forall(_ > block))
      .map(h => new HPath(historyDir(name), h).toString)
    val base =
      if (hist.isEmpty) liveOf(name, m)
      else liveOf(name, m).unionByName(spark.read.parquet(hist: _*))
    base.filter(col("start_block_num") <= block && col("end_block_num") > block)
  }

  /** CDC change feed (Delta's table_changes re-expressed for the
    * block-interval store): every version-row change committed AFTER
    * block `since`, classified
    *   - `opened`: a version born after `since` (the post-image of an
    *     update, or a brand-new entity) — found in live (still open) or
    *     history (already closed again);
    *   - `closed`: a version that was live AT `since` and has since been
    *     closed (the pre-image of an update, or a delete close-out) —
    *     by definition end_block_num ≠ MAX, so it lives ONLY in history.
    * Replaying `closed` removals then `opened` additions on top of
    * `asOf(since)` reconstructs `table()` exactly — the incremental-
    * consumer contract, spec-checked.
    *
    * MANIFEST-BOUNDED like `asOf`: both halves only ever need history
    * directories with tag > `since` (a row opened-and-closed after
    * `since` sits in a dir tagged ≥ its end > `since`; a row closed
    * after `since` likewise), so a near-head incremental poll — the
    * call pattern a CDC consumer actually makes — reads the live set
    * plus batches-since-`since`, not the chain. */
  def changes(name: String, since: Long): DataFrame = {
    val m = latestManifest(name)
    val hist = m.fold(Seq.empty[String])(_.history)
      .filter(h => histTag(h).forall(_ > since))
      .map(h => new HPath(historyDir(name), h).toString)
    val histDf =
      if (hist.isEmpty) empty(name) else spark.read.parquet(hist: _*)
    val opened = liveOf(name, m).unionByName(histDf)
      .filter(col("start_block_num") > since)
      .withColumn("change_type", lit("opened"))
    val closed = histDf
      .filter(col("start_block_num") <= since &&
        col("end_block_num") > since && col("end_block_num") =!= MaxBlockNum)
      .withColumn("change_type", lit("closed"))
    opened.unionByName(closed)
  }

  /** Measurement hook: (total committed history dirs, dirs a
    * `changes(since)` plan actually reads after tag pruning). */
  private[graft] def changesFootprint(name: String, since: Long): (Int, Int) = {
    val h = latestManifest(name).fold(Seq.empty[String])(_.history)
    (h.size, h.count(n => histTag(n).forall(_ > since)))
  }

  /** Batch tag of a history directory name (`b<T>` or `f<T>-v<N>`);
    * None — never pruned — for unrecognized names, so an unknown layout
    * degrades to the full read, not a wrong answer. */
  private def histTag(h: String): Option[Long] =
    if (h.startsWith("b")) h.drop(1).toLongOption
    else if (h.startsWith("f")) h.drop(1).takeWhile(_ != '-').toLongOption
    else None

  /** Measurement hook (scale harness): (total committed history dirs,
    * dirs an `asOf(block)` plan actually reads after tag pruning). */
  private[graft] def asOfFootprint(name: String, block: Long): (Int, Int) = {
    val h = latestManifest(name).fold(Seq.empty[String])(_.history)
    (h.size, h.count(n => histTag(n).forall(_ > block)))
  }

  /** Highest stored block (catch-up cursor, `src/main.rs:57-63`). */
  def maxBlock(): Option[Long] = {
    val rows = table("blocks").agg(max("block_num")).collect()
    Option(rows(0).get(0)).map(_.asInstanceOf[Long])
  }

  /** S3: last `count` known block ids, newest first; genesis fallback
    * NULL_BLOCK_ID (`src/subscriber.rs:20-21,153-178`). */
  def lastKnownBlockIds(count: Int = graft.sources.Negotiate.KnownCount): Seq[String] = {
    val ids = table("blocks").orderBy(col("block_num").desc)
      .select("block_id").limit(count).collect().map(_.getString(0)).toSeq
    if (ids.isEmpty) Seq(graft.sources.Negotiate.NullBlockId) else ids
  }
}

object Scd2Store {
  /** Segment count that triggers a blocks-log fold: high enough that the
    * amortized rewrite cost stays O(1) per batch, low enough that the
    * read fan-in stays trivial. */
  val BlockCompactThreshold = 64

  /** `_k` zone-map bucket domain for live-file point-lookup pruning.
    * Wide enough that files of a many-thousand-file live set carry
    * narrow disjoint ranges; small enough that the per-file manifest
    * line stays tiny. */
  val LiveKeyBuckets = 4096

  /** Target rows per live file — the range-split granularity. Read from
    * the session conf at write time (like every Spark sizing knob, and
    * like TopKPerKey's key cap) so harnesses/specs shrink it per session
    * to force multi-file live sets at toy scale, with no JVM-global
    * state racing across concurrent sessions. */
  val LiveTargetRowsKey = "spark.graft.scd2.liveTargetRowsPerFile"
  val LiveTargetRowsDefault: Long = 1_000_000L

  /** Driver-side `_k` bucket of a scope-key value — the SAME function
    * the live write computes with `xxhash64` (XxHash64, seed 42), so
    * manifest range selection and file contents can never disagree. */
  def liveKeyBucket(value: String): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(value),
        org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    (((h % LiveKeyBuckets) + LiveKeyBuckets) % LiveKeyBuckets).toInt
  }
}
