package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and then runs far away home"
  private val nearCopy =
    "the quick brown fox jumps over the lazy dog and then runs far away house"
  private val unrelated =
    "completely different words about spark shuffles joins aggregates and windows"

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  private def storeDf(store: String): DataFrame =
    IncrementalDedup.storeSigs(spark, store)
      .getOrElse(fail(s"store $store is empty"))

  private def parquetFilesUnder(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFilesUnder)
    else if (f.getName.endsWith(".parquet")) Seq(f)
    else Seq.empty

  private def storeParquetFiles(store: String): Seq[java.io.File] =
    IncrementalDedup.committedDirs(spark, store)
      .flatMap(d => parquetFilesUnder(new java.io.File(store, d)))

  test("multi-writer manifest conflict: one commit wins, the loser fails LOUDLY") {
    // Same single-writer contract as Scd2Store, enforced by the same
    // mechanism: two writers resolving the same next seq cannot both
    // publish — the second create-exclusive manifest write throws, and
    // a reader only ever resolves the winner's COMPLETE generation.
    val store = tempDir("inc-dedup-conflict") + "/sigs"
    IncrementalDedup.processBatch(docsDf(1L -> base), store)
    var raced = false
    IncrementalDedup.hook = l =>
      if (l == "dedup:pre-publish" && !raced) {
        raced = true
        // B's whole batch commits inside A's publish window (A has
        // chosen its seq but not yet created the manifest)
        IncrementalDedup.processBatch(docsDf(3L -> unrelated), store)
      }
    try {
      val ex = intercept[Exception] {
        IncrementalDedup.processBatch(docsDf(2L -> nearCopy), store)
      }
      assert(raced)
      assert(ex.toString.toLowerCase.contains("exist"),
        s"loser must fail on the exclusive create, got: $ex")
    } finally IncrementalDedup.hook = _ => ()
    // a fresh reader sees exactly B's generation: doc 2 never became
    // visible, doc 3 did, and the store is fully consistent
    val ids = storeDf(store).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L), s"store must hold the winner's docs: $ids")
    // the store still works: a retry of A's batch lands normally
    val v = IncrementalDedup.processBatch(docsDf(2L -> nearCopy), store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v(2L) === 1L, s"retried near-copy matches doc 1: $v")
    assert(storeDf(store).select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L))
  }

  test("cross-batch and within-batch near-dups detected; store appends are idempotent") {
    val store = tempDir("inc-dedup-store") + "/sigs"

    // batch 1: two originals
    val v1 = IncrementalDedup.processBatch(docsDf(1L -> base, 2L -> unrelated), store)
    assert(v1.isEmpty, "first batch has no duplicates")

    // batch 2: near-copy of doc 1, exact copy of doc 2, a fresh doc,
    // and a within-batch pair (20 ~ 21: 21 should point at 20)
    val batchPair =
      "rivers mountains valleys forests deserts oceans islands cliffs meadows plains tundra glaciers"
    val v2 = IncrementalDedup.processBatch(
      docsDf(10L -> nearCopy, 11L -> unrelated, 12L -> (base + " entirely novel suffix words appended here making it long enough to differ"),
        20L -> batchPair, 21L -> batchPair), store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v2(10L) === 1L, s"near-copy should match doc 1: $v2")
    assert(v2(11L) === 2L, s"exact copy should match doc 2: $v2")
    assert(v2(21L) === 20L, s"within-batch dup should point at earlier id: $v2")
    assert(!v2.contains(20L), "the earlier doc of a within-batch pair is not a dup")

    // replaying batch 2 re-emits IDENTICAL verdicts (self-matches against
    // the already-appended signatures are excluded) and does not grow the
    // store
    val sizeBefore = storeDf(store).count()
    val replay = IncrementalDedup.processBatch(
      docsDf(10L -> nearCopy, 11L -> unrelated), store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replay === Map(10L -> 1L, 11L -> 2L),
      s"replay verdicts must be stable, got $replay")
    assert(storeDf(store).count() === sizeBefore, "replay grew the store")

    // compaction: same contents, bounded file count (one file per
    // touched leaf partition, one directory per store kind), detection
    // unchanged
    IncrementalDedup.compactStore(spark, store)
    assert(storeDf(store).count() === sizeBefore, "compaction changed contents")
    assert(IncrementalDedup.committedDirs(spark, store).size === 2,
      "compaction should fold to one index + one registry directory")
    val leaves = storeParquetFiles(store).map(_.getParentFile.toString).distinct
    val files = storeParquetFiles(store).size
    assert(files <= leaves.size, s"$files files across ${leaves.size} leaf partitions")
    val v3 = IncrementalDedup.processBatch(docsDf(30L -> nearCopy), store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v3(30L) === 1L, s"post-compaction detection: $v3")

    // crashed partial publish: a manifest file without the end-marker
    // (and an orphan data directory it would have referenced) must be
    // invisible to readers and superseded by the next batch's commit
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preDirs = IncrementalDedup.committedDirs(spark, store)
    val orphan = new org.apache.hadoop.fs.Path(store, "d9999")
    storeDf(store).limit(1).write.parquet(orphan.toString)
    val partial = new org.apache.hadoop.fs.Path(store, "_m/m9999")
    val out = fs.create(partial, false)
    try out.write("d9999\n".getBytes("UTF-8")) finally out.close()
    assert(IncrementalDedup.committedDirs(spark, store) === preDirs,
      "partial manifest must be invisible")
    val afterCrash = IncrementalDedup.processBatch(docsDf(31L -> nearCopy), store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterCrash(31L) === 1L, s"detection after crash residue: $afterCrash")
    assert(!fs.exists(partial), "superseding commit must GC the partial manifest")
  }

  test("probe read prunes to the batch's (band, bucket-hash) key ranges") {
    val store = tempDir("inc-dedup-prune") + "/sigs"
    // force a realistic multi-file store at toy scale: ~16 rows per
    // range-split file instead of 1M
    val savedTarget = IncrementalDedup.TargetRowsPerFile
    IncrementalDedup.TargetRowsPerFile = 16L
    try {
      // seed: 200 distinct docs spread across the 256 pid values
      val seed = (1L to 200L).map(i => i ->
        (s"seed document number $i with alpha$i beta$i gamma$i delta$i " +
          s"epsilon$i zeta$i eta$i theta$i"))
      IncrementalDedup.processBatch(docsDf(seed: _*), store)

      // a one-doc probe touches ≤ 4 of the 256 pid values (one bucket
      // per band)
      val probe = docsDf(9001L -> base)
      val fp = IncrementalDedup.probeFootprint(spark, store, probe)
      assert(fp.rowsTotal === 200L * 4, "exploded index: 4 rows per doc")
      assert(fp.touchedLeaves <= 4, s"one doc touches ≤4 keys, got ${fp.touchedLeaves}")
      assert(fp.rowsRead <= fp.rowsTotal / 16,
        s"pruned read (${fp.rowsRead}) should be a small fraction of the " +
          s"index (${fp.rowsTotal})")

      // the pruning happens at FILE level (the manifest zone maps), not
      // post-read: the scan opens only range-intersecting files
      val xr = IncrementalDedup.withBh(
        graft.operators.Dedup.explodeBandBuckets(
          graft.operators.Dedup.minhashBandedSignatures(probe)))
      val pids = xr
        .select((col("band_idx") * IncrementalDedup.BucketPartitions + col("bh"))
          .cast("int").as("pid"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val pruned = IncrementalDedup.storeProbe(spark, store, pids).get
      pruned.collect()
      val scan = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      val filesRead = scan.metrics("numFiles").value
      val indexFiles = IncrementalDedup.committedDirs(spark, store)
        .filter(_.startsWith("d"))
        .flatMap(d => parquetFilesUnder(new java.io.File(store, d))).size
      assert(indexFiles >= 20, s"seam should force a multi-file store, got $indexFiles")
      // ≤ 2 files per touched key (a key can straddle a file boundary)
      assert(filesRead <= 2L * fp.touchedLeaves,
        s"scan read $filesRead files for ${fp.touchedLeaves} touched keys")
      assert(filesRead < indexFiles / 4,
        s"scan read $filesRead of $indexFiles index files — no real pruning")

      // pruning loses no candidates: 9002 enters the store, then a later
      // batch's near-copy must find it through the pruned probe
      val v1 = IncrementalDedup.processBatch(docsDf(9002L -> base), store)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(v1 === Map.empty, s"base text matches nothing stored: $v1")
      val v2 = IncrementalDedup.processBatch(docsDf(9003L -> nearCopy), store)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(v2(9003L) === 9002L, s"cross-batch near-dup through pruned probe: $v2")
    } finally IncrementalDedup.TargetRowsPerFile = savedTarget
  }

  test("changed-text re-ingest replaces the stored signature (latest wins)") {
    val store = tempDir("inc-dedup-update") + "/sigs"

    // doc 1 enters with `base` text
    IncrementalDedup.processBatch(docsDf(1L -> base), store)
    val sigV1 = storeDf(store).filter(col("doc_id") === 1L)
      .drop("doc_id").collect().toSeq
    assert(sigV1.size === 1)

    // doc 1 is RE-INGESTED with unrelated text: exactly one store row
    // remains for it, holding the NEW signature
    IncrementalDedup.processBatch(docsDf(1L -> unrelated), store)
    val rows = storeDf(store).filter(col("doc_id") === 1L)
      .drop("doc_id").collect().toSeq
    assert(rows.size === 1, s"expected one row for doc 1, got ${rows.size}")
    assert(rows !== sigV1, "stale signature survived the re-ingest")

    // future docs match the NEW text, not the old
    val vNew = IncrementalDedup.processBatch(docsDf(5L -> unrelated), store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vNew(5L) === 1L, s"new text should match updated doc 1: $vNew")
    val vOld = IncrementalDedup.processBatch(docsDf(6L -> base), store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!vOld.contains(6L), s"old text must no longer match doc 1: $vOld")
  }

  test("reader racing manifest GC re-lists instead of crashing or emptying (ADVICE r7)") {
    val store = tempDir("inc-dedup-race") + "/sigs"
    IncrementalDedup.processBatch(docsDf(1L -> base), store)
    IncrementalDedup.processBatch(docsDf(2L -> unrelated), store)
    val mdir = new java.io.File(store, "_m")
    def seqs() = mdir.list().filter(_.startsWith("m")).map(_.drop(1).toLong).sorted
    val maxSeq = seqs().max
    var fired = false
    IncrementalDedup.hook = l =>
      if (l == s"pre-read-manifest:m$maxSeq" && !fired) {
        fired = true
        // simulate a concurrent commit's GC landing between list and
        // open: newest content re-published at a fresh seq, the listed
        // manifests collected
        val content = java.nio.file.Files.readAllBytes(
          new java.io.File(mdir, s"m$maxSeq").toPath)
        seqs().foreach(s => new java.io.File(mdir, s"m$s").delete())
        java.nio.file.Files.write(
          new java.io.File(mdir, s"m${maxSeq + 2}").toPath, content)
      }
    try {
      val docs = storeDf(store).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(fired)
      assert(docs === Set(1L, 2L), "re-list must find the re-published manifest")
    } finally IncrementalDedup.hook = _ => ()
  }

  test("streaming path: foreachBatch over MemoryStream produces the same verdicts") {
    val store = tempDir("inc-dedup-stream") + "/sigs"
    val ckpt = tempDir("inc-dedup-ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(1L -> base, 2L -> unrelated)

    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def drain(): Unit = {
      val q = IncrementalDedup.stream(
        mem.toDF.toDF("doc_id", "text"), store, ckpt) { (verdicts, _) =>
        collected ++= verdicts.collect().map(r => (r.getLong(0), r.getLong(1)))
      }.start()
      q.awaitTermination()
    }
    drain()
    assert(collected.isEmpty, "no dups in the seed batch")

    mem.addData(10L -> nearCopy)
    drain()
    assert(collected.toList === List(10L -> 1L))
  }
}
