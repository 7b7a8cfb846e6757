package graft.sds

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import Fixtures._
import Schemas.MaxBlockNum

/** End-to-end pipeline tests (SURVEY.md §5 plan item 2): fixture event
  * batches → decode → SCD2 store, covering multi-block batches, update
  * close-out, fork rewind, assertion delete, heartbeat no-op, idempotent
  * replay, and the streaming (MemoryStream → foreachBatch) wiring. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def newStore(): Scd2Store = new Scd2Store(spark, tempDir("sds-store"))

  private def apply1(store: Scd2Store, batches: String*): Unit =
    Pipeline.applyBatch(store, spark.createDataset(batches).toDF("value"))

  test("minimum end-to-end slice (SURVEY §7.2): ingest org+cert, join live views") {
    val store = newStore()
    apply1(store,
      batch(1, "b1", Seq(
        Change(orgAddress(FactoryId), "SET", container(factoryJson())),
        Change(certAddress(CertId), "SET", container(certificateJson())))))

    val joined = store.live("certificates").as("c")
      .join(store.live("organizations").as("o"),
        col("c.factory_id") === col("o.organization_id"))
      .select("c.certificate_id", "o.name")
    assert(joined.collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq((CertId, "test")))
    assert(store.maxBlock() === Some(1L))
  }

  test("update in a later block closes the previous version") {
    val store = newStore()
    apply1(store, batch(1, "b1", Seq(Change(agentAddress(PublicKey), "SET",
      container(agentJson(name = "old"))))))
    apply1(store, batch(4, "b4", Seq(Change(agentAddress(PublicKey), "SET",
      container(agentJson(name = "new"))))))

    val versions = store.table("agents")
      .select("name", "start_block_num", "end_block_num")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._2)
    assert(versions === Seq(("old", 1L, 4L), ("new", 4L, MaxBlockNum)))
    assert(store.asOf("agents", 2).select("name").as[String].collect().toSeq === Seq("old"))
    assert(store.live("agents").select("name").as[String].collect().toSeq === Seq("new"))
  }

  test("multi-block micro-batch applies in block order") {
    val store = newStore()
    apply1(store,
      batch(1, "b1", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v1"))))),
      batch(3, "b3", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v2"))))),
      batch(6, "b6", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v3"))))))
    val versions = store.table("agents")
      .select("name", "start_block_num", "end_block_num")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._2)
    assert(versions === Seq(("v1", 1L, 3L), ("v2", 3L, 6L), ("v3", 6L, MaxBlockNum)))
    assert(store.lastKnownBlockIds() === Seq("b6", "b3", "b1"))
  }

  test("D2/W5: heartbeat batch is a complete no-op") {
    val store = newStore()
    apply1(store, heartbeat)
    assert(store.table("blocks").isEmpty)
    assert(store.table("agents").isEmpty)
    assert(store.lastKnownBlockIds() === Seq("0000000000000000"))
  }

  test("idempotence: replaying a processed batch changes nothing") {
    val store = newStore()
    val b = batch(2, "b2", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson()))))
    apply1(store, b)
    apply1(store, b)
    assert(store.table("agents").count() === 1)
    assert(store.table("blocks").count() === 1)
  }

  test("W3 e2e: assertion DELETE closes; recreate leaves a deleted gap") {
    val store = newStore()
    val addr = assertionStateAddress(AssertionId)
    apply1(store, batch(1, "b1", Seq(Change(addr, "SET", container(assertionJson(address = addr))))))
    apply1(store, batch(4, "b4", Seq(Change(addr, "DELETE", ""))))
    assert(store.live("assertions").isEmpty)
    assert(store.asOf("assertions", 2).count() === 1)

    apply1(store, batch(9, "b9", Seq(Change(addr, "SET", container(assertionJson(address = addr))))))
    val spans = store.table("assertions").select("start_block_num", "end_block_num")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(spans === Seq((1L, 4L), (9L, MaxBlockNum)))
    assert(store.asOf("assertions", 5).isEmpty) // the deleted gap
  }

  test("W4 e2e: fork replaces a block and rewinds its effects") {
    val store = newStore()
    apply1(store, batch(1, "b1", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v1"))))))
    apply1(store, batch(2, "b2", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v2-orphan"))))))
    // fork: block 2 re-arrives with a different id and different payload
    apply1(store, batch(2, "b2'", Seq(Change(agentAddress("other_key"), "SET",
      container(agentJson(publicKey = "other_key", name = "fork"))))))

    val agents = store.live("agents").select("public_key", "name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(agents === Set((PublicKey, "v1"), ("other_key", "fork")))
    // v1 was closed by orphaned block 2 → re-opened
    val v1 = store.table("agents").filter(col("name") === "v1")
      .select("end_block_num").as[Long].collect().toSeq
    assert(v1 === Seq(MaxBlockNum))
    val blocks = store.table("blocks").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(blocks === Set((1L, "b1"), (2L, "b2'")))
  }

  test("child rows absent from a new parent version close at that version") {
    val store = newStore()
    // block 1: certifying body with 1 contact, 1 auth, 1 accreditation
    apply1(store, batch(1, "b1",
      Seq(Change(orgAddress(CertOrgId), "SET", container(certifyingBodyJson())))))
    // block 5: same org re-written with NO contacts/auths/accreditations
    val bare = s"""{"id":"$CertOrgId","name":"renamed","organization_type":"CERTIFYING_BODY"}"""
    apply1(store, batch(5, "b5", Seq(Change(orgAddress(CertOrgId), "SET", container(bare)))))

    assert(store.live("contacts").isEmpty)
    assert(store.live("authorizations").isEmpty)
    assert(store.live("accreditations").isEmpty)
    // the removed children are still visible as-of block 2
    assert(store.asOf("contacts", 2).count() === 1)
    assert(store.asOf("accreditations", 2).count() === 1)
    val contactEnd = store.table("contacts").select("end_block_num").as[Long].collect()
    assert(contactEnd.toSeq === Seq(5L))
    assert(store.live("organizations").select("name").as[String].collect().toSeq === Seq("renamed"))
  }

  test("delete → recreate → delete within one batch closes at the last delete") {
    val store = newStore()
    val addr = assertionStateAddress(AssertionId)
    apply1(store,
      batch(1, "b1", Seq(Change(addr, "SET", container(assertionJson(address = addr))))),
      batch(2, "b2", Seq(Change(addr, "DELETE", ""))),
      batch(3, "b3", Seq(Change(addr, "SET", container(assertionJson(address = addr))))),
      batch(4, "b4", Seq(Change(addr, "DELETE", ""))))
    val spans = store.table("assertions").select("start_block_num", "end_block_num")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(spans === Seq((1L, 2L), (3L, 4L)))
    assert(store.live("assertions").isEmpty)
  }

  test("strict mode rejects unknown entity infix (AnotherFamily)") {
    val store = newStore()
    val weird = Addressing.Namespace + "ff" + "0" * 62
    val ex = intercept[Exception] {
      apply1(store, batch(1, "b1", Seq(Change(weird, "SET", container(agentJson())))))
    }
    assert(ex.getMessage.contains("no entity type"))
  }

  // ---- crash injection (Scd2Store.failpoint) ---------------------------
  // Each case kills the commit at one protocol point, restarts the store
  // over the same root (fresh Scd2Store = process restart), replays the
  // batch as Structured Streaming would, and asserts the final state
  // matches the no-crash run.

  private def crashAt(store: Scd2Store, label: String): Unit =
    store.failpoint = l =>
      if (l == label) throw new RuntimeException(s"injected crash at $l")

  private def agentState(store: Scd2Store): Set[(String, Long, Long)] =
    store.table("agents").select("name", "start_block_num", "end_block_num")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def blockState(store: Scd2Store): Set[(Long, String)] =
    store.table("blocks").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("crash injection: applyMerged recovers at pre-commit and post-commit") {
    val b1 = batch(1, "b1", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v1")))))
    val b2 = batch(4, "b4", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v2")))))
    val expected = Set(("v1", 1L, 4L), ("v2", 4L, MaxBlockNum))

    for (label <- Seq("applyMerged:agents:pre-commit", "agents:post-commit",
        "blocks:pre-publish", "blocks:post-commit")) {
      val root = tempDir("sds-crash")
      val s1 = new Scd2Store(spark, root)
      apply1(s1, b1)
      crashAt(s1, label)
      val ex = intercept[Throwable] { apply1(s1, b2) }
      assert(ex.getMessage == null || ex.toString.nonEmpty) // crashed somewhere in the batch
      val s2 = new Scd2Store(spark, root) // restart
      // pre-commit crash: old manifest still current, v1 alone visible;
      // post-commit crash: commit landed, v2 already visible — either way
      // the state is a committed generation, never a partial one
      assert(Set(Set(("v1", 1L, MaxBlockNum)), expected).contains(agentState(s2)))
      apply1(s2, b2) // streaming replay of the uncommitted/committed batch
      assert(agentState(s2) === expected)
      assert(blockState(s2) === Set((1L, "b1"), (4L, "b4")))
    }
  }

  test("crash injection: fork compactTo recovers at pre-commit") {
    val b1 = batch(1, "b1", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v1")))))
    val b2 = batch(2, "b2", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v2-orphan")))))
    val fork = batch(2, "b2'", Seq(Change(agentAddress("other_key"), "SET",
      container(agentJson(publicKey = "other_key", name = "fork")))))

    val root = tempDir("sds-crash")
    val s1 = new Scd2Store(spark, root)
    apply1(s1, b1, b2)
    crashAt(s1, "compactTo:agents:pre-commit")
    intercept[Throwable] { apply1(s1, fork) }
    val s2 = new Scd2Store(spark, root)
    // pre-fork state fully intact under the old manifest
    assert(agentState(s2) === Set(("v1", 1L, 2L), ("v2-orphan", 2L, MaxBlockNum)))
    apply1(s2, fork) // replay
    assert(agentState(s2) === Set(("v1", 1L, MaxBlockNum), ("fork", 2L, MaxBlockNum)))
    assert(blockState(s2) === Set((1L, "b1"), (2L, "b2'")))
  }

  test("crash injection: fold promote crash never empties the commit log") {
    val b1 = batch(1, "b1", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v1")))))
    val b2 = batch(2, "b2", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v2-orphan")))))
    val fork = batch(2, "b2'", Seq(Change(agentAddress("other_key"), "SET",
      container(agentJson(publicKey = "other_key", name = "fork")))))

    for (label <- Seq("compactBlocks:pre-promote", "compactBlocks:post-promote")) {
      val root = tempDir("sds-crash")
      val s1 = new Scd2Store(spark, root)
      apply1(s1, b1, b2)
      crashAt(s1, label)
      intercept[Throwable] { apply1(s1, fork) }
      val s2 = new Scd2Store(spark, root)
      assert(s2.table("blocks").count() >= 2) // log readable, never empty
      apply1(s2, fork)
      assert(blockState(s2) === Set((1L, "b1"), (2L, "b2'")))
      assert(agentState(s2) === Set(("v1", 1L, MaxBlockNum), ("fork", 2L, MaxBlockNum)))
    }
  }

  test("crash injection: replayed compaction of an already-folded tag keeps the log (ADVICE r4)") {
    // the round-4 data-loss window: log already folded to a single fold
    // directory for tag T; a replayed compaction of the same tag crashes
    // between staging and promote. The old protocol had deleted the only
    // visible fold by then — blocks() returned empty and the log was lost.
    val b1 = batch(1, "b1", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v1")))))
    val b2 = batch(2, "b2", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v2-orphan")))))
    val fork = batch(2, "b2'", Seq(Change(agentAddress("other_key"), "SET",
      container(agentJson(publicKey = "other_key", name = "fork")))))

    val root = tempDir("sds-crash")
    val s1 = new Scd2Store(spark, root)
    apply1(s1, b1, b2)
    apply1(s1, fork) // completed fork → log folded, old segments gone
    val committed = blockState(s1)
    assert(committed === Set((1L, "b1"), (2L, "b2'")))

    crashAt(s1, "compactBlocks:pre-promote")
    intercept[Throwable] { s1.compactBlocks(s1.blocks(), 2L) } // replayed fold
    val s2 = new Scd2Store(spark, root)
    assert(blockState(s2) === committed) // fold intact — nothing lost
    s2.compactBlocks(s2.blocks(), 2L) // replay completes a fresh attempt
    assert(blockState(s2) === committed)
  }

  for (k <- Seq(1, 3))
    test(s"manifest GC retains $k previous generation(s) for lazy readers (retainGenerations=$k)") {
      val root = tempDir("sds-gc")
      val store = new Scd2Store(spark, root, retainGenerations = k)
      def b(n: Long) = batch(n, s"b$n", Seq(Change(agentAddress(PublicKey), "SET",
        container(agentJson(name = s"v$n")))))
      val liveDir = new java.io.File(root, "agents/live")
      // after n commits the live versions on disk are the newest k+1
      // (current + k retained), capped by how many exist
      for (n <- 1 to k + 2) {
        apply1(store, b(n.toLong))
        val newest = n - 1 // live version number of the nth commit
        val expect = (math.max(0, newest - k) to newest).map("v" + _).toSet
        assert(liveDir.list().toSet === expect, s"after commit $n")
      }

      // the reader contract: a frame resolved before a commit still
      // materializes through k subsequent commits
      val pinned = store.live("agents")
      val last = k + 2
      for (n <- last + 1 to last + k) apply1(store, b(n.toLong))
      assert(pinned.select("name").collect().map(_.getString(0)).toSeq === Seq(s"v$last"))
    }

  test("multi-writer manifest conflict: one commit wins, the loser fails LOUDLY") {
    // The protocol's single-writer contract enforced mechanically: two
    // writers that both resolve the same next seq cannot both publish —
    // the manifest write is create-exclusive, so the second create
    // throws instead of silently overwriting, and a reader only ever
    // resolves one of the two COMPLETE generations, never a blend.
    val root = tempDir("sds-conflict")
    val a = new Scd2Store(spark, root)
    val b = new Scd2Store(spark, root)
    apply1(a, batch(1, "b1", Seq(Change(agentAddress(PublicKey), "SET",
      container(agentJson(name = "v1"))))))
    // B's whole commit lands inside A's publish window (after A chose
    // its seq, before A's create-exclusive write)
    var raced = false
    a.failpoint = l =>
      if (l == "agents:pre-publish" && !raced) {
        raced = true
        apply1(b, batch(3, "b3", Seq(Change(agentAddress(PublicKey), "SET",
          container(agentJson(name = "v-winner"))))))
      }
    val ex = intercept[Exception] {
      apply1(a, batch(2, "b2", Seq(Change(agentAddress(PublicKey), "SET",
        container(agentJson(name = "v-loser"))))))
    }
    assert(raced)
    assert(ex.toString.toLowerCase.contains("exist"),
      s"loser must fail on the exclusive create, got: $ex")
    // a fresh reader sees exactly B's committed generation — v-loser
    // never became visible, and the state is a consistent SCD2 set
    val names = new Scd2Store(spark, root).live("agents")
      .select("name").collect().map(_.getString(0)).toSeq
    assert(names === Seq("v-winner"))
    val spans = new Scd2Store(spark, root).table("agents")
      .select("name", "start_block_num", "end_block_num")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set(("v1", 1L, 3L), ("v-winner", 3L, MaxBlockNum)))
  }

  test("reader racing manifest GC falls back to the retained generation (ADVICE r7)") {
    // the race: reader lists manifests, a concurrent commit GCs the
    // listed newest between list and open. The old readManifest crashed
    // with FileNotFoundException; it must fall back to the next complete
    // retained manifest instead.
    val root = tempDir("sds-race")
    val store = new Scd2Store(spark, root)
    def b(n: Long) = batch(n, s"b$n", Seq(Change(agentAddress(PublicKey), "SET",
      container(agentJson(name = s"v$n")))))
    apply1(store, b(1)); apply1(store, b(2)); apply1(store, b(3))
    val mdir = new java.io.File(root, "agents/_m")
    val maxSeq = mdir.list().filter(_.startsWith("m")).map(_.drop(1).toLong).max
    var fired = false
    store.failpoint = l =>
      if (l == s"pre-read-manifest:m$maxSeq" && !fired) {
        fired = true
        new java.io.File(mdir, s"m$maxSeq").delete() // GC won the race
      }
    val names = store.live("agents").select("name").collect().map(_.getString(0)).toSeq
    assert(fired)
    assert(names === Seq("v2")) // the retained previous generation, not a crash
  }

  test("reader whose WHOLE manifest listing was GC'd re-lists and finds the newer commit") {
    // two commits landed between list and open: every listed manifest is
    // gone and a NEWER one (not in the stale listing) is current. Falling
    // back within the stale list would exhaust to None = an EMPTY table —
    // the wrong-answer shape; the reader must re-list instead.
    val root = tempDir("sds-race2")
    val store = new Scd2Store(spark, root)
    def b(n: Long) = batch(n, s"b$n", Seq(Change(agentAddress(PublicKey), "SET",
      container(agentJson(name = s"v$n")))))
    apply1(store, b(1)); apply1(store, b(2)); apply1(store, b(3))
    val mdir = new java.io.File(root, "agents/_m")
    def seqs() = mdir.list().filter(_.startsWith("m")).map(_.drop(1).toLong).sorted
    val maxSeq = seqs().max
    var fired = false
    store.failpoint = l =>
      if (l == s"pre-read-manifest:m$maxSeq" && !fired) {
        fired = true
        // simulate the concurrent writer: newest content re-published at
        // a fresh higher seq, everything the stale listing saw collected
        val content = java.nio.file.Files.readAllBytes(
          new java.io.File(mdir, s"m$maxSeq").toPath)
        seqs().foreach(s => new java.io.File(mdir, s"m$s").delete())
        java.nio.file.Files.write(new java.io.File(mdir, s"m${maxSeq + 2}").toPath, content)
      }
    val names = store.live("agents").select("name").collect().map(_.getString(0)).toSeq
    assert(fired)
    assert(names === Seq("v3")) // re-listed and found the newer manifest
  }

  test("a crashed partial manifest (no end-marker) is skipped, then superseded and GC'd") {
    val root = tempDir("sds-partial")
    val store = new Scd2Store(spark, root)
    def b(n: Long) = batch(n, s"b$n", Seq(Change(agentAddress(PublicKey), "SET",
      container(agentJson(name = s"v$n")))))
    apply1(store, b(1), b(2))
    def liveName(s: Scd2Store) =
      s.live("agents").select("name").collect().map(_.getString(0)).toSeq

    // simulate a publish killed mid-write: a higher-seq manifest file
    // with no end-marker (create-exclusive writes can crash like this)
    val mdir = new java.io.File(root, "agents/_m")
    val maxSeq = mdir.list().filter(_.startsWith("m")).map(_.drop(1).toLong).max
    val partial = new java.io.File(mdir, s"m${maxSeq + 1}")
    java.nio.file.Files.write(partial.toPath,
      "live=99\nhistory=b99\n".getBytes("UTF-8"))

    // readers (incl. a fresh store = process restart) fall back to the
    // last COMPLETE manifest — the partial is invisible
    assert(liveName(store) === Seq("v2"))
    assert(liveName(new Scd2Store(spark, root)) === Seq("v2"))

    // the replayed batch commits at a FRESH seq above the partial and
    // garbage-collects it
    apply1(store, b(3))
    assert(!partial.exists())
    assert(liveName(store) === Seq("v3"))
  }

  test("crash matrix holds when rename is copy+delete (S3-style non-atomic FS)") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.nonatomic.impl", classOf[NonAtomicRenameFileSystem].getName)
    val b1 = batch(1, "b1", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v1")))))
    val b2 = batch(2, "b2", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "v2-orphan")))))
    val fork = batch(2, "b2'", Seq(Change(agentAddress("other_key"), "SET",
      container(agentJson(publicKey = "other_key", name = "fork")))))
    val forked = Set(("v1", 1L, MaxBlockNum), ("fork", 2L, MaxBlockNum))

    // same protocol points as the local-FS cases above; the store's
    // commit protocol performs no renames, so the only renames left are
    // the committer's inside not-yet-visible directories — the crash
    // matrix must be unaffected by their lost atomicity

    // normal-batch commit points: crash while applying b2 after b1
    for (label <- Seq("applyMerged:agents:pre-commit", "agents:post-commit",
        "blocks:pre-publish", "blocks:post-commit")) {
      val root = "nonatomic://" + tempDir("sds-nonatomic")
      val s1 = new Scd2Store(spark, root)
      apply1(s1, b1)
      crashAt(s1, label)
      intercept[Throwable] { apply1(s1, b2) }
      val s2 = new Scd2Store(spark, root) // restart
      apply1(s2, b2) // streaming replay
      assert(agentState(s2) ===
        Set(("v1", 1L, 2L), ("v2-orphan", 2L, MaxBlockNum)), label)
      assert(blockState(s2) === Set((1L, "b1"), (2L, "b2")), label)
    }

    // fork commit points: crash while applying the fork after b1,b2
    for (label <- Seq("compactTo:agents:pre-commit",
        "compactBlocks:pre-promote", "compactBlocks:post-promote",
        "blocks:pre-publish", "blocks:post-commit")) {
      val root = "nonatomic://" + tempDir("sds-nonatomic")
      val s1 = new Scd2Store(spark, root)
      apply1(s1, b1, b2)
      crashAt(s1, label)
      intercept[Throwable] { apply1(s1, fork) }
      val s2 = new Scd2Store(spark, root) // restart
      assert(s2.table("blocks").count() >= 2) // log readable, never empty
      apply1(s2, fork) // streaming replay
      assert(agentState(s2) === forked, label)
      assert(blockState(s2) === Set((1L, "b1"), (2L, "b2'")), label)
    }
  }

  test("manual history compaction folds batch dirs, preserving contents exactly") {
    val root = tempDir("sds-histfold")
    val store = new Scd2Store(spark, root)
    def b(n: Long) = batch(n, s"b$n", Seq(Change(agentAddress(PublicKey), "SET",
      container(agentJson(name = s"v$n")))))
    for (n <- 1L to 5L) apply1(store, b(n))
    val before = agentState(store)
    val histDir = new java.io.File(root, "agents/history")
    assert(histDir.list().count(_.startsWith("b")) === 4, "one b<tag> dir per closing batch")

    // the VACUUM-style maintenance pass: fold everything into one dir
    store.compactTo("agents", store.table("agents"), 5L)
    assert(agentState(store) === before, "fold must not change contents")
    // after the NEXT commit GCs the superseded generation, one fold remains
    apply1(store, b(6))
    apply1(store, b(7))
    val names = histDir.list().toSeq
    assert(names.count(_.startsWith("f")) === 1, s"expected one fold dir in $names")
    assert(names.count(_.startsWith("b")) <= 2, s"old batch dirs not GC'd: $names")
    assert(store.asOf("agents", 3).select("name").collect()
      .map(_.getString(0)).toSeq === Seq("v3"))
  }

  test("streaming wiring: MemoryStream → foreachBatch → store") {
    val store = newStore()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val query = Pipeline.start(mem.toDS(), store, tempDir("sds-ckpt"))
    try {
      mem.addData(batch(1, "b1", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "s1"))))))
      query.processAllAvailable()
      mem.addData(batch(2, "b2", Seq(Change(agentAddress(PublicKey), "SET", container(agentJson(name = "s2"))))))
      query.processAllAvailable()
    } finally query.stop()

    val versions = store.table("agents")
      .select("name", "start_block_num", "end_block_num")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._2)
    assert(versions === Seq(("s1", 1L, 2L), ("s2", 2L, MaxBlockNum)))
  }
}
