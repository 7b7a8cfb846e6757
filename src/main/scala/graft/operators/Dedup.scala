package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}

/** Deduplication operators over `documents` / `embeddings` (driver
  * mandate, SURVEY.md §2.6): exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine near-dup.
  *
  * Scale posture (the 100 TB story):
  *  - exact dedup = hash-groupBy — one shuffle on the fingerprint.
  *  - MinHash/LSH is THE scale path for near-dup: signatures are a
  *    per-row map-side computation; candidate generation joins on
  *    (band, bucket) keys only — never all-pairs.
  *  - the all-pairs Jaccard/cosine forms are the *verifier* stage, run on
  *    LSH candidates in production; here they also run standalone at
  *    oracle scale as ground truth.
  *  - SimHash is per-row (no shuffle at all until the bucket join).
  *
  * Hashing is md5 (bit-identical in DuckDB) so every operator is
  * hash-checkable by the oracle; `('0x'||hex)::BIGINT` on the DuckDB side
  * matches Spark's `conv(hex,16,10)` for numeric bits.
  */
object Dedup {
  /** q32's hard input bound: all-pairs cosine is quadratic and its
    * broadcast kernel must fit one executor; past this, the candidate
    * paths (q30 LSH banding, q34 hyperplane LSH, q54 IVF) are the design. */
  val MaxBruteForceVectors: Long = 500_000L

  /** q184's boilerplate cap: a 16-token window shared by more docs than
    * this is dropped before pairing — a viral n-gram would otherwise
    * blow up the matched-window self-join quadratically (the standard
    * suffix-dedup convention; both engines apply the same cap). */
  val MaxSpanWindowDocs: Int = 64

  /** q184's chain over an arbitrary (doc_id, text) frame — also what
    * `ScaleBench` measures on the replica ladder (where duplication
    * growth drives shared windows INTO the boilerplate cap: the cap
    * engaging is the scale story, recorded not hidden). Longest shared
    * token span per doc pair = 16 + longest run of consecutive matched
    * 16-token windows on one diagonal − 1; runs via gaps-and-islands
    * under a (pair, diagonal)-PARTITIONED window. */
  private[graft] def longestDupSpanOf(docsDf: DataFrame): DataFrame =
    longestDupSpanFromWin(
      win16Of(docsDf)
        .localCheckpoint(true)) // read by freq AND both self-join sides

  /** The span ladder over a pre-built (doc_id, i, h) 16-token window
    * frame — `win` must be re-readable (checkpointed or file-backed):
    * freq and both self-join sides scan it. */
  private[graft] def longestDupSpanFromWin(win: DataFrame): DataFrame = {
    val freq = win.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd").between(2, MaxSpanWindowDocs))
      .select("h")
    val shared = win.join(freq, "h")
    val m = shared.select(col("h"), col("doc_id").as("d1"), col("i"))
      .join(shared.select(col("h"), col("doc_id").as("d2"),
        col("i").as("j")), "h")
      .filter(col("d1") < col("d2"))
    val runs = m
      .withColumn("g", col("i") - col("j"))
      .withColumn("isl", col("i") - row_number().over(
        Window.partitionBy("d1", "d2", "g").orderBy("i")))
      .groupBy("d1", "d2", "g", "isl").agg(count(lit(1)).as("run"))
    runs.groupBy("d1", "d2").agg(max(col("run")).as("mx"))
      .select((lit(16) + col("mx") - lit(1)).cast("int").as("span_len"))
      .groupBy("span_len").agg(count(lit(1)).as("n_pairs"))
      .orderBy("span_len")
  }

  /** The q32 design bound, shared so `ScaleBench` trips the REAL guard:
    * brute-force all-pairs only while the corpus fits one executor. */
  private[graft] def requireBruteForceable(n: Long): Unit =
    require(n <= MaxBruteForceVectors,
      s"q32 is the bounded all-pairs verifier ($n vectors > " +
        s"$MaxBruteForceVectors); use the LSH (q34) or IVF (q54) " +
        "candidate paths at this scale")

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "documents")

  /** The 16-token sliding-window hash frame (doc_id, i, h) over any
    * (doc_id, text) frame — the shared substrate of the span family
    * (q184 span ladder, q187 cut accounting). */
  private[graft] def win16Of(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), split(norm(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 16)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(ws) - 15)," +
          " i -> md5(array_join(slice(ws, i, 16), ' ')))")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("h"))

  /** Session memo of [[win16Of]] over the fixture corpus: q184 and
    * q187 both start from this exact frame and each previously re-ran
    * the normalize→split→window-hash explode. ScaleBench keeps
    * measuring the real chain through [[longestDupSpanOf]]. */
  private def win16(s: SparkSession, dir: String): DataFrame =
    graft.core.SessionSpill.memoFrame(s, "graft_win16", dir)(win16Of(docs(s, dir)))
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  private[graft] def norm(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))
  private[operators] val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** Distinct word-3-gram shingles per doc: (doc_id, s).
    *
    * The word array is materialized into a column FIRST: an expression
    * referenced inside a higher-order-function lambda is re-evaluated per
    * array element, so inlining split(norm(text)) there would re-run the
    * whole normalize+split chain once per shingle position (~80× per
    * doc). As an attribute it is computed once per row. */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(docs(s, dir))

  /** Distinct word-3-gram shingles (doc_id, s) for any (doc_id, text)
    * frame — the generic form behind the fixture-table `shingles`, also
    * fed by the streaming incremental dedup. */
  private[graft] def shinglesOf(docsDf: DataFrame): DataFrame = {
    val w = col("_w")
    docsDf
      .withColumn("_w", split(norm(col("text")), " "))
      // <3 words ⇒ no shingles (same as the oracle's empty range);
      // without the guard sequence(1, size-2) would count DOWN through 0
      // and slice(_, 0, _) throws
      .filter(size(w) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(w) - 2),
          i => array_join(slice(w, i, lit(3)), " ")))).as("s"))
  }

  private val shinglesSql =
    s"""SELECT DISTINCT doc_id,
      |  unnest(list_transform(range(1, len(string_split($normSql,' ')) - 1),
      |    i -> array_to_string(list_slice(string_split($normSql,' '), i, i+2),' '))) AS s
      |FROM documents""".stripMargin

  private val MinhashK = 8

  /** Shingles present in more docs than this carry no near-dup signal
    * (boilerplate) but cost d² candidate pairs each — skip them on both
    * the Spark and oracle sides. Standard MinHash/Jaccard scaling trick. */
  private val HotShingleCap = 100

  /** 16-bit token-majority SimHash per doc (per-row, zero shuffle). */
  private def simhashDf(s: SparkSession, dir: String): DataFrame = {
    val hs = transform(split(norm(col("text")), " "),
      w => conv(substring(md5(w), 1, 4), 16, 10).cast("long"))
    val sim = (0 until 16).map { b =>
      when(size(filter(col("hs"), h => shiftright(h, b) % 2 === 1)) * 2 > size(col("hs")),
        lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    docs(s, dir)
      .withColumn("hs", hs)
      .select(col("doc_id"), sim.cast("long").as("simhash"))
  }

  private val simhashSqlCte: String = {
    val hsSql = s"list_transform(string_split($normSql,' '), w -> ('0x'||substr(md5(w),1,4))::BIGINT)"
    val bitsSql = (0 until 16).map(b =>
      s"CASE WHEN 2*len(list_filter(hs, h -> (h >> $b) & 1 = 1)) > len(hs) THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""h AS (SELECT doc_id, $hsSql AS hs FROM documents),
      |sh AS (SELECT doc_id, CAST($bitsSql AS BIGINT) AS simhash FROM h)""".stripMargin
  }

  /** Round tripwire for q59's large-graph path. Pointer jumping needs
    * O(log diameter) rounds, so 64 covers any graph of < 2^64 nodes —
    * hitting it means a bug, and the loop FAILS LOUDLY rather than
    * returning truncated (wrong) labels. */
  private val MaxCcRounds = 64

  /** Below this many (directed) edges the q59 component graph runs as a
    * single partition — one narrow task per propagation round. */
  private val SmallGraphEdges = 1000000L

  // ---- shared MinHash-LSH candidate generation (q30, q59) ---------------

  /** DuckDB CTE chain ending in `cand(doc1, doc2, n_equal, est_jaccard)`:
    * pairs sharing ≥1 LSH band bucket, scored by signature agreement,
    * kept at est_jaccard ≥ 0.5. Verbatim-shared by q30 and q59 so the
    * two oracles can never drift apart. */
  private[operators] val lshCandSqlCtes: String = {
    val mhSelect = (0 until MinhashK)
      .map(i => s"min(md5('$i:' || s)) AS mh$i").mkString(", ")
    val bands = (0 until MinhashK / 2)
      .map(b => s"md5(mh${2 * b} || mh${2 * b + 1}) AS band$b")
    val eqSum = (0 until MinhashK)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    val bandMatch = (0 until MinhashK / 2)
      .map(b => s"a.band$b = b.band$b").mkString(" OR ")
    s"""sh AS ($shinglesSql),
      |sig AS (SELECT doc_id, $mhSelect FROM sh GROUP BY doc_id),
      |sigb AS (SELECT *, ${bands.mkString(", ")} FROM sig),
      |cand AS (
      |  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
      |    CAST($eqSum AS BIGINT) AS n_equal,
      |    CAST($eqSum AS DOUBLE) / $MinhashK AS est_jaccard
      |  FROM sigb a JOIN sigb b ON a.doc_id < b.doc_id AND ($bandMatch)
      |  WHERE CAST($eqSum AS DOUBLE) / $MinhashK >= 0.5)""".stripMargin
  }

  /** MinHash-LSH candidate pairs (doc1 < doc2, est_jaccard ≥ 0.5) — the
    * Spark twin of `lshCandSqlCtes`, shared by q30 and q59.
    *
    * k parallel min(md5) aggregates: codegen'd, hash-aggregated, and
    * map-side combined — measured ~10× faster than the typed MinHashAgg
    * Aggregator form (graft.functions.MinHashAgg), which pays encoder
    * conversion per input row. Signatures are tiny (1 row/doc) but their
    * subtree (shingle explosion + aggs) is expensive — persist so the
    * band join evaluates it once, not once per side. Candidate
    * generation explodes to (band_idx, bucket) and self-joins on the
    * bucket key — never an all-pairs product; signatures ride along so
    * no re-join with `sig` is needed afterwards, and duplicate pairs
    * from multi-band matches collapse in the final groupBy. */
  /** Banded MinHash signatures for any (doc_id, text) frame: one row per
    * doc with mh0..mh{k-1} plus band0..band{k/2-1} bucket hashes. Pure
    * map-side after the one shingle→signature shuffle. */
  private[graft] def minhashBandedSignatures(docsDf: DataFrame): DataFrame = {
    val mhAggs = (0 until MinhashK).map(i =>
      min(md5(concat(lit(s"$i:"), col("s")))).as(s"mh$i"))
    val sig = shinglesOf(docsDf).groupBy("doc_id")
      .agg(mhAggs.head, mhAggs.tail: _*)
    (0 until MinhashK / 2).foldLeft(sig) { (df, b) =>
      df.withColumn(s"band$b", md5(concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))))
    }
  }

  /** Explode a banded-signature frame to one row per (band_idx, bucket) —
    * the LSH candidate-join key. All non-band columns (signatures plus
    * any caller-attached flags) ride along. */
  private[graft] def explodeBandBuckets(sigb: DataFrame): DataFrame = {
    val bandCols = sigb.columns.filter(_.startsWith("band")).map(col)
    val keep = sigb.columns.filterNot(_.startsWith("band")).map(col)
    sigb.select(keep :+
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "bucket")): _*)
  }

  /** Signature-agreement estimate between two aliased bucket rows. */
  private[graft] def sigAgreement(left: String, right: String): Column =
    (0 until MinhashK)
      .map(i => when(col(s"$left.mh$i") === col(s"$right.mh$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / MinhashK

  /** Doc-level split assignment behind q110 (exposed for the co-split
    * invariant spec): (doc_id, source, canon, split) where canon is the
    * doc's q59 dup-group canonical (itself for singletons) and split is
    * an 80/10/10 hash of `canon` — every member of a near-dup group
    * lands in the same split by construction. */
  private[operators] def leakageSafeSplitAssign(s: SparkSession, dir: String): DataFrame = {
    val cc = connectedComponents(
      lshCandidatePairs(s, dir).select("doc1", "doc2"))
      .select(col("doc_id"), col("canonical_id"))
    docs(s, dir)
      .select(col("doc_id"), col("source"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("canon", coalesce(col("canonical_id"), col("doc_id")))
      .withColumn("h",
        conv(substring(md5(concat(lit("split:"), col("canon").cast("string"))),
          1, 15), 16, 10).cast("long") % 100)
      .select(col("doc_id"), col("source"), col("canon"),
        when(col("h") < 80, "train").when(col("h") < 90, "val")
          .otherwise("test").as("split"))
  }

  /** Session memo of the contract corpus' LSH candidate pairs —
    * ELEVEN contract queries (q30/q59/q110/q111/q168/q169/q172/q174,
    * dup-cluster stats, the capstones) start from this exact frame and
    * each previously re-ran the shingle→minhash→band-join chain. The
    * pair set is tiny (≪ corpus) and a pure function of the corpus.
    * ScaleBench keeps measuring the real chain through
    * [[lshCandidatePairsOf]]. */
  private[operators] def lshCandidatePairs(s: SparkSession, dir: String): DataFrame =
    graft.core.SessionSpill.memoFrame(s, "graft_lsh_pairs", dir)(
      lshCandidatePairsOf(docs(s, dir)))

  /** q30's candidate generator over an arbitrary (doc_id, text) frame —
    * also the chain `ScaleBench` measures at 10×/50× amplification. */
  private[graft] def lshCandidatePairsOf(docsDf: DataFrame): DataFrame = {
    // localCheckpoint, not persist: both sides of the self-join read the
    // signatures, but a CacheManager entry outlives the query and
    // accumulates across a long session (75-query bench runs). A local
    // checkpoint materializes once and its blocks are released by the
    // ContextCleaner as soon as the frame is unreachable.
    val sigb = minhashBandedSignatures(docsDf).localCheckpoint(true)
    val buckets = explodeBandBuckets(sigb)
    val nEqual = (0 until MinhashK)
      .map(i => when(col(s"x.mh$i") === col(s"y.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    buckets.as("x")
      .join(buckets.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"),
        nEqual.cast("long").as("n_equal"))
      .groupBy("doc1", "doc2")
      .agg(first(col("n_equal")).as("n_equal"))
      .withColumn("est_jaccard", col("n_equal").cast("double") / MinhashK)
      .filter(col("est_jaccard") >= 0.5)
      .select("doc1", "doc2", "n_equal", "est_jaccard")
  }

  /** Connected components over an undirected pair list (columns `doc1`,
    * `doc2`). Returns one row per node: (doc_id, canonical_id = component
    * min, group_size).
    *
    * Two regimes, switched on edge count (a count, never a collect):
    *  - small graph (≤ SmallGraphEdges): one executor task runs
    *    union-find with path compression over the coalesced edge list —
    *    O(E·α), a single narrow job. Near-dup candidate graphs are a
    *    tiny fraction of the corpus (the LSH filter has already dropped
    *    non-duplicates), so this is the path that runs in practice even
    *    at large corpus scale; measured ~2.5 s faster than the loop at
    *    bench scale (Spark job-scheduling overhead, not compute).
    *  - large graph: min-label propagation with pointer jumping —
    *    per round every node takes the min of its neighbours' labels,
    *    then follows its label one hop (lbl ← min(lbl, lbl(lbl))), so
    *    convergence is O(log diameter); convergence is probed by a
    *    driver-side emptiness check. */
  def connectedComponents(pairs: DataFrame,
                          smallGraphThreshold: Long = SmallGraphEdges): DataFrame = {
    // both paths label nodes by LONG comparisons; a string id would cast
    // to null in the union-find path and produce garbage components
    // silently — fail loudly instead (hash string ids to longs upstream)
    pairs.schema.fields.foreach { f =>
      require(Seq("long", "int", "short", "byte", "integer", "bigint")
        .contains(f.dataType.typeName),
        s"connectedComponents needs integral node ids; " +
          s"got ${f.name}: ${f.dataType.typeName}")
    }
    val edges = pairs.toDF("doc1", "doc2")
    // localCheckpoint: read by the edge count, then once per labeling
    // round; blocks are ContextCleaner-released when the frame drops out
    // of scope (a persist() here leaked for the life of the session)
    val und = edges.union(edges.select(col("doc2"), col("doc1")))
      .toDF("src", "dst").localCheckpoint(true)
    val labels: DataFrame =
      if (und.count() <= smallGraphThreshold) unionFindSingleTask(und)
      else propagateLabels(und)
    // group-size join back is UNHINTED: the group count scales with the
    // duplicate rate (one row per near-dup component), not a dim-table
    // bound — AQE broadcasts it when it fits, shuffles on the long lbl
    // when it doesn't
    val groups = labels.groupBy("lbl").agg(count(lit(1)).as("group_size"))
    labels.join(groups, "lbl")
      .select(col("node").as("doc_id"), col("lbl").as("canonical_id"),
        col("group_size"))
  }

  /** Small-graph path: union-find (union-by-min + path compression) in a
    * single executor task. Runs on an executor, not the driver. */
  private def unionFindSingleTask(und: DataFrame): DataFrame = {
    val s = und.sparkSession
    import s.implicits._
    und.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // union by min id ⇒ every root is its component's minimum
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        parent.keys.toArray.map(n => (n, find(n))).iterator
      }
      .toDF("node", "lbl")
  }

  /** Large-graph path: distributed min-label propagation accelerated by
    * POINTER JUMPING — each round a node takes (a) the min of its
    * neighbours' labels, then (b) its label's own label
    * (lbl ← min(lbl, lbl(lbl))). Jumping is sound because a label is
    * always a member of the same component, and it doubles the distance
    * information per round, so convergence is O(log diameter) instead of
    * O(diameter) — an adversarial million-node chain converges in ~20
    * rounds, not a million. Two equi-joins + one aggregation per round;
    * convergence probe is a driver-side emptiness check. MaxCcRounds is
    * a loud-failure tripwire (2^64 ≫ any graph), never a silent
    * truncation. */
  private def propagateLabels(und: DataFrame): DataFrame = {
    // the RDD a localCheckpoint'd frame materialized — Dataset.unpersist
    // does NOT free checkpoint blocks (they are RDD-level persisted, not
    // CacheManager entries), so rounds release them explicitly
    def cpRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
        case _ => None
      }
    var labels = und.select(col("src").as("node"))
      .distinct().withColumn("lbl", col("node")).persist()
    var prevCp: Option[org.apache.spark.rdd.RDD[_]] = None
    var converged = false
    var round = 0
    while (!converged && round < MaxCcRounds) {
      val nbrMin = und
        .join(labels.select(col("node").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy(col("src").as("node")).agg(min("nlbl").as("nlbl"))
      // localCheckpoint the EXPENSIVE subtree (neighbor-min join + agg):
      // the pointer-jump below reads it twice, and each round otherwise
      // doubles the logical plan (exponential plan trees OOM the driver
      // on plan strings around round 8, persist or not — persist caches
      // data, never lineage). Checkpointing materializes it once and
      // truncates the plan to a leaf.
      val afterNbr = labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      // pointer jump: follow the label one hop (lbl → lbl's label)
      val next = afterNbr
        .join(afterNbr.select(col("node").as("lbl"), col("lbl").as("jl")),
          Seq("lbl"), "left")
        .select(col("node"), col("old"),
          least(col("lbl"), coalesce(col("jl"), col("lbl"))).as("nl"))
      converged = next.filter(col("nl") < col("old")).isEmpty
      val prev = labels
      labels = next.select(col("node"), col("nl").as("lbl"))
      prev.unpersist()
      // free the PREVIOUS round's checkpoint blocks now that this round's
      // labels no longer reference them; the current one stays live for
      // the next round (or the final output)
      prevCp.foreach(_.unpersist(false))
      prevCp = cpRdd(afterNbr)
      round += 1
    }
    require(converged,
      s"component labeling did not converge within $MaxCcRounds rounds — " +
        s"unreachable for any graph of < 2^$MaxCcRounds nodes; indicates a bug")
    labels
  }

  val defs: Seq[Q] = Seq(
    // ---- q28: exact dedup (hash-groupBy) --------------------------------
    Q("q28_dedup_exact",
      s"""SELECT doc_id, fp,
        |  min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
        |  count(*) OVER (PARTITION BY fp) AS group_size,
        |  (doc_id <> min(doc_id) OVER (PARTITION BY fp)) AS is_dup
        |FROM (SELECT doc_id, md5($normSql) AS fp FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("fp"))
      docs(s, dir)
        .select(col("doc_id"), md5(norm(col("text"))).as("fp"))
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .withColumn("group_size", count(lit(1)).over(w))
        .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
        .orderBy("doc_id")
    },

    // ---- q29: n-gram Jaccard near-dup pairs (ground-truth verifier) -----
    // Pair generation via per-shingle doc lists instead of a self-join:
    // one shuffle groups docs per shingle, then ordered pairs explode
    // map-side. Engineering for the shuffle: shingle strings are hashed to
    // 60-bit md5 longs FIRST (8-byte shuffle key; bit-identical arithmetic
    // in DuckDB so both sides share any collision), and the hot-shingle
    // cap drops shingles present in > HotShingleCap docs — boilerplate
    // n-grams carry no near-dup signal but cost d² pairs each; the cap
    // (applied identically in the oracle, including to the per-doc sizes)
    // bounds the blowup at 100 TB. At bench scale nothing is hot (max
    // doc-frequency 25 at sf0.1) so the cap is inert there; the measured
    // win at sf0.1 comes from the long keys + double-explode (6.2 s →
    // 2.4 s pair stage vs the nested-transform struct form).
    Q("q29_dedup_ngram_jaccard", {
      val hSql = "('0x'||substr(md5(s),1,15))::BIGINT"
      s"""WITH sh0 AS ($shinglesSql),
        |sh AS (SELECT doc_id, $hSql AS h FROM sh0),
        |ok AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= $HotShingleCap),
        |shc AS (SELECT sh.doc_id, sh.h FROM sh JOIN ok USING (h)),
        |sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc1, doc2, inter,
        |  CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jaccard
        |FROM pairs JOIN sz s1 ON doc1 = s1.doc_id JOIN sz s2 ON doc2 = s2.doc_id
        |WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.5
        |ORDER BY doc1, doc2""".stripMargin
    }) { (s, dir) =>
      val lists = shingles(s, dir)
        .select(col("doc_id"),
          conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
        .groupBy("h")
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")) <= HotShingleCap)
        // read twice (per-doc sizes + pair expansion); localCheckpoint so
        // the blocks die with the frame instead of living in CacheManager
        .localCheckpoint(true)
      // sizes count ALL kept shingles (incl. singletons — they're part of
      // the union in Jaccard); only pair expansion skips lists of one
      val sz = lists.select(explode(col("ds")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      // ordered pairs: posexplode anchors doc1, slice emits the tail —
      // d²/2 rows, no nested array materialization
      val pairs = lists
        .filter(size(col("ds")) > 1)
        .select(posexplode(col("ds")).as(Seq("i", "doc1")), col("ds"))
        .select(col("doc1"),
          explode(slice(col("ds"), col("i") + 2, size(col("ds")))).as("doc2"))
        .groupBy("doc1", "doc2")
        .agg(count(lit(1)).as("inter"))
      pairs
        .join(broadcast(sz.select(col("doc_id"), col("n").as("n1"))),
          col("doc1") === col("doc_id")).drop("doc_id")
        .join(broadcast(sz.select(col("doc_id"), col("n").as("n2"))),
          col("doc2") === col("doc_id")).drop("doc_id")
        .withColumn("jaccard", col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
        .filter(col("jaccard") >= 0.5)
        .select("doc1", "doc2", "inter", "jaccard")
        .orderBy("doc1", "doc2")
    },

    // ---- q30: MinHash signatures + LSH banding --------------------------
    // k=8 seeded min-hashes (min over md5("<seed>:<shingle>")), banded
    // 2-per-band into 4 buckets; candidate pairs share ≥1 bucket and are
    // scored by signature agreement. Candidate generation touches only
    // (band, bucket) groups — the join that still works at 100 TB.
    Q("q30_dedup_minhash_lsh",
      s"""WITH $lshCandSqlCtes
        |SELECT doc1, doc2, n_equal, est_jaccard FROM cand
        |ORDER BY doc1, doc2""".stripMargin) { (s, dir) =>
      lshCandidatePairs(s, dir).orderBy("doc1", "doc2")
    },

    // ---- q59: duplicate-group resolution (connected components) ---------
    // The step real training pipelines need AFTER candidate pairs: near-dup
    // pairs are edges, the keep/drop decision needs the connected
    // components — every doc labeled with its component's min doc_id (the
    // canonical copy). See `connectedComponents` for the two execution
    // regimes (single-task union-find below a size threshold; min-label
    // propagation with pointer jumping, O(log diameter) rounds, above
    // it). Oracle: DuckDB recursive CTE (min reachable node).
    Q("q59_dedup_groups_cc",
      s"""WITH RECURSIVE $lshCandSqlCtes,
        |edges AS (
        |  SELECT doc1 AS src, doc2 AS dst FROM cand
        |  UNION SELECT doc2, doc1 FROM cand),
        |reach(node, r) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |lbl AS (
        |  SELECT node, least(node, min(r)) AS canonical_id
        |  FROM reach GROUP BY node)
        |SELECT node AS doc_id, canonical_id,
        |  CAST(count(*) OVER (PARTITION BY canonical_id) AS BIGINT) AS group_size
        |FROM lbl ORDER BY doc_id""".stripMargin) { (s, dir) =>
      connectedComponents(lshCandidatePairs(s, dir).select("doc1", "doc2"))
        .orderBy("doc_id")
    },

    // ---- q67: dedup applied — the cleaned corpus ------------------------
    // The last step of the dedup story: drop every non-canonical member
    // of a near-dup group (q59's components) and keep the rest of the
    // corpus untouched. One anti-join of the corpus against the drop
    // list on the 8-byte doc_id. No broadcast hint: the drop list scales
    // with the DUPLICATE RATE (tens of % of all ids on web corpora), not
    // a dim-table bound, so forcing a broadcast is a driver OOM at scale.
    // AQE still picks a broadcast anti-join whenever the list actually
    // fits; otherwise this is one cheap shuffle on a long key.
    Q("q67_dedup_apply",
      s"""WITH RECURSIVE $lshCandSqlCtes,
        |edges AS (
        |  SELECT doc1 AS src, doc2 AS dst FROM cand
        |  UNION SELECT doc2, doc1 FROM cand),
        |reach(node, r) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |lbl AS (
        |  SELECT node, least(node, min(r)) AS canonical_id
        |  FROM reach GROUP BY node)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT node FROM lbl WHERE node <> canonical_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val drop = connectedComponents(
        lshCandidatePairs(s, dir).select("doc1", "doc2"))
        .filter(col("doc_id") =!= col("canonical_id"))
        .select("doc_id")
      docs(s, dir)
        .join(drop, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // ---- q110: leakage-safe train/val/test split ------------------------
    // Eval-set hygiene: a doc and its near-duplicates MUST land in the
    // same split, or validation leaks training content (the train-test
    // contamination q81 measures, built into the split instead of
    // patched later). The split key is the dup GROUP's canonical id
    // (q59's components; singletons are their own group), hashed to
    // 80/10/10 — so co-splitting holds by construction, not by check.
    // Cost shape: the q59 chain + one hash + one agg; nothing new
    // shuffles at corpus scale.
    Q("q110_leakage_safe_split",
      s"""WITH RECURSIVE $lshCandSqlCtes,
        |edges AS (
        |  SELECT doc1 AS src, doc2 AS dst FROM cand
        |  UNION SELECT doc2, doc1 FROM cand),
        |reach(node, r) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |lbl AS (
        |  SELECT node, least(node, min(r)) AS canonical_id
        |  FROM reach GROUP BY node),
        |asg AS (
        |  SELECT d.doc_id, d.source,
        |    coalesce(l.canonical_id, d.doc_id) AS canon
        |  FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id),
        |spl AS (
        |  SELECT source, canon,
        |    ('0x' || substr(md5('split:' || CAST(canon AS VARCHAR)), 1, 15))::BIGINT
        |      % 100 AS h
        |  FROM asg)
        |SELECT source,
        |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(count(DISTINCT canon) AS BIGINT) AS n_groups
        |FROM spl GROUP BY 1, 2 ORDER BY source, split""".stripMargin) { (s, dir) =>
      leakageSafeSplitAssign(s, dir)
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canon")).as("n_groups"))
        .orderBy("source", "split")
    },

    // ---- q31: SimHash (16-bit, per-row — zero-shuffle signatures) -------
    Q("q31_dedup_simhash",
      s"""WITH $simhashSqlCte
        |SELECT doc_id, simhash,
        |  count(*) OVER (PARTITION BY simhash) AS bucket_size
        |FROM sh ORDER BY doc_id""".stripMargin) { (s, dir) =>
      simhashDf(s, dir)
        .withColumn("bucket_size", count(lit(1)).over(Window.partitionBy(col("simhash"))))
        .orderBy("doc_id")
    },

    // ---- q32: embedding-cosine near-dup pairs ---------------------------
    // Brute-force all-pairs ground truth, executed as a broadcast
    // numeric kernel: the corpus (bounded: it must fit one executor to be
    // brute-forceable at all) is broadcast once, and each partition
    // scans its vectors against it in a tight JVM loop — no 2M-row join
    // of interpreted array expressions. At corpus sizes past broadcast
    // range the LSH paths (q30/q34) take over.
    Q("q32_dedup_embedding_cosine",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
        |SELECT a.vec_id AS v1, b.vec_id AS v2,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY v1, v2""".stripMargin) { (s, dir) =>
      import s.implicits._
      def l2(v: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i) * v(i); i += 1 }
        math.sqrt(acc)
      }
      val e = emb(s, dir)
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .as[(Long, Array[Double])]
      // Enforce the design bound instead of OOMing past it: brute-force
      // all-pairs only makes sense while the corpus fits one executor.
      val n = e.count()
      Dedup.requireBruteForceable(n)
      val corpus = e.collect().sortBy(_._1)
      val bc = s.sparkContext.broadcast(
        (corpus.map(_._1), corpus.map(_._2), corpus.map(r => l2(r._2))))
      e.mapPartitions { it =>
        val (ids, vecs, norms) = bc.value
        it.flatMap { case (id, v) =>
          val n1 = l2(v)
          // ids are sorted: scan only vec_ids greater than ours
          var lo = java.util.Arrays.binarySearch(ids, id) + 1
          if (lo <= 0) lo = -lo
          (lo until ids.length).iterator.flatMap { j =>
            val w = vecs(j)
            var dot = 0.0; var k = 0
            while (k < v.length) { dot += v(k) * w(k); k += 1 }
            val cos = dot / (n1 * norms(j))
            if (cos >= 0.4) Some((id, ids(j), cos)) else None
          }
        }
      }.toDF("v1", "v2", "cos")
        .select(col("v1"), col("v2"), round(col("cos"), 6).as("cos_sim"))
        .orderBy("v1", "v2")
    },

    // ---- q44: SimHash hamming-distance pairs (pigeonhole buckets) -------
    // Pairs with hamming(simhash) <= 2. The oracle brute-forces all
    // pairs; the Spark side splits the 16 bits into 3 chunks — with at
    // most 2 differing bits at least one chunk is identical (pigeonhole)
    // — and joins on chunk equality, so the shuffle carries chunk-bucket
    // groups, never the cross product. Same result set, scalable plan.
    Q("q44_simhash_hamming_pairs",
      s"""WITH $simhashSqlCte
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        |ORDER BY doc1, doc2""".stripMargin) { (s, dir) =>
      val sh = simhashDf(s, dir)
        .withColumn("c0", col("simhash") % 64)                  // bits 0-5
        .withColumn("c1", shiftright(col("simhash"), 6) % 32)   // bits 6-10
        .withColumn("c2", shiftright(col("simhash"), 11) % 32)  // bits 11-15
        .localCheckpoint(true) // both join sides; freed with the frame
      val chunks = sh.select(col("doc_id"), col("simhash"),
        posexplode(array(col("c0"), col("c1"), col("c2"))).as(Seq("ci", "ck")))
      chunks.as("a")
        .join(chunks.as("b"),
          col("a.ci") === col("b.ci") && col("a.ck") === col("b.ck") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 2)
        .groupBy("doc1", "doc2")
        .agg(first(col("hamming")).as("hamming"))
        .orderBy("doc1", "doc2")
    },

    // ---- q91: corpus-level repeated-passage removal (C4-style) ----------
    // The remaining dedup granularity: q28 drops whole-identical DOCS,
    // q29/q30 near-identical docs — this finds repeated PASSAGES
    // (boilerplate, licenses, navigation chrome) that recur across
    // otherwise-distinct documents, C4's occurs-three-times line rule
    // adapted to word streams. Passages are NON-OVERLAPPING 10-word
    // chunks (alignment-sensitive by design: cheap, and C4's lines are
    // alignment-sensitive too), hashed per-row to 60-bit md5 keys. The
    // only corpus-scale shuffles are the global count groupBy and the
    // count-back equi-join, both on 8-byte keys — never passage text;
    // everything else is per-row HOF. Occurrences count every repeat
    // (including within one doc), exactly like C4's global line counts.
    // Reported per doc: chunk totals, chunks seen ≥2 and ≥3 times
    // corpus-wide, and the C4 drop flag (any ≥3 chunk).
    Q("q91_passage_dedup",
      s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS ws FROM documents
        |           WHERE len(string_split($normSql, ' ')) >= 10),
        |c AS (SELECT doc_id,
        |        ('0x' || substr(md5(array_to_string(ws[b*10+1:b*10+10], ' ')), 1, 15))::BIGINT AS k
        |      FROM (SELECT doc_id, ws, unnest(range(0, len(ws) // 10)) AS b FROM t)),
        |g AS (SELECT k, count(*) AS cnt FROM c GROUP BY 1),
        |d AS (SELECT c.doc_id, count(*) AS n_chunks,
        |        sum(CASE WHEN g.cnt >= 2 THEN 1 ELSE 0 END) AS n_rep2,
        |        sum(CASE WHEN g.cnt >= 3 THEN 1 ELSE 0 END) AS n_rep3
        |      FROM c JOIN g USING (k) GROUP BY 1)
        |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(n_rep2 AS BIGINT) AS n_rep2, CAST(n_rep3 AS BIGINT) AS n_rep3,
        |  round(n_rep2 / CAST(n_chunks AS DOUBLE), 6) AS rep2_frac,
        |  CAST(CASE WHEN n_rep3 > 0 THEN 1 ELSE 0 END AS INT) AS drop_flag
        |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val chunks = docs(s, dir)
        .withColumn("ws", split(norm(col("text")), " "))
        .filter(size(col("ws")) >= 10)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(ws) DIV 10 - 1),
            |  b -> cast(conv(substring(md5(array_join(
            |         slice(ws, b * 10 + 1, 10), ' ')), 1, 15), 16, 10) as bigint))"""
            .stripMargin)).as("k"))
        .localCheckpoint(true) // read by the count side and the join side
      val counts = chunks.groupBy("k").agg(count(lit(1)).as("cnt"))
      chunks.join(counts, "k")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("cnt") >= 2, 1).otherwise(0)).as("n_rep2"),
          sum(when(col("cnt") >= 3, 1).otherwise(0)).as("n_rep3"))
        .select(col("doc_id"),
          col("n_chunks").cast("long").as("n_chunks"),
          col("n_rep2").cast("long").as("n_rep2"),
          col("n_rep3").cast("long").as("n_rep3"),
          round(col("n_rep2") / col("n_chunks").cast("double"), 6).as("rep2_frac"),
          when(col("n_rep3") > 0, 1).otherwise(0).cast("int").as("drop_flag"))
        .orderBy("doc_id")
    },

    // ---- q127: PageRank over the near-dup graph -------------------------
    // Iterative distributed fixpoint — the graph-analytics shape (each
    // round one equi-join + one agg, no driver-side graph): rank the
    // q30 near-dup graph's nodes by PageRank (d=0.85, 5 rounds), the
    // standard centrality pass for picking the canonical copy of a big
    // duplicate cluster or weighting boilerplate hubs. The symmetric
    // edge list is degree-annotated ONCE and checkpointed, so every
    // round joins the same pinned frame; per-round 1e-9 rank rounding
    // pins the float trajectory (the q104 trick), letting DuckDB replay
    // all five rounds exactly via chained MATERIALIZED CTEs. Every node
    // of the pair graph has deg ≥ 1 both ways (symmetry), so no
    // dangling-mass term exists.
    Q("q127_neardup_pagerank", {
      val iter = (k: Int) =>
        s"""pr$k AS MATERIALIZED (
          |  SELECT e.dst AS id,
          |    round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
          |      + 0.85 * sum(p.pr / d.d), 9) AS pr
          |  FROM edges e
          |  JOIN pr${k - 1} p ON p.id = e.src
          |  JOIN deg d ON d.src = e.src
          |  GROUP BY e.dst)"""
      s"""WITH $lshCandSqlCtes,
        |edges AS (
        |  SELECT doc1 AS src, doc2 AS dst FROM cand
        |  UNION SELECT doc2, doc1 FROM cand),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
        |pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr
        |        FROM nodes),
        |${(1 to 5).map(iter).mkString(",\n")}
        |SELECT id AS doc_id, round(pr, 6) AS pagerank
        |FROM pr5 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val pairs = lshCandidatePairs(s, dir).select("doc1", "doc2")
      val edges = pairs.union(pairs.select(col("doc2"), col("doc1")))
        .toDF("src", "dst")
      val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      // degree-annotated edges pinned once — 5 rounds re-join this frame,
      // not the whole LSH chain
      val edgesW = edges.join(deg, "src").localCheckpoint(true)
      val n = edgesW.select("src").distinct().count()
      var pr = edgesW.select(col("src").as("id")).distinct()
        .withColumn("pr", lit(1.0d / n))
      for (_ <- 1 to 5) {
        pr = edgesW.join(pr, col("id") === col("src"))
          .groupBy(col("dst"))
          .agg(round(lit(0.15d / n) + lit(0.85d) * sum(col("pr") / col("d")), 9)
            .as("pr"))
          .withColumnRenamed("dst", "id")
          .localCheckpoint(true) // truncate the per-round lineage
      }
      pr.select(col("id").as("doc_id"), round(col("pr"), 6).as("pagerank"))
        .orderBy("doc_id")
    },

    // ---- q133: quality-ranked canonical per dup group -------------------
    // q59/q67 keep the MIN-ID member of each near-dup group — simple but
    // arbitrary. Production pipelines keep the BEST member (longest /
    // highest-quality): one max_by per group over (n_chars, -doc_id), a
    // single partial-aggregable pass over the labeled members, no window
    // sort. `upgraded` counts the groups where quality actually changed
    // the keep decision vs the min-id rule.
    Q("q133_canonical_by_quality",
      s"""WITH RECURSIVE $lshCandSqlCtes,
        |edges AS (
        |  SELECT doc1 AS src, doc2 AS dst FROM cand
        |  UNION SELECT doc2, doc1 FROM cand),
        |reach(node, r) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |lbl AS (
        |  SELECT node, least(node, min(r)) AS canonical_id
        |  FROM reach GROUP BY node),
        |m AS (SELECT lbl.node AS doc_id, lbl.canonical_id, d.n_chars
        |      FROM lbl JOIN documents d ON d.doc_id = lbl.node),
        |r AS (SELECT *, row_number() OVER (PARTITION BY canonical_id
        |        ORDER BY n_chars DESC, doc_id) AS rn FROM m),
        |g AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS n_members
        |      FROM m GROUP BY 1)
        |SELECT r.canonical_id AS group_id, r.doc_id AS keep_id,
        |  CAST(r.n_chars AS BIGINT) AS keep_chars, g.n_members,
        |  CAST(r.doc_id <> r.canonical_id AS INT) AS upgraded
        |FROM r JOIN g USING (canonical_id)
        |WHERE rn = 1 ORDER BY group_id""".stripMargin) { (s, dir) =>
      val cc = connectedComponents(
        lshCandidatePairs(s, dir).select("doc1", "doc2"))
      val m = cc.join(docs(s, dir).select("doc_id", "n_chars"), "doc_id")
      m.groupBy(col("canonical_id").as("group_id"))
        .agg(
          max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
            .as("keep_id"),
          max_by(col("n_chars"), struct(col("n_chars"), -col("doc_id")))
            .cast("long").as("keep_chars"),
          count(lit(1)).as("n_members"))
        .select(col("group_id"), col("keep_id"), col("keep_chars"),
          col("n_members"),
          (col("keep_id") =!= col("group_id")).cast("int").as("upgraded"))
        .orderBy("group_id")
    },

    // ---- q138: EXACT set-similarity join (PPJoin prefix filtering) ------
    // The LSH family (q30) trades false negatives for scale; this is the
    // canonical EXACT algorithm over the SAME 3-gram shingle sets q30
    // banded: order every doc's distinct-shingle set
    // rare-first (global df asc, word asc), take the prefix of length
    // n - ceil(t*n) + 1, and generate candidates only from pairs sharing
    // a PREFIX token — if J(A,B) >= t the prefixes must intersect
    // (pigeonhole), so nothing is missed, and prefixes are dominated by
    // RARE tokens so the candidate join never explodes on stopwords.
    // Verification is a per-pair array_intersect on the two docs' own
    // token arrays; the t=0.7 threshold is an integer cross-multiply.
    // No window anywhere: the per-doc ordering is a sort_array over the
    // doc's OWN (df, word) structs inside one hash agg.
    Q("q138_exact_setsim_join",
      s"""SELECT doc1, doc2, inter,
        |  round(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 6) AS jaccard
        |FROM ($setsimExactPairsSql) e
        |ORDER BY doc1, doc2""".stripMargin) { (s, dir) =>
      exactSetSimJoinFromLists(setsimListsCached(s, dir))._1
        .select("doc1", "doc2", "inter", "jaccard")
        .orderBy("doc1", "doc2")
    },

    // ---- q172: LSH recall evaluation against the exact join -------------
    // The dedup-tuning diagnostic every pipeline owner wants: how much
    // does the scale path (banded MinHash, q30) MISS relative to the
    // exact set-similarity join (q138), and where — per true-Jaccard
    // band. Composes the two proven chains with one pair-key left join;
    // buckets are exact integer comparisons (inter·10 vs k·union), so
    // no float boundary can disagree between engines. The shape of the
    // answer (recall rising toward 1.0 as true Jaccard rises) is the
    // banding S-curve every LSH deployment is tuned by.
    Q("q172_lsh_recall_eval", {
      s"""WITH $lshCandSqlCtes,
        |exact AS (SELECT * FROM ($setsimExactPairsSql) e),
        |b AS (SELECT
        |    CASE WHEN inter = n1 + n2 - inter THEN '1.0'
        |         WHEN inter * 10 >= 9 * (n1 + n2 - inter) THEN '0.9'
        |         WHEN inter * 10 >= 8 * (n1 + n2 - inter) THEN '0.8'
        |         ELSE '0.7' END AS bucket,
        |    CASE WHEN c.doc1 IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM exact LEFT JOIN cand c
        |    ON c.doc1 = exact.doc1 AND c.doc2 = exact.doc2),
        |g AS (SELECT bucket, count(*) AS n_exact, sum(hit) AS n_hit
        |      FROM b GROUP BY 1
        |      UNION ALL SELECT 'all', count(*), sum(hit) FROM b)
        |SELECT bucket, CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(n_hit AS BIGINT) AS n_hit,
        |  round(CAST(n_hit AS DOUBLE) / nullif(n_exact, 0), 6) AS recall
        |FROM g ORDER BY bucket""".stripMargin
    }) { (s, dir) =>
      val exact = exactSetSimJoinFromLists(setsimListsCached(s, dir))._1
        .select("doc1", "doc2", "inter", "n1", "n2")
      val lsh = lshCandidatePairs(s, dir)
        .select(col("doc1"), col("doc2"), lit(1L).as("hit"))
      val union = col("n1") + col("n2") - col("inter")
      val b = exact.join(lsh, Seq("doc1", "doc2"), "left")
        .select(
          when(col("inter") === union, "1.0")
            .when(col("inter") * 10 >= union * 9, "0.9")
            .when(col("inter") * 10 >= union * 8, "0.8")
            .otherwise("0.7").as("bucket"),
          coalesce(col("hit"), lit(0L)).as("hit"))
        .persist() // grouped pass + the 'all' row read the same tiny frame
      try {
        val per = b.groupBy("bucket")
          .agg(count(lit(1)).as("n_exact"), sum(col("hit")).as("n_hit"))
        val all = b.agg(count(lit(1)).as("n_exact"), sum(col("hit")).as("n_hit"))
          .select(lit("all").as("bucket"), col("n_exact"), col("n_hit"))
        per.unionByName(all)
          .withColumn("recall",
            when(col("n_exact") === 0, lit(null).cast("double"))
              .otherwise(round(col("n_hit").cast("double") / col("n_exact"), 6)))
          .orderBy("bucket")
          .localCheckpoint(true) // pin before b.unpersist
      } finally b.unpersist()
    },

    // ---- q174: LSH precision + MinHash estimation error -----------------
    // q172 measures what the scale path MISSES; this measures what it
    // FALSELY CLAIMS and how far the MinHash estimate sits from the
    // true Jaccard — the other half of the dedup-tuning story (a
    // pipeline deleting "duplicates" at est ≥ 0.7 needs the precision
    // number before anyone pushes the button). Claimed pairs (integer
    // threshold n_equal·10 ≥ 7K) join the per-doc hashed shingle sets
    // for an exact verify — bounded by the CLAIMED pair count, never
    // corpus²; the per-pair |est − true| error is folded in integer
    // micro-units (|n_equal·uni − K·inter| over K·uni, floor+0.5) so
    // both engines sum identical longs and divide once at the end.
    Q("q174_lsh_precision_eval", {
      s"""WITH $lshCandSqlCtes,
        |sh2 AS ($shinglesSql),
        |tt AS (SELECT doc_id,
        |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS w FROM sh2),
        |lists AS (SELECT doc_id, list(w ORDER BY w) AS wa, count(*) AS n
        |          FROM tt GROUP BY 1),
        |cl AS (SELECT c.n_equal,
        |    len(list_intersect(l1.wa, l2.wa)) AS inter,
        |    l1.n + l2.n - len(list_intersect(l1.wa, l2.wa)) AS uni
        |  FROM cand c JOIN lists l1 ON l1.doc_id = c.doc1
        |              JOIN lists l2 ON l2.doc_id = c.doc2
        |  WHERE c.n_equal * 10 >= 7 * $MinhashK),
        |p AS (SELECT n_equal,
        |    CASE WHEN inter * 10 >= 7 * uni THEN 1 ELSE 0 END AS istrue,
        |    CAST(floor(1000000.0 * abs(n_equal * uni - $MinhashK * inter)
        |      / ($MinhashK * uni) + 0.5) AS BIGINT) AS err
        |  FROM cl),
        |g AS (SELECT CAST(n_equal AS VARCHAR) AS agree,
        |        count(*) AS n_claimed, sum(istrue) AS n_true,
        |        sum(err) AS sum_err
        |      FROM p GROUP BY 1
        |      UNION ALL SELECT 'all', count(*), sum(istrue), sum(err) FROM p)
        |SELECT agree, CAST(n_claimed AS BIGINT) AS n_claimed,
        |  CAST(n_true AS BIGINT) AS n_true,
        |  round(CAST(n_true AS DOUBLE) / nullif(n_claimed, 0), 6) AS precision,
        |  round(CAST(sum_err AS DOUBLE) / nullif(n_claimed, 0) / 1000000.0, 6)
        |    AS mean_abs_err
        |FROM g ORDER BY agree""".stripMargin
    }) { (s, dir) =>
      val claimed = lshCandidatePairs(s, dir)
        .filter(col("n_equal") * 10 >= 7 * MinhashK)
        .select("doc1", "doc2", "n_equal")
      // shared spilled lists (rare-first wa order — irrelevant to the
      // intersect-based verify below, identical n counts)
      val lists = setsimListsCached(s, dir)
      val p = claimed
        .join(lists.select(col("doc_id").as("doc1"), col("wa").as("wa1"),
          col("n").as("n1")), "doc1")
        .join(lists.select(col("doc_id").as("doc2"), col("wa").as("wa2"),
          col("n").as("n2")), "doc2")
        .withColumn("inter",
          size(array_intersect(col("wa1"), col("wa2"))).cast("long"))
        .withColumn("uni", col("n1") + col("n2") - col("inter"))
        .select(col("n_equal"),
          when(col("inter") * 10 >= col("uni") * 7, 1L).otherwise(0L)
            .as("istrue"),
          floor(lit(1000000.0d) *
            abs(col("n_equal") * col("uni") - lit(MinhashK) * col("inter")) /
            (lit(MinhashK) * col("uni")) + 0.5).cast("long").as("err"))
        .persist() // grouped pass + the 'all' row read the same tiny frame
      try {
        val per = p.groupBy(col("n_equal").cast("string").as("agree"))
          .agg(count(lit(1)).as("n_claimed"), sum(col("istrue")).as("n_true"),
            sum(col("err")).as("sum_err"))
        val all = p.agg(count(lit(1)).as("n_claimed"),
            sum(col("istrue")).as("n_true"), sum(col("err")).as("sum_err"))
          .select(lit("all").as("agree"), col("n_claimed"), col("n_true"),
            col("sum_err"))
        per.unionByName(all)
          .select(col("agree"), col("n_claimed"), col("n_true"),
            when(col("n_claimed") === 0, lit(null).cast("double"))
              .otherwise(round(col("n_true").cast("double") / col("n_claimed"), 6))
              .as("precision"),
            when(col("n_claimed") === 0, lit(null).cast("double"))
              .otherwise(round(col("sum_err").cast("double") /
                col("n_claimed") / 1e6, 6)).as("mean_abs_err"))
          .orderBy("agree")
          .localCheckpoint(true) // pin before p.unpersist
      } finally p.unpersist()
    },

    // ---- q180: exact duplicated-window ladder ---------------------------
    // The fixed-granularity form of exact SUBSTRING dedup (Lee et al.
    // run a suffix array to find any 50-token duplicate; the
    // distributed-first approximation is a ladder of window lengths):
    // for L ∈ {16, 32, 64} tokens, which docs share an exact L-token
    // window with ANOTHER doc? Each rung is hashed sliding windows →
    // one hash groupBy (8-byte keys, never doc×doc) → a distinct-doc
    // semi-join back; the histogram says how much verbatim duplication
    // survives at each granularity — what decides the dedup window
    // length before a corpus-scale substring-dedup run.
    Q("q180_dup_window_ladder",
      s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
        |           FROM documents),
        |l AS (SELECT unnest([16, 32, 64]) AS L),
        |win AS (SELECT w.doc_id, l.L,
        |    unnest(list_transform(range(1, len(ws) - l.L + 2),
        |      i -> md5(array_to_string(list_slice(ws, i, i + l.L - 1), ' '))))
        |      AS h
        |  FROM w, l WHERE len(ws) >= l.L),
        |dup AS (SELECT L, h FROM win GROUP BY L, h
        |        HAVING count(DISTINCT doc_id) >= 2),
        |dd AS (SELECT L, count(*) AS n_dup FROM (
        |    SELECT DISTINCT win.doc_id, win.L FROM win JOIN dup USING (L, h))
        |  GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM documents)
        |SELECT l.L AS win_len, CAST(tot.n AS BIGINT) AS n_docs,
        |  CAST(coalesce(dd.n_dup, 0) AS BIGINT) AS n_docs_dup,
        |  round(CAST(coalesce(dd.n_dup, 0) AS DOUBLE) / tot.n, 6)
        |    AS dup_frac
        |FROM l LEFT JOIN dd ON dd.L = l.L, tot
        |ORDER BY win_len""".stripMargin) { (s, dir) =>
      import s.implicits._
      val total = docs(s, dir).count()
      val w = docs(s, dir)
        .select(col("doc_id"), split(norm(col("text")), " ").as("ws"))
      val lengths = Seq(16, 32, 64)
      val win = w
        .withColumn("L", explode(typedLit(lengths)))
        .filter(size(col("ws")) >= col("L"))
        .select(col("doc_id"), col("L"),
          explode(expr(
            "transform(sequence(1, size(ws) - L + 1)," +
              " i -> md5(array_join(slice(ws, i, L), ' ')))")).as("h"))
        .localCheckpoint(true) // read by the dup groupBy AND the semi-join
      val dup = win.groupBy("L", "h")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select("L", "h")
      val dd = win.join(dup, Seq("L", "h"), "left_semi")
        .select("doc_id", "L").distinct()
        .groupBy("L").agg(count(lit(1)).as("n_dup"))
      lengths.toDF("win_len")
        .join(dd.withColumnRenamed("L", "win_len"), Seq("win_len"), "left")
        .select(col("win_len"), lit(total).as("n_docs"),
          coalesce(col("n_dup"), lit(0L)).as("n_docs_dup"),
          round(coalesce(col("n_dup"), lit(0L)).cast("double") / total, 6)
            .as("dup_frac"))
        .orderBy("win_len")
    },

    // ---- q184: longest shared duplicated span ---------------------------
    // The suffix-extension upgrade of q180's fixed rungs: the ACTUAL
    // duplicated-span length distribution. A shared span of length
    // 16+k−1 between two docs is exactly a run of k consecutive matched
    // 16-token windows on one diagonal (i−j constant), so the longest
    // shared span per pair = 16 + longest island − 1, with islands
    // found by the classic gaps-and-islands grouping
    // (i − row_number() PARTITION BY pair, diagonal). Everything is
    // equi-joins on window hashes plus PARTITIONED windows — never a
    // doc×doc text comparison and never a global sort. Window hashes
    // shared by more than MaxSpanWindowDocs docs are dropped as
    // boilerplate before pairing (the CCNet/suffix-dedup convention) —
    // the k² pair blowup on a viral n-gram is the one thing that
    // wouldn't survive 100 TB, and both engines apply the same cap.
    Q("q184_longest_dup_span",
      s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
        |           FROM documents),
        |win AS (SELECT doc_id, i,
        |    md5(array_to_string(list_slice(ws, i, i + 15), ' ')) AS h
        |  FROM w, unnest(range(1, len(ws) - 16 + 2)) t(i)
        |  WHERE len(ws) >= 16),
        |freq AS (SELECT h FROM win GROUP BY h
        |         HAVING count(DISTINCT doc_id) BETWEEN 2 AND $MaxSpanWindowDocs),
        |m AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.i AS i, b.i AS j
        |      FROM win a JOIN freq f ON a.h = f.h
        |      JOIN win b ON b.h = a.h
        |      WHERE a.doc_id < b.doc_id),
        |r AS (SELECT d1, d2, i,
        |        i - row_number() OVER (PARTITION BY d1, d2, i - j
        |                               ORDER BY i) AS isl,
        |        i - j AS g
        |      FROM m),
        |runs AS (SELECT d1, d2, g, isl, count(*) AS run
        |         FROM r GROUP BY 1, 2, 3, 4),
        |best AS (SELECT d1, d2, CAST(16 + max(run) - 1 AS INT) AS span_len
        |         FROM runs GROUP BY 1, 2)
        |SELECT span_len, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM best GROUP BY span_len ORDER BY span_len""".stripMargin) { (s, dir) =>
      longestDupSpanFromWin(win16(s, dir))
    },

    // ---- q187: substring-dedup CUT accounting ---------------------------
    // q180 picks the window length, q184 measures span lengths, q181
    // counts whole-doc survivors — this is the actual CUT step's
    // yield: under the earlier-id-wins rule (a 16-token window whose
    // hash appears in any LOWER doc_id is duplicated material), how
    // many TOKENS does span removal excise per source? Removed
    // positions are the UNION of [i, i+15] intervals over flagged
    // window starts — merged per doc by gaps-and-islands (starts ≤16
    // apart are one contiguous cut), so overlapping windows never
    // double-count. One hash groupBy for the window minima, one
    // equi-join back, per-doc PARTITIONED windows for the merge —
    // never doc×doc, never a global sort.
    Q("q187_substring_dedup_cut",
      s"""WITH base AS (SELECT doc_id, source,
        |    string_split($normSql, ' ') AS ws FROM documents),
        |win AS (SELECT doc_id, i,
        |    md5(array_to_string(list_slice(ws, i, i + 15), ' ')) AS h
        |  FROM base, unnest(range(1, len(ws) - 16 + 2)) t(i)
        |  WHERE len(ws) >= 16),
        |wmin AS (SELECT h, min(doc_id) AS mind FROM win GROUP BY 1),
        |rem AS (SELECT w.doc_id, w.i FROM win w JOIN wmin USING (h)
        |        WHERE wmin.mind < w.doc_id),
        |r AS (SELECT doc_id, i,
        |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
        |           OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 16
        |         THEN 1 ELSE 0 END AS brk
        |  FROM rem),
        |r2 AS (SELECT doc_id, i, sum(brk)
        |    OVER (PARTITION BY doc_id ORDER BY i) AS isl FROM r),
        |isls AS (SELECT doc_id, isl, max(i) - min(i) + 16 AS cut
        |         FROM r2 GROUP BY 1, 2),
        |cov AS (SELECT doc_id, sum(cut) AS removed FROM isls GROUP BY 1)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(cov.removed) AS BIGINT) AS docs_touched,
        |  CAST(sum(len(ws)) AS BIGINT) AS tokens_in,
        |  CAST(coalesce(sum(cov.removed), 0) AS BIGINT) AS tokens_removed,
        |  round(CAST(coalesce(sum(cov.removed), 0) AS DOUBLE)
        |    / sum(len(ws)), 6) AS removed_frac
        |FROM base LEFT JOIN cov USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      // the window frame comes from the shared span-family spill; the
      // per-doc token counts are a separate NARROW projection (the old
      // shape checkpointed every doc's full token ARRAY just to sum its
      // size at the end)
      val base = docs(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(norm(col("text")), " ")).cast("long").as("ntok"))
      val win = win16(s, dir)
      val wmin = win.groupBy("h").agg(min(col("doc_id")).as("mind"))
      val rem = win.join(wmin, "h")
        .filter(col("mind") < col("doc_id"))
        .select("doc_id", "i")
      val byDoc = Window.partitionBy("doc_id").orderBy("i")
      val cov = rem
        .withColumn("prev", lag(col("i"), 1).over(byDoc))
        .withColumn("brk",
          when(col("prev").isNull || col("i") - col("prev") > 16, 1)
            .otherwise(0))
        .withColumn("isl", sum(col("brk")).over(byDoc))
        .groupBy("doc_id", "isl")
        .agg((max(col("i")) - min(col("i")) + 16).as("cut"))
        .groupBy("doc_id").agg(sum(col("cut")).as("removed"))
      base.join(cov, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("removed")).as("docs_touched"),
          sum(col("ntok")).cast("long").as("tokens_in"),
          coalesce(sum(col("removed")), lit(0L)).as("tokens_removed"),
          round(coalesce(sum(col("removed")), lit(0L)).cast("double") /
            sum(col("ntok")), 6).as("removed_frac"))
        .orderBy("source")
    },

    // ---- q181: dedup-funnel yield report --------------------------------
    // The dashboard a dedup run ships with: how many docs/tokens does
    // EACH stage remove, per source? Three independent keep-rules
    // (exact: min-id per md5 fingerprint — q28's rule; near-dup: CC
    // canonical over the LSH pairs — q59's rule; window: no shared
    // 32-token window with a LOWER doc_id — q180's granularity) applied
    // as cumulative intersections, so every stage's count is
    // deterministic and independently recomputable. Each flag is one
    // hash-groupBy + equi-join on 8-byte keys; the whole funnel
    // composes the session-spilled candidate/list artifacts.
    Q("q181_dedup_funnel", {
      s"""WITH RECURSIVE $lshCandSqlCtes,
        |edges AS (
        |  SELECT doc1 AS src, doc2 AS dst FROM cand
        |  UNION SELECT doc2, doc1 FROM cand),
        |reach(node, r) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |lbl AS (SELECT node, least(node, min(r)) AS canonical_id
        |        FROM reach GROUP BY node),
        |base AS (SELECT doc_id, source,
        |    len(string_split($normSql, ' ')) AS toks,
        |    md5($normSql) AS fp, string_split($normSql, ' ') AS ws
        |  FROM documents),
        |ex AS (SELECT fp, min(doc_id) AS keeper FROM base GROUP BY 1),
        |win AS (SELECT b.doc_id,
        |    unnest(list_transform(range(1, len(ws) - 32 + 2),
        |      i -> md5(array_to_string(list_slice(ws, i, i + 31), ' ')))) AS h
        |  FROM base b WHERE len(ws) >= 32),
        |wmin AS (SELECT h, min(doc_id) AS mind FROM win GROUP BY 1),
        |wflag AS (SELECT win.doc_id, min(wmin.mind) AS wmind
        |          FROM win JOIN wmin USING (h) GROUP BY 1),
        |f AS (SELECT b.source, b.toks,
        |    b.doc_id = ex.keeper AS k1,
        |    (lbl.canonical_id IS NULL OR lbl.canonical_id = b.doc_id) AS k2,
        |    (wflag.wmind IS NULL OR wflag.wmind >= b.doc_id) AS k3
        |  FROM base b
        |  JOIN ex ON ex.fp = b.fp
        |  LEFT JOIN lbl ON lbl.node = b.doc_id
        |  LEFT JOIN wflag ON wflag.doc_id = b.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS after_exact,
        |  CAST(sum(CASE WHEN k1 AND k2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS after_neardup,
        |  CAST(sum(CASE WHEN k1 AND k2 AND k3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS after_window,
        |  CAST(sum(toks) AS BIGINT) AS tokens_in,
        |  CAST(sum(CASE WHEN k1 AND k2 AND k3 THEN toks ELSE 0 END) AS BIGINT)
        |    AS tokens_out
        |FROM f GROUP BY source ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val base = docs(s, dir)
        .select(col("doc_id"), col("source"),
          split(norm(col("text")), " ").as("ws"),
          md5(norm(col("text"))).as("fp"))
        .withColumn("toks", size(col("ws")).cast("long"))
        .localCheckpoint(true) // read by three flag joins + the final agg
      val ex = base.groupBy("fp").agg(min(col("doc_id")).as("keeper"))
      val cc = connectedComponents(
        lshCandidatePairs(s, dir).select("doc1", "doc2"))
        .select(col("doc_id"), col("canonical_id"))
      val win = base.filter(size(col("ws")) >= 32)
        .select(col("doc_id"),
          explode(expr(
            "transform(sequence(1, size(ws) - 31)," +
              " i -> md5(array_join(slice(ws, i, 32), ' ')))")).as("h"))
      val wmin = win.groupBy("h").agg(min(col("doc_id")).as("mind"))
      val wflag = win.join(wmin, "h")
        .groupBy("doc_id").agg(min(col("mind")).as("wmind"))
      base
        .join(ex, "fp")
        .join(cc, Seq("doc_id"), "left")
        .join(wflag, Seq("doc_id"), "left")
        .select(col("source"), col("toks"),
          (col("doc_id") === col("keeper")).as("k1"),
          (col("canonical_id").isNull ||
            col("canonical_id") === col("doc_id")).as("k2"),
          (col("wmind").isNull || col("wmind") >= col("doc_id")).as("k3"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("k1"), 1L).otherwise(0L)).as("after_exact"),
          sum(when(col("k1") && col("k2"), 1L).otherwise(0L))
            .as("after_neardup"),
          sum(when(col("k1") && col("k2") && col("k3"), 1L).otherwise(0L))
            .as("after_window"),
          sum(col("toks")).as("tokens_in"),
          sum(when(col("k1") && col("k2") && col("k3"), col("toks"))
            .otherwise(0L)).as("tokens_out"))
        .orderBy("source")
    },

    // ---- q201: asymmetric containment (doc-in-doc detection) -----------
    // The dedup axis Jaccard misses: a short quote INSIDE a long
    // document scores near-zero symmetric Jaccard but containment
    // |A∩B| / |A| = 1.0 — the signal that catches quoted/excerpted
    // training text. Fixture: every 7th doc emits its first 60% of
    // tokens as a standalone "snippet" feed (ids offset +1,000,000 —
    // the in-query mutation technique again). Candidates come from the
    // q29 machinery — per-shingle equi-join on 60-bit hashed 3-gram
    // shingles, hot shingles (B-side doc-frequency > HotShingleCap)
    // dropped from BOTH the intersection and the denominator so the
    // pruned universe is consistent — never snippet×doc all-pairs.
    // The true pair is provably containment 1.0 (a prefix's shingles
    // are a subset); `hit` pins it. Thresholded at 0.5.
    Q("q201_containment_dedup", {
      val hSql = "('0x'||substr(md5(s),1,15))::BIGINT"
      val shOf = (src: String) =>
        s"""SELECT DISTINCT doc_id,
          |  unnest(list_transform(range(1, len(string_split($normSql,' ')) - 1),
          |    i -> array_to_string(list_slice(string_split($normSql,' '), i, i+2),' '))) AS s
          |FROM $src""".stripMargin
      s"""WITH snips AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(list_slice(w, 1, (len(w) * 3) // 5), ' ') AS text
        |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w
        |        FROM documents WHERE doc_id % 7 = 0)
        |  WHERE len(w) >= 5),
        |ash0 AS (${shOf("snips")}),
        |bsh0 AS ($shinglesSql),
        |ash AS (SELECT doc_id, $hSql AS h FROM ash0),
        |bsh AS (SELECT doc_id, $hSql AS h FROM bsh0),
        |hot AS (SELECT h FROM bsh GROUP BY h
        |        HAVING count(*) > $HotShingleCap),
        |aok AS (SELECT a.* FROM ash a LEFT JOIN hot ON hot.h = a.h
        |        WHERE hot.h IS NULL),
        |bok AS (SELECT b.* FROM bsh b LEFT JOIN hot ON hot.h = b.h
        |        WHERE hot.h IS NULL),
        |asz AS (SELECT doc_id, count(*) AS n FROM aok GROUP BY 1),
        |ip AS (SELECT a.doc_id AS snip_id, b.doc_id AS orig_id,
        |         count(*) AS inter
        |       FROM aok a JOIN bok b ON a.h = b.h GROUP BY 1, 2)
        |SELECT ip.snip_id, ip.orig_id, CAST(ip.inter AS BIGINT) AS inter,
        |  CAST(asz.n AS BIGINT) AS asize,
        |  round(CAST(ip.inter AS DOUBLE) / asz.n, 4) AS containment,
        |  CAST(ip.orig_id = ip.snip_id - 1000000 AS INT) AS hit
        |FROM ip JOIN asz ON asz.doc_id = ip.snip_id
        |WHERE CAST(ip.inter AS DOUBLE) / asz.n >= 0.5
        |ORDER BY ip.snip_id, ip.orig_id""".stripMargin
    }) { (s, dir) =>
      val h = (c: Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val snips = docs(s, dir)
        .filter(col("doc_id") % 7 === 0)
        .withColumn("_w", split(norm(col("text")), " "))
        .filter(size(col("_w")) >= 5)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          array_join(slice(col("_w"), lit(1),
            expr("CAST(size(_w) * 3 DIV 5 AS INT)")), " ").as("text"))
      val ash = shinglesOf(snips).select(col("doc_id"), h(col("s")).as("h"))
      // corpus-side shingle hashes come from the q138/q174 setsim list
      // spill (same 60-bit md5 hashing, exploded back to rows) instead
      // of re-running the shingle chain — q201 was the last shingle
      // consumer rebuilding it from scratch, and the rebuild showed up
      // as a 4.8 → 9.0 s driver-run swing
      val bsh = setsimListsCached(s, dir)
        .select(col("doc_id"), explode(col("wa")).as("h"))
      val hot = bsh.groupBy("h").agg(count(lit(1)).as("bf"))
        .filter(col("bf") > HotShingleCap).select("h")
      val aok = ash.join(broadcast(hot), Seq("h"), "left_anti")
      val bok = bsh.join(broadcast(hot), Seq("h"), "left_anti")
      val asz = aok.groupBy("doc_id").agg(count(lit(1)).as("n"))
      aok.select(col("doc_id").as("snip_id"), col("h"))
        .join(bok.select(col("doc_id").as("orig_id"), col("h")), "h")
        .groupBy("snip_id", "orig_id").agg(count(lit(1)).as("inter"))
        .join(broadcast(asz.select(col("doc_id").as("snip_id"),
          col("n").as("asize"))), "snip_id")
        .withColumn("containment",
          col("inter").cast("double") / col("asize"))
        .filter(col("containment") >= 0.5)
        .select(col("snip_id"), col("orig_id"), col("inter"),
          col("asize"), round(col("containment"), 4).as("containment"),
          (col("orig_id") === col("snip_id") - 1000000L).cast("int")
            .as("hit"))
        .orderBy("snip_id", "orig_id")
    },

    // ---- q216: intra-document dedup REWRITE (C4-style) -------------------
    // The within-doc companion to the corpus-level window families
    // (q180/q184/q187): chunk each doc into consecutive 2-token chunks,
    // drop every chunk whose exact text already occurred EARLIER IN THE
    // SAME DOC (keep-first), and emit the REWRITTEN text fingerprint —
    // the C4 "deduplicate repeated spans in place" pass, where the
    // deliverable is the cleaned document, not just a measurement
    // (q86/q105 measure; this one rewrites). Everything is per-doc:
    // chunking is a pure HOF projection over the token array (no
    // explode before the group), first-occurrence is one hash aggregate
    // keyed (doc, chunk), and the rebuild sorts the kept chunks by
    // their original position — so the only exchange carries (doc,
    // chunk) rows and the operator trivially scales out per document.
    Q("q216_intradoc_dedup",
      s"""WITH tk AS (SELECT doc_id, string_split($normSql, ' ') AS toks
        |            FROM documents),
        |ch AS (SELECT doc_id, j AS ci,
        |    array_to_string(list_slice(toks, CAST(j * 2 + 1 AS INT),
        |      CAST(j * 2 + 2 AS INT)), ' ') AS chunk
        |  FROM tk, unnest(range((len(toks) + 1) // 2)) t(j)),
        |cf AS (SELECT doc_id, chunk, min(ci) AS ci FROM ch GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY ci) AS cleaned
        |  FROM cf GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
        |        FROM ch GROUP BY doc_id)
        |SELECT doc_id, n_chunks, n_kept,
        |  CAST(n_chunks - n_kept AS BIGINT) AS n_dropped,
        |  md5(cleaned) AS cleaned_fp
        |FROM tot JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ch = docs(s, dir)
        .select(col("doc_id"), split(norm(col("text")), " ").as("toks"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, (size(toks) + 1) div 2 - 1), " +
            "i -> array_join(slice(toks, i * 2 + 1, 2), ' '))")))
        .withColumnRenamed("pos", "ci").withColumnRenamed("col", "chunk")
      val cf = ch.groupBy("doc_id", "chunk").agg(min("ci").as("ci"))
      val agg = cf.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(ci, chunk))), " +
              "x -> x.chunk)")).as("cleaned"))
      val tot = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      tot.join(agg, "doc_id")
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          (col("n_chunks") - col("n_kept")).as("n_dropped"),
          md5(col("cleaned").cast("binary")).as("cleaned_fp"))
        .orderBy("doc_id")
    },

    // ---- q219: source-level similarity matrix ---------------------------
    // Pairwise shingle-set Jaccard BETWEEN SOURCES — the corpus-mixture
    // diagnostic read before weighting sources into a training mix
    // (two crawls that are 40% similar should not both get full
    // weight). Reuses the q138/q174 session-spilled per-doc shingle
    // lists; the pair generation is the same per-key equi-join
    // discipline as every dedup family, but keyed at SOURCE granularity
    // — a shingle present in k sources contributes C(k,2) ≤ C(|S|,2)
    // pairs, so fan-out is bounded by the SOURCE COUNT squared (a few
    // hundred at any corpus scale), never by docs. Output: inter/union
    // per source pair with exact integer set sizes.
    Q("q219_source_similarity",
      s"""WITH sh AS ($shinglesSql),
        |hh AS (SELECT DISTINCT d.source,
        |    ('0x'||substr(md5(sh.s),1,15))::BIGINT AS h
        |  FROM sh JOIN documents d USING (doc_id)),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |       FROM hh GROUP BY source),
        |pr AS (SELECT a.source AS s1, b.source AS s2,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM hh a JOIN hh b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT pr.s1, pr.s2, pr.inter, n1.n AS n1, n2.n AS n2,
        |  round(pr.inter / CAST(n1.n + n2.n - pr.inter AS DOUBLE), 6)
        |    AS jaccard
        |FROM pr JOIN ns n1 ON n1.source = pr.s1
        |        JOIN ns n2 ON n2.source = pr.s2
        |ORDER BY s1, s2""".stripMargin) { (s, dir) =>
      val hh = setsimListsCached(s, dir)
        .select(col("doc_id"), explode(col("wa")).as("h"))
        .join(docs(s, dir).select("doc_id", "source"), "doc_id")
        .select("source", "h").distinct()
        .localCheckpoint(true) // read by ns and both self-join sides
      val ns = hh.groupBy("source").agg(count(lit(1)).as("n"))
      val pr = hh.as("a")
        .join(hh.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("inter"))
      pr.join(broadcast(ns.select(col("source").as("s1"), col("n").as("n1"))), "s1")
        .join(broadcast(ns.select(col("source").as("s2"), col("n").as("n2"))), "s2")
        .select(col("s1"), col("s2"), col("inter"), col("n1"), col("n2"),
          round(col("inter").cast("double") /
            (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
        .orderBy("s1", "s2")
    },

    // ---- q222: n-gram novelty (memorization-risk scoring) ---------------
    // Per-doc NOVELTY = share of the doc's distinct 3-gram shingles
    // that appear in NO other document — the curation signal that
    // separates genuinely novel text from text stitched out of corpus
    // boilerplate (low novelty = high dedup/memorization overlap even
    // when no single pair crosses a near-dup threshold). Off the same
    // session-spilled shingle lists as q138/q219: one df count per
    // hash, one per-doc aggregate, integer micro-unit shares (one
    // floor division per doc), then the per-source rollup a mixture
    // report reads — mean novelty and the count of low-novelty docs.
    Q("q222_ngram_novelty",
      s"""WITH sh AS ($shinglesSql),
        |hh AS (SELECT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT AS h
        |       FROM sh),
        |df AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM hh GROUP BY h),
        |per AS (SELECT hh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unique
        |  FROM hh JOIN df USING (h) GROUP BY 1),
        |nv AS (SELECT d.source, per.doc_id,
        |    (per.n_unique * 1000000) // per.n_shingles AS novelty_micro
        |  FROM per JOIN documents d USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(novelty_micro) // count(*) AS BIGINT)
        |    AS mean_novelty_micro,
        |  CAST(sum(CASE WHEN novelty_micro < 500000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_low_novelty
        |FROM nv GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val hh = setsimListsCached(s, dir)
        .select(col("doc_id"), explode(col("wa")).as("h"))
        .localCheckpoint(true) // read by df and the per-doc aggregate
      val dfq = hh.groupBy("h").agg(count(lit(1)).as("df"))
      val per = hh.join(dfq, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      per.join(docs(s, dir).select("doc_id", "source"), "doc_id")
        .select(col("source"),
          expr("(n_unique * 1000000) div n_shingles").as("novelty_micro"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST(sum(novelty_micro) div count(1) AS BIGINT)")
            .as("mean_novelty_micro"),
          sum(when(col("novelty_micro") < 500000L, 1L).otherwise(0L))
            .as("n_low_novelty"))
        .orderBy("source")
    }
  )

  /** The q138 exact set-similarity chain as ONE oracle SQL SELECT
    * (doc1, doc2, inter, n1, n2 at t=0.7) — shared by q138 and the q172
    * recall evaluation so the two oracles can never drift. Nested into
    * q172 as a subquery because its `cand` CTE name collides with the
    * LSH chain's. */
  // def, not val: referenced by `defs`, which initializes earlier in the
  // object — a val here would still be null at that point
  private[operators] def setsimExactPairsSql: String =
    s"""WITH sh0 AS ($shinglesSql),
      |tt AS (SELECT doc_id,
      |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS w FROM sh0),
      |dfq AS (SELECT w, count(*) AS df FROM tt GROUP BY 1),
      |lists AS (SELECT tt.doc_id,
      |    list(tt.w ORDER BY dfq.df, tt.w) AS wa,
      |    count(*) AS n
      |  FROM tt JOIN dfq USING (w) GROUP BY 1),
      |pref AS (SELECT doc_id, n,
      |    unnest(wa[1 : CAST(n - (7 * n + 9) // 10 + 1 AS INT)]) AS w
      |  FROM lists),
      |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      |  FROM pref a JOIN pref b ON a.w = b.w AND a.doc_id < b.doc_id
      |    AND a.n * 7 <= b.n * 10 AND b.n * 7 <= a.n * 10),
      |v AS (SELECT c.doc1, c.doc2,
      |    len(list_intersect(l1.wa, l2.wa)) AS inter, l1.n AS n1, l2.n AS n2
      |  FROM cand c JOIN lists l1 ON l1.doc_id = c.doc1
      |              JOIN lists l2 ON l2.doc_id = c.doc2)
      |SELECT doc1, doc2, CAST(inter AS BIGINT) AS inter,
      |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
      |FROM v WHERE inter * 10 >= 7 * (n1 + n2 - inter)""".stripMargin

  /** q138's PPJoin chain over any (doc_id, s) shingle frame: returns the
    * verified pair frame (doc1, doc2, inter, n1, n2, jaccard at t=0.7) plus the
    * CANDIDATE frame pre-verification — ScaleBench measures the latter's
    * growth to pin the prefix-filtering claim. Shingles are hashed to
    * 60-bit ints up front (q81/q91's convention, mirrored by the
    * oracle): the verify intersect runs on long arrays instead of
    * ~20-char strings — measured 14.0 → 5-ish s at sf0.1 — and
    * exactness holds up to 60-bit collisions, negligible below ~10^8
    * distinct shingles and identical on both engines regardless. */
  private[graft] def exactSetSimJoinOf(sh: DataFrame): (DataFrame, DataFrame) =
    exactSetSimJoinFromLists(setsimListsOf(sh))

  /** The per-doc hashed shingle lists behind the exact chain: one row
    * per doc with `wa` (60-bit shingle hashes, GLOBAL rare-first
    * (df, w) order — the prefix-filter invariant) and `n`. Split out so
    * q138/q172/q174 can share ONE materialization (see
    * [[setsimListsCached]]); as a set, `wa` also serves any intersect-
    * based verify regardless of order. */
  private[graft] def setsimListsOf(sh: DataFrame): DataFrame = {
    val tt = sh.select(col("doc_id"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("w"))
    val dfq = tt.groupBy("w").agg(count(lit(1)).as("df"))
    tt.join(dfq, "w")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("w")))).as("ts"))
      .select(col("doc_id"),
        transform(col("ts"), x => x.getField("w")).as("wa"),
        size(col("ts")).as("n"))
  }

  /** Session memo of the contract corpus' setsim lists — shared by
    * q138/q172/q174 (each previously rebuilt the shingle→hash→df→sort
    * chain from scratch). */
  private def setsimListsCached(s: SparkSession, dir: String): DataFrame =
    graft.core.SessionSpill.memoFrame(s, "graft_setsim_lists", dir)(
      setsimListsOf(shingles(s, dir)))

  private[graft] def exactSetSimJoinFromLists(listsIn: DataFrame)
      : (DataFrame, DataFrame) = {
    val lists = listsIn
      .localCheckpoint(true) // read by the prefix side and both verify sides
    val pref = lists
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("wa"), lit(1),
          ((col("n") - (col("n") * 7 + 9 -
            pmod(col("n") * 7 + 9, lit(10))) / 10 + 1)).cast("int"))))
      .withColumnRenamed("pos", "p") // 0-based position within the prefix
      .withColumnRenamed("col", "w")
    // length filter (PPJoin): J ≥ t forces |A|,|B| within a factor t of
    // each other — prune size-mismatched candidates inside the join.
    // The groupBy below replaces the old distinct (same exchange) and
    // feeds the POSITIONAL filter (PPJoin's second prune): both arrays
    // share one global (df, w) order, so the matched prefix token with
    // the smallest position in A is the smallest matched token and has
    // the smallest position in B too — and no common token can precede
    // it in either array (it would be a smaller matched prefix token).
    // Hence inter ≤ min(n1-ia, n2-jb); pairs whose bound can't reach
    // the t=0.7 requirement 17·inter ≥ 7·(n1+n2) are EXACTLY prunable
    // before the expensive array_intersect verify.
    val cand = pref.as("a").join(pref.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 7 <= col("b.n") * 10 &&
          col("b.n") * 7 <= col("a.n") * 10)
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(max(col("a.n")).as("n1"), max(col("b.n")).as("n2"),
        min(col("a.p")).as("ia"), min(col("b.p")).as("jb"))
      .filter(least(col("n1") - col("ia"), col("n2") - col("jb")) * 17 >=
        (col("n1") + col("n2")) * 7)
      .select("doc1", "doc2")
    val verified = cand
      .join(lists.select(col("doc_id").as("doc1"), col("wa").as("wa1"),
        col("n").as("n1")), "doc1")
      .join(lists.select(col("doc_id").as("doc2"), col("wa").as("wa2"),
        col("n").as("n2")), "doc2")
      .withColumn("inter", size(array_intersect(col("wa1"), col("wa2")))
        .cast("long"))
      .filter(col("inter") * 10 >= (col("n1") + col("n2") - col("inter")) * 7)
      .select(col("doc1"), col("doc2"), col("inter"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        round(col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
    (verified, cand)
  }
}
