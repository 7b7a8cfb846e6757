package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}

/** Corpus-curation operators beyond the heuristic gates in [[Text]] /
  * [[Corpus]] — the trained-model and export end of a training-data
  * pipeline (driver mandate; the reference's own query surface stops at
  * full-text search, `/root/reference/src/event_handler.rs` writes the
  * reporting DB these pipelines would read):
  *
  *  - q104: a TRAINED quality classifier (logistic regression by
  *    full-batch gradient descent, run as one aggregation pass per
  *    step over a cached feature frame — the distributed-GD shape:
  *    every modern corpus pipeline filters with a trained classifier,
  *    not only heuristics);
  *  - q105: cross-document duplicated-n-gram rate (the "what fraction
  *    of this doc exists elsewhere in the corpus" memorization-risk
  *    metric) — equi-joins on hashed shingles only, never pairs;
  *  - q106: deterministic epoch shuffle + token-balanced shard export
  *    (the training-export layout step) via a DISTRIBUTED prefix sum —
  *    no global-order window anywhere.
  *
  * Everything is built-in expressions (codegen'd, UDF-free); hashes are
  * md5 so every query stays DuckDB-oracle-checkable.
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "documents")

  private def norm(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))
  private val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  // ---- q104: trained quality classifier --------------------------------

  /** GD hyper-parameters. Weights are rounded to [[WeightScale]] decimals
    * after every step: the gradient means differ between engines only by
    * float summation order (~1e-15 relative), so rounding at 1e-6 makes
    * the per-step weights — and therefore the whole training trajectory —
    * bit-identical across Spark and the DuckDB oracle. */
  private val GdSteps = 12
  private val GdLr = 5.0
  private val WeightScale = 6

  /** Raw per-doc signals behind the q92 quality gate, as DOUBLE ratios:
    * nw (word count), tc/nw (top-word fraction), dw/nw (distinct-word
    * ratio) — all ratios of integer counts, bit-identical across
    * engines. The LABEL is the gate's own verdict (the distillation
    * setup: run the expensive gate once, train a cheap model to mimic
    * it); the FEATURES are the scaled signals. */
  private def rawFrame(s: SparkSession, dir: String): DataFrame =
    rawFrameOf(docs(s, dir))

  private def rawFrameOf(d: DataFrame): DataFrame =
    d
      .withColumn("_w", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("_w")).cast("double").as("nw"),
        Text.topWordCount(col("_w")).cast("double").as("tc"),
        size(array_distinct(col("_w"))).cast("double").as("dw"))
      .select(
        col("doc_id"),
        when(col("nw") >= 20.0 && col("tc") / col("nw") < 0.12 &&
          col("dw") / col("nw") > 0.35, 1.0).otherwise(0.0).as("y"),
        (col("nw") / 100.0).as("x1"),
        (col("tc") / col("nw")).as("x2"),
        (col("dw") / col("nw")).as("x3"))

  private val rawSql =
    """SELECT doc_id,
      |  CASE WHEN nw >= 20 AND tc / nw < 0.12 AND dw / nw > 0.35
      |       THEN 1.0 ELSE 0.0 END AS y,
      |  nw / 100.0 AS x1, tc / nw AS x2, dw / nw AS x3
      |FROM (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS nw,
      |        CAST(count(*) AS DOUBLE) AS dw, CAST(max(c) AS DOUBLE) AS tc
      |      FROM (SELECT doc_id, w, count(*) AS c
      |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |                  FROM documents) GROUP BY 1, 2) GROUP BY 1)""".stripMargin

  /** Standardize the features (z-score against corpus moments, both
    * moments rounded to 6 dp) — GD over raw ratios at 3 different scales
    * oscillates; unit-variance features converge in a dozen steps. One
    * extra aggregation pass; the 6 scalars fold into the projection. */
  private def featureFrame(s: SparkSession, dir: String): DataFrame =
    featureFrameOf(docs(s, dir))

  /** Feature frame from an arbitrary documents frame (doc_id, text) —
    * the seam the scale harness trains through. */
  private[graft] def featureFrameOf(d: DataFrame): DataFrame = {
    val raw = rawFrameOf(d.select(col("doc_id"), col("text")))
    val m = raw.agg(
      avg("x1"), avg("x2"), avg("x3"),
      stddev_pop(col("x1")), stddev_pop(col("x2")), stddev_pop(col("x3")))
      .collect()(0)
    def sc(i: Int) = roundTo(m.getDouble(i), WeightScale)
    raw.select(col("doc_id"), col("y"),
      ((col("x1") - sc(0)) / sc(3)).as("x1"),
      ((col("x2") - sc(1)) / sc(4)).as("x2"),
      ((col("x3") - sc(2)) / sc(5)).as("x3"))
  }

  private val featureSql =
    s"""SELECT doc_id, y,
       |  (x1 - m1) / s1 AS x1, (x2 - m2) / s2 AS x2, (x3 - m3) / s3 AS x3
       |FROM ($rawSql) f0,
       |  (SELECT round(avg(x1), $WeightScale) AS m1,
       |     round(avg(x2), $WeightScale) AS m2,
       |     round(avg(x3), $WeightScale) AS m3,
       |     round(stddev_pop(x1), $WeightScale) AS s1,
       |     round(stddev_pop(x2), $WeightScale) AS s2,
       |     round(stddev_pop(x3), $WeightScale) AS s3
       |   FROM ($rawSql)) st""".stripMargin

  /** The logit under weight literals — written in the SAME association
    * order on both engines so the dot product is bit-identical. */
  private def logit(w: Array[Double]): Column =
    lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3")
  private def logitSql(w: Array[Double]): String =
    s"${w(0)} + ${w(1)} * x1 + ${w(2)} * x2 + ${w(3)} * x3"

  private def roundTo(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Harness seam: [[trainWeights]] + a confusion-accuracy eval on a
    * feature frame (the scale harness trains at amplified corpus sizes;
    * the contract query q104 stays the single source of truth for the
    * oracle-checked output shape). */
  private[graft] def trainAndScore(f: DataFrame): (Array[Double], Double) = {
    val w = trainWeights(f)
    val acc = f.agg(avg(when(
      when(logit(w) >= 0.0, 1.0).otherwise(0.0) === col("y"), 1.0)
      .otherwise(0.0))).collect()(0).getDouble(0)
    (w, acc)
  }

  /** Session memos of the trained artifacts that several contract
    * queries share: the classifier weights (q104/q111/q177) and the BPE
    * vocabulary (q108/q109/q111/q173). Both are DETERMINISTIC pure
    * functions of the corpus (engine-exact training is the whole point
    * of their oracles), so the first query trains and every later one
    * reuses. Weights are 4 driver doubles (no spill); the vocab frame
    * spills to parquet next to its driver-side merge list. */
  private def trainWeightsCached(s: SparkSession, dir: String,
                                 f: DataFrame): Array[Double] =
    graft.core.SessionSpill.memo(s, "graft_clf_weights", dir)(_ => trainWeights(f))

  private def trainBpeCached(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    val (path, merges) = graft.core.SessionSpill.memo(s, "graft_bpe", dir) { p =>
      val (v, m) = trainBpe(s, dir)
      v.write.mode("overwrite").parquet(p.toString)
      v.unpersist()
      (p.toString, m)
    }
    (s.read.parquet(path), merges)
  }

  /** Train by full-batch GD over the (persisted) feature frame: each step
    * is ONE map-side-combinable aggregation pass (4 avg's) — the textbook
    * distributed-GD shape; the model (4 doubles) lives on the driver and
    * re-enters the next pass as fold-able literals. At 100 TB this is
    * `GdSteps` scans of a columnar projection, embarrassingly parallel,
    * with nothing corpus-sized ever leaving the executors. */
  private def trainWeights(f: DataFrame): Array[Double] = {
    var w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to GdSteps) {
      val z = logit(w)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val g = f.agg(
        avg(p - col("y")),
        avg((p - col("y")) * col("x1")),
        avg((p - col("y")) * col("x2")),
        avg((p - col("y")) * col("x3"))).collect()(0)
      w = Array.tabulate(4)(j => roundTo(w(j) - GdLr * g.getDouble(j), WeightScale))
    }
    w
  }

  /** The oracle's training trajectory: one chained CTE per GD step, each
    * a single-row weight table computed from the previous one — the same
    * arithmetic, the same per-step rounding. Every step is
    * AS MATERIALIZED: each i$i references i${i-1} twice (directly and
    * through g$i), so default CTE inlining would expand the chain
    * 2^steps times. */
  private def gdCtes: String = {
    val steps = (1 to GdSteps).map { i =>
      val prev = s"i${i - 1}"
      s"""g$i AS MATERIALIZED (
         |  SELECT avg(p - y) AS g0, avg((p - y) * x1) AS g1,
         |         avg((p - y) * x2) AS g2, avg((p - y) * x3) AS g3
         |  FROM (SELECT y, x1, x2, x3,
         |          1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2 + w3 * x3))) AS p
         |        FROM f, $prev)),
         |i$i AS MATERIALIZED (
         |  SELECT round(w0 - $GdLr * g0, $WeightScale) AS w0,
         |         round(w1 - $GdLr * g1, $WeightScale) AS w1,
         |         round(w2 - $GdLr * g2, $WeightScale) AS w2,
         |         round(w3 - $GdLr * g3, $WeightScale) AS w3
         |  FROM i${i - 1}, g$i)"""
        .stripMargin
    }
    (s"i0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)" +: steps)
      .mkString(",\n")
  }

  // ---- q108/q109: byte-pair-encoding tokenizer -------------------------

  /** Merge steps to learn. Small so the oracle's chained CTEs stay
    * readable; the algorithm is step-count-agnostic. */
  private val BpeMerges = 8

  /** Train a BPE merge table on the corpus (Sennrich et al.): ONE corpus
    * pass builds the (word, freq) vocabulary — every later step runs at
    * VOCABULARY scale, the property that makes BPE training tractable on
    * a 100 TB corpus. Symbol sequences are pipe-wrapped space-joined
    * strings ('|k| |e| |y|'); applying a merge is a literal
    * left-to-right non-overlapping `replace` of '|e| |r|' with '|er|' —
    * exactly BPE's greedy merge semantics, identical in Spark and SQL.
    * Each step: adjacent-pair counts (vocab-scale shuffle agg), the
    * argmax pair collected as ONE driver row (count desc, then
    * lexicographic — pure integer/string determinism, no floats
    * anywhere), then the merge applied as a codegen'd literal replace.
    * Returns the final vocab (word, freq, seq) and the merge table. */
  private[operators] def trainBpe(s: SparkSession, dir: String,
                                  k: Int = BpeMerges)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) =
    trainBpeOf(docs(s, dir), k)

  /** BPE training from an arbitrary (doc_id, text) frame — the seam the
    * scale harness drives at amplified corpus sizes. */
  private[graft] def trainBpeOf(d: DataFrame, k: Int = BpeMerges)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    val w = d
      .select(explode(split(norm(col("text")), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var v = w.withColumn("seq",
      array_join(transform(split(col("word"), ""),
        c => concat(lit("|"), c, lit("|"))), " "))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (i <- 1 to k) {
      val bestRows = v
        .select(col("freq"), split(col("seq"), " ").as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(sy) - 1), j -> struct(sy[j-1] AS l, sy[j] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      // fail LOUDLY if the vocabulary exhausts its pairs before step k:
      // the oracle's fixed CTE chain would quietly produce fewer steps
      // (and an empty final vocab), so a silent partial train here would
      // be an engine/oracle divergence instead of a clear error
      require(bestRows.nonEmpty,
        s"BPE pairs exhausted at step $i of $k — the corpus vocabulary " +
          "is too small for the requested merge count")
      val best = bestRows(0)
      val (l, r, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      def inner(x: String) = x.substring(1, x.length - 1)
      val m = "|" + inner(l) + inner(r) + "|"
      merges += ((i, inner(l), inner(r), inner(l) + inner(r), cnt))
      val nv = v.withColumn("seq",
        call_function("replace", col("seq"), lit(l + " " + r), lit(m)))
        .persist()
      nv.count() // pin this step before dropping the previous one
      v.unpersist()
      v = nv
    }
    (v, merges.toSeq)
  }

  /** Batched BPE training — the real-vocabulary scale path. Exact greedy
    * ([[trainBpeOf]]) runs one corpus-vocab aggregation pass PER MERGE:
    * fine for 8 merges, hopeless for a 50k-token production vocabulary.
    * The standard trick (used by every large BPE trainer): per pass,
    * rank pairs once and greedily accept up to `batchSize` pairs that
    * are pairwise NON-CONFLICTING — no symbol (left, right, or merged)
    * shared between accepted pairs — then apply them all in one replace
    * chain. Disjoint symbols make the chained replaces confluent, so
    * the batch is order-independent; counts for later pairs in a batch
    * are one step stale, which is the standard accepted approximation
    * (batchSize=1 reproduces exact greedy bit-for-bit — spec-pinned).
    * Pass count ≈ k/batchSize instead of k. Stops early when the
    * vocabulary exhausts its pairs; returns (vocab, merges, passes). */
  private[graft] def trainBpeBatchedOf(d: DataFrame, k: Int, batchSize: Int)
      : (DataFrame, Seq[(Int, String, String, String, Long)], Int) = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val w = d
      .select(explode(split(norm(col("text")), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var v = w.withColumn("seq",
      array_join(transform(split(col("word"), ""),
        c => concat(lit("|"), c, lit("|"))), " "))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var passes = 0
    var exhausted = false
    def inner(x: String) = x.substring(1, x.length - 1)
    while (merges.length < k && !exhausted) {
      passes += 1
      // over-fetch 4× the batch so conflict skips still fill it; the
      // limit plans as TakeOrderedAndProject — a bounded driver read
      val top = v
        .select(col("freq"), split(col("seq"), " ").as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(sy) - 1), j -> struct(sy[j-1] AS l, sy[j] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(math.min(batchSize, k - merges.length) * 4).collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val chosen = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, String, Long)]
        for (row <- top
             if chosen.length < math.min(batchSize, k - merges.length)) {
          val (l, r) = (row.getString(0), row.getString(1))
          val m = "|" + inner(l) + inner(r) + "|"
          if (!used(l) && !used(r) && !used(m)) {
            chosen += ((l, r, m, row.getLong(2)))
            used ++= Seq(l, r, m)
          }
        }
        // top was non-empty so its first row is always accepted
        chosen.foreach { case (l, r, _, cnt) =>
          merges += ((merges.length + 1, inner(l), inner(r),
            inner(l) + inner(r), cnt))
        }
        val seqCol = chosen.foldLeft(col("seq")) { case (c, (l, r, m, _)) =>
          call_function("replace", c, lit(l + " " + r), lit(m))
        }
        // localCheckpoint, not persist: a persist chain keeps the FULL
        // replace lineage (passes × batchSize nested calls), and
        // re-analyzing it every pass made the 10×/256-merge scale row
        // planning-bound (~12 s/pass on a 170-word vocab). Truncating
        // per pass keeps analysis O(batchSize) regardless of pass count.
        val nv = v.withColumn("seq", seqCol).localCheckpoint(true)
        v.unpersist()
        v = nv
      }
    }
    (v, merges.toSeq, passes)
  }

  /** The oracle's training replay: v0 (wrapped chars) then per step a
    * pair-count CTE, a LIMIT-1 argmax CTE, and the replace application —
    * all MATERIALIZED (each v$i is referenced by the next two CTEs). */
  private def bpeCtes: String = {
    val base =
      s"""w AS MATERIALIZED (
         |  SELECT w AS word, count(*) AS freq FROM (
         |    SELECT unnest(string_split($normSql, ' ')) AS w FROM documents)
         |  GROUP BY 1),
         |v0 AS MATERIALIZED (
         |  SELECT word, freq,
         |    array_to_string(list_transform(string_split(word, ''),
         |      c -> '|' || c || '|'), ' ') AS seq
         |  FROM w)""".stripMargin
    val steps = (1 to BpeMerges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, sy[j] AS l, sy[j + 1] AS r
         |    FROM (SELECT freq, string_split(seq, ' ') AS sy FROM v${i - 1}),
         |         unnest(range(1, len(sy))) AS t(j))
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (
         |  SELECT $i AS step, l, r,
         |    '|' || substr(l, 2, length(l) - 2) ||
         |      substr(r, 2, length(r) - 2) || '|' AS m,
         |    cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT word, freq, replace(seq, b.l || ' ' || b.r, b.m) AS seq
         |  FROM v${i - 1}, b$i b)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  // ---- q106 shared constants -------------------------------------------

  /** Tokens per exported shard (q106). */
  private val ShardBudget = 1000L

  /** Distributed-prefix-sum fan-out: the first two hex chars of the
    * shuffle key = 256 contiguous key ranges. */
  private val PrefixBuckets = 256

  val defs: Seq[Q] = Seq(
    // ---- q104: trained quality classifier (logistic regression) --------
    // Heuristic gates (q24/q80/q92) score with fixed rules; production
    // pipelines TRAIN a classifier (GPT-3's LR-vs-WebText filter,
    // FineWeb-Edu's learned scorer) and filter on its output. This is
    // the engine-shaped distillation: the q92 quality gate provides the
    // labels, and full-batch logistic regression learns to mimic it from
    // the gate's scaled signal ratios — 12 GD steps, each ONE
    // map-side-combinable aggregation pass over a persisted standardized
    // feature projection (accuracy ~0.77 vs the 0.55 majority floor).
    // Per-step weight rounding (1e-6, both engines) pins the float
    // trajectory, so the DuckDB oracle replays training exactly via
    // chained one-row CTEs. Output: the learned weights and the integer
    // confusion matrix at the z >= 0 decision boundary (sign test, not
    // sigmoid threshold — immune to last-ulp sigmoid differences).
    Q("q104_quality_classifier", {
      val wFinal = s"i$GdSteps"
      s"""WITH f AS MATERIALIZED ($featureSql),
         |$gdCtes,
         |scored AS (
         |  SELECT y, CASE WHEN w0 + w1 * x1 + w2 * x2 + w3 * x3 >= 0
         |                 THEN 1.0 ELSE 0.0 END AS pred
         |  FROM f, $wFinal)
         |SELECT w0, w1, w2, w3,
         |  CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |  CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  round(avg(CASE WHEN pred = y THEN 1.0 ELSE 0.0 END), 4) AS accuracy
         |FROM scored, $wFinal
         |GROUP BY w0, w1, w2, w3""".stripMargin
    }) { (s, dir) =>
      val f = featureFrame(s, dir).persist()
      try {
        val w = trainWeightsCached(s, dir, f)
        val pred = when(logit(w) >= 0.0, 1.0).otherwise(0.0)
        f.agg(
            sum(when(pred === 1.0 && col("y") === 1.0, 1L).otherwise(0L)).as("tp"),
            sum(when(pred === 1.0 && col("y") === 0.0, 1L).otherwise(0L)).as("fp"),
            sum(when(pred === 0.0 && col("y") === 0.0, 1L).otherwise(0L)).as("tn"),
            sum(when(pred === 0.0 && col("y") === 1.0, 1L).otherwise(0L)).as("fn"),
            round(avg(when(pred === col("y"), 1.0).otherwise(0.0)), 4)
              .as("accuracy"))
          .select(lit(w(0)).as("w0"), lit(w(1)).as("w1"),
            lit(w(2)).as("w2"), lit(w(3)).as("w3"),
            col("tp"), col("fp"), col("tn"), col("fn"), col("accuracy"))
          // pin before unpersist: the aggregate must not lazily re-derive
          // features after the cache is dropped
          .localCheckpoint(true)
      } finally { f.unpersist(); () }
    },

    // ---- q105: cross-doc duplicated-n-gram fraction ---------------------
    // The memorization-risk / duplication-rate metric (Lee et al.,
    // "Deduplicating Training Data Makes Language Models Better"): for
    // each doc, the fraction of its DISTINCT 3-word shingles that occur
    // in at least one OTHER doc, reported as a corpus histogram by
    // decile. Cost shape: per-row shingle arrays (no explode until the
    // 8-byte hash join), one groupBy on hashed shingles, one equi-join
    // back — never doc×doc. The decile is computed in INTEGER arithmetic
    // ((n_dup * 10) DIV n_shingles) so bucket edges are exact on both
    // engines.
    Q("q105_dup_gram_fraction",
      s"""WITH ka AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |      list_transform(range(1, len(ws) - 1),
         |        i -> array_to_string(list_slice(ws, i, i + 2), ' ')),
         |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS karr
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS ws FROM documents)
         |  WHERE len(ws) >= 3),
         |sh AS (SELECT doc_id, unnest(karr) AS k FROM ka),
         |cnt AS (SELECT k, count(*) AS nk FROM sh GROUP BY k),
         |per AS (
         |  SELECT s.doc_id, count(*) AS n_sh,
         |    sum(CASE WHEN c.nk >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM sh s JOIN cnt c ON s.k = c.k GROUP BY s.doc_id)
         |SELECT CAST(least((n_dup * 10) // n_sh, 9) AS INTEGER) AS decile,
         |  count(*) AS n_docs,
         |  round(avg(CAST(n_dup AS DOUBLE) / n_sh), 4) AS avg_frac
         |FROM per GROUP BY 1 ORDER BY decile""".stripMargin) { (s, dir) =>
      val ka = docs(s, dir)
        .withColumn("ws", split(norm(col("text")), " "))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), expr(
          """array_distinct(transform(
            |  transform(sequence(1, size(ws) - 2),
            |    i -> array_join(slice(ws, i, 3), ' ')),
            |  s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)))"""
            .stripMargin).as("karr"))
        .localCheckpoint(true) // shared by both join sides below
      val sh = ka.select(col("doc_id"), explode(col("karr")).as("k"))
      val cnt = sh.groupBy("k").agg(count(lit(1)).as("nk"))
      sh.join(cnt, "k")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("nk") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(least(expr("(n_dup * 10) DIV n_sh"), lit(9L))
          .cast("int").as("decile"),
          col("n_sh"), col("n_dup"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_dup").cast("double") / col("n_sh")), 4).as("avg_frac"))
        .orderBy("decile")
    },

    // ---- q106: deterministic epoch shuffle + token-balanced shards ------
    // The training-export step: give every doc a deterministic pseudo-
    // random position for this epoch (md5 of a seeded key — reproducible
    // lineage, same property as q60's hash sampling), then cut the
    // shuffled corpus into contiguous shards of ~ShardBudget tokens by
    // PREFIX SUM over the shuffle order. The prefix sum is DISTRIBUTED:
    // the first hex byte of the shuffle key splits the order into 256
    // contiguous ranges; each range cumsums independently under a
    // partitioned window, and the 256 per-range totals (a bounded
    // driver-side scalar set, like q94's pid domains) become broadcast
    // offsets. No global-order single-partition window anywhere — the
    // plan survives a 100× corpus. The oracle recomputes the SAME
    // assignment with a global window (fine at oracle scale).
    Q("q106_epoch_shards",
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens,
         |    md5('epoch7:' || CAST(doc_id AS VARCHAR)) AS r
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens, r,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY r
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM t)
         |SELECT cum_before // $ShardBudget AS shard_id,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
         |  min(r) AS first_key
         |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin) { (s, dir) =>
      val t = docs(s, dir)
        .select(col("doc_id"),
          size(split(norm(col("text")), " ")).cast("long").as("n_tokens"),
          md5(concat(lit("epoch7:"), col("doc_id").cast("string"))).as("r"))
        .withColumn("bucket",
          conv(substring(col("r"), 1, 2), 16, 10).cast("int"))
      // distributed prefix sum: within-bucket exclusive cumsum ...
      val inBucket = Window.partitionBy("bucket").orderBy("r")
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = t.withColumn("cum_local",
        coalesce(sum(col("n_tokens")).over(inBucket), lit(0L)))
      // ... plus per-bucket offsets: ≤ PrefixBuckets rows — a bounded
      // scalar set (the q94 touchedPids pattern), broadcast back in.
      val totals = t.groupBy("bucket")
        .agg(sum(col("n_tokens")).as("btot"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      require(totals.length <= PrefixBuckets,
        s"bucket domain exceeded $PrefixBuckets")
      val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (b, tot)) =>
        (b, acc + tot)
      }.init.zip(totals).map { case ((_, off), (b, _)) => (b, off) }
      val offDf = s.createDataFrame(offsets.toSeq).toDF("bucket", "off")
      local.join(broadcast(offDf), "bucket")
        .withColumn("cum_before", col("off") + col("cum_local"))
        .groupBy(expr(s"cum_before DIV $ShardBudget").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tok_sum"),
          min(col("r")).as("first_key"))
        .orderBy("shard_id")
    },

    // ---- q108: BPE vocabulary training ----------------------------------
    // Real byte-pair encoding (q23's token counter is a BPE-ish REGEX;
    // this LEARNS the merges): 8 greedy merge steps over the corpus
    // word-frequency table. The whole trainer is integer/string
    // arithmetic — counts, argmax with lexicographic ties, literal
    // replaces — so the oracle replays training EXACTLY step for step.
    // Scale shape: one corpus pass to the (word, freq) vocab, then
    // everything runs at vocabulary scale with a 1-row driver collect
    // per step (the standard industrial BPE formulation).
    Q("q108_bpe_train", {
      s"""WITH $bpeCtes
         |SELECT step, substr(l, 2, length(l) - 2) AS left_sym,
         |  substr(r, 2, length(r) - 2) AS right_sym,
         |  substr(m, 2, length(m) - 2) AS merged_sym,
         |  cnt AS pair_count
         |FROM (${(1 to BpeMerges).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")})
         |ORDER BY step""".stripMargin
    }) { (s, dir) =>
      val (v, merges) = trainBpeCached(s, dir)
      v.unpersist()
      s.createDataFrame(merges)
        .toDF("step", "left_sym", "right_sym", "merged_sym", "pair_count")
        .orderBy("step")
    },

    // ---- q109: BPE tokenization (per-source token accounting) -----------
    // Applies the learned merge table: per-word token counts come off
    // the trained vocab's final symbol sequences, and documents join
    // that table on the word — an UNHINTED equi-join (the vocab is
    // corpus-dependent: AQE broadcasts it when it fits, shuffles when
    // it doesn't — the q67 lesson). Token budgeting with the real
    // subword tokenizer is what the packing/shard operators (q63,
    // q106) would consume in production.
    Q("q109_bpe_tokenize", {
      s"""WITH $bpeCtes,
         |tok AS MATERIALIZED (SELECT word,
         |  CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_tok FROM v$BpeMerges),
         |dw AS (SELECT doc_id, source,
         |    unnest(string_split($normSql, ' ')) AS word FROM documents),
         |perdoc AS (SELECT doc_id, source,
         |    CAST(sum(t.n_tok) AS BIGINT) AS bpe, count(*) AS ws
         |  FROM dw JOIN tok t USING (word) GROUP BY 1, 2)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(ws) AS BIGINT) AS ws_tokens
         |FROM perdoc GROUP BY source ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val (v, _) = trainBpeCached(s, dir)
      val tok = v.select(col("word"),
        size(split(col("seq"), " ")).cast("long").as("n_tok"))
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          explode(split(norm(col("text")), " ")).as("word"))
        .join(tok, "word")
        .groupBy("doc_id", "source")
        .agg(sum("n_tok").as("bpe"), count(lit(1)).as("ws"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("bpe").as("bpe_tokens"),
          sum("ws").as("ws_tokens"))
        .orderBy("source")
    },

    // ---- q115: corpus snapshot diff (crawl-over-crawl CDC) --------------
    // The "what changed since the last crawl" report: snapshot B is a
    // deterministic mutation of the corpus (every 17th doc re-crawled
    // with new text, every 19th gone, every 23rd a brand-new id), and
    // the diff is ONE full-outer join on doc_id comparing content
    // fingerprints — the cheapest correct shape at corpus scale (8-byte
    // key shuffle, md5 compare; never a text join). Deletion wins the
    // overlap ties (a doc hit by both %17 and %19 is REMOVED), matching
    // how a re-crawl actually behaves.
    Q("q115_snapshot_diff",
      """WITH a AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
        |b AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 17 = 0 THEN md5(text || ' recrawled v2')
        |         ELSE md5(text) END AS fp
        |  FROM documents WHERE doc_id % 19 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, source, md5('new page ' || CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE doc_id % 23 = 0),
        |d AS (
        |  SELECT coalesce(a.source, b.source) AS source,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.fp <> b.fp THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM a FULL OUTER JOIN b USING (doc_id))
        |SELECT source, status, count(*) AS n
        |FROM d GROUP BY 1, 2 ORDER BY source, status""".stripMargin) { (s, dir) =>
      val a = docs(s, dir)
        .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      val b = docs(s, dir)
        .filter(col("doc_id") % 19 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 17 === 0,
            md5(concat(col("text"), lit(" recrawled v2"))))
            .otherwise(md5(col("text"))).as("fp"))
        .unionByName(docs(s, dir)
          .filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("source"),
            md5(concat(lit("new page "), col("doc_id").cast("string"))).as("fp")))
      a.withColumnRenamed("source", "sa").withColumnRenamed("fp", "fa")
        .join(b.withColumnRenamed("source", "sb").withColumnRenamed("fp", "fb"),
          Seq("doc_id"), "full_outer")
        .select(coalesce(col("sa"), col("sb")).as("source"),
          when(col("fa").isNull, "added")
            .when(col("fb").isNull, "removed")
            .when(col("fa") =!= col("fb"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "status")
    },

    // ---- q120: hierarchical closure via RECURSIVE CTE -------------------
    // The classic engine capability the contract didn't exercise yet:
    // iterative fixpoint over a hierarchy, run on Spark 4's native
    // WITH RECURSIVE (UnionLoopExec — each iteration a distributed
    // join, no driver loop). The hierarchy is implicit in doc ids
    // (parent = id DIV 2, a binary tree rooted at 1), and the recursion
    // carries an accumulator: cumulative root-path character count.
    // Both engines run the textually-same recursion; depth histogram +
    // path-sum totals are exact integers.
    Q("q120_tree_closure",
      """WITH RECURSIVE tree(doc_id, depth, path_chars) AS (
        |  SELECT doc_id, 0, n_chars FROM documents WHERE doc_id = 1
        |  UNION ALL
        |  SELECT d.doc_id, t.depth + 1, t.path_chars + d.n_chars
        |  FROM documents d JOIN tree t ON d.doc_id // 2 = t.doc_id
        |  WHERE d.doc_id > 1)
        |SELECT depth, count(*) AS n_nodes,
        |  CAST(sum(path_chars) AS BIGINT) AS sum_path_chars,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM tree GROUP BY depth ORDER BY depth""".stripMargin) { (s, dir) =>
      // the recursion re-reads the view once per iteration (~log2(N)
      // times): pin the 2-column projection so each iteration scans a
      // checkpointed narrow frame instead of the parquet + project chain
      docs(s, dir).select(col("doc_id"), col("n_chars"))
        .localCheckpoint(true)
        .createOrReplaceTempView("q120_documents")
      s.sql(
        """WITH RECURSIVE tree(doc_id, depth, path_chars) AS (
          |  SELECT doc_id, 0, n_chars FROM q120_documents WHERE doc_id = 1
          |  UNION ALL
          |  SELECT d.doc_id, t.depth + 1, t.path_chars + d.n_chars
          |  FROM q120_documents d JOIN tree t ON d.doc_id DIV 2 = t.doc_id
          |  WHERE d.doc_id > 1)
          |SELECT depth, count(*) AS n_nodes,
          |  CAST(sum(path_chars) AS BIGINT) AS sum_path_chars,
          |  min(doc_id) AS first_id, max(doc_id) AS last_id
          |FROM tree GROUP BY depth ORDER BY depth""".stripMargin)
    },

    // ---- q111: corpus curation report (the capstone dashboard) ----------
    // One per-source health report composing FOUR verified families in a
    // single query: document counts, real-BPE token accounting (q108/
    // q109), the TRAINED classifier's pass rate (q104's exact GD
    // trajectory), and the near-dup rate (q30/q59's LSH + connected
    // components). This is the query a data-engineering team actually
    // runs before cutting a training set — and the oracle composes the
    // same four verified CTE chains (recursive CC + materialized BPE +
    // materialized GD) into one statement, so the report is hash-gated
    // end to end, not just its parts.
    Q("q111_curation_report", {
      val wFinal = s"i$GdSteps"
      s"""WITH RECURSIVE ${Dedup.lshCandSqlCtes},
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
         |$bpeCtes,
         |tok AS MATERIALIZED (SELECT word,
         |  CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_tok FROM v$BpeMerges),
         |f AS MATERIALIZED ($featureSql),
         |$gdCtes,
         |src AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         |bpe AS (
         |  SELECT source, CAST(sum(t.n_tok) AS BIGINT) AS bpe_tokens
         |  FROM (SELECT source, unnest(string_split($normSql, ' ')) AS word
         |        FROM documents) dw
         |  JOIN tok t USING (word) GROUP BY 1),
         |clf AS (
         |  SELECT d.source, round(avg(
         |    CASE WHEN w0 + w1 * x1 + w2 * x2 + w3 * x3 >= 0
         |         THEN 1.0 ELSE 0.0 END), 4) AS clf_pass_rate
         |  FROM f JOIN documents d USING (doc_id), $wFinal GROUP BY 1),
         |dup AS (
         |  SELECT d.source, count(*) AS n_dup
         |  FROM lbl l JOIN documents d ON d.doc_id = l.node
         |  WHERE l.node <> l.canonical_id GROUP BY 1)
         |SELECT s.source, s.n_docs, b.bpe_tokens, c.clf_pass_rate,
         |  round(coalesce(dup.n_dup, 0) / CAST(s.n_docs AS DOUBLE), 4)
         |    AS dup_doc_frac
         |FROM src s
         |JOIN bpe b USING (source)
         |JOIN clf c USING (source)
         |LEFT JOIN dup USING (source)
         |ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      // BPE tokens per source (the q109 subtree)
      val (v, _) = trainBpeCached(s, dir)
      val tok = v.select(col("word"),
        size(split(col("seq"), " ")).cast("long").as("n_tok"))
      val bpe = d
        .select(col("source"), explode(split(norm(col("text")), " ")).as("word"))
        .join(tok, "word")
        .groupBy("source").agg(sum("n_tok").as("bpe_tokens"))
      // trained-classifier pass rate (the q104 subtree)
      val f = featureFrame(s, dir).persist()
      val w = trainWeightsCached(s, dir, f)
      val clf = f.select(col("doc_id"),
          when(logit(w) >= 0.0, 1.0).otherwise(0.0).as("pred"))
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source").agg(round(avg("pred"), 4).as("clf_pass_rate"))
      // near-dup members per source (the q59 subtree)
      val dup = Dedup.connectedComponents(
          Dedup.lshCandidatePairs(s, dir).select("doc1", "doc2"))
        .filter(col("doc_id") =!= col("canonical_id"))
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_dup"))
      val out = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(bpe, "source")
        .join(clf, "source")
        .join(dup, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("bpe_tokens"),
          col("clf_pass_rate"),
          round(coalesce(col("n_dup"), lit(0L)) / col("n_docs").cast("double"), 4)
            .as("dup_doc_frac"))
        .orderBy("source")
        // pin before unpersist: the report must not lazily re-derive the
        // classifier features after the cache drops
        .localCheckpoint(true)
      f.unpersist(); v.unpersist()
      out
    },

    // ---- q173: tokenizer fertility by language --------------------------
    // The multilingual-tokenizer health metric (how many subword tokens
    // per whitespace word, and how many chars each token carries, per
    // language): a vocabulary trained on a mixed corpus over-fragments
    // under-represented languages, and THIS report is how that shows up
    // — the number every multilingual-model paper tables. The corpus is
    // the LOCALIZED one (graft.core.Localize, shared with q25/q175);
    // the q108 BPE vocabulary stays trained on the raw English-shaped
    // corpus, which is precisely the under-representation story: es/de/
    // fr marker words and zh's reversed tokens are OUT-OF-VOCABULARY,
    // and an OOV word falls back to character-level tokens (n_tok =
    // word length — the BPE base alphabet with no applicable merges),
    // so zh fertility lands near chars-per-word while en keeps the
    // trained segmentation. LEFT join against the vocab + coalesce is
    // the whole fallback; everything upstream stays exact integers.
    Q("q173_tokenizer_fertility", {
      s"""WITH $bpeCtes,
         |tok AS MATERIALIZED (SELECT word,
         |  CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_tok FROM v$BpeMerges),
         |dw AS (SELECT lang, unnest(${graft.core.Localize.tokensSql(normSql)})
         |         AS word
         |       FROM documents),
         |j AS (SELECT lang,
         |        coalesce(t.n_tok, CAST(length(word) AS BIGINT)) AS n_tok,
         |        length(word) AS wc
         |      FROM dw LEFT JOIN tok t USING (word))
         |SELECT lang, CAST(count(*) AS BIGINT) AS ws_tokens,
         |  CAST(sum(n_tok) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(wc) AS BIGINT) AS n_chars,
         |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS fertility,
         |  round(CAST(sum(wc) AS DOUBLE) / sum(n_tok), 6) AS chars_per_token
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin
    }) { (s, dir) =>
      val (v, _) = trainBpeCached(s, dir)
      val tok = v.select(col("word"),
        size(split(col("seq"), " ")).cast("long").as("n_tok"))
      val out = docs(s, dir)
        .select(col("lang"), explode(
          graft.core.Localize.tokens(col("lang"), norm(col("text")))).as("word"))
        .join(tok, Seq("word"), "left")
        .withColumn("n_tok",
          coalesce(col("n_tok"), length(col("word")).cast("long")))
        .groupBy("lang")
        .agg(count(lit(1)).as("ws_tokens"),
          sum("n_tok").as("bpe_tokens"),
          sum(length(col("word"))).cast("long").as("n_chars"),
          round(sum("n_tok").cast("double") / count(lit(1)), 6).as("fertility"),
          round(sum(length(col("word"))).cast("double") / sum("n_tok"), 6)
            .as("chars_per_token"))
        .orderBy("lang")
        .localCheckpoint(true) // pin before the vocab cache drops
      v.unpersist()
      out
    },

    // ---- q177: classifier calibration (reliability by score decile) -----
    // The reliability diagram behind every model-based quality filter:
    // per SCORE decile of the trained q104 classifier, how often does
    // the gold gate actually pass? A well-calibrated filter shows the
    // pass rate rising monotonically with the decile — and the table is
    // what sets the keep-threshold before a corpus-scale filter run.
    // Scores quantize to integer micro-units (floor(z·1e6 + 0.5) — one
    // IEEE expression in the SAME association order on both engines);
    // decile edges replicate ntile(10) EXACTLY via the q167 rank-
    // narrowing technique (score pass + doc_id tiebreak pass), so no
    // single-partition window exists on the Spark side while the oracle
    // uses plain ntile.
    Q("q177_classifier_calibration", {
      s"""WITH f AS MATERIALIZED ($featureSql),
         |$gdCtes,
         |sc AS (SELECT doc_id, y,
         |    CAST(floor((w0 + w1 * x1 + w2 * x2 + w3 * x3) * 1000000 + 0.5)
         |      AS BIGINT) AS su
         |  FROM f, i$GdSteps),
         |d AS (SELECT y, su,
         |    ntile(10) OVER (ORDER BY su, doc_id) AS decile FROM sc)
         |SELECT CAST(decile AS INT) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(y) AS BIGINT) AS n_gold_pass,
         |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS gold_pass_rate,
         |  round(CAST(sum(su) AS DOUBLE) / count(*) / 1000000.0, 6)
         |    AS mean_score
         |FROM d GROUP BY decile ORDER BY decile""".stripMargin
    }) { (s, dir) =>
      val f = featureFrame(s, dir).persist()
      try {
        val w = trainWeightsCached(s, dir, f)
        val sc0 = f.select(col("doc_id"), col("y"),
          floor(logit(w) * 1e6 + 0.5).cast("long").as("su")).persist()
        try {
          val n = sc0.count()
          require(n > 0, "q177: empty feature frame")
          val q10 = n / 10
          val r = n % 10
          val edgeRank = (1 to 9).map(i => i * q10 + math.min(i, r))
          // exact ntile edges over (su ASC, doc_id ASC) — the q167
          // narrowing pattern, ascending form
          val suEdge = ExactQuantile.kthSmallest(sc0, "su",
            edgeRank.zipWithIndex.map { case (e, i) => s"e$i" -> e }.toMap)
          val distinctC = suEdge.values.toSeq.distinct
          val ltCols = distinctC.map(c =>
            sum(when(col("su") < c, 1L).otherwise(0L)).as(s"c$c"))
          val ltRow = sc0.agg(ltCols.head, ltCols.tail: _*).head()
          val cntLt = distinctC.zipWithIndex
            .map { case (c, j) => c -> ltRow.getLong(j) }.toMap
          // ALL tie blocks narrowed in ONE grouped pass sequence (the
          // q129 machinery): up to 9 per-edge narrowings collapse to
          // ~2 shared scans — group predicates ride inside the
          // histogram cells
          val tieKs: Map[(String, String), Long] = distinctC.flatMap { c =>
            edgeRank.zipWithIndex.collect {
              case (e, i) if suEdge(s"e$i") == c =>
                (c.toString, s"u$i") -> (e - cntLt(c))
            }
          }.toMap
          val uidByGroup = ExactQuantile.kthSmallestByGroup(
            sc0.withColumn("_g", col("su").cast("string")), "_g", "doc_id",
            tieKs)
          val edges: Seq[(Long, Long)] =
            tieKs.keys.toSeq.map { case (g, lbl) =>
              (g.toLong, uidByGroup((g, lbl))) }
          val decile = edges.foldLeft(lit(1)) { case (acc, (c, uEdge)) =>
            acc + when(col("su") > c ||
              (col("su") === c && col("doc_id") > uEdge), 1).otherwise(0)
          }
          sc0.withColumn("decile", decile)
            .groupBy("decile")
            .agg(count(lit(1)).as("n_docs"),
              sum(col("y")).cast("long").as("n_gold_pass"),
              round(sum(col("y")) / count(lit(1)), 6).as("gold_pass_rate"),
              round(sum(col("su")).cast("double") / count(lit(1)) / 1e6, 6)
                .as("mean_score"))
            .select(col("decile").cast("int").as("decile"), col("n_docs"),
              col("n_gold_pass"), col("gold_pass_rate"), col("mean_score"))
            .orderBy("decile")
            .localCheckpoint(true) // pin before the caches drop
        } finally sc0.unpersist()
      } finally { f.unpersist(); () }
    },

    // ---- q182: padding-waste / packing-efficiency report ----------------
    // The compute-budget question behind every context-length choice:
    // at C ∈ {512, 1024, 2048} tokens, how much of each batch is
    // PADDING if every doc gets its own sequence (ceil(t/C)·C per doc)
    // versus concat-packing (q106's layout: global ceil(Σt/C)·C)? The
    // difference is the fraction of the training FLOPs packing saves —
    // the number that justifies the packing pipeline. Everything is
    // exact integer arithmetic off one token-count aggregation; the
    // three context lengths ride one explode.
    Q("q182_padding_waste",
      s"""WITH t AS (SELECT doc_id,
        |    CAST(len(string_split($normSql, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (SELECT unnest([512, 1024, 2048]) AS ctx),
        |p AS (SELECT c.ctx, t.toks,
        |    ((t.toks + c.ctx - 1) // c.ctx) * c.ctx AS padded
        |  FROM t, c)
        |SELECT ctx AS context_len,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS tokens,
        |  CAST(sum(padded) AS BIGINT) AS unpacked_slots,
        |  CAST(((sum(toks) + ctx - 1) // ctx) * ctx AS BIGINT)
        |    AS packed_slots,
        |  round(1.0 - CAST(sum(toks) AS DOUBLE) / sum(padded), 6)
        |    AS unpacked_waste,
        |  round(1.0 - CAST(sum(toks) AS DOUBLE)
        |    / (((sum(toks) + ctx - 1) // ctx) * ctx), 6) AS packed_waste
        |FROM p GROUP BY ctx ORDER BY ctx""".stripMargin) { (s, dir) =>
      import s.implicits._
      val t = docs(s, dir)
        .select(size(split(norm(col("text")), " ")).cast("long").as("toks"))
      t.crossJoin(Seq(512, 1024, 2048).toDF("ctx"))
        .select(col("ctx"), col("toks"),
          (floor((col("toks") + col("ctx") - 1) / col("ctx")) * col("ctx"))
            .cast("long").as("padded"))
        .groupBy("ctx")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"),
          sum(col("padded")).as("unpacked_slots"))
        .select(col("ctx").as("context_len"), col("n_docs"), col("tokens"),
          col("unpacked_slots"),
          (floor((col("tokens") + col("ctx") - 1) / col("ctx")) * col("ctx"))
            .cast("long").as("packed_slots"),
          round(lit(1.0) - col("tokens").cast("double") /
            col("unpacked_slots"), 6).as("unpacked_waste"),
          round(lit(1.0) - col("tokens").cast("double") /
            (floor((col("tokens") + col("ctx") - 1) / col("ctx")) * col("ctx")),
            6).as("packed_waste"))
        .orderBy("context_len")
    })
}
