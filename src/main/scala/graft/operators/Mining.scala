package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}

/** Pattern-mining / entity-resolution / robust-stats operators
  * (SURVEY.md §2.6, round-10 additions): fuzzy edit-distance join,
  * frequent itemset pairs, triangle counting, exponential time-decay
  * features, MAD-based robust outliers.
  *
  * Scale posture shared by the family: every candidate-generation step
  * is an EQUI-join on a derived blocking key (deletion-neighborhood
  * keys, basket ids, oriented edge endpoints) — no cartesian products,
  * no corpus-wide window sorts; verification work is proportional to
  * candidates, which each blocking scheme provably bounds.
  */
object Mining {

  // ---- q142: fuzzy join (edit distance ≤ 1) ---------------------------

  /** Deletion-neighborhood blocking keys of a string: the string itself
    * plus every single-character deletion (SymSpell's exact-candidate
    * scheme). Two strings with levenshtein ≤ 1 ALWAYS share a key
    * (equal → self key; insert/delete → the shorter IS a deletion of
    * the longer; substitute → deleting the substituted position from
    * both yields the same string), so an equi-join on exploded keys
    * generates a candidate superset and the levenshtein(…) ≤ 1 verify
    * makes the join EXACT — O(N·L) keys instead of the O(N²) all-pairs
    * a naive fuzzy join needs. Pure per-row HOF expression. */
  private[graft] def deletionKeys(s: Column): Column =
    // empty-string guard: sequence(0, -1) DESCENDS in Spark, so without
    // the branch "" would yield a malformed two-key array; its only
    // lev≤1 neighbors are itself and 1-char strings (whose own deletion
    // key is ""), so [s] alone keeps the candidate superset exact
    when(length(s) === 0, array(s)).otherwise(array_union(
      array(s),
      transform(sequence(lit(0), length(s) - 1),
        i => concat(s.substr(lit(1), i), s.substr(i + lit(2), length(s))))))

  /** Deterministic "dirty" name: drop the (custkey % len)-th character —
    * both engines derive the same corrupted snapshot in-query (q115's
    * technique), so the fuzzy join has real typos to resolve. */
  private[graft] def dirtyName(name: Column, key: Column): Column = {
    val p = key % length(name) // 0-based deletion position
    concat(name.substr(lit(1), p), name.substr(p + lit(2), length(name)))
  }

  // ---- q143/q144 shared: co-purchase graph ----------------------------

  /** Distinct (order, part) basket items with items below `minSupport`
    * pruned — the A-priori step: an item that is not frequent cannot be
    * in a frequent pair, so pruning BEFORE the per-basket self-join
    * shrinks its fanout at the source. The support counts are one
    * map-side-combinable agg; the prune is a semi-join on the item key
    * (hint-free — the frequent-item set is corpus-dependent, AQE picks
    * broadcast when it fits). */
  private[graft] def frequentBasketItems(li: DataFrame, minSupport: Long): DataFrame = {
    val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val freq = b.groupBy("pk").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minSupport)
      .select("pk")
    b.join(freq, Seq("pk"), "left_semi")
  }

  /** Co-occurrence pair counts over frequent items: per-basket self
    * equi-join on the basket id (baskets are bounded — a TPC-H order
    * holds ≤7 lines — so the pair expansion per basket is a small
    * constant, never quadratic in the corpus) + one hash agg. */
  private[graft] def pairCounts(items: DataFrame): DataFrame =
    items.as("x")
      .join(items.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
      .agg(count(lit(1)).as("n_baskets"))

  /** Session memo of the minSupport=30 co-purchase pair frame
    * (a, b, n_baskets) — FIVE graph/basket queries (q143/q144/q155/
    * q161/q162) start from this exact frame and each previously re-ran
    * the distinct → support-prune → per-basket self-join chain from
    * scratch. Consumers apply their own n_baskets threshold on the
    * read. */
  private[graft] def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    graft.core.SessionSpill.memoFrame(s, "graft_copurchase_pairs", dir)(
      pairCounts(frequentBasketItems(Tables.load(s, dir, "lineitem"), 30L)))

  // ---- q145 shared: exact integer decay weights -----------------------

  /** Per-vertex triangle participation counts of an undirected simple
    * graph given as (a, b) edges with a < b. Enumeration orients every
    * edge from its lower-(degree, id) endpoint to the higher one — each
    * triangle is generated EXACTLY once as a wedge at its lowest-rank
    * vertex plus one closing equi-join, and per-vertex wedge fanout is
    * bounded by the oriented out-degree, which the orientation caps at
    * O(√m) — the standard trick that keeps hub vertices from exploding
    * the wedge join at scale. Orientation is a physical strategy only:
    * the triangle SET (and so the counts) equals naive a<b<c
    * enumeration, spec-checked against it. */
  def trianglesPerVertex(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val ranked = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val aLow = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    // pinned ONCE: the wedge self-join and the closing-edge semi join
    // both read `oriented` — without the checkpoint the whole edge
    // derivation (possibly a multi-join chain) is duplicated into every
    // branch of the plan tree (observed 6× on the co-purchase input).
    // O(m) rows, the frame a distributed triangle count re-reads anyway.
    val oriented = ranked.select(
      when(aLow, col("a")).otherwise(col("b")).as("src"),
      when(aLow, col("b")).otherwise(col("a")).as("dst"),
      // (deg, id) rank of dst — orders wedge endpoints deterministically
      when(aLow, struct(col("db").as("d"), col("b").as("v")))
        .otherwise(struct(col("da").as("d"), col("a").as("v")))
        .as("dstR"))
      .localCheckpoint(true)
    // wedges at the lowest-rank vertex: out-neighbor pairs ordered by
    // the DESTINATION rank so each unordered pair appears once
    val w = oriented.as("w1")
      .join(oriented.as("w2"),
        col("w1.src") === col("w2.src") && col("w1.dstR") < col("w2.dstR"))
      .select(col("w1.src").as("u"),
        col("w1.dst").as("v1"), col("w2.dst").as("v2"))
    // close the wedge: the (v1, v2) edge exists in SOME orientation
    val closing = oriented.select(col("src").as("v1"), col("dst").as("v2"))
      .unionAll(oriented.select(col("dst").as("v1"), col("src").as("v2")))
    w.join(closing, Seq("v1", "v2"), "left_semi")
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
  }

  /** 9^k and 10^k for k < 16 as exact long literals (9^15 ≈ 2.06e14 <
    * 2^53): the decay weight 0.9^k is computed as ONE IEEE division of
    * two exactly-representable integers, so both engines produce
    * bit-identical weights — `pow(0.9, k)` would hang determinism on
    * each engine's pow implementation being correctly rounded. */
  private[graft] val Pow9: Seq[Long] = Seq.iterate(1L, 16)(_ * 9L)
  private[graft] val Pow10: Seq[Long] = Seq.iterate(1L, 16)(_ * 10L)

  /** q145's computation over any frame with (user_id, ts, event_id,
    * event_type, value): per-user exponentially-decayed purchase value,
    * each term quantized to integer 1e-4 cents before summing so the
    * result is order-independent and engine-exact. */
  def decayedUserValue(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val p9 = typedLit(Pow9)
    val p10 = typedLit(Pow10)
    events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        (row_number().over(w) - 1).as("k"))
      .filter(col("k") < 16)
      .withColumn("term_e4",
        round(col("cents").cast("double")
          * (element_at(p9, col("k") + 1).cast("double")
             / element_at(p10, col("k") + 1).cast("double"))
          * 10000).cast("long"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_recent"),
        round(sum(col("term_e4")) / 1000000.0d, 4).as("decayed_value"))
  }

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val defs: Seq[Q] = Seq(

    // ---- q142: fuzzy edit-distance join (entity resolution) -----------
    // The record-linkage staple: match dirty strings to a clean catalog
    // at levenshtein ≤ 1 WITHOUT an all-pairs scan. Candidates come
    // from an equi-join on deletion-neighborhood keys (≤ L+1 keys per
    // string — the corpus-sized stage is O(N·L) rows through one
    // shuffle); the bounded candidate set is verified with the real
    // levenshtein. The oracle brute-forces the same join at sf0.01
    // scale (a length prefilter + levenshtein over all pairs) — the
    // blocked plan must find EXACTLY the pairs brute force finds, which
    // is the exactness claim of the deletion-key scheme. Best match =
    // min (lev, id) as one integer composite, so ties are deterministic.
    Q("q142_fuzzy_join",
      """WITH dirty AS (
        |  SELECT c_custkey AS dirty_id,
        |    substr(c_name, 1, CAST(c_custkey % len(c_name) AS INT))
        |      || substr(c_name, CAST(c_custkey % len(c_name) AS INT) + 2)
        |      AS dname
        |  FROM customer),
        |hits AS (
        |  SELECT d.dirty_id, d.dname, c.c_custkey AS cid,
        |    levenshtein(d.dname, c.c_name) AS lev
        |  FROM dirty d JOIN customer c
        |    ON abs(len(d.dname) - len(c.c_name)) <= 1
        |  WHERE levenshtein(d.dname, c.c_name) <= 1)
        |SELECT dirty_id, dname, CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(min(lev * 1000000000 + cid) % 1000000000 AS BIGINT) AS best_id,
        |  CAST(min(lev * 1000000000 + cid) // 1000000000 AS BIGINT) AS best_lev
        |FROM hits
        |GROUP BY dirty_id, dname
        |ORDER BY dirty_id""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("cid"), col("c_name").as("cname"))
      val dirty = cust.select(
        col("cid").as("dirty_id"),
        dirtyName(col("cname"), col("cid")).as("dname"))
      // ids only through the key join + distinct: the name strings are
      // ~3× the bytes of the (id, id) pair and are reattached AFTER the
      // dedupe from two broadcast copies of the bounded name tables —
      // same candidate set, ~half the exchange bytes
      val cleanKeys = cust
        .select(col("cid"), explode(deletionKeys(col("cname"))).as("k"))
      val dirtyKeys = dirty
        .select(col("dirty_id"), explode(deletionKeys(col("dname"))).as("k"))
      val cand = dirtyKeys.join(cleanKeys, "k")
        .select("dirty_id", "cid")
        .distinct()
        .join(broadcast(dirty), "dirty_id")
        .join(broadcast(cust), "cid")
      cand
        // thresholded levenshtein: banded DP, O(k·len) per pair instead
        // of O(len²) — at verify volume that bound is the point; -1
        // (over threshold) fails the <= 1 filter like any distance > 1
        .withColumn("lev", levenshtein(col("dname"), col("cname"), 1))
        .filter(col("lev").between(0, 1))
        // composite best key: lev major, id minor — one integer min.
        // The encoding is only total while cid < 1e9 (custkey passes
        // that around sf6600); the guard makes the bound LOUD instead
        // of a silent best-match divergence past it.
        .withColumn("composite", col("lev") * lit(1000000000L) +
          when(col("cid") < lit(1000000000L), col("cid"))
            .otherwise(raise_error(lit(
              "q142: custkey >= 1e9 overflows the lev-major composite"))
              .cast("long")))
        .groupBy("dirty_id", "dname")
        .agg(count(lit(1)).as("n_matches"),
          (min(col("composite")) % lit(1000000000L)).as("best_id"),
          (min(col("composite")) / lit(1000000000L)).cast("long").as("best_lev"))
        .orderBy("dirty_id")
    },

    // ---- q143: frequent item pairs (market-basket A-priori) -----------
    // Co-occurrence mining with support pruning: items below support 30
    // cannot form a frequent pair (A-priori monotonicity), so they are
    // pruned BEFORE the pair join; pair expansion is per-basket (bounded
    // basket size), and the output keeps pairs co-occurring in ≥ 3
    // baskets with their lift denominator counts for ranking.
    Q("q143_frequent_pairs",
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |           FROM lineitem),
        |sup AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM b
        |        GROUP BY pk HAVING count(*) >= 30),
        |bf AS (SELECT b.ok, b.pk FROM b
        |       WHERE b.pk IN (SELECT pk FROM sup)),
        |p AS (SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS n_baskets
        |      FROM bf x JOIN bf y ON x.ok = y.ok AND x.pk < y.pk
        |      GROUP BY 1, 2)
        |SELECT p.a, p.b, p.n_baskets, sa.c AS sup_a, sb.c AS sup_b
        |FROM p
        |JOIN sup sa ON sa.pk = p.a
        |JOIN sup sb ON sb.pk = p.b
        |WHERE p.n_baskets >= 3
        |ORDER BY p.a, p.b""".stripMargin) { (s, dir) =>
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val sup = b.groupBy("pk").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 30)
      coPurchasePairs(s, dir)
        .filter(col("n_baskets") >= 3)
        .join(sup.select(col("pk").as("a"), col("c").as("sup_a")), "a")
        .join(sup.select(col("pk").as("b"), col("c").as("sup_b")), "b")
        .select("a", "b", "n_baskets", "sup_a", "sup_b")
        .orderBy("a", "b")
    },

    // ---- q144: triangle counting (degree-oriented enumeration) --------
    // Triangles of the co-purchase graph (edges = frequent-item pairs
    // co-occurring in ≥ 2 baskets). Enumeration orients every edge from
    // its lower-(degree, id) endpoint to the higher one — each triangle
    // is then generated EXACTLY once as a wedge at its lowest-degree
    // vertex + one closing equi-join, and per-vertex wedge fanout is
    // bounded by the oriented out-degree, which the orientation caps at
    // O(√m) — the standard trick that keeps hub vertices from exploding
    // the wedge join at scale. The oracle enumerates by plain id order
    // (a<b<c): same triangle set, so the per-node participation counts
    // hash-match — orientation is a physical strategy, not a semantics
    // change.
    Q("q144_copurchase_triangles",
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |           FROM lineitem),
        |sup AS (SELECT pk FROM b GROUP BY pk HAVING count(*) >= 30),
        |bf AS (SELECT b.ok, b.pk FROM b
        |       WHERE b.pk IN (SELECT pk FROM sup)),
        |e AS (SELECT x.pk AS a, y.pk AS b
        |      FROM bf x JOIN bf y ON x.ok = y.ok AND x.pk < y.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1
        |        JOIN e e2 ON e2.a = e1.a AND e1.b < e2.b
        |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |m AS (SELECT x AS pk FROM tri UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri)
        |SELECT pk, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM m GROUP BY pk ORDER BY pk""".stripMargin) { (s, dir) =>
      val e = coPurchasePairs(s, dir)
        .filter(col("n_baskets") >= 2).select("a", "b")
      trianglesPerVertex(e)
        .select(col("v").as("pk"), col("n_triangles"))
        .orderBy("pk")
    },

    // ---- q145: exponential time-decay user value (EWMA feature) -------
    // The ML-feature staple: each user's purchase value decayed 0.9 per
    // step back from their most recent event, truncated to the last 16
    // events (0.9^16 < 0.19 — and 16 keeps 9^k exactly representable so
    // the weight is ONE exact-integer IEEE division, bit-identical on
    // both engines). Each term is quantized to integer 1e-4 cents before
    // summing, so the per-user sum is order-independent — the float
    // trajectory cannot depend on partitioning. The per-user window sort
    // is bounded by per-user event counts (66 median here; a production
    // key with millions of events is the q141/q129 moment machinery's
    // territory, not a ranked scan).
    Q("q145_decayed_user_value", {
      val p9 = Pow9.mkString("[", ", ", "]")
      val p10 = Pow10.mkString("[", ", ", "]")
      s"""WITH e AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) - 1 AS k
        |  FROM events WHERE event_type = 'purchase'),
        |terms AS (
        |  SELECT user_id,
        |    CAST(round(CAST(cents AS DOUBLE)
        |      * (CAST($p9[CAST(k AS INT) + 1] AS DOUBLE)
        |         / CAST($p10[CAST(k AS INT) + 1] AS DOUBLE))
        |      * 10000) AS BIGINT) AS term_e4
        |  FROM e WHERE k < 16)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
        |  round(sum(term_e4) / 1000000.0, 4) AS decayed_value
        |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin
    }) { (s, dir) =>
      decayedUserValue(t(s, dir, "events")).orderBy("user_id")
    },

    // ---- q146: MAD robust outliers (exact, per event type) ------------
    // Robust monitoring: median and median-absolute-deviation are
    // outlier-resistant where q141's mean/stddev are not — but an exact
    // median normally costs a sort. Both medians here go through the
    // q123/q129 histogram-narrowing machinery (passes = log_B(domain),
    // independent of row count; the exchange carries ≤groups·B cells),
    // so the whole query is scans + hash aggs — no sort, no window, no
    // per-group value buffering. Outlier rule: |v - med| > 3·MAD.
    Q("q146_mad_outliers",
      """WITH e AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY g),
        |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v)
        |        AS rn FROM e),
        |med AS (SELECT r.g, r.v AS med FROM r JOIN n ON n.g = r.g
        |        WHERE r.rn = (n.n + 1) // 2),
        |d AS (SELECT e.g, e.v, abs(e.v - med.med) AS dev, med.med
        |      FROM e JOIN med ON med.g = e.g),
        |r2 AS (SELECT g, dev, row_number() OVER (PARTITION BY g ORDER BY dev)
        |         AS rn FROM d),
        |mad AS (SELECT r2.g, r2.dev AS mad FROM r2 JOIN n ON n.g = r2.g
        |        WHERE r2.rn = (n.n + 1) // 2)
        |SELECT d.g AS event_type, n.n AS n_events, med.med AS med_cents,
        |  mad.mad AS mad_cents,
        |  CAST(count(CASE WHEN d.dev > 3 * mad.mad THEN 1 END) AS BIGINT)
        |    AS n_outliers
        |FROM d
        |JOIN med ON med.g = d.g JOIN mad ON mad.g = d.g JOIN n ON n.g = d.g
        |GROUP BY d.g, n.n, med.med, mad.mad
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      // ONE pinned (g, v) projection (spread + localCheckpoint) feeds
      // the group counts, BOTH narrowings and the final aggregate — the
      // old persist() held the single-split scan's ONE partition, so
      // every non-narrowing consumer ran on one task
      val e = ExactQuantile.pin(
        t(s, dir, "events")
          .select(col("event_type").as("g"),
            round(col("value") * 100).cast("long").as("v")),
        Seq("g", "v"))
      // group counts come from the first narrowing's own stats pass
      val (counts, medM) = ExactQuantile.kthSmallestAllGroups(e, "g", "v",
        cs => cs.map { case (g, n) => ((g, "med"), (n + 1) / 2) })
      val med = medM.map { case ((g, _), v) => g -> v }
      val medCol = counts.keys.toSeq.sorted.foldLeft(lit(null).cast("long")) {
        (acc, g) => when(col("g") === g, lit(med(g))).otherwise(acc)
      }
      val d = e.withColumn("med", medCol)
        .withColumn("dev", abs(col("v") - col("med")))
      val madKs = counts.map { case (g, n) => ((g, "mad"), (n + 1) / 2) }
      val mad = ExactQuantile.kthSmallestByGroup(d, "g", "dev", madKs)
        .map { case ((g, _), v) => g -> v }
      val madCol = counts.keys.toSeq.sorted.foldLeft(lit(null).cast("long")) {
        (acc, g) => when(col("g") === g, lit(mad(g))).otherwise(acc)
      }
      d.withColumn("mad", madCol)
        .groupBy(col("g").as("event_type"))
        .agg(count(lit(1)).as("n_events"),
          first(col("med")).as("med_cents"),
          first(col("mad")).as("mad_cents"),
          count(when(col("dev") > lit(3) * col("mad"), 1)).as("n_outliers"))
        .orderBy("event_type")
    },

    // ---- q152: item-item collaborative filtering -----------------------
    // The classic recommender build: Jaccard similarity between items
    // over the baskets that co-purchased them — sim = c/(sa+sb−c) from
    // the co-count and the two supports, all integers until ONE IEEE
    // division. Pair generation is the bounded per-basket self-join
    // (q143's shape, c ≥ 2 floors the noise); the per-item top-3 goes
    // through the custom TopKPerKey operator on an integer composite
    // (sim micro-units major, neighbor id minor), so the exchange
    // carries winners only — never an all-items window sort. The oracle
    // replays the same arithmetic with a row_number window at its own
    // scale.
    Q("q152_item_cf",
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |           FROM lineitem),
        |sup AS (SELECT pk, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY pk),
        |p AS (SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS c
        |      FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a AS item, b AS other, c FROM p
        |      UNION ALL SELECT b, a, c FROM p),
        |s AS (SELECT e.item, e.other, e.c,
        |        round(CAST(e.c AS DOUBLE) / (sa.cnt + sb.cnt - e.c), 6) AS sim
        |      FROM e JOIN sup sa ON sa.pk = e.item
        |             JOIN sup sb ON sb.pk = e.other),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY item
        |         ORDER BY sim DESC, other) AS rn FROM s)
        |SELECT item, other, c AS n_co, sim FROM rk WHERE rn <= 3
        |ORDER BY item, sim DESC, other""".stripMargin) { (s, dir) =>
      // pinned once: the support counts and the pair self-join (which
      // reads it twice) otherwise each re-run the distinct chain
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(true)
      val sup = b.groupBy("pk").agg(count(lit(1)).as("cnt"))
      val p = pairCounts(b).filter(col("n_baskets") >= 2)
      val e = p.select(col("a").as("item"), col("b").as("other"),
          col("n_baskets").as("c"))
        .unionAll(p.select(col("b").as("item"), col("a").as("other"),
          col("n_baskets").as("c")))
      val scored = e
        .join(sup.select(col("pk").as("item"), col("cnt").as("sa")), "item")
        .join(sup.select(col("pk").as("other"), col("cnt").as("sb")), "other")
        .withColumn("sim",
          round(col("c").cast("double") / (col("sa") + col("sb") - col("c")), 6))
        // integer composite: sim micro-units major (desc), other minor
        // (asc) — ONE order column for the winners-only top-k operator.
        // simU ≤ 1e6 so simU·1e12 ≤ 1e18 < Long.Max; the minor term is
        // total while other < 1e12 (partkey reaches 1e8 at sf500 —
        // guarded loud rather than silently bleeding into sim digits)
        .withColumn("ord",
          round(col("c").cast("double") / (col("sa") + col("sb") - col("c"))
            * 1000000).cast("long") * lit(1000000000000L) -
            when(col("other") < lit(1000000000000L), col("other"))
              .otherwise(raise_error(lit(
                "q152: partkey >= 1e12 overflows the sim-major composite"))
                .cast("long")))
      graft.plans.TopK.perKey(scored, Seq("item"), col("ord"), 3)
        .select(col("item"), col("other"), col("c").as("n_co"), col("sim"))
        .orderBy(col("item"), col("sim").desc, col("other"))
    },

    // ---- q153: PMI collocations (log-free) -----------------------------
    // Collocation discovery — the classic text-mining signal behind
    // phrase detection (word2vec's phrase pass, NLTK's collocation
    // finder): bigrams whose observed rate beats the independence
    // baseline. Ranking uses the RAW likelihood ratio
    // c_ab·M²/(N·c_a·c_b) — PMI without the log, same order since log
    // is monotone — so the score is exact integer arithmetic until ONE
    // engine-identical double division; a log-based score would hang
    // cross-engine determinism on each engine's libm. Shapes: two
    // map-side-combinable count aggs (unigrams, bigrams), two bounded
    // joins on the word key, TakeOrderedAndProject top-50 — no window,
    // nothing corpus-sized on the driver.
    Q("q153_collocations",
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT unnest(ws) AS t FROM w),
        |ua AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM uni),
        |bg AS (SELECT p.a AS a, p.b AS b FROM (
        |   SELECT unnest(list_transform(range(1, len(ws)),
        |     i -> {'a': ws[i], 'b': ws[i+1]})) AS p
        |   FROM w)),
        |pb AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM bg
        |       GROUP BY 1, 2),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg)
        |SELECT pb.a, pb.b, pb.c AS n_ab,
        |  round(CAST(pb.c * m.m * m.m AS DOUBLE)
        |    / CAST(n.n * ua.c * ub.c AS DOUBLE), 6) AS pmi_ratio
        |FROM pb JOIN ua ON ua.t = pb.a JOIN ua ub ON ub.t = pb.b, m, n
        |WHERE pb.c >= 30
        |ORDER BY pmi_ratio DESC, a, b LIMIT 50""".stripMargin) { (s, dir) =>
      val w = t(s, dir, "documents")
        .select(split(col("text"), " ").as("ws"))
        .persist() // two count passes + the bigram pass below
      try {
        val uni = w.select(explode(col("ws")).as("t"))
        val ua = uni.groupBy("t").agg(count(lit(1)).as("c"))
        val mTok = uni.count()
        // Spark's sequence(1, 0) would DESCEND — guard short docs out
        // (DuckDB's range(1, 1) is empty, so the engines agree)
        val bg = w.filter(size(col("ws")) >= 2)
          .select(explode(transform(
            sequence(lit(1), size(col("ws")) - 1),
            i => struct(element_at(col("ws"), i).as("a"),
              element_at(col("ws"), i + 1).as("b")))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .persist()
        try {
          val nBig = bg.count()
          val pb = bg.groupBy("a", "b").agg(count(lit(1)).as("c"))
            .filter(col("c") >= 30)
          pb
            .join(ua.select(col("t").as("a"), col("c").as("ca")), "a")
            .join(ua.select(col("t").as("b"), col("c").as("cb")), "b")
            .select(col("a"), col("b"), col("c").as("n_ab"),
              round((col("c") * lit(mTok) * lit(mTok)).cast("double")
                / (lit(nBig) * col("ca") * col("cb")).cast("double"), 6)
                .as("pmi_ratio"))
            .orderBy(col("pmi_ratio").desc, col("a"), col("b"))
            .limit(50)
        } finally bg.unpersist()
      } finally w.unpersist()
    },

    // ---- q154: per-document keyword extraction -------------------------
    // tf-idf keyword extraction with a LINEAR idf (tf·N/df): same
    // per-document ranking intent as the log form, but the score stays
    // one exact-integer product over one division — engine-identical,
    // no libm. The probe set is filtered FIRST (doc_id % 97 = 0, ~1% of
    // the corpus), so the per-doc ranking window sorts a bounded frame;
    // the corpus-sized work is the two count aggs, both
    // map-side-combinable. Corpus-wide per-key ranking is what
    // TopKPerKey is for (q90/q136/q152) — here the filter IS the bound.
    Q("q154_keyword_extraction",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM tok GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tok),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |        round(CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE), 6)
        |          AS score
        |      FROM tf JOIN df ON df.term = tf.term, n
        |      WHERE tf.doc_id % 97 = 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS rn FROM s)
        |SELECT doc_id, term, tf, df, score FROM r WHERE rn <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin) { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .persist() // tf, df, and N passes
      try {
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tok.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
        val n = tok.select("doc_id").distinct().count()
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))
        tf.filter(col("doc_id") % 97 === 0)
          .join(df, "term")
          .withColumn("score",
            round((col("tf") * lit(n)).cast("double") / col("df").cast("double"), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("doc_id", "term", "tf", "df", "score")
          .orderBy(col("doc_id"), col("score").desc, col("term"))
      } finally tok.unpersist()
    },

    // ---- q155: local clustering coefficient ----------------------------
    // The graph-quality metric over the co-purchase graph: per node,
    // cc = 2·triangles/(deg·(deg−1)) — how close the neighborhood is to
    // a clique. Composes the q144 degree-oriented triangle counts with
    // the degree frame (one more equi-join); nodes with deg ≥ 2 and no
    // triangle report 0, so the output is the full eligible node set,
    // not just triangle members. Exact integers until one division.
    Q("q155_clustering_coefficient",
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |           FROM lineitem),
        |sup AS (SELECT pk FROM b GROUP BY pk HAVING count(*) >= 30),
        |bf AS (SELECT b.ok, b.pk FROM b
        |       WHERE b.pk IN (SELECT pk FROM sup)),
        |e AS (SELECT x.pk AS a, y.pk AS b
        |      FROM bf x JOIN bf y ON x.ok = y.ok AND x.pk < y.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
        |          SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        |        GROUP BY v),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1
        |        JOIN e e2 ON e2.a = e1.a AND e1.b < e2.b
        |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |m AS (SELECT x AS pk FROM tri UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri),
        |tc AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_tri
        |       FROM m GROUP BY pk)
        |SELECT deg.v AS pk, deg.d AS degree,
        |  CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_triangles,
        |  round(CAST(2 * coalesce(tc.n_tri, 0) AS DOUBLE)
        |    / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS clustering
        |FROM deg LEFT JOIN tc ON tc.pk = deg.v
        |WHERE deg.d >= 2
        |ORDER BY pk""".stripMargin) { (s, dir) =>
      val e = coPurchasePairs(s, dir).filter(col("n_baskets") >= 2)
        .select("a", "b").localCheckpoint(true) // deg + triangle reuse
      val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      deg.filter(col("d") >= 2)
        .join(trianglesPerVertex(e), Seq("v"), "left")
        .select(col("v").as("pk"), col("d").as("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          round((lit(2) * coalesce(col("n_triangles"), lit(0L))).cast("double")
            / (col("d") * (col("d") - 1)).cast("double"), 6).as("clustering"))
        .orderBy("pk")
    },

    // ---- q156: inter-event latency percentiles -------------------------
    // The latency-SLO staple: per event type, exact p50/p95 of the gap
    // between a user's consecutive events of that type. Gap derivation
    // is a lag window PARTITIONED BY (user, type) — bounded per user,
    // never corpus-wide — and the percentiles go through the grouped
    // histogram-narrowing machinery (3 passes for a ~2.6e9 ms domain,
    // constant in row count; exchange ≤ groups·B cells). Integer µs →
    // ms throughout.
    Q("q156_latency_percentiles",
      """WITH g AS (
        |  SELECT event_type AS g,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |      AS gap_us
        |  FROM events),
        |e AS (SELECT g, gap_us // 1000 AS gap_ms FROM g
        |      WHERE gap_us IS NOT NULL),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY g),
        |r AS (SELECT g, gap_ms, row_number() OVER (PARTITION BY g
        |        ORDER BY gap_ms) AS rn FROM e)
        |SELECT r.g AS event_type, n.n AS n_gaps,
        |  max(CASE WHEN rn = (n.n + 1) // 2 THEN gap_ms END) AS p50_ms,
        |  max(CASE WHEN rn = (n.n * 95 + 99) // 100 THEN gap_ms END) AS p95_ms
        |FROM r JOIN n ON n.g = r.g
        |GROUP BY r.g, n.n
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy("user_id", "g")
        .orderBy(col("ts"), col("event_id"))
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("g"), col("ts"),
          col("event_id"), expr("ts_ns DIV 1000").as("tus"))
        .withColumn("gap_us", col("tus") - lag(col("tus"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        // integer division (SQL `div`), matching the oracle's `//` —
        // a double `/` + cast would truncate through float rounding
        .select(col("g"), expr("gap_us div 1000").as("gap_ms"))
        .persist() // stats + narrowing passes
      try {
        // group counts come from the narrowing's own stats pass
        val (counts, vals) = ExactQuantile.kthSmallestAllGroups(
          e, "g", "gap_ms", cs => cs.flatMap { case (g, n) =>
            Seq(((g, "p50"), (n + 1) / 2), ((g, "p95"), (n * 95 + 99) / 100))
          })
        counts.keys.toSeq.sorted.map { g =>
          (g, counts(g), vals((g, "p50")), vals((g, "p95")))
        }.toDF("event_type", "n_gaps", "p50_ms", "p95_ms")
          .orderBy("event_type")
      } finally e.unpersist()
    },

    // ---- q157: percent-of-total shares (ratio_to_report) ---------------
    // The BI staple: each nation's revenue share within its region.
    // Revenue is summed as exact integer cents (a double sum's partial
    // order would wobble the last decimals across engines/partitionings)
    // and the share is one division at the END, over the 25-row
    // aggregate — the window runs on grouped output, never on raw rows.
    Q("q157_revenue_share",
      """WITH rev AS (
        |  SELECT r_name, n_name,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS rev_cents
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, round(rev_cents / 100.0, 2) AS revenue,
        |  round(CAST(rev_cents AS DOUBLE) / CAST(sum(rev_cents)
        |    OVER (PARTITION BY r_name) AS DOUBLE), 6) AS region_share
        |FROM rev
        |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      val rev = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("c_custkey") === col("o_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("r_regionkey") === col("n_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("rev_cents"))
      val w = Window.partitionBy("r_name")
      rev.select(col("r_name"), col("n_name"),
          round(col("rev_cents") / 100.0d, 2).as("revenue"),
          round(col("rev_cents").cast("double")
            / sum(col("rev_cents")).over(w).cast("double"), 6)
            .as("region_share"))
        .orderBy("r_name", "n_name")
    },

    // ---- q158: session statistics + bounce profile ---------------------
    // The web-analytics staple over q38's sessionization rule (30-min
    // inactivity gap): sessions bucketed by event count (the bucket-1
    // row IS the bounce profile), with session counts, event totals,
    // and integer-division average duration. The windows are
    // (user)-partitioned — bounded per user, never corpus-wide — and
    // the rest is two hash aggs. All arithmetic integer µs/ms.
    Q("q158_session_stats",
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
        |f AS (SELECT user_id, tus, event_id,
        |    CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id
        |        ORDER BY tus, event_id) > 1800000000
        |      OR lag(tus) OVER (PARTITION BY user_id
        |        ORDER BY tus, event_id) IS NULL
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (SELECT user_id, tus, sum(new_s) OVER (PARTITION BY user_id
        |        ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM f),
        |per AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |        (max(tus) - min(tus)) // 1000 AS dur_ms
        |      FROM s GROUP BY 1, 2),
        |b AS (SELECT CASE WHEN n_events >= 5 THEN 5 ELSE n_events END
        |        AS bucket, n_events, dur_ms FROM per)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(sum(dur_ms) // count(*) AS BIGINT) AS avg_dur_ms
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      val gap = col("tus") - lag(col("tus"), 1).over(w)
      t(s, dir, "events")
        .select(col("user_id"), expr("ts_ns DIV 1000").as("tus"),
          col("event_id"))
        .withColumn("new_s",
          when(gap > 1800000000L || gap.isNull, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"),
          expr("(max(tus) - min(tus)) div 1000").as("dur_ms"))
        .select(when(col("n_events") >= 5, 5L).otherwise(col("n_events"))
          .as("bucket"), col("n_events"), col("dur_ms"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          expr("sum(dur_ms) div count(*)").as("avg_dur_ms"))
        .orderBy("bucket")
    },

    // ---- q159: RFM customer segmentation -------------------------------
    // The marketing-analytics classic: each user's Recency (days since
    // last purchase), Frequency (purchase count), Monetary (cents sum)
    // quartile-scored 1-4 — the quartile edges come from the exact
    // narrowing machinery over the per-user aggregate (bounded rows),
    // the score is q147's #{edges ≤ v}+1 rule folded into the plan as
    // literals, and the 3-digit segment code rolls up to counts.
    // Everything integer; no floats anywhere.
    Q("q159_rfm_segments", {
      def edges(metric: String) =
        s"""r_$metric AS (SELECT $metric AS v, row_number()
          |    OVER (ORDER BY $metric) AS rn FROM u),
          |e_$metric AS (SELECT DISTINCT v FROM r_$metric JOIN n
          |  ON rn IN ((1*n+3)//4, (2*n+3)//4, (3*n+3)//4))""".stripMargin
      s"""WITH p AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |mx AS (SELECT max(d) AS mxd FROM p),
        |u AS (SELECT user_id,
        |    CAST(date_diff('day', max(d), (SELECT mxd FROM mx)) AS BIGINT)
        |      AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(cents) AS BIGINT) AS monetary_cents
        |  FROM p GROUP BY user_id),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        |${edges("recency_days")},
        |${edges("frequency")},
        |${edges("monetary_cents")},
        |scored AS (SELECT user_id,
        |    1 + (SELECT count(*) FROM e_recency_days e
        |         WHERE e.v <= u.recency_days) AS r_score,
        |    1 + (SELECT count(*) FROM e_frequency e
        |         WHERE e.v <= u.frequency) AS f_score,
        |    1 + (SELECT count(*) FROM e_monetary_cents e
        |         WHERE e.v <= u.monetary_cents) AS m_score,
        |    monetary_cents
        |  FROM u)
        |SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
        |    AS segment,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(monetary_cents) AS BIGINT) AS monetary_cents
        |FROM scored GROUP BY 1 ORDER BY segment""".stripMargin
    }) { (s, dir) =>
      val p = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("d"),
          round(col("value") * 100).cast("long").as("cents"))
      val mxd = p.agg(max(col("d"))).collect()(0).getDate(0)
      val u = p.groupBy("user_id")
        .agg(datediff(lit(mxd), max(col("d"))).cast("long").as("recency_days"),
          count(lit(1)).as("frequency"),
          sum(col("cents")).as("monetary_cents"))
        .persist() // three narrowings + the scoring pass
      try {
        val n = u.count()
        val qs = Seq(1L, 2L, 3L).map(i => i.toString -> ((i * n + 3) / 4)).toMap
        def score(metric: String): Column = {
          val es = ExactQuantile.kthSmallest(u, metric, qs)
            .values.toSeq.distinct.sorted
          es.foldLeft(lit(1L)) { (acc, e) =>
            acc + when(col(metric) >= lit(e), 1L).otherwise(0L)
          }
        }
        u.select(
            (score("recency_days") * 100 + score("frequency") * 10 +
              score("monetary_cents")).as("segment"),
            col("monetary_cents"))
          .groupBy("segment")
          .agg(count(lit(1)).as("n_users"),
            sum(col("monetary_cents")).as("monetary_cents"))
          .orderBy("segment")
      } finally u.unpersist()
    },

    // ---- q160: cohort LTV curve ----------------------------------------
    // q135's retention matrix with money on it: cumulative revenue per
    // signup cohort across day offsets, per-user-normalized — the
    // lifetime-value curve growth teams actually plot. Revenue
    // accumulates as exact integer cents under a cohort-bounded running
    // window over the (cohort, offset) AGGREGATE (≤ cohorts×31 rows),
    // never over raw events; per-user LTV is one division at the end.
    Q("q160_cohort_ltv",
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS cents
        |  FROM events),
        |f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1),
        |cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_n
        |       FROM f GROUP BY 1),
        |j AS (SELECT f.cohort,
        |    date_diff('day', f.cohort, e.d) AS off, e.cents
        |  FROM e JOIN f ON f.user_id = e.user_id
        |  WHERE date_diff('day', f.cohort, e.d) <= 7),
        |g AS (SELECT cohort, off, CAST(sum(cents) AS BIGINT) AS rev_cents
        |      FROM j GROUP BY 1, 2),
        |c AS (SELECT cohort, off, CAST(sum(rev_cents) OVER (
        |        PARTITION BY cohort ORDER BY off
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |      FROM g)
        |SELECT c.cohort, CAST(c.off AS INT) AS offset_days, c.cum_cents,
        |  round(c.cum_cents / 100.0 / cs.cohort_n, 4) AS ltv_per_user
        |FROM c JOIN cs ON cs.cohort = c.cohort
        |ORDER BY c.cohort, offset_days""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"),
          when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L).as("cents"))
      val f = e.groupBy("user_id").agg(min(col("d")).as("cohort"))
      val cs = f.groupBy("cohort").agg(count(lit(1)).as("cohort_n"))
      val w = Window.partitionBy("cohort").orderBy("off")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.join(f, "user_id")
        .withColumn("off", datediff(col("d"), col("cohort")))
        .filter(col("off") <= 7)
        .groupBy("cohort", "off")
        .agg(sum(col("cents")).as("rev_cents"))
        .withColumn("cum_cents", sum(col("rev_cents")).over(w))
        .join(cs, "cohort")
        .select(col("cohort"), col("off").cast("int").as("offset_days"),
          col("cum_cents"),
          round(col("cum_cents") / 100.0d / col("cohort_n"), 4)
            .as("ltv_per_user"))
        .orderBy("cohort", "offset_days")
    },

    // ---- q161: association rules (confidence + lift) -------------------
    // q143's frequent pairs upgraded to directed RULES a→b with the two
    // metrics that make them actionable: confidence = c_ab/c_a and
    // lift = c_ab·N/(c_a·c_b) — integer counts until the final
    // divisions, basket count N as a one-row literal. Emitted both
    // directions (confidence is asymmetric), thresholded on confidence
    // ≥ 0.05 after the same A-priori support prune.
    Q("q161_association_rules",
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |           FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM b),
        |sup AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM b
        |        GROUP BY pk HAVING count(*) >= 30),
        |bf AS (SELECT b.ok, b.pk FROM b
        |       WHERE b.pk IN (SELECT pk FROM sup)),
        |p AS (SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT)
        |        AS c FROM bf x JOIN bf y ON x.ok = y.ok AND x.pk < y.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 3),
        |r AS (SELECT a AS lhs, b AS rhs, c FROM p
        |      UNION ALL SELECT b, a, c FROM p),
        |s AS (SELECT r.lhs, r.rhs, r.c AS n_co,
        |    round(CAST(r.c AS DOUBLE) / CAST(sa.c AS DOUBLE), 6)
        |      AS confidence,
        |    round(CAST(r.c * nb.n AS DOUBLE)
        |      / CAST(sa.c * sb.c AS DOUBLE), 6) AS lift
        |  FROM r JOIN sup sa ON sa.pk = r.lhs
        |         JOIN sup sb ON sb.pk = r.rhs, nb)
        |SELECT lhs, rhs, n_co, confidence, lift FROM s
        |WHERE confidence >= 0.05
        |ORDER BY lhs, rhs""".stripMargin) { (s, dir) =>
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val nBaskets = b.select("ok").distinct().count()
      val sup = b.groupBy("pk").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 30)
      val p = coPurchasePairs(s, dir).filter(col("n_baskets") >= 3)
      val r = p.select(col("a").as("lhs"), col("b").as("rhs"),
          col("n_baskets").as("n_co"))
        .unionAll(p.select(col("b").as("lhs"), col("a").as("rhs"),
          col("n_baskets").as("n_co")))
      r.join(sup.select(col("pk").as("lhs"), col("c").as("sa")), "lhs")
        .join(sup.select(col("pk").as("rhs"), col("c").as("sb")), "rhs")
        .select(col("lhs"), col("rhs"), col("n_co"),
          round(col("n_co").cast("double") / col("sa").cast("double"), 6)
            .as("confidence"),
          round((col("n_co") * lit(nBaskets)).cast("double")
            / (col("sa") * col("sb")).cast("double"), 6).as("lift"))
        .filter(col("confidence") >= 0.05)
        .orderBy("lhs", "rhs")
    },

    // ---- q162: BFS hop distances (iterative frontier expansion) --------
    // The remaining graph primitive next to CC (q59), PageRank (q127),
    // recursion (q120), and triangles (q144): single-source shortest
    // HOPS over the co-purchase graph from its min-id node, capped at 6
    // hops. Each round is one equi-join of the (bounded) frontier
    // against the pinned edge frame plus an anti-join against the
    // visited set — the distributed BFS shape, no driver-side graph.
    // The oracle's recursive CTE carries the same ≤6 cap and takes
    // min(d) per node, which equals BFS layering exactly.
    Q("q162_bfs_hops",
      """WITH RECURSIVE b AS (SELECT DISTINCT l_orderkey AS ok,
        |    l_partkey AS pk FROM lineitem),
        |sup AS (SELECT pk FROM b GROUP BY pk HAVING count(*) >= 30),
        |bf AS (SELECT b.ok, b.pk FROM b
        |       WHERE b.pk IN (SELECT pk FROM sup)),
        |e0 AS (SELECT x.pk AS a, y.pk AS b
        |      FROM bf x JOIN bf y ON x.ok = y.ok AND x.pk < y.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a AS src, b AS dst FROM e0
        |      UNION ALL SELECT b, a FROM e0),
        |seed AS (SELECT min(src) AS s FROM e),
        |reach(v, d) AS (
        |  SELECT s, 0 FROM seed
        |  UNION
        |  SELECT e.dst, reach.d + 1 FROM reach JOIN e ON e.src = reach.v
        |  WHERE reach.d < 6)
        |SELECT CAST(d AS BIGINT) AS hops, CAST(count(*) AS BIGINT)
        |    AS n_nodes
        |FROM (SELECT v, min(d) AS d FROM reach GROUP BY v)
        |GROUP BY d ORDER BY hops""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e0 = coPurchasePairs(s, dir)
        .filter(col("n_baskets") >= 2).select("a", "b")
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint(true) // re-joined every round
      val seed = e.agg(min(col("src"))).collect()(0).getLong(0)
      var visited = Seq((seed, 0L)).toDF("v", "d").localCheckpoint(true)
      var frontier = visited.select("v")
      var hop = 0L
      while (hop < 6 && !frontier.isEmpty) {
        hop += 1
        frontier = frontier
          .join(e, col("v") === col("src"))
          .select(col("dst").as("v")).distinct()
          .join(visited, Seq("v"), "left_anti")
          .localCheckpoint(true) // bounded: one BFS layer
        visited = visited
          .unionByName(frontier.withColumn("d", lit(hop)))
          .localCheckpoint(true)
      }
      visited.groupBy(col("d").as("hops"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("hops")
    },

    // ---- q211: label-propagation communities (sync supersteps) ---------
    // Community detection over the co-purchase graph — the clustering
    // pass next to CC (q59), PageRank (q127/q200), BFS (q162) and
    // triangles (q144): every node starts labeled with itself, and
    // each of 3 SYNCHRONOUS supersteps relabels every node with the
    // most frequent label among its neighbors, ties to the SMALLEST
    // label (the deterministic tie rule that makes sync LPA exactly
    // replayable — async/random variants are not). Each superstep is
    // one equi-join of the pinned edge frame to the |V|-sized label
    // frame + two hash aggregates (count per (node, label), then
    // argmax as a STRUCT MIN on (-count, label) — no ordered window);
    // the oracle replays the same 3 steps as chained CTEs with a
    // row_number tie-break, which equals the struct-min rule exactly.
    // Edges come from the shared co-purchase pair spill. Output: the
    // community size distribution — what a curation run reads to see
    // cluster granularity before picking canonical representatives.
    Q("q211_label_propagation", {
      val step = (k: Int) =>
        s"""l$k AS (SELECT src AS v, lbl FROM (
           |    SELECT t.src, t.lbl,
           |      row_number() OVER (PARTITION BY t.src
           |        ORDER BY t.c DESC, t.lbl) AS rn
           |    FROM (SELECT e.src, l.lbl, count(*) AS c
           |          FROM e JOIN l${k - 1} l ON l.v = e.dst
           |          GROUP BY e.src, l.lbl) t) WHERE rn = 1)"""
      ("""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |           FROM lineitem),
        |sup AS (SELECT pk FROM b GROUP BY pk HAVING count(*) >= 30),
        |bf AS (SELECT b.ok, b.pk FROM b
        |       WHERE b.pk IN (SELECT pk FROM sup)),
        |e0 AS (SELECT x.pk AS a, y.pk AS b2
        |      FROM bf x JOIN bf y ON x.ok = y.ok AND x.pk < y.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a AS src, b2 AS dst FROM e0
        |      UNION ALL SELECT b2, a FROM e0),
        |l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e),""" +
        (1 to 3).map(step).mkString(",\n") +
        """
        |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM l3 GROUP BY lbl ORDER BY n_nodes DESC, community""").stripMargin
    }) { (s, dir) =>
      val e0 = coPurchasePairs(s, dir)
        .filter(col("n_baskets") >= 2).select("a", "b")
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint(true) // re-joined every superstep
      var lbl = e.select(col("src").as("v")).distinct()
        .withColumn("lbl", col("v"))
        .localCheckpoint(true)
      for (_ <- 1 to 3) {
        lbl = e.join(lbl, col("v") === col("dst"))
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("src"))
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
          .select(col("src").as("v"), col("m.l").as("lbl"))
          .localCheckpoint(true) // superstep barrier, lineage truncated
      }
      lbl.groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
        .select(col("lbl").as("community"), col("n_nodes"))
        .orderBy(desc("n_nodes"), asc("community"))
    },

    // ---- q213: weighted single-source shortest paths --------------------
    // Bounded-hop Bellman-Ford over the co-purchase graph with integer
    // edge costs (cost = 1,000,000 div n_baskets — strong ties are
    // cheap), the weighted companion to q162's unweighted BFS: 4
    // SYNCHRONOUS relaxation supersteps, each one equi-join of the
    // |reached|-sized distance frame to the pinned edge frame plus a
    // min() hash aggregate — never path enumeration (states per
    // superstep are bounded by |V|, not by path count, which is what
    // keeps the plan alive on a dense 100 TB graph). Integer costs make
    // every superstep exactly replayable: the oracle runs the same 4
    // relaxations as chained CTEs. Output: every node reachable within
    // 4 hops with its min-cost distance — the "supply radius" view a
    // procurement analysis reads off the trade network.
    Q("q213_weighted_sssp", {
      val step = (k: Int) =>
        s"""d$k AS (SELECT v, min(d) AS d FROM (
           |    SELECT v, d FROM d${k - 1}
           |    UNION ALL
           |    SELECT e.dst, p.d + e.w FROM d${k - 1} p
           |    JOIN e ON e.src = p.v) GROUP BY v)"""
      ("""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |           FROM lineitem),
        |sup AS (SELECT pk FROM b GROUP BY pk HAVING count(*) >= 30),
        |bf AS (SELECT b.ok, b.pk FROM b
        |       WHERE b.pk IN (SELECT pk FROM sup)),
        |e0 AS (SELECT x.pk AS a, y.pk AS b2, count(*) AS nb
        |      FROM bf x JOIN bf y ON x.ok = y.ok AND x.pk < y.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a AS src, b2 AS dst, 1000000 // nb AS w FROM e0
        |      UNION ALL SELECT b2, a, 1000000 // nb FROM e0),
        |seed AS (SELECT min(src) AS sv FROM e),
        |d0 AS (SELECT sv AS v, CAST(0 AS BIGINT) AS d FROM seed),""" +
        (1 to 4).map(step).mkString(",\n") +
        """
        |SELECT CAST(v AS BIGINT) AS part_id, CAST(d AS BIGINT) AS dist
        |FROM d4 ORDER BY dist, part_id""").stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val e0 = coPurchasePairs(s, dir).filter(col("n_baskets") >= 2)
        .withColumn("w", expr("CAST(1000000 div n_baskets AS BIGINT)"))
      val e = e0.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst"), col("w")))
        .localCheckpoint(true) // re-joined every relaxation superstep
      val seed = e.agg(min(col("src"))).collect()(0).getLong(0)
      var dist = Seq((seed, 0L)).toDF("v", "d").localCheckpoint(true)
      for (_ <- 1 to 4) {
        dist = dist
          .unionAll(dist.join(e, col("v") === col("src"))
            .select(col("dst").as("v"), (col("d") + col("w")).as("d")))
          .groupBy("v").agg(min(col("d")).as("d"))
          .localCheckpoint(true) // superstep barrier, lineage truncated
      }
      dist.select(col("v").as("part_id"), col("d").as("dist"))
        .orderBy("dist", "part_id")
    },

    // ---- q163: conversion-lag percentiles -------------------------------
    // Time-to-convert: exact p50/p95 of the view→purchase gap from the
    // q78 as-of attribution join (user-bounded union+window, no range
    // join), percentiles through the narrowing machinery — pass count
    // set by the ms domain, not conversions. One summary row plus the
    // attribution coverage rate.
    Q("q163_conversion_lag",
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS tus, 0 AS tag,
        |         event_id AS view_id
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts) AS tus, 1 AS tag, NULL::BIGINT
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT *,
        |    last_value(view_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY tus, tag
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS asof_view_id,
        |    last_value(CASE WHEN tag = 0 THEN tus END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY tus, tag
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS asof_view_tus
        |  FROM u),
        |g AS (SELECT (tus - asof_view_tus) // 1000 AS gap_ms
        |      FROM w WHERE tag = 1 AND asof_view_id IS NOT NULL),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n
        |       FROM w WHERE tag = 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
        |r AS (SELECT gap_ms, row_number() OVER (ORDER BY gap_ms) AS rn
        |      FROM g)
        |SELECT n.n AS n_conversions,
        |  round(CAST(n.n AS DOUBLE) / np.n, 6) AS coverage,
        |  max(CASE WHEN rn = (n.n + 1) // 2 THEN gap_ms END) AS p50_ms,
        |  max(CASE WHEN rn = (n.n * 95 + 99) // 100 THEN gap_ms END)
        |    AS p95_ms
        |FROM r, n, np GROUP BY n.n, np.n""".stripMargin) { (s, dir) =>
      import s.implicits._
      // persist the narrow projection of the as-of join ONCE: the
      // purchase count, conversion count and narrowing all read it —
      // asof.count() previously re-ran the whole window join
      val a = Events.asofJoinOf(t(s, dir, "events"))
        .select(col("view_id"), col("gap_ms")).persist()
      val g = a.filter(col("view_id").isNotNull).select(col("gap_ms"))
      try {
        val nPur = a.count()
        val nConv = g.count()
        val ks = Map("p50" -> ((nConv + 1) / 2),
          "p95" -> ((nConv * 95 + 99) / 100))
        val vals = ExactQuantile.kthSmallest(g, "gap_ms", ks)
        Seq((nConv,
            BigDecimal(nConv.toDouble / nPur).setScale(6,
              BigDecimal.RoundingMode.HALF_UP).toDouble,
            vals("p50"), vals("p95")))
          .toDF("n_conversions", "coverage", "p50_ms", "p95_ms")
      } finally a.unpersist()
    },

    // ---- q164: hour-of-day activity profile -----------------------------
    // Seasonality profiling: events per (type, hour-of-day) with the
    // share within the type — one hash agg over derived hour, one
    // bounded window over the 5×24 aggregate. UTC on both engines.
    Q("q164_hourly_profile",
      """WITH h AS (SELECT event_type, CAST(hour(ts) AS INT) AS hod
        |           FROM events),
        |g AS (SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n
        |      FROM h GROUP BY 1, 2)
        |SELECT event_type, hod, n,
        |  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (
        |    PARTITION BY event_type) AS DOUBLE), 6) AS share
        |FROM g ORDER BY event_type, hod""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("event_type")
      t(s, dir, "events")
        .select(col("event_type"), hour(col("ts")).as("hod"))
        .groupBy("event_type", "hod")
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("hod"), col("n"),
          round(col("n").cast("double")
            / sum(col("n")).over(w).cast("double"), 6).as("share"))
        .orderBy("event_type", "hod")
    },

    // ---- q165: frequent triples (A-priori level 3) -----------------------
    // One level deeper than q143: 3-itemsets over the support-pruned
    // baskets — candidate triples come from TWO chained per-basket
    // equi-joins (bounded: C(7,3) per basket), never from pair×pair
    // blowup, and the top-20 by support is a TakeOrderedAndProject.
    Q("q165_frequent_triples",
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |           FROM lineitem),
        |sup AS (SELECT pk FROM b GROUP BY pk HAVING count(*) >= 30),
        |bf AS (SELECT b.ok, b.pk FROM b
        |       WHERE b.pk IN (SELECT pk FROM sup)),
        |t AS (SELECT x.pk AS a, y.pk AS b, z.pk AS c,
        |        CAST(count(*) AS BIGINT) AS n_baskets
        |      FROM bf x
        |      JOIN bf y ON x.ok = y.ok AND x.pk < y.pk
        |      JOIN bf z ON x.ok = z.ok AND y.pk < z.pk
        |      GROUP BY 1, 2, 3)
        |SELECT a, b, c, n_baskets FROM t
        |ORDER BY n_baskets DESC, a, b, c LIMIT 20""".stripMargin) { (s, dir) =>
      // pinned once: the triple enumeration reads bf THREE times (x, y,
      // z) — without the checkpoint the distinct → support-prune chain
      // is duplicated into every branch of the self-join plan
      val bf = frequentBasketItems(t(s, dir, "lineitem"), 30L)
        .localCheckpoint(true)
      bf.as("x")
        .join(bf.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .join(bf.as("z"),
          col("x.ok") === col("z.ok") && col("y.pk") < col("z.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"),
          col("z.pk").as("c"))
        .agg(count(lit(1)).as("n_baskets"))
        .orderBy(col("n_baskets").desc, col("a"), col("b"), col("c"))
        .limit(20)
    },

    // ---- q166: new-vs-returning daily split -----------------------------
    // Growth accounting: per day, users active for the first time vs
    // returning — one min-agg for first-seen, one distinct-count agg
    // over the join back, all partial-combinable, exact integers plus
    // one final share division.
    Q("q166_new_vs_returning",
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS first_d FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, e.d, f.first_d
        |      FROM e JOIN f ON f.user_id = e.user_id)
        |SELECT d,
        |  CAST(count(CASE WHEN d = first_d THEN 1 END) AS BIGINT) AS new_users,
        |  CAST(count(CASE WHEN d <> first_d THEN 1 END) AS BIGINT)
        |    AS returning_users,
        |  round(CAST(count(CASE WHEN d = first_d THEN 1 END) AS DOUBLE)
        |    / count(*), 6) AS new_share
        |FROM a GROUP BY d ORDER BY d""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val f = e.groupBy("user_id").agg(min(col("d")).as("first_d"))
      e.join(f, "user_id").distinct()
        .groupBy("d")
        .agg(
          count(when(col("d") === col("first_d"), 1)).as("new_users"),
          count(when(col("d") =!= col("first_d"), 1)).as("returning_users"),
          round(count(when(col("d") === col("first_d"), 1)).cast("double")
            / count(lit(1)), 6).as("new_share"))
        .orderBy("d")
    },

    // ---- q167: revenue Pareto curve (concentration deciles) -------------
    // The 80/20 question: user revenue deciles (ntile over the bounded
    // per-user AGGREGATE, revenue-desc with id tiebreak so the split is
    // total) with each decile's share of total revenue — exact integer
    // cents until the one share division.
    Q("q167_revenue_pareto",
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |d AS (SELECT cents,
        |    ntile(10) OVER (ORDER BY cents DESC, user_id) AS decile
        |  FROM u),
        |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tc FROM u)
        |SELECT CAST(decile AS INT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents,
        |  round(CAST(sum(cents) AS DOUBLE) / (SELECT tc FROM tot), 6)
        |    AS rev_share
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin) { (s, dir) =>
      val u = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .persist() // total + narrowing passes over the bounded aggregate
      try {
        val st = u.agg(count(lit(1)).as("n"), sum(col("cents"))).head()
        val n = st.getLong(0)
        val total = st.getLong(1)
        require(n > 0, "q167: no purchase events")
        // ntile(10) boundary RANKS in (cents DESC, user_id ASC) order:
        // first n%10 deciles hold ceil(n/10) users, the rest floor(n/10).
        val q10 = n / 10
        val r = n % 10
        val edgeRankDesc = (1 to 9).map(i => i * q10 + math.min(i, r))
        // Decile EDGES without a global window (the single-partition
        // ntile WindowExec this replaces moved every user through one
        // task): histogram-narrow the exact cents value at each edge
        // rank (desc rank e = asc rank n-e+1, duplicates included),
        // then resolve the user_id tiebreak INSIDE each edge's cents
        // tie block with a second narrowing over user_id — every pass
        // is a scan + bounded hash-agg, no sort, no data-row shuffle.
        val cEdge = ExactQuantile.kthSmallest(u, "cents",
          edgeRankDesc.zipWithIndex.map { case (e, i) =>
            s"e$i" -> (n - e + 1) }.toMap)
        val distinctC = cEdge.values.toSeq.distinct
        val gtCols = distinctC.map(c =>
          sum(when(col("cents") > c, 1L).otherwise(0L)).as(s"c$c"))
        val gtRow = u.agg(gtCols.head, gtCols.tail: _*).head()
        val cntGt = distinctC.zipWithIndex
          .map { case (c, j) => c -> gtRow.getLong(j) }.toMap
        // all tie blocks narrowed in ONE grouped pass sequence (the
        // q129 machinery): up to 9 per-edge narrowings collapse to ~2
        // shared scans
        val tieKs: Map[(String, String), Long] = distinctC.flatMap { c =>
          edgeRankDesc.zipWithIndex.collect {
            case (e, i) if cEdge(s"e$i") == c =>
              (c.toString, s"u$i") -> (e - cntGt(c))
          }
        }.toMap
        val uidByGroup = ExactQuantile.kthSmallestByGroup(
          u.withColumn("_g", col("cents").cast("string")), "_g", "user_id",
          tieKs)
        val edges: Seq[(Long, Long)] =
          tieKs.keys.toSeq.map { case (g, lbl) =>
            (g.toLong, uidByGroup((g, lbl))) }
        // map-side decile assignment: 1 + #edges strictly earlier in
        // (cents DESC, user_id ASC) order — nine broadcast literals
        val decile = edges.foldLeft(lit(1)) { case (acc, (c, uEdge)) =>
          acc + when(col("cents") < c ||
            (col("cents") === c && col("user_id") > uEdge), 1).otherwise(0)
        }
        u.withColumn("decile", decile)
          .groupBy("decile")
          .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("rev_cents"))
          .select(col("decile").cast("int").as("decile"), col("n_users"),
            col("rev_cents"),
            round(col("rev_cents").cast("double") / lit(total.toDouble), 6)
              .as("rev_share"))
          .orderBy("decile")
      } finally u.unpersist()
    },

    // ---- q168: cross-source near-dup contamination matrix ---------------
    // The corpus-mixing diagnostic: how many near-dup pairs CROSS source
    // boundaries (a doc scraped twice via different feeds inflates one
    // source's apparent novelty). Composes the proven LSH candidate
    // chain with one broadcast-friendly doc→source join and a 5×5
    // matrix agg; the unordered source pair is canonicalized with
    // least/greatest so both engines bucket identically.
    Q("q168_crosssource_neardup", {
      s"""WITH ${Dedup.lshCandSqlCtes},
        |src AS (SELECT doc_id, source FROM documents),
        |m AS (SELECT least(s1.source, s2.source) AS source_a,
        |        greatest(s1.source, s2.source) AS source_b,
        |        CASE WHEN s1.source <> s2.source THEN 1 ELSE 0 END
        |          AS crossed
        |      FROM cand
        |      JOIN src s1 ON s1.doc_id = cand.doc1
        |      JOIN src s2 ON s2.doc_id = cand.doc2)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(crossed) AS BIGINT) AS n_cross
        |FROM m GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin
    }) { (s, dir) =>
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      Dedup.lshCandidatePairs(s, dir)
        .select("doc1", "doc2")
        .join(src.select(col("doc_id").as("doc1"), col("source").as("sa")), "doc1")
        .join(src.select(col("doc_id").as("doc2"), col("source").as("sb")), "doc2")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"),
          when(col("sa") =!= col("sb"), 1L).otherwise(0L).as("crossed"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"), sum(col("crossed")).as("n_cross"))
        .orderBy("source_a", "source_b")
    },

    // ---- q169: near-dup cluster-size distribution ------------------------
    // The dedup health check: how big do duplicate groups get? Composes
    // the proven CC labeling into a size histogram — a fat tail here
    // means one template is flooding the corpus (and is exactly the
    // skew case the CC label-propagation path and the apply anti-join
    // are hardened for). Counts only; the oracle re-derives components
    // with the recursive min-reachable CTE.
    Q("q169_dup_cluster_sizes", {
      s"""WITH RECURSIVE ${Dedup.lshCandSqlCtes},
        |edges AS (
        |  SELECT doc1 AS src, doc2 AS dst FROM cand
        |  UNION SELECT doc2, doc1 FROM cand),
        |reach(node, r) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT reach.node, e.dst FROM reach JOIN edges e
        |  ON reach.r = e.src),
        |lbl AS (
        |  SELECT node, least(node, min(r)) AS canonical_id
        |  FROM reach GROUP BY node),
        |sz AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS size
        |       FROM lbl GROUP BY 1)
        |SELECT size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(size * count(*) AS BIGINT) AS n_docs
        |FROM sz GROUP BY size ORDER BY size""".stripMargin
    }) { (s, dir) =>
      Dedup.connectedComponents(
          Dedup.lshCandidatePairs(s, dir).select("doc1", "doc2"))
        .groupBy("canonical_id").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_clusters"))
        .select(col("size"), col("n_clusters"),
          (col("size") * col("n_clusters")).as("n_docs"))
        .orderBy("size")
    },

    // ---- q170: vocabulary growth curve (Heaps' law) ----------------------
    // The corpus statistic behind tokenizer/budget planning: distinct
    // vocabulary vs corpus prefix size at ten checkpoints — one
    // exploded-token pass with ten conditional distinct counts (each a
    // hash agg; the checkpoint thresholds are plan literals from the
    // max doc id), no self-joins, no windows.
    Q("q170_vocab_growth",
      """WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents)
        |SELECT k,
        |  CAST(count(DISTINCT CASE WHEN tok.doc_id < k * mx.m // 10
        |    THEN tok.t END) AS BIGINT) AS vocab,
        |  CAST(count(DISTINCT CASE WHEN tok.doc_id < k * mx.m // 10
        |    THEN tok.doc_id END) AS BIGINT) AS docs
        |FROM tok, mx, (SELECT unnest(range(1, 11)) AS k)
        |GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docsDf = t(s, dir, "documents")
      val m = docsDf.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
      val tok = docsDf.select(col("doc_id"),
        explode(split(col("text"), " ")).as("t"))
      // a token is in the prefix-k vocabulary iff its FIRST occurrence
      // (min doc_id) is below the threshold — so ten distinct counts
      // collapse to one min-per-token aggregate plus ten plain
      // conditional counts, instead of a 20-way Expand of every token
      // (the multi-distinct plan shuffled the token frame 20×)
      val thrs = (1L to 10L).map(k => k -> k * m / 10)
      val tmin = tok.groupBy("t").agg(min(col("doc_id")).as("d0"))
      val vAggs = thrs.map { case (k, thr) =>
        count(when(col("d0") < thr, 1)).as(s"v$k") }
      val vRow = tmin.agg(vAggs.head, vAggs.tail: _*).collect()(0)
      // doc_id is unique per document, so the distinct doc count below
      // each threshold is a plain conditional count over documents
      val dAggs = thrs.map { case (k, thr) =>
        count(when(col("doc_id") < thr, 1)).as(s"d$k") }
      val dRow = docsDf.agg(dAggs.head, dAggs.tail: _*).collect()(0)
      (1 to 10).map(k =>
          (k.toLong, vRow.getLong(k - 1), dRow.getLong(k - 1)))
        .toDF("k", "vocab", "docs")
        .orderBy("k")
    },

    // ---- q147: equi-DEPTH binning (quantile-driven) --------------------
    // q71 bins by equal WIDTH — useless on skewed data, where one bin
    // takes most rows. Equal-DEPTH bins need the 9 decile edges, which
    // come from the q123 histogram-narrowing machinery (no sort, no
    // window, exchange carries ≤ranks·B cells); the edges then fold
    // into the plan as 9 literal comparisons, so the binning pass is a
    // pure scan + hash agg. bin = #{edges ≤ v}, deterministic under
    // ties on both engines; rank k_i = ceil(i·n/10) in exact integer
    // arithmetic.
    Q("q147_equidepth_bins",
      """WITH e AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |n AS (SELECT count(*) AS n FROM e),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM e),
        |ks AS (SELECT DISTINCT (i * n.n + 9) // 10 AS kk
        |       FROM range(1, 10) t(i), n),
        |edges AS (SELECT DISTINCT r.v AS edge FROM r JOIN ks ON r.rn = ks.kk),
        |b AS (SELECT e.k, e.v, CAST(count(ed.edge) AS BIGINT) AS bin
        |      FROM e LEFT JOIN edges ed ON ed.edge <= e.v GROUP BY e.k, e.v)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_rows, min(v) AS min_cents,
        |  max(v) AS max_cents, CAST(sum(v) AS BIGINT) AS sum_cents
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      // pinned once: the count, the narrowing and the final binning agg
      // share one source scan
      val cents = ExactQuantile.pin(
        t(s, dir, "orders")
          .select(round(col("o_totalprice") * 100, 0).cast("long").as("v")),
        Seq("v"))
      val n = cents.count()
      val ks = (1 to 9).map(i => i.toString -> ((i * n + 9) / 10)).toMap
      val edges = ExactQuantile.kthSmallest(cents, "v", ks)
        .values.toSeq.distinct.sorted
      val bin = edges.foldLeft(lit(0L)) { (acc, e) =>
        acc + when(col("v") >= lit(e), 1L).otherwise(0L)
      }
      cents.withColumn("bin", bin)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_rows"), min(col("v")).as("min_cents"),
          max(col("v")).as("max_cents"), sum(col("v")).as("sum_cents"))
        .orderBy("bin")
    },

    // ---- q148: time-series gap filling + trailing window ---------------
    // Sparse per-(user, day) series densified to the full corpus date
    // span before a trailing 3-day sum — the reason gap filling is an
    // operator at all: a ROWS-frame window over the SPARSE series
    // silently spans across missing days and is simply wrong. The dense
    // frame is users × sequence(dmin, dmax) (an explode of a
    // broadcast-bounds literal — no shuffle to build), the series joins
    // back by (user, day) equi-key, and the trailing sum is a bounded
    // 3-row frame per user. Everything is exact integers.
    Q("q148_gapfill_trailing",
      """WITH bounds AS (SELECT CAST(min(ts) AS DATE) AS dmin,
        |    CAST(max(ts) AS DATE) AS dmax FROM events),
        |users AS (SELECT DISTINCT user_id FROM events),
        |dense AS (SELECT u.user_id,
        |    CAST(unnest(generate_series(b.dmin, b.dmax, INTERVAL 1 DAY))
        |      AS DATE) AS d
        |  FROM users u CROSS JOIN bounds b),
        |errs AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2),
        |j AS (SELECT dense.user_id, dense.d, coalesce(errs.n, 0) AS n_errors
        |      FROM dense LEFT JOIN errs
        |        ON errs.user_id = dense.user_id AND errs.d = dense.d)
        |SELECT user_id, d, n_errors,
        |  CAST(sum(n_errors) OVER (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS err_3d
        |FROM j ORDER BY user_id, d""".stripMargin) { (s, dir) =>
      val events = t(s, dir, "events")
      val bounds = events.agg(
        to_date(min(col("ts"))).as("dmin"), to_date(max(col("ts"))).as("dmax"))
      val dense = events.select("user_id").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("user_id"),
          explode(sequence(col("dmin"), col("dmax"))).as("d"))
      val errs = events.filter(col("event_type") === "error")
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("user_id").orderBy("d").rowsBetween(-2, 0)
      dense.join(errs, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"),
          coalesce(col("n"), lit(0L)).as("n_errors"))
        .withColumn("err_3d", sum(col("n_errors")).over(w))
        .orderBy("user_id", "d")
    },

    // ---- q171: PII detection + redaction --------------------------------
    // The privacy gate every training-data pipeline runs before release
    // (C4 and every successor scrub emails/phones): regex detection +
    // replacement, MAP-ONLY per row — no shuffle until the per-nation
    // count agg, so a 100 TB scrub is scan-bound. The corpus has no
    // embedded PII, so each customer's "contact line" is derived
    // in-query from deterministic arithmetic (the q115/q142 snapshot
    // technique) — both engines synthesize identical text, then the
    // Spark side must FIND and REDACT it by actually running the
    // patterns. Regexes stay in the RE2 ∩ Java common subset (no
    // lookaround, no \d classes) so both engines match identically;
    // counts and char totals are exact integers.
    Q("q171_pii_redact",
      """WITH c AS (SELECT c_custkey AS k, c_name, c_nationkey FROM customer),
        |txt AS (SELECT k, c_nationkey,
        |    c_name || ' can be reached at '
        |      || printf('%02d-%03d-%03d-%04d', 10 + k % 15, 100 + k % 900,
        |                100 + (k // 7) % 900, 1000 + (k // 3) % 9000)
        |      || ' or ' || lower(replace(c_name, '#', '')) || '@example.com'
        |      AS line
        |  FROM c),
        |red AS (SELECT k, c_nationkey, line,
        |    CAST(len(regexp_extract_all(line,
        |      '[a-z0-9]+@[a-z]+[.][a-z]+')) AS BIGINT) AS n_email,
        |    CAST(len(regexp_extract_all(line,
        |      '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
        |    regexp_replace(regexp_replace(line,
        |      '[a-z0-9]+@[a-z]+[.][a-z]+', '<EMAIL>', 'g'),
        |      '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')
        |      AS clean
        |  FROM txt)
        |SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(n_email) AS BIGINT) AS emails_redacted,
        |  CAST(sum(n_phone) AS BIGINT) AS phones_redacted,
        |  CAST(sum(length(line)) AS BIGINT) AS chars_before,
        |  CAST(sum(length(clean)) AS BIGINT) AS chars_after
        |FROM red JOIN nation n ON n.n_nationkey = red.c_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin) { (s, dir) =>
      val emailRe = "[a-z0-9]+@[a-z]+[.][a-z]+"
      val phoneRe = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val k = col("c_custkey")
      val line = concat(col("c_name"), lit(" can be reached at "),
        format_string("%02d-%03d-%03d-%04d",
          lit(10) + k % 15, lit(100) + k % 900,
          lit(100) + floor(k / 7) % 900, lit(1000) + floor(k / 3) % 9000),
        lit(" or "), lower(regexp_replace(col("c_name"), "#", "")),
        lit("@example.com"))
      val red = t(s, dir, "customer")
        .select(col("c_nationkey"), line.as("line"))
        .withColumn("n_email", regexp_count(col("line"), lit(emailRe)).cast("long"))
        .withColumn("n_phone", regexp_count(col("line"), lit(phoneRe)).cast("long"))
        .withColumn("clean", regexp_replace(
          regexp_replace(col("line"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"))
      red.join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("n_email")).as("emails_redacted"),
          sum(col("n_phone")).as("phones_redacted"),
          sum(length(col("line"))).as("chars_before"),
          sum(length(col("clean"))).as("chars_after"))
        .orderBy("n_name")
    })
}
