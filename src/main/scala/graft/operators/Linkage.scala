package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}

/** Record linkage and graph centrality — the two entity-resolution
  * primitives a catalog/curation pipeline runs after dedup: fuzzy
  * matching of near-identical entity NAMES (blocked candidate
  * generation + edit/Jaro-Winkler scoring, the Fellegi-Sunter shape),
  * and link-graph importance (PageRank) over the relationship graph
  * the matched entities induce.
  *
  * Scale posture: linkage NEVER goes all-pairs — candidates come from
  * an equi-join on a deterministic block key (name prefix), the same
  * bucketed-candidates discipline as every dedup family in
  * operators/Dedup.scala; scoring is a codegen'd native expression
  * (functions/JaroWinkler.scala), not a UDF. PageRank is the iterative
  * co-partitioned join+aggregate — rank mass flows along edges
  * pre-joined with out-degree, 5 synchronous integer iterations; at
  * cluster scale the edge table is hash-partitioned once by src and
  * every iteration reuses that exchange.
  */
object Linkage {
  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val prRunId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Synchronous integer PageRank over a directed edge list (src, dst)
    * with no dangling nodes: rank = 0.15 + 0.85·Σ in(rank/outdeg) in
    * micro-rank units (start 1,000,000, every division floors — exact,
    * so the q200 oracle replays to the unit). The degree-annotated edge
    * table is materialized ONCE to a per-invocation tmp parquet (a
    * [[graft.core.SessionSpill]] root, deleted as soon as the final
    * ranks frame is pinned) and every iteration re-reads that file.
    * A persist() here is a trap at scale: under memory pressure
    * MEMORY_AND_DISK blocks silently evict, and each per-iteration
    * broadcast build then re-executes the edge frame's FULL upstream
    * lineage (for q200, orders⋈lineitem⋈distinct⋈union — measured as a
    * 9.4 s → 86.6 s same-code swing and a superlinear 50× rung). A
    * file re-read degrades gracefully — worst case one sequential
    * columnar scan per iteration — which is the behavior a
    * 1000-executor run needs. Shared by q200 and ScaleBench's graph
    * family.
    *
    * `seeds` (single column `node`) switches the teleport term to a
    * PERSONALIZED restart: rank mass starts at — and the 0.15 base
    * returns only to — the seed set, the random-walk-with-restart
    * variant behind "related entities" queries. With `None` every node
    * is a seed (s = 1), which reduces EXACTLY to the uniform integer
    * arithmetic q200's oracle replays.
    *
    * `graphKey` opts the edge/degree spill into a session memo
    * ([[graft.core.SessionSpill.memo]]): q200 and q212 iterate the SAME
    * trade graph, so the second of them re-reads the first's files
    * instead of re-running the orders⋈lineitem build. The seed flag is
    * applied on the |V|-sized read, so differently-seeded queries share
    * one graph spill; ScaleBench passes no key so the ladder always
    * measures the full chain. */
  private[graft] def pageRank(edges: DataFrame, iters: Int,
                              seeds: Option[DataFrame] = None,
                              graphKey: Option[String] = None): DataFrame = {
    val s = edges.sparkSession
    // spill the RAW (src, dst) edge list — NOT edges⋈outdeg: annotating
    // every edge with its source's degree costs a full edge-side
    // shuffle join before the loop even starts (measured 98 s of the
    // 138 s 50× rung), when the degree belongs on the |V|-sized rank
    // frame instead — the per-node `pr DIV outdeg` contribution is
    // computed there and shipped to the edge scan, so the 16-byte edge
    // rows are written and re-read verbatim and NEVER shuffled.
    // (node, outdeg) doubles as the node list — groupBy(src) is
    // already distinct on src, so no separate distinct pass.
    def writeSpill(dir: org.apache.hadoop.fs.Path): (String, String) = {
      val ep = new org.apache.hadoop.fs.Path(dir, "e").toString
      val np = new org.apache.hadoop.fs.Path(dir, "n").toString
      graft.core.Prof("pagerank edge spill") {
        edges.write.mode("overwrite").parquet(ep)
      }
      graft.core.Prof("pagerank node spill") {
        s.read.parquet(ep).groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("outdeg"))
          .write.mode("overwrite").parquet(np)
      }
      (ep, np)
    }
    // The memo key folds in the ANALYZED-PLAN fingerprint of `edges`
    // alongside the caller's graphKey: two callers reusing a key with
    // a semantically different edge definition get DIFFERENT spills
    // instead of silently iterating the wrong graph (the graphKey is
    // only a human-readable label; the semanticHash is the contract).
    val (ePath, nPath, ephemeral) = graphKey match {
      case Some(k) =>
        val fp = edges.queryExecution.analyzed.canonicalized.semanticHash()
        val (e, n) = graft.core.SessionSpill.memo(
          s, "graft_graph_spill", s"${k}_h$fp")(writeSpill)
        (e, n, None)
      case None =>
        val base = new org.apache.hadoop.fs.Path(
          graft.core.SessionSpill.root(s, "graft_pagerank"),
          s"run_${prRunId.incrementAndGet()}")
        val (e, n) = writeSpill(base)
        (e, n, Some(base))
    }
    val e2 = s.read.parquet(ePath)
    // s is the teleport indicator (1 everywhere for uniform PageRank,
    // seed membership for the personalized variant) — joined on the
    // |V|-sized degree frame, never on the edges
    val nodes = {
      val nd = s.read.parquet(nPath)
      seeds.fold(nd.withColumn("s", lit(1L))) { sd =>
        nd.join(broadcast(sd.select(col("node")).distinct()
            .withColumn("_s", lit(1L))), Seq("node"), "left")
          .withColumn("s", coalesce(col("_s"), lit(0L))).drop("_s")
      }
    }
    var ranks = nodes.withColumn("pr", col("s") * lit(1000000L))
    for (it <- 1 to iters) {
      // ranks (with outdeg riding along) is |nodes|-sized — tiny next
      // to edges: broadcast the per-node contribution so the edge file
      // is only ever SCANNED, and eagerly checkpoint the new ranks so
      // iteration k+1 starts from a materialized |nodes|-row frame
      // instead of re-executing iterations 1..k (the synchronous-
      // superstep barrier Pregel has; without it the per-iteration
      // broadcast re-runs the whole prefix). At cluster scale with a
      // rank table too big to broadcast, drop the hint — the spilled
      // src-keyed edge file makes this a shuffle join whose edge side
      // is a bare columnar scan.
      val contrib = ranks.select(col("node"),
        expr("pr DIV outdeg").as("contrib"))
      val inflow = e2.join(broadcast(contrib), col("src") === col("node"))
        .groupBy("dst").agg(sum("contrib").as("inflow"))
      ranks = graft.core.Prof(s"pagerank iter $it") {
        nodes.join(broadcast(inflow),
            nodes("node") === inflow("dst"), "left")
          .select(col("node"), col("outdeg"),
            (col("s") * lit(150000L) +
              expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) DIV 100"))
              .as("pr"), col("s"))
          .localCheckpoint(true)
      }
    }
    // the final ranks frame is eagerly checkpointed — nothing depends
    // on the spill files any more, so a per-invocation (un-memoized)
    // spill is dropped NOW rather than at application end (ScaleBench's
    // replica ladder calls this in a loop); a keyed spill stays for the
    // next consumer and is reaped by SessionSpill at application end
    ephemeral.foreach(b =>
      b.getFileSystem(s.sparkContext.hadoopConfiguration).delete(b, true))
    ranks.select(col("node"), col("pr"))
  }

  val defs: Seq[Q] = Seq(
    // ---- q199: blocked fuzzy record linkage (Jaro-Winkler + edit) ------
    // Entities are full catalog descriptors — name+brand+type+size,
    // 1995 distinct across 2000 parts, the near-unique dirty-feed
    // string a real linkage run reconciles. Fixture: every 5th part
    // emits a tail-truncated variant (1-3 chars by partkey — the
    // deterministic in-query mutation technique of q115/q142),
    // corrupting the size/type tail. Blocking = 8-char prefix
    // equi-join (truncation preserves it; NEVER all-pairs — mean
    // block yield is ~3 candidates), THEN levenshtein <= 3 gates and
    // Jaro-Winkler scores — Spark's builtin levenshtein next to this
    // engine's native jaro_winkler expression (functions/JaroWinkler
    // .scala), both inside whole-stage codegen, both replayed exactly
    // by DuckDB's builtins (the JW semantics parity is pinned by this
    // oracle to 4 dp). Best match per variant = min(lev, -jw, o_pk)
    // as a STRUCT MIN — an ordinary partial-aggregable hash
    // aggregate, no ordered window anywhere. `hit` compares matched
    // DESCRIPTOR to the variant's source descriptor: 365/400 at
    // sf0.01 — the remainder are genuine catalog ambiguities (two
    // sizes one edit apart), exactly what the report exists to show.
    Q("q199_record_linkage",
      """WITH o AS (SELECT p_partkey AS o_pk,
        |        p_name || ' ' || p_brand || ' ' || p_type || ' '
        |          || CAST(p_size AS VARCHAR) AS o_desc FROM part),
        |m AS (SELECT o_pk AS m_pk, o_desc AS src_desc,
        |        substr(o_desc, 1, length(o_desc) - 1 - (o_pk % 3)) AS m_desc
        |      FROM o WHERE o_pk % 5 = 0),
        |cand AS (SELECT m.m_pk, m.src_desc, m.m_desc, o.o_pk, o.o_desc,
        |        levenshtein(o.o_desc, m.m_desc) AS lev,
        |        jaro_winkler_similarity(o.o_desc, m.m_desc) AS jw
        |      FROM m JOIN o ON substr(o.o_desc, 1, 8) = substr(m.m_desc, 1, 8)
        |      WHERE abs(length(o.o_desc) - length(m.m_desc)) <= 3
        |        AND levenshtein(o.o_desc, m.m_desc) <= 3),
        |best AS (SELECT m_pk, o_pk, lev, jw, src_desc, o_desc,
        |        row_number() OVER (PARTITION BY m_pk
        |          ORDER BY lev, jw DESC, o_pk) AS rn,
        |        count(*) OVER (PARTITION BY m_pk) AS n_cand
        |      FROM cand)
        |SELECT m_pk, o_pk AS matched_pk, CAST(lev AS INT) AS lev,
        |  round(jw, 4) AS jw, CAST(n_cand AS BIGINT) AS n_cand,
        |  CAST(o_desc = src_desc AS INT) AS hit
        |FROM best WHERE rn = 1 ORDER BY m_pk""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "part").select(col("p_partkey").as("o_pk"),
        concat(col("p_name"), lit(" "), col("p_brand"), lit(" "),
          col("p_type"), lit(" "), col("p_size").cast("string")).as("o_desc"))
      val m = o.filter(col("o_pk") % 5 === 0)
        .select(col("o_pk").as("m_pk"), col("o_desc").as("src_desc"),
          expr("substring(o_desc, 1, CAST(length(o_desc) - 1 - o_pk % 3 AS INT))")
            .as("m_desc"))
      // length gate BEFORE the edit distance: lev <= 3 implies
      // |Δlength| <= 3, so the cheap integer filter is semantics-
      // preserving and spares the O(n·window) lev on most of the block
      // (the textbook linkage candidate cut; mirrored in the oracle).
      // The distance itself is the THRESHOLD form (returns -1 past 3):
      // a banded O(n·k) DP instead of the full O(n²) table — ~1M
      // gated pairs × ~50-char descriptors make the full DP the
      // query's dominant cost, and every pair past the band is
      // discarded by the filter anyway, so the early abandon is
      // result-identical (the oracle keeps the unbounded form + the
      // same <= 3 cut).
      // the variant side is a SINGLE tiny parquet split, but the block
      // join fans it out ~250× — without a repartition the whole
      // candidate stream (and every levenshtein) runs on ONE task
      // (measured: ~4 s of the query's ~7 s at sf0.1). Spreading the
      // 4k probe rows first costs a negligible shuffle and lets the
      // fan-out parallelize — the same reason a 1000-executor run
      // would never leave a block join keyed off one input split.
      val cand = m.repartition(m.sparkSession.sessionState.conf.numShufflePartitions)
        .join(o,
          substring(col("o_desc"), 1, 8) === substring(col("m_desc"), 1, 8) &&
            abs(length(col("o_desc")) - length(col("m_desc"))) <= 3)
        .withColumn("lev", levenshtein(col("o_desc"), col("m_desc"), 3))
        .filter(col("lev") >= 0)
        .withColumn("jw", expr("jaro_winkler(o_desc, m_desc)"))
      cand.groupBy("m_pk")
        .agg(
          min(struct(col("lev"), (-col("jw")).as("njw"), col("o_pk"),
            col("o_desc"))).as("b"),
          first(col("src_desc")).as("src_desc"),
          count(lit(1)).as("n_cand"))
        .select(col("m_pk"), col("b.o_pk").as("matched_pk"),
          col("b.lev").cast("int").as("lev"),
          round(-col("b.njw"), 4).as("jw"),
          col("n_cand"),
          (col("b.o_desc") === col("src_desc")).cast("int").as("hit"))
        .orderBy("m_pk")
    },

    // ---- q223: blocking-strategy recall evaluation ----------------------
    // The design table a record-linkage deployment is tuned with:
    // for each candidate-generation strategy, how many candidate pairs
    // it costs vs how many TRUE matches it can still reach (a match
    // lost at blocking is lost forever — scoring never sees it).
    // Three string-only blockers over the q199 catalog fixture, every
    // one an equi-join on a derived key (never all-pairs):
    //   prefix8   — first 8 chars (positional; q199's shipped blocker)
    //   token1    — first whitespace token (coarser positional)
    //   mingram4  — min 60-bit hash over all char 4-grams (MinHash-1;
    //               content-based, survives prefix edits)
    // Recall = variants whose true source record (o_pk = m_pk) appears
    // in their candidate set. Exact integers + one rounded ratio.
    Q("q223_blocking_recall", {
      val h4 = "('0x' || substr(md5(substr(d, CAST(i AS INT), 4)), 1, 15))::BIGINT"
      s"""WITH o AS (SELECT p_partkey AS o_pk,
        |        p_name || ' ' || p_brand || ' ' || p_type || ' '
        |          || CAST(p_size AS VARCHAR) AS o_desc FROM part),
        |m AS (SELECT o_pk AS m_pk,
        |        substr(o_desc, 1, length(o_desc) - 1 - (o_pk % 3)) AS m_desc
        |      FROM o WHERE o_pk % 5 = 0),
        |keys AS (
        |  SELECT 'prefix8' AS strategy, o_pk, substr(o_desc, 1, 8) AS k
        |  FROM o
        |  UNION ALL
        |  SELECT 'token1', o_pk, string_split(o_desc, ' ')[1] FROM o
        |  UNION ALL
        |  SELECT 'mingram4', o_pk, CAST(list_min(list_transform(
        |      range(1, length(o_desc) - 2),
        |      i -> ${h4.replace("d,", "o_desc,")})) AS VARCHAR)
        |  FROM o),
        |mkeys AS (
        |  SELECT 'prefix8' AS strategy, m_pk, substr(m_desc, 1, 8) AS k
        |  FROM m
        |  UNION ALL
        |  SELECT 'token1', m_pk, string_split(m_desc, ' ')[1] FROM m
        |  UNION ALL
        |  SELECT 'mingram4', m_pk, CAST(list_min(list_transform(
        |      range(1, length(m_desc) - 2),
        |      i -> ${h4.replace("d,", "m_desc,")})) AS VARCHAR)
        |  FROM m),
        |cand AS (SELECT mk.strategy, mk.m_pk, k.o_pk
        |      FROM mkeys mk JOIN keys k
        |        ON k.strategy = mk.strategy AND k.k = mk.k),
        |agg AS (SELECT strategy,
        |        CAST(count(*) AS BIGINT) AS n_candidates,
        |        CAST(count(DISTINCT CASE WHEN o_pk = m_pk THEN m_pk END)
        |          AS BIGINT) AS n_true_found
        |      FROM cand GROUP BY 1),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_variants FROM m)
        |SELECT agg.strategy, agg.n_candidates, agg.n_true_found,
        |  nv.n_variants,
        |  round(agg.n_true_found / CAST(nv.n_variants AS DOUBLE), 4)
        |    AS recall
        |FROM agg CROSS JOIN nv
        |ORDER BY strategy""".stripMargin
    }) { (s, dir) =>
      val o = t(s, dir, "part").select(col("p_partkey").as("o_pk"),
        concat(col("p_name"), lit(" "), col("p_brand"), lit(" "),
          col("p_type"), lit(" "), col("p_size").cast("string")).as("d"))
      val m = o.filter(col("o_pk") % 5 === 0)
        .select(col("o_pk").as("m_pk"),
          expr("substring(d, 1, CAST(length(d) - 1 - o_pk % 3 AS INT))")
            .as("d"))
      val minGram = expr(
        "CAST(array_min(transform(sequence(1, length(d) - 3), " +
          "i -> CAST(conv(substring(md5(substring(d, i, 4)), 1, 15), 16, 10)" +
          " AS BIGINT))) AS STRING)")
      def keyed(df: org.apache.spark.sql.DataFrame, idCol: String) =
        df.select(lit("prefix8").as("strategy"), col(idCol),
            substring(col("d"), 1, 8).as("k"))
          .unionAll(df.select(lit("token1").as("strategy"), col(idCol),
            expr("split(d, ' ')[0]").as("k")))
          .unionAll(df.select(lit("mingram4").as("strategy"), col(idCol),
            minGram.as("k")))
      val ks = keyed(o, "o_pk").localCheckpoint(true)
      val mks = keyed(m, "m_pk")
        .repartition(s.sessionState.conf.numShufflePartitions)
      val cand = mks.join(ks, Seq("strategy", "k"))
      val agg = cand.groupBy("strategy")
        .agg(count(lit(1)).as("n_candidates"),
          countDistinct(when(col("o_pk") === col("m_pk"), col("m_pk")))
            .as("n_true_found"))
      val nv = m.agg(count(lit(1)).as("n_variants"))
      agg.crossJoin(broadcast(nv))
        .select(col("strategy"), col("n_candidates"), col("n_true_found"),
          col("n_variants"),
          round(col("n_true_found").cast("double") / col("n_variants"), 4)
            .as("recall"))
        .orderBy("strategy")
    },

    // ---- q200: PageRank over the customer-supplier trade graph ---------
    // The link-importance pass entity resolution feeds: nodes are
    // customers and suppliers, edges the DISTINCT trade relationships
    // (orders ⋈ lineitem), undirected = both directions. 5 synchronous
    // iterations of rank = 0.15 + 0.85·Σ in(rank/outdeg), in exact
    // INTEGER micro-rank units (start 1,000,000; every division is
    // floor) so the oracle — the same 5 steps as chained CTEs — matches
    // to the unit with zero float drift. The Spark loop joins the
    // degree-annotated edge table (persisted once, partitioned by src)
    // to the current ranks and hash-aggregates inflow per dst: the
    // classic co-partitioned Pregel step expressed relationally. The
    // bipartite construction guarantees no dangling nodes, so rank
    // mass only leaks through floor — identically on both sides.
    Q("q200_pagerank_trade_graph", {
      val iter = (k: Int) =>
        s"""r$k AS (SELECT n.node,
           |    150000 + (85 * coalesce(f.inflow, 0)) // 100 AS pr
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.pr // d.outdeg) AS inflow
           |    FROM r${k - 1} r
           |    JOIN edges e ON e.src = r.node
           |    JOIN outdeg d ON d.src = e.src
           |    GROUP BY 1) f ON f.node = n.node)"""
      ("""WITH eo AS (SELECT DISTINCT
        |    'c' || CAST(o.o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l.l_suppkey AS VARCHAR) AS sp
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |edges AS (SELECT c AS src, sp AS dst FROM eo
        |          UNION ALL SELECT sp AS src, c AS dst FROM eo),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),""" +
        (1 to 5).map(iter).mkString(",\n") +
        """
        |SELECT node, CAST(pr AS BIGINT) AS pr FROM r5
        |ORDER BY pr DESC, node""").stripMargin
    }) { (s, dir) =>
      // node ids are LONGS inside the loop — customer custkey ↦ 2k,
      // supplier suppkey ↦ 2k+1 — so every shuffle/broadcast row in the
      // 5 iterations carries an 8-byte key instead of a 'c…'/'s…'
      // string; the display ids the oracle uses are reconstructed from
      // the parity bit only on the final |nodes|-row frame
      val eo = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("c"),
          (col("l_suppkey") * 2 + 1).cast("long").as("sp"))
        .distinct()
      val edges = eo.select(col("c").as("src"), col("sp").as("dst"))
        .union(eo.select(col("sp").as("src"), col("c").as("dst")))
      pageRank(edges, iters = 5, graphKey = Some(s"trade:$dir"))
        .select(
          when(col("node") % 2 === 0,
            concat(lit("c"), expr("node DIV 2").cast("string")))
            .otherwise(concat(lit("s"), expr("node DIV 2").cast("string")))
            .as("node"),
          col("pr").cast("long").as("pr"))
        .orderBy(desc("pr"), asc("node"))
    },

    // ---- q212: PERSONALIZED PageRank (random walk with restart) --------
    // The "related entities" variant: teleport mass restarts only at a
    // seed set (customers of one nation), so rank measures proximity
    // to the seeds through the trade graph — the query behind
    // recommend-suppliers-for-this-market. Same eviction-proof loop,
    // same integer micro-rank arithmetic as q200 (seeds get the
    // 150,000 base and the 1,000,000 start; everyone else 0, earning
    // rank only through inflow), so the oracle replays every step to
    // the unit. Suppliers dominate the top ranks — one hop from the
    // seed customers — which is exactly the product shape.
    Q("q212_personalized_pagerank", {
      val iter = (k: Int) =>
        s"""r$k AS (SELECT n.node,
           |    150000 * n.s + (85 * coalesce(f.inflow, 0)) // 100 AS pr
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.pr // d.outdeg) AS inflow
           |    FROM r${k - 1} r
           |    JOIN edges e ON e.src = r.node
           |    JOIN outdeg d ON d.src = e.src
           |    GROUP BY 1) f ON f.node = n.node)"""
      ("""WITH eo AS (SELECT DISTINCT
        |    'c' || CAST(o.o_custkey AS VARCHAR) AS c,
        |    's' || CAST(l.l_suppkey AS VARCHAR) AS sp
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |edges AS (SELECT c AS src, sp AS dst FROM eo
        |          UNION ALL SELECT sp AS src, c AS dst FROM eo),
        |seeds AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) AS v
        |          FROM customer WHERE c_nationkey = 7),
        |nodes AS (SELECT src AS node,
        |    CASE WHEN src IN (SELECT v FROM seeds) THEN 1 ELSE 0 END AS s
        |  FROM (SELECT DISTINCT src FROM edges)),
        |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |r0 AS (SELECT node, CAST(s * 1000000 AS BIGINT) AS pr FROM nodes),""" +
        (1 to 5).map(iter).mkString(",\n") +
        """
        |SELECT node, CAST(pr AS BIGINT) AS pr FROM r5
        |WHERE pr > 0 ORDER BY pr DESC, node""").stripMargin
    }) { (s, dir) =>
      val eo = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("c"),
          (col("l_suppkey") * 2 + 1).cast("long").as("sp"))
        .distinct()
      val edges = eo.select(col("c").as("src"), col("sp").as("dst"))
        .union(eo.select(col("sp").as("src"), col("c").as("dst")))
      val seeds = t(s, dir, "customer")
        .filter(col("c_nationkey") === 7)
        .select((col("c_custkey") * 2).cast("long").as("node"))
      pageRank(edges, iters = 5, seeds = Some(seeds),
          graphKey = Some(s"trade:$dir"))
        .filter(col("pr") > 0)
        .select(
          when(col("node") % 2 === 0,
            concat(lit("c"), expr("node DIV 2").cast("string")))
            .otherwise(concat(lit("s"), expr("node DIV 2").cast("string")))
            .as("node"),
          col("pr").cast("long").as("pr"))
        .orderBy(desc("pr"), asc("node"))
    }
  )
}
