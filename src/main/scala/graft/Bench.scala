package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runCount = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the explicit localCheckpoint-block unpersist below logs a benign
    // "cannot be recomputed after unpersisting" WARN per query (the
    // results were already consumed) — keep the bench tail parseable.
    // "Broadcasting large task binary" warnings in this bench's tail are
    // attributable (via the per-query markers below) ENTIRELY to the
    // streaming-execution gates (q95/q97/q107/q112-q114/q125): their
    // MemoryStream replay fixtures ride inside the scan's task binary,
    // bounded by MaxReplayRows — a test-harness artifact, not a plan
    // defect (a Kafka/file source streams the same plan with no embedded
    // rows). The folded literals one might suspect (q87 sign matrix,
    // q132 blocklist, BPE merges) measure ZERO such warnings when run in
    // isolation.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    // untimed warmup: JVM/codegen/classloading + first parquet touch,
    // so the first timed query doesn't carry ~5 s of one-time cost
    try SparkEntry.queries("q06_forecast_revenue")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // noop sink, not count(): count() lets Catalyst prune every projection
    // and eliminate sorts, timing an empty plan; the noop writer
    // materializes all output columns like a real consumer.
    // SDS e2e queries (q5x_sds_*) are correctness fixtures with bounded
    // inputs — ingest THROUGHPUT is measured by graft.IngestBench, so
    // timing a fixed 100-block ingest here would only add noise.
    // local-iteration filter (the driver never sets it): run only queries
    // whose name contains one of the comma-separated substrings
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSeq)
    val suite = SparkEntry.queries.toSeq.filterNot(_._1.contains("_sds_"))
      .filter(q => only.forall(_.exists(q._1.contains))).sortBy(_._1)
    // the whole suite runs `runCount` times in THIS one JVM and each
    // query reports its minimum — host noise (a GC pause, a page-cache
    // miss, a co-tenant burst) inflates one run, never both, so min
    // tracks the plan's actual cost instead of the noisiest sample
    // Each run records (time, succeeded). A failed query must NEVER feed
    // the minimum: a query that throws in 50 ms would otherwise report a
    // FAST time and a healthy total while being broken — masking exactly
    // the regression the bench exists to catch.
    val runs: Seq[Seq[(String, (Double, Boolean))]] = (1 to runCount).map { _ =>
      suite.map { case (name, fn) =>
        // progress marker on stderr: lets log warnings (task-binary
        // size, skew) be attributed to the query that produced them
        System.err.println(s"[bench] running $name")
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // queries may cache intermediates; don't let caches accumulate
        // across the suite and skew later timings. clearCache drops
        // CacheManager entries; localCheckpoint blocks are RDD-level
        // (invisible to clearCache) and the async ContextCleaner reaps
        // them too slowly to keep ~40 checkpointing queries from bloating
        // the block manager — storage pressure that measurably slows the
        // driver-orchestrated streaming drives later in the suite — so
        // they are unpersisted EXPLICITLY (nothing legitimately persists
        // across queries; each query re-derives its own state). All of
        // this runs OUTSIDE the timed window.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = false))
        System.gc()
        name -> (elapsed, ok)
      }
    }
    // Locale.ROOT: a comma-decimal default locale must not break the JSON
    def s3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // min over SUCCESSFUL runs only (host noise inflates one run, never
    // both, so min tracks plan cost); a query with zero successful runs
    // is reported as -1 and counted in `errors`.
    val mins: Seq[(String, Double)] = suite.map(_._1).map { name =>
      val good = runs.map(_.toMap.apply(name)).collect { case (t, true) => t }
      name -> (if (good.isEmpty) -1.0 else good.min)
    }
    val failed = mins.collect { case (n, t) if t < 0 => n }
    val errorRuns = runs.flatten.count(!_._2._2)
    val total = mins.map(_._2).filter(_ >= 0).sum
    def qmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + s3(v) }.mkString("{", ",", "}")
    // per-run suite totals alongside the per-query min: a single-run
    // total mis-prices a round by the host-noise factor (BASELINE.md
    // "host-noise envelope"); recording BOTH runs' totals makes the
    // committed artifact noise-robust on its face
    // run_totals sums only each run's SUCCESSFUL queries — paired with
    // run_ok_counts so the artifact is self-describing: totals covering
    // different query sets (a query failing in one run only) are visibly
    // incomparable instead of silently so
    val runTotals = runs.map(_.collect { case (_, (t, true)) => t }.sum)
    val runOkCounts = runs.map(_.count(_._2._2))
    val detail =
      s"""{"metric":"total","value":${s3(total)},"unit":"sec","sf":"$sfDir",""" +
        s""""errors":$errorRuns,"failed_queries":[${failed.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""run_totals":[${runTotals.map(s3).mkString(",")}],""" +
        s""""run_ok_counts":[${runOkCounts.mkString(",")}],""" +
        s""""queries":${qmap(mins)},"runs":[${runs.map(r => qmap(r.map { case (n, (t, _)) => n -> t })).mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The driver parses a bounded TAIL of the process output. The total
    // line carries the COMPACT per-query map (2-decimal values, ~6 KB
    // for 221 queries — it fits the tail window) and is the one contract
    // line: printed LAST, after all Spark work so nothing floods past
    // it, to BOTH stdout and stderr (build.sbt's StdoutOutput strategy
    // keeps sbt from prefixing either — the r04-r07 parse failure), and
    // written verbatim to BENCH_TOTAL.json (the transport-independent
    // copy, a FILE with no tail bound). The same map is printed once
    // more on its own line just before it as a backstop.
    def s2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qcompact = mins
      .map { case (k, v) => "\"" + k + "\":" + s2(v) }.mkString("{", ",", "}")
    val queriesLine =
      s"""{"metric":"queries","unit":"sec","sf":"$sfDir","queries":$qcompact}"""
    val totalLine =
      s"""{"metric":"total","value":${s3(total)},"unit":"sec",""" +
        s""""sf":"$sfDir","errors":$errorRuns,"queries":$qcompact,"queries_file":"BENCH_LOCAL.json"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_TOTAL.json"),
      (totalLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    println(queriesLine)
    println(totalLine)
    System.err.println(queriesLine)
    System.err.println(totalLine)
  }
}
