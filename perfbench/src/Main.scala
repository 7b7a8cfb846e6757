package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  *      [--param k=v]... [--corrupt store_row|read_answer]
  * }}}
  *
  * Runs one workload in this JVM and prints, as the last line of standard
  * output, one JSON object: `correct`, `attempted`, `failed` and the
  * metrics (end-to-end with `--trace 0`, per-layer with `--trace 1`).
  * Traced runs also write their spans and job records under `--out`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: Path, params: Map[String, String], corrupt: Set[String])

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map[String, String]()
    val params = mutable.Map[String, String]()
    val corrupt = mutable.Set[String]()
    val it = argv.iterator
    while (it.hasNext) it.next() match {
      case "--param" =>
        val Array(k, v) = it.next().split("=", 2)
        params(k) = v
      case "--corrupt" => corrupt += it.next()
      case k if k.startsWith("--") && it.hasNext => kv(k.drop(2)) = it.next()
      case other => throw new IllegalArgumentException(s"unexpected argument: $other")
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace,
      Paths.get(need("out")), params.toMap, corrupt.toSet)
  }

  /** The session every workload uses: `local[nproc]` with as many shuffle
    * partitions, as `graft.Bench` sizes it. */
  def session(trace: Boolean, work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    var b = graft.core.GraftSession.builder(master = s"local[$n]", shufflePartitions = n)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) b = b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Log(s"session master=local[$n] spark.sql.shuffle.partitions=$n trace=$trace")
    s
  }

  def main(argv: Array[String]): Unit = {
    // Exit explicitly either way: a stopped streaming query can leave
    // non-daemon threads that hold the JVM for seconds after the run.
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1) // no result line
    }
    System.exit(0)
  }

  private def run(args: Args): Unit = {
    Files.createDirectories(args.out)
    val work = Files.createTempDirectory(args.out, s"${args.workload}-${args.seed}-")
    val result =
      try {
        val spark = session(args.trace, work)
        try args.workload match {
          case "sds_ingest" => Ingest.run(spark, args, work)
          case "rest_reads" => Reads.run(spark, args, work)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        } finally spark.stop()
      } finally deleteTree(work)
    println(result.json)
    System.out.flush()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

/** A run's outcome and metrics (name → (value, unit)). */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(u)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Locale-independent JSON text. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => b += c
    }
    (b += '"').toString
  }

  /** Full-precision plain decimal (no exponent, no locale separators). */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value must be finite, got $v")
    java.math.BigDecimal.valueOf(v).stripTrailingZeros().toPlainString
  }

  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    str(k) + ": " + (v match {
      case d: Double => num(d)
      case n @ (_: Int | _: Long) => n.toString
      case s: String => str(s)
      case other => throw new IllegalArgumentException(s"no JSON form for $other")
    })
  }.mkString("{", ", ", "}")
}

/** Progress lines on standard error, stamped with seconds since JVM start. */
object Log {
  def apply(msg: String): Unit = System.err.println(String.format(Locale.ROOT, "[perfbench] +%.1fs %s",
    Double.box(Jvm.sinceStartS()), msg))
}

/** Summary statistics over samples. */
object Stats {
  /** Quantile by linear interpolation between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }
}
