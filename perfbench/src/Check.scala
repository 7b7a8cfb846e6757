package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sds.Scd2Store

/** Output check: the whole SDS store against the model. */
object Check {
  /** Store rows of `df` in the model's rendering (projection, then the
    * SCD2 interval), sorted. */
  private def rendered(df: DataFrame, table: String): Vector[String] =
    df.select((Model.Columns(table) :+ "start_block_num" :+ "end_block_num").map(col): _*)
      .collect().map(r => Model.render(r.toSeq)).toVector.sorted

  /** Differences between two sorted renderings (a few, for the log). */
  private def diff(expected: Seq[String], actual: Seq[String]): Seq[String] = {
    val e = expected.groupBy(identity).map { case (k, v) => k -> v.size }
    val a = actual.groupBy(identity).map { case (k, v) => k -> v.size }
    (e.keySet ++ a.keySet).toSeq.sorted.flatMap { k =>
      val d = a.getOrElse(k, 0) - e.getOrElse(k, 0)
      if (d > 0) Some(s"+$k") else if (d < 0) Some(s"-$k") else None
    }
  }

  /** Compare the whole store with a model snapshot: every row of every
    * table (so live and closed counts and live keys), the reconciled
    * blocks log, and as-of spot checks at `asOfProbes`. One Spark job
    * reads the 11 tables. `dropRow` removes one store row before the
    * comparison (the self-test's corrupted store). Returns the
    * mismatches found. */
  def store(store: Scd2Store, expected: Map[String, Vector[String]], blocks: Map[Long, String],
            asOfProbes: Seq[(String, Long, Vector[String])], dropRow: Boolean): Seq[String] = {
    val tables = Model.Columns.keys.toSeq.sorted
    val all = tables.map { t =>
      val cols = Model.Columns(t) :+ "start_block_num" :+ "end_block_num"
      store.table(t).select(lit(t).as("t"),
        concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit("\\N"))): _*).as("r"))
    }.reduce(_ unionByName _).collect()
    val byTable = all.groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getString(1)).toVector.sorted }
    val actual = tables.map(t => t -> byTable.getOrElse(t, Vector.empty)).toMap
    val tampered =
      if (!dropRow) actual
      else {
        val t = tables.find(actual(_).nonEmpty).get
        actual.updated(t, actual(t).tail)
      }
    val tableErrs = tables.flatMap { t =>
      val d = diff(expected(t), tampered(t))
      if (d.isEmpty) None
      else Some(s"$t: ${d.size} differing rows (expected ${expected(t).size}, got ${tampered(t).size}), e.g. ${d.take(3).mkString(", ")}")
    }
    val storedBlocks = store.table("blocks").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val blockErrs =
      if (storedBlocks == blocks) Nil
      else Seq(s"blocks: expected ${blocks.size} blocks, got ${storedBlocks.size}; e.g. " +
        (blocks.toSet diff storedBlocks.toSet).take(3).mkString(", "))
    val asOfErrs = asOfProbes.flatMap { case (t, b, exp) =>
      val d = diff(exp, rendered(store.asOf(t, b), t))
      if (d.isEmpty) None else Some(s"asOf($t, $b): ${d.take(3).mkString(", ")}")
    }
    tableErrs ++ blockErrs ++ asOfErrs
  }
}
