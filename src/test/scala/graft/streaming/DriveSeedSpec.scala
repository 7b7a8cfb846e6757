package graft.streaming

import graft.SparkSpec
import graft.core.SessionSpill

/** Pins the q94/q98 drive-prefix seeding equivalence IN-SESSION,
  * independent of query execution order: the driver's Verify iterates
  * a map, so it may run q98 before q94 and gate only the unseeded
  * path — this spec forces BOTH paths in one JVM and asserts the
  * folding drive's verdicts are row-identical with and without the
  * batch-1/2 snapshot restore. (The oracle hash gates whichever path
  * actually ran; this closes the other one.) */
class DriveSeedSpec extends SparkSpec {

  private def run(name: String): Seq[String] =
    graft.SparkEntry.queries(name)(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq

  private def seed =
    SessionSpill.peek[(String, String)](spark, StreamingQueries.DriveSeedTag, sf0001)

  test("seeded q98 drive ≡ cold q98 drive (and q94 likewise)") {
    // force the unseeded path regardless of what earlier suites ran
    SessionSpill.forget(StreamingQueries.DriveSeedTag)
    val cold98 = run("q98_incremental_dedup_compaction")
    assert(seed.isEmpty,
      "a folding drive must never write the seed (its post-fold state " +
        "is the wrong prefix)")
    val cold94 = run("q94_incremental_dedup") // writes the snapshot
    assert(seed.nonEmpty,
      "the non-folding drive should have snapshotted batches 1-2")
    val warm98 = run("q98_incremental_dedup_compaction") // restores it
    val warm94 = run("q94_incremental_dedup")
    assert(warm98 === cold98, "seeded q98 verdicts diverged from cold")
    assert(warm94 === cold94, "seeded q94 verdicts diverged from cold")
  }
}
