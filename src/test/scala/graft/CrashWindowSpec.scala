package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Catalog, FsOps}

/** The r16 verdict's done-criterion for manifest-transactional sidecar
  * folds, executable: for every mutation that previously
  * destroyed-then-recommitted (whose mid-window kill left reads failing
  * loud until refreshManifest), kill the "process" at EVERY mutating
  * filesystem operation and assert a fresh process reads either the old
  * or the new committed state — SERVING, never refusing — and that the
  * documented recovery (the next mutator entry) lands exactly the new
  * state. The sweep machinery is [[ChaosSoak.sweepKillPoints]] (the
  * soak main runs the full store battery; this gate-suite subset covers
  * the Catalog windows the r17 restructure closed).
  */
class CrashWindowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val real = FsOps(spark)
  private def root = s"${TestSpark.tmpRoot}/crashwin"

  /** One seeded table per suite run: 3 partitions, a live deletion
    * mask (day=0 fully masked — the zero-survivor branch), two patch
    * batches.
    */
  private lazy val seed: String = {
    val s = s"$root/seed"
    real.rmTree(s)
    val cat = Catalog(spark, s)
    val df = spark.range(120).select(col("id"),
      (col("id") % 3).cast("string").as("day"), (col("id") % 97).as("n"))
    cat.create("t", df.repartition(1), Seq("day"))
    cat.deleteWhereLight("t", col("n") > 90)
    cat.deleteWhereLight("t", col("day") === "0")
    cat.updateWhereLight("t", col("n") === 5, Map("n" -> lit(-5L)))
    s
  }

  private def obs(w: String): Seq[String] =
    Catalog(spark, w).readRaw("t").select("id", "day", "n")
      .collect().map(_.toString).sorted.toSeq

  private def sweep(label: String)(f: Catalog => Unit): Unit = {
    val n = ChaosSoak.sweepKillPoints(spark, label, seed,
      w => f(Catalog(spark, w)), obs)
    assert(n > 0, s"$label: the sweep found no kill points — the " +
      "mutation performed no in-scope FS ops (harness regression)")
  }

  // the gate-suite subset: the two representative new flip shapes (a
  // pruned heavy mutation with a live sidecar fold, and the partition
  // drop). ChaosSoak's main runs the FULL battery exhaustively —
  // updateWhere, compactMask/compactPatches, applyDeletedMask incl.
  // the zero-survivor branch, killMutations, optimize, detach/attach/
  // move, MVCC, matview, raw EpochStore — with counts in PLANS.md.

  test("pruned DELETE WHERE: every kill point serves, recovery lands the delete") {
    sweep("deleteWhere")(_.deleteWhere("t", col("n") < 10))
  }

  test("DROP PARTITION: every kill point serves; sidecar fold flips with it") {
    sweep("dropPartition")(_.dropPartition("t", "day", "1"))
  }

  test("two writers: victim killed at early steps never loses or wedges the peer") {
    // gate-suite subset of ChaosSoak.sweepConcurrentKillPoints (the
    // soak main sweeps the victim exhaustively): the heavy DELETE dies
    // at each of the first kill points while an ingest peer commits
    // through the same table; B's statements all land, A stays atomic,
    // retrying A lands the combined state
    spark.conf.set("spark.graft.sidecarSweepGraceMs", "600000")
    try {
      val n = ChaosSoak.sweepConcurrentKillPoints(spark,
        "deleteWhere+livePeer", seed,
        // predicates key on the immutable id so A and B COMMUTE (B
        // updates n, so an n-predicate on A would order-depend)
        w => Catalog(spark, w).deleteWhere("t", col("id") % 10 === 4),
        w => {
          val cat = Catalog(spark, w)
          () => Seq[() => Unit](
            () => cat.deleteWhereLight("t", col("id") % 10 === 7),
            () => cat.updateWhereLight("t", col("id") % 10 === 2,
              Map("n" -> (col("id") % 50)))
          ).foreach(op =>
            graft.operators.Optimistic.retryOnConflict(attempts = 40)(op()))
        },
        obs, maxPoints = 8)
      assert(n > 0)
    } finally spark.conf.unset("spark.graft.sidecarSweepGraceMs")
  }
}
