package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Catalog, EpochStore, FsOps, MatView, MvccCatalog}
import org.apache.spark.sql.graft.ProjectionCatalog.Measure

/** Crash-recovery chaos harness (r16 verdict item 5): the ~20 per-window
  * ordering arguments in the commit protocols ([[operators.Manifest]]
  * flips, [[operators.EpochStore]] pointer commits, the sidecar fold and
  * partition-op orderings) converted into ONE executable invariant —
  *
  *   kill the process at EVERY mutating filesystem operation of a
  *   mutation; after each kill, a fresh "process" must read either the
  *   old or the new committed state (never empty, torn, or refusing),
  *   and the documented recovery (the next mutator entry) must land
  *   exactly the new state.
  *
  * The kill is simulated through the [[FsOps.factory]] seam: every store
  * binds its FsOps through it, so [[CrashFsOps]] dies after an operation
  * budget — a dead process performs no further I/O, and the budget sweep
  * `k = 0, 1, 2, ...` visits every protocol step exactly once. Spark's
  * own writers do not route through FsOps; a kill inside one is
  * approximated by the budget at the first protocol op after it, which
  * is exact for the invariant because an uncommitted Spark write is
  * invisible by construction (job-commit rename, `_temporary` staging).
  *
  * The exhaustive Catalog-table sweep ALSO runs in the gate suite
  * (CrashWindowSpec); this main covers the full store battery — MVCC
  * create/append/delete/compact, materialized-view insertBatch/compact,
  * raw EpochStore commits, and the partition-movement family — and
  * prints the swept kill-point counts for PLANS.md. Not driver-run.
  */
object ChaosSoak {

  /** The kill: thrown by [[CrashFsOps]] when the budget exhausts. */
  final class SimulatedCrash extends RuntimeException("simulated process kill")

  /** An FsOps whose MUTATING operations die after `budget` calls, but
    * only for paths under `scope` — foreign paths delegate untouched,
    * so a concurrently running suite that happens to bind through the
    * seam can never be poisoned. Reads never spend budget (a dead
    * process does no I/O at all, but the sweep only needs mutation
    * boundaries — reads between two mutating ops observe the same
    * state as the kill at the later one).
    */
  final class CrashFsOps(conf: Configuration, budget: AtomicInteger,
      scope: String) extends FsOps(conf) {
    // paths arrive raw ("/tmp/...") or qualified ("file:/tmp/...",
    // "file:///tmp/..."); normalize before the scope test so every
    // in-scope op spends budget regardless of which form a caller holds
    private def deScheme(p: String): String = {
      val c = p.indexOf(':')
      if (c <= 0 || !p.substring(0, c).forall(_.isLetter)) p
      else {
        val rest = p.substring(c + 1)
        if (rest.startsWith("//")) {
          val s = rest.indexOf('/', 2)
          if (s < 0) "/" else rest.substring(s)
        } else rest
      }
    }
    private def spend(ps: String*): Unit =
      if (ps.exists(p => deScheme(p).startsWith(scope)) &&
          budget.decrementAndGet() < 0)
        throw new SimulatedCrash
    override def mkdirs(p: String): Unit = { spend(p); super.mkdirs(p) }
    override def writeBytes(p: String, b: Array[Byte]): Unit = {
      spend(p); super.writeBytes(p, b)
    }
    override def createIfAbsent(p: String, b: Array[Byte]): Boolean = {
      spend(p); super.createIfAbsent(p, b)
    }
    override def rmTree(p: String): Unit = { spend(p); super.rmTree(p) }
    override def deleteIfEmptyDir(p: String): Boolean = {
      spend(p); super.deleteIfEmptyDir(p)
    }
    override def move(src: String, dst: String): Unit = {
      spend(src, dst); super.move(src, dst)
    }
    override def copyTree(src: String, dst: String): Unit = {
      spend(src, dst); super.copyTree(src, dst)
    }
  }

  private def resetSeam(): Unit =
    FsOps.factory = conf => new FsOps(conf)

  /** Sweep every kill point of `step` against the state under
    * `srcRoot`. For k = 0, 1, 2, ... : copy the state to a fresh work
    * root, run the step with a k-op budget (the k+1-th mutating FS op
    * under the root kills the "process"), then — with a real FsOps —
    * assert `observe(work)` equals the old or the new observation and
    * that recovery (re-running the step when the old state serves)
    * lands the new one. Stops at the first k whose run completes.
    * Returns the number of kill points swept.
    *
    * `step`/`observe` take the work root and must bind their own store
    * instances against it (an instance binds its FsOps at construction,
    * which is what routes it through the seam).
    */
  def sweepKillPoints[A](spark: SparkSession, label: String,
      srcRoot: String, step: String => Unit, observe: String => A,
      recover: Option[String => Unit] = None): Int = {
    val real = FsOps(spark)
    val base = srcRoot.stripSuffix("/") + "__chaos"
    real.rmTree(base)
    def stage(tag: String): String = {
      val w = s"$base/$tag"
      real.copyTree(srcRoot, w)
      w
    }
    val clean = stage("clean")
    val oldObs = observe(clean)
    step(clean)
    val newObs = observe(clean)
    var k = 0
    var crashed = true
    while (crashed) {
      val w = stage(s"k$k")
      val budget = new AtomicInteger(k)
      FsOps.factory = conf => new CrashFsOps(conf, budget, base)
      crashed =
        try { step(w); false }
        catch { case _: SimulatedCrash => true }
        finally resetSeam()
      if (crashed) {
        val got = observe(w) // a fresh process: must SERVE, old or new
        require(got == oldObs || got == newObs,
          s"$label kill@$k: read is neither the old nor the new " +
            s"committed state:\n  got $got\n  old $oldObs\n  new $newObs")
        if (got != newObs) { // recovery: re-run, or the documented hatch
          recover.getOrElse(step)(w)
          require(observe(w) == newObs,
            s"$label kill@$k: recovery did not land the new state")
        }
      }
      real.rmTree(w)
      k += 1
    }
    real.rmTree(base)
    println(f"$label%-34s ${k - 1}%3d kill points, all serving")
    k - 1
  }

  /** TWO-WRITER chaos (the r17 multi-writer contract, executed): sweep
    * victim A's kill points exactly like [[sweepKillPoints]] — but
    * WHILE a live peer B (real FsOps, every statement wrapped in
    * [[graft.operators.Optimistic.retryOnConflict]]) runs its own
    * statement stream against the same table from another thread. A is
    * the MAINTENANCE writer (one per table by contract), B the ingest
    * peer; their statements must COMMUTE (predicates/values off
    * immutable keys) so the reference states are interleaving-free.
    * Invariants at every kill point, from a fresh process:
    *
    *   - B's statements ALL land — a victim's death never takes a
    *     peer's committed work with it, and never wedges the peer
    *     (orphan claims are allocated past, in-flight debris survives
    *     the grace window);
    *   - A is ATOMIC: the read serves afterB or afterBoth, never a
    *     torn in-between, never refusing;
    *   - recovery (retry A against the landed state) = afterBoth.
    *
    * `mkB` must CONSTRUCT its store bindings eagerly (before the crash
    * seam installs — an instance binds its FsOps at construction) and
    * return the statement-stream thunk. `maxPoints` bounds the sweep
    * for gate-suite use; 0 = exhaustive (the soak battery).
    */
  def sweepConcurrentKillPoints[A](spark: SparkSession, label: String,
      srcRoot: String, stepA: String => Unit, mkB: String => () => Unit,
      observe: String => A, maxPoints: Int = 0): Int = {
    import graft.operators.Optimistic
    val real = FsOps(spark)
    val base = srcRoot.stripSuffix("/") + "__cchaos"
    real.rmTree(base)
    def stage(tag: String): String = {
      val w = s"$base/$tag"
      real.copyTree(srcRoot, w)
      w
    }
    // reference states on clean stages (the statements commute, so
    // serial order is irrelevant)
    val wb = stage("bonly"); mkB(wb)(); val obsB = observe(wb)
    val wboth = stage("both"); mkB(wboth)()
    Optimistic.retryOnConflict(attempts = 40)(stepA(wboth))
    val obsBoth = observe(wboth)
    require(obsB != obsBoth,
      s"$label: A must change the observation or atomicity is untestable")
    var k = 0
    var crashed = true
    var contended = 0
    while (crashed && (maxPoints == 0 || k < maxPoints)) {
      val w = stage(s"k$k")
      val errsB = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val streamB = mkB(w) // binds B's stores to the REAL factory now
      val tb = new Thread(() =>
        try streamB() catch { case t: Throwable => errsB.add(t) })
      val budget = new AtomicInteger(k)
      FsOps.factory = conf => new CrashFsOps(conf, budget, base)
      crashed =
        try {
          tb.start()
          try { Optimistic.retryOnConflict(attempts = 40)(stepA(w)); false }
          catch { case _: SimulatedCrash => true }
        } finally {
          resetSeam()
          tb.join(300000)
        }
      if (!errsB.isEmpty) throw new IllegalStateException(
        s"$label kill@$k: peer B failed — a victim's death must never " +
          s"wedge a live writer: ${errsB.peek()}", errsB.peek())
      if (crashed) {
        val got = observe(w)
        if (got == obsB) contended += 1
        require(got == obsB || got == obsBoth,
          s"$label kill@$k: read is neither afterB nor afterBoth " +
            s"(victim torn or peer lost):\n  got $got")
        if (got != obsBoth) {
          Optimistic.retryOnConflict(attempts = 40)(stepA(w))
          require(observe(w) == obsBoth,
            s"$label kill@$k: recovery did not land afterBoth")
        }
      } else require(observe(w) == obsBoth,
        s"$label kill@$k: completed run is not afterBoth")
      real.rmTree(w)
      k += 1
    }
    real.rmTree(base)
    println(f"$label%-34s ${k - 1}%3d kill points beside a live peer, " +
      s"all serving (A absent at $contended)")
    k - 1
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.install(spark)
    val root = graft.operators.AnnIndex.tmpRoot + "/chaos_soak"
    val real = FsOps(spark)
    real.rmTree(root)

    // CHAOS_PHASE=catalog|stores|all (default all): the catalog battery
    // and the side-store battery each fit a bounded wall-clock budget;
    // both phases' counts are recorded in PLANS.md
    val phase = sys.env.getOrElse("CHAOS_PHASE", "all")
    def phaseOn(p: String) = phase == "all" || phase == p

    var total = 0

    if (phaseOn("catalog")) {

    // ---- Catalog: manifested table with live sidecars ------------------
    val catSeed = s"$root/cat"
    locally {
      val cat = Catalog(spark, catSeed)
      val df = spark.range(150).select(col("id"),
        (col("id") % 3).cast("string").as("day"), (col("id") % 97).as("n"))
      cat.create("t", df.repartition(1), Seq("day"))
      cat.deleteWhereLight("t", col("n") > 90)
      // day=0 fully masked: applyDeletedMask exercises the
      // zero-survivor leaf-drop branch too
      cat.deleteWhereLight("t", col("day") === "0")
      cat.updateWhereLight("t", col("n") === 5, Map("n" -> lit(-5L)))
      cat.updateWhereLight("t", col("n") === 7, Map("n" -> lit(-7L)))
    }
    def catObs(w: String): Seq[String] =
      Catalog(spark, w).readRaw("t").select("id", "day", "n")
        .collect().map(_.toString).sorted.toSeq
    def catStep(name: String)(f: Catalog => Unit): Unit = {
      total += sweepKillPoints(spark, s"catalog.$name", catSeed,
        w => f(Catalog(spark, w)), catObs)
    }
    catStep("deleteWhere(pruned)")(_.deleteWhere("t", col("n") < 10))
    catStep("updateWhere(pruned)")(
      _.updateWhere("t", col("n") === 11, Map("n" -> lit(1100L))))
    catStep("compactMask")(_.compactMask("t"))
    catStep("compactPatches")(_.compactPatches("t"))
    catStep("applyDeletedMask")(_.applyDeletedMask("t"))
    catStep("dropPartition")(_.dropPartition("t", "day", "1"))
    catStep("killMutations")(_.killMutations("t"))
    catStep("optimize(writeReplacing)")(c =>
      c.replaceContents("t", c.readRaw("t")))

    // ---- TWO-WRITER chaos: maintenance victim beside live ingest -----
    // the r17 multi-writer contract executed: kill the heavy writer at
    // every step while an ingest peer commits through the same table
    spark.conf.set("spark.graft.sidecarSweepGraceMs", "600000")
    try {
      val ccSeed = s"$root/cc"
      locally {
        val cat = Catalog(spark, ccSeed)
        val df = spark.range(150).select(col("id"),
          (col("id") % 3).cast("string").as("day"), (col("id") % 97).as("n"))
        cat.create("t", df.repartition(1), Seq("day"))
        cat.deleteWhereLight("t", col("id") % 10 === 9) // live mask
        cat.updateWhereLight("t", col("id") % 10 === 8,
          Map("n" -> lit(-8L))) // live patch batch
      }
      def ccObs(w: String): Seq[String] =
        Catalog(spark, w).readRaw("t").select("id", "day", "n")
          .collect().map(_.toString).sorted.toSeq
      total += sweepConcurrentKillPoints(spark,
        "catalog.deleteWhere+livePeer", ccSeed,
        w => Catalog(spark, w).deleteWhere("t", col("id") % 10 === 4),
        w => {
          val cat = Catalog(spark, w) // binds the REAL factory eagerly
          () => Seq[() => Unit](
            () => cat.deleteWhereLight("t", col("id") % 10 === 7),
            () => cat.updateWhereLight("t", col("id") % 10 === 2,
              Map("n" -> (col("id") % 50))),
            () => cat.deleteWhereLight("t", col("id") % 10 === 1)
          ).foreach(op =>
            graft.operators.Optimistic.retryOnConflict(attempts = 40)(op()))
        },
        ccObs)
    } finally spark.conf.unset("spark.graft.sidecarSweepGraceMs")

    // detach + attach need a sidecar-free table (partition ops refuse
    // outstanding lightweight mutations by contract)
    val cat2Seed = s"$root/cat2"
    locally {
      val cat = Catalog(spark, cat2Seed)
      val df = spark.range(200).select(col("id"),
        (col("id") % 2).cast("string").as("day"), (col("id") % 97).as("n"))
      cat.create("t", df.repartition(2), Seq("day"))
    }
    def cat2Obs(w: String): Seq[String] =
      Catalog(spark, w).readRaw("t").select("id", "day", "n")
        .collect().map(_.toString).sorted.toSeq
    total += sweepKillPoints(spark, "catalog.detachPartition", cat2Seed,
      w => Catalog(spark, w).detachPartition("t", "day", "1"), cat2Obs)
    val cat2bSeed = s"$root/cat2b"
    locally {
      real.copyTree(cat2Seed, cat2bSeed)
      Catalog(spark, cat2bSeed).detachPartition("t", "day", "1")
    }
    // attach's recovery is PHASE-dependent, exactly as its scaladoc
    // documents: a kill before the move re-runs ATTACH; a kill between
    // the move and the adopt commit leaves the leaf present-but-
    // unserved with the _detached slot consumed — re-ATTACH refuses
    // loud and refreshManifest finishes the adoption
    total += sweepKillPoints(spark, "catalog.attachPartition", cat2bSeed,
      w => Catalog(spark, w).attachPartition("t", "day", "1"), cat2Obs,
      recover = Some { w =>
        val c = Catalog(spark, w)
        try c.attachPartition("t", "day", "1")
        catch { case _: IllegalArgumentException => c.refreshManifest("t") }
      })

    // movePartitionTo: per-store invariant (src and dst observed
    // separately — "in transit" is the legitimate DETACH+ATTACH
    // intermediate, committed on both sides)
    val cat3Seed = s"$root/cat3"
    locally {
      val cat = Catalog(spark, cat3Seed)
      val df = spark.range(200).select(col("id"),
        (col("id") % 2).cast("string").as("day"), (col("id") % 97).as("n"))
      cat.create("a", df.repartition(2), Seq("day"))
      // b holds day=0 only, so moving a's day=1 over meets no conflict
      cat.create("b", df.filter(col("day") === "0").repartition(1), Seq("day"))
    }
    locally {
      val real2 = FsOps(spark)
      val base = cat3Seed + "__chaos"
      real2.rmTree(base)
      val clean = s"$base/clean"
      real2.copyTree(cat3Seed, clean)
      def obs(w: String, t: String): Seq[String] =
        Catalog(spark, w).readRaw(t).select("id", "day", "n")
          .collect().map(_.toString).sorted.toSeq
      val (aOld, bOld) = (obs(clean, "a"), obs(clean, "b"))
      Catalog(spark, clean).movePartitionTo("a", "b", "day", "1")
      val (aNew, bNew) = (obs(clean, "a"), obs(clean, "b"))
      var k = 0
      var crashed = true
      while (crashed) {
        val w = s"$base/k$k"
        real2.copyTree(cat3Seed, w)
        val budget = new AtomicInteger(k)
        FsOps.factory = conf => new CrashFsOps(conf, budget, base)
        crashed =
          try { Catalog(spark, w).movePartitionTo("a", "b", "day", "1"); false }
          catch { case _: SimulatedCrash => true }
          finally resetSeam()
        if (crashed) {
          val (ga, gb) = (obs(w, "a"), obs(w, "b"))
          require(ga == aOld || ga == aNew,
            s"movePartitionTo kill@$k: src neither old nor new")
          require(gb == bOld || gb == bNew,
            s"movePartitionTo kill@$k: dst neither old nor new")
        }
        real2.rmTree(w)
        k += 1
      }
      real2.rmTree(base)
      println(f"catalog.movePartitionTo            ${k - 1}%3d kill points, all serving")
      total += k - 1
    }

    } // phase: catalog

    if (phaseOn("stores")) {

    // ---- MVCC table: create / append / delete / compact ----------------
    val mvccSeed = s"$root/mvcc"
    locally {
      val mc = MvccCatalog(spark, mvccSeed)
      val rows = spark.range(100).select(col("id").as("k"), (col("id") % 10).as("v"))
      mc.create("t", rows, version = 1)
      mc.append("t", rows.filter(col("k") < 10).withColumn("v", lit(99L)),
        version = 2)
      mc.deleteWhere("t", col("v") === 5, Seq("k"), version = 3)
    }
    def mvccObs(w: String): Seq[String] =
      MvccCatalog(spark, w).read("t", Seq("k"))
        .collect().map(_.toString).sorted.toSeq
    def mvccStep(name: String)(f: MvccCatalog => Unit): Unit =
      total += sweepKillPoints(spark, s"mvcc.$name", mvccSeed,
        w => f(MvccCatalog(spark, w)), mvccObs)
    mvccStep("compact")(_.compact("t", Seq("k"), version = 4))
    // deleteWhere (like matview.insertBatch below) sweeps ZERO kill
    // points by design: its only write is Spark's own dynamic-partition
    // overwrite, whose crash atomicity is the job committer's
    // (_temporary staging + commit rename) and whose replay idempotence
    // is spec-pinned — there is no protocol step of ours to kill
    mvccStep("deleteWhere")(_.deleteWhere("t", col("v") === 6, Seq("k"), 4))
    mvccStep("recreate@v1")(mc => mc.create("t",
      mc.spark.range(50).select(col("id").as("k"), lit(0L).as("v")), 1))

    // ---- materialized view: insertBatch replay + compact ----------------
    val mvSeed = s"$root/mv"
    locally {
      val mv = MatView.create(spark, mvSeed, Seq("k"), Seq(Measure("v", None)),
        spark.range(200).select((col("id") % 7).as("k"), col("id").as("v")))
      mv.insertBatch(spark.range(50).select((col("id") % 7).as("k"),
        (col("id") + 1000).as("v")), batchId = 0L)
    }
    def mvObs(w: String): Seq[String] =
      MatView(spark, w, Seq("k"), Seq(Measure("v", None))).read()
        .collect().map(_.toString).sorted.toSeq
    total += sweepKillPoints(spark, "matview.compact", mvSeed,
      w => MatView(spark, w, Seq("k"), Seq(Measure("v", None))).compact(),
      mvObs)
    total += sweepKillPoints(spark, "matview.insertBatch(replay)", mvSeed,
      w => MatView(spark, w, Seq("k"), Seq(Measure("v", None)))
        .insertBatch(spark.range(30).select((col("id") % 7).as("k"),
          (col("id") + 5000).as("v")), batchId = 1L),
      mvObs)

    // ---- raw EpochStore: commit over a committed store ------------------
    val epSeed = s"$root/ep"
    locally {
      EpochStore.commit(real, epSeed) { d =>
        real.mkdirs(d); real.writeBytes(s"$d/payload", "one".getBytes("UTF-8"))
      }
      ()
    }
    total += sweepKillPoints(spark, "epochstore.commit", epSeed,
      w => { EpochStore.commit(FsOps(spark), w) { d =>
        val f = FsOps(spark)
        f.mkdirs(d); f.writeBytes(s"$d/payload", "two".getBytes("UTF-8"))
      }; () },
      w => new String(real.readBytes(
        EpochStore.resolve(real, w) + "/payload"), "UTF-8"))

    } // phase: stores

    println(s"TOTAL kill points swept (phase=$phase): $total — every one " +
      "read a committed state and recovered to the new one")
    real.rmTree(root)
    spark.stop()
  }
}
