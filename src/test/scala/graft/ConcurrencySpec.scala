package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ConcurrentCommitException, EpochStore, FsOps, Manifest, Par}

/** The cross-process writer-concurrency contract (r16 verdict item 2).
  * Mutations within one process are driver-serialized; across
  * PROCESSES (the reference's deployment runs continuous ingest beside
  * compaction jobs) both commit protocols are optimistic: the
  * create-if-absent on a deterministic per-sequence name is the CAS,
  * so of any set of racing writers exactly one commits and the rest
  * throw [[ConcurrentCommitException]] — NO interleaving loses an
  * update silently. Pinned here:
  *
  *   - the classic lost-update interleaving (two writers read one
  *     state, both commit) is refused loud, and retry-after-re-read
  *     lands both updates;
  *   - a multi-threaded hammer on one manifest loses NOTHING: every
  *     writer's adds are present at the end, exactly once;
  *   - a TRUNCATED claim (kill between the create and its bytes) burns
  *     its sequence: readers serve the previous commit, the next
  *     writer targets above it — the store never wedges or bricks;
  *   - a framed-but-malformed claim is corruption and fails loud.
  */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val fs = FsOps(spark)
  private def tmp(tag: String) = Files.createTempDirectory(tag).toString

  private def entry(rel: String) = Manifest.Entry(rel, 1L, 0L)

  test("manifest: lost-update interleaving refused loud; retry lands both") {
    val t = tmp("conc1") + "/t"
    fs.mkdirs(t)
    Manifest.commit(fs, t, 0L, Seq(entry("base.parquet")), Nil)
    // writers A and B both read the state at the same sequence
    val a0 = Manifest.load(fs, t).get
    val b0 = Manifest.load(fs, t).get
    Manifest.commit(fs, t, b0.seq, b0.entries :+ entry("b.parquet"), Nil)
    // A's commit from the now-stale base is REFUSED — under the old
    // protocol it would have minted a second file at one sequence and
    // silently dropped B's update
    val e = intercept[ConcurrentCommitException] {
      Manifest.commit(fs, t, a0.seq, a0.entries :+ entry("a.parquet"), Nil)
    }
    assert(e.getMessage.contains("concurrent"))
    // nothing torn, nothing lost: the reader serves B's state
    assert(Manifest.load(fs, t).get.entries.map(_.rel).toSet ==
      Set("base.parquet", "b.parquet"))
    // A re-reads, recomputes, retries: both updates land
    val a1 = Manifest.load(fs, t).get
    Manifest.commit(fs, t, a1.seq, a1.entries :+ entry("a.parquet"), Nil)
    assert(Manifest.load(fs, t).get.entries.map(_.rel).toSet ==
      Set("base.parquet", "b.parquet", "a.parquet"))
  }

  test("manifest: 8-writer hammer — every add lands exactly once, no lost update") {
    val t = tmp("conc2") + "/t"
    fs.mkdirs(t)
    Manifest.commit(fs, t, 0L, Seq(entry("base.parquet")), Nil)
    val nThreads = 8
    val perThread = 6
    val pool = Executors.newFixedThreadPool(nThreads)
    val start = new CountDownLatch(1)
    val errs = new ConcurrentLinkedQueue[Throwable]
    val refused = new AtomicInteger(0)
    (0 until nThreads).foreach { ti =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val wfs = FsOps(spark) // each "process" binds its own FsOps
            start.await()
            (0 until perThread).foreach { i =>
              var done = false
              while (!done) {
                try {
                  // the load sits INSIDE the retry: between resolving
                  // the committed snapshot and reading its bytes, 3+
                  // racing commits can retention-sweep it — the read
                  // fails benignly and the retry resolves the newer one
                  val m = Manifest.load(wfs, t).get
                  Manifest.commit(wfs, t, m.seq,
                    m.entries :+ entry(s"w$ti-$i.parquet"), Nil)
                  done = true
                } catch {
                  // ConcurrentCommitException = the protocol's refusal;
                  // IO/rename failures = a winner's hygiene sweep hit
                  // our .tmp- staging mid-commit (documented: the same
                  // refusal, surfaced at the rename) — both retry
                  case _: ConcurrentCommitException =>
                    refused.incrementAndGet()
                  case _: java.io.IOException =>
                    refused.incrementAndGet()
                  case e: IllegalArgumentException
                      if e.getMessage.contains("rename failed") =>
                    refused.incrementAndGet()
                }
              }
            }
          } catch { case th: Throwable => errs.add(th) }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "hammer timed out")
    assert(errs.isEmpty, s"hammer errors: ${errs.toArray.mkString("; ")}")
    val fin = Manifest.load(fs, t).get
    val want = (for (ti <- 0 until nThreads; i <- 0 until perThread)
      yield s"w$ti-$i.parquet").toSet + "base.parquet"
    assert(fin.entries.map(_.rel).toSet == want,
      "adds lost or duplicated under contention")
    info(s"refusals under contention: ${refused.get()} " +
      s"(${nThreads * perThread} successful commits)")
  }

  test("manifest: orphan snapshots never lift the target (the leapfrog hole)") {
    // THE hole the 8-writer hammer caught in an earlier design: writer
    // A renames its snapshot, then B lists BEFORE A seals — if B's
    // target jumped past A's unsealed (in-flight!) snapshot, both CAS
    // at different sequences succeed and A's update silently vanishes
    // when it seals below B. The fix: the target is ONE past the
    // COMMITTED sequence, so racers always collide at the same seal.
    val t = tmp("conc3") + "/t"
    fs.mkdirs(t)
    val s0 = Manifest.commit(fs, t, 0L, Seq(entry("base.parquet")), Nil)
    // A's in-flight state: a fully-written snapshot at seq 2, unsealed
    val uuid = "aaaaaaaa"
    val inFlight = f"snap-${s0.seq + 1}%020d-$uuid.gz"
    val bout = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bout)
    gz.write(("graft-manifest 1\nfiles 1\n1\t0\ta.parquet\n" +
      "remove 0\nend").getBytes("UTF-8")); gz.close()
    fs.writeBytes(s"$t/_manifest/$inFlight", bout.toByteArray)
    // the orphan is invisible to readers...
    assert(Manifest.load(fs, t).get.entries.map(_.rel) == Seq("base.parquet"))
    // ...and B's commit targets s0.seq + 1 — the SAME sequence A will
    // seal — never above it
    val st = Manifest.commit(fs, t, s0.seq,
      Manifest.load(fs, t).get.entries :+ entry("b.parquet"), Nil)
    assert(st.seq == s0.seq + 1)
    // had A sealed first, B's CAS at that same name would have refused
    assert(Manifest.load(fs, t).get.entries.map(_.rel).toSet ==
      Set("base.parquet", "b.parquet"))
  }

  test("manifest: a seal that does not parse is corruption — loud, never a skip") {
    // seals are content-atomic claims (staged + linked/renamed): a
    // crash cannot truncate one, so unparseable bytes are corruption —
    // skipping would adopt the wrong snapshot or drop a commit
    val t = tmp("conc3b") + "/t"
    fs.mkdirs(t)
    Manifest.commit(fs, t, 0L, Seq(entry("base.parquet")), Nil)
    fs.writeBytes(s"$t/_manifest/" + f"seal-${5L}%020d",
      "graft-seal 1\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { Manifest.load(fs, t) }
    assert(e.getMessage.contains("unreadable"))
  }

  test("epoch store: 6-writer hammer — unique sequences, resolve serves the last winner") {
    val root = tmp("conc4")
    def put(tag: String): String => Unit = dir => {
      fs.mkdirs(dir)
      fs.writeBytes(s"$dir/payload", tag.getBytes("UTF-8"))
    }
    EpochStore.commit(fs, root)(put("base"))
    val nThreads = 6
    val pool = Executors.newFixedThreadPool(nThreads)
    val start = new CountDownLatch(1)
    val errs = new ConcurrentLinkedQueue[Throwable]
    val committed = new ConcurrentLinkedQueue[String]
    val refused = new AtomicInteger(0)
    (0 until nThreads).foreach { ti =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val wfs = FsOps(spark)
            start.await()
            var done = false
            while (!done) {
              try {
                committed.add(EpochStore.commit(wfs, root)(put(s"w$ti")))
                done = true
              } catch {
                // refusal, or a winner's sweep deleted our in-flight
                // same-sequence build mid-write (documented: the same
                // refusal, surfaced earlier)
                case _: ConcurrentCommitException => refused.incrementAndGet()
                case _: java.io.IOException => refused.incrementAndGet()
              }
            }
          } catch { case th: Throwable => errs.add(th) }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "hammer timed out")
    assert(errs.isEmpty, s"hammer errors: ${errs.toArray.mkString("; ")}")
    val dirs = committed.toArray(Array.empty[String]).toSeq
    assert(dirs.size == nThreads)
    val seqs = dirs.map(d => d.substring(d.lastIndexOf("/e") + 2).take(20).toLong)
    assert(seqs.distinct.size == nThreads, s"duplicate sequences: $seqs")
    // the store resolves to the highest committed sequence's epoch, and
    // it is intact (no winner's sweep ever deleted a HIGHER in-flight
    // build — the corruption the seq-bounded sweep exists to prevent)
    val live = dirs(seqs.indexOf(seqs.max))
    assert(EpochStore.resolve(fs, root) == live)
    assert(new String(fs.readBytes(s"$live/payload"), "UTF-8").startsWith("w"))
    info(s"refusals under contention: ${refused.get()}")
  }

  test("epoch store: an unparseable CAS pointer is corruption — loud") {
    // pointers are content-atomic claims: a crash cannot truncate one,
    // so any unreadable pointer is corruption and resolution refuses
    // (resolving around it could adopt the wrong epoch)
    val root = tmp("conc5")
    def put(tag: String): String => Unit = dir => {
      fs.mkdirs(dir)
      fs.writeBytes(s"$dir/payload", tag.getBytes("UTF-8"))
    }
    val d1 = EpochStore.commit(fs, root)(put("one"))
    assert(EpochStore.resolve(fs, root) == d1)
    fs.writeBytes(s"$root/_commits/" + f"ptr-${5L}%020d",
      "graft-epoch 1\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { EpochStore.resolve(fs, root) }
    assert(e.getMessage.contains("unreadable"))
    // a staged .tmp- claim leftover is hygiene, not corruption: swept
    // by the next commit (once older than the in-flight staging floor
    // — a FRESH tmp may be a concurrent claim mid-link and is spared;
    // age the planted one like real crash debris), invisible to
    // resolution
    fs.rmTree(s"$root/_commits/" + f"ptr-${5L}%020d")
    fs.writeBytes(s"$root/_commits/.tmp-claim-deadbeef",
      "half".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$root/_commits/.tmp-claim-deadbeef"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    assert(EpochStore.resolve(fs, root) == d1)
    val d2 = EpochStore.commit(fs, root)(put("two"))
    assert(EpochStore.resolve(fs, root) == d2)
    assert(!fs.exists(s"$root/_commits/.tmp-claim-deadbeef"))
  }

  // ---- the contract surfaced at the Catalog API --------------------------

  test("catalog: two writers on one table — retryOnConflict lands every statement") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Catalog, Optimistic}
    val root = tmp("conc-cat")
    // concurrent sidecar writers on one table require the sweep grace
    // (Catalog scaladoc): the debris sweep cannot tell an in-flight
    // peer's uncommitted files from a crashed statement's except by age
    spark.conf.set("spark.graft.sidecarSweepGraceMs", "600000")
    try {
      val a = Catalog(spark, root)
      val b = Catalog(spark, root)
      a.create("t", spark.range(400).select(col("id"),
        (col("id") % 4).cast("string").as("g"), (col("id") % 100).as("n"))
        .repartition(2), Seq("g"))
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      val errs = new ConcurrentLinkedQueue[Throwable]
      val retried = new AtomicInteger(0)
      def writer(cat: Catalog, ids: Seq[Long], update: Boolean) =
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try ids.foreach { k =>
              var attempts = 0
              Optimistic.retryOnConflict(attempts = 40) {
                attempts += 1
                if (attempts > 1) retried.incrementAndGet()
                if (update)
                  cat.updateWhereLight("t", col("id") === k,
                    Map("n" -> lit(-1L)))
                else cat.deleteWhereLight("t", col("id") === k)
              }
            } catch { case th: Throwable => errs.add(th) }
          }
        })
      val deletes = Seq(3L, 7L, 11L, 13L)
      val updates = Seq(4L, 8L, 12L, 16L) // disjoint rows: effects commute
      val fa = writer(a, deletes, update = false)
      val fb = writer(b, updates, update = true)
      start.countDown()
      fa.get(300, TimeUnit.SECONDS); fb.get(300, TimeUnit.SECONDS)
      pool.shutdown()
      assert(errs.isEmpty, s"writer failed: ${Option(errs.peek())}")
      val got = a.readRaw("t").select("id", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got.size == 400 - deletes.size)
      deletes.foreach(k => assert(!got.contains(k), s"delete of $k lost"))
      updates.foreach(k => assert(got(k) == -1L, s"update of $k lost"))
      info(s"statements retried under contention: ${retried.get()}")
    } finally spark.conf.unset("spark.graft.sidecarSweepGraceMs")
  }

  test("catalog: a refused heavy flip destroys its own adds; plain retry lands") {
    import org.apache.spark.sql.functions._
    import graft.operators.Catalog
    val root = tmp("conc-flip")
    val real = FsOps(spark)
    val seed = Catalog(spark, root)
    seed.create("t", spark.range(120).select(col("id"),
      (col("id") % 3).cast("string").as("g"), (col("id") % 97).as("n"))
      .repartition(1), Seq("g"))
    seed.deleteWhereLight("t", col("n") > 90) // a live mask: the fold runs too
    val tableDir = s"$root/t"
    def committedRels() = Manifest.load(real, tableDir).get.entries
      .map(_.rel).filter(r => r.endsWith(".parquet")).toSet
    def treeRels() = real.listFiles(tableDir)
      .flatMap(e => real.relativeTo(tableDir, e._1))
      .filter(_.endsWith(".parquet")).toSet
    val before = seed.readRaw("t").count()
    // inject a competing no-op commit the instant the mutation tries to
    // seal — the deterministic version of the hammer's interleaving
    val injected = new AtomicInteger(0)
    FsOps.factory = conf => new FsOps(conf) {
      override def createIfAbsent(p: String, b: Array[Byte]): Boolean = {
        if (p.contains("/_manifest/seal-") && injected.getAndIncrement() == 0) {
          val cur = Manifest.load(real, tableDir).get
          Manifest.commit(real, tableDir, cur.seq, cur.entries, Nil)
        }
        super.createIfAbsent(p, b)
      }
    }
    try {
      val cat = Catalog(spark, root)
      intercept[ConcurrentCommitException] {
        cat.deleteWhere("t", col("n") < 10)
      }
      // the refused flip left NOTHING adopted and NOTHING leaked: the
      // tree's parquet set is exactly the committed set, and reads
      // serve the pre-mutation state
      assert(treeRels() == committedRels(),
        "refused flip leaked uncommitted files or destroyed live ones")
      assert(Catalog(spark, root).readRaw("t").count() == before)
      // a plain retry (fresh read of the advanced state) lands
      Catalog(spark, root).deleteWhere("t", col("n") < 10)
    } finally FsOps.factory = conf => new FsOps(conf)
    val after = Catalog(spark, root).readRaw("t")
    assert(after.filter(col("n") < 10).count() == 0)
    assert(treeRels() == committedRels())
  }

  test("tree walks beside a peer's job commit: vanished dirs read empty, staging skipped") {
    import org.apache.spark.sql.functions._
    import graft.operators.Catalog
    val root = tmp("conc-vanish")
    Seq("a", "b").foreach(d =>
      fs.writeBytes(s"$root/d/$d/$d.parquet", Array[Byte](1)))
    val seed = Catalog(spark, root)
    seed.create("t", spark.range(400).toDF("id").repartition(2))
    seed.deleteWhereLight("t", col("id") === 1L)
    // a peer's lightweight DELETE mid-job: Spark stages under
    // `_deletes/_temporary` and removes it at job commit
    fs.writeBytes(s"$root/t/_deletes/_temporary/0/part-0.parquet",
      Array[Byte](1))
    // every listing through the factory deletes the listed directory's
    // `b` and `_temporary` children right after returning them
    VanishingFs.victims = Set("b", "_temporary")
    FsOps.factory = conf => new FsOps(VanishingFs.conf(conf))
    try {
      val names = FsOps(spark).listFiles(s"$root/d")
        .map(e => e._1.substring(e._1.lastIndexOf('/') + 1))
      assert(names == Seq("a.parquet"))
      // the mutation preamble's sidecar sweep and the delete's own
      // before/after diff both walk `_deletes` while the staging goes
      Catalog(spark, root).deleteWhereLight("t", col("id") === 3L)
    } finally {
      FsOps.factory = conf => new FsOps(conf)
      VanishingFs.victims = Set.empty
    }
    val left = Catalog(spark, root).readRaw("t").select("id").collect()
      .map(_.getLong(0)).toSet
    assert(left.size == 398 && !left(1L) && !left(3L))
  }

  test("Par.jobs: every failure surfaces, the rest suppressed on the first") {
    val a = new RuntimeException("a")
    val b = new IllegalStateException("b")
    var ran = false
    val ex = intercept[Throwable](Par.jobs(() => throw a, () => throw b, () => ran = true))
    assert(ran)
    assert((ex +: ex.getSuppressed.toSeq).toSet == Set[Throwable](a, b))
  }
}

/** Local filesystem whose `listStatus` deletes the listed directory's
  * children named in [[VanishingFs.victims]] right after returning
  * them: the interleaving in which a peer's Spark job commit removes its
  * `_temporary` staging between a tree walk's parent listing and its
  * descent, made deterministic.
  */
class VanishingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def listStatus(
      f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val out = super.listStatus(f)
    out.filter(s => s.isDirectory && VanishingFs.victims(s.getPath.getName))
      .foreach(s => delete(s.getPath, true))
    out
  }
}

object VanishingFs {
  @volatile var victims: Set[String] = Set.empty

  /** `conf` with the `file` scheme bound to a fresh [[VanishingFs]]. */
  def conf(base: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(base)
    c.set("fs.file.impl", classOf[VanishingFs].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
}
