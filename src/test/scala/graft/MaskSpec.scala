package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Catalog, ChDdl}

/** Deletion-vector lightweight deletes (r11 verdict item 1): CH's
  * `DELETE FROM t WHERE p` writes a `_row_exists` mask instead of
  * rewriting parts — [[Catalog.deleteWhereLight]] is the graft analog
  * (a `_deletes` (file, pos) sidecar every read filters away — a
  * broadcast grouped probe under the policy cap, an anti-join beyond).
  * The contract pinned here:
  *
  *   1. the delete leaves every DATA file byte-untouched (mtime+size) —
  *      the lightweight property itself;
  *   2. the masked read equals the heavy-delete twin exactly;
  *   3. masks compose across successive deletes;
  *   4. heavy mutations read through the mask (net state) and their
  *      rewrite materializes the entries they cover, pruning the sidecar
  *      to the still-live partitions;
  *   5. OPTIMIZE folds masks into the parts (sidecar gone, rows physical);
  *   6. on a ReplacingMergeTree, masking the NEWEST version resurfaces
  *      the older one — the mask filters BEFORE the merge, like CH;
  *   7. rows appended after a delete are untouched by old masks.
  */
class MaskSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat(tag: String) =
    Catalog(spark, Files.createTempDirectory(tag).toString)

  /** (relative path -> (bytes, mtime)) of every DATA file of a table. */
  private def dataFiles(cat: Catalog, table: String): Map[String, (Long, Long)] = {
    val root = Paths.get(cat.root, table)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !root.relativize(p).toString.split('/').exists(_.startsWith("_")))
      .map(p => root.relativize(p).toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis))
      .toMap
  }

  private def docs(n: Int) =
    spark.range(n).select(
      col("id"),
      concat(lit("l"), col("id") % 3).as("lang"),
      (col("id") * 7 % 100).as("n"))

  test("lightweight delete leaves data files byte-untouched") {
    val cat = freshCat("mask1")
    cat.create("t", docs(3000).repartition(3, col("lang")), Seq("lang"))
    val before = dataFiles(cat, "t")
    cat.deleteWhereLight("t", col("id") % 4 === 0)
    assert(dataFiles(cat, "t") == before) // THE lightweight property
    assert(cat.hasDeletes("t"))
    assert(cat.readRaw("t").count() == 3000 - 750)
  }

  test("masked read equals the heavy-delete twin") {
    val cat = freshCat("mask2")
    val pred = col("lang") === "l1" && col("n") > 50
    cat.create("light", docs(3000), Seq("lang"))
    cat.create("heavy", docs(3000), Seq("lang"))
    cat.deleteWhereLight("light", pred)
    cat.deleteWhere("heavy", pred)
    val a = cat.readRaw("light").orderBy("id").collect().toSeq
    val b = cat.readRaw("heavy").orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("masks compose across successive deletes") {
    val cat = freshCat("mask3")
    cat.create("t", docs(1000))
    cat.deleteWhereLight("t", col("id") % 2 === 0)
    cat.deleteWhereLight("t", col("id") % 3 === 0)
    // second delete's predicate also matched already-masked rows —
    // duplicates in the sidecar must not double-remove anything
    val ids = cat.readRaw("t").select("id").as[Long].collect().toSet
    assert(ids == (0L until 1000L).filter(i => i % 2 != 0 && i % 3 != 0).toSet)
  }

  test("heavy mutation reads through masks and prunes applied entries") {
    val cat = freshCat("mask4")
    cat.create("t", docs(3000).repartition(3, col("lang")), Seq("lang"))
    cat.deleteWhereLight("t", col("id") % 5 === 0) // all three partitions
    val l1Before = dataFiles(cat, "t").filter(_._1.startsWith("lang=l1"))
    // heavy UPDATE on l2 only: must see the masked net state, rewrite
    // only lang=l2, and drop the sidecar entries it materialized
    cat.updateWhere("t", col("lang") === "l2", Map("n" -> (col("n") + 1000)))
    assert(dataFiles(cat, "t").filter(_._1.startsWith("lang=l1")) == l1Before)
    assert(cat.hasDeletes("t")) // l0/l1 entries still live
    val rows = cat.readRaw("t").collect()
    assert(rows.forall(r => r.getAs[Long]("id") % 5 != 0)) // masks still apply everywhere
    assert(rows.filter(_.getAs[String]("lang") == "l2")
      .forall(_.getAs[Long]("n") >= 1000))
    // the l2 entries were materialized by the rewrite: delete everything
    // still masked, sidecar must empty out and vanish
    cat.updateWhere("t", col("lang").isin("l0", "l1"), Map("n" -> (col("n") + 1000)))
    assert(!cat.hasDeletes("t"))
    assert(cat.readRaw("t").count() == rows.length)
  }

  test("OPTIMIZE materializes masks physically") {
    val cat = freshCat("mask5")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE t (id Int64, lang String, n Int64) ENGINE = MergeTree ORDER BY id PARTITION BY lang")
    docs(900).createOrReplaceTempView("mask5_src")
    x("INSERT INTO t SELECT id, lang, n FROM mask5_src")
    x("DELETE FROM t WHERE id % 3 == 0")
    assert(cat.hasDeletes("t"))
    val expect = ChDdl.execute(cat, "SELECT * FROM t ORDER BY id").collect().toSeq
    x("OPTIMIZE TABLE t FINAL")
    assert(!cat.hasDeletes("t"))
    assert(ChDdl.execute(cat, "SELECT * FROM t ORDER BY id").collect().toSeq == expect)
    assert(expect.size == 600)
  }

  test("replacing merge: masking the newest version resurfaces the older") {
    val cat = freshCat("mask6")
    cat.create("t", Seq((1L, 1L, "old"), (2L, 1L, "keep")).toDF("id", "v", "s"))
    cat.append("t", Seq((1L, 2L, "new")).toDF("id", "v", "s"))
    assert(cat.read("t", Seq("id"), "v").orderBy("id")
      .select("s").as[String].collect().toSeq == Seq("new", "keep"))
    cat.deleteWhereLight("t", col("id") === 1 && col("v") === 2)
    // the masked newest version never enters the merge — CH FINAL + mask
    assert(cat.read("t", Seq("id"), "v").orderBy("id")
      .select("s").as[String].collect().toSeq == Seq("old", "keep"))
  }

  test("lightweight update: data files untouched, values patched at read") {
    val cat = freshCat("patch1")
    cat.create("t", docs(3000).repartition(3, col("lang")), Seq("lang"))
    val before = dataFiles(cat, "t")
    cat.updateWhereLight("t", col("id") % 10 === 0, Map("n" -> (col("n") + 5000)))
    assert(dataFiles(cat, "t") == before) // zero data bytes rewritten
    assert(cat.hasPatches("t"))
    val rows = cat.readRaw("t").collect()
    assert(rows.length == 3000)
    assert(rows.filter(_.getAs[Long]("id") % 10 == 0)
      .forall(_.getAs[Long]("n") >= 5000))
    assert(rows.filter(_.getAs[Long]("id") % 10 != 0)
      .forall(_.getAs[Long]("n") < 100))
  }

  test("lightweight update RHS sees the CURRENT state; batches compose") {
    val cat = freshCat("patch2")
    cat.create("t", docs(100))
    cat.updateWhereLight("t", col("id") < 50, Map("n" -> (col("n") + 1000)))
    // second batch computes over the FIRST patch's values
    cat.updateWhereLight("t", col("n") >= 1000, Map("n" -> (col("n") + 1000)))
    val n7 = cat.readRaw("t").filter(col("id") === 7).select("n").as[Long].head()
    assert(n7 == 7 * 7 % 100 + 2000)
    // a delete's predicate sees the patched value too
    cat.deleteWhereLight("t", col("n") >= 2000)
    assert(cat.readRaw("t").count() == 50)
    // a patch may set NULL for real (hit-gated replacement, not coalesce)
    val cat2 = freshCat("patch2b")
    cat2.create("s", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    cat2.updateWhereLight("s", col("id") === 1,
      Map("s" -> lit(null).cast("string")))
    assert(cat2.readRaw("s").orderBy("id").select("s").collect()
      .map(r => Option(r.getString(0))).toSeq == Seq(None, Some("b")))
  }

  test("heavy mutation folds patches on affected leaves, keeps the rest") {
    val cat = freshCat("patch3")
    cat.create("t", docs(3000).repartition(3, col("lang")), Seq("lang"))
    cat.updateWhereLight("t", col("id") % 5 === 0, Map("n" -> lit(7777L)))
    val expect = cat.readRaw("t").orderBy("id").collect().toSeq
    // heavy delete on l2 only: rewrites l2 WITH patches applied, drops
    // l2's patch entries, keeps l0/l1 patches live
    cat.deleteWhere("t", col("lang") === "l2" && col("id") % 2 === 1)
    assert(cat.hasPatches("t"))
    val after = cat.readRaw("t").orderBy("id").collect().toSeq
    assert(after == expect.filterNot(r =>
      r.getAs[String]("lang") == "l2" && r.getAs[Long]("id") % 2 == 1))
    assert(after.filter(r => r.getAs[Long]("id") % 5 == 0)
      .forall(_.getAs[Long]("n") == 7777L))
    // partition-column assignment is rejected loudly
    intercept[IllegalArgumentException] {
      cat.updateWhereLight("t", col("id") === 1, Map("lang" -> lit("xx")))
    }
  }

  test("ChDdl UPDATE statement: patch route, guards, OPTIMIZE folds") {
    val cat = freshCat("patch4")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE t (id Int64, lang String, n Int64) ENGINE = MergeTree ORDER BY id PARTITION BY lang")
    docs(900).createOrReplaceTempView("patch4_src")
    x("INSERT INTO t SELECT id, lang, n FROM patch4_src")
    val before = dataFiles(cat, "t")
    x("UPDATE t SET n = n + 100000 WHERE id % 3 == 0")
    assert(dataFiles(cat, "t") == before) // statement is lightweight
    assert(cat.hasPatches("t"))
    // system.mutations surfaces the outstanding sidecars while undone
    x("DELETE FROM t WHERE id == 1")
    val mut = ChDdl.execute(cat,
      "SELECT kind, batches, rows FROM system.mutations ORDER BY kind")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(mut == Seq(("delete_mask", 1L, 1L), ("update_patch", 1L, 300L)))
    val expect = ChDdl.execute(cat, "SELECT id, n FROM t ORDER BY id").collect().toSeq
    assert(expect.count(_.getLong(1) >= 100000) == 300)
    x("OPTIMIZE TABLE t FINAL")
    assert(!cat.hasPatches("t"))
    assert(ChDdl.execute(cat, "SELECT id, n FROM t ORDER BY id").collect().toSeq == expect)
    // folded mutations leave system.mutations (the is_done signal)
    assert(ChDdl.execute(cat, "SELECT * FROM system.mutations").count() == 0)
    // key/partition columns are protected at the statement surface
    intercept[IllegalArgumentException] { x("UPDATE t SET lang = 'xx' WHERE id == 1") }
    intercept[IllegalArgumentException] { x("UPDATE t SET id = 0 WHERE id == 1") }
    intercept[IllegalArgumentException] { x("UPDATE t SET n = 0") } // no WHERE
  }

  test("partition copies guard against stale dst-side sidecars") {
    val cat = freshCat("maskpart")
    cat.create("src", docs(300).repartition(3, col("lang")), Seq("lang"))
    cat.create("dst", docs(10).withColumn("lang", lit("l9")), Seq("lang"))
    cat.attachPartitionFrom("dst", "src", "lang", "l1", replace = false)
    assert(cat.readRaw("dst").count() == 110)
    // mask a row of the COPY, then try to copy again: blocked — the
    // second copy re-creates the same file names the stale entry matches
    cat.deleteWhereLight("dst", col("lang") === "l1" && col("id") === 1)
    val e = intercept[IllegalArgumentException] {
      cat.attachPartitionFrom("dst", "src", "lang", "l1", replace = true)
    }
    assert(e.getMessage.contains("OPTIMIZE"))
    // fold, then the replace is safe and NOTHING resurface-deletes
    cat.replaceContents("dst", cat.readRaw("dst"))
    cat.attachPartitionFrom("dst", "src", "lang", "l1", replace = true)
    assert(cat.readRaw("dst").count() == 110) // the masked row is back: a fresh copy
    // dropPartition cleans the sidecar entries under the dropped dir
    cat.deleteWhereLight("dst", col("lang") === "l1" && col("id") === 4)
    cat.dropPartition("dst", "lang", "l1")
    assert(!cat.hasDeletes("dst"))
    assert(cat.readRaw("dst").count() == 10)
  }

  test("KILL MUTATION reverts outstanding lightweight mutations") {
    val cat = freshCat("kill1")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE t (id Int64, n Int64) ENGINE = MergeTree ORDER BY id")
    docs(200).select(col("id"), col("n")).createOrReplaceTempView("kill1_src")
    x("INSERT INTO t SELECT id, n FROM kill1_src")
    val original = ChDdl.execute(cat, "SELECT id, n FROM t ORDER BY id").collect().toSeq
    x("DELETE FROM t WHERE id % 2 == 0")
    x("UPDATE t SET n = 0 WHERE id % 3 == 0")
    assert(ChDdl.execute(cat, "SELECT * FROM system.mutations").count() == 2)
    // the kill: data files were never touched, so everything comes back
    x("KILL MUTATION WHERE database = 'default' AND table = 't'")
    assert(ChDdl.execute(cat, "SELECT id, n FROM t ORDER BY id").collect().toSeq
      == original)
    assert(ChDdl.execute(cat, "SELECT * FROM system.mutations").count() == 0)
    // a FOLDED mutation is not killable (it is gone from system.mutations)
    x("DELETE FROM t WHERE id == 0")
    x("OPTIMIZE TABLE t FINAL")
    x("KILL MUTATION WHERE table = 't'") // no-op
    assert(ChDdl.execute(cat, "SELECT count(*) AS c FROM t").head().getLong(0) == 199)
    intercept[IllegalArgumentException] { x("KILL MUTATION WHERE id = 3") }
  }

  test("sidecar-free reads never materialize row indices (fast path)") {
    val cat = freshCat("mask8")
    cat.create("t", docs(100))
    def plan() = cat.readRaw("t").agg(sum("n")).queryExecution
      .executedPlan.toString
    // clean table: the scan must not carry _metadata row-index generation
    // (referencing it disables the plain vectorized path even post-drop)
    assert(!plan().contains("_metadata") && !plan().contains("row_index"))
    cat.deleteWhereLight("t", col("id") === 1)
    assert(plan().contains("row_index")) // the documented sidecar rent
    cat.replaceContents("t", cat.readRaw("t")) // OPTIMIZE folds the mask
    assert(!plan().contains("row_index")) // and the rent stops
  }

  test("appends after a delete are untouched by old masks") {
    val cat = freshCat("mask7")
    cat.create("t", docs(100))
    cat.deleteWhereLight("t", col("id") >= 0) // mask everything
    assert(cat.readRaw("t").count() == 0)
    cat.append("t", docs(100)) // same ids, NEW files
    assert(cat.readRaw("t").count() == 100)
  }

  // ---- round 13: patch-batch compaction ----------------------------------

  /** Join nodes in the optimized read plan — with no mask present,
    * every one is a patch-batch application join.
    */
  private def readJoinCount(cat: Catalog, table: String): Int =
    cat.readRaw(table).queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.length

  /** Patch-batch APPLICATIONS in the optimized read plan: distinct
    * broadcast batch maps referenced by `patch_probe_value` expressions
    * (the within-policy probe path, r18) plus join nodes (the
    * beyond-policy fallback).
    */
  private def patchApplications(cat: Catalog, table: String): Int = {
    val ids = scala.collection.mutable.Set.empty[Long]
    cat.readRaw(table).queryExecution.optimizedPlan.foreach(node =>
      node.expressions.foreach(_.foreach {
        case p: org.apache.spark.sql.graft.PatchProbeValue => ids += p.bc.id
        case _ => ()
      }))
    ids.size + readJoinCount(cat, table)
  }

  test("compactPatches: K batches fold to ONE, bit-identical, zero data bytes") {
    val cat = freshCat("fold1")
    val base = spark.range(2000).select(
      col("id"),
      concat(lit("l"), col("id") % 3).as("lang"),
      (col("id") * 7 % 100).as("n"),
      concat(lit("s"), col("id") % 5).as("s"))
    cat.create("t", base, Seq("lang"))
    cat.updateWhereLight("t", col("id") % 5 === 0, Map("n" -> (col("n") + 1000)))
    cat.updateWhereLight("t", col("n") >= 1050,
      Map("s" -> lit("redacted"), "n" -> (col("n") - 7)))
    cat.updateWhereLight("t", col("id") % 7 === 0, Map("s" -> lit(null)))
    def batches() = cat.mutations().filter(col("kind") === "update_patch")
      .select("batches").head().getLong(0)
    assert(batches() == 3)
    // K probe applications before the fold — and ZERO joins: within the
    // broadcast policy each batch applies as a codegen probe (r18)
    assert(patchApplications(cat, "t") == 3 && readJoinCount(cat, "t") == 0)
    val before = cat.readRaw("t").orderBy("id").collect().toSeq
    val data = dataFiles(cat, "t")
    cat.compactPatches("t")
    assert(batches() == 1)              // K -> 1
    assert(dataFiles(cat, "t") == data) // the fold never touches data
    val after = cat.readRaw("t").orderBy("id").collect().toSeq
    assert(after == before)             // bit-identical net state
    // presence flags: assigned-NULL (id%7==0 -> s NULL) stayed distinct
    // from not-assigned (s keeps its batch-2-or-base value)
    val byId = after.map(r => r.getAs[Long]("id") -> r.getAs[String]("s")).toMap
    assert(byId(14L) == null && byId(13L) != null)
    // read cost: ONE patch application after the fold (was 3)
    assert(patchApplications(cat, "t") == 1)
    // a batch appended after the fold sequences AFTER it
    cat.updateWhereLight("t", col("id") === 13, Map("s" -> lit("late")))
    val late = cat.readRaw("t").filter(col("id") === 13)
      .head().getAs[String]("s")
    assert(late == "late" && batches() == 2)
  }

  test("retiring patch batches drops their probe memo entries") {
    import graft.operators.TestAccess
    val cat = freshCat("foldmemo")
    cat.create("t", docs(2000).repartition(3, col("lang")), Seq("lang"))
    val tpath = s"${cat.root}/t"
    // committed batch dirs: the ones still holding parquet files
    def live(): Set[String] = {
      val d = Paths.get(tpath, "_patches")
      if (!Files.isDirectory(d)) Set.empty
      else Files.list(d).iterator().asScala.filter(b =>
        b.getFileName.toString.startsWith("seq=") &&
          Files.list(b).iterator().asScala.exists(_.toString.endsWith(".parquet")))
        .map(_.getFileName.toString).toSet
    }
    def memoized(): Set[String] = { cat.readRaw("t"); TestAccess.patchProbeBatches(tpath) }
    (1 to 4).foreach(i =>
      cat.updateWhereLight("t", col("id") % 5 === i, Map("n" -> (col("n") + i))))
    assert(live().size == 4 && memoized() == live())
    cat.compactPatches("t") // K -> 1
    assert(live().size == 1 && memoized() == live())
    cat.updateWhereLight("t", col("id") % 7 === 0, Map("n" -> lit(-1L)))
    assert(live().size == 2 && memoized() == live())
    // a partition-pruned heavy mutation rewrites every batch (foldSidecars)
    cat.deleteWhere("t", col("lang") === "l0")
    assert(live().size == 2 && TestAccess.patchProbeBatches(tpath).subsetOf(live()))
    assert(memoized() == live())
    cat.killMutations("t")
    assert(live().isEmpty && TestAccess.patchProbeBatches(tpath).isEmpty)
  }

  test("patch probe: join-free within policy, bit-identical to the join path") {
    val cat = freshCat("pprobe1")
    val base = spark.range(3000).select(
      col("id"), (col("id") % 100).as("n"),
      concat(lit("s"), col("id") % 7).as("s"))
    cat.create("t", base)
    // a null assignment AND a later batch that re-assigns a column the
    // first one nulled — the probe must reproduce sequential application
    cat.updateWhereLight("t", col("id") % 5 === 0,
      Map("n" -> (col("n") + 1000), "s" -> lit(null)))
    cat.updateWhereLight("t", col("id") % 3 === 0, Map("s" -> lit("x")))
    val probe = cat.readRaw("t")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("patch_probe_value") &&
      !plan.toLowerCase.contains("join"))
    val got = probe.orderBy("id").collect().toSeq
    // the SAME state forced through the join path must read identically
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      spark.conf.set("spark.graft.sidecarBroadcastBytes", "1")
      val joined = cat.readRaw("t")
      assert(joined.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty)
      assert(joined.orderBy("id").collect().toSeq == got)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.graft.sidecarBroadcastBytes")
    }
    // and both match the from-first-principles expectation
    val expect = base
      .withColumn("s", when(col("id") % 5 === 0, lit(null)).otherwise(col("s")))
      .withColumn("s", when(col("id") % 3 === 0, lit("x")).otherwise(col("s")))
      .withColumn("n", when(col("id") % 5 === 0, col("n") + 1000).otherwise(col("n")))
      .select("id", "n", "s")
    assert(got == expect.orderBy("id").collect().toSeq)
  }

  test("sidecar joins honor autoBroadcastJoinThreshold (no forced hint)") {
    val cat = freshCat("thr1")
    cat.create("t", docs(2000))
    cat.deleteWhereLight("t", col("id") % 3 === 0)
    cat.updateWhereLight("t", col("id") % 4 === 0, Map("n" -> lit(0)))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcasting disabled: the forced hint must not bypass the knob
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = cat.readRaw("t").queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"))
      assert(cat.readRaw("t").count() == 2000 - 667) // results unchanged
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      // tiny sidecars back within policy: mask AND patch apply join-free
      // as broadcast probes (r18 — the patch side no longer pays a
      // BroadcastExchange per batch per action)
      val plan2 = cat.readRaw("t").queryExecution.executedPlan.toString
      assert(!plan2.toLowerCase.contains("join") &&
        plan2.contains("mask_probe_live") &&
        plan2.contains("patch_probe_value"))
      // over the graft cap (forced low): shuffle_hash, never a sort of
      // the fact side, never an unbounded broadcast
      spark.conf.set("spark.graft.sidecarBroadcastBytes", "1")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val plan3 = cat.readRaw("t").queryExecution.executedPlan.toString
      assert(!plan3.contains("BroadcastHashJoin") &&
        !plan3.contains("SortMergeJoin") &&
        plan3.contains("ShuffledHashJoin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.graft.sidecarBroadcastBytes")
    }
  }

  test("masked read prunes the sidecar tax to DIRTY files only") {
    val cat = freshCat("split1")
    // 30 day-partitions: enough files to clear SplitReadMinFiles
    val base = spark.range(30000).select(
      col("id"),
      concat(lit("d"), col("id") % 30).as("day"),
      (col("id") * 7 % 100).as("n"))
    cat.create("t", base.repartition(30, col("day")), Seq("day"))
    cat.create("twin", base.repartition(30, col("day")), Seq("day"))
    val pred = col("day") === "d7" && col("n") > 50
    cat.deleteWhereLight("t", pred)
    cat.deleteWhere("twin", pred) // heavy twin = ground truth
    // identical results through the split read
    assert(cat.readRaw("t").orderBy("id").collect().toSeq ==
      cat.readRaw("twin").orderBy("id").collect().toSeq)
    // plan shape: a union of (dirty scan + mask probe) with a CLEAN scan
    // that never materializes row indices and covers the other 29 dirs
    val plan = cat.readRaw("t").queryExecution.executedPlan.toString
    assert(plan.contains("Union"))
    val scans = plan.split("FileScan parquet").toSeq.tail
    // clean branch: data schema, no row-identity generation
    assert(scans.exists(s =>
      s.contains("n:bigint") && !s.contains("row_index")))
    // dirty branch: tagged
    assert(scans.exists(s =>
      s.contains("n:bigint") && s.contains("row_index")))
    // a patch composes on the same split path
    cat.updateWhereLight("t", col("day") === "d7" && col("n") <= 10,
      Map("n" -> lit(-1)))
    cat.updateWhere("twin", col("day") === "d7" && col("n") <= 10,
      Map("n" -> lit(-1)))
    assert(cat.readRaw("t").orderBy("id").collect().toSeq ==
      cat.readRaw("twin").orderBy("id").collect().toSeq)
    // small tables stay on the whole-table tag (no extra planning job)
    val small = freshCat("split2")
    small.create("s", docs(100))
    small.deleteWhereLight("s", col("id") === 1)
    val sp = small.readRaw("s").queryExecution.executedPlan.toString
    assert(!sp.contains("Union") && small.readRaw("s").count() == 99)
  }

  test("compactMask coalesces and dedups the mask sidecar, zero data bytes") {
    val cat = freshCat("mfold1")
    cat.create("t", docs(2000))
    // overlapping predicates (%4 ⊂ %2) — yet entries stay distinct by
    // construction: each delete's FIND scan reads through the existing
    // masks, so an already-masked row never matches again
    cat.deleteWhereLight("t", col("id") % 2 === 0)
    (1 to 5).foreach(i => cat.deleteWhereLight("t", col("id") % 400 === i))
    cat.deleteWhereLight("t", col("id") % 4 === 0)
    def maskFiles() = dataFilesUnder(cat, "t/_deletes")
    def maskEntries() = spark.read.parquet(s"${cat.root}/t/_deletes").count()
    assert(maskFiles().size > 1)
    val entries = maskEntries()
    val expected = cat.readRaw("t").orderBy("id").collect().toSeq
    val data = dataFiles(cat, "t")
    cat.compactMask("t")
    assert(maskFiles().size == 1)          // one file
    assert(maskEntries() == entries)       // a set already — fold keeps it
    assert(dataFiles(cat, "t") == data)    // zero data bytes
    assert(cat.readRaw("t").orderBy("id").collect().toSeq == expected)
    // masks keep composing after the fold
    cat.deleteWhereLight("t", col("id") === 1)
    assert(cat.readRaw("t").filter(col("id") === 1).count() == 0)
  }

  /** Parquet files under an arbitrary table-relative dir. */
  private def dataFilesUnder(cat: Catalog, rel: String): Seq[String] = {
    val root = Paths.get(cat.root, rel)
    if (!Files.isDirectory(root)) Nil
    else {
      val w = Files.walk(root)
      try w.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toSeq
      finally w.close()
    }
  }

  test("APPLY DELETED MASK: O(dirty leaves), partial scope, empty-leaf drop") {
    val cat = freshCat("apply1")
    cat.create("t", docs(3000), Seq("lang")) // lang in {l0, l1, l2}
    cat.deleteWhereLight("t", col("lang") === "l1" && col("n") > 50)
    cat.deleteWhereLight("t", col("lang") === "l2") // EVERY l2 row masked
    val expected = cat.readRaw("t").orderBy("id").collect().toSeq
    val l0Before = dataFiles(cat, "t").filter(_._1.startsWith("lang=l0"))
    // partial scope: only l1 materializes; l2's mask entries stay
    cat.applyDeletedMask("t", Seq("lang" -> "l1"))
    assert(cat.hasDeletes("t")) // l2 entries outstanding
    assert(cat.readRaw("t").orderBy("id").collect().toSeq == expected)
    // full apply: l2 had zero survivors -> its directory goes outright
    cat.applyDeletedMask("t")
    assert(!cat.hasDeletes("t"))
    assert(cat.readRaw("t").orderBy("id").collect().toSeq == expected)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(cat.root, "t", "lang=l2")))
    // the untouched partition never rewrote: same bytes, same mtimes
    assert(dataFiles(cat, "t").filter(_._1.startsWith("lang=l0")) == l0Before)
    // statement surface: scoped lightweight delete + APPLY via ChDdl
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE s (id Int64, day String, v Int64) " +
      "ENGINE = MergeTree ORDER BY id PARTITION BY day")
    spark.range(60).selectExpr("id", "concat('d', id % 3) AS day", "id AS v")
      .createOrReplaceTempView("apply_src")
    x("INSERT INTO s SELECT id, day, v FROM apply_src")
    x("DELETE FROM s IN PARTITION 'd1' WHERE v % 2 == 0") // scoped mask
    assert(ChDdl.execute(cat, "SELECT count(*) AS c FROM s")
      .head().getLong(0) == 50)
    x("ALTER TABLE s APPLY DELETED MASK IN PARTITION 'd1'")
    assert(!cat.hasDeletes("s"))
    assert(ChDdl.execute(cat, "SELECT count(*) AS c FROM s")
      .head().getLong(0) == 50)
  }

  // ---- round 13: composite-leaf partition ops ----------------------------

  test("composite-leaf partition ops: detach/attach/move at depth, guards") {
    val cat = freshCat("leaf1")
    val base = spark.range(1200).select(
      col("id"),
      concat(lit("l"), col("id") % 3).as("lang"),
      (col("id") % 2).as("b"),
      (col("id") * 7 % 100).as("n"))
    cat.create("t", base, Seq("lang", "b"))
    val leafRows = cat.readRaw("t")
      .filter(col("lang") === "l1" && col("b") === 0).count()
    assert(leafRows > 0)
    // leaf detach: exactly that (lang, b) cell disappears
    cat.detachPartition("t", Seq("lang" -> "l1", "b" -> "0"))
    assert(cat.readRaw("t")
      .filter(col("lang") === "l1" && col("b") === 0).count() == 0)
    assert(cat.detachedParts().collect()
      .exists(r => r.getString(1) == "lang=l1,b=0"))
    cat.attachPartition("t", Seq("lang" -> "l1", "b" -> "0"))
    assert(cat.readRaw("t").count() == 1200)
    // leaf move into a table that does not exist yet: the directory
    // changes tables, hive layout intact in the destination
    cat.movePartitionTo("t", "u", Seq("lang" -> "l2", "b" -> "1"))
    assert(cat.readRaw("u").count() +
      cat.readRaw("t").count() == 1200)
    assert(cat.readRaw("u").columns.toSet == cat.readRaw("t").columns.toSet)
    // sidecar guard holds at leaf depth: a mask inside the addressed
    // leaf blocks the op, a sibling leaf stays free
    cat.deleteWhereLight("t",
      col("lang") === "l0" && col("b") === 1 && col("n") > 50)
    intercept[IllegalArgumentException] {
      cat.detachPartition("t", Seq("lang" -> "l0", "b" -> "1"))
    }
    cat.detachPartition("t", Seq("lang" -> "l0", "b" -> "0"))
    cat.attachPartition("t", Seq("lang" -> "l0", "b" -> "0"))
    // prefix addressing: a first-level value still moves the whole subtree
    cat.detachPartition("t", Seq("lang" -> "l1"))
    assert(cat.readRaw("t").filter(col("lang") === "l1").count() == 0)
    cat.attachPartition("t", Seq("lang" -> "l1"))
    // address must follow the on-disk layout order
    intercept[IllegalArgumentException] {
      cat.detachPartition("t", Seq("b" -> "0"))
    }
    // detaching into an OCCUPIED _detached slot is loud — Hadoop rename
    // would silently nest into the existing dir (two detach generations
    // must never merge)
    cat.detachPartition("t", Seq("lang" -> "l1"))
    cat.append("t", base.filter(col("lang") === "l1"), Seq("lang", "b"))
    intercept[IllegalArgumentException] {
      cat.detachPartition("t", Seq("lang" -> "l1"))
    }
    cat.dropPartition("t", Seq("lang" -> "l1"))
    cat.attachPartition("t", Seq("lang" -> "l1")) // original comes back clean
    assert(cat.readRaw("t").filter(col("lang") === "l1").count() > 0)
  }

  // ---- round 14: swap survival, URI carry, fail-closed reconciliation ----

  test("FREEZE backups and detached partitions survive full-table rewrites") {
    val cat = freshCat("survive1")
    cat.create("t", docs(900), Seq("lang")) // lang in {l0, l1, l2}
    val name = cat.freeze("t", Seq("lang" -> "l1"), Some("b1"))
    assert(name == "b1")
    cat.detachPartition("t", Seq("lang" -> "l2"))
    val expectNoL2 = cat.readRaw("t").orderBy("id").collect().toSeq
    // the full rewrite-and-swap family, each of which r13 destroyed the
    // backup/parked subtrees with: OPTIMIZE (replaceContents is its
    // engine route) and DEDUPLICATE
    cat.replaceContents("t", cat.readRaw("t"))
    cat.dedupMerge("t", Nil)
    assert(cat.shadows().collect().exists(r =>
      r.getString(0) == "t" && r.getString(1) == "b1")) // backup stands
    assert(cat.detachedParts().collect().exists(_.getString(1) == "lang=l2"))
    assert(cat.readRaw("t").orderBy("id").collect().toSeq == expectNoL2)
    // the parked partition comes back intact after all three rewrites
    cat.attachPartition("t", Seq("lang" -> "l2"))
    assert(cat.readRaw("t").count() == 900)
    // the snapshot is still restorable: corrupt l1, restore from b1
    cat.deleteWhere("t", col("lang") === "l1")
    cat.restoreFrozen("t", "b1", Seq("lang" -> "l1"))
    cat.attachPartition("t", Seq("lang" -> "l1"))
    assert(cat.readRaw("t").count() == 900)
    assert(cat.unfreeze("t", "b1"))
  }

  test("split read fails CLOSED when any sidecar entry matches no file") {
    val cat = freshCat("recon1")
    val base = spark.range(30000).select(
      col("id"),
      concat(lit("d"), col("id") % 30).as("day"),
      (col("id") * 7 % 100).as("n"))
    cat.create("t", base.repartition(30, col("day")), Seq("day"))
    cat.deleteWhereLight("t", col("day") === "d7" && col("n") > 50)
    val expected = cat.readRaw("t").orderBy("id").collect().toSeq
    assert(cat.readRaw("t").queryExecution.executedPlan.toString
      .contains("Union")) // all entries reconcile: split path
    // an entry whose URI reconciles with NO listed file: stale or a
    // normalization failure — indistinguishable, and in the failure
    // case its real file would scan on the CLEAN branch, resurfacing
    // deleted rows. The read must give up the split, not guess.
    // (The direct write bypasses the Catalog, so under the manifest
    // contract it is an invisible orphan until refreshManifest — the
    // documented adoption hatch — commits it.)
    Seq(("file:/nowhere/phantom.parquet", 0L)).toDF("file", "pos")
      .write.mode("append").parquet(s"${cat.root}/t/_deletes")
    cat.refreshManifest("t")
    val plan = cat.readRaw("t").queryExecution.executedPlan.toString
    assert(!plan.contains("Union")) // whole-table tagged read
    assert(cat.readRaw("t").orderBy("id").collect().toSeq == expected)
  }

  test("split-read branches carry the table's filesystem scheme") {
    val cat = freshCat("scheme1")
    val base = spark.range(20000).select(
      col("id"),
      concat(lit("d"), col("id") % 20).as("day"),
      (col("id") * 7 % 100).as("n"))
    cat.create("t", base.repartition(20, col("day")), Seq("day"))
    val gone = base.filter(col("day") === "d3" && col("n") > 50).count()
    cat.deleteWhereLight("t", col("day") === "d3" && col("n") > 50)
    val df = cat.readRaw("t")
    assert(df.queryExecution.executedPlan.toString.contains("Union"))
    // the branch reads were planned from the listing's own URIs: every
    // input file resolves with the table's scheme, independent of
    // fs.defaultFS (locally that is file: — the assertable half of the
    // object-store posture)
    val inputs = df.inputFiles.toSeq
    assert(inputs.nonEmpty && inputs.forall(_.startsWith("file:")))
    assert(df.count() == 20000 - gone)
  }

  test("applyDeletedMask never drops a leaf it cannot re-address") {
    val cat = freshCat("escape1")
    // partition values with non-trivial directory encodings: ':' is
    // stored escaped (k=a%3Ab), so the on-disk name does NOT round-trip
    // through col === lit(dirName) — r13 inferred "zero survivors" from
    // exactly that mismatch and deleted leaves with live rows
    val base = spark.range(400).select(
      col("id"), concat(lit("v:"), col("id") % 2).as("k"),
      (col("id") % 100).as("n"))
    cat.create("t", base, Seq("k"))
    cat.deleteWhereLight("t", col("n") < 20) // SOME rows of each leaf
    val expected = cat.readRaw("t").orderBy("id").collect().toSeq
    assert(expected.size == 400 - 80)
    cat.applyDeletedMask("t") // must take the full-rewrite fallback
    assert(!cat.hasDeletes("t"))
    assert(cat.readRaw("t").orderBy("id").collect().toSeq == expected)
  }

  test("sidecar file-list planning job caches across reads, revalidates on mutation") {
    val cat = freshCat("cache1")
    val base = spark.range(20000).select(
      col("id"),
      concat(lit("d"), col("id") % 20).as("day"),
      (col("id") * 7 % 100).as("n"))
    cat.create("t", base.repartition(20, col("day")), Seq("day"))
    cat.deleteWhereLight("t", col("day") === "d5" && col("n") > 50)
    val tp = s"${cat.root}/t"
    val c1 = cat.readRaw("t").count()
    // the read populated the memo...
    val ref = graft.operators.TestAccess.sidecarUriCacheRef(tp)
    assert(ref.nonEmpty)
    // ...and a second read HITS it: a miss `put`s a fresh tuple, so
    // referential identity across the reads proves the planning job ran
    // once (the serving shape: mutations are rare, reads are not)
    assert(cat.readRaw("t").count() == c1)
    assert(graft.operators.TestAccess.sidecarUriCacheRef(tp).exists(
      _ eq ref.get))
    // a mutation leaves the entry in place (r18 — eager eviction forced
    // a re-fold job per statement even when the sidecars were
    // untouched): the FS-listing signature rejects the stale tuple and
    // the next read `put`s a FRESH one, seeing net state
    cat.deleteWhereLight("t", col("day") === "d6" && col("n") > 50)
    val c2 = cat.readRaw("t").count()
    assert(c2 < c1)
    assert(graft.operators.TestAccess.sidecarUriCacheRef(tp).exists(
      r => !(r eq ref.get)))
    // external writer: duplicate a mask file under a new name — same
    // URI set, CHANGED file set. Under the manifest contract the copy
    // is invisible until refreshManifest adopts it; the adoption bumps
    // the manifest epoch, so the stale tuple must not serve — the next
    // read recomputes (fresh tuple), result unchanged since the
    // entries are identical.
    val ref2 = graft.operators.TestAccess.sidecarUriCacheRef(tp).get
    val maskFile = Files.walk(Paths.get(tp, "_deletes")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(maskFile, maskFile.resolveSibling("copy-" +
      maskFile.getFileName.toString))
    cat.refreshManifest("t")
    assert(cat.readRaw("t").count() == c2)
    assert(graft.operators.TestAccess.sidecarUriCacheRef(tp).exists(
      r => !(r eq ref2)))
    // OPTIMIZE folds everything: sidecars gone — a clean read never
    // consults the memo (the stale entry is hygiene-evicted only by a
    // table re-create), and serves exact
    cat.replaceContents("t", cat.readRaw("t"))
    assert(!cat.hasDeletes("t"))
    assert(cat.readRaw("t").count() == c2)
  }

  test("grouped mask probe: join-free under the cap, exact vs heavy twin") {
    val cat = freshCat("probe1")
    cat.create("light", docs(5000))
    cat.create("heavy", docs(5000))
    val pred = col("id") % 3 === 0 || col("n") > 80
    cat.deleteWhereLight("light", pred)
    cat.deleteWhere("heavy", pred)
    // under the broadcast policy the mask applies as a broadcast grouped
    // probe (binary search over per-file sorted positions), NOT a join:
    // the fact side never builds or shuffles anything
    val df = cat.readRaw("light")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"))
    // the gate is the codegen expression, not a Scala UDF (WideProbeSoak:
    // the UDF row gate read at 2.36x the clean floor on narrow
    // aggregates vs 1.62x for the expression), and it sits inside a
    // WholeStageCodegen span (the starred Filter line)
    assert(plan.contains("mask_probe_live") && !plan.contains("UDF("))
    df.count() // AQE finalizes the physical plan on execution
    val fin = df.queryExecution.executedPlan.toString
    val gateLine = fin.split('\n').find(_.contains("mask_probe_live"))
    assert(gateLine.exists(_.trim.matches("""^[:+\- ]*\*\(\d+\).*""")), fin)
    assert(df.orderBy("id").collect().toSeq ==
      cat.readRaw("heavy").orderBy("id").collect().toSeq)
    // the grouped representation itself: every file's positions sorted
    // (the binary-search contract), total entries = masked rows
    val m = graft.operators.TestAccess.maskProbeEntry(s"${cat.root}/light").get
    assert(m.values.forall(a => a.sameElements(a.sorted)))
    assert(m.values.map(_.length.toLong).sum == 5000 - cat.readRaw("light").count())
    // probe composes across further deletes and with patches
    cat.deleteWhereLight("light", col("id") === 4)
    cat.deleteWhere("heavy", col("id") === 4)
    cat.updateWhereLight("light", col("id") === 7, Map("n" -> lit(-1)))
    cat.updateWhere("heavy", col("id") === 7, Map("n" -> lit(-1)))
    assert(cat.readRaw("light").orderBy("id").collect().toSeq ==
      cat.readRaw("heavy").orderBy("id").collect().toSeq)
  }

  test("grouped mask probe honors the broadcast knobs and caches per epoch") {
    val cat = freshCat("probe2")
    cat.create("t", docs(4000))
    cat.deleteWhereLight("t", col("id") % 5 === 0)
    val tp = s"${cat.root}/t"
    val expect = cat.readRaw("t").orderBy("id").collect().toSeq
    assert(expect.size == 3200)
    // cache: one fold per mask epoch — the second read reuses the same
    // broadcast tuple (a miss would put a fresh one)
    val ref = graft.operators.TestAccess.maskProbeRef(tp)
    assert(ref.nonEmpty)
    assert(cat.readRaw("t").orderBy("id").collect().toSeq == expect)
    assert(graft.operators.TestAccess.maskProbeRef(tp).exists(_ eq ref.get))
    // a further delete: the stale tuple stays (r18 — no eager eviction)
    // but its listing signature no longer matches, so the next read
    // folds the new epoch into a FRESH tuple
    cat.deleteWhereLight("t", col("id") === 1)
    assert(cat.readRaw("t").count() == 3199)
    assert(graft.operators.TestAccess.maskProbeRef(tp).exists(
      r => !(r eq ref.get)))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcasting disabled: the probe must not smuggle a broadcast
      // past the knob — the mask falls back to the un-hinted anti-join
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = cat.readRaw("t").queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("join") &&
        !plan.contains("BroadcastHashJoin"))
      assert(cat.readRaw("t").count() == 3199)
      // over the cap: shuffle_hash anti-join, never a fact-side sort
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      spark.conf.set("spark.graft.sidecarBroadcastBytes", "1")
      val plan2 = cat.readRaw("t").queryExecution.executedPlan.toString
      assert(plan2.contains("ShuffledHashJoin") &&
        !plan2.contains("SortMergeJoin"))
      assert(cat.readRaw("t").count() == 3199)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.graft.sidecarBroadcastBytes")
    }
  }

  test("heavy rewrite prunes sidecar entries: split read STAYS available") {
    // the fail-closed rule (any unreconciled entry -> whole-table tagged
    // read) leans on rewrites pruning the entries they materialize; if a
    // stale entry survived, every later read would silently degrade to
    // the tagged read — correct but O(table). Pin the interplay: after a
    // heavy mutation ON TOP of lightweight ones, the remaining entries
    // all reconcile and the read still takes the split plan.
    val cat = freshCat("prune1")
    val base = spark.range(20000).select(
      col("id"),
      concat(lit("d"), col("id") % 20).as("day"),
      (col("id") * 7 % 100).as("n"))
    cat.create("t", base.repartition(20, col("day")), Seq("day"))
    cat.deleteWhereLight("t", col("day") === "d3" && col("n") > 50)
    cat.updateWhereLight("t", col("day") === "d5" && col("n") < 40,
      Map("n" -> lit(-1)))
    // heavy mutation rewrites d3 and d5 (and only them): the mask and
    // patch entries under both leaves materialize and must be pruned.
    // (n = id*7 % 100 is constant-parity within a day — predicates here
    // are chosen to MATCH; a no-match mutation early-returns untouched.)
    cat.deleteWhere("t", (col("day") === "d3" || col("day") === "d5") &&
      col("n") < 45)
    // d3/d5 fully materialized: no outstanding entries -> CLEAN plan
    assert(!cat.hasDeletes("t") && !cat.hasPatches("t"))
    val plan0 = cat.readRaw("t").queryExecution.executedPlan.toString
    assert(!plan0.contains("Union") && !plan0.toLowerCase.contains("join"))
    // new lightweight delete on d7: the split must come back (one dirty
    // leaf), proving no stale d3/d5 entry is poisoning reconciliation
    cat.deleteWhereLight("t", col("day") === "d7" && col("n") > 50)
    val df = cat.readRaw("t")
    assert(df.queryExecution.executedPlan.toString.contains("Union"))
    // and the net state is exact vs a from-scratch recompute
    val expect = base
      .filter(!(col("day") === "d3" && col("n") > 50))
      .withColumn("n", when(col("day") === "d5" && col("n") < 40, -1)
        .otherwise(col("n")))
      .filter(!((col("day") === "d3" || col("day") === "d5") &&
        col("n") < 45))
      .filter(!(col("day") === "d7" && col("n") > 50))
    assert(df.select("id", "day", "n").orderBy("id").collect().toSeq ==
      expect.select("id", "day", "n").orderBy("id").collect().toSeq)
  }

  test("split read on an UNPARTITIONED table: pre-listed branches, exact") {
    // the branch reads must work without any partition directories —
    // PreListedScan's partition inference yields an empty spec and the
    // union still reconciles
    val cat = freshCat("flat1")
    val base = spark.range(30000).select(
      col("id"), (col("id") * 7 % 100).as("n"))
    // range-partitioned files so a predicate can dirty a SUBSET
    cat.create("t", base.repartitionByRange(24, col("id")))
    cat.create("twin", base.repartitionByRange(24, col("id")))
    val pred = col("id") < 1000 && col("n") > 50
    cat.deleteWhereLight("t", pred)
    cat.deleteWhere("twin", pred)
    val df = cat.readRaw("t")
    assert(df.queryExecution.executedPlan.toString.contains("Union"))
    assert(df.orderBy("id").collect().toSeq ==
      cat.readRaw("twin").orderBy("id").collect().toSeq)
    // patches compose on the flat split path too
    cat.updateWhereLight("t", col("id") % 1000 === 3, Map("n" -> lit(-1)))
    cat.updateWhere("twin", col("id") % 1000 === 3, Map("n" -> lit(-1)))
    assert(cat.readRaw("t").orderBy("id").collect().toSeq ==
      cat.readRaw("twin").orderBy("id").collect().toSeq)
  }

  test("split read falls back when branch partition-type inference differs") {
    // partition VALUES are mixed (day=1 .. day=14 next to day=x15 ..):
    // a dirty branch that happens to cover only numeric dirs infers
    // day:int while the clean branch (mixed) infers day:string — the
    // branches must not union; the guard falls back to the whole-table
    // tagged read and results stay exact
    val cat = freshCat("mixed1")
    val base = spark.range(20000).select(
      col("id"),
      when(col("id") % 20 < 15, (col("id") % 20).cast("string"))
        .otherwise(concat(lit("x"), col("id") % 20)).as("day"),
      (col("id") * 7 % 100).as("n"))
    cat.create("t", base.repartition(20, col("day")), Seq("day"))
    cat.create("twin", base.repartition(20, col("day")), Seq("day"))
    val pred = col("day") === "3" && col("n") > 50 // numeric-dir-only mask
    cat.deleteWhereLight("t", pred)
    cat.deleteWhere("twin", pred)
    val df = cat.readRaw("t")
    assert(!df.queryExecution.executedPlan.toString.contains("Union"))
    assert(df.select("id", "day", "n").orderBy("id").collect().toSeq ==
      cat.readRaw("twin").select("id", "day", "n").orderBy("id")
        .collect().toSeq)
  }

  test("dense masks: entry-count gate forces shuffle_hash, never a collect") {
    // the byte gates are blind to compressibility — dense position runs
    // (a partition-scoped delete masks 0..N of each file) delta-encode
    // ~100x, so a tiny parquet mask can carry millions of entries that
    // the probe would COLLECT to the driver and a broadcast join would
    // build into an executor hash relation. Past the entry ceiling both
    // paths must yield to the fully-distributed shuffle_hash anti-join.
    val cat = freshCat("dense1")
    cat.create("t", docs(4000))
    cat.create("twin", docs(4000))
    val pred = col("id") < 2000 // dense run: positions 0..1999
    cat.deleteWhereLight("t", pred)
    cat.deleteWhere("twin", pred)
    val expect = cat.readRaw("twin").orderBy("id").collect().toSeq
    // under the default ceiling: grouped probe (join-free)
    assert(!cat.readRaw("t").queryExecution.executedPlan.toString
      .toLowerCase.contains("join"))
    try {
      spark.conf.set("spark.graft.maskProbeMaxEntries", "100")
      val plan = cat.readRaw("t").queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin") &&
        !plan.contains("BroadcastHashJoin") &&
        !plan.contains("SortMergeJoin"))
      assert(cat.readRaw("t").orderBy("id").collect().toSeq == expect)
    } finally spark.conf.unset("spark.graft.maskProbeMaxEntries")
    assert(cat.readRaw("t").orderBy("id").collect().toSeq == expect)
  }

  test("FsOps path discipline: listings qualified, isDataFile relativizes") {
    val cat = freshCat("fsq1")
    cat.create("t", docs(100), Seq("lang"))
    cat.deleteWhereLight("t", col("id") === 1)
    val fs = graft.operators.TestAccess.fsOps(cat)
    val tableDir = s"${cat.root}/t" // scheme-less, as callers hold it
    val listed = fs.listFiles(tableDir).map(_._1)
    assert(listed.nonEmpty && listed.forall(_.startsWith("file:")))
    // the data-vs-sidecar rule must hold across FORM differences:
    // qualified listing entries against the scheme-less table dir
    val (side, data) = listed.filter(_.endsWith(".parquet"))
      .partition(_.contains("/_deletes/"))
    assert(data.nonEmpty && data.forall(fs.isDataFile(tableDir, _)))
    assert(side.nonEmpty && side.forall(!fs.isDataFile(tableDir, _)))
    // a path OUTSIDE the table dir is a caller bug, not "data": loud
    intercept[IllegalArgumentException] {
      fs.isDataFile(tableDir, "file:/somewhere/else/x.parquet")
    }
    // relativeTo strips across forms and refuses non-descendants
    assert(fs.relativeTo(tableDir, data.head)
      .exists(r => !r.startsWith("/") && r.endsWith(".parquet")))
    assert(fs.relativeTo(tableDir, "file:/somewhere/else/x.parquet").isEmpty)
  }

  test("malformed _patches/seq= dir fails loud on BOTH read paths") {
    // r14 ADVICE: snap used to silently DROP a `seq=<non-numeric>` batch
    // dir (serving rows without its patches) while patchBatches threw on
    // the same on-disk state — identical corruption must have one fail
    // mode, and it is loud (unreachable from engine writes, so any
    // occurrence is external damage worth surfacing, not masking)
    val cat = freshCat("badseq1")
    cat.create("t", docs(30000).repartition(17))
    cat.updateWhereLight("t", col("id") < 10, Map("n" -> lit(-1)))
    // the corruption is ON-DISK state, so pin the LISTING read path:
    // drop the manifest (the tree is listing-consistent — no flip
    // rewrite ran) and the table reads as a legacy one
    graft.operators.TestAccess.fsOps(cat).rmTree(s"${cat.root}/t/_manifest")
    val bogus = Paths.get(cat.root, "t", "_patches", "seq=bogus")
    Files.createDirectories(bogus)
    // a file inside, so the recursive listing actually reaches the dir
    Files.write(bogus.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    // snap path (table is over SplitReadMinFiles, so readRaw -> snap)
    intercept[IllegalStateException] { cat.readRaw("t") }
    // hasPatches answers from the same snap construction since the
    // committed-set scoping (r17) — the r14 "one fail mode" rule is
    // now literal: both paths ARE one code path
    intercept[IllegalStateException] { cat.hasPatches("t") }
  }
}
