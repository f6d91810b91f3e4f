package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.MvccCatalog

class MvccCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat(name: String): MvccCatalog =
    MvccCatalog(spark, s"${TestSpark.tmpRoot}/mvcc_spec_$name")

  private def dataFiles(cat: MvccCatalog, table: String): Int =
    new java.io.File(s"${cat.root}/$table/data").listFiles()
      .count(_.getName.endsWith(".parquet"))

  test("tombstone delete removes rows WITHOUT rewriting data files") {
    val cat = freshCat("tomb")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    cat.create("t", df, version = 1)
    val before = dataFiles(cat, "t")
    cat.deleteWhere("t", col("s") === "b", Seq("id"), version = 2)
    assert(dataFiles(cat, "t") === before) // data untouched
    assert(cat.read("t", Seq("id")).select("id").as[Long].collect().sorted
      === Array(1L, 3L))
  }

  test("time travel: snapshot before the delete still sees the row") {
    val cat = freshCat("tt")
    cat.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), version = 1)
    cat.deleteWhere("t", col("id") === 2, Seq("id"), version = 2)
    assert(cat.read("t", Seq("id"), asOf = Some(1)).count() === 2)
    assert(cat.read("t", Seq("id")).count() === 1)
  }

  test("re-insert after delete is visible (tombstone only kills older versions)") {
    val cat = freshCat("reins")
    cat.create("t", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), version = 1)
    cat.deleteWhere("t", col("id") === 2, Seq("id"), version = 2)
    cat.append("t", Seq((2L, "b-again")).toDF("id", "s"), version = 3)
    val r = cat.read("t", Seq("id")).orderBy("id")
      .select("id", "s").as[(Long, String)].collect()
    assert(r === Array((1L, "a"), (2L, "b-again")))
  }

  test("LWW upsert + currentVersion + compact preserves the snapshot") {
    val cat = freshCat("lww")
    cat.create("t", Seq((1L, "v1"), (2L, "v1")).toDF("id", "s"), version = 1)
    cat.append("t", Seq((1L, "v2")).toDF("id", "s"), version = 2)
    cat.deleteWhere("t", col("id") === 2, Seq("id"), version = 3)
    assert(cat.currentVersion("t") === 3)
    val before = cat.read("t", Seq("id")).select("id", "s").as[(Long, String)]
      .collect().sortBy(_._1)
    cat.compact("t", Seq("id"), version = 4)
    val after = cat.read("t", Seq("id")).select("id", "s").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(before === after)
    assert(before === Array((1L, "v2")))
    // history is gone after compact: asOf(1) now sees the compacted state
    assert(cat.read("t", Seq("id"), asOf = Some(1)).count() === 0)
  }

  test("MVCC -> serving lifecycle: online tombstones, then rebuild-from-snapshot needs none") {
    import graft.operators.{PackedScan, ServingCache}
    import graft.functions.HashEmbedder
    val cat = freshCat("serve")
    val e = Tables.embeddings(spark, TestSpark.sf)
    cat.create("vecs", e.select(col("vec_id"), col("embedding")), version = 1)
    assert(cat.deletedKeys("vecs").isEmpty) // no deletes yet
    val key = "mvcc-life#" + TestSpark.sf
    val s1 = PackedScan.buildCached(cat.read("vecs", Seq("vec_id")),
      key, "vec_id", "embedding")
    val q = HashEmbedder.embed("lifecycle probe")
    val before = s1.topK(q, 10).toSeq
    // ONLINE path: DELETE WHERE at v2; the served structure applies
    // exactly the catalog's tombstone keys — no rebuild
    cat.deleteWhere("vecs", col("vec_id") % 4 === 1, Seq("vec_id"), version = 2)
    val ids = cat.deletedKeys("vecs").get.select("vec_id").as[Long].collect()
    assert(ids.nonEmpty && ids.forall(_ % 4 == 1))
    s1.delete(ids)
    val after = s1.topK(q, 10).toSeq
    assert(after != before)
    val ref = graft.operators.VectorStore(
        cat.read("vecs", Seq("vec_id")), "embedding", Seq("vec_id"))
      .searchByVector(q, 10)
      .select(col("vec_id"), col("dist")).as[(Long, Double)].collect().toSeq
    assert(after == ref, "online tombstoned serving diverged from the current snapshot")
    // REBUILD path: evict the cache key, rebuild from the CURRENT
    // snapshot — the deleted rows are gone at the source, so the rebuilt
    // structure needs zero tombstones and answers identically
    ServingCache.evict(s"packed#$key#vec_id#embedding")
    val s2 = PackedScan.buildCached(cat.read("vecs", Seq("vec_id")),
      key, "vec_id", "embedding")
    assert(s2.deletedCount == 0)
    assert(s2.topK(q, 10).toSeq == after)
    ServingCache.evict(s"packed#$key#vec_id#embedding")
  }

  test("tombstones flip WITH the epoch: re-create below an old __tv is crash-proof") {
    val cat = freshCat("tombflip")
    val fs = graft.operators.FsOps(spark)
    val rows = spark.range(50).select(col("id").as("k"), (col("id") % 10).as("v"))
    cat.create("t", rows, version = 4)
    cat.deleteWhere("t", col("k") < 40, Seq("k"), version = 5)
    assert(cat.read("t", Seq("k")).count() === 10)
    // the tombstones live INSIDE the committed epoch — flip-scoped
    // state, not a sibling dir a post-flip cleanup has to remember
    assert(fs.listFiles(s"${cat.root}/t/data")
      .exists(_._1.contains("/_tombstones/")))
    assert(!fs.exists(s"${cat.root}/t/tombstones"))
    // re-create at version 1, BELOW the outstanding __tv = 5. Under the
    // old layout a kill between create's flip and its tombstone cleanup
    // left the stale __tv anti-joining every new row (new __v = 1 <= 5)
    // — wrong reads in the crash window. Now the flip itself retires
    // them: the fresh epoch carries no _tombstones, and nothing after
    // the flip has to run for this to hold.
    cat.create("t", rows, version = 1)
    assert(cat.read("t", Seq("k")).count() === 50)
    // a stale LEGACY-layout tombstone dir (pre-epoch debris whose
    // hygiene pass never ran — the simulated kill): invisible, because
    // an epochal store resolves tombstones inside its epoch only
    rows.select(col("k")).withColumn("__tv", lit(5L))
      .write.partitionBy("__tv").parquet(s"${cat.root}/t/tombstones")
    assert(cat.read("t", Seq("k")).count() === 50)
  }
}
