package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.HashEmbedder
import graft.operators.{PackedScan, VectorStore}

/** The in-memory packed serving path must be EXACT: bit-identical
  * distances (canonical VectorKernels order) and the same (dist, id)
  * tie-break as the DataFrame scan — q108 gates it against DuckDB; this
  * spec pins the bit-parity the oracle's 6-dp rounding can't see.
  */
class PackedScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("topK == DataFrame scan: same ids, bit-identical distances") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val scan = PackedScan.buildCached(e, "spec#" + TestSpark.sf, "vec_id", "embedding")
    for (text <- Seq("serving parity probe", "another query", "third probe")) {
      val q = HashEmbedder.embed(text)
      val got = scan.topK(q, 10)
      val ref = VectorStore(e, "embedding", Seq("vec_id"))
        .searchByVector(q, 10)
        .select(col("vec_id"), col("dist"))
        .as[(Long, Double)].collect()
      assert(got.toSeq == ref.toSeq)
    }
  }

  test("row count and dim survive packing; k > n returns all rows") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val n = e.count()
    val scan = PackedScan.buildCached(e, "spec#" + TestSpark.sf, "vec_id", "embedding")
    assert(scan.rows == n)
    assert(scan.dim == HashEmbedder.DefaultDim)
    val q = HashEmbedder.embed("overask probe")
    val all = scan.topK(q, (n + 10).toInt)
    assert(all.length == n)
    // ascending by (dist, id)
    assert(all.toSeq == all.toSeq.sortBy { case (id, d) => (d, id) })
  }

  test("topKBatch: one job, per-query results identical to topK") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val scan = PackedScan.buildCached(e, "spec#" + TestSpark.sf, "vec_id", "embedding")
    val qs = Array.tabulate(7)(i => HashEmbedder.embed(s"batch probe $i"))
    val batch = scan.topKBatch(qs, 10)
    assert(batch.length == qs.length)
    qs.indices.foreach { i =>
      assert(batch(i).toSeq == scan.topK(qs(i), 10).toSeq,
        s"batch result $i diverged from single-query path")
    }
    assert(scan.topKBatch(Array.empty[Array[Float]], 10).isEmpty)
  }

  test("empty source -> empty relation, empty topK") {
    val empty = Tables.embeddings(spark, TestSpark.sf).filter(col("vec_id") < 0)
    val scan = PackedScan.build(empty, "vec_id", "embedding")
    assert(scan.rows == 0L)
    assert(scan.topK(HashEmbedder.embed("x"), 5).isEmpty)
  }

  // ---- filtered serving (round 7) -------------------------------------

  import graft.operators.{SelfQueryFilter => F}

  /** embeddings ⋈ documents with lang/source/n_chars pinned as metadata. */
  private def metaCorpus = {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val d = Tables.documents(spark, TestSpark.sf)
    e.join(d, e("vec_id") === d("doc_id"))
      .select(e("vec_id"), e("embedding"), d("lang"), d("source"), d("n_chars"))
  }

  private def metaScan = PackedScan.buildCached(metaCorpus,
    "spec-meta#" + TestSpark.sf, "vec_id", "embedding",
    Seq("lang", "source", "n_chars"))

  /** Brute-force reference: the DataFrame path with the SAME AST compiled
    * by SelfQueryFilter.compile — the two compilers must agree exactly.
    */
  private def refTopK(node: F.Node, q: Array[Float], k: Int): Seq[(Long, Double)] =
    VectorStore(metaCorpus.filter(F.compile(node)), "embedding", Seq("vec_id"))
      .searchByVector(q, k)
      .select(col("vec_id"), col("dist"))
      .as[(Long, Double)].collect().toSeq

  test("filtered topK: selectivity sweep 0.9 / 0.5 / 0.01, exact vs DataFrame path") {
    val scan = metaScan
    val n = scan.rows
    val q = HashEmbedder.embed("filtered serving probe")
    val cases: Seq[(F.Node, Double, Double)] = Seq(
      (F.Gte("n_chars", F.I(100)), 0.80, 1.00),             // ~0.90
      (F.Gte("n_chars", F.I(300)), 0.35, 0.65),             // ~0.51
      (F.And.of(F.Eq("lang", F.S("en")), F.Eq("source", F.S("src1"))),
        0.001, 0.05)                                        // ~0.016 (< k rows)
    )
    for ((node, lo, hi) <- cases) {
      val survivors = metaCorpus.filter(F.compile(node)).count()
      val sel = survivors.toDouble / n
      assert(sel >= lo && sel <= hi, s"selectivity $sel outside [$lo,$hi] for $node")
      val got = scan.topK(q, 10, Some(node)).toSeq
      assert(got == refTopK(node, q, 10),
        s"filtered serving diverged from DataFrame path for $node")
      // exact-k contract: k results when enough survivors, ALL survivors when not
      assert(got.length == math.min(10L, survivors),
        s"expected min(10, $survivors) results for $node, got ${got.length}")
    }
  }

  test("filtered topK: every supported comparator matches the DataFrame path") {
    val scan = metaScan
    val q = HashEmbedder.embed("comparator probe")
    val nodes = Seq[F.Node](
      F.Ne("lang", F.S("zh")),
      F.Lt("n_chars", F.I(300)),
      F.Lte("n_chars", F.I(306)),
      F.Gt("n_chars", F.I(250)),
      F.Like("source", "src1%"),          // src1, src10..src19
      F.In("source", Seq(F.S("src2"), F.S("src4"), F.S("src6"))),
      F.In("n_chars", (100L to 400L).map(F.I).toSeq),
      F.Or.of(F.Eq("lang", F.S("de")), F.Eq("lang", F.S("fr"))),
      F.Not(F.Gte("n_chars", F.I(200))),
      F.And.of(F.Not(F.Eq("lang", F.S("en"))),
        F.Or.of(F.Lt("n_chars", F.I(150)), F.Gt("n_chars", F.I(450)))),
      F.Gt("lang", F.S("en")),            // ordered string comparator
      F.Gte("n_chars", F.D(299.5))        // double literal vs integral column
    )
    for (node <- nodes) {
      assert(scan.topK(q, 10, Some(node)).toSeq == refTopK(node, q, 10),
        s"comparator mismatch for $node")
    }
  }

  test("filtered topKBatch: shared predicate, per-query parity with topK") {
    val scan = metaScan
    val node: F.Node = F.And.of(F.Eq("lang", F.S("en")), F.Gt("n_chars", F.I(250)))
    val qs = Array.tabulate(5)(i => HashEmbedder.embed(s"filtered batch $i"))
    val batch = scan.topKBatch(qs, 10, Some(node))
    qs.indices.foreach { i =>
      assert(batch(i).toSeq == scan.topK(qs(i), 10, Some(node)).toSeq)
    }
  }

  test("filter binding errors: unknown column, type mismatch, contain") {
    val scan = metaScan
    val q = HashEmbedder.embed("error probe")
    for (bad <- Seq[F.Node](
      F.Eq("no_such_col", F.S("x")),
      F.Gt("lang", F.I(3)),
      F.Contain("source", F.S("src1")),
      F.Like("n_chars", "3%")
    )) {
      val ex = intercept[Exception](scan.topK(q, 5, Some(bad)))
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(_.isInstanceOf[IllegalArgumentException]),
        s"expected IllegalArgumentException for $bad, got $ex")
    }
  }

  test("null pinned metadata is rejected at build") {
    val df = Seq(
      (1L, Array.fill(4)(0.5f), "en"),
      (2L, Array.fill(4)(0.25f), null.asInstanceOf[String])
    ).toDF("vec_id", "embedding", "lang")
    val ex = intercept[Exception] {
      PackedScan.build(df, "vec_id", "embedding", Seq("lang"))
    }
    assert(ex.getMessage != null)
  }

  // ---- tombstone deletes (round 7) ------------------------------------

  test("insert equals rebuild: union blocks serve bit-identically, with meta and filters") {
    import graft.operators.{SelfQueryFilter => F}
    val e = Tables.embeddings(spark, TestSpark.sf)
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = e.join(d, e("vec_id") === d("doc_id"))
      .select(e("vec_id"), e("embedding"), d("lang"), d("n_chars"))
    val base = corpus.filter(col("vec_id") % 5 =!= 2)
    val batch = corpus.filter(col("vec_id") % 5 === 2)
    val meta = Seq("lang", "n_chars")
    val scan = PackedScan.build(base, "vec_id", "embedding", meta)
    val scan2 = scan.insert(batch, "vec_id", "embedding")
    val full = PackedScan.build(corpus, "vec_id", "embedding", meta)
    try {
      assert(scan2.rows == full.rows)
      val node: F.Node = F.And(Seq(F.Eq("lang", F.S("en")), F.Gt("n_chars", F.I(250))))
      for (text <- Seq("insert parity probe", "second probe")) {
        val q = HashEmbedder.embed(text)
        assert(scan2.topK(q, 15).toSeq == full.topK(q, 15).toSeq)
        assert(scan2.topK(q, 15, Some(node)).toSeq ==
          full.topK(q, 15, Some(node)).toSeq)
      }
      // LSM shape: the batch landed as new pinned blocks
      assert(scan2.blockCounts.sum > scan.blockCounts.sum)
      // tombstones carry through a real insert; empty batch is a no-op
      scan.delete(Seq(full.topK(HashEmbedder.embed("x"), 1).head._1))
      val s4 = scan.insert(batch, "vec_id", "embedding")
      try assert(s4.deletedCount == 1) finally s4.unpersist()
      val scan3 = scan2.insert(batch.filter(lit(false)), "vec_id", "embedding")
      assert(scan3 eq scan2)
      val bad = batch.withColumn("embedding", slice(col("embedding"), 1, 4))
      val ex = intercept[Exception](scan2.insert(bad, "vec_id", "embedding"))
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(_.isInstanceOf[IllegalArgumentException]))
    } finally { scan2.unpersist(); scan.unpersist(); full.unpersist() }
  }

  test("compact applies tombstones physically and equals a fresh build over remaining") {
    import graft.operators.{SelfQueryFilter => F}
    val e = Tables.embeddings(spark, TestSpark.sf)
    val d = Tables.documents(spark, TestSpark.sf)
    val corpus = e.join(d, e("vec_id") === d("doc_id"))
      .select(e("vec_id"), e("embedding"), d("lang"), d("n_chars"))
    val meta = Seq("lang", "n_chars")
    val scan = PackedScan.build(corpus.filter(col("vec_id") % 5 =!= 2),
      "vec_id", "embedding", meta)
      .insert(corpus.filter(col("vec_id") % 5 === 2), "vec_id", "embedding")
    scan.delete(0L until 2000L by 7L)
    val compacted = scan.compact()
    val remaining = PackedScan.build(
      corpus.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding", meta)
    try {
      // tombstones are APPLIED, not carried; segments merged to one
      assert(compacted.deletedCount == 0)
      assert(compacted.rows == remaining.rows)
      assert(compacted.blockCounts.forall(_ <= 1))
      val node: F.Node = F.Eq("lang", F.S("en"))
      for (text <- Seq("compact parity probe", "another probe")) {
        val q = HashEmbedder.embed(text)
        assert(compacted.topK(q, 15).toSeq == remaining.topK(q, 15).toSeq)
        assert(compacted.topK(q, 15, Some(node)).toSeq ==
          remaining.topK(q, 15, Some(node)).toSeq)
      }
    } finally { compacted.unpersist(); remaining.unpersist(); scan.unpersist() }
  }

  test("tombstoned rows stop being served; equals brute force over remaining") {
    val e = Tables.embeddings(spark, TestSpark.sf)
    val scan = PackedScan.build(e, "vec_id", "embedding")
    try {
      val q = HashEmbedder.embed("tombstone probe")
      val before = scan.topK(q, 10).toSeq
      val deleted = before.take(3).map(_._1)
      scan.delete(deleted)
      assert(scan.deletedCount == 3)
      val after = scan.topK(q, 10).toSeq
      assert(after.map(_._1).toSet.intersect(deleted.toSet).isEmpty)
      val ref = VectorStore(e.filter(!col("vec_id").isin(deleted: _*)),
          "embedding", Seq("vec_id"))
        .searchByVector(q, 10)
        .select(col("vec_id"), col("dist")).as[(Long, Double)].collect().toSeq
      assert(after == ref, "tombstoned serving diverged from brute force over remaining")
      // incremental delete: drop the whole current top-10 too
      scan.delete(after.map(_._1))
      val third = scan.topK(q, 10).toSeq
      assert(third.map(_._1).toSet
        .intersect((deleted ++ after.map(_._1)).toSet).isEmpty)
      // unknown ids are harmless; clearDeletes restores the original view
      scan.delete(Seq(-1L, Long.MaxValue - 1))
      scan.clearDeletes()
      assert(scan.topK(q, 10).toSeq == before)
    } finally scan.unpersist()
  }

  test("tombstones compose with filters and the batch path") {
    val scan = metaScan
    try {
      val node: F.Node = F.Gte("n_chars", F.I(100))
      val q = HashEmbedder.embed("tombstone+filter probe")
      val base = scan.topK(q, 10, Some(node)).toSeq
      val dead = base.take(2).map(_._1)
      scan.delete(dead)
      val got = scan.topKBatch(Array(q), 10, Some(node)).head.toSeq
      val ref = VectorStore(
          metaCorpus.filter(F.compile(node))
            .filter(!col("vec_id").isin(dead: _*)),
          "embedding", Seq("vec_id"))
        .searchByVector(q, 10)
        .select(col("vec_id"), col("dist")).as[(Long, Double)].collect().toSeq
      assert(got == ref)
    } finally scan.clearDeletes() // shared cached instance: leave it clean
  }

  test("per-partition accumulators are k-bounded; merge input <= P*k per query") {
    // the contract the 2M-row soak measures at scale, locked in CI: the
    // per-partition leg returns <= k rows per (partition, query), so the
    // driver merge is bounded by partitions*k regardless of corpus size
    val e = Tables.embeddings(spark, TestSpark.sf)
    val scan = PackedScan.buildCached(e, "spec#" + TestSpark.sf, "vec_id", "embedding")
    val qs = Array("acc probe one", "acc probe two", "acc probe three")
      .map(HashEmbedder.embed(_))
    val k = 7
    val per = scan.topKBatchPerPart(qs, k)
    assert(per.nonEmpty)
    per.foreach { part =>
      assert(part.length == qs.length)
      part.foreach(list => assert(list.length <= k))
    }
    val mergePerQuery = (0 until qs.length).map(qi => per.map(_(qi).length).sum)
    mergePerQuery.foreach(m => assert(m <= per.length * k))
    // and the merge of the per-part leg IS topKBatch
    val merged = scan.topKBatch(qs, k)
    val manual = (0 until qs.length).map { qi =>
      per.iterator.flatMap(_(qi)).toArray.sortBy { case (id, d) => (d, id) }.take(k).toSeq
    }
    assert(merged.map(_.toSeq).toSeq == manual)
  }

  test("NaN distances order like the DataFrame scan: zero rows past k, zero query") {
    val dim = HashEmbedder.DefaultDim
    // every 7th row is a zero vector, so its distance to any query is NaN
    val corpus = (0 until 90).map { i =>
      (i.toLong, if (i % 7 == 0) Array.fill(dim)(0f) else HashEmbedder.embed(s"nan row $i"),
        i % 3)
    }.toDF("id", "embedding", "label")
    val scan = PackedScan.build(corpus, "id", "embedding", Seq("label"))
    val store = VectorStore(corpus, "embedding", Seq("id"))
    def bits(xs: Seq[(Long, Double)]) = xs.map { case (id, d) => (id, java.lang.Double.doubleToLongBits(d)) }
    val cases = Seq(
      // k beyond the 26 non-NaN label-1 rows: the NaN rows come last, by id
      (HashEmbedder.embed("nan probe"), 40, Some(F.Eq("label", F.I(1L)))),
      (Array.fill(dim)(0f), 12, None))
    try cases.foreach { case (q, k, f) =>
      val got = scan.topK(q, k, f).toSeq
      val ref = store.searchByVector(q, k, f.map(F.compile))
        .select(col("id"), col("dist")).as[(Long, Double)].collect().toSeq
      assert(got.exists(_._2.isNaN))
      assert(bits(got) == bits(ref))
    } finally scan.unpersist()
  }
}
