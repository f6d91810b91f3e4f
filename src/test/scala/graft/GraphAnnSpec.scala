package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, GraphAnn, IvfGraph, VectorStore}

/** Gates for the graph-ANN family ([[graft.operators.GraphAnn]]).
  *
  * Two contracts, mirroring how AnnRecallSpec gates IVF:
  *   1. EXACTNESS — with ef >= corpus size the beam visits every node of
  *      every (connected-by-construction) partition graph, so the result
  *      equals the exhaustive scan bit-for-bit (same VectorKernels
  *      reduction, same (dist, id) tie-break). This is what lets q114
  *      share q20's DuckDB oracle.
  *   2. OPERATING POINT — on the planted-cluster corpus (the realistic
  *      case; see ClusteredCorpus's scaladoc for why uniform-random is
  *      the degenerate one), a small-ef beam must reach recall@10 >= 0.95
  *      while VISITING <= 10% of the corpus, measured by actual visit
  *      counts, not nominal parameters.
  */
class GraphAnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N = 8000L
  private val C = 40
  // 2 partitions: exercises the per-partition build + scatter-gather merge
  // (the 1000-executor layout in miniature) while keeping each graph big
  // enough that a beam's visit count is a meaningful fraction.
  private lazy val corpus = {
    val df = ClusteredCorpus.df(spark, N, C).repartition(2).cache()
    df.count()
    df
  }
  private lazy val graph = GraphAnn.build(corpus, "vec_id", "embedding")

  private def exactTop10On(df: org.apache.spark.sql.DataFrame,
      q: Array[Float]): Set[Long] =
    VectorStore(df, "embedding", Seq("vec_id"))
      .searchByVector(q, 10).select("vec_id").collect().map(_.getLong(0)).toSet

  private def exactTop10(q: Array[Float]): Set[Long] = exactTop10On(corpus, q)

  test("full-ef beam equals the exhaustive scan and visits every node") {
    val q = ClusteredCorpus.query(0)
    val (got, visited) = graph.topK(q, 10, ef = N.toInt)
    assert(visited == N, s"connected graphs must visit all $N nodes, got $visited")
    assert(got.map(_._1).toSet == exactTop10(q))
    // ascending (dist, id) order out of the merge
    assert(got.sortBy { case (id, d) => (d, id) }.sameElements(got))
  }

  test("serving point: recall@10 >= 0.95 visiting <= 10% of the corpus") {
    val results = (0 until 5).map { t =>
      val q = ClusteredCorpus.query(t)
      val exact = exactTop10(q)
      val (got, visited) = graph.topK(q, 10, ef = 64)
      (got.map(_._1).toSet.intersect(exact).size / 10.0, visited.toDouble / N)
    }
    val recall = results.map(_._1).sum / results.size
    val maxFrac = results.map(_._2).max
    info(f"graph recall@10 = $recall%.3f, worst visited fraction = $maxFrac%.3f")
    assert(recall >= 0.95, s"recall@10 $recall below 0.95")
    assert(maxFrac <= 0.10, s"visited fraction $maxFrac above 0.10 (10x reduction)")
  }

  // ---- MSTG-style composition: IVF routing × per-cluster graphs --------

  // the composed index gets a 2x corpus (400-point clusters): beam visit
  // counts are threshold-limited (~size-independent), so the composed
  // fraction keeps shrinking with cluster size — the property that makes
  // IVF x graph the 100-TB shape, asserted here at the smallest scale
  // where it is visible over the nprobe x cluster_size floor
  private val N2 = 16000L
  private lazy val corpus2 = {
    val df = ClusteredCorpus.df(spark, N2, C).repartition(4).cache()
    df.count()
    df
  }
  private lazy val (ivfModel, ivfIndexed) = {
    val (m, ix) = AnnIndex.fit(corpus2, "embedding", "vec_id", k = C, iters = 5)
    (m, ix.cache())
  }
  // leaner per-cluster graphs (m=8): routing already confines the search
  // to the right region, so in-cluster adjacency can be sparser — degree
  // is the per-expansion visit multiplier
  private lazy val ivfGraph =
    IvfGraph.build(ivfIndexed, ivfModel, "vec_id", "embedding", m = 8, efC = 48)

  test("IvfGraph full-probe full-ef equals the exhaustive scan") {
    val q = ClusteredCorpus.query(0)
    val (got, visited) = ivfGraph.topK(q, 10, nprobe = C, ef = N2.toInt)
    assert(visited == N2, s"full probe + full ef must visit all $N2 nodes, got $visited")
    assert(got.map(_._1).toSet == exactTop10On(corpus2, q))
  }

  test("incremental append: only touched clusters rebuilt, appended index exact on the union") {
    import org.apache.spark.sql.functions.col
    // a batch that lands in a FEW clusters: re-ingest cluster-0/1/2 members
    // under fresh disjoint ids (frozen centroids route them straight back)
    val batch = ivfIndexed.filter(col("cluster_id") < 3)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      .cache()
    val bn = batch.count()
    assert(bn > 0)
    // expected touched clusters = exactly the routing append will compute
    val expectedTouched = batch.select("embedding").collect()
      .map(r => ivfModel.nearest(r.getSeq[Float](0).toArray, 1).head).toSet
    val (appended, rebuilt) =
      IvfGraph.append(ivfGraph, batch, "vec_id", "embedding", m = 8, efC = 48)
    assert(appended.rows == N2 + bn)
    assert(rebuilt == expectedTouched.size,
      s"rebuilt $rebuilt cluster graphs, expected ${expectedTouched.size}")
    assert(rebuilt < C, "untouched clusters must not be rebuilt")
    // exactness contract holds on the appended structure: full probe +
    // full ef equals the exhaustive scan over the UNION corpus
    val union = corpus2.select("vec_id", "embedding")
      .union(batch.select("vec_id", "embedding")).cache()
    val q = ClusteredCorpus.query(1)
    val (got, visited) = appended.topK(q, 10, nprobe = C, ef = (N2 + bn).toInt)
    assert(visited == N2 + bn, s"must visit all ${N2 + bn} nodes, got $visited")
    assert(got.map(_._1).toSet == exactTop10On(union, q))
    appended.unpersist(); union.unpersist(); batch.unpersist()
  }

  test("true incremental insert: exact on the union, cost sublinear in cluster size") {
    import org.apache.spark.sql.functions.col
    // same batch shape as the append test, but through the insert path
    val batch = ivfIndexed.filter(col("cluster_id") < 3)
      .select((col("vec_id") + 20000000L).as("vec_id"), col("embedding"))
      .cache()
    val bn = batch.count()
    val (inserted, touched) =
      IvfGraph.insertInto(ivfGraph, batch, "vec_id", "embedding", m = 8, efC = 48)
    val expectedTouched = batch.select("embedding").collect()
      .map(r => ivfModel.nearest(r.getSeq[Float](0).toArray, 1).head).toSet.size
    assert(touched == expectedTouched)
    assert(inserted.rows == N2 + bn)
    val union = corpus2.select("vec_id", "embedding")
      .union(batch.select("vec_id", "embedding")).cache()
    val q = ClusteredCorpus.query(3)
    val (got, visited) = inserted.topK(q, 10, nprobe = C, ef = (N2 + bn).toInt)
    assert(visited == N2 + bn, s"must visit all ${N2 + bn} nodes, got $visited")
    assert(got.map(_._1).toSet == exactTop10On(union, q))
    inserted.unpersist(); union.unpersist(); batch.unpersist()

    // SUBLINEARITY: the construction-beam work of inserting the same
    // batch must grow far slower than cluster size (a rebuild grows
    // linearly). Build one-cluster graphs at 1x and 4x the size from the
    // same distribution and insert an identical 32-node batch into each.
    import graft.operators.TestAccess
    val small = TestAccess.packAndBuild(flatCorpus(1500, 1), m = 8, efC = 48)
    val big = TestAccess.packAndBuild(flatCorpus(6000, 2), m = 8, efC = 48)
    val add = flatCorpus(32, 9)
    val (_, visSmall) = TestAccess.insert(small, add, m = 8, efC = 48)
    val (_, visBig) = TestAccess.insert(big, add, m = 8, efC = 48)
    info(f"insert beam visits: ${visSmall} @1500 nodes, ${visBig} @6000 nodes " +
      f"(x${visBig.toDouble / visSmall}%.2f for 4x size)")
    assert(visBig < 2L * visSmall,
      s"insert cost grew ~linearly with cluster size: $visSmall -> $visBig")
  }

  /** One-cluster synthetic rows: deterministic, near-unique vectors. */
  private def flatCorpus(n: Int, seed: Int): Array[(Long, Array[Float])] =
    Array.tabulate(n) { i =>
      (seed * 1000000L + i.toLong,
        ClusteredCorpus.query(i % 7).map(x => x + i * 1e-4f))
    }

  test("incremental insert is deterministic, shares untouched adjacency, matches rebuild at full ef") {
    import graft.operators.TestAccess
    val baseRows = flatCorpus(1000, 3)
    val base = TestAccess.packAndBuild(baseRows, m = 8, efC = 48)
    val add = flatCorpus(25, 7) // ids 7000000+ sort after every base id
    assert(add.forall(_._1 > base.ids.max))
    val (g1, v1) = TestAccess.insert(base, add, m = 8, efC = 48)
    val (g2, v2) = TestAccess.insert(base, add, m = 8, efC = 48)
    assert(v1 == v2)
    assert(g1.ids.toSeq == g2.ids.toSeq)
    assert(g1.nbrs.map(_.toSeq).toSeq == g2.nbrs.map(_.toSeq).toSeq)
    // untouched nodes SHARE adjacency arrays with the base graph (COW)
    val shared = (0 until 1000).count(i => g1.nbrs(i) eq base.nbrs(i))
    assert(shared > 0, "expected copy-on-write adjacency sharing")
    // rebuild prunes where insert doesn't, so adjacency may differ in
    // over-full lists — the contract is RESULT equality at full ef
    val rebuilt = TestAccess.packAndBuild(baseRows ++ add, m = 8, efC = 48)
    val q = ClusteredCorpus.query(1)
    val qn = math.sqrt(org.apache.spark.sql.graft.VectorKernels.norm2(q))
    val a = TestAccess.searchOne(g1, q, qn, ef = 1025)
    val b = TestAccess.searchOne(rebuilt, q, qn, ef = 1025)
    assert(a._2 == 1025 && b._2 == 1025, "full ef must visit every node in both graphs")
    assert(a._1.toSeq == b._1.toSeq, "full-ef results must agree with the rebuilt graph")
  }

  test("incremental remove: only touched clusters rebuilt, removed index exact on the remainder") {
    import org.apache.spark.sql.functions.col
    // remove the members of a couple of clusters' worth of ids (plus ids
    // that do not exist — they must be harmless and count nothing)
    val victims = ivfIndexed.filter(col("cluster_id") < 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(victims.nonEmpty)
    val expectedTouched = ivfIndexed
      .filter(col("vec_id").isin(victims: _*))
      .select("cluster_id").distinct().count()
    val (removed, touched) =
      IvfGraph.remove(ivfGraph, victims ++ Seq(-5L, Long.MaxValue - 3),
        m = 8, efC = 48)
    assert(touched == expectedTouched,
      s"rebuilt $touched cluster graphs, expected $expectedTouched")
    assert(removed.rows == N2 - victims.length)
    // exactness contract holds on the removed structure: full probe +
    // full ef equals the exhaustive scan over the REMAINING corpus
    val remaining = corpus2.filter(!col("vec_id").isin(victims: _*)).cache()
    val q = ClusteredCorpus.query(2)
    val (got, visited) = removed.topK(q, 10, nprobe = C, ef = removed.rows.toInt)
    assert(visited == removed.rows,
      s"must visit all ${removed.rows} remaining nodes, got $visited")
    assert(got.map(_._1).toSet == exactTop10On(remaining, q))
    assert(got.map(_._1).toSet.intersect(victims.toSet).isEmpty)
    // removing nothing that exists touches nothing
    val (same, zero) = IvfGraph.remove(ivfGraph, Seq(-1L), m = 8, efC = 48)
    assert(zero == 0L && same.rows == N2)
    same.unpersist(); removed.unpersist(); remaining.unpersist()
  }

  test("save/load round-trip: loaded index is bit-identical, no construction on load") {
    val path = s"${TestSpark.tmpRoot}/ivfgraph_saveload_spec"
    IvfGraph.save(spark, ivfGraph, path)
    val loaded = IvfGraph.load(spark, path)
    try {
      // the routing model survives exactly
      assert(graft.operators.TestAccess.model(loaded).centroids.map(_.toSeq).toSeq ==
        graft.operators.TestAccess.model(ivfGraph).centroids.map(_.toSeq).toSeq)
      // every cluster graph compares equal field-by-field: ids, packed
      // vectors, and the ADJACENCY (the part whose reconstruction would
      // mean construction ran — load stores it, never recomputes it)
      def mat(g: IvfGraph) = graft.operators.TestAccess.blocks(g).collect().map {
        case (cid, gr) =>
          cid -> ((gr.ids.toSeq, gr.vecs.toSeq, gr.dim, gr.nbrs.map(_.toSeq).toSeq))
      }.toMap
      val (orig, back) = (mat(ivfGraph), mat(loaded))
      assert(back.keySet == orig.keySet)
      orig.foreach { case (cid, g) => assert(back(cid) == g, s"cluster $cid differs") }
      assert(loaded.rows == ivfGraph.rows && loaded.bytes == ivfGraph.bytes)
      // identical graphs => identical answers and identical visit counts
      (0 until 3).foreach { t =>
        val q = ClusteredCorpus.query(t)
        val (lr, lv) = loaded.topK(q, 10, nprobe = 3, ef = 16)
        val (or, ov) = ivfGraph.topK(q, 10, nprobe = 3, ef = 16)
        assert(lr.toSeq == or.toSeq && lv == ov)
      }
    } finally loaded.unpersist()
  }

  test("topKBatch: per-query results identical to topK; visits add up") {
    val qs = Array.tabulate(4)(t => ClusteredCorpus.query(t))
    val (batch, bVisited) = graph.topKBatch(qs, 10, ef = 64)
    val singles = qs.map(q => graph.topK(q, 10, ef = 64))
    qs.indices.foreach(i => assert(batch(i).toSeq == singles(i)._1.toSeq))
    assert(bVisited == singles.map(_._2).sum)

    val (ibatch, iVisited) = ivfGraph.topKBatch(qs, 10, nprobe = 3, ef = 16)
    val isingles = qs.map(q => ivfGraph.topK(q, 10, nprobe = 3, ef = 16))
    qs.indices.foreach(i => assert(ibatch(i).toSeq == isingles(i)._1.toSeq))
    assert(iVisited == isingles.map(_._2).sum)
  }

  test("IvfGraph: routing and beam reductions compose (recall >= 0.95, <= 5% visited)") {
    val results = (0 until 5).map { t =>
      val q = ClusteredCorpus.query(t)
      val exact = exactTop10On(corpus2, q)
      // ef can be much smaller than the standalone graph's: routing has
      // already confined the search to clusters where the true neighbors
      // are dense, so a narrow beam suffices
      val (got, visited) = ivfGraph.topK(q, 10, nprobe = 3, ef = 16)
      (got.map(_._1).toSet.intersect(exact).size / 10.0, visited.toDouble / N2)
    }
    val recall = results.map(_._1).sum / results.size
    val maxFrac = results.map(_._2).max
    info(f"ivf-graph recall@10 = $recall%.3f, worst visited fraction = $maxFrac%.3f")
    assert(recall >= 0.95, s"recall@10 $recall below 0.95")
    assert(maxFrac <= 0.05, s"visited fraction $maxFrac above 0.05")
  }

  // ---- filtered + tombstone-aware graph serving (round 7) --------------

  import graft.operators.{SelfQueryFilter => F}

  // same 8000-point corpus with the planted label pinned as metadata (a
  // "tenant" column): predicate selectivity 1/C = 2.5%
  private lazy val metaGraph = GraphAnn.build(
    corpus, "vec_id", "embedding", metaCols = Seq("true_cluster"))

  test("filtered beam: full ef equals the filtered brute force (Eq and Not)") {
    val t = 3
    val q = ClusteredCorpus.query(t)
    val eq: F.Node = F.Eq("true_cluster", F.I(t))
    val (gotEq, _) = metaGraph.topK(q, 10, ef = N.toInt, Some(eq))
    val exactEq = exactTop10On(
      corpus.filter(org.apache.spark.sql.functions.col("true_cluster") === t), q)
    assert(gotEq.map(_._1).toSet == exactEq)

    // adversarial direction: EXCLUDE the query's own cluster — every
    // near neighbor fails the predicate, the beam must push past them
    val ne: F.Node = F.Not(F.Eq("true_cluster", F.I(t)))
    val (gotNe, _) = metaGraph.topK(q, 10, ef = N.toInt, Some(ne))
    val exactNe = exactTop10On(
      corpus.filter(org.apache.spark.sql.functions.col("true_cluster") =!= t), q)
    assert(gotNe.map(_._1).toSet == exactNe)
  }

  test("filtered serving point: 2.5%-selectivity predicate, recall measured at small ef") {
    val results = (0 until 5).map { t =>
      val q = ClusteredCorpus.query(t)
      val node: F.Node = F.Eq("true_cluster", F.I(t))
      val exact = exactTop10On(
        corpus.filter(org.apache.spark.sql.functions.col("true_cluster") === t), q)
      val (got, visited) = metaGraph.topK(q, 10, ef = 64, Some(node))
      (got.map(_._1).toSet.intersect(exact).size / 10.0, visited.toDouble / N)
    }
    val recall = results.map(_._1).sum / results.size
    val maxFrac = results.map(_._2).max
    info(f"filtered recall@10 = $recall%.3f, worst visited fraction = $maxFrac%.3f")
    assert(recall >= 0.90, s"filtered recall@10 $recall below 0.90")
    assert(maxFrac < 1.0, "filtered beam degenerated to a full scan")
  }

  test("graph tombstones: deleted ids stop serving, clearDeletes restores") {
    val q = ClusteredCorpus.query(1)
    val g2 = GraphAnn.build(corpus, "vec_id", "embedding")
    try {
      val (before, _) = g2.topK(q, 10, ef = N.toInt)
      val dead = before.take(3).map(_._1)
      assert(g2.delete(dead) == 3 && g2.deletedCount == 3)
      val (after, _) = g2.topK(q, 10, ef = N.toInt)
      assert(after.map(_._1).toSet.intersect(dead.toSet).isEmpty)
      val exact = exactTop10On(
        corpus.filter(!org.apache.spark.sql.functions.col("vec_id").isin(dead: _*)), q)
      assert(after.map(_._1).toSet == exact)
      // small-ef serving must also never surface a tombstoned id
      val (served, _) = g2.topK(q, 10, ef = 64)
      assert(served.map(_._1).toSet.intersect(dead.toSet).isEmpty)
      g2.clearDeletes()
      assert(g2.deletedCount == 0)
      val (restored, _) = g2.topK(q, 10, ef = N.toInt)
      assert(restored.toSeq == before.toSeq)
    } finally g2.unpersist()
  }

  test("IvfGraph: filter + tombstones compose on the routed structure; maintenance refuses meta") {
    val spark0 = spark
    import spark0.implicits._
    val small = ClusteredCorpus.df(spark0, 600, 6).repartition(2).cache()
    small.count()
    val (m6, ix6) = AnnIndex.fit(small, "embedding", "vec_id", k = 6, iters = 2)
    val g = IvfGraph.build(ix6, m6, "vec_id", "embedding",
      metaCols = Seq("true_cluster"))
    try {
      val t = 2
      val q = ClusteredCorpus.query(t)
      val node: F.Node = F.Eq("true_cluster", F.I(t))
      g.delete(0L until 600L by 5L)
      val (got, _) = g.topK(q, 10, nprobe = 6, ef = 600, Some(node))
      val exact = exactTop10On(small.filter(
        org.apache.spark.sql.functions.col("true_cluster") === t &&
          org.apache.spark.sql.functions.col("vec_id") % 5 =!= 0), q)
      assert(got.map(_._1).toSet == exact)

      // maintenance ops refuse metadata-pinned structures loudly (meta
      // slots would silently misalign or drop): tombstone + rebuild is
      // the documented lifecycle for filtered structures
      def messageChain(e: Throwable): String =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" | ")
      val batch = small.limit(5)
        .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
      val eIns = intercept[Exception](IvfGraph.insertInto(g, batch, "vec_id", "embedding"))
      assert(messageChain(eIns).contains("not supported"))
      val eRem = intercept[Exception](IvfGraph.remove(g, Seq(1L)))
      assert(messageChain(eRem).contains("not supported"))

      // save no longer refuses pinned meta (r8): the artifact carries the
      // typed meta cells + schema, and a reload — which takes only the
      // path, so it cannot re-read the corpus — serves the same filtered
      // results THROUGH the carried tombstones, with the meta schema and
      // per-node values restored bit-equal
      val path = s"${TestSpark.tmpRoot}/meta_durable"
      IvfGraph.save(spark0, g, path)
      val loaded = IvfGraph.load(spark0, path)
      try {
        assert(loaded.deletedCount == g.deletedCount)
        val (gotL, _) = loaded.topK(q, 10, nprobe = 6, ef = 600, Some(node))
        assert(gotL.toSeq == got.toSeq)
        // a different predicate binds against the restored columns too
        val node2: F.Node = F.Ne("true_cluster", F.I(t))
        val (a, _) = g.topK(q, 10, nprobe = 6, ef = 600, Some(node2))
        val (b, _) = loaded.topK(q, 10, nprobe = 6, ef = 600, Some(node2))
        assert(a.toSeq == b.toSeq)
      } finally loaded.unpersist()
    } finally g.unpersist()
  }

  test("tombstones survive maintenance: insertInto/append/remove carry them; save/load persists them") {
    val spark0 = spark
    import spark0.implicits._
    val small = ClusteredCorpus.df(spark0, 600, 6).repartition(2).cache()
    small.count()
    val (m6, ix6) = AnnIndex.fit(small, "embedding", "vec_id", k = 6, iters = 2)
    val g0 = IvfGraph.build(ix6, m6, "vec_id", "embedding")
    val q = ClusteredCorpus.query(1)
    val (top, _) = g0.topK(q, 10, nprobe = 6, ef = 600)
    val dead = top.take(3).map(_._1)
    g0.delete(dead)
    // insertInto must not resurrect deleted ids on the new instance
    val batch = small.limit(8)
      .select(($"vec_id" + 200000L).as("vec_id"), $"embedding")
    val (g1, _) = IvfGraph.insertInto(g0, batch, "vec_id", "embedding")
    assert(g1.deletedCount == 3)
    val (afterIns, _) = g1.topK(q, 10, nprobe = 6, ef = g1.rows.toInt)
    assert(afterIns.map(_._1).toSet.intersect(dead.toSet).isEmpty)
    // append (the compaction rebuild) carries them too
    val (g2, _) = IvfGraph.append(g1, batch
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding"), "vec_id", "embedding")
    assert(g2.deletedCount == 3)
    // remove drops the physically-removed ids from the carried set
    val (g3, _) = IvfGraph.remove(g2, Seq(dead.head))
    assert(g3.deletedCount == 2)
    val (afterRm, _) = g3.topK(q, 10, nprobe = 6, ef = g3.rows.toInt)
    assert(afterRm.map(_._1).toSet.intersect(dead.toSet).isEmpty)
    // durable form: pending tombstones are serving state and must reload
    val path = s"${TestSpark.tmpRoot}/tomb_save"
    IvfGraph.save(spark0, g1, path)
    val loaded = IvfGraph.load(spark0, path)
    try {
      assert(loaded.deletedCount == 3)
      val (afterLoad, _) = loaded.topK(q, 10, nprobe = 6, ef = loaded.rows.toInt)
      assert(afterLoad.map(_._1).toSet.intersect(dead.toSet).isEmpty)
      assert(afterLoad.toSeq == afterIns.toSeq)
    } finally { loaded.unpersist(); g0.unpersist(); g1.unpersist(); g2.unpersist(); g3.unpersist() }
  }
}
