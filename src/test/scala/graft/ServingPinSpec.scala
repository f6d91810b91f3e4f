package graft

import org.apache.spark.{ListenerBusDrain, SparkEnv}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashEmbedder
import graft.operators.{AnnIndex, Bm25Index, GraphAnn, IvfGraph, PackedScan, ServingCache,
  TestAccess}

/** Residency of the pinned serving structures ([[graft.operators
  * .ServingCache.pin]]): blocks are pinned without their source lineage,
  * so a query job ships only the block RDD; a routed IvfGraph query runs
  * only on the partitions of its probed clusters; a lost block fails the
  * query loudly and evicts the instance, and the rebuild answers exactly
  * as before the loss.
  */
class ServingPinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val emb = Tables.embeddings(spark, TestSpark.sf)
  private lazy val docs = Tables.documents(spark, TestSpark.sf)

  private val C = 16
  private lazy val corpus = {
    val df = ClusteredCorpus.df(spark, 4000L, C).repartition(4).cache()
    df.count()
    df
  }
  private lazy val (model, indexed) = {
    val (m, ix) = AnnIndex.fit(corpus, "embedding", "vec_id", k = C, iters = 2)
    (m, ix.cache())
  }

  /** Bytes a ResultTask over `blocks` ships: the closure-serialized
    * (rdd, func) pair, serialized the way the DAGScheduler does it.
    */
  private def taskBytes(blocks: RDD[_]): Int = {
    val func = (it: Iterator[Any]) => it.size
    SparkEnv.get.closureSerializer.newInstance()
      .serialize((blocks, func): AnyRef).remaining()
  }

  /** (jobs, tasks) the listener bus saw while `body` ran. */
  private def counted[T](body: => T): (T, Int, Int) = {
    var jobs = 0
    var tasks = 0
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized { tasks += 1 }
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      ListenerBusDrain(sc)
      l.synchronized((out, jobs, tasks))
    } finally sc.removeSparkListener(l)
  }

  private def assertLean(name: String, blocks: RDD[_]): Unit = {
    val n = taskBytes(blocks)
    info(s"$name: task binary $n B")
    assert(n <= 8192, s"$name ships $n B per task:\n${blocks.toDebugString}")
  }

  private def oneJob[T](name: String)(topK: => T): Unit = {
    val (_, jobs, _) = counted(topK)
    assert(jobs == 1, s"$name.topK ran $jobs jobs")
  }

  test("PackedScan: a query ships no source lineage after build, insert and compact") {
    val q = HashEmbedder.embed("pin lineage probe")
    val scan = PackedScan.build(emb.filter(col("vec_id") % 5 =!= 2), "vec_id", "embedding")
    val inserted = scan.insert(emb.filter(col("vec_id") % 5 === 2), "vec_id", "embedding")
    inserted.delete(inserted.topK(q, 3).map(_._1))
    val compacted = inserted.compact()
    try {
      Seq("build" -> scan, "insert" -> inserted, "compact" -> compacted).foreach {
        case (step, ps) =>
          assertLean(s"PackedScan $step", TestAccess.blocks(ps))
          oneJob(s"PackedScan $step")(ps.topK(q, 10))
      }
    } finally { compacted.unpersist(); inserted.unpersist(); scan.unpersist() }
  }

  test("Bm25Index: a query ships no source lineage after build, insert, compact, purge and load") {
    val terms = Seq("query", "data")
    val ix = Bm25Index.build(docs.filter(col("doc_id") < 400), "doc_id", "text", 4)
    val inserted = ix.insert(docs.filter(col("doc_id") >= 400), "doc_id", "text")
    val compacted = inserted.compact()
    compacted.delete(compacted.topK(terms, 2).map(_._1))
    val purged = compacted.purgeDeleted()
    val path = s"${TestSpark.tmpRoot}/bm25_pin_spec"
    Bm25Index.save(spark, inserted, path)
    val loaded = Bm25Index.load(spark, path)
    try {
      Seq("build" -> ix, "insert" -> inserted, "compact" -> compacted,
          "purge" -> purged, "load" -> loaded).foreach { case (step, b) =>
        assertLean(s"Bm25Index $step", b.blocksRdd)
        oneJob(s"Bm25Index $step")(b.topK(terms, 10))
      }
    } finally Seq(loaded, purged, compacted, inserted, ix).foreach(_.unpersist())
  }

  test("GraphAnn and IvfGraph: a query ships no source lineage after build, insert, compact and load") {
    val q = ClusteredCorpus.query(0)
    val g = GraphAnn.build(corpus, "vec_id", "embedding", m = 8, efC = 32)
    g.delete(g.topK(q, 3, ef = 32)._1.map(_._1))
    val gp = g.purgeDeleted(m = 8, efC = 32)
    val ivf = IvfGraph.build(indexed, model, "vec_id", "embedding", m = 8, efC = 32)
    val batch = indexed.filter(col("cluster_id") < 2)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    val (appended, _) = IvfGraph.append(ivf, batch, "vec_id", "embedding", m = 8, efC = 32)
    val (inserted, _) = IvfGraph.insertInto(ivf, batch, "vec_id", "embedding", m = 8, efC = 32)
    val (removed, _) = IvfGraph.remove(ivf, ivf.topK(q, 3, 2, 32)._1.map(_._1), m = 8, efC = 32)
    val path = s"${TestSpark.tmpRoot}/ivfgraph_pin_spec"
    IvfGraph.save(spark, ivf, path)
    val loaded = IvfGraph.load(spark, path)
    try {
      Seq("build" -> g, "purge" -> gp).foreach { case (step, x) =>
        assertLean(s"GraphAnn $step", TestAccess.blocks(x))
        oneJob(s"GraphAnn $step")(x.topK(q, 10, ef = 32))
      }
      Seq("build" -> ivf, "append" -> appended, "insert" -> inserted,
          "remove" -> removed, "load" -> loaded).foreach { case (step, x) =>
        assertLean(s"IvfGraph $step", TestAccess.blocks(x))
        oneJob(s"IvfGraph $step")(x.topK(q, 10, 2, 32))
      }
    } finally Seq(loaded, removed, inserted, appended, ivf).foreach(_.unpersist())
  }

  test("routed IvfGraph search: one task per probed partition, same answer as all partitions") {
    val ivf = IvfGraph.build(indexed, model, "vec_id", "embedding", m = 8, efC = 32)
    val batch = indexed.filter(col("cluster_id") < 3)
      .select((col("vec_id") + 20000000L).as("vec_id"), col("embedding"))
    val (appended, _) = IvfGraph.append(ivf, batch, "vec_id", "embedding", m = 8, efC = 32)
    val path = s"${TestSpark.tmpRoot}/ivfgraph_route_spec"
    IvfGraph.save(spark, appended, path)
    val loaded = IvfGraph.load(spark, path)
    try {
      for ((name, x) <- Seq("built" -> ivf, "appended" -> appended, "loaded" -> loaded)) {
        val blocks = TestAccess.blocks(x)
        val partOf = blocks.mapPartitionsWithIndex((p, it) => it.map(_._1 -> p)).collect().toMap
        var fewer = false
        for (t <- 0 until 6; nprobe <- Seq(1, 2, 3)) {
          val q = ClusteredCorpus.query(t)
          val probed = TestAccess.model(x).nearest(q, nprobe).toSet
          val ((got, visited), jobs, tasks) = counted(x.topK(q, 10, nprobe, 24))
          val want = probed.flatMap(partOf.get).size
          assert(jobs == 1 && tasks == want,
            s"$name nprobe=$nprobe: $jobs jobs, $tasks tasks, expected $want")
          fewer ||= tasks < blocks.getNumPartitions
          // the all-partitions run: the same per-cluster search on every task
          val qn = math.sqrt(org.apache.spark.sql.graft.VectorKernels.norm2(q))
          val all = blocks.flatMap { case (cid, g) =>
            if (probed(cid)) Iterator.single(TestAccess.searchOne(g, q, qn, 24))
            else Iterator.empty
          }.collect()
          val ref = all.flatMap(_._1).sortBy { case (id, d) => (d, id) }.take(10)
          def bits(r: Array[(Long, Double)]) =
            r.toSeq.map { case (id, d) => (id, java.lang.Double.doubleToLongBits(d)) }
          assert(bits(got) == bits(ref) && visited == all.map(_._2).sum, s"$name t=$t")
        }
        assert(fewer, s"$name: routing never skipped a partition")
      }
    } finally Seq(loaded, appended, ivf).foreach(_.unpersist())
  }

  test("a lost pinned block fails the query, evicts the instance, and the rebuild answers as before") {
    val q = HashEmbedder.embed("lost block probe")
    val terms = Seq("query", "data")
    val tag = "pin-lost#" + TestSpark.sf
    def lost[S <: AnyRef, R](key: String)(build: => S)(blocks: S => RDD[_])(
        query: S => R): Unit = {
      val x = build
      val want = query(x)
      SparkEnv.get.blockManager.removeBlock(RDDBlockId(blocks(x).id, 0))
      val ex = intercept[IllegalStateException](query(x))
      assert(ex.getMessage.contains("lost"), ex.getMessage)
      assert(!ServingCache.contains(key), s"$key still cached after losing a block")
      val rebuilt = build
      assert(rebuilt ne x)
      assert(query(rebuilt) == want)
      ServingCache.evict(key)
    }
    lost(s"packed#$tag#vec_id#embedding")(
      PackedScan.buildCached(emb, tag, "vec_id", "embedding"))(
      TestAccess.blocks(_))(_.topK(q, 10).toSeq)
    lost(s"bm25#$tag#doc_id#text#4")(
      Bm25Index.buildCached(docs, tag, "doc_id", "text", shards = 4))(
      _.blocksRdd)(_.topK(terms, 10).toSeq)
    lost(s"ivfgraph#$tag#vec_id#embedding#8#32#$C")(
      IvfGraph.buildCached(indexed, model, tag, "vec_id", "embedding", m = 8, efC = 32))(
      TestAccess.blocks(_))(_.topK(ClusteredCorpus.query(1), 10, C, 64)._1.toSeq)
  }
}
