package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.HashEmbedder
import graft.operators.{AnnIndex, SelfQueryFilter => F, VectorStore}
import org.apache.spark.sql.graft.VectorFunctions._

class OperatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Tables.documents(spark, TestSpark.sf)
  private def embs = Tables.embeddings(spark, TestSpark.sf)

  test("self-query comparators compile to correct predicates") {
    val d = Seq(
      (1L, "en", 100L, Seq("a", "b")),
      (2L, "de", 300L, Seq("b", "c")),
      (3L, "en", 500L, Seq("c", "d"))).toDF("id", "lang", "n", "tags")
    def ids(n: F.Node): Seq[Long] =
      d.filter(F.compile(n)).select("id").as[Long].collect().sorted.toSeq
    assert(ids(F.Eq("lang", F.S("en"))) == Seq(1L, 3L))
    assert(ids(F.Ne("lang", F.S("en"))) == Seq(2L))
    assert(ids(F.Gt("n", F.I(100))) == Seq(2L, 3L))
    assert(ids(F.Gte("n", F.I(300))) == Seq(2L, 3L))
    assert(ids(F.Lt("n", F.I(300))) == Seq(1L))
    assert(ids(F.Lte("n", F.I(300))) == Seq(1L, 2L))
    assert(ids(F.Contain("tags", F.S("b"))) == Seq(1L, 2L))
    assert(ids(F.Like("lang", "e%")) == Seq(1L, 3L))
    assert(ids(F.In("lang", Seq(F.S("de"), F.S("fr")))) == Seq(2L))
    assert(ids(F.And.of(F.Eq("lang", F.S("en")), F.Gt("n", F.I(200)))) == Seq(3L))
    assert(ids(F.Or.of(F.Eq("lang", F.S("de")), F.Gt("n", F.I(400)))) == Seq(2L, 3L))
    assert(ids(F.Not(F.Eq("lang", F.S("en")))) == Seq(2L))
  }

  test("self-query timestamp comparator (parseDateTimeBestEffort semantics)") {
    val e = Tables.events(spark, TestSpark.sf)
    val n = e.filter(F.compile(F.Gte("ts", F.T("2024-01-15")))).count()
    val expected = e.filter(col("ts") >= to_timestamp(lit("2024-01-15"))).count()
    assert(n == expected && n > 0 && n < e.count())
  }

  test("VectorStore top-k == sort-then-take oracle") {
    val q = HashEmbedder.embed("any query text at all")
    val store = VectorStore(embs, "embedding", Seq("vec_id"))
    val topk = store.searchByVector(q, 15).select("vec_id").as[Long].collect().toSeq
    val brute = embs
      .withColumn("dist", cosine_distance(col("embedding"), typedlit(q.toIndexedSeq)))
      .collect().map(r => (r.getAs[Double]("dist"), r.getAs[Long]("vec_id")))
      .sortBy(identity).take(15).map(_._2).toSeq
    assert(topk == brute)
  }

  test("VectorStore filter is PREWHERE-like: applied before ranking") {
    val q = HashEmbedder.embed("filtered search")
    val store = VectorStore(embs, "embedding", Seq("vec_id"))
    val res = store.searchByVector(q, 5, Some(col("label") === 3))
    val labels = res.select("label").as[Int].collect()
    assert(labels.nonEmpty && labels.forall(_ == 3))
    // plan check: top-k is TakeOrderedAndProject, not a global Sort
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("knn plan pushes data filters into the scan") {
    val q = HashEmbedder.embed("pushdown probe")
    val store = VectorStore(embs, "embedding", Seq("vec_id"))
    val plan = store.searchByVector(q, 5, Some(col("label") === 3))
      .queryExecution.executedPlan.toString
    // Another (possibly concurrent) suite may have cached the raw table
    // (AnnIndex.fit does while it trains); Spark then substitutes InMemoryRelation for the
    // parquet scan. Either way the predicate must reach the SCAN node:
    // parquet PushedFilters, or InMemoryTableScan's filter list.
    val pushedToParquet =
      plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)]")
    val pushedToCache =
      plan.contains("InMemoryTableScan") && plan.contains("(label") &&
        plan.contains("= 3)")
    assert(pushedToParquet || pushedToCache,
      s"expected filter at the scan in:\n$plan")
  }

  test("AnnIndex: recall@10 >= 0.7 vs exact search, deterministic plumbing") {
    val q = HashEmbedder.embed("distributed vector search engine")
    val (model, indexed) = AnnIndex.fit(embs, "embedding", "vec_id", k = 16, iters = 3)
    assert(indexed.select("cluster_id").distinct().count() > 1)
    val ann = AnnIndex.query(indexed, model, "embedding", "vec_id", q, 10, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    val exact = VectorStore(embs, "embedding", Seq("vec_id"))
      .searchByVector(q, 10).select("vec_id").as[Long].collect().toSet
    val recall = (ann & exact).size / 10.0
    assert(recall >= 0.7, s"recall=$recall ann=$ann exact=$exact")
  }

  test("AnnIndex.fit releases the input cache it created; indexed stays cached") {
    import org.apache.spark.storage.StorageLevel
    val input = embs.filter(col("vec_id") % 3 =!= 1)
    val (_, indexed) = AnnIndex.fit(input, "embedding", "vec_id", k = 4, iters = 1)
    try {
      assert(input.storageLevel == StorageLevel.NONE, "fit left its input cached")
      val loaded = indexed.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          r.cacheBuilder.isCachedColumnBuffersLoaded
      }
      assert(loaded == Seq(true), s"indexed not served from its loaded cache: $loaded")
      assert(indexed.count() == input.count())
      // an input the caller cached stays cached
      val mine = embs.filter(col("vec_id") % 3 =!= 2).cache()
      try {
        AnnIndex.fit(mine, "embedding", "vec_id", k = 4, iters = 1)._2.unpersist()
        assert(mine.storageLevel != StorageLevel.NONE)
      } finally mine.unpersist()
    } finally indexed.unpersist()
  }

  test("AnnIndex persisted: partition-pruned read, full probe == exact") {
    val q = HashEmbedder.embed("distributed vector search engine")
    val (model, persisted) = AnnIndex.fitPersistedCached(
      embs, TestSpark.sf, "embedding", "vec_id", k = 16, iters = 3)
    // full probe over the durable index is exact
    val full = AnnIndex.query(persisted, model, "embedding", "vec_id", q, 10, nprobe = 16)
      .select("vec_id").as[Long].collect().toSet
    val exact = VectorStore(embs, "embedding", Seq("vec_id"))
      .searchByVector(q, 10).select("vec_id").as[Long].collect().toSet
    assert(full == exact)
    // selective probe prunes parquet DIRECTORIES at planning time:
    // the scan node's selected partitions shrink to exactly nprobe
    val probed = model.nearest(q, 4)
    val prunedScan = persisted.filter(col("cluster_id").isin(probed: _*))
    def scanParts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }.head
    assert(scanParts(prunedScan) === 4,
      s"expected 4 probed partitions, got ${scanParts(prunedScan)}")
    assert(scanParts(persisted.filter(col("cluster_id") >= 0)) === 16)
    val phys = prunedScan.queryExecution.executedPlan.toString
    assert(phys.contains("PartitionFilters") && phys.contains("cluster_id"),
      s"expected partition filter on cluster_id in:\n$phys")
  }

  test("AnnTopKRule: SQL ORDER BY distance LIMIT gets cluster-pruned") {
    val q = HashEmbedder.embed("distributed vector search engine")
    val (model, indexed) = AnnIndex.fit(embs, "embedding", "vec_id", k = 16, iters = 3)
    try {
      spark.conf.set("spark.graft.ann.enabled", "true")
      val store = VectorStore(indexed, "embedding", Seq("vec_id"))
      val df = store.searchByVector(q, 10)
      val pruned = df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.isInstanceOf[org.apache.spark.sql.catalyst.expressions.In] => f
      }
      assert(pruned.nonEmpty,
        s"no cluster prune in plan:\n${df.queryExecution.optimizedPlan}")
      val ruleRes = df.select("vec_id").as[Long].collect().toSet
      val apiRes = AnnIndex.query(indexed, model, "embedding", "vec_id", q, 10, 4)
        .select("vec_id").as[Long].collect().toSet
      assert(ruleRes == apiRes) // rule path == explicit IVF query path
      // opt-out restores exactness
      spark.conf.set("spark.graft.ann.enabled", "false")
      val exact = store.searchByVector(q, 10).select("vec_id").as[Long].collect().toSet
      val bruteForce = VectorStore(embs, "embedding", Seq("vec_id"))
        .searchByVector(q, 10).select("vec_id").as[Long].collect().toSet
      assert(exact == bruteForce)
    } finally spark.conf.set("spark.graft.ann.enabled", "false")
  }

  test("bucketed tables join without a shuffle exchange") {
    import graft.operators.Bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      Bucketing.saveBucketed(spark,
        Tables.lineitem(spark, TestSpark.sf).select("l_orderkey", "l_quantity"),
        "li_b", "l_orderkey", 4)
      Bucketing.saveBucketed(spark,
        Tables.orders(spark, TestSpark.sf).select("o_orderkey", "o_totalprice")
          .withColumnRenamed("o_orderkey", "l_orderkey"),
        "o_b", "l_orderkey", 4)
      val joined = Bucketing.cogroupJoin(spark, "li_b", "o_b", "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      // same result as the unbucketed join
      val expected = Tables.lineitem(spark, TestSpark.sf)
        .join(Tables.orders(spark, TestSpark.sf),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("salted join and salted aggregation match unsalted results") {
    import graft.operators.Salting
    val li = Tables.lineitem(spark, TestSpark.sf)
    val o = Tables.orders(spark, TestSpark.sf).select("o_orderkey", "o_orderstatus")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plainJoin = li.join(o, "l_orderkey").count()
    val salted = Salting.saltedJoin(li, o, "l_orderkey", buckets = 8).count()
    assert(salted == plainJoin)
    val plainSum = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("total"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val saltedSum = Salting.saltedSum(li, "l_returnflag", col("l_quantity"), 8)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(saltedSum.keySet == plainSum.keySet)
    saltedSum.foreach { case (k, v) =>
      assert(math.abs(v - plainSum(k)) < 1e-6 * math.abs(v))
    }
  }

  test("minhash LSH candidates are high-precision (all pairs jac >= 0.5)") {
    val out = SparkEntry.queries("q45_minhash_lsh")(spark, TestSpark.sf)
    val jacs = out.select("jac").as[Double].collect()
    assert(jacs.nonEmpty && jacs.forall(_ >= 0.5))
  }

  test("minhash LSH finds most planted near-duplicates") {
    val out = SparkEntry.queries("q45_minhash_lsh")(spark, TestSpark.sf)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val planted = docs.select("doc_id").as[Long].collect()
      .map(id => (id, id + 10000)).toSet
    val found = planted.count(out.contains)
    assert(found >= planted.size * 0.8,
      s"found only $found of ${planted.size} planted near-dups")
  }

  test("simhash banding finds planted near-duplicates") {
    val out = SparkEntry.queries("q46_simhash_neardup")(spark, TestSpark.sf)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val planted = docs.select("doc_id").as[Long].collect()
      .map(id => (id, id + 10000)).toSet
    // 4×16-bit bands guarantee detection only for Hamming<=3; short docs
    // (10 tokens, 3 dropped) can exceed that, so ~0.75 recall is expected
    val found = planted.count(out.contains)
    assert(found >= planted.size * 0.7)
  }

  test("e2e RAG pipeline: ingest -> embed -> filtered retrieval invariants") {
    val out = SparkEntry.queries("q81_e2e_rag_pipeline")(spark, TestSpark.sf)
    val rows = out.collect()
    assert(rows.length == 5)
    // filter respected, distances ascending, ids well-formed sha256 hex
    assert(rows.forall(r => Set("src0", "src1", "src2")(r.getAs[String]("source"))))
    val dists = rows.map(_.getAs[Double]("dist"))
    assert(dists.sameElements(dists.sorted))
    assert(rows.forall(_.getAs[String]("entity_id").matches("[0-9a-f]{64}")))
  }

  test("multimodal decode stub: typed pipeline matches direct computation") {
    val metas = graft.operators.Multimodal.decodeStub(
      graft.operators.Multimodal.blobsFromDocuments(spark, docs))
    val got = metas.filter(_.doc_id == 0L).head()
    val text = docs.filter(col("doc_id") === 0).select("text").as[String].head()
    assert(got.width == 64 + (text.charAt(0).toInt % 64))
    assert(got.height == 64 + (text.charAt(1).toInt % 64))
    assert(got.n_frames == 1 + text.getBytes.length % 16)
  }
}
