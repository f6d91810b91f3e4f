package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Bm25Index

/** Gates for the servable inverted index ([[graft.operators.Bm25Index]]).
  *
  * q124 hash-gates the whole path against DuckDB's tokenized full scan;
  * this spec pins the contracts the oracle's single query shape can't
  * sweep: parity with an independent full-scan scorer across term sets,
  * shard-count invariance, duplicate/unknown-term semantics, and the
  * zero-length-document stats contract.
  */
class Bm25IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, TestSpark.sf)
  private lazy val index =
    Bm25Index.buildCached(docs, "spec#" + TestSpark.sf, "doc_id", "text")

  /** Independent reference: full-scan scoring via DataFrame tokenization
    * + driver-side arithmetic in the SAME operand order, rank by
    * (rounded score desc, id) — the oracle's shape, none of the index's
    * code paths.
    */
  private def fullScan(df: org.apache.spark.sql.DataFrame,
      terms: Seq[String], k: Int): Seq[(Long, Long, Double)] = {
    val toks = Bm25Index.tokens(col("text"))
    val base = df.select(
      col("doc_id").cast("long") +:
        size(toks).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === lit(t))).cast("long").as(s"tf$i")
        }: _*).collect()
    val n = base.length.toLong
    val sdl = base.map(_.getLong(1)).sum
    val avg = sdl.toDouble / n
    val dfs = terms.indices.map(i => base.count(_.getLong(2 + i) > 0).toLong)
    base.iterator.map { r =>
      val dl = r.getLong(1)
      var score = 0.0
      terms.indices.foreach { i =>
        val tf = r.getLong(2 + i)
        val df = dfs(i)
        val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        score += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg))
      }
      (r.getLong(0), dl, score)
    }.filter(_._3 > 0.0).toSeq
      .sortBy { case (id, _, s) => (-Bm25Index.round6(s), id) }.take(k)
  }

  private def close(a: Seq[(Long, Long, Double)], b: Seq[(Long, Long, Double)]): Unit = {
    assert(a.map(x => (x._1, x._2)) == b.map(x => (x._1, x._2)),
      s"ids/dls diverged:\n  got $a\n  want $b")
    a.zip(b).foreach { case ((_, _, s1), (_, _, s2)) =>
      assert(s1 == s2, s"score drift: $s1 vs $s2") // same arithmetic => bit-equal
    }
  }

  test("index topK equals the full-scan scorer across term sets") {
    for (terms <- Seq(
      Seq("query", "scan", "data"),
      Seq("the"),
      Seq("vector", "database"),
      Seq("a", "of", "engine", "distributed"))) {
      close(index.topK(terms, 20).toSeq, fullScan(docs, terms, 20))
    }
  }

  test("shard-count invariance: 1, 2 and 7 shards answer identically") {
    val one = Bm25Index.build(docs, "doc_id", "text", shards = 1)
    val seven = Bm25Index.build(docs, "doc_id", "text", shards = 7)
    try {
      val terms = Seq("query", "data")
      val want = index.topK(terms, 15).toSeq
      assert(one.topK(terms, 15).toSeq == want)
      assert(seven.topK(terms, 15).toSeq == want)
    } finally { one.unpersist(); seven.unpersist() }
  }

  test("duplicate query terms don't double-score; case-folds; unknown terms empty") {
    val t = Seq("query", "data")
    assert(index.topK(t ++ t, 10).toSeq == index.topK(t, 10).toSeq)
    assert(index.topK(Seq("QuErY", "DATA"), 10).toSeq == index.topK(t, 10).toSeq)
    assert(index.topK(Seq("zzzznotaterm"), 10).isEmpty)
    // unknown terms beside known ones contribute exactly 0.0
    assert(index.topK(Seq("query", "zzzznotaterm", "data"), 10).toSeq ==
      index.topK(t, 10).toSeq)
    assert(index.topK(Nil, 10).isEmpty)
  }

  test("zero-length docs count toward N and avgdl but never match") {
    val aug = docs.select(col("doc_id"), col("text"))
      .union(Seq((900001L, ""), (900002L, "!!! ???")).toDF("doc_id", "text"))
    val ix = Bm25Index.build(aug, "doc_id", "text")
    try {
      assert(ix.docCount == docs.count() + 2)
      val got = ix.topK(Seq("query", "scan", "data"), 20).toSeq
      close(got, fullScan(aug, Seq("query", "scan", "data"), 20))
      assert(!got.exists(r => r._1 == 900001L || r._1 == 900002L))
    } finally ix.unpersist()
  }

  test("topKBatch: per-query results identical to the single-query path") {
    val batch = Seq(
      Seq("query", "scan", "data"),
      Seq("the"),
      Seq("vector", "database"),
      Seq("zzzznotaterm"),
      Seq.empty[String])
    val got = index.topKBatch(batch, 15)
    assert(got.length == batch.length)
    batch.zipWithIndex.foreach { case (terms, i) =>
      assert(got(i).toSeq == index.topKBatch(Seq(terms), 15).head.toSeq,
        s"batched query $i diverged from its solo run")
    }
    // and the flagship set still equals the independent full-scan scorer
    close(got.head.toSeq, fullScan(docs, Seq("query", "scan", "data"), 15))
    assert(got(3).isEmpty && got(4).isEmpty)
  }

  test("filtered topK: corpus-level stats, gated docs, matches the filtered reference") {
    import graft.operators.{SelfQueryFilter => F}
    val ixm = Bm25Index.buildCached(docs, "spec-meta#" + TestSpark.sf,
      "doc_id", "text", metaCols = Seq("lang", "n_chars"))
    val terms = Seq("query", "scan", "data")
    for (node <- Seq[F.Node](
      F.Eq("lang", F.S("en")),
      F.And.of(F.Ne("lang", F.S("zh")), F.Gt("n_chars", F.I(250))),
      F.In("lang", Seq(F.S("de"), F.S("fr"))))) {
      val allowed = docs.filter(F.compile(node))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val got = ixm.topK(terms, 15, Some(node)).toSeq
      // reference semantics: score EVERY doc with corpus-level stats,
      // THEN gate which docs return — the filter must not change df/avgdl
      val ref = fullScan(docs, terms, Int.MaxValue)
        .filter(r => allowed(r._1)).take(15)
      close(got, ref)
      assert(got.forall(r => allowed(r._1)))
    }
    // a filter against an index built WITHOUT metadata must fail loudly
    val ex = intercept[Exception](
      index.topK(terms, 5, Some(F.Eq("lang", F.S("en")))))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[IllegalArgumentException]))
  }

  test("posting structure is index-shaped: df, N, avgdl agree with the corpus") {
    val n = docs.count()
    assert(index.docCount == n)
    val dlSum = docs.select(sum(size(Bm25Index.tokens(col("text"))).cast("long")))
      .as[Long].head()
    assert(index.avgDl == dlSum.toDouble / n)
  }

  test("random term sets: index topK equals the full-scan scorer (20 seeded draws)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    // the corpus vocabulary plus unknowns and case variants — duplicates
    // allowed (dedup-preserving-first-occurrence is part of the contract)
    val vocab = docs.select(explode(Bm25Index.tokens(col("text"))).as("w"))
      .distinct().as[String].collect().toSeq
    val termGen = Gen.oneOf(vocab ++ Seq("zzznope", "QUERY", "Scan", "q"))
    for (seed <- 1L to 20L) {
      val nTerms = sample(Gen.chooseNum(1, 5), seed)
      val terms = sample(Gen.listOfN(nTerms, termGen), seed + 100)
      val k = sample(Gen.chooseNum(1, 40), seed + 200)
      close(index.topK(terms, k).toSeq,
        fullScan(docs, terms.map(_.toLowerCase).distinct, k))
    }
  }

  // ---- incremental insert (LSM segments) -------------------------------

  test("insert equals rebuild: segments + COW df patch give bit-exact full-scan scores") {
    val a = docs.filter(col("doc_id") % 4 =!= 3)
    val b = docs.filter(col("doc_id") % 4 === 3)
    val ix = Bm25Index.build(a, "doc_id", "text", shards = 4)
    val ix2 = ix.insert(b, "doc_id", "text")
    try {
      assert(ix2.docCount == docs.count())
      for (terms <- Seq(Seq("query"), Seq("query", "scan", "data"),
          Seq("vector", "merge"), Seq("nosuchterm")))
        close(ix2.topK(terms, 25).toSeq, fullScan(docs, terms, 25))
      // the df patch reaches EVERY segment — including shards that got no
      // batch postings: the stored global df for a probe term must equal
      // the union-corpus df everywhere it appears
      val expected = docs.filter(
        size(filter(Bm25Index.tokens(col("text")), x => x === lit("query"))) > 0)
        .count()
      val stored = ix2.blocksRdd.flatMap { blk =>
        blk.terms.iterator.zipWithIndex.collect {
          case (t, i) if t == "query" => blk.dfs(i)
        }
      }.collect()
      assert(stored.nonEmpty && stored.forall(_ == expected),
        s"stale df after insert: ${stored.toSeq} != $expected")
      // (the %4 split anti-correlates with the doc-hash sharding: the
      // whole batch lands in the shard the base build left EMPTY, so the
      // patch above exercised shards with zero batch postings; the
      // beside-old-segments LSM shape is asserted in the tombstone test,
      // whose contiguous split spreads the batch across occupied shards)
      // the old instance is untouched (stats and results)
      close(ix.topK(Seq("query"), 10).toSeq,
        fullScan(docs.filter(col("doc_id") % 4 =!= 3), Seq("query"), 10))
    } finally { ix2.unpersist(); ix.unpersist() }
  }

  test("filtered serving across segments: meta pinned in inserted segments too") {
    import graft.operators.{SelfQueryFilter => F}
    val node: F.Node = F.And(Seq(F.Eq("lang", F.S("en")), F.Gt("n_chars", F.I(250))))
    val meta = Seq("lang", "n_chars")
    val ix = Bm25Index.build(docs.filter(col("doc_id") % 3 =!= 0),
      "doc_id", "text", shards = 3, metaCols = meta)
    val ix2 = ix.insert(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    val full = Bm25Index.build(docs, "doc_id", "text", shards = 3, metaCols = meta)
    try close(ix2.topK(Seq("query", "data"), 20, Some(node)).toSeq,
      full.topK(Seq("query", "data"), 20, Some(node)).toSeq)
    finally { ix2.unpersist(); ix.unpersist(); full.unpersist() }
  }

  test("tombstones hide docs, survive insert, and clear back to exact union serving") {
    val ix = Bm25Index.build(docs.filter(col("doc_id") < 400), "doc_id", "text", 4)
    val terms = Seq("query", "data")
    val victim = ix.topK(terms, 1).head._1
    ix.delete(Seq(victim))
    assert(!ix.topK(terms, 10).exists(_._1 == victim))
    val ix2 = ix.insert(
      docs.filter(col("doc_id") >= 400 && col("doc_id") < 450), "doc_id", "text")
    try {
      // LSM shape: the batch landed as NEW segments beside old ones
      assert(ix2.segmentCounts.exists(_ >= 2))
      // a maintenance batch must not resurrect deleted ids
      assert(ix2.deletedCount == 1)
      assert(!ix2.topK(terms, 10).exists(_._1 == victim))
      // compacting the tombstones away restores exact union serving
      ix2.clearDeletes()
      close(ix2.topK(terms, 25).toSeq,
        fullScan(docs.filter(col("doc_id") < 450), terms, 25))
    } finally { ix2.unpersist(); ix.unpersist() }
  }

  test("insert of an RDD-backed batch equals a rebuild") {
    val a = docs.filter(col("doc_id") % 4 =!= 3)
    val local = docs.filter(col("doc_id") % 4 === 3)
    // this shape made the batch's row-count Observation report 0
    val b = spark.createDataFrame(spark.sparkContext.parallelize(local.collect().toSeq), local.schema)
      .groupBy("doc_id").agg(first("text").as("text")).persist()
    b.count()
    val ix = Bm25Index.build(a, "doc_id", "text", shards = 4)
    val ix2 = ix.insert(b, "doc_id", "text")
    try {
      assert(ix2.docCount == docs.count())
      for (terms <- Seq(Seq("query"), Seq("query", "scan", "data"), Seq("vector", "merge")))
        close(ix2.topK(terms, 25).toSeq, fullScan(docs, terms, 25))
    } finally { ix2.unpersist(); ix.unpersist(); b.unpersist() }
  }

  test("empty insert batch is a no-op returning the same instance") {
    assert(index.insert(docs.filter(lit(false)), "doc_id", "text") eq index)
  }

  test("compact merges segments in place: bit-equal serving, tombstones carried") {
    import graft.operators.{SelfQueryFilter => F}
    val node: F.Node = F.Eq("lang", F.S("en"))
    val meta = Seq("lang", "n_chars")
    val ix0 = Bm25Index.build(docs.filter(col("doc_id") < 300),
      "doc_id", "text", shards = 4, metaCols = meta)
    val ix1 = ix0.insert(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
      "doc_id", "text")
    val ix2 = ix1.insert(docs.filter(col("doc_id") >= 400 && col("doc_id") < 500),
      "doc_id", "text")
    ix2.delete(Seq(ix2.topK(Seq("query"), 1).head._1))
    val c = ix2.compact()
    try {
      assert(ix2.segmentCounts.exists(_ >= 2) && c.segmentCounts.forall(_ <= 1))
      assert(c.docCount == ix2.docCount && c.sumDl == ix2.sumDl)
      assert(c.deletedCount == 1) // stats-preserving merge CARRIES deletes
      for (terms <- Seq(Seq("query", "data"), Seq("scan", "vector", "merge")))
        close(c.topK(terms, 25).toSeq, ix2.topK(terms, 25).toSeq)
      close(c.topK(Seq("query", "data"), 20, Some(node)).toSeq,
        ix2.topK(Seq("query", "data"), 20, Some(node)).toSeq)
    } finally { c.unpersist(); ix2.unpersist(); ix1.unpersist(); ix0.unpersist() }
  }

  // ---- durability (save/load) ------------------------------------------

  test("save/load round trip: bit-equal serving, compacted segments, stats verbatim") {
    val a = docs.filter(col("doc_id") < 400)
    val b = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
    val ix = Bm25Index.build(a, "doc_id", "text", shards = 4)
      .insert(b, "doc_id", "text") // durable artifact of an LSM chain
    val path = s"${TestSpark.tmpRoot}/bm25_spec_rt"
    Bm25Index.save(spark, ix, path)
    val loaded = Bm25Index.load(spark, path)
    try {
      assert(loaded.docCount == ix.docCount && loaded.sumDl == ix.sumDl)
      // save compacts: one segment per non-empty shard after reload
      assert(loaded.segmentCounts.forall(_ <= 1))
      for (terms <- Seq(Seq("query"), Seq("query", "scan", "data")))
        close(loaded.topK(terms, 25).toSeq, ix.topK(terms, 25).toSeq)
      // insert into LOADED routes like insert into the original: the
      // restored partitioner reproduces the build's doc→shard placement
      val c = docs.filter(col("doc_id") >= 450 && col("doc_id") < 500)
      val g1 = ix.insert(c, "doc_id", "text")
      val g2 = loaded.insert(c, "doc_id", "text")
      try close(g2.topK(Seq("query", "data"), 25).toSeq,
        g1.topK(Seq("query", "data"), 25).toSeq)
      finally { g1.unpersist(); g2.unpersist() }
    } finally { loaded.unpersist(); ix.unpersist() }
  }

  test("tombstones persist through save/load; pinned meta round-trips durably") {
    val ix = Bm25Index.build(docs.filter(col("doc_id") < 300), "doc_id", "text", 4)
    val victim = ix.topK(Seq("query"), 1).head._1
    ix.delete(Seq(victim))
    val path = s"${TestSpark.tmpRoot}/bm25_spec_tomb"
    Bm25Index.save(spark, ix, path)
    val loaded = Bm25Index.load(spark, path)
    try {
      assert(loaded.deletedCount == 1)
      assert(!loaded.topK(Seq("query"), 10).exists(_._1 == victim))
      loaded.clearDeletes()
      assert(loaded.topK(Seq("query"), 10).exists(_._1 == victim))
    } finally { loaded.unpersist(); ix.unpersist() }
    // durable FILTERED serving (r8): a pinned index saves its meta
    // columns and a reload serves the same filtered results without ever
    // seeing the corpus — load takes only the artifact path, so "no
    // re-tokenize / no meta re-pack from source" holds by construction;
    // this asserts the serving equivalence and the restored schema
    import graft.operators.{SelfQueryFilter => F}
    val pinned = Bm25Index.build(docs.filter(col("doc_id") < 100),
      "doc_id", "text", 2, metaCols = Seq("lang", "n_chars"))
    try {
      val path2 = s"${TestSpark.tmpRoot}/bm25_spec_pinned"
      Bm25Index.save(spark, pinned, path2)
      val lp = Bm25Index.load(spark, path2)
      try {
        assert(lp.metaNames.toSeq == pinned.metaNames.toSeq)
        assert(lp.metaKinds.toSeq == pinned.metaKinds.toSeq)
        val node: F.Node =
          F.And.of(F.Eq("lang", F.S("en")), F.Gt("n_chars", F.I(150)))
        close(lp.topK(Seq("query", "data"), 15, Some(node)).toSeq,
          pinned.topK(Seq("query", "data"), 15, Some(node)).toSeq)
        // and the filtered loaded index still honors fresh tombstones
        val hit = lp.topK(Seq("query", "data"), 1, Some(node)).head._1
        lp.delete(Seq(hit))
        assert(!lp.topK(Seq("query", "data"), 15, Some(node)).exists(_._1 == hit))
      } finally lp.unpersist()
    } finally pinned.unpersist()
  }

  test("per-shard accumulators are k-bounded; merge input <= P*k per query") {
    // CI twin of the 2M-row soak's accumulator measurement: each shard's
    // heap returns <= k rows per query, and merging the per-shard leg
    // reproduces topKBatch exactly
    val qs = Seq(Seq("data", "query"), Seq("the", "scan", "vector"))
    val k = 5
    val per = index.topKBatchPerShard(qs, k)
    assert(per.nonEmpty)
    per.foreach { shard =>
      assert(shard.length == qs.length)
      shard.foreach(list => assert(list.length <= k))
    }
    val merged = index.topKBatch(qs, k)
    val manual = (0 until qs.length).map { qi =>
      per.iterator.flatMap(_(qi)).toArray
        .map { case (doc, dl, sc) => (doc, dl, sc, graft.operators.Bm25Index.round6(sc)) }
        .sortBy { case (doc, _, _, r) => (-r, doc) }.take(k)
        .map { case (doc, dl, sc, _) => (doc, dl, sc) }.toSeq
    }
    assert(merged.map(_.toSeq).toSeq == manual)
  }
}
