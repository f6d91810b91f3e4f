package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** IVF (inverted-file) ANN index: k-means centroids + per-vector cluster
  * assignment; queries prune to the `nprobe` nearest centroids and
  * exact-rerank inside them.
  *
  * Spark-native stand-in for the reference's MSTG vector index
  * (`ALTER TABLE ... ADD VECTOR INDEX vindex vector TYPE
  * MSTG('metric_type=Cosine')`, reference `docs/self-query.md:104`,
  * `app/backend/constants/myscale_tables.py:35,63` — MSTG itself is
  * MyScale-proprietary; IVF/k-means is the standard public alternative,
  * cf. Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * PAMI'11, and the reference keeps cosine as the metric).
  *
  * Scale design: training is a handful of Spark jobs (assignment is a
  * broadcast of k·dim floats + a per-partition argmin loop; re-estimation
  * is one hash aggregation keyed by (cluster, dim)). The fitted index is a
  * `cluster_id` column — at 100 TB you'd persist the assigned table
  * partitioned by `cluster_id` so a query's `isin(nprobe clusters)` prunes
  * parquet partitions and touches nprobe/k of the data. Queries then run
  * the usual exact top-k (TakeOrderedAndProject) inside the probed subset.
  * Everything is deterministic (seed-free: init = first k vectors by id)
  * so CI can assert recall against the exact oracle.
  */
object AnnIndex {

  /** Session-lifetime memo of fitted indexes keyed by source dir: an
    * index is built once and reused by every query against it (q49 ANN
    * API and q72 SQL rewrite share one build). The cached DataFrame is
    * bound to the building session — correct for the driver harness
    * (one session per run) and cleared with the JVM.
    */
  private val fitted =
    new scala.collection.concurrent.TrieMap[String, (Model, DataFrame)]

  def fitCached(df: DataFrame, cacheKey: String, embCol: String, idCol: String,
      k: Int, iters: Int): (Model, DataFrame) =
    fitted.getOrElseUpdate(cacheKey, fit(df, embCol, idCol, k, iters)) match {
      case hit @ (model, _) =>
        // keep the optimizer-rule registry pointing at the active model
        org.apache.spark.sql.graft.AnnTopKRule.register("default", model)
        hit
    }

  final case class Model(centroids: Array[Array[Double]]) {
    def nearest(q: Array[Float], nprobe: Int): Seq[Int] = {
      val qd = q.map(_.toDouble)
      centroids.zipWithIndex
        .map { case (c, i) => (AnnIndex.cosineDist(c, qd), i) }
        .sortBy(x => (x._1, x._2)).take(nprobe).map(_._2).toSeq
    }
  }

  private[operators] def cosineDist(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Adds `cluster_id` = index of the nearest centroid (broadcast k·dim
    * doubles into codegen'd HOF expressions — no UDF, stays in Tungsten).
    *
    * Query-independent terms are hoisted: the row's own norm is computed
    * once into a scratch column (not once per centroid), and centroid
    * norms are precomputed scalar literals — so the per-row cost is one
    * dot product per centroid, same as a hand-written IVF assign loop.
    */
  private def withAssignment(df: DataFrame, embCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val dim = centroids.head.length
    val centLit = array(centroids.map(c => array(c.map(lit): _*)): _*)
    val normLit = array(centroids.map(c => lit(math.sqrt(c.map(x => x * x).sum))): _*)
    val rowNorm = sqrt(aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0),
      (s, j) => s + element_at(col(embCol), j + 1) * element_at(col(embCol), j + 1)))
    // init idx 0, not -1: a row whose distance to every centroid is NaN
    // (zero-norm or NaN-poisoned vector -> 0/0) never wins a comparison,
    // and a -1 sentinel would escape into cluster_id, breaking the
    // residual-PQ centroid/LUT lookups and the partition layout
    val init = struct(lit(0).as("idx"), lit(Double.MaxValue).as("d"))
    val best = aggregate(
      sequence(lit(0), lit(centroids.length - 1)),
      init,
      (acc, i) => {
        val c = element_at(centLit, i + 1)
        val dot = aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0),
          (s, j) => s + element_at(col(embCol), j + 1) * element_at(c, j + 1))
        val d = lit(1.0) - dot / (col("__row_norm") * element_at(normLit, i + 1))
        when(d < acc("d"), struct(i.cast("int").as("idx"), d.as("d"))).otherwise(acc)
      },
      acc => acc("idx"))
    df.withColumn("__row_norm", rowNorm)
      .withColumn("cluster_id", best)
      .drop("__row_norm")
  }

  /** Deterministic k-means++-style seeding over a driver-side sample:
    * first centroid = the lowest-id vector, each next = the sample point
    * with the LARGEST min-distance to the seeds so far (the argmax variant
    * of Arthur & Vassilvitskii SODA'07's D²-sampling; a.k.a. farthest-
    * point / Gonzalez k-center init — fully deterministic, no RNG). On
    * data with real cluster structure this provably covers every
    * well-separated cluster before placing a second seed inside any one
    * of them — exactly what the old first-k-by-id init failed to do, and
    * the root of round 2's recall-per-probe gap.
    *
    * Sample-based seeding is the standard scalable compromise (k-means||
    * is the fully distributed variant); the sample is k*8 capped at 8192 —
    * centroid-count-proportional, KBs to MBs on the driver.
    */
  private def seedFarthest(sample: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val kEff = math.min(k, sample.length)
    val chosen = new Array[Array[Double]](kEff)
    chosen(0) = sample(0)
    val dmin = sample.map(v => cosineDist(v, chosen(0)))
    var c = 1
    while (c < kEff) {
      var best = 0; var bestD = Double.NegativeInfinity
      var i = 0
      while (i < sample.length) {
        // NaN-poisoned rows (zero-norm vectors) never win: NaN > x is false
        if (dmin(i) > bestD) { bestD = dmin(i); best = i }
        i += 1
      }
      chosen(c) = sample(best)
      i = 0
      while (i < sample.length) {
        val d = cosineDist(sample(i), chosen(c))
        if (d < dmin(i)) dmin(i) = d
        i += 1
      }
      c += 1
    }
    chosen
  }

  /** Train k-means (Lloyd's, distributed) with deterministic k-means++
    * seeding from a driver-side sample. Returns the model and the indexed
    * table (input + `cluster_id`). Serving guidance at scale: size k to
    * the target cluster granularity (k ≈ N / 1k–4k rows per cluster), not
    * √N — recall per probe depends on clusters matching the data's real
    * structure, and too-few centroids force wide probes.
    */
  def fit(dfIn: DataFrame, embCol: String, idCol: String, k: Int, iters: Int): (Model, DataFrame) = {
    // scanned iters+1 times during Lloyd's; released after the indexed
    // table materializes, unless the caller had cached it already (a
    // cache left behind would pin a copy of the input and silently
    // redirect unrelated SQL over it)
    val ownsCache = dfIn.storageLevel == StorageLevel.NONE
    val df = dfIn.cache()
    val sampleN = math.min(8192, math.max(k * 8, 256))
    val sample: Array[Array[Double]] =
      df.orderBy(col(idCol)).limit(sampleN).select(embCol).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var centroids: Array[Array[Double]] = seedFarthest(sample, k)
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = withAssignment(df, embCol, centroids)
      // re-estimate with the custom vector_avg aggregate: partial buffers
      // are one double[dim] per (cluster, partition), so the shuffle is
      // k×dim doubles instead of rows×dim exploded rows
      import org.apache.spark.sql.graft.Bridge.{toColumn, toExpr}
      val means = assigned
        .groupBy("cluster_id")
        .agg(toColumn(org.apache.spark.sql.graft.VectorAvg(toExpr(col(embCol)))
          .toAggregateExpression()).as("centroid"))
        .collect()
      val next = centroids.clone()
      means.foreach { r: Row =>
        next(r.getInt(0)) = r.getSeq[Double](1).toArray
      }
      centroids = next
    }
    val model = Model(centroids)
    // make the index visible to the AnnTopKRule optimizer rewrite
    org.apache.spark.sql.graft.AnnTopKRule.register("default", model)
    // The index is MATERIALIZED (cache + force): downstream plans see
    // cluster_id as a concrete InMemoryRelation column, so the ANN rule
    // filters a stored column instead of re-deriving the assignment per
    // row. At 100 TB this would be a parquet write PARTITION BY
    // cluster_id — same contract, durable.
    val indexed = withAssignment(df, embCol, centroids).cache()
    indexed.count()
    // non-cascading: the loaded `indexed` cache keeps serving
    if (ownsCache) df.unpersist()
    (model, indexed)
  }

  /** ANN query: prune to nprobe clusters, exact re-rank inside. */
  def query(indexed: DataFrame, model: Model, embCol: String, idCol: String,
      q: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val probed = model.nearest(q, nprobe)
    VectorStore(indexed.filter(col("cluster_id").isin(probed: _*)), embCol, Seq(idCol))
      .searchByVector(q, k)
  }

  private val persistedIdx =
    new scala.collection.concurrent.TrieMap[String, (Model, String)]

  /** The durable form of the index: the assigned table written as parquet
    * `PARTITION BY cluster_id`. A query's `cluster_id IN (probed...)`
    * then becomes a PARTITION filter — Spark prunes whole directories at
    * planning time and reads ~nprobe/k of the files (asserted in
    * AnnIndexSpec). This is the layout that holds at 100 TB: the in-memory
    * `fitCached` table is a session convenience; a 1000-executor cluster
    * mounts the same parquet and gets identical pruning with zero
    * state-on-driver.
    */
  /** Base dir for locally persisted index artifacts — overridable for
    * deployments where the repo checkout is elsewhere / read-only.
    */
  def tmpRoot: String = sys.env.getOrElse("GRAFT_TMP_DIR", "/root/repo/target/tmp")

  /** STREAMING index maintenance: assign arriving vectors to the FROZEN
    * centroids and append them into the persisted partitioned index — the
    * standard serving-index update pattern (centroids retrain offline;
    * between retrains, inserts only need an assignment pass). Use from
    * `foreachBatch`; each appended file lands under its `cluster_id=N/`
    * partition dir, so probes keep pruning correctly as the index grows.
    */
  def appendAssigned(model: Model, batch: DataFrame, embCol: String,
      indexPath: String): Unit =
    withAssignment(batch, embCol, model.centroids)
      .write.mode("append").partitionBy("cluster_id").parquet(indexPath)

  /** The on-disk location fitPersistedCached used for these parameters. */
  def persistedPath(dir: String, embCol: String, idCol: String,
      k: Int, iters: Int): String =
    s"$tmpRoot/ivf_" + s"$dir#$embCol#$idCol#$k#$iters".replaceAll("[^a-zA-Z0-9]", "_")

  def fitPersistedCached(df: DataFrame, dir: String, embCol: String,
      idCol: String, k: Int, iters: Int): (Model, DataFrame) = {
    // memo key carries every fit parameter: two callers with the same dir
    // but different k/iters/columns must not share an index
    val key = s"$dir#$embCol#$idCol#$k#$iters"
    val (model, path) = persistedIdx.getOrElseUpdate(key, {
      val (m, indexed) = fitCached(df, key, embCol, idCol, k, iters)
      val p = persistedPath(dir, embCol, idCol, k, iters)
      indexed.write.mode("overwrite").partitionBy("cluster_id").parquet(p)
      (m, p)
    })
    (model, df.sparkSession.read.parquet(path))
  }
}
