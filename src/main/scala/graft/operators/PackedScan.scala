package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graft.VectorKernels

/** MEMOIZED IN-MEMORY PACKED RELATION — the repeated-query serving path
  * for exact k-NN.
  *
  * The parquet scan path (q20/q91) is the right plan for a first query:
  * one pass, zero exchanges, TakeOrderedAndProject. But a SERVING workload
  * re-scans the same corpus per query, and there the bottleneck is not
  * the distance kernel (a cached tight loop sustains ~34 M vectors/s on
  * 32 threads — KnnBench ceiling probe) but parquet re-decode and per-row
  * UnsafeRow materialization. This operator removes both: each partition
  * is pinned as ONE contiguous float[] (dim-strided) plus a long[] of
  * ids, pinned as plain JVM arrays without their source lineage
  * ([[ServingCache.pin]]: spilled to disk under memory pressure, never
  * recomputed from a source that may have changed since the build; a
  * lost block fails the query and evicts the instance), and a query is
  * one job that walks the block with [[VectorKernels.cosineStrided]]
  * into a bounded per-partition top-k, merged on the driver.
  *
  * This is the same structure a 1000-executor serving tier would hold:
  * hot partitions pinned executor-side, queries scatter-gather per-
  * partition top-k (the scatter-gather shape MyScale's distributed MSTG
  * queries have; the reference delegates it wholesale,
  * `app/backend/vector_store/myscale_without_metadata.py:28-36`).
  *
  * FILTERED serving (round 7): metadata columns can be pinned beside the
  * vectors ([[MetaPredicate.Col]] primitive arrays parallel to `ids`),
  * and [[topKBatch]] takes an optional [[SelfQueryFilter]] AST compiled
  * once per block into a row gate — the reference's dominant query shape
  * (`PREWHERE where_str ORDER BY distance(...) LIMIT k`,
  * `myscale_without_metadata.py:20-36`) on the pinned path: filter
  * first, distance only on survivors, exact k results.
  *
  * TOMBSTONE deletes (round 7): [[delete]] registers ids that must stop
  * being served immediately — the reference deletes from indexed tables
  * while serving (`private_knowledge_base.py:93-99,136-138`). The
  * tombstone set is driver-held, snapshotted into each query batch, and
  * consulted per row (binary search over a sorted long[]); the workload
  * contract is BOUNDED deletes between rebuilds (a KB removes files, not
  * corpus fractions), so the set rides the task closure. Compaction =
  * rebuild without the tombstoned rows (evict the [[ServingCache]] key).
  *
  * Results are BIT-identical to the DataFrame scans: cosineStrided
  * reduces in the canonical VectorKernels order, and ties break by id
  * exactly like `.orderBy(dist, id)` — so the whole path is oracle-gated
  * (q108, and q121/q122 for the filtered/tombstoned forms) against the
  * same DuckDB SQL as q20.
  */
final class PackedScan private (
    private[operators] val blocks: RDD[PackedScan.Block], val dim: Int,
    val rows: Long, val bytes: Long,
    metaNames: Array[String], metaKinds: Array[Int],
    persisted: Seq[RDD[PackedScan.Block]]) {

  /** Sorted tombstoned ids; volatile so a query batch snapshots one
    * consistent array. Mutated only under `this` lock in [[delete]].
    */
  @volatile private var tombstones: Array[Long] = Array.emptyLongArray

  /** Register ids to stop serving NOW (no rebuild). Idempotent; ids not
    * present in the corpus are harmless. Returns the tombstone count.
    */
  def delete(ids: Iterable[Long]): Int = synchronized {
    tombstones = (tombstones ++ ids).distinct.sorted
    tombstones.length
  }

  def deletedCount: Int = tombstones.length

  /** Drop all tombstones (e.g. after the backing table was rebuilt). */
  def clearDeletes(): Unit = synchronized { tombstones = Array.emptyLongArray }

  /** Ids whose pinned metadata passes `filter` (not already tombstoned)
    * — the retention enumeration, answered from the pinned blocks: one
    * meta-only job, no distance math. Requires metaCols at build.
    */
  def idsWhere(filter: SelfQueryFilter.Node): Array[Long] = {
    require(metaNames.nonEmpty,
      "idsWhere needs metadata columns pinned at build (metaCols)")
    val tomb = tombstones
    ServingCache.serve(this, blocks) { it =>
      it.flatMap { b =>
        val pred = MetaPredicate.bind(filter, b.meta)
        (0 until b.ids.length).iterator.collect {
          case i if pred(i) &&
            (tomb.isEmpty ||
              java.util.Arrays.binarySearch(tomb, b.ids(i)) < 0) => b.ids(i)
        }
      }.toArray
    }.flatten.sorted
  }

  /** `DELETE WHERE` on the live scan tier (tombstones; [[compact]] is
    * the purge — it already drops tombstoned rows physically).
    */
  def deleteWhere(filter: SelfQueryFilter.Node): Int = delete(idsWhere(filter))

  /** Serving-tier TTL (deterministic cutoff, see [[graft.operators
    * .Bm25Index.applyTtl]]): tombstone rows whose pinned `tsCol` is
    * strictly older; a following [[compact]] bounds the tombstone array.
    */
  def applyTtl(tsCol: String, cutoff: String): Int =
    deleteWhere(SelfQueryFilter.Lt(tsCol, SelfQueryFilter.T(cutoff)))

  /** What [[PackedScan.buildCached]] packed this instance from, for SQL
    * routing ([[graft.plans.PackedTopKStrategy]]). Cleared by
    * [[unpersist]], so an evicted or released instance never answers SQL;
    * insert and compact children never carry one.
    */
  @volatile private[graft] var source: Option[PackedScan.Source] = None

  /** Exact top-k (id, cosine distance), ascending by (dist, id) in
    * Spark's double order ([[PackedScan.before]]).
    */
  def topK(q: Array[Float], k: Int,
      filter: Option[SelfQueryFilter.Node] = None): Array[(Long, Double)] =
    topKBatch(Array(q), k, filter).head

  /** [[topK]] over the rows as built, tombstones not applied: the answer
    * the SQL over [[source]] gives. The router declines a scan with
    * tombstones; this keeps a delete racing a routed query out of it too.
    */
  private[graft] def topKAsBuilt(q: Array[Float], k: Int,
      filter: Option[SelfQueryFilter.Node]): Array[(Long, Double)] =
    merge(1, k, topKBatchPerPart(Array(q), k, filter, Array.emptyLongArray)).head

  /** BATCHED exact top-k: Q queries answered in ONE Spark job.
    *
    * A serving workload is concurrent — the reference serves several
    * users over 3+ tables at once (`app/backend/construct/build_all.py:
    * 34-49`) — and one Spark job per query makes scheduling overhead the
    * bottleneck (measured: a single served query runs BELOW the one-pass
    * parquet scan). Batching fixes the economics twice over: one job
    * amortizes the ~5 ms scheduling cost across Q queries, and the
    * row-outer/query-inner loop reads each pinned vector from memory ONCE
    * for all Q distance computations (the vector stays in L1 across the
    * inner loop), so memory traffic is rows×dim×4 B per BATCH instead of
    * per query.
    *
    * With a `filter`, the AST binds once per block ([[MetaPredicate.bind]]
    * resolves attributes and literal types outside the loop) and gates
    * each row BEFORE the Q-way distance loop — the whole batch shares one
    * predicate, the PREWHERE shape. Tombstoned rows are skipped the same
    * way. The unfiltered path pays only two loop-invariant branch tests
    * per row.
    *
    * Per query the result is the identical bounded insertion + (dist, id)
    * merge as the single-query path — `topK` IS `topKBatch` of one, so
    * q108's oracle gate covers both.
    */
  def topKBatch(qs: Array[Array[Float]], k: Int,
      filter: Option[SelfQueryFilter.Node] = None): Array[Array[(Long, Double)]] = {
    if (qs.isEmpty) return Array.empty
    if (k <= 0) return Array.fill(qs.length)(Array.empty)
    merge(qs.length, k, topKBatchPerPart(qs, k, filter))
  }

  /** Driver merge of the per-partition lists: global (dist, id) order. */
  private def merge(nq: Int, k: Int,
      perPart: Array[Array[Array[(Long, Double)]]]): Array[Array[(Long, Double)]] =
    Array.tabulate(nq) { qi =>
      perPart.iterator.flatMap(_(qi)).toArray
        .sortWith((a, b) => PackedScan.before(a._2, a._1, b._2, b._1)).take(k)
    }

  /** The per-partition leg of [[topKBatch]]: one entry per partition,
    * each holding Q local top-k lists of ≤ k rows (bounded insertion —
    * the per-partition accumulator). Exposed so the serving soak can
    * MEASURE the driver-merge input (Σ partition list sizes ≤ P×k per
    * query) instead of trusting the structural bound.
    */
  private[graft] def topKBatchPerPart(qs: Array[Array[Float]], k: Int,
      filter: Option[SelfQueryFilter.Node] = None,
      tomb: Array[Long] = tombstones) // one consistent snapshot per batch
      : Array[Array[Array[(Long, Double)]]] = {
    if (qs.isEmpty || k <= 0) return Array.empty
    val nq = qs.length
    val qnorms = qs.map(q => math.sqrt(VectorKernels.norm2(q)))
    ServingCache.serve(this, blocks) { it =>
      // bounded insertion top-k per (partition, query): k is tiny (10ish),
      // so the branch-predictable insertion beats a heap. Slots past
      // found(qi) are empty, so a NaN distance (zero-norm row or query)
      // is admitted while the list has room and sorts after every number.
      val bestD = Array.fill(nq)(new Array[Double](k))
      val bestId = Array.fill(nq)(new Array[Long](k))
      val found = new Array[Int](nq)
      val hasTomb = tomb.length > 0
      it.foreach { b =>
        val pred: Int => Boolean =
          filter.map(MetaPredicate.bind(_, b.meta)).orNull
        val hasPred = pred ne null
        val n = b.ids.length
        val dim = b.dim
        var r = 0
        while (r < n) {
          val id = b.ids(r)
          if ((!hasPred || pred(r)) &&
              (!hasTomb || java.util.Arrays.binarySearch(tomb, id) < 0)) {
            val off = r * dim
            var qi = 0
            while (qi < nq) {
              val d = VectorKernels.cosineStrided(b.vecs, off, dim, qs(qi), qnorms(qi))
              val bd = bestD(qi)
              val bi = bestId(qi)
              val f = found(qi)
              if (f < k || PackedScan.before(d, id, bd(k - 1), bi(k - 1))) {
                var p = if (f < k) f else k - 1
                while (p > 0 && PackedScan.before(d, id, bd(p - 1), bi(p - 1))) {
                  bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1
                }
                bd(p) = d; bi(p) = id
                if (f < k) found(qi) = f + 1
              }
              qi += 1
            }
          }
          r += 1
        }
      }
      Array.tabulate(nq)(qi =>
        Array.tabulate(found(qi))(i => (bestId(qi)(i), bestD(qi)(i))))
    }
  }

  /** Top-k as a DataFrame (vec_id, dist) for plan composition / gating. */
  def topKDF(spark: SparkSession, q: Array[Float], k: Int,
      filter: Option[SelfQueryFilter.Node] = None): DataFrame = {
    import spark.implicits._
    topK(q, k, filter).toSeq.toDF("vec_id", "dist")
  }

  /** TRUE incremental insert — the batch packs into NEW blocks and the
    * serving relation becomes the UNION of the pinned base and the
    * pinned batch (the LSM segment shape shared with [[Bm25Index.insert]]
    * and [[GraphAnn.insert]]): existing blocks are untouched, per-batch
    * cost ∝ batch size. The scan kernel already folds every block of
    * every partition into one bounded top-k and the driver merge is
    * global by (dist, id), so served results equal a rebuild over the
    * union EXACTLY (q142 reuses q108's full-corpus oracle).
    *
    * Contract: new ids only (upserts are the MVCC layer's job — the
    * IvfGraph.insertInto contract); a metadata-pinned instance requires
    * the batch to carry the SAME pinned columns at the same types
    * (checked loudly). Tombstones carry to the new instance. Compaction
    * (one block per partition again) = rebuild via ServingCache
    * eviction.
    */
  def insert(batch: DataFrame, idCol: String, embCol: String): PackedScan = {
    val nb = ServingCache.pin(
      PackedScan.packSource(batch, idCol, embCol, metaNames, metaKinds))
    val (bRows, bBytes) = nb
      .map(b => (b.ids.length.toLong, PackedScan.blockBytes(b)))
      .fold((0L, 0L)) { case ((r1, s1), (r2, s2)) => (r1 + r2, s1 + s2) }
    if (bRows == 0) { nb.unpersist(); return this }
    val bDim = nb.filter(_.ids.nonEmpty).take(1).head.dim
    require(rows == 0 || bDim == dim,
      s"batch vector dim $bDim != pinned dim $dim")
    // the child OWNS only the segment it created: unpersisting it must
    // not evict the base blocks an ancestor may still be serving (each
    // instance in an insert chain is unpersisted by its own caller —
    // compact() has the same owns-only-what-it-made contract)
    val merged = new PackedScan(blocks.union(nb),
      if (rows == 0) bDim else dim, rows + bRows, bytes + bBytes,
      metaNames, metaKinds, Seq(nb))
    merged.tombstones = this.tombstones
    merged
  }

  /** COMPACTION — the merge step of the LSM contract, in memory and
    * WITHOUT re-reading the source: per partition, every segment block
    * merges into one, tombstoned rows are dropped PHYSICALLY, and the
    * returned instance starts with zero tombstones (they are applied,
    * not carried). Equals a fresh build over the remaining rows
    * (spec-gated bit-exact, including pinned metadata), which is the
    * documented bounded-deletes contract ("compaction = rebuild") made
    * cheaper: one narrow mapPartitions over the pinned arrays instead
    * of a source-table scan.
    */
  def compact(): PackedScan = {
    val tomb = tombstones
    val names = metaNames
    val kinds = metaKinds
    val nb = ServingCache.pin(blocks.mapPartitions({ it =>
      val rows = it.flatMap { b =>
        Iterator.tabulate(b.ids.length) { i =>
          val v = new Array[Float](b.dim)
          System.arraycopy(b.vecs, i * b.dim, v, 0, b.dim)
          val m = if (names.isEmpty) Array.empty[Any]
            else names.indices.map(j =>
              MetaPredicate.valueAt(b.meta(names(j)), i)).toArray
          (b.ids(i), v, m)
        }
      }.filter { case (id, _, _) =>
        tomb.isEmpty || java.util.Arrays.binarySearch(tomb, id) < 0
      }
      PackedScan.packPartition(rows, names, kinds)
    }, preservesPartitioning = true))
    val (cRows, cBytes) = nb
      .map(b => (b.ids.length.toLong, PackedScan.blockBytes(b)))
      .fold((0L, 0L)) { case ((r1, s1), (r2, s2)) => (r1 + r2, s1 + s2) }
    new PackedScan(nb, dim, cRows, cBytes, names, kinds, Seq(nb))
  }

  /** Blocks per partition (diagnostics; spec asserts the LSM shape). */
  private[graft] def blockCounts: Array[Int] =
    blocks.mapPartitions(it => Iterator.single(it.size)).collect()

  /** Unpersist the pinned segments THIS instance created (build: the base
    * blocks; insert/compact children: only their own segments) — so
    * tearing down a child never evicts blocks an ancestor still serves.
    * Freeing a whole insert chain = unpersist every instance in it, which
    * is what every lifecycle here does (q142's `finally`).
    */
  def unpersist(): Unit = {
    source = None
    persisted.foreach(_.unpersist())
  }

  /** The pinned metadata kinds by column name ([[MetaPredicate.kindOf]]). */
  private[graft] def metaKindOf: Map[String, Int] = metaNames.zip(metaKinds).toMap

  /** False once the SparkContext that holds the blocks has stopped. */
  private[graft] def live: Boolean = !blocks.sparkContext.isStopped
}

object PackedScan {

  /** One partition's pinned data: ids[i] owns vecs[i*dim, (i+1)*dim);
    * meta columns are primitive arrays parallel to ids.
    */
  final case class Block(ids: Array[Long], vecs: Array[Float], dim: Int,
      meta: Map[String, MetaPredicate.Col] = Map.empty)

  /** Memoized through [[ServingCache]]: resident until the LRU byte
    * budget evicts it (keyed by caller key + columns so nothing aliases);
    * a rebuilt instance after eviction returns identical results.
    * NB tombstones live on the INSTANCE: eviction drops them with the
    * blocks, and the rebuild re-reads the (post-delete) source of truth.
    */
  def buildCached(df: DataFrame, cacheKey: String, idCol: String,
      embCol: String, metaCols: Seq[String] = Nil): PackedScan = {
    // meta-less keys keep the historical format so existing callers
    // (and byte-budget tests) address the same entries
    val metaKey = if (metaCols.isEmpty) "" else metaCols.mkString("#", ",", "")
    ServingCache.getOrBuild(s"packed#$cacheKey#$idCol#$embCol$metaKey") {
      val ps = build(df, idCol, embCol, metaCols)
      ps.source = Source.of(df, idCol, embCol, metaCols)
      (ps, ps.bytes, () => ps.unpersist())
    }
  }

  /** Live [[buildCached]] instances that recorded their source. */
  private[graft] def routable: Seq[PackedScan] =
    ServingCache.residents.collect { case ps: PackedScan if ps.source.isDefined => ps }

  /** Spark's ascending double order for `ORDER BY dist, id`: NaN after
    * every number, NaNs equal to each other, -0.0 equal to 0.0; ties break
    * by id. Numbers take the first two tests.
    */
  private[graft] def before(d: Double, id: Long, d2: Double, id2: Long): Boolean =
    if (d < d2) true
    else if (d > d2) false
    else if (d == d2 || (d != d && d2 != d2)) id < id2
    else d2 != d2 // exactly one NaN: the number comes first

  /** What a build read: the source's analyzed plan, the (path, size,
    * mtime) listing its file indexes held at build, and the positions in
    * `plan.output` of the pinned id, embedding and metadata columns.
    */
  final case class Source(plan: LogicalPlan, listing: Seq[(String, Long, Long)],
      idPos: Int, embPos: Int, metaPos: Map[Int, String])

  object Source {
    /** None unless every leaf of `df`'s plan is a file relation over an
      * in-memory listing, the plan is deterministic and every pinned column
      * names exactly one output column.
      */
    def of(df: DataFrame, idCol: String, embCol: String,
        metaCols: Seq[String]): Option[Source] = {
      val plan = df.queryExecution.analyzed
      val out = plan.output
      val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
      def pos(name: String): Option[Int] =
        out.indices.filter(i => resolver(out(i).name, name)) match {
          case Seq(i) => Some(i)
          case _ => None
        }
      for {
        ls <- listing(plan) if plan.deterministic
        idPos <- pos(idCol)
        embPos <- pos(embCol)
        meta = metaCols.flatMap(m => pos(m).map(_ -> m))
        if meta.length == metaCols.length
      } yield Source(plan, ls, idPos, embPos, meta.toMap)
    }

    /** The file listing of every leaf, read from the in-memory file
      * indexes (no file-system call); None if a leaf is anything else.
      */
    def listing(plan: LogicalPlan): Option[Seq[(String, Long, Long)]] = {
      val leaves = plan.collectLeaves().map {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location match {
            case ix: InMemoryFileIndex => Some(ix.allFiles().map(f =>
              (f.getPath.toString, f.getLen, f.getModificationTime)).sorted)
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
      if (leaves.isEmpty || leaves.exists(_.isEmpty)) None else Some(leaves.flatten.flatten)
    }
  }

  // canonical pinned kinds: 0 = Long, 1 = Double, 2 = String, 3 = Boolean
  private def kindOf(t: DataType, name: String): Int =
    MetaPredicate.kindOf(t, name)

  /** Pack (one pass over the source) and pin ([[ServingCache.pin]]).
    * `metaCols` are pinned as typed primitive arrays for [[MetaPredicate]]
    * filtering; integral → Long, floating → Double, plus String and
    * Boolean. Pinned metadata must be non-null (see [[MetaPredicate]] null
    * contract).
    */
  def build(df: DataFrame, idCol: String, embCol: String,
      metaCols: Seq[String] = Nil): PackedScan = {
    // a serving corpus inherits the SOURCE's partitioning, and a corpus
    // that arrives as one parquet file would pack into one block — zero
    // scan parallelism (the 2M-row soak measured 4.7 qps single-block vs
    // one-block-per-core). Results are layout-independent (exact top-k,
    // deterministic (dist, id) merge), so widening is always safe.
    val p = df.sparkSession.sparkContext.defaultParallelism
    val src = if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    val names = metaCols.toArray
    val kinds = if (metaCols.isEmpty) Array.empty[Int]
      else src.select(metaCols.map(col): _*).schema.fields.map(_.dataType)
        .zip(names).map { case (t, n) => kindOf(t, n) }
    fromBlocks(packSource(src, idCol, embCol, names, kinds), names, kinds)
  }

  /** Pack a source DataFrame into per-partition Blocks — shared by build
    * (whole corpus) and [[PackedScan.insert]] (a batch, which must match
    * the instance's pinned metadata schema; checked here loudly).
    */
  private def packSource(df: DataFrame, idCol: String, embCol: String,
      names: Array[String], kinds: Array[Int]): RDD[Block] = {
    val spark = df.sparkSession
    import spark.implicits._
    if (names.isEmpty) {
      // fast path: typed encoder, no Row boxing
      val src = df.select(col(idCol).cast("long"), col(embCol))
        .as[(Long, Array[Float])]
      val empty = Array.empty[Any]
      src.rdd.mapPartitions { it =>
        packPartition(it.map { case (id, v) => (id, v, empty) },
          Array.empty, Array.empty)
      }
    } else {
      val projected = df.select(
        (col(idCol).cast("long") +: col(embCol) +: names.map(col).toSeq): _*)
      val got = projected.schema.fields.drop(2).map(_.dataType)
        .zip(names).map { case (t, n) => kindOf(t, n) }
      require(got.sameElements(kinds),
        s"pinned metadata kinds mismatch: ${got.toSeq} != ${kinds.toSeq}")
      projected.rdd.mapPartitions { it =>
        val rows = it.map { row =>
          (row.getLong(0), row.getSeq[Float](1).toArray,
            MetaPredicate.widenRow(row, base = 2, idIdx = 0, names, kinds))
        }
        packPartition(rows, names, kinds)
      }
    }
  }

  /** Pack one partition's rows into a single Block (empty iterator →
    * no block). `names`/`kinds` empty means no metadata; meta values
    * arrive pre-widened to their canonical kind.
    */
  private def packPartition(it: Iterator[(Long, Array[Float], Array[Any])],
      names: Array[String], kinds: Array[Int]): Iterator[Block] = {
    val ids = Array.newBuilder[Long]
    var vecs = new Array[Float](0)
    var used = 0
    var dim = -1
    // widened values are boxed already (widenRow), so per-column Any
    // builders + MetaPredicate.packCol cover every canonical kind
    val colB = Array.fill(kinds.length)(Array.newBuilder[Any])
    it.foreach { case (id, v, m) =>
      if (dim < 0) dim = v.length
      require(v.length == dim, s"ragged vector: ${v.length} != $dim")
      if (used + dim > vecs.length) {
        val grown = new Array[Float](math.max(dim * 1024, vecs.length * 2))
        System.arraycopy(vecs, 0, grown, 0, used)
        vecs = grown
      }
      System.arraycopy(v, 0, vecs, used, dim)
      used += dim
      ids += id
      var j = 0
      while (j < kinds.length) { colB(j) += m(j); j += 1 }
    }
    val idArr = ids.result()
    if (idArr.isEmpty) Iterator.empty
    else {
      val tight = new Array[Float](used)
      System.arraycopy(vecs, 0, tight, 0, used)
      val meta = names.indices.map { j =>
        names(j) -> MetaPredicate.packCol(kinds(j), colB(j).result())
      }.toMap
      Iterator.single(Block(idArr, tight, dim, meta))
    }
  }

  private def fromBlocks(blocks: RDD[Block], names: Array[String],
      kinds: Array[Int]): PackedScan = {
    ServingCache.pin(blocks)
    // rows + pinned bytes in ONE materializing job (ids: 8 B, floats: 4 B)
    val (rows, bytes) = blocks
      .map(b => (b.ids.length.toLong, blockBytes(b)))
      .fold((0L, 0L)) { case ((r1, s1), (r2, s2)) => (r1 + r2, s1 + s2) }
    val dim = blocks.take(1).headOption.map(_.dim).getOrElse(0)
    new PackedScan(blocks, dim, rows, bytes, names, kinds, Seq(blocks))
  }

  private[operators] def blockBytes(b: Block): Long = {
    val metaBytes = b.meta.valuesIterator.map(MetaPredicate.colBytes).sum
    b.ids.length.toLong * 8 + b.vecs.length.toLong * 4 + metaBytes
  }
}
