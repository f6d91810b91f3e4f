package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD

/** BOUNDED LRU registry for session-lifetime serving structures — the
  * memory governor for everything this engine pins executor-side between
  * queries: [[PackedScan]] packed blocks, [[GraphAnn]]/[[IvfGraph]] graph
  * blocks, [[PqIndex]]/[[Sq8Index]] encoded tables, [[AnnIndex]] fitted
  * in-memory indexes.
  *
  * Why it exists: a serving session outlives any one query. The reference
  * serves several tables concurrently (Wikipedia + ArXiv + per-user
  * private KBs, `app/backend/construct/build_all.py:34-49`), and each
  * table a user touches builds an index structure that stays resident.
  * Unbounded memos (round 3 shipped one TrieMap per operator, nothing
  * ever unpersisted) mean pinned bytes grow monotonically until executor
  * storage pressure degrades EVERY query — the round-3 bench recorded
  * exactly that signature. A serving tier needs the same policy an OS
  * page cache has: admit everything, evict least-recently-used when over
  * budget.
  *
  * Accounting is by the structure's own byte estimate (exact for packed
  * arrays, approximate for cached DataFrames — order-of-magnitude is what
  * the budget needs). Eviction calls the structure's evict thunk
  * (`RDD.unpersist` / `DataFrame.unpersist`) and drops the memo entry, so
  * the next `getOrBuild` rebuilds from source.
  *
  * RESIDENCY CONTRACT of the block structures ([[PackedScan]],
  * [[Bm25Index]], [[GraphAnn]], [[IvfGraph]]): their blocks are pinned by
  * [[pin]], without the lineage back to the source they were built from.
  * A block is never silently recomputed — a recompute would read the
  * source as it is NOW and could mix snapshots (Bm25's build-time
  * N/sumDl against recomputed postings). Instead:
  *   - memory pressure spills pinned blocks to disk, it does not drop them;
  *   - a block lost with its executor, or unpersisted under a live query,
  *     makes that serving call fail loudly ([[serve]]), and the failing
  *     call evicts the instance (matched by identity), so the next
  *     `getOrBuild` rebuilds it from the source of truth.
  * An instance that answers, answers from exactly what it built; one that
  * lost data answers nothing.
  *
  * Budget default 16 GiB (local[32] has 128 GiB; a real cluster sets
  * `GRAFT_SERVING_CACHE_BYTES` to a fraction of executor storage memory).
  */
object ServingCache {

  /** Pin a serving structure's block RDD without its source lineage
    * (`localCheckpoint`, storage MEMORY_AND_DISK): the first job over
    * `blocks` stores every partition and cuts the lineage to the stored
    * blocks, so a query task ships only the block RDD, and the structure
    * stops holding its source plan (FileScanRDD, SQL closures, generated
    * code). Callers materialize right away with their sizing job.
    */
  def pin[T](blocks: RDD[T]): RDD[T] = blocks.localCheckpoint()

  /** One serving job over the [[pin]]ned `blocks` of `owner`: `f` runs
    * on each listed partition (all by default), results in partition
    * order. `f` ships inside a plain class, not a lambda: for a lambda,
    * SparkContext's closure cleaner re-parses the bytecode of the class
    * that declared it (for `collect`, all of RDD) on every job; for a
    * plain class it returns at once.
    *
    * A lost block fails the job — nothing can recompute it; that failure
    * evicts `owner` by identity and rethrows, so the caller sees the loss
    * and the next `getOrBuild` rebuilds.
    */
  def serve[T, U: ClassTag](owner: AnyRef, blocks: RDD[T],
      parts: Option[Seq[Int]] = None)(f: Iterator[T] => U): Array[U] =
    try blocks.sparkContext.runJob(blocks, new PartitionFn(f),
      parts.getOrElse(blocks.partitions.indices))
    catch {
      case e: Throwable if lostBlock(e) =>
        evictValue(owner)
        throw new IllegalStateException(
          s"pinned blocks of a ${owner.getClass.getSimpleName} were lost; " +
            "the instance is evicted from ServingCache and must be rebuilt", e)
    }

  private final class PartitionFn[T, U](f: Iterator[T] => U)
      extends ((TaskContext, Iterator[T]) => U) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[T]): U = f(it)
  }

  private def lostBlock(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"))

  private final class Entry(val bytes: Long, val value: AnyRef,
      val evictFn: () => Unit)

  /** Malformed / non-positive GRAFT_SERVING_CACHE_BYTES must not poison
    * object init (an ExceptionInInitializerError on first cache use) or
    * thrash (a 0/negative budget evicts on every admit) — fall back to
    * the 16 GiB default.
    */
  @volatile private var budget: Long =
    sys.env.get("GRAFT_SERVING_CACHE_BYTES")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .filter(_ > 0)
      .getOrElse(16L << 30)

  /** accessOrder = true: iteration order is least-recently-USED first. */
  private val lru =
    new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)

  def maxBytes: Long = budget

  /** Set the byte budget and immediately enforce it. */
  def setMaxBytes(b: Long): Unit = synchronized { budget = b; enforce(None) }

  def totalBytes: Long = synchronized {
    var t = 0L
    lru.values.forEach(e => t += e.bytes)
    t
  }

  def size: Int = synchronized(lru.size)

  def contains(key: String): Boolean = synchronized(lru.containsKey(key))

  /** Snapshot of the resident values; leaves the LRU order untouched. */
  def residents: Seq[AnyRef] = synchronized {
    val b = Seq.newBuilder[AnyRef]
    lru.values.forEach(e => b += e.value)
    b.result()
  }

  /** One lock object per key, so concurrent builds of the SAME key
    * serialize (the loser of the old optimistic race would unpersist its
    * own DataFrame — but Spark's CacheManager keys cached data by logical
    * plan, so for plan-identical builds that unpersist also dropped the
    * winner's just-registered cache, defeating the memo). Distinct keys
    * still build fully concurrently. The map grows by one plain Object
    * per key ever requested — bytes, not a leak.
    */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]

  /** Keys whose per-key build lock the current thread holds — re-entry
    * detection. A build closure that transitively calls getOrBuild for
    * ANOTHER key while holding one lock can deadlock against a thread
    * acquiring the same two locks in the opposite order; failing fast
    * with a clear message beats a frozen executor.
    */
  private val building = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue(): java.util.HashSet[String] =
      new java.util.HashSet[String]
  }

  /** Memoized build: returns the cached value (refreshing its LRU
    * position) or builds, registers, and enforces the budget. `build`
    * returns (value, pinnedBytes, evictThunk). The build runs OUTSIDE the
    * registry lock (it launches Spark jobs); same-key builds are
    * serialized by a per-key lock so exactly one build runs and everyone
    * else waits for its result.
    *
    * CONSTRAINT: a build closure must not call getOrBuild (lock-ordering
    * deadlock between two nesting builds) — compose the structures
    * OUTSIDE and register the composite, or register the parts under
    * their own keys first. Violations throw IllegalStateException
    * immediately instead of deadlocking.
    */
  def getOrBuild[T <: AnyRef](key: String)(build: => (T, Long, () => Unit)): T = {
    val held = building.get()
    if (!held.isEmpty)
      throw new IllegalStateException(
        s"nested ServingCache.getOrBuild('$key') inside build of '${held.iterator.next()}' — " +
          "build closures must not call getOrBuild (deadlock risk); " +
          "build the parts under their own keys first")
    val lock = buildLocks.computeIfAbsent(key, _ => new Object)
    held.add(key)
    try lock.synchronized {
      synchronized {
        val hit = lru.get(key)
        if (hit != null) return hit.value.asInstanceOf[T]
      }
      val (v, bytes, evictFn) = build
      synchronized {
        lru.put(key, new Entry(bytes, v, evictFn))
        enforce(Some(key))
      }
      v
    } finally held.remove(key)
  }

  /** ACTUAL pinned bytes of a materialized `.cache()`d DataFrame, read
    * from the InMemoryRelation's size accumulator (populated once an
    * action has run — call after `df.count()`). Schema-heuristic
    * estimates undercount badly when the cached plan carries payload
    * columns the caller didn't think about (a `df.withColumn(code)`
    * caches ALL source columns, document text included); the accumulator
    * is what storage memory really holds. Falls back to the caller's
    * estimate when no materialized relation is found.
    *
    * Only accumulator-backed values are trusted: `r.stats.sizeInBytes`
    * silently substitutes the PRE-materialization plan estimate when the
    * accumulator is 0 (empty table, or a relation whose buffers never
    * loaded), and that estimate can be wildly inflated (join/default
    * sizeInBytes) — large enough to evict every other resident structure.
    * An empty-but-loaded cache correctly reports 0 bytes here.
    */
  def cachedBytes(df: org.apache.spark.sql.DataFrame, fallback: Long): Long = {
    val loaded = df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder.sizeInBytesStats.value.longValue
    }
    if (loaded.nonEmpty) loaded.sum else fallback
  }

  /** Evict one key (no-op if absent). */
  def evict(key: String): Unit = synchronized {
    val e = lru.remove(key)
    if (e != null) { try e.evictFn() catch { case _: Throwable => } }
  }

  /** Evict every entry holding `v` (identity; no-op if none). */
  private def evictValue(v: AnyRef): Unit = synchronized {
    val it = lru.values.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.value eq v) { it.remove(); try e.evictFn() catch { case _: Throwable => } }
    }
  }

  /** Unpin everything — the between-batteries reset the bench uses so
    * each measured battery runs against only its own resident set.
    */
  def evictAll(): Unit = synchronized {
    lru.values.forEach(e => { try e.evictFn() catch { case _: Throwable => } })
    lru.clear()
  }

  /** Drop least-recently-used entries until under budget; the entry being
    * admitted (`keep`) survives even if it alone exceeds the budget — a
    * structure larger than the whole budget still has to serve the query
    * that built it.
    */
  private def enforce(keep: Option[String]): Unit = {
    var total = 0L
    lru.values.forEach(e => total += e.bytes)
    val it = lru.entrySet().iterator()
    while (total > budget && it.hasNext) {
      val e = it.next()
      if (!keep.contains(e.getKey)) {
        it.remove()
        total -= e.getValue.bytes
        try e.getValue.evictFn() catch { case _: Throwable => }
      }
    }
  }
}
