package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** SERVABLE INVERTED INDEX — the lexical leg's analog of [[PackedScan]].
  *
  * q118's full-scan BM25 is the right plan for a one-off query, but the
  * reference's hybrid workload (vector + lexical legs fused per request,
  * the standard RAG recipe the repo gates as q117) re-scores the same
  * corpus per query. This builds the classic posting-list structure ONCE
  * and serves top-k from postings: per-query work is O(Σ df(term)) over
  * the docs containing a query term, never a corpus scan.
  *
  * Sharding is BY DOCUMENT (the Elasticsearch/Lucene distributed layout),
  * not by term: every (term, doc) posting for a document lives in that
  * document's shard, so each shard computes COMPLETE scores for its own
  * docs and ships only its local top-k — the driver merge is P×k rows
  * regardless of term frequency. (A term-sharded layout was measured
  * first: common query terms made the driver merge carry Σ df postings —
  * 3.3 s/query on a 200k-doc corpus. Doc-sharding bounds the transfer.)
  * The price is denormalizing the GLOBAL df of each term into every
  * shard that holds it (8 B per distinct (shard, term)), computed once
  * at build and PATCHED on every [[insert]].
  *
  * Layout per shard: one or more [[Bm25Index.PostingBlock]] SEGMENTS
  * (one from build; [[insert]] appends one per touched shard — the LSM
  * shape shared with [[GraphAnn.insert]]). A document's postings live
  * entirely in its insertion segment, so per-doc scores accumulate
  * correctly across segments and the per-doc predicate/tombstone gate is
  * evaluated against the doc's own segment. Each segment: sorted unique
  * terms with their global df and offset ranges into parallel
  * (docId, tf, dl) arrays. Doc length is denormalized into each posting
  * so scoring needs only the broadcast (N, avgdl) scalars. BM25 per
  * Robertson & Zaragoza 2009, k1 = 1.2, b = 0.75 — identical constants
  * and operand order as q118.
  *
  * MUTATION model (mirrors PackedScan + IvfGraph):
  *   - [[delete]]: driver-held sorted tombstones, snapshotted per query
  *     batch; deleted docs stop being SERVED immediately. Corpus
  *     statistics (df, N, avgdl) intentionally stay index-level until
  *     compaction — the Lucene deleted-docs contract — and the gated
  *     oracle (q138) scores with full stats while excluding tombstoned
  *     docs from results. Compaction = rebuild (ServingCache eviction).
  *   - [[insert]]: true incremental — the batch packs into NEW segments
  *     (cost ∝ batch), existing segments take a copy-on-write df patch
  *     for the batch's terms (all arrays except dfs shared), and the
  *     global (N, sumDl) scalars advance, so served scores equal a full
  *     rebuild over the union EXACTLY (q137). Tombstones carry to the
  *     new instance — a maintenance batch must not resurrect deletes.
  *
  * Tokenizer (the real one the r6 verdict asked for, replacing q118's
  * substring counts): lowercase, split on non-alphanumerics, drop
  * empties — expressed identically in the Spark build
  * (`filter(split(lower(text), "[^a-z0-9]+"), length > 0)`) and the
  * DuckDB oracle (`list_filter(string_split_regex(lower(text),
  * '[^a-z0-9]+'), x -> x <> '')`), so tf/dl/df agree exactly.
  *
  * Exactness: per-doc contributions accumulate in QUERY-TERM ORDER
  * (absent terms contribute exactly 0.0, and x + 0.0 == x for the
  * non-negative BM25 terms, so skipping them is IEEE-identical to the
  * oracle's `t0 + t1 + t2`), and ranking — shard-local AND at the merge
  * — uses the 6-dp HALF_UP-rounded score with doc_id ties, matching the
  * oracle's `ORDER BY bm25 DESC, doc_id` on the rounded alias, so a
  * last-ulp `ln` divergence can never flip the cutoff. Gated hash-exact
  * against the tokenized full scan (q124; q137/q138 for the
  * insert/delete forms).
  */
final class Bm25Index private (
    blocks: RDD[Bm25Index.PostingBlock],
    val docCount: Long, val sumDl: Long,
    val metaNames: Array[String], val metaKinds: Array[Int], val bytes: Long,
    tombstones0: Array[Long] = Array.emptyLongArray) {

  /** Corpus-mean doc length, derived from the exact integer pair the
    * instance carries so [[insert]] can advance it without float drift.
    */
  def avgDl: Double = if (docCount == 0) 0.0 else sumDl.toDouble / docCount

  /** Sorted tombstoned ids; volatile so a query batch snapshots one
    * consistent array (PackedScan's bounded-deletes contract). Seeded by
    * the constructor — insert/compact carry the parent's set without
    * mutating a not-yet-published sibling.
    */
  @volatile private var tombstones: Array[Long] = tombstones0

  /** Hide `ids` from every subsequent query batch. Ids not present in
    * the index are harmless. Returns the tombstone count.
    */
  def delete(ids: Iterable[Long]): Int = synchronized {
    tombstones = (tombstones ++ ids).distinct.sorted
    tombstones.length
  }

  def clearDeletes(): Unit = synchronized { tombstones = Array.emptyLongArray }

  def deletedCount: Int = tombstones.length

  /** Doc ids whose PINNED metadata passes `filter` (not already
    * tombstoned) — the enumeration a retention pass needs, answered from
    * the index's own blocks: one job over pinned meta, no distance/score
    * math, no corpus read. Requires metadata columns pinned at build.
    */
  def idsWhere(filter: SelfQueryFilter.Node): Array[Long] = {
    require(metaNames.nonEmpty,
      "idsWhere needs metadata columns pinned at build (metaCols)")
    val tomb = tombstones
    ServingCache.serve(this, blocks) { it =>
      it.flatMap { b =>
        val pred = MetaPredicate.bind(filter, b.meta)
        (0 until b.metaDocs.length).iterator.collect {
          case i if pred(i) &&
            (tomb.isEmpty ||
              java.util.Arrays.binarySearch(tomb, b.metaDocs(i)) < 0) =>
            b.metaDocs(i)
        }
      }.toArray
    }.flatten.distinct.sorted
  }

  /** `DELETE WHERE` on the LIVE index: tombstone every doc matching the
    * metadata predicate. Serving excludes them from the next batch on.
    */
  def deleteWhere(filter: SelfQueryFilter.Node): Int = delete(idsWhere(filter))

  /** Serving-tier TTL (ClickHouse `TTL ts + INTERVAL …` on a live
    * deployment; the reference ages out private KBs and sessions by
    * deletion while serving — `private_knowledge_base.py:136-138`,
    * `session_manager.py:94-96`): tombstone docs whose pinned `tsCol` is
    * strictly older than `cutoff` (ISO timestamp string). Deterministic —
    * the scheduler supplies the cutoff, never the wall clock. Pair with
    * [[purgeDeleted]] to keep the tombstone array bounded.
    */
  def applyTtl(tsCol: String, cutoff: String): Int =
    deleteWhere(SelfQueryFilter.Lt(tsCol, SelfQueryFilter.T(cutoff)))

  /** PHYSICAL removal of tombstoned docs WITH the corpus-stats move that
    * [[compact]]'s scaladoc defers to the "rebuild path" — done in place
    * from the blocks, no corpus re-read:
    *
    *   - job 1a: per-term SURVIVING df, re-aggregated globally
    *     (`reduceByKey` over ≤ vocab×shards pairs, collected once —
    *     the same broadcast-df shape [[insert]] uses);
    *   - job 1b: surviving docCount / sumDl (per-segment doc dedup);
    *   - job 2: each shard's segments rebuild into ONE block (purge
    *     doubles as compaction) with the new dfs and without dead docs.
    *
    * The result serves EXACTLY like `build()` over the surviving corpus
    * (integer stats recomputed identically — TtlServingSpec gates
    * bit-identical topK) and carries ZERO tombstones: the maintenance op
    * that bounds tombstone count on a long-lived deployment. The caller
    * should `unpersist()` the old instance once cut over.
    */
  def purgeDeleted(): Bm25Index = {
    import Bm25Index._
    val tomb = tombstones
    if (tomb.isEmpty) return this
    val names = metaNames
    val kinds = metaKinds
    val alive: Long => Boolean =
      doc => java.util.Arrays.binarySearch(tomb, doc) < 0
    val dfMap = blocks.flatMap { b =>
      (0 until b.terms.length).iterator.flatMap { ti =>
        var cnt = 0L
        var j = b.starts(ti)
        while (j < b.starts(ti + 1)) {
          if (alive(b.docIds(j))) cnt += 1
          j += 1
        }
        if (cnt > 0) Iterator.single((b.terms(ti), cnt)) else Iterator.empty
      }
    }.reduceByKey(_ + _).collectAsMap()
    val (nDocs, dlSum) = blocks.mapPartitions { it =>
      var docs = 0L
      var dl = 0L
      it.foreach { b =>
        val seen = new java.util.HashSet[java.lang.Long]()
        var ti = 0
        while (ti < b.terms.length) {
          var j = b.starts(ti)
          while (j < b.starts(ti + 1)) {
            val doc = b.docIds(j)
            if (alive(doc) && seen.add(doc)) { docs += 1; dl += b.dls(j) }
            j += 1
          }
          ti += 1
        }
      }
      Iterator.single((docs, dl))
    }.fold((0L, 0L)) { case ((a1, b1), (a2, b2)) => (a1 + a2, b1 + b2) }
    val bcDf = blocks.sparkContext.broadcast(
      scala.collection.Map.from(dfMap))
    val nb = ServingCache.pin(blocks.mapPartitions({ it =>
      val rows = it.flatMap { b =>
        (0 until b.terms.length).iterator.flatMap { ti =>
          (b.starts(ti) until b.starts(ti + 1)).iterator
            .filter(j => alive(b.docIds(j)))
            .map { j =>
              val doc = b.docIds(j)
              val m = if (names.isEmpty) Array.empty[Any]
                else {
                  val di = java.util.Arrays.binarySearch(b.metaDocs, doc)
                  names.indices.map(k =>
                    MetaPredicate.valueAt(b.meta(names(k)), di)).toArray
                }
              (doc, (b.terms(ti), b.tfs(j), b.dls(j), 0L, m))
            }
        }
      }.toArray
      packRows(rows, names, kinds, (t, _) => bcDf.value(t)).iterator
    }, preservesPartitioning = true))
    val bytes2 = Bm25Index.blockBytes(nb)
    new Bm25Index(nb, nDocs, dlSum, names, kinds, bytes2)
  }

  /** Top-k (docId, dl, bm25 score) for the OR-semantics query `terms`:
    * every doc containing at least one term is scored. Terms are
    * lowercased and deduplicated preserving first occurrence (duplicate
    * query terms don't double-score — q118 semantics). `topK` IS
    * `topKBatch` of one, so q124's oracle gate covers both.
    */
  def topK(terms: Seq[String], k: Int,
      filter: Option[SelfQueryFilter.Node] = None): Array[(Long, Long, Double)] =
    topKBatch(Seq(terms), k, filter).head

  /** BATCHED lexical serving: Q term-queries answered in ONE Spark job
    * (the same economics as [[PackedScan.topKBatch]] — one job amortizes
    * scheduling across the batch, and a shard's posting walk for a term
    * shared by several queries stays hot in cache). Each shard scores
    * its own documents completely per query and returns Q local top-k
    * lists; the driver merge is Q × P × k rows.
    *
    * Evaluation is document-at-a-time MAX-SCORE (Turtle & Flood 1995;
    * the max-score/WAND family Lucene uses): query terms sort by their
    * per-segment score UPPER BOUND (idf × 2.2 × maxTf / (maxTf +
    * K(minDl)), dominating every posting — see [[Bm25Index.PostingBlock]]),
    * and once the shard's top-k heap is full, the maximal suffix of terms
    * whose bounds sum below the heap threshold becomes NON-ESSENTIAL:
    * its posting lists are never walked — a doc can only become a
    * candidate through an essential list, and candidates probe
    * non-essential terms by binary search with early abandonment. Common
    * terms (low idf ⇒ low bound) go non-essential first, which is
    * exactly where exhaustive OR evaluation spent its O(Σ df) walk; the
    * per-query accumulator is now the k-slot heap, not a LongMap over
    * every matched doc.
    *
    * Pruning is EXACT, not approximate: ranking compares the 6-dp
    * HALF_UP-rounded score (doc-id ties), so a candidate is skipped only
    * when its upper bound sits a full rounding step (1e-6, dwarfing
    * accumulated fp error in the bound sums) below the heap's k-th
    * rounded score — it provably cannot enter or tie. Admitted survivors
    * re-sum their term contributions in ORIGINAL query-term order, so
    * emitted scores stay IEEE-identical to the exhaustive walk (the
    * class-doc exactness contract; parity spec-gated against
    * [[topKBatchExhaustive]], and q124/q125/q127 still gate vs DuckDB).
    */
  def topKBatch(queries: Seq[Seq[String]], k: Int,
      filter: Option[SelfQueryFilter.Node] = None)
      : Array[Array[(Long, Long, Double)]] = {
    if (queries.isEmpty) return Array.empty
    if (k <= 0 || docCount == 0) return Array.fill(queries.length)(Array.empty)
    val nq = queries.length
    val perShard = topKBatchPerShard(queries, k, filter)
    Array.tabulate(nq) { qi =>
      perShard.iterator.flatMap(_(qi)).toArray
        .map { case (doc, dl, s) => (doc, dl, s, Bm25Index.round6(s)) }
        .sortBy { case (doc, _, _, r) => (-r, doc) }.take(k)
        .map { case (doc, dl, s, _) => (doc, dl, s) }
    }
  }

  /** The per-shard leg of [[topKBatch]]: one entry per non-empty shard,
    * each holding Q local top-k lists of ≤ k rows (the k-slot heap IS
    * the per-shard accumulator). Exposed so the serving soak can
    * MEASURE the driver-merge input (Σ shard list sizes ≤ P×k per
    * query) instead of trusting the structural bound.
    */
  private[graft] def topKBatchPerShard(queries: Seq[Seq[String]], k: Int,
      filter: Option[SelfQueryFilter.Node] = None)
      : Array[Array[Array[(Long, Long, Double)]]] = {
    if (queries.isEmpty || k <= 0 || docCount == 0) return Array.empty
    val nq = queries.length
    val qTerms: Array[Array[String]] =
      queries.map(_.map(_.toLowerCase).distinct.toArray).toArray
    val n = docCount
    val avg = avgDl
    val tomb = tombstones // snapshot: one consistent view per batch
    ServingCache.serve(this, blocks) { it =>
        // one k-slot heap per query, persistent ACROSS segments (a doc's
        // postings live entirely in its insertion segment, so per-segment
        // scoring is complete; later segments inherit the tightened
        // threshold). The predicate gates which docs RETURN; corpus
        // statistics (df, N, avgdl) stay corpus-level, like an engine
        // whose index stats are global — the oracle mirrors this with
        // WHERE on the scored rows only.
        // Capacity clamps to the corpus size: a degenerate k (Int.MaxValue
        // = "return everything") must not allocate k slots, and a heap
        // that can hold every doc never drops one, so the clamp keeps
        // return-all semantics while pruning stays exact.
        val cap = math.min(k.toLong, n).toInt
        val heaps = Array.tabulate(nq)(_ => new Bm25Index.TopKHeap(cap))
        // per-query scratch, reused across segments: contribution +
        // epoch-stamp per ORIGINAL term position (the re-sum order)
        val contrib = qTerms.map(t => new Array[Double](t.length))
        val stamps = qTerms.map(t => new Array[Int](t.length))
        var epoch = 0
        it.foreach { b =>
          val pred: Int => Boolean =
            filter.map(f => MetaPredicate.bind(f, b.meta)).orNull
          def admit(doc: Long): Boolean =
            (tomb.isEmpty || java.util.Arrays.binarySearch(tomb, doc) < 0) &&
              ((pred eq null) || {
                val idx = java.util.Arrays.binarySearch(b.metaDocs, doc)
                idx >= 0 && pred(idx)
              })
          var qi = 0
          while (qi < nq) {
            val terms = qTerms(qi)
            val heap = heaps(qi)
            // resolve this query's terms in this segment
            var m = 0
            val orig = new Array[Int](terms.length)
            val idf = new Array[Double](terms.length)
            val ub = new Array[Double](terms.length)
            val lo = new Array[Int](terms.length)
            val hi = new Array[Int](terms.length)
            var ti = 0
            while (ti < terms.length) {
              val t = java.util.Arrays.binarySearch(
                b.terms.asInstanceOf[Array[AnyRef]], terms(ti))
              if (t >= 0) {
                val df = b.dfs(t) // GLOBAL df, denormalized at build/insert
                // identical operand order as the q118 / q124 oracle expression
                val f = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
                val mTf = b.maxTfs(t).toDouble
                val kMin = 1.2 * (0.25 + 0.75 * b.minDls(t) / avg)
                orig(m) = ti; idf(m) = f
                // ×(1+1e-9): absorb fp rounding in the bound itself — the
                // prune guard is 1e-6 absolute, so this stays conservative
                ub(m) = f * (mTf * 2.2) / (mTf + kMin) * (1.0 + 1e-9)
                lo(m) = b.starts(t); hi(m) = b.starts(t + 1)
                m += 1
              }
              ti += 1
            }
            if (m == 1) {
              // SINGLE-TERM fast path: one posting list, one contribution
              // per doc, s == the contribution exactly (re-summing one
              // term is the term), so neither the frontier/epoch
              // machinery nor the max-score split buys anything — and a
              // single COMMON term is precisely where the DAAT loop's
              // per-candidate constant lost to the plain walk (LexBench
              // r9: common1 5.2 qps pruned vs 33.1 exhaustive). The
              // threshold gate keeps the same 1e-6-rounding-step
              // exactness argument; scores/ties are IEEE-identical to
              // both other paths.
              var p = lo(0)
              val until = hi(0)
              var tHold1 =
                if (heap.full) heap.threshold else Double.NegativeInfinity
              while (p < until) {
                val doc = b.docIds(p)
                val tf = b.tfs(p)
                val dl = b.dls(p)
                val c = idf(0) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg))
                if ((tHold1 == Double.NegativeInfinity || c >= tHold1 - 1e-6)
                    && admit(doc)) {
                  if (heap.offer(Bm25Index.round6(c), doc, dl, c))
                    tHold1 =
                      if (heap.full) heap.threshold else Double.NegativeInfinity
                }
                p += 1
              }
            } else if (m > 0) {
              // sort resolved terms by bound DESCENDING (insertion sort —
              // m is query-term count, single digits)
              var a = 1
              while (a < m) {
                val (o1, f1, u1, l1, h1) = (orig(a), idf(a), ub(a), lo(a), hi(a))
                var bi = a - 1
                while (bi >= 0 && ub(bi) < u1) {
                  orig(bi + 1) = orig(bi); idf(bi + 1) = idf(bi)
                  ub(bi + 1) = ub(bi); lo(bi + 1) = lo(bi); hi(bi + 1) = hi(bi)
                  bi -= 1
                }
                orig(bi + 1) = o1; idf(bi + 1) = f1; ub(bi + 1) = u1
                lo(bi + 1) = l1; hi(bi + 1) = h1
                a += 1
              }
              val suffix = new Array[Double](m + 1)
              var j = m - 1
              while (j >= 0) { suffix(j) = suffix(j + 1) + ub(j); j -= 1 }
              val ptr = java.util.Arrays.copyOf(lo, m)
              val con = contrib(qi)
              val stamp = stamps(qi)
              // essential split: smallest ess with suffix(ess) < T - 1e-6
              // (T-inf while the heap is filling ⇒ everything essential)
              def essFor(t: Double): Int = {
                if (t == Double.NegativeInfinity) m
                else {
                  var e = 0
                  while (e < m && suffix(e) >= t - 1e-6) e += 1
                  e
                }
              }
              var tHold =
                if (heap.full) heap.threshold else Double.NegativeInfinity
              var ess = essFor(tHold)
              var done = ess == 0
              while (!done) {
                // next candidate: min doc across essential list frontiers
                var doc = Long.MaxValue
                j = 0
                while (j < ess) {
                  if (ptr(j) < hi(j) && b.docIds(ptr(j)) < doc)
                    doc = b.docIds(ptr(j))
                  j += 1
                }
                if (doc == Long.MaxValue) done = true
                else {
                  epoch += 1
                  val ok = admit(doc)
                  var partial = 0.0
                  var dlHit = 0L // any posting of `doc` carries the same dl
                  j = 0
                  while (j < ess) {
                    if (ptr(j) < hi(j) && b.docIds(ptr(j)) == doc) {
                      if (ok) {
                        val p = ptr(j)
                        val tf = b.tfs(p)
                        val dl = b.dls(p)
                        val c = idf(j) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg))
                        con(orig(j)) = c; stamp(orig(j)) = epoch
                        partial += c
                        dlHit = dl
                      }
                      ptr(j) += 1
                    }
                    j += 1
                  }
                  if (ok) {
                    // non-essential probes, bound-descending, early abandon
                    var alive = true
                    j = ess
                    while (alive && j < m) {
                      if (partial + suffix(j) < tHold - 1e-6) alive = false
                      else {
                        val pos = java.util.Arrays.binarySearch(
                          b.docIds, lo(j), hi(j), doc)
                        if (pos >= 0) {
                          val tf = b.tfs(pos)
                          val dl = b.dls(pos)
                          val c = idf(j) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg))
                          con(orig(j)) = c; stamp(orig(j)) = epoch
                          partial += c
                          dlHit = dl
                        }
                        j += 1
                      }
                    }
                    // FINAL competitiveness gate (same 1e-6-rounding-step
                    // argument as the probe abandon above): a full heap
                    // rejects any doc whose rounded score is below the
                    // k-th — checking `partial` here (|s − partial| is
                    // summation-order ulps, dwarfed by the 1e-6 margin)
                    // skips the re-sum and heap work for every
                    // non-competitive candidate. Without it, a common-term
                    // query paid the whole emission path per posting
                    // (LexBench r9: common1 5.2 qps pruned vs 33.1
                    // exhaustive was exactly this).
                    if (alive && heap.full && partial < tHold - 1e-6)
                      alive = false
                    if (alive) {
                      // IEEE-exact score: re-sum in original query-term
                      // order (absent terms contribute exactly 0.0 — the
                      // class-doc skip identity)
                      var s = 0.0
                      var p = 0
                      while (p < terms.length) {
                        if (stamp(p) == epoch) s += con(p)
                        p += 1
                      }
                      if (heap.offer(Bm25Index.round6(s), doc, dlHit, s)) {
                        val t2 = if (heap.full) heap.threshold
                          else Double.NegativeInfinity
                        if (t2 != tHold) {
                          tHold = t2
                          ess = essFor(tHold)
                          if (ess == 0) done = true
                        }
                      }
                    }
                  }
                }
              }
            }
            qi += 1
          }
        }
        Array.tabulate(nq)(qi => heaps(qi).toSortedArray)
      }.filter(_.exists(_.nonEmpty))
  }

  /** The pre-r8 exhaustive OR evaluation — every posting of every query
    * term walked, LongMap accumulator over all matched docs. Kept as the
    * PARITY BASELINE for the max-score path: Bm25WandSpec asserts
    * [[topKBatch]] ≡ this on randomized corpora/term sets (with filters,
    * tombstones, and multi-segment LSM chains), which is what makes the
    * pruning provably exact rather than approximately right.
    */
  private[graft] def topKBatchExhaustive(queries: Seq[Seq[String]], k: Int,
      filter: Option[SelfQueryFilter.Node] = None)
      : Array[Array[(Long, Long, Double)]] = {
    if (queries.isEmpty) return Array.empty
    if (k <= 0) return Array.fill(queries.length)(Array.empty)
    val nq = queries.length
    val qTerms: Array[Array[String]] =
      queries.map(_.map(_.toLowerCase).distinct.toArray).toArray
    if (docCount == 0) return Array.fill(nq)(Array.empty)
    val n = docCount
    val avg = avgDl
    val tomb = tombstones // snapshot: one consistent view per batch
    val perShard: Array[Array[Array[(Long, Long, Double)]]] =
      blocks.mapPartitions { it =>
        // acc value = (score, dl, admitted); admission decided ONCE, at
        // first touch, against the doc's own segment
        val accs = Array.fill(nq)(collection.mutable.LongMap.empty[(Double, Long, Boolean)])
        it.foreach { b =>
          val pred: Int => Boolean =
            filter.map(f => MetaPredicate.bind(f, b.meta)).orNull
          def admit(doc: Long): Boolean =
            (tomb.isEmpty || java.util.Arrays.binarySearch(tomb, doc) < 0) &&
              ((pred eq null) || {
                val idx = java.util.Arrays.binarySearch(b.metaDocs, doc)
                idx >= 0 && pred(idx)
              })
          var qi = 0
          while (qi < nq) {
            val terms = qTerms(qi)
            val acc = accs(qi)
            var ti = 0
            while (ti < terms.length) {
              val t = java.util.Arrays.binarySearch(
                b.terms.asInstanceOf[Array[AnyRef]], terms(ti))
              if (t >= 0) {
                val df = b.dfs(t)
                val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
                var j = b.starts(t)
                val until = b.starts(t + 1)
                while (j < until) {
                  val doc = b.docIds(j)
                  val tf = b.tfs(j)
                  val dl = b.dls(j)
                  val c = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avg))
                  // ti ascends, so each doc's additions happen in term order
                  acc(doc) = acc.get(doc) match {
                    case Some((s, d, p)) => (s + c, d, p)
                    case None            => (c, dl, admit(doc))
                  }
                  j += 1
                }
              }
              ti += 1
            }
            qi += 1
          }
        }
        if (accs.forall(_.isEmpty)) Iterator.empty
        else Iterator.single(Array.tabulate(nq) { qi =>
          val scored = accs(qi).iterator
            .filter { case (_, (_, _, admitted)) => admitted }
            .map { case (doc, (s, dl, _)) =>
              (doc, dl, s, Bm25Index.round6(s))
            }.toArray
          scored.sortBy { case (doc, _, _, r) => (-r, doc) }.take(k)
            .map { case (doc, dl, s, _) => (doc, dl, s) }
        })
      }.collect()
    Array.tabulate(nq) { qi =>
      perShard.iterator.flatMap(_(qi)).toArray
        .map { case (doc, dl, s) => (doc, dl, s, Bm25Index.round6(s)) }
        .sortBy { case (doc, _, _, r) => (-r, doc) }.take(k)
        .map { case (doc, dl, s, _) => (doc, dl, s) }
    }
  }

  /** Top-k as a DataFrame (doc_id, dl, bm25 rounded to 6 dp). */
  def topKDF(spark: SparkSession, terms: Seq[String], k: Int,
      filter: Option[SelfQueryFilter.Node] = None): DataFrame = {
    import spark.implicits._
    topK(terms, k, filter).toSeq.toDF("doc_id", "dl", "bm25")
      .select(col("doc_id"), col("dl"), round(col("bm25"), 6).as("bm25"))
  }

  /** TRUE incremental insert — the lexical twin of [[GraphAnn.insert]] /
    * [[GraphAnn.insertInto]] (the LSM shape: fast segment appends,
    * periodic compaction via rebuild). The batch becomes ONE NEW SEGMENT
    * per touched shard, packed from the batch's own postings (routed by
    * the SAME document-hash partitioner, so shard locality holds);
    * existing segments take a COPY-ON-WRITE df patch for the batch's
    * terms — global df is denormalized into every segment that holds a
    * term, so stale segments are patched with every array except `dfs`
    * shared — and (N, sumDl) advance exactly. Served scores therefore
    * equal a full rebuild over the union EXACTLY (gated by q137 and the
    * insert-equals-rebuild spec).
    *
    * Per-batch cost: tokenize + pack the batch's postings, one
    * batch-vocab-bounded df-lookup job over the pinned segments, and a
    * vocab-bounded dfs-array patch per existing segment — FLAT in corpus
    * size (the spec asserts byte-sharing of the untouched arrays).
    *
    * Contract: batch doc ids must be NEW (an id already indexed would
    * double-count toward df/N — the MVCC layer owns upserts; this is the
    * insert-only fast path, IvfGraph.insertInto's contract). The batch
    * must supply this index's pinned metadata columns ([[metaNames]]).
    * Tombstones carry to the returned instance.
    */
  def insert(batch: DataFrame, idCol: String, textCol: String): Bm25Index = {
    import Bm25Index._
    val spark = batch.sparkSession
    import spark.implicits._
    val names = metaNames
    // batch stats ride the postings job as an Observation (count/sum of
    // the pre-explode rows) — no separate pass over the batch; the lazy
    // localCheckpoint materializes on the bdf collect and is then read
    // twice more (rows, terms) without recompute. Streaming cadence is
    // job-overhead-bound (PLANS.md), so insert is 3 jobs, not 5.
    val obs = new org.apache.spark.sql.Observation()
    val toks = batch.select(
      (col(idCol).cast("long").as("doc_id") +:
        Bm25Index.tokens(col(textCol)).as("toks") +: names.map(col).toSeq): _*)
      .select(
        (col("doc_id") +: col("toks") +:
          size(col("toks")).cast("long").as("dl") +: names.map(col).toSeq): _*)
      .observe(obs, count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    // NB build's narrow-stage TermTfs path is deliberately NOT used here:
    // the batch stats ride this plan as an Observation, and swapping the
    // explode→groupBy for the narrow explode changes when the
    // CollectMetrics node fires relative to the lazy localCheckpoint
    // (measured: docCount advanced by 0 — the insert≡rebuild spec caught
    // it). Insert cadence is job-overhead-bound, so the groupBy shuffle
    // costs nothing observable on batch-sized inputs anyway.
    val postings = toks
      .select(
        (explode(col("toks")).as("term") +: col("doc_id") +: col("dl") +:
          names.map(col).toSeq): _*)
      .groupBy(col("term") +: col("doc_id") +: col("dl") +:
        names.map(col).toSeq: _*)
      .agg(count(lit(1)).cast("int").as("tf"))
      .localCheckpoint(false)
    val bdf = postings.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("bdf"))
      .as[(String, Long)].collect().toMap // batch-vocab-bounded
    // degenerate plans (e.g. an empty LocalRelation after optimizer
    // pruning) can drop the CollectMetrics node — getOrEmpty is the
    // BOUNDED wait (get could block forever on a Spark that never fires
    // for a pruned node), and the direct agg is the fallback (one extra
    // job on a trivial batch only). An RDD-backed batch can report n = 0
    // for a batch that produced postings, so a zero is trusted only when
    // the postings are empty.
    val statsRow = org.apache.spark.sql.graft.Bridge.observationGetOrEmpty(obs)
    val observed = statsRow.contains("n") &&
      (statsRow("n").asInstanceOf[Long] > 0 || bdf.isEmpty)
    val (bN, bSumDl) =
      if (observed)
        (statsRow("n").asInstanceOf[Long],
          Option(statsRow("sdl")).map(_.asInstanceOf[Long]).getOrElse(0L))
      else toks.agg(count(lit(1)), sum(col("dl")))
        .as[(Long, Option[Long])].head() match {
        case (c, s) => (c, s.getOrElse(0L))
      }
    if (bN == 0) return this
    val btB = spark.sparkContext.broadcast(bdf.keySet)
    // old GLOBAL df for the batch's terms: one narrow job over the pinned
    // segments; every segment agrees (each insert patches all of them),
    // max is belt-and-braces
    val oldDf = blocks.flatMap { b =>
      val keep = btB.value
      b.terms.iterator.zipWithIndex.collect {
        case (t, i) if keep(t) => (t, b.dfs(i))
      }
    }.reduceByKey(math.max(_, _)).collectAsMap()
    val newDf: Map[String, Long] =
      bdf.map { case (t, d) => t -> (oldDf.getOrElse(t, 0L) + d) }
    val ndB = spark.sparkContext.broadcast(newDf)
    val part = blocks.partitioner.getOrElse(new HashPartitioner(blocks.getNumPartitions))
    val projected = postings.select(
      (col("doc_id") +: col("term") +: col("tf") +: col("dl") +:
        lit(0L).as("df") +: names.map(col).toSeq): _*)
    val kinds = projected.schema.fields.drop(5).map(_.dataType)
      .zip(names).map { case (t, nm) => MetaPredicate.kindOf(t, nm) }
    // the batch must pin the SAME canonical kinds the index was built
    // with — a type-drifted column would pack a segment that mis-filters
    // only at query time (PackedScan.packSource's loud require, here)
    require(kinds.sameElements(metaKinds),
      s"pinned metadata kinds mismatch: batch ${kinds.toSeq} != index ${metaKinds.toSeq}")
    val keyed = projected.rdd.map(keyRow(_, names, kinds)).partitionBy(part)
    val newBlocks = ServingCache.pin(
      blocks.zipPartitions(keyed, preservesPartitioning = true) { (bit, rit) =>
        val patched = bit.map { b =>
          var dfs2: Array[Long] = null
          var i = 0
          while (i < b.terms.length) {
            ndB.value.get(b.terms(i)) match {
              case Some(nd) if nd != b.dfs(i) =>
                if (dfs2 == null) dfs2 = b.dfs.clone()
                dfs2(i) = nd
              case _ =>
            }
            i += 1
          }
          if (dfs2 == null) b else b.copy(dfs = dfs2)
        }
        val seg = packRows(rit.toArray, names, kinds,
          (t, _) => ndB.value(t))
        patched ++ seg.iterator
      })
    val bytes2 = blockBytes(newBlocks)
    new Bm25Index(newBlocks, docCount + bN, sumDl + bSumDl, names, metaKinds,
      bytes2, this.tombstones)
  }

  def unpersist(): Unit = blocks.unpersist()

  /** In-memory COMPACTION of the LSM segment chain (PackedScan.compact's
    * lexical sibling): each shard's segments merge into ONE PostingBlock
    * — term lists unioned, postings re-sorted doc-ascending, pinned
    * metadata re-packed — with no corpus re-read and no change to
    * semantics: global stats (N, sumDl, df) are already consistent
    * across segments, and tombstones CARRY (unlike PackedScan, deleted
    * lexical rows cannot be dropped physically without moving the
    * corpus-level stats, the Lucene merge behavior q138's oracle pins —
    * physical removal is the rebuild path). Serving results are
    * bit-identical before and after (spec-gated); the win is one
    * binary-search per term per shard again instead of one per segment.
    */
  def compact(): Bm25Index = {
    import Bm25Index._
    val names = metaNames
    val kinds = metaKinds
    val nb = ServingCache.pin(blocks.mapPartitions({ it =>
      val segs = it.toArray
      if (segs.length <= 1) segs.iterator
      else {
        val rows = segs.iterator.flatMap { b =>
          (0 until b.terms.length).iterator.flatMap { ti =>
            (b.starts(ti) until b.starts(ti + 1)).iterator.map { j =>
              val doc = b.docIds(j)
              val m = if (names.isEmpty) Array.empty[Any]
                else {
                  val di = java.util.Arrays.binarySearch(b.metaDocs, doc)
                  names.indices.map(k =>
                    MetaPredicate.valueAt(b.meta(names(k)), di)).toArray
                }
              (doc, (b.terms(ti), b.tfs(j), b.dls(j), b.dfs(ti), m))
            }
          }
        }.toArray
        packRows(rows, names, kinds, (_, embedded) => embedded).iterator
      }
    }, preservesPartitioning = true))
    val bytes2 = Bm25Index.blockBytes(nb)
    new Bm25Index(nb, docCount, sumDl, names, metaKinds, bytes2, this.tombstones)
  }

  /** Segment count per shard (diagnostics; spec asserts the LSM shape). */
  private[graft] def segmentCounts: Array[Int] =
    blocks.mapPartitions(it => Iterator.single(it.size)).collect()

  private[graft] def blocksRdd: RDD[Bm25Index.PostingBlock] = blocks

  private[graft] def tombstoneSnapshot: Array[Long] = tombstones
}

object Bm25Index {

  /** One document-shard segment of the inverted index: terms sorted with
    * their GLOBAL df; term i's postings are docIds/tfs/dls[starts(i)
    * until starts(i+1)], docId-ascending.
    *
    * `maxTfs`/`minDls` (parallel to `terms`) summarize each term's
    * postings for the max-score bound: BM25's per-posting contribution is
    * increasing in tf and decreasing in dl, so `idf × 2.2 × maxTf /
    * (maxTf + K(minDl))` dominates every posting of the term. The pair is
    * deliberately avgdl-INDEPENDENT — [[Bm25Index.insert]] advances
    * (N, sumDl), so any bound folded with avgdl at pack time would go
    * stale; these fold with the CURRENT avgdl at query time instead.
    */
  final case class PostingBlock(terms: Array[String], dfs: Array[Long],
      starts: Array[Int], docIds: Array[Long], tfs: Array[Int],
      dls: Array[Long],
      metaDocs: Array[Long] = Array.emptyLongArray,
      meta: Map[String, MetaPredicate.Col] = Map.empty,
      maxTfs: Array[Int] = Array.emptyIntArray,
      minDls: Array[Long] = Array.emptyLongArray)

  /** 6-dp HALF_UP — BigDecimal, exactly Spark's `round(col, 6)`. */
  private[graft] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Fixed-k top-k accumulator for max-score evaluation: a 4-parallel-
    * array binary min-heap ordered by the RANKING comparator — rounded
    * score ascending, doc id descending — so the root is always the
    * entry the next candidate must beat, and `threshold` (the k-th
    * rounded score) is O(1). Replaces the exhaustive walk's LongMap-
    * over-every-matched-doc accumulator.
    */
  private[graft] final class TopKHeap(k: Int) {
    private val rs = new Array[Double](k)
    private val docs = new Array[Long](k)
    private val dls = new Array[Long](k)
    private val ss = new Array[Double](k)
    private var n = 0

    def size: Int = n
    def full: Boolean = n == k
    /** k-th best ROUNDED score; only meaningful when [[full]]. */
    def threshold: Double = rs(0)

    // heap order: i precedes j when i is WORSE in the ranking
    // (lower rounded score, or same score and larger doc id)
    private def precedes(i: Int, j: Int): Boolean =
      rs(i) < rs(j) || (rs(i) == rs(j) && docs(i) > docs(j))

    private def swap(i: Int, j: Int): Unit = {
      val r = rs(i); rs(i) = rs(j); rs(j) = r
      val d = docs(i); docs(i) = docs(j); docs(j) = d
      val l = dls(i); dls(i) = dls(j); dls(j) = l
      val s = ss(i); ss(i) = ss(j); ss(j) = s
    }

    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && precedes(i, (i - 1) >> 1)) {
        swap(i, (i - 1) >> 1)
        i = (i - 1) >> 1
      }
    }

    private def siftDown(): Unit = {
      var i = 0
      var go = true
      while (go) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < n && precedes(l, m)) m = l
        if (r < n && precedes(r, m)) m = r
        if (m == i) go = false
        else { swap(i, m); i = m }
      }
    }

    /** Admit `(r, doc)` if it ranks above the current k-th entry (or the
      * heap is not yet full). Returns whether the heap changed — i.e.
      * whether the caller should re-read [[threshold]].
      */
    def offer(r: Double, doc: Long, dl: Long, s: Double): Boolean =
      if (n < k) {
        rs(n) = r; docs(n) = doc; dls(n) = dl; ss(n) = s
        n += 1
        siftUp(n - 1)
        true
      } else if (r > rs(0) || (r == rs(0) && doc < docs(0))) {
        rs(0) = r; docs(0) = doc; dls(0) = dl; ss(0) = s
        siftDown()
        true
      } else false

    /** Contents as (doc, dl, rawScore), ranked best-first — the exact
      * emission shape and order of the exhaustive walk's local top-k.
      */
    def toSortedArray: Array[(Long, Long, Double)] =
      Array.tabulate(n)(i => (docs(i), dls(i), ss(i), rs(i)))
        .sortBy { case (doc, _, _, r) => (-r, doc) }
        .map { case (doc, dl, s, _) => (doc, dl, s) }
  }

  /** Spark-side tokenizer — the single source of truth the build uses;
    * the oracle mirrors it in DuckDB (see class doc).
    */
  def tokens(textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(lower(textCol), "[^a-z0-9]+"), t => length(t) > lit(0))

  /** Memoized through [[ServingCache]] (same lifecycle as PackedScan). */
  def buildCached(docs: DataFrame, cacheKey: String, idCol: String,
      textCol: String, shards: Int = 0,
      metaCols: Seq[String] = Nil): Bm25Index = {
    val mk = if (metaCols.isEmpty) "" else metaCols.mkString("#", ",", "")
    ServingCache.getOrBuild(s"bm25#$cacheKey#$idCol#$textCol#$shards$mk") {
      val ix = build(docs, idCol, textCol, shards, metaCols)
      (ix, ix.bytes, () => ix.unpersist())
    }
  }

  /** (doc_id, (term, tf, dl, df, meta)) from a projected posting row —
    * shared by build and insert so both pack identical tuples.
    */
  private def keyRow(row: org.apache.spark.sql.Row, names: Array[String],
      kinds: Array[Int]): (Long, (String, Int, Long, Long, Array[Any])) = {
    val m = new Array[Any](names.length)
    var j = 0
    while (j < names.length) {
      require(!row.isNullAt(5 + j),
        s"null in pinned metadata column '${names(j)}' (doc=${row.getLong(0)})")
      m(j) = MetaPredicate.widen(row, 5 + j, kinds(j))
      j += 1
    }
    (row.getLong(0),
      (row.getString(1), row.getInt(2), row.getLong(3), row.getLong(4), m))
  }

  /** Pack one shard's posting tuples into a segment. `dfOf(term,
    * embedded)` supplies the stored GLOBAL df: build embeds it in the
    * rows; insert looks it up in the broadcast new-df map.
    */
  private def packRows(
      rows: Array[(Long, (String, Int, Long, Long, Array[Any]))],
      names: Array[String], kinds: Array[Int],
      dfOf: (String, Long) => Long): Option[PostingBlock] = {
    val byTerm = rows.groupBy(_._2._1)
    if (byTerm.isEmpty) None
    else {
      val terms = byTerm.keys.toArray.sorted
      val dfArr = new Array[Long](terms.length)
      val starts = new Array[Int](terms.length + 1)
      val nPost = byTerm.valuesIterator.map(_.length).sum
      val docIds = new Array[Long](nPost)
      val tfs = new Array[Int](nPost)
      val dls = new Array[Long](nPost)
      val maxTfs = new Array[Int](terms.length)
      val minDls = new Array[Long](terms.length)
      var off = 0
      var i = 0
      while (i < terms.length) {
        starts(i) = off
        val ps = byTerm(terms(i)).sortBy(_._1)
        dfArr(i) = dfOf(terms(i), ps.head._2._4)
        var mTf = 0
        var mDl = Long.MaxValue
        ps.foreach { case (doc, (_, tf, dl, _, _)) =>
          docIds(off) = doc; tfs(off) = tf; dls(off) = dl; off += 1
          if (tf > mTf) mTf = tf
          if (dl < mDl) mDl = dl
        }
        maxTfs(i) = mTf
        minDls(i) = mDl
        i += 1
      }
      starts(terms.length) = off
      val (metaDocs, meta) =
        if (names.isEmpty)
          (Array.emptyLongArray, Map.empty[String, MetaPredicate.Col])
        else {
          val perDoc = rows.map { case (doc, (_, _, _, _, m)) => (doc, m) }
            .groupBy(_._1).map { case (doc, vs) => (doc, vs.head._2) }
            .toArray.sortBy(_._1)
          val cols = names.indices.map { j =>
            names(j) -> MetaPredicate.packCol(kinds(j), perDoc.map(_._2(j)))
          }.toMap
          (perDoc.map(_._1), cols)
        }
      Some(PostingBlock(terms, dfArr, starts, docIds, tfs, dls, metaDocs, meta,
        maxTfs, minDls))
    }
  }

  /** DURABLE lexical index — the q119/q120 story for the lexical leg.
    * One parquet table of posting rows PARTITIONED BY shard (the
    * `disk_mode` analog: each shard's postings are one directory), plus
    * single-row stats and the pending tombstones (serving state — a
    * reload without them would resurrect deleted ids; written even when
    * empty so load never guesses). Save COMPACTS the LSM chain: the
    * saved artifact is one segment per shard (global df is already
    * consistent across segments, and per-doc postings never span
    * segments, so the merge is a pure concatenation re-pack).
    *
    * Metadata-pinned indexes save their pinned columns too (r8; the r7
    * refusal forced a restart of a filtered serving tier to re-tokenize
    * the corpus): `meta/` holds one TYPED row per pinned doc, shard-
    * partitioned like the postings, and `stats` carries the
    * (name, kind) schema — timestamps as raw epoch-micro longs, lists
    * as parquet arrays (see [[MetaPredicate.storageTypeOf]]) — so a
    * reload re-packs the row gate columns without touching the source
    * table.
    */
  def save(spark: SparkSession, ix: Bm25Index, path: String): Unit = {
    import spark.implicits._
    val p = ix.blocksRdd.getNumPartitions
    // postings/stats/meta/tombstones commit as ONE epoch under a
    // pointer flip (EpochStore): a re-save over a served path never
    // overwrites the live artifact in place — a kill mid-save leaves
    // the previous index serving, never postings newer than stats
    EpochStore.commit(FsOps(spark), path) { dir =>
      // the four artifact parts write to DISJOINT sub-dirs — run them as
      // concurrent jobs (guide §2.6; Par.jobs): serially each paid its
      // own driver gap while the cluster idled through the small
      // writes' tails (R17JobProf: ~970 ms serial wall for this block)
      Par.jobs(
        () => ix.blocksRdd.mapPartitionsWithIndex { (shard, it) =>
          it.flatMap { b =>
            (0 until b.terms.length).iterator.flatMap { ti =>
              (b.starts(ti) until b.starts(ti + 1)).iterator.map { j =>
                (shard, b.terms(ti), b.dfs(ti), b.docIds(j), b.tfs(j), b.dls(j))
              }
            }
          }
        }.toDF("shard", "term", "df", "doc_id", "tf", "dl")
          .write.mode("overwrite").partitionBy("shard").parquet(s"$dir/postings"),
        () => Seq((ix.docCount, ix.sumDl, p.toLong, ix.metaNames.toSeq,
            ix.metaKinds.toSeq))
          .toDF("doc_count", "sum_dl", "shards", "meta_names", "meta_kinds")
          .coalesce(1) // one stats row; skip the multi-task local write
          .write.mode("overwrite").parquet(s"$dir/stats"),
        () => if (ix.metaNames.nonEmpty) {
          val names = ix.metaNames
          val schema = org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField("shard",
              org.apache.spark.sql.types.IntegerType, nullable = false) +:
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType, nullable = false) +:
              names.zip(ix.metaKinds).map { case (n, kd) =>
                org.apache.spark.sql.types.StructField(
                  n, MetaPredicate.storageTypeOf(kd), nullable = false)
              }.toSeq)
          val rows = ix.blocksRdd.mapPartitionsWithIndex { (shard, it) =>
            it.flatMap { b =>
              val cols = names.map(b.meta(_))
              Iterator.tabulate(b.metaDocs.length) { i =>
                org.apache.spark.sql.Row.fromSeq(
                  shard +: b.metaDocs(i) +:
                    cols.toSeq.map(MetaPredicate.storedValueAt(_, i)))
              }
            }
          }
          spark.createDataFrame(rows, schema)
            .write.mode("overwrite").partitionBy("shard").parquet(s"$dir/meta")
        },
        // coalesce(1): bounded metadata (pending tombstones) — a local
        // write otherwise fans to leafNodeDefaultParallelism one-row tasks
        () => ix.tombstoneSnapshot.toSeq.toDF("id").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/tombstones"))
    }
    ()
  }

  /** Reload a saved index WITHOUT re-tokenizing (load never reads the
    * corpus text): posting rows re-pack into one segment per shard via
    * the same [[packRows]] the build uses, stats come from the artifact,
    * and the restored HashPartitioner(p) keyed by the saved shard ids
    * reproduces the build's doc→shard placement — so [[Bm25Index.insert]]
    * into a LOADED index routes exactly like insert into the original
    * (spec-gated bit-equal).
    */
  def load(spark: SparkSession, path: String): Bm25Index = {
    import spark.implicits._
    // committed epoch of a flip-saved artifact, or the path itself
    // for a pre-epoch (legacy) layout
    val fsOps = FsOps(spark)
    val dir = EpochStore.resolve(fsOps, path)
    // FastRead: schema from one driver-side footer, no plan-time
    // inference job — load fires four reads per query execution
    val stats = FastRead.dir(spark, fsOps, s"$dir/stats")
    // meta_names/meta_kinds absent on pre-r8 artifacts: meta-less layout.
    // ONE head() for the whole one-row table — the split reads paid two
    // driver gaps + two jobs for five cells (R17JobProf q147)
    val hasMeta = stats.schema.fieldNames.contains("meta_names")
    val base = Seq(col("doc_count").cast("long"), col("sum_dl").cast("long"),
      col("shards").cast("int"))
    val statsRow = stats.select(
      (if (hasMeta) base ++ Seq(col("meta_names"), col("meta_kinds"))
       else base): _*).head()
    val (names, kinds) =
      if (hasMeta)
        (statsRow.getSeq[String](3).toArray, statsRow.getSeq[Int](4).toArray)
      else (Array.empty[String], Array.empty[Int])
    val (nDocs, sumDl, p) =
      (statsRow.getLong(0), statsRow.getLong(1), statsRow.getInt(2))
    val keyed = FastRead.dir(spark, fsOps, s"$dir/postings")
      .select(col("shard").cast("int"), col("term"), col("df").cast("long"),
        col("doc_id").cast("long"), col("tf").cast("int"), col("dl").cast("long"))
      .as[(Int, String, Long, Long, Int, Long)]
      .rdd.map { case (sh, t, df, doc, tf, dl) =>
        // shard ids are 0..p-1, and HashPartitioner sends Int key i to
        // partition i % p — placement round-trips exactly
        (sh, (doc, (t, tf, dl, df, Array.empty[Any])))
      }.partitionBy(new HashPartitioner(p))
    val blocks =
      if (names.isEmpty)
        keyed.mapPartitions({ it =>
          packRows(it.map(_._2).toArray, Array.empty, Array.empty,
            (_, embedded) => embedded).iterator
        }, preservesPartitioning = true)
      else {
        // re-pack the pinned row-gate columns from the artifact — load
        // still never touches the corpus: the meta rows ride the same
        // shard keys, so this is a co-partitioned zip, no shuffle of the
        // postings
        val kindsB = kinds
        val metaKeyed = FastRead.dir(spark, fsOps, s"$dir/meta")
          .select((col("shard").cast("int") +: col("doc_id").cast("long") +:
            names.map(col).toSeq): _*)
          .rdd.map { row =>
            val m = new Array[Any](kindsB.length)
            var j = 0
            while (j < kindsB.length) {
              m(j) = MetaPredicate.readStored(row, 2 + j, kindsB(j))
              j += 1
            }
            (row.getInt(0), (row.getLong(1), m))
          }.partitionBy(new HashPartitioner(p))
        val namesB = names
        keyed.zipPartitions(metaKeyed, preservesPartitioning = true) { (pit, mit) =>
          val byDoc = collection.mutable.LongMap.empty[Array[Any]]
          mit.foreach { case (_, (doc, m)) => byDoc(doc) = m }
          val rows = pit.map { case (_, (doc, (t, tf, dl, df, _))) =>
            (doc, (t, tf, dl, df, byDoc(doc)))
          }.toArray
          packRows(rows, namesB, kindsB, (_, embedded) => embedded).iterator
        }
      }
    ServingCache.pin(blocks)
    val bytes = blockBytes(blocks)
    val ix = new Bm25Index(blocks, nDocs, sumDl, names, kinds, bytes)
    // tombstones/ absent on foreign layouts: nothing pending by definition
    try {
      val tomb = FastRead.dir(spark, fsOps, s"$dir/tombstones")
        .select(col("id").cast("long")).as[Long].collect()
      if (tomb.nonEmpty) ix.delete(tomb)
    } catch { case _: org.apache.spark.sql.AnalysisException => }
    ix
  }

  /** Pinned-size accounting job (narrow scan of the cached segments);
    * the first job over fresh blocks, so it is the one that pins them.
    */
  private def blockBytes(blocks: RDD[PostingBlock]): Long =
    blocks.map { b =>
      b.terms.iterator.map(t => 40L + 2L * t.length).sum +
        8L * b.dfs.length + 4L * b.starts.length + 20L * b.docIds.length
    }.fold(0L)(_ + _)

  /** Tokenize, count (term, doc) tf, attach each term's global df, shard
    * BY DOCUMENT hash, pack each shard as one PostingBlock, pin it
    * ([[ServingCache.pin]]). `shards` <= 0 means the session default
    * parallelism.
    * `metaCols` are pinned per DOC in each shard (sorted-doc parallel
    * [[MetaPredicate.Col]] arrays) for filtered serving — the per-user
    * KB shape (`private_knowledge_base.py:161`) on the lexical leg.
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      shards: Int = 0, metaCols: Seq[String] = Nil): Bm25Index = {
    val spark = docs.sparkSession
    import spark.implicits._
    val p = if (shards > 0) shards else spark.sparkContext.defaultParallelism
    val names = metaCols.toArray
    // cache the tokenized projection for the build's lifetime: it feeds
    // BOTH the stats pass and the postings pipeline, and tokenization
    // (regex split over the whole corpus) is the single most expensive
    // narrow stage in the build (profiled ~8 s of the 500k-doc build per
    // pass). MEMORY_AND_DISK: a build-transient working set, freed below
    // once the blocks are pinned.
    val toks = docs.select(
      (col(idCol).cast("long").as("doc_id") +:
        tokens(col(textCol)).as("toks") +: names.map(col).toSeq): _*)
      .select(
        (col("doc_id") +: col("toks") +:
          size(col("toks")).cast("long").as("dl") +: names.map(col).toSeq): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // global stats over ALL docs (dl = 0 docs count toward N and avgdl,
    // exactly like the oracle's stats CTE)
    val (nDocs, sumDl) = toks.agg(count(lit(1)), sum(col("dl")))
      .as[(Long, Option[Long])].head() match {
      case (c, s) => (c, s.getOrElse(0L))
    }
    // (term, tf) per doc WITHOUT the explode -> groupBy shuffle: tf is a
    // per-document quantity, computed in the narrow map stage by the
    // TermTfs expression (sort + run-length count per doc, a custom
    // Expression because Catalyst's higher-order functions don't join
    // whole-stage codegen — the transform/filter formulation measured
    // 133 s where this path and the groupBy measure 60 s and better on
    // the 500k-doc build, PLANS §"BM25 build path"). Dropping the
    // tokens-sized shuffle+agg. Contract (unchanged): doc ids are
    // unique in `docs`.
    val postings = toks
      .select(
        (explode(org.apache.spark.sql.graft.TextFunctions.term_tfs(col("toks")))
          .as("tt") +: col("doc_id") +: col("dl") +: names.map(col).toSeq): _*)
      .select(
        (col("tt.term").as("term") +: col("doc_id") +: col("dl") +:
          col("tt.tf").as("tf") +: names.map(col).toSeq): _*)
    // global df per term, then denormalized onto every posting — the
    // partial_count is map-side combined and the join key (term) is the
    // same as the groupBy key, so no extra wide shuffle of the postings
    val dfs = postings.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"))
    val projected = postings.join(dfs, "term")
      .select(
        (col("doc_id") +: col("term") +: col("tf") +: col("dl") +: col("df") +:
          names.map(col).toSeq): _*)
    val kinds = projected.schema.fields.drop(5).map(_.dataType)
      .zip(names).map { case (t, n) => MetaPredicate.kindOf(t, n) }
    // shard BY DOCUMENT with a DataFrame repartition, NOT an RDD
    // partitionBy: the shuffle then moves compact Tungsten rows instead
    // of Java-serialized nested tuples (this change alone measured 1.8x
    // on the whole 500k-doc build; with the narrow-stage tf and the toks
    // cache the build is 3.7x total — PLANS §"BM25 build path"), and
    // keyRow boxing happens once post-shuffle. The invariant every
    // consumer needs — ALL postings of a doc land in ONE shard — is the
    // repartition key; which shard a doc gets is immaterial (serving is
    // layout-exact, insert routes by its own partitioner, df patching is
    // global).
    val keyed = projected.repartition(p, col("doc_id")).rdd
      .map(keyRow(_, names, kinds))
    val blocks = keyed.mapPartitions { it =>
      packRows(it.toArray, names, kinds, (_, embedded) => embedded).iterator
    }
    ServingCache.pin(blocks)
    val bytes = blockBytes(blocks) // materializes the pinned blocks
    toks.unpersist(false) // build-transient; blocks no longer depend on it
    new Bm25Index(blocks, nDocs, sumDl, names, kinds, bytes)
  }
}
