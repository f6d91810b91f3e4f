package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table lifecycle facade: the ReplacingMergeTree/MergeTree semantics of
  * the reference's six tables (SURVEY.md §1.2, §2.1 S5/S6/S8/S9) on plain
  * parquet.
  *
  *   - upsert    = append-only write; readers apply last-writer-wins
  *     compaction (`ENGINE=ReplacingMergeTree ORDER BY id`,
  *     `app/backend/constants/myscale_tables.py:37,65` — MyScale also
  *     dedups at read/merge time, not at insert).
  *   - delete    = anti-join rewrite (`DELETE FROM ... WHERE`,
  *     `app/backend/chat_bot/private_knowledge_base.py:93-99`).
  *   - compact() = materialize the compaction view and truncate history
  *     (the explicit OPTIMIZE analog).
  *
  * The version column is caller-supplied (ingest timestamp / batch id) so
  * compaction is deterministic; SURVEY §7 "what's hard" notes the
  * consistency trap — always read through [[read]], never raw parquet.
  *
  * At scale: writes partition by the natural partition column when given
  * (`PARTITION BY session_id` analog, `tools.py:74-78`) so per-key reads
  * and deletes prune partitions instead of scanning the table.
  *
  * THE MANIFEST IS THE TABLE. MyScale's own metadata names each table's
  * live parts; here the `_manifest` log ([[Manifest]]) does, and it is
  * the only source of a table's state: reads serve exactly the files
  * the latest snapshot names, and every mutation commits its change as
  * one snapshot (Delta Lake's log-is-the-truth design, Armbrust et al.,
  * VLDB 2020). [[create]] commits the first snapshot; a directory
  * without `_manifest` (written around the API) is adopted once, on its
  * first read or mutation, by committing its tree as that snapshot.
  * Files in the tree that no snapshot names — crash orphans, a peer's
  * uncommitted output — do not exist for readers; [[refreshManifest]]
  * is the hatch for writers outside this API.
  *
  * Every directory-level operation routes through [[FsOps]] (the Hadoop
  * `FileSystem` binding): on this sandbox that resolves to the local
  * filesystem, on a cluster the same calls resolve to the object-store
  * connector — the O(directory) cost claims are properties of the CALL
  * PATTERN (listings per partition, renames per directory), not of a
  * local-disk assumption.
  *
  * CONCURRENCY CONTRACT (the [[Manifest]]/[[EpochStore]] optimistic
  * protocol, surfaced at this API). Writers on DIFFERENT tables never
  * contend (state is per-table). Two writers on ONE table:
  *
  *   - every mutation re-reads committed state at entry
  *     (`beginMutation`) and commits through the seal CAS — a racer
  *     whose base went stale throws [[ConcurrentCommitException]] with
  *     NOTHING committed or destroyed; wrap mutations in
  *     [[Optimistic.retryOnConflict]] to land both sides. A refusal
  *     arriving after a mutation's flip already committed (the
  *     hygiene recommit) is swallowed internally — a retry wrapper
  *     never double-applies a landed mutation.
  *   - set `spark.graft.sidecarSweepGraceMs` above the longest
  *     statement duration: the crash-debris sweep cannot tell an
  *     in-flight concurrent statement's uncommitted files from a
  *     crashed one's except by age (Delta's vacuum-retention posture —
  *     a public design). The 0 default keeps single-writer-per-table
  *     eager hygiene.
  *   - folds, reads, and preconditions all consume the COMMITTED
  *     sidecar set ([[snapOf]]) — young uncommitted debris is
  *     invisible everywhere until its commit lands; patch-batch
  *     directories are additionally claim-allocated
  *     (`claimPatchSeq`) because `seq=N` is a deterministic shared
  *     path the CAS alone cannot protect.
  *
  * Semantics under interleaving are those of SOME serial order of the
  * committed statements (each commits against the state it re-read;
  * losers retry against the winner's state). Statements whose EFFECT
  * depends on unordered peers (two updates assigning one cell) keep
  * last-committer-wins, exactly like the single-writer LWW story.
  *
  * Writer ROLES: any number of concurrent INGEST statements
  * (deleteWhereLight / updateWhereLight / create-append) interleave
  * freely, beside at most ONE MAINTENANCE writer per table (the
  * fold/rewrite family — OPTIMIZE, compactMask/compactPatches,
  * applyDeletedMask, the heavy mutations, partition ops): folds stage
  * through deterministic per-table sibling dirs (`<table>__maskfold`
  * …), so two concurrent folds contend on staging and may fail LOUD
  * mid-job — never corrupting committed state (adoption still
  * serializes through the CAS, and every fold's adds are its own
  * moved files) — exactly the reference deployment's one-background-
  * merger shape.
  */
final case class Catalog(spark: SparkSession, root: String) {

  private[operators] val fs = FsOps(spark)

  private def path(table: String) = s"$root/$table"

  private def opts(table: String) =
    Catalog.writeOptions.getOrElse(path(table), Map.empty[String, String])

  def create(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").options(opts(table))
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path(table))
    evictSidecarMemos(table)
    invalidateProjections(table)
    // overwrite wiped the dir (any prior manifest, orphans and all), so
    // the fresh tree IS the exact live set
    commitTree(table)
  }

  /** Remove the table: its data tree and every memo keyed by its path. */
  def drop(table: String): Unit = {
    fs.rmTree(path(table))
    evictSidecarMemos(table)
    invalidateProjections(table)
  }

  /** Append rows. `partitionBy` (the table's declared layout) must be
    * passed for partitioned tables whose directories may not exist yet —
    * an empty partitioned create writes no `col=value` dirs, so layout
    * detection alone would write a broken mixed (flat + partitioned)
    * structure; when omitted, the on-disk layout governs.
    */
  def append(table: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): Unit = {
    val prev = beginMutation(table)
    val parts = if (partitionBy.nonEmpty) partitionBy else partitionColsOf(table)
    // the committed delta is a before/after tree diff: exactly the
    // files THIS job wrote, never a crash orphan (orphans sit in the
    // `before` set too). Two tree LISTs per append — the write side
    // pays O(files) so the read side stays O(1); mutations are the
    // rare direction.
    val before = fs.listFiles(path(table)).map(_._1).toSet
    val w = df.write.mode("append").options(opts(table))
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path(table))
    invalidateProjections(table)
    if (prev.seq == 0L)
      // append-as-create: there was no directory, so the fresh tree is
      // exactly this job's output
      commitTree(table)
    else {
      val added = fs.listFiles(path(table))
        .filterNot { case (p, _, _) => before.contains(p) }
        .flatMap { case (p, len, mt) =>
          fs.relativeTo(path(table), p)
            .filter(fs.isDataRel)
            .map(Manifest.Entry(_, len, mt))
        }
      commitManifest(table, prev.seq, prev.entries ++ added, Nil)
    }
  }

  /** Every mutation drops projections registered over the table path:
    * a define-time rollup snapshot must never serve aggregates of a
    * base that changed under it (SURVEY §14 item 2 — the caller
    * re-defines, or maintains a MatView whose insert path stays fresh).
    */
  private def invalidateProjections(table: String): Unit = {
    org.apache.spark.sql.graft.ProjectionCatalog.invalidate(path(table))
    // The sidecar memos (sidecarUriCache, maskProbeCache, maskCountCache,
    // patchProbeCache) are deliberately NOT evicted here: every lookup
    // re-validates its entry against the fresh sidecar listing signature
    // (path, bytes, mtime — fresh UUID names on every write), so a stale
    // entry can never serve. Evicting them on EVERY mutation forced a
    // probe re-fold job + driver gap per statement even when that
    // statement never touched the mask (a lightweight UPDATE evicted the
    // mask probe; R17JobProf: one 2-stage fold job per statement of
    // q251's lifecycle). [[create]]'s overwrite — the one path that
    // destroys a table wholesale — still evicts, so a dropped table's
    // last entries do not outlive it ([[evictSidecarMemos]]).
    // manifest memo: commits re-put the fresh state right after; paths
    // that DESTROY the manifest (create's overwrite, drops) must not
    // leave the old parse behind
    Catalog.manifestCache.remove(path(table))
    // built-frame memo: epoch-keyed, but evict eagerly like the rest
    // (all sessions of this JVM — the key's session part is only there
    // to stop cross-session Dataset reuse)
    Catalog.readFrameCache.keys
      .filter(_._2 == path(table)).foreach(Catalog.readFrameCache.remove)
    ()
  }

  /** Hygiene eviction of the signature-validated sidecar memos — only
    * for paths that destroy the table wholesale (entries would otherwise
    * sit in the maps for the process lifetime; correctness never needs
    * this, the listing signatures do that work).
    */
  private def evictSidecarMemos(table: String): Unit = {
    Catalog.sidecarUriCache.remove(path(table))
    Catalog.maskProbeCache.remove(probeKey(table))
    Catalog.maskCountCache.remove(path(table))
    Catalog.patchProbeCache.keys
      .filter(_.startsWith(probeKey(table) + "/"))
      .foreach(Catalog.patchProbeCache.remove)
    ()
  }

  /** Drop the [[patchProbeHits]] memo entries of patch batch dirs a
    * statement retires (`None`: every batch of the table). A retired dir
    * is never looked up again, so its entry — and the broadcast it pins,
    * up to the sidecar cap — would otherwise live as long as the process.
    */
  private def evictPatchProbes(table: String, batchDirs: Option[Seq[String]]): Unit = {
    val app = spark.sparkContext.applicationId + ":"
    batchDirs match {
      case Some(ds) => ds.foreach(d => Catalog.patchProbeCache.remove(app + d))
      case None => Catalog.patchProbeCache.keys
        .filter(_.startsWith(app + patchesDir(table) + "/"))
        .foreach(Catalog.patchProbeCache.remove)
    }
  }

  /** Last-writer-wins view over the append history. Deletion masks apply
    * BEFORE the window: a lightweight-deleted newest version must not win
    * — the surviving older version resurfaces, exactly what CH's FINAL
    * read does once `_row_exists` filters the masked row out of the merge.
    */
  def read(table: String, key: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(desc(versionCol))
    readRaw(table)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  def readRaw(table: String): DataFrame = {
    // manifest-authoritative construction: one LIST of the small
    // `_manifest` dir (the freshness check) + a frame-cache hit.
    // Building the DataFrame is O(files) DRIVER CPU (FileStatus +
    // plan construction — no FS I/O, ManifestSpec counts the calls),
    // so the built frame is memoized per manifest EPOCH: the
    // serving shape reads one net state many times, and a logical
    // plan is immutable. The key carries everything that shapes
    // the plan — snapshot identity, the broadcast-policy knobs
    // (MaskSpec toggles them between reads and must see the plan
    // change), and the owning session.
    val m = stateOf(table)
    val (thr, cap) = sidecarThresholds
    val maxE = spark.conf.get("spark.graft.maskProbeMaxEntries",
      Catalog.DefaultMaskProbeMaxEntries.toString).trim
    val key = (Catalog.sessionKey(spark), path(table))
    Catalog.readFrameCache.get(key) match {
      case Some((sn, sl, t0, c0, e0, df))
        if sn == m.snapName && sl == m.snapLen && t0 == thr &&
          c0 == cap && e0 == maxE => df
      case _ =>
        val s = snapFrom(m, table)
        val df =
          if (s.maskParquet.isEmpty && s.batches.isEmpty) scanOf(table, s)
          else readSplit(table, s)
        Catalog.readFrameCache.put(key,
          (m.snapName, m.snapLen, thr, cap, maxE, df))
        df
    }
  }

  /** The plain scan of a snap's data files. A snap with none fails
    * loud: the error Spark raises for a missing path when the table
    * has no directory, else [[Catalog.manifestedEmpty]].
    */
  private def scanOf(table: String, s: Snap): DataFrame =
    if (s.data.nonEmpty)
      org.apache.spark.sql.graft.PreListedScan
        .parquet(spark, fs.qualify(path(table)), s.data)
    else if (fs.isDir(path(table))) throw Catalog.manifestedEmpty(table)
    else throw org.apache.spark.sql.graft.Bridge
      .pathNotFound(fs.qualify(path(table)))

  /** One recursive listing of the table tree, partitioned into what a
    * read construction consumes. Construction used to re-list the
    * sidecar dirs five times per read (hasDeletes, the URI-memo
    * signature, the mask-apply presence + bytes, the probe-memo
    * signature) — at a few ms per driver-side file stat that was the
    * dominant cost of building a masked read (ListingSoak: ~2 s of a
    * 2.4 s construction). All consumers now share THIS listing; on an
    * object store it is also the difference between one LIST call and
    * six.
    *
    * `mask` is every file under `_deletes` (the memo signatures want
    * non-parquet companions like _SUCCESS too — they change per write);
    * `batches` are the `_patches/seq=N` dirs in sequence order with
    * their own sub-listings; `data` is the [[FsOps.isDataFile]] subset.
    */
  private final case class Snap(
      data: Seq[(String, Long, Long)],
      mask: Seq[(String, Long, Long)],
      batches: Seq[(String, Seq[(String, Long, Long)])]) {
    def maskParquet: Seq[(String, Long, Long)] =
      mask.filter(_._1.endsWith(".parquet"))
  }

  /** The construction listing, from the manifest (O(1): no tree I/O —
    * the entries were stat'ed at commit time).
    */
  private def snapOf(table: String): Snap = snapFrom(stateOf(table), table)

  /** [[Snap]] reconstructed from a manifest state: same partitioning
    * rule as the listing version, absolute URIs rebuilt against the
    * table's own qualified base (so branch reads resolve against the
    * table's filesystem exactly as listing-produced URIs do).
    */
  private def snapFrom(m: Manifest.State, table: String): Snap = {
    val base = fs.qualify(path(table)).stripSuffix("/")
    val data = Seq.newBuilder[(String, Long, Long)]
    val mask = Seq.newBuilder[(String, Long, Long)]
    val batches = scala.collection.mutable.SortedMap.empty[Long,
      scala.collection.mutable.Builder[(String, Long, Long),
        Seq[(String, Long, Long)]]]
    m.entries.foreach { e =>
      val abs = (s"$base/${e.rel}", e.len, e.mtime)
      val segs = e.rel.split('/')
      if (segs.head == "_deletes") mask += abs
      else if (segs.head == "_patches" && segs.length >= 2 &&
          segs(1).startsWith("seq=")) {
        val n = segs(1).stripPrefix("seq=").toLongOption.getOrElse(
          throw new IllegalStateException(
            s"manifest of '${path(table)}' names malformed batch " +
              s"'${segs(1)}'"))
        batches.getOrElseUpdate(n, Seq.newBuilder) += abs
      } else if (fs.isDataRel(e.rel)) data += abs
    }
    Snap(data.result(), mask.result(),
      batches.toSeq.map { case (n, b) =>
        (s"${patchesDir(table)}/seq=$n", b.result())
      })
  }

  private def snapFromListing(table: String): Snap = {
    val tdir = path(table)
    val qd = fs.qualify(tdir).stripSuffix("/") + "/"
    val data = Seq.newBuilder[(String, Long, Long)]
    val mask = Seq.newBuilder[(String, Long, Long)]
    val batches = scala.collection.mutable.SortedMap.empty[Long,
      scala.collection.mutable.Builder[(String, Long, Long),
        Seq[(String, Long, Long)]]]
    fs.listFiles(tdir).foreach { case e @ (p, _, _) =>
      // listings come back qualified from the same FileSystem `qd` was
      // qualified through, so the prefix strip is exact; relativeTo is
      // the defensive fallback for an FS that returns a variant form
      val rel = if (p.startsWith(qd)) p.substring(qd.length)
        else fs.relativeTo(tdir, p).getOrElse(
          throw new IllegalStateException(
            s"snap: listed '$p' does not relativize under '$tdir'"))
      val segs = rel.split('/')
      if (segs.head == "_deletes") mask += e
      else if (segs.head == "_patches" && segs.length >= 2 &&
          segs(1).startsWith("seq=")) {
        // same fail mode as patchBatches' `.toLong`: a malformed batch
        // dir is on-disk corruption, and adopting a tree WITHOUT its
        // patches would silently serve pre-update rows (r14 ADVICE)
        val n = segs(1).stripPrefix("seq=").toLongOption.getOrElse(
          throw new IllegalStateException(
            s"snap: malformed patch batch dir '${segs(1)}' under " +
              s"'${patchesDir(table)}' — not a seq=<long>"))
        batches.getOrElseUpdate(n, Seq.newBuilder) += e
      }
      else if (fs.isDataRel(rel)) data += e
    }
    Snap(data.result(), mask.result(),
      batches.toSeq.map { case (n, b) =>
        (s"${patchesDir(table)}/seq=$n", b.result())
      })
  }

  // ---- manifest (log-structured listing; see graft.operators.Manifest) --

  /** Latest committed manifest state of `table`, memoized on the
    * snapshot file's own (name, len) — the lookup costs ONE listing of
    * the small `_manifest` dir (that listing IS the cross-process
    * freshness check), the parse only runs when the snapshot changed.
    * None = nothing committed yet; a present but unreadable snapshot
    * throws (see [[Manifest]]'s authority contract).
    */
  private def loadManifest(table: String): Option[Manifest.State] = {
    val key = path(table)
    Manifest.latestMeta(fs, key) match {
      case None =>
        Catalog.manifestCache.remove(key); None
      case Some((name, len)) =>
        Catalog.manifestCache.get(key) match {
          case Some(st) if st.snapName == name && st.snapLen == len =>
            Some(st)
          case _ =>
            val st = Manifest.parse(name, len,
              fs.readBytes(s"${Manifest.dir(key)}/$name"), key)
            Catalog.manifestCache.put(key, st)
            Some(st)
        }
    }
  }

  /** The state every read and mutation works from. A directory without
    * `_manifest` is adopted on first touch: its tree becomes the first
    * snapshot, the same commit [[create]] makes (a racer that loses the
    * adoption CAS reloads the winner's snapshot and goes on). A table
    * with no directory has the empty state at seq 0, and nothing is
    * written for it: [[append]] creates it, reads fail as on a missing
    * path.
    */
  private def stateOf(table: String): Manifest.State =
    loadManifest(table).getOrElse {
      if (!fs.isDir(path(table))) Catalog.Absent
      else try commitManifest(table, 0, treeEntries(table), Nil)
      catch {
        case e: ConcurrentCommitException => loadManifest(table).getOrElse(throw e)
      }
    }

  private def commitManifest(table: String, prevSeq: Long,
      entries: Seq[Manifest.Entry], remove: Seq[String]): Manifest.State = {
    val st = Manifest.commit(fs, path(table), prevSeq, entries, remove)
    Catalog.manifestCache.put(path(table), st)
    st
  }

  /** Commit the whole tree as the live set, past the latest committed
    * sequence: the fresh tree of [[create]] or of an append that created
    * the table (superseding any adoption a concurrent reader made of it
    * mid-write), and the [[refreshManifest]] hatch.
    */
  private def commitTree(table: String): Unit = {
    val prevSeq = Manifest.latestMeta(fs, path(table))
      .map(nm => Manifest.seqOfName(nm._1)).getOrElse(0L)
    commitManifest(table, prevSeq, treeEntries(table), Nil)
    ()
  }

  /** Every live file of the tree as manifest entries — the adoption
    * snapshot of a directory without `_manifest` and the body of
    * [[commitTree]]. Shares [[snapFromListing]], so malformed sidecar
    * state fails loud here too.
    */
  private def treeEntries(table: String): Seq[Manifest.Entry] = {
    val s = snapFromListing(table)
    (s.data ++ s.mask ++ s.batches.flatMap(_._2)).flatMap {
      case (p, len, mt) =>
        fs.relativeTo(path(table), p).map(Manifest.Entry(_, len, mt))
    }
  }

  /** The concurrent-writer grace window (class doc): 0 = single-writer
    * eager hygiene (every uncommitted sidecar file is crash debris the
    * moment a mutator enters); > 0 = concurrent deployments, where age
    * is the only signal separating crash debris from an in-flight
    * peer's files.
    */
  private def sidecarSweepGraceMs: Long = spark.conf
    .get("spark.graft.sidecarSweepGraceMs", "0").trim.toLong

  /** Mutation preamble, called by every public mutator before it reads
    * or writes the tree; returns the state the mutation commits against
    * ([[stateOf]] — adopting a directory on first touch, the empty
    * state for a table with no directory):
    *
    *   1. finish an interrupted commit's cleanup (`remove`-pending
    *      files — the crash window between a flip and its cleanup);
    *   2. sweep UNCOMMITTED sidecar files (two small LISTs, the
    *      sidecar dirs are O(mutated rows) by design): the sidecar
    *      rewrite paths re-list those dirs scoped, and a crashed
    *      statement's uncommitted mask/patch files must not get
    *      adopted as if the statement had committed.
    *
    * Read paths never call this: reads are manifest-served and correct
    * against any crash state without writing anything beyond the
    * first-touch adoption.
    */
  private def beginMutation(table: String): Manifest.State = {
    val m = stateOf(table)
    if (m.remove.nonEmpty) {
      m.remove.foreach(destroyRel(table, _))
      commitManifest(table, m.seq, m.entries, Nil)
    }
    val known = m.entries.map(_.rel).toSet
    // CONCURRENT-WRITER GRACE (Delta's vacuum-retention posture, a
    // public design): with a second writer live on this table, an
    // uncommitted sidecar file may be an IN-FLIGHT statement's —
    // indistinguishable from a crashed one by anything but age.
    // Sweeping it would let the victim seal a manifest naming a
    // missing file (reads fail loud; the refreshManifest heal then
    // silently drops the statement — a lost update). Deployments
    // running concurrent writers on one table set the grace above
    // their max statement duration; the 0 default keeps the
    // single-writer-per-table eager hygiene exactly as before.
    // Folds and reads never adopt young debris either way — both
    // consume the COMMITTED sidecar set ([[snapOf]]), never a disk
    // listing.
    val graceMs = sidecarSweepGraceMs
    val now = System.currentTimeMillis()
    Seq(deletesDir(table), patchesDir(table)).foreach { d =>
      fs.listFiles(d).foreach { case (p, _, mt) =>
        fs.relativeTo(path(table), p).foreach { rel =>
          // ANY uncommitted file goes, not just parquet: the
          // sidecar dirs are wholly protocol-owned (committed
          // state lists every file, `_SUCCESS` included), and a
          // parquet-only sweep left a crashed fold's batch dir as
          // a `_SUCCESS`-only husk that the disk-level
          // patchBatches listing then fed to spark.read as an
          // unreadable empty batch (found by the ChaosSoak sweep)
          if (!known.contains(rel) && now - mt >= graceMs)
            destroyRel(table, rel)
        }
      }
    }
    stateOf(table)
  }

  /** The one-flip recommit + deferred destruction every manifested
    * mutation that REPLACES state routes through (r16 verdict item 1 —
    * this retires the destroy-then-recommit shape whose mid-window
    * kill left reads failing loud until refreshManifest):
    *
    *   1. the caller has already written its new files IN PLACE beside
    *      the old ones (fresh UUID names — invisible orphans, or for
    *      sidecar folds a value-identical superset, until the flip);
    *   2. ONE commit adopts `adds` and drops every entry named by
    *      `removeRels` — THE atomicity point;
    *   3. destruction strictly after: the removed files, their
    *      emptied ancestor dirs, and sidecar dirs left without
    *      parquet; then a second commit clears the pending-remove
    *      list. A kill anywhere in 3 is finished by the next
    *      mutation's reconcile ([[beginMutation]]).
    *
    * Every kill point leaves reads SERVING — the old committed state
    * before 2, the new one after it — never refusing, never torn.
    */
  private def commitFlip(table: String, prev: Manifest.State,
      adds: Seq[Manifest.Entry], removeRels: Seq[String]): Unit = {
    val removeSet = removeRels.toSet
    val kept = prev.entries.filterNot(e => removeSet.contains(e.rel))
    val st =
      try commitManifest(table, prev.seq, kept ++ adds,
        removeSet.toSeq.sorted)
      catch {
        case e: ConcurrentCommitException =>
          // the flip was REFUSED: nothing committed, the old state
          // serves untouched, and `adds` are files THIS mutation wrote
          // under fresh names (never another writer's — every add
          // derivation is own-writes-only by construction). Destroy
          // them before surfacing the refusal so a retry loop does not
          // leak one uncommitted file set per attempt.
          adds.foreach(a => destroyRel(table, a.rel))
          throw e
      }
    removeSet.foreach(destroyRel(table, _))
    // emptied-sidecar-dir cleanup is single-writer-only cosmetics:
    // under concurrency (grace > 0) a peer's append may have JUST
    // created the dir with only its _temporary staging inside —
    // removing it would fail the peer's legitimate job mid-commit
    if (sidecarSweepGraceMs == 0L)
      Seq(deletesDir(table), patchesDir(table)).foreach { d =>
        if (fs.isDir(d) && !fs.hasParquetUnder(d)) fs.rmTree(d)
      }
    // hygiene commit (clears the pending-remove list). A refusal here
    // is SWALLOWED, not surfaced: the flip above already committed the
    // mutation — rethrowing would make a retry wrapper re-apply a
    // LANDED mutation (double-apply) — and the refusal itself proves a
    // successor committed past us, whose beginMutation reconcile owns
    // exactly this cleanup (destroyRel is idempotent).
    try { commitManifest(table, st.seq, st.entries, Nil); () }
    catch { case _: ConcurrentCommitException => () }
  }

  /** Destroy one manifest-named file: the file, its checksum companion
    * (Spark's committer leaves `.name.crc` siblings on the local
    * scheme that are never manifest entries — left behind they keep an
    * emptied partition directory alive and leak bytes per mutation),
    * and any ancestor directories this empties. The ONE destruction
    * primitive every remove-list consumer shares.
    */
  private def destroyRel(table: String, rel: String): Unit = {
    val abs = s"${path(table)}/$rel"
    fs.rmTree(abs)
    val slash = rel.lastIndexOf('/')
    val crcRel =
      if (slash < 0) s".$rel.crc"
      else s"${rel.substring(0, slash + 1)}.${rel.substring(slash + 1)}.crc"
    fs.rmTree(s"${path(table)}/$crcRel")
    dropEmptyAncestors(parentOf(abs), path(table))
  }

  /** Table-relative rels of every manifest entry under any of `dirs`
    * (table-relative directory prefixes).
    */
  private def entriesUnder(m: Manifest.State,
      dirs: Seq[String]): Seq[String] =
    m.entries.map(_.rel).filter(rel =>
      dirs.exists(d => rel == d || rel.startsWith(d + "/")))

  /** Recommit after a partition-directory ARRIVAL (attach / copy-in /
    * move-in): entries under `rel` drop and the directory's CURRENT
    * files adopt via one scoped relist — orphan-safe because the dir
    * arrived WHOLESALE (moved or copied as one tree into a previously
    * absent path, so everything inside is this op's intended state).
    * Runs AFTER the physical arrival: a kill before it leaves the new
    * files unserved ("the attach never happened") — reads keep
    * serving the old state.
    */
  private def commitAdopt(table: String, m: Manifest.State,
      rel: String): Unit = {
    val kept = m.entries.filterNot(e =>
      e.rel == rel || e.rel.startsWith(rel + "/"))
    val adopted = fs.listFiles(s"${path(table)}/$rel")
      .flatMap { case (p, len, mt) =>
        fs.relativeTo(path(table), p).map(Manifest.Entry(_, len, mt))
      }
    commitManifest(table, m.seq, kept ++ adopted, Nil)
    ()
  }

  /** Recommit BEFORE a partition-directory DEPARTURE (detach /
    * move-out): entries under `rel` leave the live set first, THEN the
    * caller moves the directory. A kill between the two leaves the
    * not-yet-moved files as invisible orphans and the op re-runnable —
    * reads serve at every point (the departed-first order replaces the
    * old move-then-recommit shape, whose mid-window kill left the
    * manifest naming moved files: fail-loud until refreshManifest).
    */
  private def commitRetire(table: String, m: Manifest.State,
      rel: String): Unit = {
    commitManifest(table, m.seq, m.entries.filterNot(e =>
      e.rel == rel || e.rel.startsWith(rel + "/")), Nil)
    ()
  }

  /** Repair hatch: re-establish the manifest from the tree (finishing
    * any pending cleanup FIRST, so `remove`-flagged files cannot be
    * resurrected). Adopts every data/sidecar file present — only sound
    * when the operator has verified the tree holds exactly the
    * intended state (the documented recovery step after a crash inside
    * a non-flip mutation's window).
    */
  def refreshManifest(table: String): Unit = {
    // the hatch must work on the state it exists to repair: a CORRUPT
    // latest snapshot parses to an error everywhere else, so here the
    // pending-removal pass is skipped (its list is unreadable — the
    // one information loss corruption costs: removed-pending files
    // still on disk get re-adopted) and the sequence continues from
    // the snapshot's NAME, which parses independently of its bytes
    try
      loadManifest(table).foreach { m =>
        if (m.remove.nonEmpty) m.remove.foreach(destroyRel(table, _))
      }
    catch { case _: IllegalStateException => () }
    commitTree(table)
    invalidateProjections(table)
  }

  /** Delete tree files the manifest does not reference — crash orphans
    * (a flip's interrupted cleanup, an interrupted append). They are
    * invisible to every read, so this is space hygiene, not
    * correctness; one recursive LIST, explicit-call-only (the
    * VACUUM analog of the log-structured formats).
    */
  def vacuum(table: String): Unit = {
    val live = beginMutation(table).entries.map(_.rel).toSet
    treeEntries(table).map(_.rel).filterNot(live)
      .foreach(destroyRel(table, _))
  }

  /** Masked/patched read with FILE-level pruning of the sidecar tax:
    * only files a mask/patch entry actually references pay the
    * row-identity materialization and the sidecar joins — every other
    * file scans on the plain vectorized path and unions in. At 100 TB
    * this turns the outstanding-sidecar read tax from O(table) into
    * O(dirty files): a session-scoped delete dirties one partition's
    * files, and the other 29 days of a month-partitioned table read
    * exactly as if no mutation existed (MaskSoak measures the gap; the
    * r12 shape taxed EVERY file). Costs one small driver-side job per
    * read to list the referenced files — bounded by the sidecar size —
    * so tables under [[Catalog.SplitReadMinFiles]] data files skip the
    * split: at that size the whole-table tag is cheaper than the extra
    * planning job.
    */
  private def readSplit(table: String, s: Snap): DataFrame = {
    // full qualified URIs from the listing (scheme + authority) — the
    // branch reads below hand these to spark.read verbatim, so they
    // resolve against the TABLE'S filesystem even when `fs.defaultFS`
    // points elsewhere; only the comparison against sidecar
    // `_metadata.file_path` values normalizes to scheme-less form
    val all = s.data.map(_._1)
    if (all.length < Catalog.SplitReadMinFiles)
      return readTagged(table, s).drop(Catalog.FileCol, Catalog.PosCol)
    val dirtyUris = sidecarFileUris(table, s)
    // The two URI populations need DIFFERENT normalizations to meet on
    // the on-disk path: `_metadata.file_path` values are properly
    // URI-ENCODED (a dir literally named `day=k%3D3` — Spark's escape
    // of '=' in a partition value — reports as `day=k%253D3`), so
    // [[normUri]]'s one java.net.URI decode recovers the on-disk name;
    // listing/manifest paths are Hadoop `Path.toString`, which is the
    // RAW on-disk path with a scheme prefix — decoding THAT corrupts
    // any literal `%XX` in a filename (`%3D` → `=`), which is why
    // escaped-partition tables used to fail the subset check below and
    // silently lose the split read. [[normListedUri]] therefore only
    // strips scheme+authority. Snap URIs are `qualifiedBase + "/" +
    // rel` by construction ([[snapFrom]]), so their normal form
    // is one base normalization + a raw suffix swap — no per-file work.
    val qb = fs.qualify(path(table)).stripSuffix("/")
    val nb = normListedUri(qb)
    val allNorm = all.map(p => nb + p.substring(qb.length)).toSet
    // Fail CLOSED on ANY sidecar URI that matches no listed file — not
    // just on an all-empty match. An unmatched entry is either stale
    // (rewrites mint fresh UUID names and prune their entries, so this
    // should not happen) or a normalization failure, and the two are
    // indistinguishable here; in the failure case the file it really
    // references would otherwise scan on the CLEAN branch and its
    // deleted rows resurface / patches drop silently. The whole-table
    // tagged read is correct for both cases — it just skips the
    // optimization (stale entries filter nothing there).
    if (dirtyUris.isEmpty || !dirtyUris.subsetOf(allNorm))
      return readTagged(table, s).drop(Catalog.FileCol, Catalog.PosCol)
    val dirty = s.data.filter(e => dirtyUris.contains(normListedUri(e._1)))
    val clean = s.data.diff(dirty)
    val base = fs.qualify(path(table))
    // branch reads serve the snap listing directly (PreListedScan):
    // `spark.read.parquet(files: _*)` treats every file as a root path
    // and re-stats each one at plan time — ~0.8 ms/file, 14-16 s per
    // branch at 17k files (ListingSoak) for paths THIS construction
    // already listed once
    val tagged = org.apache.spark.sql.graft.PreListedScan
      .parquet(spark, base, dirty)
      .withColumn(Catalog.FileCol, col("_metadata.file_path"))
      .withColumn(Catalog.PosCol, col("_metadata.row_index"))
    val dirtyDf =
      applyPatches(table, applyMask(table, tagged, s.mask), s.batches)
        .drop(Catalog.FileCol, Catalog.PosCol)
    if (clean.isEmpty) dirtyDf
    else {
      val cleanDf = org.apache.spark.sql.graft.PreListedScan
        .parquet(spark, base, clean)
      // partition-value type inference runs per branch on explicit file
      // lists; mixed-type partition values (day=1 next to day=x) could
      // make the branches disagree — correctness first: fall back to the
      // whole-table tag (nullability differences are fine, patches widen)
      val compatible = dirtyDf.columns.toSeq == cleanDf.columns.toSeq &&
        dirtyDf.schema.zip(cleanDf.schema).forall { case (a, b) =>
          org.apache.spark.sql.graft.Bridge.sameType(a.dataType, b.dataType)
        }
      if (!compatible)
        readTagged(table, s).drop(Catalog.FileCol, Catalog.PosCol)
      else dirtyDf.unionByName(cleanDf)
    }
  }

  private def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => true
      case ArrayType(e, _) => hasMap(e)
      case StructType(fs) => fs.exists(f => hasMap(f.dataType))
      case _ => false
    }
  }

  /** Distinct files referenced by any outstanding mask/patch entry,
    * normalized to scheme-less paths ([[normUri]] — `file_path` values
    * carry a scheme, and object-store listings an authority, that the
    * comparison must not depend on).
    *
    * Cached per table, keyed on the sidecar listings already taken by
    * the construction's [[snap]] (path, bytes, mtime): the
    * distinct-collect is a small but real driver-side Spark job, and a
    * masked/patched read pays it at PLANNING time — on a serving path
    * that reads the same net state repeatedly (the common shape:
    * mutations are rare, reads are not) the job would otherwise run per
    * read. Any mutation changes the signature (fresh UUID file names;
    * folds add + remove files), so a hit is always current state.
    */
  private def sidecarFileUris(table: String, s: Snap): Set[String] = {
    // the snap's exact COMMITTED files (the authority rule every other
    // sidecar consumer follows), in ONE read with a one-column explicit
    // schema — parquet binds columns by name, so the shared `file`
    // column reads from mask and patch files alike; the per-DIRECTORY
    // spark.read this replaces paid a listing + a footer-inference job
    // per sidecar dir on every memo miss
    val files = s.maskParquet.map(_._1) ++
      s.batches.flatMap(_._2.map(_._1).filter(_.endsWith(".parquet")))
    val sig = s.mask +: s.batches.map(_._2)
    Catalog.sidecarUriCache.get(path(table)) match {
      case Some((c, uris)) if c == sig => uris
      case _ =>
        val uris =
          if (files.isEmpty) Set.empty[String]
          else spark.read
            .schema(org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("file",
                org.apache.spark.sql.types.StringType))))
            .parquet(files: _*)
            .select("file").distinct()
            .collect().map(r => normUri(r.getString(0))).toSet
        Catalog.sidecarUriCache.put(path(table), (sig, uris))
        uris
    }
  }

  /** Raw scan with the physical row identity (file path, row position)
    * attached, deletion masks anti-joined away and outstanding update
    * patches applied — the one source every read AND every mutation
    * predicate evaluates against (a `DELETE WHERE status = 'closed'`
    * must see a status a lightweight update patched in).
    */
  private def readTagged(table: String): DataFrame =
    readTagged(table, snapOf(table))

  private def readTagged(table: String, s: Snap): DataFrame = {
    // the scan serves the snap's own file set (a tree listing here would
    // adopt crash orphans the manifest deliberately does not reference)
    val scan = scanOf(table, s)
      .withColumn(Catalog.FileCol, col("_metadata.file_path"))
      .withColumn(Catalog.PosCol, col("_metadata.row_index"))
    applyPatches(table, applyMask(table, scan, s.mask), s.batches)
  }

  /** Join-strategy hint for a sidecar frame, sized by its on-disk bytes
    * (r12 ADVICE: nothing bounds a sidecar, and an UNCONDITIONAL
    * broadcast hint would collect an arbitrarily large one to the
    * driver). Three regimes:
    *
    *   - broadcasting disabled (`autoBroadcastJoinThreshold <= 0`): no
    *     hint — the user's knob wins, the planner picks a shuffle join;
    *   - bytes within `max(autoBroadcastJoinThreshold,
    *     spark.graft.sidecarBroadcastBytes)` (default 64 MB): broadcast.
    *     Sidecars are dimension-shaped (O(mutated rows), dictionary-
    *     friendly file strings) and the default threshold's 10 MB is far
    *     below what a read should shuffle 100 TB of fact rows to avoid —
    *     the cap keeps the hint BOUNDED without making it timid
    *     (MaskSoak: an over-threshold folded batch read 5x slower
    *     through a sort-merge join than broadcast);
    *   - beyond the cap: `shuffle_hash` — both sides shuffle, but the
    *     fact side is never SORTED (the SMJ failure mode). A sidecar
    *     this large is the signal to OPTIMIZE (fold it into the parts).
    */
  private def sidecarSide(df: DataFrame, bytes: Long): DataFrame = {
    val (thr, cap) = sidecarThresholds
    if (thr <= 0) df
    else if (bytes <= math.max(thr, cap)) broadcast(df)
    else df.hint("shuffle_hash")
  }

  /** Within-broadcast-policy gate for a sidecar file set — shared by
    * the probe paths and the r18 DRIVER-side folds (the same argument
    * that lets the values broadcast lets a fold hold them): broadcast
    * enabled, bytes within the cap, entry count (from footers — dense
    * runs delta-encode, the byte gate alone is blind to them) within
    * the probe ceiling. `entries` is by-name: callers skip the footer
    * reads when a cheaper gate already failed.
    */
  private def withinProbePolicy(bytes: Long, entries: => Long): Boolean = {
    val (thr, cap) = sidecarThresholds
    thr > 0 && bytes <= math.max(thr, cap) && entries <= maskProbeMaxEntries
  }

  private def maskProbeMaxEntries: Long = spark.conf
    .get("spark.graft.maskProbeMaxEntries",
      Catalog.DefaultMaskProbeMaxEntries.toString)
    .trim.toLongOption.getOrElse(Catalog.DefaultMaskProbeMaxEntries)

  /** (autoBroadcastJoinThreshold, graft sidecar cap) in bytes — the one
    * policy pair [[sidecarSide]] and the grouped mask probe share.
    */
  private def sidecarThresholds: (Long, Long) = {
    def parse(raw: String, dflt: Long): Long =
      // plain longs include "-1" (broadcast disabled) — byteStringAsBytes
      // rejects negatives, so parse numerics first
      raw.trim.toLongOption.getOrElse(
        try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
        catch { case _: IllegalArgumentException => dflt })
    (parse(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"),
      10L * 1024 * 1024),
      parse(
        spark.conf.get("spark.graft.sidecarBroadcastBytes",
          Catalog.DefaultSidecarBroadcastBytes.toString),
        Catalog.DefaultSidecarBroadcastBytes))
  }

  // ---- lightweight deletes (deletion-vector mask sidecar) ---------------

  private def deletesDir(table: String) = path(table) + "/_deletes"

  /** True when the table carries COMMITTED deletion-mask entries —
    * the same authority reads and folds answer to (manifest-scoped on
    * manifested tables; a concurrent statement's young uncommitted
    * files under a sweep grace window count for nothing until their
    * commit lands).
    */
  def hasDeletes(table: String): Boolean = snapOf(table).maskParquet.nonEmpty

  /** ClickHouse lightweight `DELETE FROM t WHERE p` semantics: record the
    * matching rows' (file, row position) in a `_deletes` mask sidecar
    * instead of rewriting data parts — CH writes a `_row_exists` mask
    * column with the same effect. Cost: one scan to FIND matches plus
    * O(matches) mask bytes WRITTEN; zero data bytes rewritten, so a
    * high-QPS delete workload inside one partition never pays a partition
    * rewrite (MaskSoak measures the gap vs the pruned rewrite). Every
    * read path applies the mask via [[applyMask]] — a broadcast grouped
    * probe while the mask clears the broadcast policy, the (file, pos)
    * LEFT ANTI join beyond it — the filter-before-serve cost CH pays
    * too. Masks accumulate until a heavy rewrite of the
    * same rows materializes them (OPTIMIZE / compact / ALTER mutations —
    * CH: until the part merges). The sidecar directory is `_`-prefixed,
    * which Spark's file listing and partition discovery skip, so it can
    * never be read as data.
    */
  def deleteWhereLight(table: String, cond: Column): Unit = {
    val prev = beginMutation(table)
    val before = fs.listFiles(deletesDir(table)).map(_._1).toSet
    val hits = readTagged(table).filter(cond).select(
      col(Catalog.FileCol).as("file"), col(Catalog.PosCol).as("pos"))
    hits.write.mode("append").parquet(deletesDir(table))
    invalidateProjections(table)
    // delta = this statement's mask files (one small-dir diff); a
    // crash before this commit leaves them as swept-away orphans —
    // the statement never happened, exactly the flip contract.
    // Under concurrent writers the diff may ALSO pick up a peer's
    // just-landed mask files (Spark appends surface whole at job
    // commit, never partially): adopting them commits the peer's
    // delete — mask entries are self-describing (file, pos) facts,
    // so whichever writer names them first is equivalent to the
    // peer's own commit; the peer's retry then diffs to nothing.
    // This is also why a REFUSED delete must NOT destroy `added`
    // (it may contain the peer's files) — its own orphans wait for
    // the grace sweep instead.
    val added = fs.listFiles(deletesDir(table))
      .filterNot { case (p, _, _) => before.contains(p) }
      .flatMap { case (p, len, mt) =>
        fs.relativeTo(path(table), p).map(Manifest.Entry(_, len, mt))
      }
    commitManifest(table, prev.seq, prev.entries ++ added, Nil)
  }

  /** Apply the table's deletion mask to a tagged scan. Two shapes:
    *
    *   - mask within the broadcast policy ([[sidecarThresholds]]): a
    *     GROUPED PROBE — the mask folded to Map[file -> sorted position
    *     array], broadcast once, each fact row filtered by a binary
    *     search. The per-file representation carries each path string
    *     ONCE (the join's build side carries it per masked row — at a
    *     30 % mask of an 8 M-row table that is ~288 MB of strings vs
    *     ~18 MB grouped, and the oversized build forces the whole fact
    *     through a shuffle). MaskProbeSoak: masked reads at the CLEAN
    *     floor across 1–30 % masks (anti-join paid 2.2–6.7x); the fold
    *     is one mask-only job, cached like the file list
    *     ([[Catalog.maskProbeCache]], same listing-signature key).
    *   - broadcasting disabled (`autoBroadcastJoinThreshold <= 0`) or
    *     mask beyond the cap: the LEFT ANTI join on (file, pos),
    *     shuffle-sided by [[sidecarSide]] — the probe must not smuggle
    *     an unbounded driver collect past the user's knob, and a mask
    *     past the cap is the signal to OPTIMIZE anyway.
    */
  private def applyMask(table: String, scan: DataFrame,
      maskListing: Seq[(String, Long, Long)]): DataFrame = {
    val parquets = maskListing.filter(_._1.endsWith(".parquet"))
    if (parquets.isEmpty) scan
    else {
      val bytes = parquets.map(_._2).sum
      val (thr, cap) = sidecarThresholds
      // the byte gate alone is blind to compressibility: DENSE position
      // runs (a partition-scoped delete masks positions 0..N of each
      // file) delta-encode ~100x, so a few-KB parquet mask can carry
      // tens of millions of entries — collected to the driver by the
      // probe fold, or built into an executor hash relation by a
      // broadcast join. Gate on the footer ROW COUNT too (free metadata,
      // memoized on the listing); past it, the anti-join runs
      // shuffle_hash unconditionally — both sides stay distributed.
      val entries = maskEntryCount(table, parquets)
      val maxEntries = maskProbeMaxEntries
      if (thr > 0 && bytes <= math.max(thr, cap) && entries <= maxEntries) {
        val bc = maskProbeGroups(table, maskListing)
        // codegen gate, not a UDF: WideProbeSoak measured the UDF row
        // gate at 1.76x the clean floor on narrow aggregates (8 data
        // bytes/row — pruning leaves the probe as the only per-row
        // work); the expression memoizes per FILE and stays inside the
        // WholeStageCodegen span (see MaskProbeGate)
        import org.apache.spark.sql.graft.Bridge
        scan.filter(Bridge.toColumn(
          org.apache.spark.sql.graft.MaskProbeGate(
            Bridge.toExpr(col(Catalog.FileCol)),
            Bridge.toExpr(col(Catalog.PosCol)), bc)))
      } else {
        // same authority rule as the probe branch: the listing's exact
        // files, never the directory (grace-deferred young debris);
        // explicit fixed schema — no footer-inference job (MaskSchema)
        val m = spark.read.schema(Catalog.MaskSchema)
          .parquet(parquets.map(_._1): _*)
          .select(col("file").as(Catalog.FileCol),
            col("pos").as(Catalog.PosCol))
        val side = if (entries > maxEntries) m.hint("shuffle_hash")
          else sidecarSide(m, bytes)
        scan.join(side, Seq(Catalog.FileCol, Catalog.PosCol), "left_anti")
      }
    }
  }

  /** Total mask entries, from the parquet FOOTERS (driver-side metadata,
    * no data bytes) — memoized on the mask listing like every other
    * sidecar-planning product.
    */
  private def maskEntryCount(table: String,
      parquets: Seq[(String, Long, Long)]): Long =
    Catalog.maskCountCache.get(path(table)) match {
      case Some((s, n)) if s == parquets => n
      case _ =>
        val conf = spark.sessionState.newHadoopConf()
        val n = parquets.map { case (f, _, _) =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f), conf))
          try {
            import scala.jdk.CollectionConverters._
            r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
          } finally r.close()
        }.sum
        Catalog.maskCountCache.put(path(table), (parquets, n))
        n
    }

  /** The grouped deletion mask (file -> sorted masked positions) as a
    * broadcast, memoized per table on the `_deletes` listing signature
    * (same scheme as [[sidecarFileUris]]: any mutation writes/removes
    * sidecar files, so a signature hit is always current state; evicted
    * eagerly by [[invalidateProjections]], stale broadcasts are
    * unreferenced and fall to the ContextCleaner). Driver memory is
    * bounded by the broadcast policy gate in [[applyMask]] — the
    * grouped form is strictly smaller than the mask parquet it folds.
    */
  /** [[Catalog.maskProbeCache]] key: the probe memo stores a
    * SparkContext-bound Broadcast, so the key carries the context's
    * applicationId — after a stop/restart in the same JVM an unchanged
    * mask listing must recompute, not serve a broadcast whose blocks
    * live in the stopped context (r14 ADVICE).
    */
  private def probeKey(table: String): String =
    spark.sparkContext.applicationId + ":" + path(table)

  private def maskProbeGroups(table: String,
      sig: Seq[(String, Long, Long)])
      : org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]] =
    Catalog.maskProbeCache.get(probeKey(table)) match {
      case Some((s, bc)) if s == sig => bc
      case _ =>
        // read exactly the signature's files, never the directory: the
        // sig IS the authoritative (manifest-scoped) mask set, and a
        // dir read under a sweep grace window could fold a concurrent
        // statement's young uncommitted entries into the probe.
        // ONE single-stage job (scan + collect, no exchange): the
        // grouping and per-file sort run driver-side on the rows the
        // broadcast was going to hold anyway — the groupBy/sort_array
        // shape this replaces shuffled the mask and, under AQE, cost a
        // 2-job stage-materialization pair per fold (R17JobProf).
        val rows = spark.read.schema(Catalog.MaskSchema).parquet(
            sig.map(_._1).filter(_.endsWith(".parquet")): _*)
          .queryExecution.executedPlan.executeCollect()
        val byFile = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
        rows.foreach { r =>
          byFile.getOrElseUpdate(r.getUTF8String(0).toString,
            new scala.collection.mutable.ArrayBuilder.ofLong) += r.getLong(1)
        }
        val grouped = byFile.iterator.map { case (f, b) =>
          val a = b.result(); java.util.Arrays.sort(a); f -> a
        }.toMap
        val bc = spark.sparkContext.broadcast(grouped)
        Catalog.maskProbeCache.put(probeKey(table), (sig, bc))
        bc
    }

  // ---- lightweight updates (patch-part sidecar) --------------------------

  private def patchesDir(table: String) = path(table) + "/_patches"

  /** True when the table carries COMMITTED update patches (the
    * [[hasDeletes]] authority rule).
    */
  def hasPatches(table: String): Boolean = snapOf(table).batches.nonEmpty

  /** Outstanding patch batch directories (absolute paths), in
    * application order.
    */
  private def patchBatches(table: String): Seq[String] = {
    val d = patchesDir(table)
    fs.listDirNames(d).filter(_.startsWith("seq="))
      .sortBy(_.stripPrefix("seq=").toLong)
      .map(n => s"$d/$n")
  }

  /** Highest patch sequence visible on DISK — committed or not:
    * `seq=K` batch directories AND outstanding `.claim-K` files both
    * count (a crashed claimant's orphan claim blocks its sequence
    * until the grace sweep retires it; allocating PAST it keeps
    * concurrent writers live — the orphan burns one sequence number,
    * and gaps are harmless because batches apply in sorted order).
    */
  private def diskPatchSeqMax(table: String): Long = {
    val dirs = patchBatches(table).map(seqOf)
    val claims = fs.listFiles(patchesDir(table)).flatMap { case (p, _, _) =>
      val n = p.substring(p.lastIndexOf('/') + 1)
      if (n.startsWith(".claim-")) n.stripPrefix(".claim-").toLongOption
      else None
    }
    (dirs ++ claims).foldLeft(-1L)(math.max)
  }

  /** Claim a patch-batch sequence before writing its directory — the
    * file-level mutual exclusion concurrent patch ALLOCATORS need:
    * `_patches/seq=N` is a deterministic path, and two writers that
    * both computed N would clobber each other's files BEFORE any
    * manifest CAS could refuse one (the commit protocol protects the
    * commit point, not a shared staging path). The claim is
    * [[FsOps.createIfAbsent]] on `.claim-N` beside the batch dirs;
    * the loser throws [[ConcurrentCommitException]] — retry recomputes
    * from fresh state and targets the next free sequence. Claims are
    * never committed: they only need to hold while the claiming
    * statement is in flight, and hygiene retires them with the other
    * uncommitted sidecar debris (after the grace window — the same
    * window that keeps the claimed DIR safe, so the two expire
    * together). Dot-prefixed: invisible to Spark listings, [[Snap]]
    * construction, and [[FsOps.isDataRel]] alike.
    */
  private def claimPatchSeq(table: String, seq: Long): Unit =
    if (!fs.createIfAbsent(s"${patchesDir(table)}/.claim-$seq",
        java.util.UUID.randomUUID().toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      throw new ConcurrentCommitException(
        s"patch batch seq=$seq of '$table' was claimed by a concurrent " +
          "writer — re-read the table state and retry the mutation")

  /** Columns with OUTSTANDING patch assignments on `table` — what a
    * footer-statistics consumer ([[SkipStats]] via EXPLAIN INDEXES) must
    * flag: the minmax/bloom metadata predates the patch values, so
    * advisory pruning numbers on these columns can over-promise (reads
    * stay exact — predicates evaluate after patch application).
    */
  def patchedColumns(table: String): Set[String] =
    snapOf(table).batches.flatMap { case (_, bfs) =>
      spark.read.parquet(
          bfs.filter(_._1.endsWith(".parquet")).map(_._1): _*)
        .columns.filterNot(c =>
          c == "file" || c == "pos" || c.startsWith(Catalog.SetPrefix))
    }.toSet

  /** ClickHouse lightweight `UPDATE t SET a = e WHERE p` (25.x "patch
    * parts"): materialize the assignments for the MATCHING rows into a
    * `_patches/seq=N` sidecar batch — O(matches) written, zero data
    * bytes rewritten — applied at read time as one hash join per
    * outstanding batch in sequence order (CH reads pay the same
    * patch-merge until the part merges; OPTIMIZE and heavy mutations
    * fold patches in here too, and [[compactPatches]] folds K batches to
    * one without touching data). RHS expressions see the CURRENT row
    * (masks + earlier patches applied), values are cast to the column's
    * declared type at write. Partition-column assignments are rejected:
    * reads prune by directory BEFORE patches apply, so a patched
    * partition value would serve wrong prunes — use the heavy
    * [[updateWhere]] (which CH also demands for key columns).
    */
  def updateWhereLight(table: String, cond: Column,
      assignments: Map[String, Column]): Unit = {
    require(assignments.nonEmpty, "lightweight update needs assignments")
    val prev = beginMutation(table)
    val parts = partitionColsOf(table)
    val hit = parts.filter(assignments.contains)
    require(hit.isEmpty,
      s"lightweight update cannot assign partition column(s) " +
        s"${hit.mkString(", ")} — use the heavy updateWhere rewrite")
    val cur = readTagged(table)
    val hits = cur.filter(cond).select(
      col(Catalog.FileCol).as("file") +: col(Catalog.PosCol).as("pos") +:
        assignments.toSeq.sortBy(_._1).map { case (c, v) =>
          v.cast(cur.schema(c).dataType).as(c)
        }: _*)
    // disk max over dirs AND claims (not just committed): never reuse
    // an orphan dir's or an outstanding claim's seq. The claim makes
    // concurrent updaters loud-or-correct — without it two statements
    // computing one seq overwrite each other's batch files before any
    // manifest CAS can refuse either.
    val seq = diskPatchSeqMax(table) + 1
    claimPatchSeq(table, seq)
    val batchDir = s"${patchesDir(table)}/seq=$seq"
    hits.write.mode("overwrite").parquet(batchDir)
    invalidateProjections(table)
    // delta = exactly the new batch dir's files (written whole by this
    // statement — a scoped list cannot pick up anything else)
    val added = fs.listFiles(batchDir).flatMap { case (p, len, mt) =>
      fs.relativeTo(path(table), p).map(Manifest.Entry(_, len, mt))
    }
    commitManifest(table, prev.seq, prev.entries ++ added, Nil)
  }

  private def seqOf(batchDir: String): Long =
    batchDir.substring(batchDir.lastIndexOf("seq=") + 4).toLong

  /** Apply outstanding patch batches in sequence order: one hash LEFT
    * join per batch on (file, pos) (broadcast while the batch clears the
    * session threshold), assigned columns replaced where the batch hits
    * (a patch may legitimately set NULL — replacement is hit-gated,
    * never coalesce). Later batches overwrite earlier ones on the
    * rows/columns they share, which is exactly sequential application
    * because batch values are MATERIALIZED at write time. A batch
    * written by [[compactPatches]] additionally carries a per-column
    * `__set_c` presence flag — replacement is then gated per COLUMN,
    * which is what lets K batches with different assignment sets fold
    * into one.
    */
  private def applyPatches(table: String, df0: DataFrame,
      batches: Seq[(String, Seq[(String, Long, Long)])]): DataFrame =
    batches.foldLeft(df0) { case (df, (bdir, listing)) =>
      // the batch's exact files, never its directory (see applyMask's
      // authority note — grace-deferred young debris must stay unread);
      // schema resolved from one footer DRIVER-SIDE (a batch's columns
      // vary per statement, but one write job produced the whole batch)
      // — no 1-task inference job per batch per read construction
      val pfs = listing.filter(_._1.endsWith(".parquet"))
      val schema = org.apache.spark.sql.graft.PreListedScan
        .footerSchemaOf(spark, pfs)
      val cols = schema.fieldNames.toSeq
      val assigned = cols.filterNot(c =>
        c == "file" || c == "pos" || c.startsWith(Catalog.SetPrefix))
      val bytes = listing.map(_._2).sum
      val (thr, cap) = sidecarThresholds
      val maxEntries = maskProbeMaxEntries
      // PROBE path (the mask gate's patch-side sibling, r17 verdict item
      // 2): a batch within the broadcast policy applies as a codegen
      // per-column rewrite against a broadcast Map[file -> sorted (pos,
      // values)] — no BroadcastExchange (under AQE a separate
      // stage-materialization job per batch per action), no join/project
      // machinery between scan and consumer, bit-identical values
      // (MaskSpec pins probe-vs-join equivalence). Gated like applyMask:
      // byte policy + footer ROW COUNT (dense batches delta-encode), and
      // additionally on value types matching the frame's — the join's
      // `when` would coerce, the probe returns stored values verbatim.
      val dfTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val entries = org.apache.spark.sql.graft.PreListedScan
        .footerRowCount(spark, pfs)
      val probeOk = thr > 0 && bytes <= math.max(thr, cap) &&
        entries <= maxEntries &&
        assigned.forall(c => dfTypes.get(c).forall(t =>
          org.apache.spark.sql.graft.Bridge.sameType(t, schema(c).dataType)))
      if (probeOk) {
        import org.apache.spark.sql.graft.{Bridge, PatchProbeValue}
        val bc = patchProbeHits(bdir, pfs, schema)
        df.select(df.columns.toIndexedSeq.map { c =>
          if (assigned.contains(c)) {
            val setOrd =
              if (cols.contains(Catalog.SetPrefix + c))
                schema.fieldIndex(Catalog.SetPrefix + c)
              else -1
            Bridge.toColumn(PatchProbeValue(
              Bridge.toExpr(col(Catalog.FileCol)),
              Bridge.toExpr(col(Catalog.PosCol)),
              Bridge.toExpr(col(c)),
              schema.fieldIndex(c), setOrd, bc)).as(c)
          } else col(c)
        }: _*)
      } else {
        val p = spark.read.schema(schema).parquet(pfs.map(_._1): _*)
        val pr = p.select(
          col("file").as(Catalog.FileCol) +: col("pos").as(Catalog.PosCol) +:
            lit(true).as("__patch_hit") +:
            assigned.flatMap { c =>
              col(c).as(s"__patch_$c") +:
                (if (cols.contains(Catalog.SetPrefix + c))
                   Seq(col(Catalog.SetPrefix + c).as(s"__patch_set_$c"))
                 else Nil)
            }: _*)
        // the mask path's dense-entry guard, mirrored (r18): a few-KB
        // delta-encoded batch can carry millions of entries — past the
        // entry ceiling both sides stay distributed
        val side = if (entries > maxEntries) pr.hint("shuffle_hash")
          else sidecarSide(pr, bytes)
        df.join(side, Seq(Catalog.FileCol, Catalog.PosCol), "left")
          .select(df.columns.toIndexedSeq.map { c =>
            if (assigned.contains(c)) {
              val hit =
                if (cols.contains(Catalog.SetPrefix + c))
                  col("__patch_hit") && col(s"__patch_set_$c")
                else col("__patch_hit")
              when(hit, col(s"__patch_$c")).otherwise(col(c)).as(c)
            } else col(c)
          }: _*)
      }
    }

  /** The collected patch batch (file -> positions sorted, with the
    * batch's internal rows aligned) as a broadcast, memoized per batch
    * DIRECTORY on its file-listing signature — batch dirs are immutable
    * once committed (folds install FRESH seq dirs), so a hit is always
    * current. One single-stage Spark job on a miss (scan + collect, no
    * exchange); grouping and the per-file sort run driver-side, bounded
    * by the same policy gates that allowed the broadcast. Keyed with
    * the applicationId like [[Catalog.maskProbeCache]] — the value is
    * context-bound.
    */
  private def patchProbeHits(batchDir: String,
      pfs: Seq[(String, Long, Long)],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.broadcast.Broadcast[
        Map[String, org.apache.spark.sql.graft.PatchFileHits]] = {
    val key = spark.sparkContext.applicationId + ":" + batchDir
    Catalog.patchProbeCache.get(key) match {
      case Some((sig, bc)) if sig == pfs => bc
      case _ =>
        val fileIdx = schema.fieldIndex("file")
        val posIdx = schema.fieldIndex("pos")
        val rows = spark.read.schema(schema).parquet(pfs.map(_._1): _*)
          .queryExecution.executedPlan.executeCollect()
        val byFile = scala.collection.mutable.HashMap.empty[String,
          scala.collection.mutable.ArrayBuffer[
            (Long, org.apache.spark.sql.catalyst.InternalRow)]]
        rows.foreach { r =>
          byFile.getOrElseUpdate(r.getUTF8String(fileIdx).toString,
            scala.collection.mutable.ArrayBuffer.empty) +=
            ((r.getLong(posIdx), r))
        }
        val m: Map[String, org.apache.spark.sql.graft.PatchFileHits] =
          byFile.iterator.map { case (f, buf) =>
            val sorted = buf.sortBy(_._1)
            f -> new org.apache.spark.sql.graft.PatchFileHits(
              sorted.map(_._1).toArray, sorted.map(_._2).toArray)
          }.toMap
        val bc = spark.sparkContext.broadcast(m)
        Catalog.patchProbeCache.put(key, (pfs, bc))
        bc
    }
  }

  /** Fold K outstanding patch batches into ONE without touching data
    * (r12 verdict item 1): per (file, pos, column) the LAST assigning
    * batch wins — exactly sequential application, because batch values
    * were materialized at their own write time. The folded batch carries
    * a `__set_c` presence flag per column so "assigned NULL" stays
    * distinct from "not assigned" (a later batch legitimately patches a
    * value to NULL; a row a batch never touched must keep its data
    * value). Read cost drops from K joins to 1 ([[applyPatches]]); the
    * fold itself is one shuffle over the sidecars — O(patched rows),
    * zero data bytes, the standing difference from OPTIMIZE. CH's analog
    * is the background merge of patch parts into bigger patch parts
    * before the data merge materializes them.
    */
  def compactPatches(table: String): Unit = {
    val prev = beginMutation(table)
    // COMMITTED batch set (see compactMask's authority note)
    val s0 = snapOf(table)
    val batches = s0.batches.map(_._1)
    if (batches.length <= 1) return
    val schemas = s0.batches.map { case (_, bfs) =>
      org.apache.spark.sql.graft.PreListedScan.footerSchemaOf(spark,
        bfs.filter(_._1.endsWith(".parquet")))
    }
    def valueColsOf(s: org.apache.spark.sql.types.StructType): Seq[String] =
      s.fieldNames.toSeq.filterNot(c =>
        c == "file" || c == "pos" || c.startsWith(Catalog.SetPrefix))
    val allCols = schemas.flatMap(valueColsOf).distinct.sorted
    val typeOf = allCols.map { c =>
      c -> schemas.find(_.fieldNames.contains(c)).get(c).dataType
    }.toMap
    // the fold's last-writer pick is max(struct(seq, value)) — map-typed
    // values have no ordering, so they cannot fold (loud, with the fix)
    val unorderable = allCols.filter(c => hasMap(typeOf(c)))
    require(unorderable.isEmpty,
      s"compactPatches: map-typed patch column(s) " +
        s"${unorderable.mkString(", ")} have no ordering to fold with — " +
        "OPTIMIZE the table to materialize them instead")
    // DRIVER fold when EVERY batch is within the broadcast policy and
    // the column types agree across batches (r18): the memoized
    // collected batches fold in memory — batches ascending, an
    // ASSIGNING hit (set flag true, or a flagless single-statement
    // batch) overwrites, exactly the max(struct(seq, value)) pick of
    // the distributed shape below — and the folded batch writes as one
    // LocalTableScan job: no K-way union scan, no groupBy exchange, no
    // AQE stage pair per fold.
    val tmp = path(table) + "__patchfold"
    val driverOk = s0.batches.zip(schemas).forall { case ((_, bfs), sch) =>
      withinProbePolicy(bfs.map(_._2).sum,
        org.apache.spark.sql.graft.PreListedScan.footerRowCount(spark,
          bfs.filter(_._1.endsWith(".parquet")))) &&
        valueColsOf(sch).forall(c =>
          org.apache.spark.sql.graft.Bridge.sameType(sch(c).dataType, typeOf(c)))
    }
    if (driverOk) {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      val nC = allCols.length
      val colIdx = allCols.zipWithIndex.toMap
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[(String, Long), (Array[Any], Array[Boolean])]
      s0.batches.zip(schemas).foreach { case ((b, bfs), sch) =>
        val pfs = bfs.filter(_._1.endsWith(".parquet"))
        val hits = patchProbeHits(b, pfs, sch).value
        val ords = valueColsOf(sch).map { c =>
          (colIdx(c), sch.fieldIndex(c),
            if (sch.fieldNames.contains(Catalog.SetPrefix + c))
              sch.fieldIndex(Catalog.SetPrefix + c) else -1,
            typeOf(c))
        }
        hits.toSeq.sortBy(_._1).foreach { case (f, fh) =>
          var i = 0
          while (i < fh.pos.length) {
            val row = fh.rows(i)
            val slot = acc.getOrElseUpdate((f, fh.pos(i)),
              (Array.fill[Any](nC)(null), new Array[Boolean](nC)))
            ords.foreach { case (ci, vo, so, dt) =>
              if (so < 0 || row.getBoolean(so)) {
                slot._1(ci) = if (row.isNullAt(vo)) null else row.get(vo, dt)
                slot._2(ci) = true
              }
            }
            i += 1
          }
        }
      }
      val outSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("file",
            org.apache.spark.sql.types.StringType) +:
        org.apache.spark.sql.types.StructField("pos",
            org.apache.spark.sql.types.LongType) +:
        allCols.flatMap(c => Seq(
          org.apache.spark.sql.types.StructField(c, typeOf(c)),
          org.apache.spark.sql.types.StructField(Catalog.SetPrefix + c,
            org.apache.spark.sql.types.BooleanType))))
      val rows = acc.iterator.map { case ((f, p), (vals, flags)) =>
        val arr = new Array[Any](2 + 2 * nC)
        arr(0) = org.apache.spark.unsafe.types.UTF8String.fromString(f)
        arr(1) = p
        var i = 0
        while (i < nC) {
          arr(2 + 2 * i) = vals(i); arr(3 + 2 * i) = flags(i); i += 1
        }
        new GenericInternalRow(arr): InternalRow
      }.toVector
      org.apache.spark.sql.graft.Bridge.localFrame(spark, outSchema, rows)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    } else {
      val frames = s0.batches.zip(schemas).map { case ((_, bfs), sch) =>
        spark.read.schema(sch)
          .parquet(bfs.filter(_._1.endsWith(".parquet")).map(_._1): _*)
      }
      // long format: every batch row widened to the full column set with
      // its batch sequence + per-column presence
      val widened = frames.zip(batches).map { case (p, b) =>
        val vs = valueColsOf(p.schema)
        val hasFlags = p.columns.toSet
        p.select(col("file") +: col("pos") +: lit(seqOf(b)).as("__seq") +:
          allCols.flatMap { c =>
            if (!vs.contains(c))
              Seq(lit(null).cast(typeOf(c)).as(c), lit(false).as(Catalog.SetPrefix + c))
            else Seq(col(c),
              (if (hasFlags.contains(Catalog.SetPrefix + c))
                 col(Catalog.SetPrefix + c) else lit(true)).as(Catalog.SetPrefix + c))
          }: _*)
      }.reduce(_ unionByName _)
      // per column: max over (assigned ? seq : -1, value) — the struct
      // ordering picks the last ASSIGNING batch's value; rows no batch
      // assigned stay at seq -1 with a NULL value and flag false
      val folded = widened.groupBy(col("file"), col("pos"))
        .agg(
          max(struct(
            when(col(Catalog.SetPrefix + allCols.head), col("__seq"))
              .otherwise(lit(-1L)).as("s"),
            col(allCols.head).as("v"))).as("__m0"),
          allCols.tail.zipWithIndex.map { case (c, i) =>
            max(struct(
              when(col(Catalog.SetPrefix + c), col("__seq"))
                .otherwise(lit(-1L)).as("s"),
              col(c).as("v"))).as(s"__m${i + 1}")
          }: _*)
        .select(col("file") +: col("pos") +:
          allCols.zipWithIndex.flatMap { case (c, i) =>
            Seq(col(s"__m$i.v").as(c),
              (col(s"__m$i.s") >= 0).as(Catalog.SetPrefix + c))
          }: _*)
      folded.write.mode("overwrite").parquet(tmp)
    }
    // crash-safe order: INSTALL the folded batch first (sequenced after
    // every original), then retire the originals. In the crash window a
    // read applies originals-then-folded, which is value-identical —
    // replacement is flag-gated, so the folded batch overrides exactly
    // where any original assigned and nowhere else. Deleting first would
    // leave a window where the table silently serves pre-update values.
    // allocate past committed AND disk (orphan dirs, outstanding
    // claims), claim vs racers
    val foldSeq = math.max(seqOf(batches.last), diskPatchSeqMax(table)) + 1
    claimPatchSeq(table, foldSeq)
    val dst = s"${patchesDir(table)}/seq=$foldSeq"
    fs.move(tmp, dst)
    // ONE flip adopts the folded batch and drops the originals'
    // entries; destruction strictly after. Until the flip the manifest
    // serves the original batches exactly (the folded dir is an
    // invisible orphan); after it the folded batch serves with the
    // originals as a reconcile to-do — every kill point serves,
    // nothing fails loud.
    val adds = fs.listFiles(dst).flatMap { case (p, len, mt) =>
      fs.relativeTo(path(table), p).map(Manifest.Entry(_, len, mt))
    }
    val removes = s0.batches.flatMap(_._2.flatMap(e =>
      fs.relativeTo(path(table), e._1)))
    invalidateProjections(table)
    commitFlip(table, prev, adds, removes)
    evictPatchProbes(table, Some(batches))
  }

  /** Coalesce the deletion-mask sidecar: every lightweight delete
    * appends its own small parquet files, so a high-QPS delete stream
    * grows the mask's FILE COUNT (the entries stay O(deleted rows), but
    * each read's mask scan opens every file). Entries are a set —
    * distinct IS the whole fold — so this rewrites the sidecar as one
    * de-duplicated file. Zero data bytes; [[compactPatches]] is the
    * patch-side sibling (which needs last-writer-wins, not distinct).
    */
  def compactMask(table: String): Unit = {
    val prev = beginMutation(table)
    // COMMITTED sidecar set, not a disk listing: with a sweep grace
    // window a concurrent statement's young uncommitted mask files may
    // exist on disk, and folding them in would adopt a statement that
    // never committed — folds follow the same authority rule as reads
    val s0 = snapOf(table)
    if (s0.maskParquet.isEmpty) return
    val dir = deletesDir(table)
    val before = s0.mask
    val tmp = path(table) + "__maskfold"
    if (withinProbePolicy(s0.maskParquet.map(_._2).sum,
        maskEntryCount(table, s0.maskParquet))) {
      // DRIVER fold (r18): the probe map — memoized from the reads that
      // accumulated this mask, or one single-stage collect — already
      // holds every entry; distinct (positions are per-file sorted, so
      // consecutive-dedup) is a driver pass, the write one
      // LocalTableScan job: no sidecar scan job, no distinct exchange,
      // no AQE stage pair. Beyond the policy the distributed fold
      // below stands unchanged.
      val grouped = maskProbeGroups(table, s0.mask).value
      val rows = grouped.toSeq.sortBy(_._1).iterator.flatMap {
        case (f, ps) =>
          val fu = org.apache.spark.unsafe.types.UTF8String.fromString(f)
          var prev = Long.MinValue // positions are row indices (>= 0)
          ps.iterator.filter { p =>
            val fresh = p != prev; prev = p; fresh
          }.map(p =>
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](fu, p)): org.apache.spark.sql.catalyst.InternalRow)
      }.toVector
      org.apache.spark.sql.graft.Bridge
        .localFrame(spark, Catalog.MaskSchema, rows)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    } else spark.read.schema(Catalog.MaskSchema)
      .parquet(s0.maskParquet.map(_._1): _*).distinct()
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    // crash-safe order: entries are a SET, so ADD the folded file first,
    // then retire the originals — every crash window leaves a superset
    // of the mask, which anti-joins to identical reads (a swap would
    // have a no-mask window where deleted rows resurface)
    val adds = fs.listFiles(tmp).filter(_._1.endsWith(".parquet"))
      .flatMap { case (f, len, mt) =>
        val dst = s"$dir/${f.substring(f.lastIndexOf('/') + 1)}"
        fs.move(f, dst)
        fs.relativeTo(path(table), dst).map(Manifest.Entry(_, len, mt))
      }
    fs.rmTree(tmp)
    // ONE flip adopts the folded file and drops the originals' entries;
    // destruction strictly after — every kill point serves (the tree is
    // an add-first superset throughout, and the manifest names exactly
    // one consistent mask set on either side of the commit).
    val removes = before.flatMap(e => fs.relativeTo(path(table), e._1))
    invalidateProjections(table)
    commitFlip(table, prev, adds, removes)
  }

  /** ClickHouse `ALTER TABLE t APPLY DELETED MASK [IN PARTITION p]`:
    * materialize the outstanding deletion masks physically — rewrite the
    * leaf partitions the mask actually references (parsed from the
    * entries' file paths, so the rewrite is O(dirty leaves) without any
    * discovery scan), dropping masked rows and their entries; leaves
    * whose EVERY row was masked are removed outright. Unpartitioned
    * tables take the full rewrite. The rewrite reads through [[readRaw]],
    * so outstanding patches on the rewritten leaves materialize with it
    * (a superset of CH's statement, same net state — documented).
    */
  def applyDeletedMask(table: String,
      segs: Seq[(String, String)] = Nil): Unit = {
    beginMutation(table) // sweep first: an uncommitted orphan mask file
    // must not be materialized as if its statement had committed
    // (committed-set scoping below covers the grace window where the
    // sweep deliberately leaves young debris in place)
    if (snapOf(table).maskParquet.isEmpty) return
    if (partitionColsOf(table).isEmpty) {
      writeReplacing(table, readRaw(table))
      return
    }
    def maskDirs(): Seq[String] =
      spark.read.schema(Catalog.MaskSchema)
        .parquet(snapOf(table).maskParquet.map(_._1): _*)
        .select("file").distinct()
        .collect().map { r =>
          normUri(r.getString(0)).stripPrefix(normUri(path(table)))
            .stripPrefix("/")
            .split('/').dropRight(1).filter(_.contains("=")).mkString("/")
        }.distinct.filter(_.nonEmpty).toSeq
    val want = segs match {
      case Nil => maskDirs()
      case s =>
        val p = relSeg(s)
        maskDirs().filter(d => d == p || d.startsWith(p + "/"))
    }
    if (want.isEmpty) return
    // `want` came from ON-DISK directory names: a value with a
    // non-trivial directory encoding (escaped chars — ':' stored as
    // '%3A' — or Spark's __HIVE_DEFAULT_PARTITION__ null slot) does NOT
    // round-trip through `col === lit(dirName)`, so the pruned rewrite
    // below would see zero matches and the zero-survivors inference
    // would then delete a leaf with LIVE rows. Same guard charset as
    // partitionPath/mutatePruned; the fallback is the full rewrite,
    // which materializes every outstanding mutation — a documented
    // superset of the scoped statement (the unpartitioned branch above
    // has the same shape).
    val safe = want.forall(_.split('/').forall { seg =>
      val v = seg.split("=", 2)(1)
      v.nonEmpty && v.forall(ch => ch.isLetterOrDigit || ch == '-' ||
        ch == '_' || ch == '.')
    })
    if (!safe) { writeReplacing(table, readRaw(table)); return }
    val cond = want.map(_.split('/').map { seg =>
      val kv = seg.split("=", 2)
      col(kv(0)) === lit(kv(1))
    }.reduce(_ && _)).reduce(_ || _)
    mutatePruned(table, cond)(identity) // leaves with survivors rewrite
    if (snapOf(table).maskParquet.nonEmpty) {
      // entries still standing under `want` belong to leaves with ZERO
      // surviving rows (the pruning scan cannot see them): the masked
      // read of such a leaf is empty, so the directory goes outright —
      // but that inference rests on the name->predicate round-trip, so
      // VERIFY it against the leaf's own bytes before deleting anything:
      // a masked read of just this leaf's files must come back empty.
      val sNow = snapOf(table)
      val still = maskDirs().filter(want.contains)
      still.foreach { d =>
        val leaf = s"${path(table)}/$d"
        // committed data files of the leaf (a concurrent writer's
        // uncommitted files must not spuriously fail the verify)
        val leafQ = fs.qualify(path(table)).stripSuffix("/") + s"/$d/"
        val files = sNow.data.map(_._1).filter(_.startsWith(leafQ))
        val empty = files.isEmpty || {
          val tagged = spark.read.option("basePath", fs.qualify(path(table)))
            .parquet(files: _*)
            .withColumn(Catalog.FileCol, col("_metadata.file_path"))
            .withColumn(Catalog.PosCol, col("_metadata.row_index"))
          applyMask(table, tagged, sNow.mask).isEmpty
        }
        require(empty,
          s"applyDeletedMask: leaf '$d' of '$table' still has live rows " +
            "under its mask — refusing to remove it (stale or " +
            "irreconcilable mask entries; OPTIMIZE the table instead)")
      }
      if (still.nonEmpty) {
        // fold write-beside, then the zero-survivor leaves and the
        // superseded sidecar files drop in ONE flip (mutatePruned
        // committed its own leaves already; this is the same shape for
        // the all-masked remainder)
        val m = stateOf(table)
        val (sideAdds, sideRemoves) = foldSidecars(table, still)
        invalidateProjections(table)
        commitFlip(table, m, sideAdds, entriesUnder(m, still) ++ sideRemoves)
      }
      else invalidateProjections(table)
    }
  }

  /** Scheme-less path of a `_metadata.file_path`-style URI (these are
    * URI-encoded, so `getPath`'s one percent-decode recovers the
    * on-disk bytes). NOT for listing-produced paths — see
    * [[normListedUri]].
    */
  private def normUri(u: String): String =
    try {
      val p = new java.net.URI(u).getPath
      if (p == null || p.isEmpty) u else p
    } catch { case _: java.net.URISyntaxException => u }

  /** Scheme-less form of a Hadoop `Path.toString` / manifest-served
    * path: these carry the RAW on-disk bytes after the scheme (a
    * literal `%3D` in a dir name stays `%3D`; a literal space stays a
    * space and would make java.net.URI throw), so normalization is a
    * lexical scheme+authority strip with NO percent-decoding.
    */
  private def normListedUri(u: String): String = {
    val c = u.indexOf(':')
    if (c <= 0 || !u.charAt(0).isLetter ||
        !u.substring(0, c).forall(ch =>
          ch.isLetterOrDigit || ch == '+' || ch == '.' || ch == '-')) u
    else {
      val rest = u.substring(c + 1)
      if (rest.startsWith("//")) {      // authority present: drop it
        val s = rest.indexOf('/', 2)
        if (s < 0) "/" else rest.substring(s)
      } else rest
    }
  }

  /** Drop mask and patch entries pointing into rewritten partition
    * directories: the rewrite read through both sidecars, so those
    * entries are applied, and the fresh files carry new UUID names a
    * stale entry can never match — this is sidecar hygiene, not
    * correctness. Entries for untouched partitions stay live.
    *
    * Surviving entries are written beside the originals under fresh
    * names and nothing is destroyed: the new files and the superseded
    * rels return for the caller's ONE [[commitFlip]], making the whole
    * fold part of the mutation's atomic flip. Until that commit the
    * manifest serves the original sidecars exactly, and the new files
    * are invisible (a crash before the flip leaves them as the
    * uncommitted orphans [[beginMutation]]'s sidecar sweep removes).
    */
  private def foldSidecars(table: String,
      dirs: Seq[String]): (Seq[Manifest.Entry], Seq[String]) = {
    if (dirs.isEmpty) return (Nil, Nil)
    val adds = Seq.newBuilder[Manifest.Entry]
    val removes = Seq.newBuilder[String]
    def relOf(p: String): String = fs.relativeTo(path(table), p).getOrElse(
      throw new IllegalStateException(
        s"foldSidecars: '$p' does not relativize under '${path(table)}'"))
    val gone = !dirs.map(d => col("file").contains(s"/$d/")).reduce(_ || _)
    // COMMITTED sidecar set, never a disk listing — see compactMask:
    // under a sweep grace window a concurrent statement's young
    // uncommitted files must be invisible to folds exactly as they are
    // to reads
    val s0 = snapOf(table)
    if (s0.maskParquet.nonEmpty) {
      val dir = deletesDir(table)
      val before = s0.mask
      // DRIVER fold within the broadcast policy (r18): the memoized
      // probe map holds every entry, so the keep filter — the same
      // `gone` predicate, evaluated on the same stored file strings —
      // is a driver pass, and an ALL-DROPPED fold skips the write
      // outright (the r17 shape wrote an empty tmp per fold and left
      // an orphan-tmp crash window a fold with zero survivors never
      // needed — the ADVICE item). Beyond the policy the write-first
      // distributed shape below stands.
      val tmp = path(table) + "__mask_tmp"
      val driverKeep: Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
        if (withinProbePolicy(s0.maskParquet.map(_._2).sum,
            maskEntryCount(table, s0.maskParquet))) {
          val grouped = maskProbeGroups(table, before).value
          Some(grouped.toSeq.sortBy(_._1).iterator.flatMap { case (f, ps) =>
            if (dirs.exists(d => f.contains(s"/$d/"))) Iterator.empty
            else {
              val fu = org.apache.spark.unsafe.types.UTF8String.fromString(f)
              ps.iterator.map(p =>
                new org.apache.spark.sql.catalyst.expressions
                  .GenericInternalRow(Array[Any](fu, p))
                  : org.apache.spark.sql.catalyst.InternalRow)
            }
          }.toVector)
        } else None
      val empty = driverKeep match {
        case Some(rows) =>
          if (rows.nonEmpty)
            org.apache.spark.sql.graft.Bridge
              .localFrame(spark, Catalog.MaskSchema, rows)
              .coalesce(1).write.mode("overwrite").parquet(tmp)
          rows.isEmpty
        case None =>
          // execute the keep plan ONCE: write first, read emptiness off
          // the written footers driver-side (r17 — the old isEmpty probe
          // ran the same scan+filter a second time; at scale that is a
          // second data-proportional pass over the mask set). The tmp
          // dir is a SIBLING of the table dir, invisible to reads, and
          // a kill between the write and its consumption is the same
          // orphan-tmp window the write-beside shape always had.
          val keep = spark.read.schema(Catalog.MaskSchema)
            .parquet(s0.maskParquet.map(_._1): _*)
            .filter(gone)
          keep.write.mode("overwrite").parquet(tmp)
          org.apache.spark.sql.graft.PreListedScan.footerRowCount(spark,
            fs.listFiles(tmp).filter(_._1.endsWith(".parquet"))) == 0L
      }
      if (empty && driverKeep.isEmpty) fs.rmTree(tmp)
      if (!empty) {
        // add-first, the compactMask ordering: mask entries are a SET
        // and the dropped ones reference files the rewrite just
        // replaced (they filter nothing), so the tree stays a superset
        // of the mask until the flip's cleanup — a post-crash
        // refreshManifest never adopts a maskless tree.
        fs.listFiles(tmp).filter(_._1.endsWith(".parquet")).foreach {
          case (f, len, mt) =>
            val dst = s"$dir/${f.substring(f.lastIndexOf('/') + 1)}"
            fs.move(f, dst)
            adds += Manifest.Entry(relOf(dst), len, mt)
        }
        fs.rmTree(tmp)
      }
      removes ++= before.map(e => relOf(e._1))
    }
    val batches = s0.batches
    if (batches.nonEmpty) {
      // install-first, the compactPatches ordering: each surviving
      // batch rewrites under a FRESH seq preserving the batches'
      // relative order, then the originals are deleted (add-first
      // INSIDE a batch dir would be wrong here: applyPatches joins
      // per batch on (file, pos), so a duplicated entry within one
      // dir duplicates fact rows). In the crash windows a read
      // applies originals then rewrites — same values for the same
      // (file, pos), so sequential application is value-identical.
      // Allocation starts past BOTH the committed max and anything on
      // disk — orphan dirs (an orphan at committed+1 would otherwise
      // receive a move-into-existing-dir) and outstanding claims —
      // and each fresh seq is CLAIMED ([[claimPatchSeq]]) against
      // concurrent allocators.
      val maxSeq = math.max(seqOf(batches.last._1), diskPatchSeqMax(table))
      batches.zipWithIndex.foreach { case ((b, bfs), i) =>
        val pfs = bfs.filter(_._1.endsWith(".parquet"))
        val schema = org.apache.spark.sql.graft.PreListedScan
          .footerSchemaOf(spark, pfs)
        val tmp = path(table) + "__patch_tmp"
        // DRIVER fold within the broadcast policy (r18, the mask-branch
        // shape): keep-filter the memoized collected batch in memory;
        // an all-dropped batch skips its write outright. Beyond the
        // policy: write first, branch on the written footers' row count
        // (r17 — one execution of the keep plan either way).
        val empty =
          if (withinProbePolicy(bfs.map(_._2).sum,
              org.apache.spark.sql.graft.PreListedScan
                .footerRowCount(spark, pfs))) {
            val hits = patchProbeHits(b, pfs, schema).value
            val keep = hits.toSeq.sortBy(_._1).iterator.flatMap {
              case (f, fh) =>
                if (dirs.exists(d => f.contains(s"/$d/"))) Iterator.empty
                else fh.rows.iterator
            }.toVector
            if (keep.nonEmpty)
              org.apache.spark.sql.graft.Bridge.localFrame(spark, schema, keep)
                .coalesce(1).write.mode("overwrite").parquet(tmp)
            keep.isEmpty
          } else {
            val keep = spark.read.schema(schema)
              .parquet(pfs.map(_._1): _*).filter(gone)
            keep.write.mode("overwrite").parquet(tmp)
            val e = org.apache.spark.sql.graft.PreListedScan.footerRowCount(
              spark, fs.listFiles(tmp).filter(_._1.endsWith(".parquet"))) == 0L
            if (e) fs.rmTree(tmp)
            e
          }
        if (!empty) {
          val seq = maxSeq + 1 + i
          claimPatchSeq(table, seq)
          val dst = s"${patchesDir(table)}/seq=$seq"
          fs.move(tmp, dst)
          adds ++= fs.listFiles(dst).map { case (p, len, mt) =>
            Manifest.Entry(relOf(p), len, mt)
          }
        }
      }
      removes ++= batches.flatMap(_._2.map(e => relOf(e._1)))
      evictPatchProbes(table, Some(batches.map(_._1)))
    }
    (adds.result(), removes.result())
  }

  /** Partition columns of a table as laid out on disk (nested
    * `col=value` directory levels, outermost first). Rewrite paths
    * ([[deleteWhere]]/[[updateWhere]]/[[compact]]) re-apply this layout
    * so a mutation never silently flattens a partitioned table — which
    * would make later [[dropPartition]] retention a no-op (r9 ADVICE).
    */
  private def partitionColsOf(table: String): Seq[String] = {
    def level(dir: String): Option[(String, String)] =
      fs.listDirNames(dir).find(_.contains("="))
        .map(n => (n.split("=", 2)(0), s"$dir/$n"))
    Iterator.unfold(path(table)) { d =>
      level(d).map { case (c, next) => (c, next) }
    }.toSeq
  }

  /** Full-table rewrite-and-swap. The swap replaces the current data
    * AND the `_deletes`/`_patches` sidecars — callers always derive
    * `df` from a masked+patched read, so the swap is also the mutation
    * materialization point (the CH merge that folds `_row_exists` and
    * patch parts into the data). `_shadow` backups and `_detached`
    * partitions are NOT part of that contract — a FREEZE snapshot is
    * documented as physically independent of later mutations, and a
    * parked partition must survive an OPTIMIZE of the live data — so
    * the swap leaves the preserved subtrees untouched.
    *
    * The swap is an ATOMIC POINTER FLIP. New files are written beside the old (fresh UUID names —
    * collision-free), then ONE manifest commit makes them the live set
    * with every old file on the `remove` list, and only then is
    * anything destroyed. A crash before the commit leaves the old
    * snapshot serving the old state exactly (the new files are
    * invisible orphans); a crash after it leaves the new state serving
    * with the cleanup as a reconcile to-do. There is no window in
    * which a read is partial or wrong — the r13/r14 crash-window
    * finding, closed by the same mechanism that makes construction
    * O(1).
    */
  private def writeReplacing(table: String, df: DataFrame): Unit = {
    val prev = beginMutation(table)
    val parts = partitionColsOf(table)
    val tmp = path(table) + "__tmp"
    val w = df.write.mode("overwrite").options(opts(table))
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(tmp)
    // 1. new files in, beside the old (file-level moves: partition
    //    dirs may be shared, file names cannot collide)
    val moved = fs.listFiles(tmp).flatMap { case (p, len, mt) =>
      fs.relativeTo(tmp, p).filter(fs.isDataRel).map { rel =>
        val dst = s"${path(table)}/$rel"
        fs.mkdirs(parentOf(dst))
        fs.move(p, dst)
        Manifest.Entry(rel, len, mt)
      }
    }
    // 2. THE FLIP — the one atomicity point. On a refusal the old
    //    state serves untouched and `moved` are this rewrite's own
    //    fresh-named files: destroy them (else a retry loop leaks
    //    a full rewrite's bytes per refused attempt).
    val removeRels = prev.entries.map(_.rel)
    val st =
      try commitManifest(table, prev.seq, moved, removeRels)
      catch {
        case e: ConcurrentCommitException =>
          moved.foreach(a => destroyRel(table, a.rel))
          fs.rmTree(tmp)
          throw e
      }
    // 3. destruction, strictly after the flip (a kill anywhere
    //    below is finished by the next mutation's reconcile)
    removeRels.foreach(destroyRel(table, _))
    // single-writer-only cosmetics — see commitFlip's note
    if (sidecarSweepGraceMs == 0L)
      Seq(deletesDir(table), patchesDir(table)).foreach { d =>
        if (fs.isDir(d) && !fs.hasParquetUnder(d)) fs.rmTree(d)
      }
    fs.rmTree(tmp)
    invalidateProjections(table)
    // hygiene commit — refusal swallowed; see commitFlip: the flip
    // landed, and the refusing successor's reconcile owns cleanup
    try { commitManifest(table, st.seq, moved, Nil); () }
    catch { case _: ConcurrentCommitException => () }
    evictPatchProbes(table, None)
  }

  /** Partition-pruned mutation core: rewrite ONLY the leaf partition
    * directories that contain matching rows — every other partition's
    * files are untouched on disk (CH mutations have the same property:
    * parts without matches are never rewritten). Works on ANY partition
    * depth (single `day=` or composite `day=/lang=` retention layouts —
    * the affected unit is the LEAF directory, i.e. one value tuple). At
    * 100 TB this is the difference between a mutation costing O(matched
    * leaves) and O(table). Falls back to the full keep-complement rewrite
    * for unpartitioned tables and for partition values whose directory
    * encoding is non-trivial (escaped characters, nulls) — correctness
    * first, pruning where it's provably the same bytes.
    */
  private def mutatePruned(table: String, cond: Column)
      (transform: DataFrame => DataFrame): Unit = {
    val prev = beginMutation(table)
    val parts = partitionColsOf(table)
    // masked read everywhere: a heavy mutation must see the net state the
    // lightweight deletes established (and its rewrite materializes them)
    val full = () => writeReplacing(table, transform(readRaw(table)))
    if (parts.isEmpty) { full(); return }
    val cur = readRaw(table)
    // the affected-leaf list is bounded by the partition count — small by
    // the same argument that makes partitioning useful
    val affected: Array[Seq[Any]] = cur.filter(cond)
      .select(parts.map(col): _*).distinct()
      .collect().map(r => parts.indices.map(r.get))
    if (affected.isEmpty) return // no matches: zero bytes rewritten
    val safe = affected.forall(_.forall(v => v != null && v.toString.nonEmpty &&
      v.toString.forall(ch => ch.isLetterOrDigit || ch == '-' || ch == '_' ||
        ch == '.')))
    if (!safe) { full(); return }
    val dirOf = (vs: Seq[Any]) =>
      parts.zip(vs).map { case (c, v) => s"$c=${v.toString}" }.mkString("/")
    val existing = affected.filter(vs =>
      fs.exists(s"${path(table)}/${dirOf(vs)}"))
    if (existing.length != affected.length) { full(); return } // unexpected layout
    val slice = cur.filter(affected.map(vs =>
      parts.zip(vs).map { case (c, v) => col(c) === lit(v) }
        .reduce(_ && _)).reduce(_ || _))
    val out = transform(slice)
    val tmp = path(table) + "__mut"
    out.write.mode("overwrite").options(opts(table))
      .partitionBy(parts: _*).parquet(tmp)
    val affectedDirs = affected.map(dirOf).toSeq
    // the pruned mutation is ONE atomic flip, exactly writeReplacing's
    // shape scoped to the affected leaves (r16 verdict item 1 — the
    // previous destroy-then-recommit left a mid-window kill failing
    // loud until refreshManifest).
    // 1. the rewritten leaves' files move in BESIDE the old ones (fresh
    //    UUID names — invisible until the flip; a leaf whose every row
    //    was deleted contributes nothing);
    val moved = fs.listFiles(tmp).flatMap { case (p, len, mt) =>
      fs.relativeTo(tmp, p).filter(fs.isDataRel).map { rel =>
        val dst = s"${path(table)}/$rel"
        fs.mkdirs(parentOf(dst))
        fs.move(p, dst)
        Manifest.Entry(rel, len, mt)
      }
    }
    fs.rmTree(tmp)
    // 2. sidecar fold, write-beside (entries under the rewritten leaves
    //    are materialized by the rewrite; survivors land under fresh
    //    names, originals stay until the flip);
    val (sideAdds, sideRemoves) = foldSidecars(table, affectedDirs)
    invalidateProjections(table)
    // 3. THE FLIP + deferred destruction: old leaf files and old sidecar
    //    files out, new ones in, one commit. Every kill point serves —
    //    old state before the commit, new after.
    commitFlip(table, prev, moved ++ sideAdds,
      entriesUnder(prev, affectedDirs) ++ sideRemoves)
  }

  private def parentOf(p: String): String = p.substring(0, p.lastIndexOf('/'))

  private def dropEmptyAncestors(from: String, stopAt: String): Unit = {
    var d = from
    while (d.startsWith(stopAt) && d != stopAt && fs.deleteIfEmptyDir(d))
      d = parentOf(d)
  }

  /** DELETE WHERE cond: keep-complement rewrite of the AFFECTED
    * partitions only (see [[mutatePruned]]).
    */
  def deleteWhere(table: String, cond: Column): Unit =
    mutatePruned(table, cond)(_.filter(!cond))

  /** ClickHouse `ALTER TABLE .. UPDATE col = expr WHERE cond` (a
    * "mutation"): rewrite matching rows in place, leave the rest
    * untouched. Same rewrite-the-parts shape as [[deleteWhere]] — CH
    * mutations also rewrite whole data parts rather than touching rows;
    * at scale a partition-pruned `cond` bounds the rewrite to the parts
    * it matches.
    */
  def updateWhere(table: String, cond: Column,
      assignments: Map[String, Column]): Unit = {
    // one SELECT so every RHS sees the OLD row (CH mutation semantics,
    // even when one assignment references another updated column)
    def apply(cur: DataFrame): DataFrame =
      cur.select(cur.columns.toIndexedSeq.map { c =>
        assignments.get(c)
          .map(v => when(cond, v).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    // an assignment that rewrites the PARTITION column moves rows across
    // directories — the pruned per-directory swap cannot express that,
    // so it takes the full rewrite (CH outright forbids mutating key
    // columns; ChDdl rejects it at the statement surface)
    if (partitionColsOf(table).exists(assignments.contains))
      writeReplacing(table, apply(readRaw(table)))
    else mutatePruned(table, cond)(apply)
  }

  /** ClickHouse `TTL <tsCol> + INTERVAL n <unit>` row expiry: drop rows
    * whose ts is older than `now - ttl`. CH applies TTL at merge time;
    * graft applies it as an explicit maintenance pass (the same
    * rewrite-the-parts shape as [[deleteWhere]]). `now` is
    * caller-supplied so expiry is deterministic and testable — a
    * scheduler would pass the wall clock. At scale a table partitioned
    * by day makes this pure partition drops.
    */
  def applyTtl(table: String, tsCol: String, ttl: Column, now: Column): Unit =
    deleteWhere(table, col(tsCol) < now - ttl)

  /** Materialize compaction (OPTIMIZE analog). */
  def compact(table: String, key: Seq[String], versionCol: String): Unit =
    writeReplacing(table, read(table, key, versionCol))

  /** Replace a table's contents with a frame DERIVED FROM ITSELF
    * (write-to-tmp-then-swap — reading and overwriting the same parquet
    * path in one job is undefined in Spark). The engine-specific merge
    * compactions use this: [[compact]] is the replacing form;
    * [[graft.operators.ChDdl]]'s SummingMergeTree OPTIMIZE passes its
    * grouped-sum view here.
    */
  def replaceContents(table: String, df: DataFrame): Unit =
    writeReplacing(table, df)

  // ---- partition manipulation (CH ALTER ... PARTITION family) -----------
  // All O(directory move/copy) — never a data rewrite. That is the point
  // at 100 TB: a restatement (recompute one day in staging, swap it into
  // prod) costs metadata, and CH operators lean on exactly these.
  //
  // Every op takes a partition ADDRESS: a (column, value) sequence that
  // must be a PREFIX of the table's layout. A first-level value
  // addresses the whole subtree (`day=7` — all langs of that day); a
  // full tuple addresses one leaf (`day=7/lang=en`) — the same depths
  // mutations prune to (q233). Single-value overloads keep the common
  // one-level call sites readable.

  /** ClickHouse `ALTER TABLE .. DROP PARTITION` on a table created with
    * `partitionBy`: remove one partition directory outright — no scan,
    * no rewrite, the O(1) bulk-delete that makes date-partitioned
    * retention free at 100 TB (vs deleteWhere's full-table rewrite).
    */
  def dropPartition(table: String, partCol: String, value: String): Unit =
    dropPartition(table, Seq(partCol -> value))

  def dropPartition(table: String, segs: Seq[(String, String)]): Unit = {
    val prev = beginMutation(table)
    // loud on layout mismatch (r9 ADVICE): a table not partitioned by
    // these columns means retention would silently delete nothing.
    val onDisk = partitionColsOf(table)
    require(onDisk.take(segs.length) == segs.map(_._1) && onDisk.nonEmpty,
      s"table '$table' is not partitioned by " +
      s"'${segs.map(_._1).mkString("/")}' " +
      s"(on-disk layout: ${onDisk.mkString("/")}) — " +
      "dropPartition would be a silent no-op")
    val dir = partitionPath(table, segs)
    if (fs.exists(dir)) {
      // sidecar fold write-beside, then ONE flip that drops the
      // partition's entries and the superseded sidecar files together —
      // destruction strictly after (the dir's remaining bytes, if a
      // crash interrupts, are invisible orphans finished by the next
      // reconcile). Sidecar entries under the dropped directory are
      // applied by definition (the rows are gone); removing them means
      // a later ATTACH into the same partition can never meet a stale
      // entry.
      val rel = relSeg(segs)
      val (sideAdds, sideRemoves) = foldSidecars(table, Seq(rel))
      invalidateProjections(table)
      commitFlip(table, prev, sideAdds,
        entriesUnder(prev, Seq(rel)) ++ sideRemoves)
      // the flip's per-file removal leaves the (possibly orphan-holding)
      // directory: the drop semantics say it is GONE
      fs.rmTree(dir)
      dropEmptyAncestors(parentOf(dir), path(table))
    }
  }

  /** Partition directory of `table` for the address `segs`. The caller
    * supplies the DECLARED partition columns (an empty partitioned table
    * has no `col=value` dirs to detect — the known empty-create trap);
    * when directories DO exist they must agree with it.
    */
  private def partitionPath(table: String,
      segs: Seq[(String, String)]): String = {
    require(segs.nonEmpty, "partition address needs at least one value")
    val onDisk = partitionColsOf(table)
    require(onDisk.isEmpty || onDisk.take(segs.length) == segs.map(_._1),
      s"table '$table' is laid out by '${onDisk.mkString("/")}', " +
        s"not '${segs.map(_._1).mkString("/")}'")
    segs.foreach { case (_, v) =>
      require(v.nonEmpty && v.forall(ch => ch.isLetterOrDigit ||
        ch == '-' || ch == '_' || ch == '.'),
        s"partition value '$v' has a non-trivial directory encoding")
    }
    s"${path(table)}/${relSeg(segs)}"
  }

  private def relSeg(segs: Seq[(String, String)]): String =
    segs.map { case (c, v) => s"$c=$v" }.mkString("/")

  /** Partition ops require NO outstanding lightweight mutations touching
    * the partition: a mask/patch references files by path, and a moved or
    * detached file would escape it — deleted rows resurfacing in the
    * destination. CH has the same rule in time form (mutations must
    * finish before partition manipulation); here the fix is explicit:
    * OPTIMIZE first (folds the sidecars), then move.
    */
  private def requireNoSidecarUnder(table: String,
      segs: Seq[(String, String)]): Unit = {
    val seg = s"/${relSeg(segs)}/"
    def hits(df: DataFrame) = !df.filter(col("file").contains(seg)).isEmpty
    // committed sidecar set — the precondition is about COMMITTED
    // mutations; young uncommitted debris neither blocks nor escapes
    // (its statement never happened)
    val s0 = snapOf(table)
    val masked = s0.maskParquet.nonEmpty &&
      hits(spark.read.parquet(s0.maskParquet.map(_._1): _*))
    val patched = s0.batches.exists { case (_, bfs) =>
      hits(spark.read.parquet(
        bfs.filter(_._1.endsWith(".parquet")).map(_._1): _*))
    }
    require(!masked && !patched,
      s"partition '${segs.map(_._2).mkString(",")}' of '$table' has " +
        "outstanding lightweight mutations — OPTIMIZE the table first, " +
        "then manipulate partitions")
  }

  private def detachedDir(table: String) = path(table) + "/_detached"

  /** A detached partition's directory name: the address segments joined
    * with ',' — one flat name per parked subtree/leaf (values are
    * charset-restricted by [[partitionPath]], so ',' can never collide).
    */
  private def detachedName(segs: Seq[(String, String)]): String =
    segs.map { case (c, v) => s"$c=$v" }.mkString(",")

  /** `ALTER TABLE t DETACH PARTITION v`: move the directory under the
    * `_detached` area — invisible to every read (underscore-prefixed),
    * re-attachable. */
  def detachPartition(table: String, partCol: String, value: String): Unit =
    detachPartition(table, Seq(partCol -> value))

  def detachPartition(table: String, segs: Seq[(String, String)]): Unit = {
    val m = beginMutation(table)
    val src = partitionPath(table, segs)
    require(fs.isDir(src),
      s"no partition '${segs.map(_._2).mkString(",")}' on '$table'")
    requireNoSidecarUnder(table, segs)
    val dst = s"${detachedDir(table)}/${detachedName(segs)}"
    // Hadoop rename NESTS into an existing directory instead of failing
    // (java.nio ATOMIC_MOVE threw) — a silent merge of two detach
    // generations must stay impossible
    require(!fs.exists(dst),
      s"partition '${segs.map(_._2).mkString(",")}' of '$table' is " +
        "already detached — ATTACH or remove it first")
    // DEPARTURE order: the leaf leaves the live set FIRST, then the
    // directory moves. A kill between the two leaves the files as
    // invisible orphans and this DETACH re-runnable (src still there,
    // dst still absent) — reads serve at every point. The old
    // move-then-recommit order failed loud in that window.
    commitRetire(table, m, relSeg(segs))
    fs.mkdirs(detachedDir(table))
    fs.move(src, dst)
    dropEmptyAncestors(parentOf(src), path(table))
    invalidateProjections(table)
  }

  /** `ALTER TABLE t ATTACH PARTITION v`: bring a detached partition back. */
  def attachPartition(table: String, partCol: String, value: String): Unit =
    attachPartition(table, Seq(partCol -> value))

  def attachPartition(table: String, segs: Seq[(String, String)]): Unit = {
    val m = beginMutation(table)
    val dst = partitionPath(table, segs)
    val src = s"${detachedDir(table)}/${detachedName(segs)}"
    require(fs.isDir(src),
      s"no detached partition '${segs.map(_._2).mkString(",")}' on '$table'")
    require(!fs.exists(dst),
      s"partition '${segs.map(_._2).mkString(",")}' already exists on " +
        s"'$table' — DROP it first")
    fs.mkdirs(parentOf(dst))
    fs.move(src, dst)
    invalidateProjections(table)
    // ARRIVAL order: move, then adopt. Crash between the two: leaf
    // present but unserved ("attach not yet happened") — reads keep
    // serving; re-ATTACH is refused (dst exists), refreshManifest
    // finishes the adoption.
    commitAdopt(table, m, relSeg(segs))
  }

  /** `ALTER TABLE dst ATTACH|REPLACE PARTITION v FROM src`: COPY the
    * partition from `src` (which stays intact — CH semantics); REPLACE
    * first drops dst's current directory, ATTACH requires dst not to
    * have one. */
  def attachPartitionFrom(dst: String, src: String, partCol: String,
      value: String, replace: Boolean): Unit =
    attachPartitionFrom(dst, src, Seq(partCol -> value), replace)

  def attachPartitionFrom(dst: String, src: String,
      segs: Seq[(String, String)], replace: Boolean): Unit = {
    val m = beginMutation(dst)
    requireNoSidecarUnder(src, segs)
    // the DESTINATION guard closes a repeat-copy hazard: a second copy
    // from the same source re-creates the same file NAMES, which stale
    // dst-side mask/patch entries (from mutations between the copies)
    // would wrongly match — deleted rows must never resurface silently
    requireNoSidecarUnder(dst, segs)
    val from = partitionPath(src, segs)
    require(fs.isDir(from),
      s"no partition '${segs.map(_._2).mkString(",")}' on '$src'")
    val to = partitionPath(dst, segs)
    if (replace) fs.rmTree(to)
    else require(!fs.exists(to),
      s"partition '${segs.map(_._2).mkString(",")}' already exists on " +
        s"'$dst' — use REPLACE")
    fs.copyTree(from, to)
    invalidateProjections(dst)
    // a crash mid-copy leaves a partial leaf UNSERVED; REPLACE re-runs
    // clean (a destination the copy itself created has no manifest yet,
    // so first touch adopts the partial leaf — REPLACE it the same way)
    commitAdopt(dst, m, relSeg(segs))
  }

  /** `ALTER TABLE src MOVE PARTITION v TO TABLE dst`: the directory
    * changes tables — removed from `src`, appearing in `dst`. */
  def movePartitionTo(src: String, dst: String, partCol: String,
      value: String): Unit =
    movePartitionTo(src, dst, Seq(partCol -> value))

  def movePartitionTo(src: String, dst: String,
      segs: Seq[(String, String)]): Unit = {
    val mSrc = beginMutation(src)
    val mDst = beginMutation(dst)
    requireNoSidecarUnder(src, segs)
    requireNoSidecarUnder(dst, segs) // see attachPartitionFrom
    val from = partitionPath(src, segs)
    require(fs.isDir(from),
      s"no partition '${segs.map(_._2).mkString(",")}' on '$src'")
    val to = partitionPath(dst, segs)
    require(!fs.exists(to),
      s"partition '${segs.map(_._2).mkString(",")}' already exists on " +
        s"'$dst' — DROP or REPLACE it")
    // departure commits FIRST (see detachPartition), arrival adopts
    // AFTER the move: every kill point serves on both tables — between
    // the two commits the partition is "in transit" (gone from src's
    // live set, not yet in dst's), the same intermediate state the
    // DETACH+ATTACH pair it decomposes into would show.
    commitRetire(src, mSrc, relSeg(segs))
    fs.mkdirs(parentOf(to))
    fs.move(from, to)
    dropEmptyAncestors(parentOf(from), path(src))
    invalidateProjections(src)
    invalidateProjections(dst)
    commitAdopt(dst, mDst, relSeg(segs))
  }

  // ---- backups (CH ALTER ... FREEZE family) ------------------------------

  private def shadowDir(table: String) = path(table) + "/_shadow"

  /** ClickHouse `ALTER TABLE t FREEZE [PARTITION p] [WITH NAME n]`:
    * snapshot the addressed data directories under `_shadow/<name>/`.
    * CH hardlinks parts; the Hadoop API has no portable hardlink, so
    * this COPIES — the honest object-store cost, and the snapshot is
    * physically independent of later mutations either way. Same sidecar
    * rule as every partition op: the addressed scope must carry no
    * outstanding lightweight mutations (a restored copy would re-create
    * file names that stale mask/patch entries match). Unnamed freezes
    * take "1", "2", ... (CH's increment convention). Returns the name.
    */
  def freeze(table: String, segs: Seq[(String, String)] = Nil,
      name: Option[String] = None): String = {
    val n = name.getOrElse {
      val used = fs.listDirNames(shadowDir(table)).toSet
      Iterator.from(1).map(_.toString).filterNot(used).next()
    }
    require(n.nonEmpty && n.forall(ch => ch.isLetterOrDigit ||
      ch == '-' || ch == '_' || ch == '.'),
      s"backup name '$n' has a non-trivial directory encoding")
    val dst = s"${shadowDir(table)}/$n"
    require(!fs.exists(dst), s"backup '$n' already exists on '$table'")
    // freeze the MANIFEST's file set, not the tree: a crash orphan must
    // never enter a snapshot (a later restore +
    // ATTACH adopts the restored directory wholesale). beginMutation
    // first so an interrupted cleanup cannot freeze removed-pending
    // files either.
    val m = beginMutation(table)
    if (segs.isEmpty) {
      require(!hasDeletes(table) && !hasPatches(table),
        s"table '$table' has outstanding lightweight mutations — " +
          "OPTIMIZE first, then FREEZE")
      fs.mkdirs(dst)
      m.entries.filter(e => fs.isDataRel(e.rel)).foreach(e =>
        fs.copyTree(s"${path(table)}/${e.rel}", s"$dst/${e.rel}"))
    } else {
      requireNoSidecarUnder(table, segs)
      val src = partitionPath(table, segs)
      require(fs.isDir(src),
        s"no partition '${segs.map(_._2).mkString(",")}' on '$table'")
      val p = relSeg(segs)
      val under = m.entries.filter(e => e.rel == p || e.rel.startsWith(p + "/"))
      require(under.nonEmpty,
        s"partition '$p' of '$table' has no manifested files")
      under.foreach(e =>
        fs.copyTree(s"${path(table)}/${e.rel}", s"$dst/${e.rel}"))
    }
    n
  }

  /** Drop a backup (CH `SYSTEM UNFREEZE WITH NAME n`, per table).
    * True when something was removed. */
  def unfreeze(table: String, name: String): Boolean = {
    val d = s"${shadowDir(table)}/$name"
    val existed = fs.exists(d)
    fs.rmTree(d)
    if (fs.isDir(shadowDir(table)) &&
      fs.listChildren(shadowDir(table)).isEmpty)
      fs.rmTree(shadowDir(table))
    existed
  }

  /** Copy a frozen partition back into the `_detached` area — the CH
    * restore workflow (shadow → detached → ATTACH) as one call; the
    * backup stays (a snapshot restores many times). Follow with
    * [[attachPartition]].
    */
  def restoreFrozen(table: String, name: String,
      segs: Seq[(String, String)]): Unit = {
    val src = s"${shadowDir(table)}/$name/${relSeg(segs)}"
    require(fs.isDir(src),
      s"backup '$name' of '$table' has no partition " +
        s"'${segs.map(_._2).mkString(",")}'")
    // the frozen copy carries the ORIGINAL file names — stale sidecar
    // entries matching them must not exist (resurface hazard)
    requireNoSidecarUnder(table, segs)
    val slot = s"${detachedDir(table)}/${detachedName(segs)}"
    require(!fs.exists(slot),
      s"partition '${segs.map(_._2).mkString(",")}' of '$table' is " +
        "already detached — ATTACH or remove it first")
    fs.mkdirs(detachedDir(table))
    fs.copyTree(src, slot)
  }

  /** Backups on disk: (table, name, bytes) — the CH `system.frozen`-ish
    * view an operator checks before UNFREEZE/restore. */
  def shadows(): DataFrame = {
    import spark.implicits._
    val rows: Seq[(String, String, Long)] =
      fs.listDirNames(root).flatMap { t =>
        val sh = s"$root/$t/_shadow"
        fs.listDirNames(sh).map(n => (t, n, fs.treeBytes(s"$sh/$n")))
      }.sortBy(r => (r._1, r._2))
    rows.toDF("table", "name", "bytes")
  }

  /** ClickHouse `OPTIMIZE TABLE t DEDUPLICATE [BY (cols)]`: drop exact
    * duplicate rows physically. Full-row form is pure set semantics;
    * with a BY subset CH keeps an ARBITRARY row per key — graft keeps
    * the lexicographically-least remaining tuple (a deterministic,
    * oracle-able refinement; documented divergence).
    */
  def dedupMerge(table: String, by: Seq[String],
      dropCols: Seq[String] = Nil): Unit = {
    // dropCols: internal bookkeeping columns (ChDdl's implicit insert
    // sequence) that must count neither as identity nor as payload —
    // they are dropped from the rewritten table (absence is handled by
    // every reader/insert path)
    val cur = dropCols.foldLeft(readRaw(table))(_ drop _)
    val out =
      if (by.isEmpty) cur.dropDuplicates()
      else {
        val rest = cur.columns.filterNot(by.contains).toSeq
        require(rest.nonEmpty, "DEDUPLICATE BY must leave at least one column")
        cur.groupBy(by.map(col): _*)
          .agg(min(struct(rest.map(col): _*)).as("__rest"))
          .select(cur.columns.toIndexedSeq.map { c =>
            if (by.contains(c)) col(c) else col(s"__rest.$c").as(c)
          }: _*)
      }
    writeReplacing(table, out)
  }

  /** ClickHouse `KILL MUTATION` analog for the lightweight sidecars:
    * drop the OUTSTANDING (unmerged) deletion masks and update patches of
    * a table, reverting their effect — exactly what CH's KILL does to a
    * mutation that has not finished materializing. Data files were never
    * touched, so the revert is two directory removals. Once OPTIMIZE or
    * a heavy mutation has folded a sidecar in, it is gone from
    * `system.mutations` and can no longer be killed (CH: a finished
    * mutation is not killable either).
    */
  def killMutations(table: String): Unit = {
    val prev = beginMutation(table)
    // ONE flip drops every sidecar entry; destruction strictly after
    // (the old destroy-then-recommit failed loud on a kill between the
    // two)
    invalidateProjections(table)
    commitFlip(table, prev, Nil,
      entriesUnder(prev, Seq("_deletes", "_patches")))
    evictPatchProbes(table, None)
  }

  /** ClickHouse `system.parts` analog: the physical parts (parquet
    * files) behind each table in this catalog — name, bytes, mtime —
    * as a DataFrame. Pure driver-side FS listing (parts counts are
    * what an operator checks before/after compaction; cf. CH's
    * `SELECT ... FROM system.parts WHERE active`).
    */
  def parts(): DataFrame = {
    import spark.implicits._
    val rows: Seq[(String, String, String, Long, java.sql.Timestamp)] =
      fs.listDirNames(root).filterNot(_.startsWith("_")).flatMap { t =>
        fs.listFiles(s"$root/$t")
          // deletion-mask sidecars are mutation state, not parts (CH
          // surfaces mutations in system.mutations, not system.parts)
          .filter { case (p, _, _) => fs.isDataFile(s"$root/$t", p) }
          .map { case (p, bytes, mtime) =>
            // listings are full URIs now — relativize through the FS
            // (both sides qualified) rather than a raw stripPrefix
            val rel = fs.relativeTo(root, p).getOrElse(p)
            // CH system.parts carries the part's partition id: here the
            // `col=value[/...]` directory chain above the file
            val partition = rel.stripPrefix(s"$t/").split('/')
              .filter(_.contains("=")).mkString("/")
            (t, rel, partition, bytes, new java.sql.Timestamp(mtime))
          }
      }
    rows.toDF("table", "part_name", "partition", "bytes", "modified")
  }

  /** ClickHouse `system.detached_parts` analog: partitions parked by
    * [[detachPartition]], with their sizes — what an operator checks
    * before ATTACH or cleanup.
    */
  def detachedParts(): DataFrame = {
    import spark.implicits._
    val rows: Seq[(String, String, Long)] =
      fs.listDirNames(root).flatMap { t =>
        val det = s"$root/$t/_detached"
        fs.listDirNames(det).map(p => (t, p, fs.treeBytes(s"$det/$p")))
      }.sortBy(r => (r._1, r._2))
    rows.toDF("table", "partition", "bytes")
  }

  /** ClickHouse `system.mutations` analog: the OUTSTANDING lightweight
    * mutation state per table — deletion-mask and update-patch sidecars
    * (kind, batches, rows, bytes). CH rows carry `is_done`; here a row
    * exists only while undone — OPTIMIZE and heavy mutations fold the
    * sidecars in and the rows disappear, which is the signal an operator
    * polls for. Cost note: the row counts run one Spark `count()` job
    * per sidecar per table — O(tables × sidecars) driver-driven jobs,
    * sized for an introspection view, not for a hot path.
    */
  def mutations(): DataFrame = {
    import spark.implicits._
    val rows: Seq[(String, String, Long, Long, Long)] =
      fs.listDirNames(root).flatMap { table =>
        // committed sidecar view (and never a dir read a grace-window
        // husk could crash). An introspection view adopts nothing: a
        // directory no Catalog call has touched (or a fold's staging
        // sibling) has no committed mutations.
        val s0 = loadManifest(table).fold(Snap(Nil, Nil, Nil))(snapFrom(_, table))
        val del =
          if (s0.maskParquet.isEmpty) Nil
          else Seq((table, "delete_mask", 1L,
            spark.read.parquet(s0.maskParquet.map(_._1): _*).count(),
            s0.mask.map(_._2).sum))
        val pat = s0.batches match {
          case Seq() => Nil
          case bs => Seq((table, "update_patch", bs.size.toLong,
            bs.map { case (_, bfs) => spark.read.parquet(
              bfs.filter(_._1.endsWith(".parquet")).map(_._1): _*).count()
            }.sum,
            bs.flatMap(_._2.map(_._2)).sum))
        }
        del ++ pat
      }.sortBy(r => (r._1, r._2))
    rows.toDF("table", "kind", "batches", "rows", "bytes")
  }
}

object Catalog {
  /** Internal row-identity columns threaded through tagged reads. */
  private[operators] val FileCol = "__graft_file"
  private[operators] val PosCol = "__graft_pos"

  /** The deletion-mask sidecar's fixed on-disk schema. Every mask
    * writer emits exactly these columns ([[Catalog.deleteWhereLight]]
    * selects (file, pos); folds are filters/distincts of the same), so
    * mask readers pass the schema EXPLICITLY: `spark.read.parquet`
    * without one fires a 1-task footer-inference Spark job at plan
    * time — R17JobProf measured ~25 ms job + a 50-100 ms planning gap
    * per statement, once per mask read in every mutation lifecycle —
    * for a schema that is a compile-time constant. Nullable fields,
    * matching the `asNullable` relaxation inference would apply;
    * parquet columns bind by NAME, so written column order is free.
    */
  private[operators] val MaskSchema = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType)))

  /** [[Catalog.sidecarFileUris]] memo: table path -> (per-sidecar-dir
    * file listings at compute time, referenced-file URI set). Entries
    * are validated against a fresh listing on every lookup and evicted
    * on every mutation; size is O(tables with outstanding sidecars).
    *
    * Signature-validity limitation (all three sidecar memos, r14
    * ADVICE): validity is the (path, bytes, mtime) listing — an
    * EXTERNAL writer that overwrites a sidecar file IN PLACE with
    * identical byte size inside the filesystem's mtime granularity
    * would serve a stale hit. The Catalog's own writers always mint
    * fresh UUID file names (append/overwrite-to-tmp-then-move), so the
    * hazard needs a writer outside this API breaking the
    * one-writer-per-table contract; an FS-agnostic content checksum
    * would cost a full sidecar read per lookup, which is the very job
    * the memo exists to avoid. Documented, not defended.
    */
  private[operators] val sidecarUriCache =
    new scala.collection.concurrent.TrieMap[
      String, (Seq[Seq[(String, Long, Long)]], Set[String])]

  /** [[Catalog.maskProbeGroups]] memo: `applicationId:tablePath` ->
    * (`_deletes` file listing at compute time, broadcast grouped mask).
    * Same validity scheme as [[sidecarUriCache]]; size is O(tables with
    * outstanding masks) entries, each bounded by the broadcast policy.
    * The key carries the applicationId because the VALUE is
    * context-bound (see [[Catalog.probeKey]]); the other two memos hold
    * plain driver-side data and stay keyed by path alone.
    */
  private[operators] val maskProbeCache =
    new scala.collection.concurrent.TrieMap[String,
      (Seq[(String, Long, Long)],
        org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]])]

  /** [[Catalog.maskEntryCount]] memo: table path -> (mask listing at
    * compute time, total footer row count). Same validity scheme.
    */
  private[operators] val maskCountCache =
    new scala.collection.concurrent.TrieMap[
      String, (Seq[(String, Long, Long)], Long)]

  /** [[Catalog.patchProbeHits]] memo: `applicationId:batchDir` ->
    * (batch file listing at compute time, broadcast collected batch).
    * Same validity scheme as [[maskProbeCache]] (applicationId in the
    * key because the value is context-bound); size is O(outstanding
    * patch batches), each bounded by the broadcast policy: the paths
    * that retire batch dirs evict their keys ([[evictPatchProbes]]).
    */
  private[operators] val patchProbeCache =
    new scala.collection.concurrent.TrieMap[String,
      (Seq[(String, Long, Long)],
        org.apache.spark.broadcast.Broadcast[
          Map[String, org.apache.spark.sql.graft.PatchFileHits]])]

  /** [[Catalog.loadManifest]] memo: table path -> latest parsed
    * manifest state. Validity = the latest snapshot file's (name, len)
    * from ONE listing of the small `_manifest` dir per lookup —
    * snapshot files are immutable and fresh-named, so a (name, len)
    * match is exact, and the listing doubles as the cross-process
    * freshness check. Size is O(manifested tables) × O(live files)
    * entries; the bound matters only at the 10^6-file end, where one
    * state is ~100 MB — the Delta-style action-log upgrade noted in
    * [[Manifest]] would shrink it if that ever shows up in a soak.
    */
  private[graft] val manifestCache =
    new scala.collection.concurrent.TrieMap[String, Manifest.State]

  /** [[Catalog.readRaw]] built-frame memo: (session UUID, table
    * path) -> (manifest snapshot name+len, broadcast-policy knobs at
    * build time, the built DataFrame). A logical plan is immutable, so
    * a hit serves reconstruction-free; validity is the manifest EPOCH
    * (snapshot files are immutable + fresh-named) plus the knobs that
    * shape the masked-read plan. Evicted on every mutation. Size:
    * O(manifested tables) logical plans.
    */
  private[graft] val readFrameCache =
    new scala.collection.concurrent.TrieMap[(String, String),
      (String, Long, Long, Long, String, DataFrame)]

  /** Cache key for the owning session. `System.identityHashCode` is NOT
    * an identity — two live sessions can collide, and a collision would
    * serve a Dataset bound to the OTHER session (it then executes under
    * that session's conf/state: exactly the cross-session reuse the key
    * exists to prevent). `sessionUUID` is unique per session and, unlike
    * keying on the object itself, does not strongly pin a stopped
    * session's plans until the next mutation.
    */
  private[graft] def sessionKey(spark: SparkSession): String =
    org.apache.spark.sql.graft.Bridge.sessionUUID(spark)

  /** A table whose snapshot names ZERO live data files has nothing to
    * scan: the tree can hold uncommitted crash orphans (an interrupted
    * append before its commit), and reading the directory would ADOPT
    * them as data — the exact read the authority contract forbids. Fail
    * loud instead; `refreshManifest` is the explicit adoption hatch if
    * the orphans are wanted.
    */
  private[operators] def manifestedEmpty(table: String): Throwable =
    new IllegalStateException(
      s"catalog: manifested table '$table' has no live data files — " +
        "refusing to read the tree (it would adopt uncommitted files as " +
        "data); run refreshManifest to adopt the tree, or re-create the " +
        "table")

  /** The state of a table with no directory ([[Catalog.stateOf]]):
    * nothing committed, nothing live. Sequence 0 is never a committed
    * snapshot's, so `seq == 0` tells a mutation its table does not exist
    * yet.
    */
  private[operators] val Absent = Manifest.State(0L, "", 0L, Nil, Nil)

  /** Default ceiling on MASK ENTRIES for the broadcast grouped probe
    * (and for broadcasting the anti-join's build side): the byte gates
    * are blind to dense-run compressibility — 16 M entries is ~128 MB
    * of position arrays before path strings, the most a driver collect
    * / executor hash relation should carry. Override per session with
    * `spark.graft.maskProbeMaxEntries`. A mask past this is far past
    * the OPTIMIZE signal.
    */
  private[operators] val DefaultMaskProbeMaxEntries = 16L * 1000 * 1000

  /** Default ceiling (bytes on disk) for broadcasting a mask/patch
    * sidecar — see [[Catalog.sidecarSide]]. Override per session with
    * `spark.graft.sidecarBroadcastBytes`.
    */
  private[operators] val DefaultSidecarBroadcastBytes = 64L * 1024 * 1024

  /** Minimum data-file count before a masked/patched read splits into
    * dirty-files-tagged ∪ clean-files-plain ([[Catalog.readSplit]]):
    * below this the extra planning job outweighs tagging a handful of
    * files whole.
    */
  private[operators] val SplitReadMinFiles = 16

  /** Per-column presence-flag prefix in FOLDED patch batches
    * ([[Catalog.compactPatches]]): `__set_c` true = this batch assigns
    * `c` on this row (possibly to NULL), false = the row's data value
    * stands. Single-update batches need no flags — every row assigns
    * every batch column by construction.
    */
  private[operators] val SetPrefix = "__set_"

  /** Per-table-path parquet writer options — the CH data-skipping-index
    * analog made physical ([[graft.operators.ChDdl]] registers
    * `parquet.bloom.filter.enabled#col` / `expected.ndv#col` here from
    * `INDEX ... TYPE bloom_filter` DDL; PLANS "Data skipping" has the
    * measured 5.3× row-group pruning). EVERY write path consults the
    * registry — including the deleteWhere/updateWhere/compact rewrites —
    * so a mutation never silently drops the table's skip indexes.
    */
  private[operators] val writeOptions =
    new scala.collection.concurrent.TrieMap[String, Map[String, String]]

  def registerWriteOptions(tablePath: String, options: Map[String, String]): Unit =
    if (options.nonEmpty) writeOptions.put(tablePath, options)
    else writeOptions.remove(tablePath)
}
