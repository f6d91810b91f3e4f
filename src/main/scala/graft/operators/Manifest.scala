package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Log-structured table manifest: one snapshot file under
  * `<table>/_manifest/` lists every live file of the table (data parts,
  * `_deletes` mask files, `_patches/seq=N` batch files), so a read
  * CONSTRUCTION costs one LIST of the small `_manifest` directory plus
  * a cached parse — O(1) in the table's file count — instead of one
  * recursive LIST of the whole tree (10^2–10^3 paged S3 calls at a
  * 10^5–10^6-file posture; the exact planning pain Delta's `_delta_log`
  * and Iceberg's manifest lists exist to remove, both public designs).
  *
  * Authority contract (the part that has to be stated sharply):
  *
  *   - A table WITH a `_manifest` directory is MANIFEST-AUTHORITATIVE:
  *     readers serve exactly the files the latest snapshot names. A
  *     file present in the tree but absent from the snapshot does not
  *     exist for readers — which is what makes commits atomic (write
  *     files first, then flip) and crash orphans harmless garbage
  *     instead of duplicate rows. The one-writer-per-table contract the
  *     Catalog already states is what external writers break by writing
  *     around the API; [[Catalog.refreshManifest]] is the explicit
  *     reconciliation hatch.
  *   - A directory WITHOUT a `_manifest` (a tree written by anything
  *     else) is adopted once, on its first read or mutation through
  *     [[Catalog]]: its tree becomes the first snapshot. Every Catalog
  *     table is therefore manifested; there is no listing-served mode.
  *   - A `_manifest` directory whose snapshots are unreadable is
  *     CORRUPTION and fails loud. Re-adopting the tree here would be
  *     unsound: the tree of a manifested table legitimately carries
  *     uncommitted files (crash windows, pre-cleanup states), and a
  *     listing would adopt them as data. Absent → adopt once;
  *     present-but-broken → error, never a wrong read.
  *
  * Commit protocol (driver-serialized within a process, optimistic
  * across processes — see the concurrency contract below):
  *
  *   1. write new files into the tree (fresh UUID names — never
  *      colliding with live ones);
  *   2. COMMIT: write snapshot seq+1 naming the new live set, with
  *      `remove` = files the new state no longer references;
  *   3. only then destroy the `remove` files. A crash before 2 leaves
  *      the old snapshot serving the old state; a crash after 2 leaves
  *      the new state serving, with `remove` as a to-do that
  *      [[Catalog]]'s reconcile pass finishes before the next mutation.
  *
  * Snapshot files are immutable and written tmp-then-rename under
  * fresh names (`snap-<seq>-<uuid>.gz`), so a snapshot BODY is never
  * partial under a final name. The commit point is a separate SEAL
  * file: `seal-<seq>`, created via [[FsOps.createIfAbsent]], whose
  * bytes name the winning snapshot of that sequence. The last [[Keep]]
  * snapshot/seal pairs are retained for post-mortems; older ones are
  * pruned at commit.
  *
  * CONCURRENCY CONTRACT (optimistic, Delta's commit shape — a public
  * design). The reference's deployment runs continuous ingest beside
  * compaction/serving jobs; two PROCESSES may mutate one table. Two
  * writers whose states both derive from sequence N both target N+1 —
  * ALWAYS one past the committed sequence, never past an unsealed
  * snapshot (an orphan snapshot is indistinguishable from a commit in
  * flight; leapfrogging it would silently drop its update the moment
  * it seals) — and the deterministic seal name makes the
  * create-if-absent the CAS: exactly one wins, the loser throws
  * [[ConcurrentCommitException]] (re-read, recompute, retry — or
  * surface the refusal). A writer whose base state is STALE (a commit
  * landed since its read) is refused up front by the same exception.
  * No interleaving loses an update silently. Seals are CONTENT-ATOMIC
  * ([[FsOps.createIfAbsent]] stages the bytes and links/renames them
  * into place), so a seal either exists complete or not at all; the
  * only crash artifacts are an UNSEALED snapshot (an orphan no reader
  * adopts, retired by retention) and a staged `.tmp-` file (hygiene).
  * A seal that does not parse, or that names a missing snapshot, is
  * CORRUPTION and fails loud. Stores written before seals existed
  * (snapshots only) resolve by highest snapshot name exactly as
  * before — sound, because every snapshot of that era was
  * tmp-then-renamed by a serialized writer.
  *
  * Format: gzipped text, one `<len>\t<mtime>\t<rel>` line per file,
  * table-relative paths, terminated by an `end` marker (a truncated
  * upload parses as corrupt, not as a shorter table). Per-mutation
  * snapshot rewrites are O(live files) bytes — the simple-and-correct
  * end of the design space; Delta's action log + checkpoint compaction
  * is the known upgrade path if snapshot write cost ever shows up in a
  * soak (at 10^5 files a snapshot is ~1 MB gzipped).
  */
object Manifest {

  /** One live file: table-relative path, length, mtime (ms). */
  final case class Entry(rel: String, len: Long, mtime: Long)

  /** A parsed snapshot: its sequence number, the snapshot file's own
    * (name, len) — the memo-validity token — plus the live set and the
    * pending-removal list.
    */
  final case class State(seq: Long, snapName: String, snapLen: Long,
      entries: Seq[Entry], remove: Seq[String])

  private[operators] val Keep = 3

  def dir(tableDir: String): String = tableDir + "/_manifest"

  private val SnapRe = "snap-([0-9]{20})-[0-9a-f]{8}\\.gz".r
  private val SealRe = "seal-([0-9]{20})".r

  /** One listing of the `_manifest` dir, partitioned into snapshot
    * files (name -> len) and seal names.
    */
  private def listing(fs: FsOps,
      tableDir: String): (Map[String, Long], Seq[String]) = {
    val snaps = Map.newBuilder[String, Long]
    val seals = Seq.newBuilder[String]
    fs.listFiles(dir(tableDir)).foreach { case (p, len, _) =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      name match {
        case SnapRe(_) => snaps += ((name, len))
        case SealRe(_) => seals += name
        case _ => () // .tmp- leftovers, foreign files: never eligible
      }
    }
    (snaps.result(), seals.result())
  }

  private def sealSeq(sealName: String): Long = sealName match {
    case SealRe(s) => s.toLong
    case _ => throw new IllegalStateException(
      s"manifest: not a seal name: '$sealName'")
  }

  /** The snapshot a seal names. Seals are CONTENT-ATOMIC
    * ([[FsOps.createIfAbsent]] stages then links/renames), so a seal
    * that exists is complete by construction — an unparseable one is
    * CORRUPTION and fails loud, never a skip (skipping would either
    * adopt the wrong snapshot or silently drop an in-flight commit).
    */
  private def sealTarget(fs: FsOps, tableDir: String,
      sealName: String): String = {
    val text = new String(
      fs.readBytes(s"${dir(tableDir)}/$sealName"), UTF_8)
    val lines = text.split('\n')
    val valid = lines.length == 3 && lines(0) == "graft-seal 1" &&
      lines(2) == "end" && SnapRe.pattern.matcher(lines(1)).matches()
    if (valid) lines(1)
    else throw new IllegalStateException(
      s"manifest: seal '$sealName' of '$tableDir' is unreadable — " +
        "inspect the _manifest directory (resolving around it could " +
        "adopt the wrong snapshot)")
  }

  /** (name, len) of the latest COMMITTED snapshot, via ONE listing of
    * the `_manifest` directory plus one tiny seal read; None when
    * nothing is committed (absent dir, or a table that never
    * committed). When seals exist they are authoritative and unsealed
    * snapshots are crash orphans; a store with snapshots but NO seals
    * predates the seal protocol and resolves by highest snapshot name
    * (sound: its writers tmp-then-renamed serially). A seal naming a
    * missing snapshot is corruption and fails loud (retention prunes
    * pairs together, so it cannot arise from normal operation).
    */
  def latestMeta(fs: FsOps, tableDir: String): Option[(String, Long)] = {
    val (snaps, seals) = listing(fs, tableDir)
    if (seals.isEmpty) {
      // pre-seal store: name order IS seq order (zero-padded)
      if (snaps.isEmpty) None else Some(snaps.maxBy(_._1))
    } else {
      val sl = seals.max
      val snapName = sealTarget(fs, tableDir, sl)
      snaps.get(snapName) match {
        case Some(len) => Some((snapName, len))
        case None => throw new IllegalStateException(
          s"manifest: seal '$sl' of '$tableDir' names missing " +
            s"snapshot '$snapName' — the manifest is corrupt; " +
            "inspect the tree and run refreshManifest")
      }
    }
  }

  /** Sequence number from a snapshot NAME — parses independently of
    * the snapshot's bytes, which is what lets [[Catalog.refreshManifest]]
    * continue the sequence past a corrupt snapshot.
    */
  private[operators] def seqOfName(snapName: String): Long = seqOf(snapName)

  private def seqOf(snapName: String): Long = snapName match {
    case SnapRe(s) => s.toLong
    case _ => throw new IllegalStateException(
      s"manifest: not a snapshot name: '$snapName'")
  }

  /** Parse the latest snapshot. None = nothing committed yet (no
    * table directory, or one [[Catalog]] has not adopted); a PRESENT but
    * unreadable snapshot throws — see the class doc for why that must
    * not fall back to the listing.
    */
  def load(fs: FsOps, tableDir: String): Option[State] =
    latestMeta(fs, tableDir).map { case (name, len) =>
      parse(name, len, fs.readBytes(s"${dir(tableDir)}/$name"), tableDir)
    }

  private[operators] def parse(name: String, len: Long, gz: Array[Byte],
      tableDir: String): State = {
    def corrupt(why: String): Nothing = throw new IllegalStateException(
      s"manifest: snapshot '$name' of '$tableDir' is unreadable ($why) — " +
        "a manifested table must not fall back to the tree listing " +
        "(uncommitted files would be adopted as data); inspect the tree " +
        "and run refreshManifest to re-establish it")
    val text =
      try {
        val in = new GZIPInputStream(new ByteArrayInputStream(gz))
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      } catch { case e: java.io.IOException => corrupt(e.getMessage) }
    val lines = text.split('\n')
    if (lines.length < 4 || lines(0) != "graft-manifest 1") corrupt("header")
    if (lines.last != "end") corrupt("truncated: no end marker")
    val nFiles = lines(1).stripPrefix("files ").toLongOption
      .getOrElse(corrupt("files count")).toInt
    val entries = (2 until 2 + nFiles).map { i =>
      if (i >= lines.length) corrupt("short file section")
      val f = lines(i).split('\t')
      if (f.length != 3) corrupt(s"file line $i")
      Entry(f(2),
        f(0).toLongOption.getOrElse(corrupt(s"len line $i")),
        f(1).toLongOption.getOrElse(corrupt(s"mtime line $i")))
    }
    val ri = 2 + nFiles
    if (ri >= lines.length || !lines(ri).startsWith("remove "))
      corrupt("remove header")
    val nRemove = lines(ri).stripPrefix("remove ").toLongOption
      .getOrElse(corrupt("remove count")).toInt
    if (ri + 1 + nRemove + 1 != lines.length) corrupt("section lengths")
    val remove = (ri + 1 until ri + 1 + nRemove).map(lines(_))
    State(seqOf(name), name, len, entries, remove)
  }

  /** Commit a new snapshot — the caller's state derives from
    * `prevSeq`. The target sequence is one past the COMMITTED
    * sequence (see the class doc for why orphan snapshots must not
    * lift it); the seal create-if-absent is THE commit point. Throws
    * [[ConcurrentCommitException]] when a commit landed past `prevSeq`
    * since the caller's read (stale base state) or when a racer claims
    * the target sequence first — in both cases nothing was committed
    * and nothing was lost: re-read, recompute, retry. Returns the new
    * state; prunes snapshot/seal pairs older than the last [[Keep]]
    * and `.tmp-` leftovers from crashed commits.
    */
  def commit(fs: FsOps, tableDir: String, prevSeq: Long,
      entries: Seq[Entry], remove: Seq[String]): State = {
    (entries.map(_.rel) ++ remove).foreach { r =>
      require(!r.contains('\n') && !r.contains('\t') && r.nonEmpty,
        s"manifest: file path '$r' cannot be recorded (tab/newline)")
    }
    val sorted = entries.sortBy(_.rel)
    val sb = new StringBuilder
    sb.append("graft-manifest 1\n")
    sb.append(s"files ${sorted.length}\n")
    sorted.foreach(e => sb.append(e.len).append('\t').append(e.mtime)
      .append('\t').append(e.rel).append('\n'))
    sb.append(s"remove ${remove.length}\n")
    remove.foreach(r => sb.append(r).append('\n'))
    sb.append("end")
    val bout = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bout)
    gz.write(sb.toString.getBytes(UTF_8)); gz.close()
    val bytes = bout.toByteArray
    // stale-base refusal: a commit that landed since the caller's read
    // means `entries` was computed without it — sealing ours would
    // silently drop that writer's mutation. ONE listing feeds both
    // this check and the target-sequence computation.
    val (snaps, seals) = listing(fs, tableDir)
    val committed: Option[Long] =
      if (seals.isEmpty) snaps.keysIterator.map(seqOf).maxOption
      else Some(sealSeq(seals.max))
    committed.foreach { c =>
      if (c > prevSeq) throw new ConcurrentCommitException(
        s"manifest: '$tableDir' advanced to $c past the caller's base " +
          s"$prevSeq — a concurrent writer committed; re-read the " +
          "table state and retry the mutation")
    }
    // target ONE past the committed sequence — never past an orphan
    // snapshot: an unsealed snapshot is indistinguishable from a
    // commit IN FLIGHT, and leapfrogging it with entries derived from
    // the committed state would silently drop its update the moment it
    // seals (the ConcurrencySpec 8-writer hammer caught exactly this
    // against an earlier max-over-everything target). Racing writers
    // thus always target the SAME sequence and the seal CAS picks one.
    val seq = math.max(committed.getOrElse(0L), prevSeq) + 1
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val name = f"snap-$seq%020d-$uuid.gz"
    val d = dir(tableDir)
    fs.mkdirs(d)
    val tmp = s"$d/.tmp-$uuid"
    fs.writeBytes(tmp, bytes)
    fs.move(tmp, s"$d/$name")
    // THE COMMIT — the content-atomic CAS on the deterministic seal
    // name (a crash leaves at most an unsealed snapshot + a staged
    // .tmp- file, never a partial seal)
    val sealBytes = s"graft-seal 1\n$name\nend".getBytes(UTF_8)
    if (!fs.createIfAbsent(s"$d/seal-" + f"$seq%020d", sealBytes)) {
      fs.rmTree(s"$d/$name") // our snapshot: unsealed, safe to drop
      throw new ConcurrentCommitException(
        s"manifest: sequence $seq of '$tableDir' was sealed by a " +
          "concurrent writer — re-read the table state and retry")
    }
    // retention + tmp hygiene — never the pair just written. Tmps
    // younger than a minute are left alone: a racing writer's staging
    // file lives for milliseconds between its write and its rename,
    // and sweeping it would fail a LEGITIMATE commit mid-flight (loud,
    // but spurious — the writer lost no race). A crashed commit's tmp
    // is older than any real staging window by the time the next
    // commit runs retention, so hygiene still converges.
    val tmpGraceMs = 60000L
    val nowMs = System.currentTimeMillis()
    fs.listFiles(d).foreach { case (p, _, mt) =>
      val n = p.substring(p.lastIndexOf('/') + 1)
      n match {
        case SnapRe(_) if seqOf(n) <= seq - Keep => fs.rmTree(p)
        case SealRe(_) if sealSeq(n) <= seq - Keep => fs.rmTree(p)
        case _ if n.startsWith(".tmp-") && n != s".tmp-$uuid" &&
          nowMs - mt >= tmpGraceMs => fs.rmTree(p)
        case _ => ()
      }
    }
    State(seq, name, bytes.length.toLong, sorted, remove)
  }
}

/** A commit lost the optimistic-concurrency race ([[Manifest]] /
  * [[EpochStore]]): another writer committed past the caller's base
  * state, or claimed the target sequence first. Nothing was committed
  * by the refused writer and nothing was lost by the winner — re-read
  * the state, recompute, retry. Extends IllegalStateException so
  * existing broad handlers classify it as the loud-refusal family.
  */
final class ConcurrentCommitException(msg: String)
  extends IllegalStateException(msg)
