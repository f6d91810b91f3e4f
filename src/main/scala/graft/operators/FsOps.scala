package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Filesystem facade for [[Catalog]]'s directory-level table operations
  * (partition moves/copies, sidecar listing, parts accounting) and
  * [[SkipStats]]' footer walks — the ONE place graft touches a
  * filesystem outside Spark's own read/write paths.
  *
  * Bound to the Hadoop `FileSystem` API, not `java.nio`, so the
  * O(directory) claims survive an object-store deployment: the same
  * `day=`-partition DETACH that is a rename here resolves to the S3A/ABFS
  * connector on a cluster with no code change (paths carry their scheme;
  * scheme-less paths take `fs.defaultFS`). Two posture notes an operator
  * must know, straight from the Hadoop contract:
  *
  *   - [[move]] is `FileSystem.rename`: atomic on HDFS and local disks,
  *     NOT atomic on S3 (the connector copies + deletes). The partition
  *     ops already serialize through the driver, so the exposure is a
  *     crash window, not a concurrency bug — same class as Spark's own
  *     non-atomic S3 output commits.
  *   - listings are `listStatus` arrays (no handle to leak — the r12
  *     ADVICE `Files.walk` file-descriptor leak class is structurally
  *     gone) and cost one LIST round-trip per directory on object
  *     stores, which is why every caller stays O(partitions), never
  *     O(rows).
  *
  * On the local scheme the checksummed `LocalFileSystem` is unwrapped to
  * its raw form: graft's tables must not grow `.crc` sidecars that
  * `java.nio` writers (and Spark's committers) would not produce.
  *
  * NOT final: the chaos harness ([[graft.ChaosSoak.CrashFsOps]],
  * CrashWindowSpec) overrides the MUTATING operations to throw after an
  * operation budget — the executable form of every crash-window
  * ordering argument in the commit protocols (kill the "process" at
  * each step, assert reads still serve a committed state).
  */
class FsOps(conf: Configuration) {

  private def fs(p: HPath): FileSystem = p.getFileSystem(conf) match {
    case l: LocalFileSystem => l.getRaw
    case other => other
  }

  def exists(p: String): Boolean = { val h = new HPath(p); fs(h).exists(h) }

  def isDir(p: String): Boolean = {
    val h = new HPath(p)
    val f = fs(h)
    f.exists(h) && f.getFileStatus(h).isDirectory
  }

  /** Child DIRECTORY names of `p`, sorted (empty if `p` is no directory). */
  def listDirNames(p: String): Seq[String] = {
    val h = new HPath(p)
    val f = fs(h)
    if (!f.exists(h) || !f.getFileStatus(h).isDirectory) Nil
    else f.listStatus(h).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  /** Immediate children of `p`: (name, isDirectory), sorted by name. */
  def listChildren(p: String): Seq[(String, Boolean)] = {
    val h = new HPath(p)
    val f = fs(h)
    if (!f.exists(h) || !f.getFileStatus(h).isDirectory) Nil
    else f.listStatus(h).toSeq
      .map(s => (s.getPath.getName, s.isDirectory)).sortBy(_._1)
  }

  /** Every regular file under `p`, recursively: (path, bytes, mtime ms).
    * Paths are the FULL qualified URIs (scheme + authority) the
    * `FileSystem` reports — what a caller must hand BACK to a reader so
    * the read resolves against the table's own store, not
    * `fs.defaultFS` (a scheme-less return here would make
    * `Catalog.readSplit`'s branch scans resolve against the wrong
    * filesystem on a cluster whose defaultFS differs from the table's).
    * Callers that need scheme-less forms for comparison normalize
    * explicitly (`Catalog.normUri`).
    *
    * Deliberately a `listStatus` recursion, NOT `FileSystem.listFiles
    * (recursive)`: the latter returns LocatedFileStatus — block
    * locations no caller here uses, and on LocalFileSystem computing
    * them costs ~6 ms PER FILE (ListingSoak: 0.6 s vs 5 ms for the
    * same 92-file tree), which was the dominant cost of constructing a
    * masked read. On an object store the trade is one LIST per
    * directory instead of one flat LIST — directory counts in our
    * layouts are partition-bounded, and no fake locations are fetched.
    *
    * The walk is safe beside a concurrent Spark write into the same
    * tree: `_temporary` subtrees are the output committer's staging and
    * hold no committed state, so they are skipped, and a subdirectory
    * that vanishes between its parent's listing and the descent (a
    * peer's job commit deleting its staging) reads as empty. `p` itself
    * absent reads as empty too; `p` a file lists that file.
    */
  def listFiles(p: String): Seq[(String, Long, Long)] = {
    val h = new HPath(p)
    val f = fs(h)
    val out = Seq.newBuilder[(String, Long, Long)]
    def walk(d: HPath): Unit = {
      val children =
        try f.listStatus(d)
        catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
      children.foreach { s =>
        if (!s.isDirectory)
          out += ((s.getPath.toString, s.getLen, s.getModificationTime))
        else if (s.getPath.getName != "_temporary") walk(s.getPath)
      }
    }
    walk(h)
    out.result().sortBy(_._1)
  }

  /** Fully-qualified URI string of `p` (scheme + authority filled in
    * from `p`'s own filesystem) — the ONE normalization both sides of
    * any path-prefix comparison must pass through: a raw `p` may be
    * relative, scheme-less, or scheme-qualified, and a string prefix
    * test across those forms silently fails.
    */
  def qualify(p: String): String = {
    val h = new HPath(p)
    fs(h).makeQualified(h).toString
  }

  /** Path of `p` relative to directory `dir`, with BOTH sides qualified
    * first; None when `p` does not live under `dir`.
    */
  def relativeTo(dir: String, p: String): Option[String] = {
    val qd = qualify(dir).stripSuffix("/") + "/"
    val qp = qualify(p)
    if (qp.startsWith(qd)) Some(qp.substring(qd.length)) else None
  }

  /** True when any `.parquet` file lives under `p` (sidecar existence
    * probes — bounded by the sidecar's own file count).
    */
  def hasParquetUnder(p: String): Boolean =
    listFiles(p).exists(_._1.endsWith(".parquet"))

  /** Is `p` a DATA file of the table rooted at `tableDir`? Parquet, and
    * not under any `_`-prefixed subtree (deletes/patches/detached —
    * mutation state, never data). THE one definition every consumer
    * shares (Catalog reads, parts(), SkipStats footers): a new sidecar
    * kind changes it here or nowhere. Both paths qualify through the
    * filesystem before the prefix strips (a bare `stripPrefix` no-ops
    * when the two arrive in different forms — relative vs absolute vs
    * scheme-qualified — and the underscore check would then run over
    * ancestor directories of the table itself); a `p` outside
    * `tableDir` is a caller bug and fails loudly rather than
    * misclassifying.
    */
  def isDataFile(tableDir: String, p: String): Boolean =
    p.endsWith(".parquet") && {
      val rel = relativeTo(tableDir, p).getOrElse(
        throw new IllegalArgumentException(
          s"isDataFile: '$p' is not under table dir '$tableDir'"))
      isDataRel(rel)
    }

  /** The data-file rule on an already-relativized path — shared with
    * callers that hold the table-relative form from their own listing
    * pass (`Catalog.snap`), so the rule stays defined ONCE.
    */
  def isDataRel(rel: String): Boolean =
    rel.endsWith(".parquet") && !rel.split('/').exists(_.startsWith("_"))

  /** Data files under a table directory (see [[isDataFile]]), sorted. */
  def dataFilesUnder(tableDir: String): Seq[String] =
    listFiles(tableDir).map(_._1).filter(isDataFile(tableDir, _))

  /** Total bytes under `p` (0 if absent). */
  def treeBytes(p: String): Long = listFiles(p).map(_._2).sum

  def mkdirs(p: String): Unit = { val h = new HPath(p); fs(h).mkdirs(h); () }

  /** Whole small file in one read ([[Manifest]] snapshots — MBs at
    * most; never data files).
    */
  def readBytes(p: String): Array[Byte] = {
    val h = new HPath(p)
    val in = fs(h).open(h)
    try in.readAllBytes() finally in.close()
  }

  /** Write a small file whole, failing if it exists (manifest commit
    * staging — immutable snapshot files are never overwritten).
    */
  def writeBytes(p: String, bytes: Array[Byte]): Unit = {
    val h = new HPath(p)
    val out = fs(h).create(h, false)
    try out.write(bytes) finally out.close()
  }

  /** Atomic CONTENT-COMPLETE create-if-absent of a small file — the
    * COMPARE-AND-SWAP primitive of the optimistic commit protocols
    * ([[Manifest]] seal files, [[EpochStore]] pointers): of N writers
    * naming the same path, exactly one claims it, the rest see `false`
    * and refuse their commit loudly. The claim appears with its FULL
    * bytes in one atomic step (staged to a `.tmp-` sibling first):
    * there is no observable "created but not yet written" state — the
    * property the protocols' correctness rests on, because a reader or
    * a racing writer that could see a half-claim cannot tell a crashed
    * claimant from an in-flight one, and skipping past an in-flight
    * commit is a silently lost update (the ConcurrencySpec 8-writer
    * hammer CAUGHT exactly that against an earlier create-then-write
    * shape). Bindings, with atomicity delegated to the store — the
    * same posture as [[move]]'s S3 note and the same delegation
    * Delta's LogStore makes (a public design):
    *
    *   - local scheme: stage + `link(2)` — the kernel's atomic
    *     fail-if-exists primitive that also carries content (Hadoop's
    *     local `create(overwrite=false)` is check-then-create and its
    *     rename overwrites, so neither can be the CAS here);
    *   - everything else: stage + `FileSystem.rename`, which is atomic
    *     and fails on an existing destination at the HDFS NameNode;
    *     object-store connectors map it to their conditional
    *     operations per their documented semantics.
    *
    * A crash leaves at most a staged `.tmp-` sibling (never eligible,
    * swept by the protocols' hygiene). A racer's hygiene sweeping OUR
    * stage mid-claim surfaces as `false` — the same loud refusal.
    */
  def createIfAbsent(p: String, bytes: Array[Byte]): Boolean = {
    val h = new HPath(p)
    val f = fs(h)
    val stageName = s".tmp-claim-${java.util.UUID.randomUUID().toString.take(8)}"
    f match {
      case r: RawLocalFileSystem =>
        val dst = new java.io.File(r.makeQualified(h).toUri.getPath)
        Option(dst.getParentFile).foreach(_.mkdirs())
        if (dst.exists()) false
        else {
          val tmp = new java.io.File(dst.getParentFile, stageName)
          val out = new java.io.FileOutputStream(tmp)
          try out.write(bytes) finally out.close()
          try {
            java.nio.file.Files.createLink(dst.toPath, tmp.toPath)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
            case _: java.nio.file.NoSuchFileException => false // stage swept
          } finally { tmp.delete(); () }
        }
      case _ =>
        if (f.exists(h)) false
        else {
          val tmp = new HPath(h.getParent, stageName)
          val out = f.create(tmp, false)
          try out.write(bytes) finally out.close()
          // HDFS rename: atomic, false when the destination exists
          try f.rename(tmp, h)
          finally { if (f.exists(tmp)) f.delete(tmp, false); () }
        }
    }
  }

  /** Recursive delete; no-op when absent. */
  def rmTree(p: String): Unit = {
    val h = new HPath(p)
    val f = fs(h)
    if (f.exists(h)) { f.delete(h, true); () }
  }

  /** Delete `p` only if it is an EMPTY directory; true when deleted. */
  def deleteIfEmptyDir(p: String): Boolean = {
    val h = new HPath(p)
    val f = fs(h)
    f.exists(h) && f.getFileStatus(h).isDirectory &&
      f.listStatus(h).isEmpty && f.delete(h, false)
  }

  /** `FileSystem.rename` — see the class doc for the S3 atomicity note. */
  def move(src: String, dst: String): Unit = {
    val s = new HPath(src)
    val d = new HPath(dst)
    require(fs(s).rename(s, d), s"rename failed: $src -> $dst")
  }

  /** Recursive copy, `src` left intact (CH ATTACH/REPLACE PARTITION FROM
    * copies — the source table keeps serving).
    */
  def copyTree(src: String, dst: String): Unit = {
    val s = new HPath(src)
    val d = new HPath(dst)
    val df = fs(d)
    if (d.getParent != null) df.mkdirs(d.getParent)
    require(FileUtil.copy(fs(s), s, df, d, false, conf),
      s"copy failed: $src -> $dst")
  }
}

object FsOps {

  /** Chaos-injection seam: every store binds its FsOps through this
    * factory, so the crash harness can hand ALL of them (Catalog,
    * MvccCatalog, MatView, the index stores) an instance whose
    * mutating operations die mid-protocol — simulating a process kill
    * at each step. Production code never touches it; the harness
    * resets it around each run (post-kill assertions bind a fresh
    * real FsOps through the restored default).
    */
  @volatile private[graft] var factory: Configuration => FsOps =
    conf => new FsOps(conf)

  def apply(spark: SparkSession): FsOps =
    factory(spark.sessionState.newHadoopConf())
}
