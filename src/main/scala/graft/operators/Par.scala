package graft.operators

import org.apache.spark.sql.DataFrame

/** Parallelism floor for derivation-heavy scans (r17 optimization;
  * guide §2.5 "input skew: one huge unsplittable file … repartition
  * immediately after the read").
  *
  * A single parquet file with one row group scans as ONE task no matter
  * the core count, and several operators do their heaviest work in the
  * map phase directly over that scan — n-gram/shingle explosion,
  * MinHash/SimHash signatures, language-profile counting. R17JobProf
  * measured q213's profile build as one 2.6 s single-task job (31 of 32
  * cores idle) and q238's gram pass as 3 × 0.6 s single-task jobs.
  *
  * [[fan]] round-robin-repartitions a frame up to the session's default
  * parallelism ONLY when the planned scan has fewer partitions — the
  * shuffle it adds moves just the small frame (a few MB here), and the
  * gate makes it a NO-OP at scale: a 100 TB table scans as thousands of
  * partitions and must not be shuffled down to the core count (the
  * bench's lower-core driver run also stays honest — the floor follows
  * `defaultParallelism`, never a constant). Round-robin repartition
  * keeps Spark's sort-before-repartition default, so the fan-out is
  * deterministic under retries.
  */
object Par {

  def fan(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** Run INDEPENDENT Spark actions concurrently from driver threads
    * (guide §2.6 "overlap independent jobs": actions are only
    * sequential because driver code calls them sequentially). Used by
    * the index save paths, whose 3–4 artifact-part writes go to
    * disjoint directories: run serially each pays its own full driver
    * gap (plan + commit + scheduling) while the cluster idles through
    * the small writes' tails — R17JobProf measured the four q148 save
    * writes at ~950 ms serial wall. Threads inherit the caller's
    * Spark local properties (job group/description are
    * InheritableThreadLocal). All work is awaited; the FIRST failure
    * rethrows after every thread finished, with every other thunk's
    * failure attached as suppressed, so a caller's abort semantics
    * (e.g. EpochStore's uncommitted-epoch cleanup) see no half-running
    * stragglers and no failure goes unreported.
    */
  def jobs(work: (() => Unit)*): Unit =
    if (work.length <= 1) work.foreach(_())
    else {
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = work.map { w =>
        new Thread(() =>
          try w() catch { case t: Throwable => failures.add(t) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val first = failures.poll()
      if (first != null) {
        failures.forEach(t => if (t ne first) first.addSuppressed(t))
        throw first
      }
    }
}
