package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.FsOps

/** Spans recorded around the benchmark's calls into engine layers.
  *
  * Off in untraced runs: `span` then only evaluates its body. When on,
  * each span records (id, parent, op, name, start, end) in memory; the
  * parent is the enclosing span on the same thread and the op is the
  * operation the thread is running (0 during set-up). Spans are written
  * out once, when the run ends.
  */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Local property carrying the op id onto every Spark job an op runs. */
  val OpProperty = "perfbench.op"

  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  // (op id, innermost open span id) of the current thread
  private val current = ThreadLocal.withInitial[(Long, Long)](() => (0L, 0L))

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val (op, parent) = current.get
      val id = ids.incrementAndGet()
      current.set((op, id))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        current.set((op, parent))
      }
    }

  /** Run `body` as op `op`: its spans and Spark jobs carry the op id. */
  def inOp[T](spark: SparkSession, op: Long, kind: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      current.set((op, 0L))
      sc.setLocalProperty(OpProperty, op.toString)
      try span("op." + kind)(body)
      finally {
        sc.setLocalProperty(OpProperty, null)
        current.set((0L, 0L))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Spark-side events per op, from public listener interfaces: jobs and
  * their wall intervals (SparkListener, joined to ops through
  * [[Trace.OpProperty]]), executor task time / shuffle / spill, and the
  * Catalyst phase times of every executed query (QueryExecutionListener
  * over `qe.tracker`). Events count only while `recording` is set; the
  * caller drains the listener bus before flipping it.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  @volatile var recording = false

  final case class Job(op: Long, startMs: Long, var endMs: Long)
  val jobs = TrieMap.empty[Int, Job]
  val taskMs, shuffleBytes, spillBytes = new LongAdder
  val analysisMs, optimizationMs, planningMs = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, Job(op, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (recording && e.taskMetrics != null) {
      val m = e.taskMetrics
      taskMs.add(m.executorRunTime)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  private def phases(qe: QueryExecution): Unit = if (recording) {
    val p = qe.tracker.phases
    def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
    analysisMs.add(ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS))
    optimizationMs.add(ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION))
    planningMs.add(ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  /** Jobs per op id. */
  def jobsByOp: Map[Long, Seq[Job]] = jobs.values.toSeq.groupBy(_.op)
}

object SparkProbe {
  def install(spark: SparkSession): SparkProbe = {
    val p = new SparkProbe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Codegen compilations so far (Spark's CodegenMetrics). */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Cumulative JVM GC time, ms. */
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after a full collection, MB. */
  def liveHeapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

/** FsOps that counts calls by kind, installed through the engine's
  * `FsOps.factory` seam so every Catalog / Manifest / index store the
  * workload creates is counted. Tree walks (listFiles and the helpers
  * built on it) count once per walk.
  */
final class CountingFsOps(conf: Configuration) extends FsOps(conf) {
  import CountingFsOps.bump
  override def exists(p: String): Boolean = { bump("exists"); super.exists(p) }
  override def isDir(p: String): Boolean = { bump("exists"); super.isDir(p) }
  override def listDirNames(p: String): Seq[String] = { bump("list"); super.listDirNames(p) }
  override def listChildren(p: String): Seq[(String, Boolean)] = {
    bump("list"); super.listChildren(p)
  }
  override def listFiles(p: String): Seq[(String, Long, Long)] = {
    bump("list"); super.listFiles(p)
  }
  override def readBytes(p: String): Array[Byte] = { bump("read"); super.readBytes(p) }
  override def writeBytes(p: String, bytes: Array[Byte]): Unit = {
    bump("write"); super.writeBytes(p, bytes)
  }
  override def createIfAbsent(p: String, bytes: Array[Byte]): Boolean = {
    bump("createIfAbsent")
    if (p.contains("_manifest")) bump("manifestCommit")
    super.createIfAbsent(p, bytes)
  }
  override def rmTree(p: String): Unit = { bump("rmTree"); super.rmTree(p) }
  override def move(src: String, dst: String): Unit = { bump("move"); super.move(src, dst) }
}

object CountingFsOps {
  val Kinds = Seq("list", "exists", "read", "write", "createIfAbsent", "rmTree", "move")
  private val counts = TrieMap.empty[String, LongAdder]
  @volatile var recording = false

  private def bump(kind: String): Unit =
    if (recording) counts.getOrElseUpdate(kind, new LongAdder).increment()

  def count(kind: String): Long = counts.get(kind).map(_.sum).getOrElse(0L)

  def install(): Unit = FsOps.factory = conf => new CountingFsOps(conf)
}
