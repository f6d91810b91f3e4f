package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: String, record: String, spans: String, tiny: Boolean,
    injectWrong: Int)

/** A result check, run after the measured window against a reference
  * computed outside it: None when the op's output is right, else why not.
  */
trait Check { def apply(): Option[String] }

object Check {
  val Ok: Check = () => None
  def apply(f: => Option[String]): Check = () => f
}

/** One op as timed from outside the engine. */
final case class OpRec(id: Long, kind: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long, check: Check) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Everything one measured window produced. */
final class Window(val warmup: Boolean = false) {
  val ops = new ConcurrentLinkedQueue[OpRec]()
  val crashes = new ConcurrentLinkedQueue[String]()
  @volatile var startNs = 0L
  @volatile var endNs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
  def completed: Seq[OpRec] = ops.asScala.toSeq
  def attempted: Long = ops.size + crashes.size
}

/** Drives the closed loops and owns op timing, checking and tampering. */
final class Harness(val spark: SparkSession, val conf: Conf) {
  private val opIds = new AtomicLong(0)
  private val toTamper = new AtomicInteger(conf.injectWrong)
  @volatile var windows: Vector[Window] = Vector.empty
  private var failures = Vector.empty[String]
  private var checked = false

  /** Time one op. `body` does the op's engine calls and returns the check
    * of its output; an exception fails the op on the spot.
    */
  def op(w: Window, kind: String)(body: => Check): Unit = {
    val id = opIds.incrementAndGet()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val check = Trace.inOp(spark, id, kind)(body)
      w.ops.add(OpRec(id, kind, t0, System.nanoTime(), ms0, System.currentTimeMillis(), check))
    } catch {
      case NonFatal(e) =>
        w.crashes.add(s"op $id ($kind): $e")
        System.err.println(s"perfbench: op $id ($kind) threw")
        e.printStackTrace()
    }
  }

  /** Returns `wrong(x)` for the first `--inject-wrong` measured results,
    * which the checks must then count as failed (the benchmark's own
    * self-test).
    */
  def tamper[T](w: Window, x: T)(wrong: T => T): T =
    if (!w.warmup && toTamper.getAndDecrement() > 0) wrong(x) else x

  /** Closed loop: each client issues its next op when the previous one
    * returned. A client stops at the first multiple of `cycle` ops after
    * `seconds` have passed, so a window holds whole cycles of the
    * workload's op sequence and its op mix does not depend on speed.
    */
  def closedLoop(clients: Int, seconds: Double, cycle: Int)(
      step: (Window, Int, Int) => Unit): Window = {
    val w = new Window()
    windows :+= w
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline || i % cycle != 0) { step(w, c, i); i += 1 }
      }, s"perfbench-client-$c")
    }
    w.startNs = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    w.endNs = System.nanoTime()
    w
  }

  /** Run every recorded check once; returns the failure descriptions. */
  def runChecks(): Vector[String] = {
    if (!checked) {
      checked = true
      failures = windows.flatMap { w =>
        w.crashes.asScala.toVector ++ w.completed.flatMap { o =>
          val r = try o.check() catch { case NonFatal(e) => Some(s"check threw $e") }
          r.map(why => s"op ${o.id} (${o.kind}): $why")
        }
      }
    }
    failures
  }

  /** A window for run-end checks: counted in attempted/failed, never timed. */
  def checkWindow(): Window = {
    val w = new Window()
    windows :+= w
    w
  }

  def attempted: Long = windows.map(_.attempted).sum
}

/** One workload: its set-up, its op, and the references its checks use. */
trait Workload {
  def clients: Int
  /** Ops per client in one cycle of the workload's op sequence; every
    * measured window runs whole cycles, each from the cycle's start.
    */
  def cycle: Int
  /** Stage inputs and build structures; runs several times, the last
    * rep's structures serve.
    */
  def setup(rep: Int): Unit
  /** Run every op path on the final structures before timing starts. */
  def warmUp(w: Window): Unit
  /** One op of client `client`; `seq` numbers the client's ops in the
    * window, from 0.
    */
  def step(w: Window, client: Int, seq: Int): Unit
  /** Compute the references the recorded checks compare against. */
  def prepareChecks(): Unit = ()
  /** Workload-specific per-layer figures of a traced run. */
  def layerExtras(untraced: Window, traced: Window): Map[String, Double] = Map.empty
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of `xs`. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}
