package graft.perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.json4s._
import org.json4s.jackson.JsonMethods.compact

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.operators.ServingCache

/** Metric names and units; run.py prints `E2E` for untraced runs and
  * `Layers` for traced runs, and test_bench.py checks both against
  * BENCHMARK.json.
  */
object Metrics {
  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms", "ops_per_s" -> "1/s",
    "live_heap_mb" -> "MB")

  /** Spans timed around set-up calls, reported as mean ms per call. */
  val BuildSpans: Seq[String] = Seq("PackedScan.build", "Bm25Index.build", "AnnIndex.fit",
    "IvfGraph.build")

  /** Spans timed around op calls, reported as mean ms per call. */
  val OpSpans: Seq[String] = Seq("ChSql.sql", "Spark.collect", "SelfQueryParser.parseRequest",
    "PackedScan.topK", "Bm25Index.topK", "IvfGraph.topKAuto", "Ingest.pipeline", "Ingest.chunk",
    "Ingest.narrativeFilter", "Dedup.exactSubstrClean", "Ingest.embed", "Catalog.append",
    "Catalog.deleteWhereLight", "Catalog.compactMask", "PackedScan.insert", "PackedScan.delete",
    "PackedScan.compact", "Bm25Index.insert", "Bm25Index.delete", "Bm25Index.compact",
    "fresh_probe") ++ SqlLifecycle.Kinds.map(k => s"ChDdl.execute.$k")

  val Layers: Seq[(String, String)] = Seq(
    "op_p99_ms" -> "ms", "failed_frac" -> "ratio", "recall_at_10" -> "ratio",
    "chunks_per_s" -> "1/s", "rag_serve.repeat_frac" -> "ratio",
    "trace.unattributed_frac" -> "ratio", "trace.overhead_frac" -> "ratio",
    "spark.jobs" -> "count", "spark.gap.ms" -> "ms", "catalyst.analysis.ms" -> "ms",
    "catalyst.optimization.ms" -> "ms", "catalyst.planning.ms" -> "ms",
    "codegen.compiles" -> "count", "spark.task.ms" -> "ms", "spark.shuffle.bytes" -> "bytes",
    "spark.spill.bytes" -> "bytes", "jvm.gc.ms" -> "ms", "heap.live_mb.slope" -> "MB",
    "IvfGraph.visit_frac" -> "ratio", "IvfGraph.brute_frac" -> "ratio",
    "Dedup.removed_frac" -> "ratio", "Manifest.commits" -> "count",
    "ServingCache.bytes" -> "bytes") ++
    (BuildSpans ++ OpSpans).map(n => s"$n.ms" -> "ms") ++
    SqlLifecycle.Kinds.map(k => s"ChDdl.jobs.$k" -> "count") ++
    CountingFsOps.Kinds.map(k => s"FsOps.$k.calls" -> "count")
}

/** Entry point of one benchmark run (see perfbench/run.py). */
object Main {
  /** Staging + builds run this many times; setup_s is session start +
    * the median rep + one warm-up on the final structures.
    */
  val SetupReps = 2

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val rec = new Record(conf)
    var spark: SparkSession = null
    try {
      val t0 = System.nanoTime()
      // graft.Bench's session settings, plus graft's functions and rules
      spark = GraftSession.install(SparkSession.builder()
        .master(s"local[${conf.cores}]")
        .config("spark.sql.shuffle.partitions", conf.cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate())
      spark.sparkContext.setLogLevel("ERROR")
      rec.sessionS = (System.nanoTime() - t0) / 1e9
      val h = new Harness(spark, conf)
      rec.harness = h
      run(h, rec)
    } catch {
      case NonFatal(e) =>
        rec.error = Some(e.toString)
        e.printStackTrace()
    } finally {
      try if (spark != null) spark.stop()
      catch { case NonFatal(e) => rec.error = Some(rec.error.map(_ + "; ").getOrElse("") + s"stop: $e") }
      rec.write()
    }
    sys.exit(0)
  }

  private def run(h: Harness, rec: Record): Unit = {
    val conf = h.conf
    val wl: Workload = conf.workload match {
      case "rag_serve" => new RagServe(h)
      case "kb_ingest" => new KbIngest(h)
      case "sql_lifecycle" => new SqlLifecycle(h)
    }
    val probe = if (conf.trace) {
      CountingFsOps.install()
      SparkProbe.install(h.spark)
    } else null
    Trace.on = conf.trace
    rec.setupReps = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      Trace.span("setup")(wl.setup(r))
      (System.nanoTime() - t) / 1e9
    }
    val t = System.nanoTime()
    Trace.span("warmup")(wl.warmUp(new Window(warmup = true)))
    rec.warmUpS = (System.nanoTime() - t) / 1e9
    Trace.on = false
    def window() = h.closedLoop(wl.clients, conf.seconds, wl.cycle)(wl.step)
    val untraced = window()
    rec.liveHeapMb = SparkProbe.liveHeapMb()
    rec.untraced = Some(untraced)
    if (conf.trace) {
      val sc = h.spark.sparkContext
      ListenerDrain(sc)
      val heap0 = SparkProbe.liveHeapMb()
      val gc0 = SparkProbe.gcMs
      val cg0 = SparkProbe.codegenCompiles
      probe.recording = true
      CountingFsOps.recording = true
      Trace.on = true
      val traced = window()
      Trace.on = false
      ListenerDrain(sc)
      probe.recording = false
      CountingFsOps.recording = false
      val gc1 = SparkProbe.gcMs
      val cg1 = SparkProbe.codegenCompiles
      val heap1 = SparkProbe.liveHeapMb()
      val n = math.max(1, traced.completed.size).toDouble
      rec.traced = Some(traced)
      rec.probeLayers = Layers.fromProbe(probe, traced) ++ Map(
        "jvm.gc.ms" -> (gc1 - gc0) / n,
        "codegen.compiles" -> (cg1 - cg0) / n,
        "heap.live_mb.slope" -> (heap1 - heap0) / n * 100,
        "ServingCache.bytes" -> ServingCache.totalBytes.toDouble)
      rec.probe = Some(probe)
      // a second untraced window after the traced one: the tracing
      // overhead compares the traced window with the mean of both, so JVM
      // warm-up over the run does not read as overhead
      rec.after = Some(window())
    }
    val c0 = System.nanoTime()
    wl.prepareChecks()
    rec.failures = h.runChecks()
    rec.checksS = (System.nanoTime() - c0) / 1e9
    // after the checks: recall is measured against their references
    rec.traced.foreach(t => rec.probeLayers ++= wl.layerExtras(untraced, t))
  }

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cores").toInt, get("work"), get("record"), get("spans"), get("scale") == "tiny",
      get("inject-wrong").toInt)
  }
}

/** Per-layer figures that come from the listeners, FsOps counts and spans. */
object Layers {
  def fromProbe(p: SparkProbe, w: Window): Map[String, Double] = {
    val ops = w.completed
    val ids = ops.map(_.id).toSet
    val n = math.max(1, ops.size).toDouble
    val byOp = p.jobsByOp
    val gaps = ops.map { o =>
      val iv = byOp.getOrElse(o.id, Nil)
        .map(j => (math.max(j.startMs, o.startMs), math.min(if (j.endMs < 0) o.endMs else j.endMs, o.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var at = o.startMs
      iv.foreach { case (s, e) =>
        val from = math.max(s, at)
        if (e > from) { covered += e - from; at = e }
      }
      math.max(0L, o.endMs - o.startMs - covered).toDouble
    }
    val jobsOfKind = ops.groupBy(_.kind).map { case (k, os) =>
      k -> os.map(o => byOp.getOrElse(o.id, Nil).size).sum.toDouble / os.size
    }
    val spans = Trace.all
    val roots = spans.filter(s => s.parent == 0 && ids.contains(s.op))
    val childMs = spans.filter(s => s.parent != 0).groupBy(_.parent).map { case (k, v) => k -> v.map(_.ms).sum }
    val rootMs = roots.map(_.ms).sum
    val selfMs = roots.map(r => r.ms - childMs.getOrElse(r.id, 0.0)).sum
    def meanMs(name: String, keep: Trace.Span => Boolean): Double = {
      val xs = spans.filter(s => s.name == name && keep(s)).map(_.ms)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    Map(
      "spark.jobs" -> p.jobs.size / n,
      "spark.gap.ms" -> (if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size),
      "catalyst.analysis.ms" -> p.analysisMs.sum / n,
      "catalyst.optimization.ms" -> p.optimizationMs.sum / n,
      "catalyst.planning.ms" -> p.planningMs.sum / n,
      "spark.task.ms" -> p.taskMs.sum / n,
      "spark.shuffle.bytes" -> p.shuffleBytes.sum / n,
      "spark.spill.bytes" -> p.spillBytes.sum / n,
      "trace.unattributed_frac" -> (if (rootMs > 0) selfMs / rootMs else 0.0),
      "Manifest.commits" -> CountingFsOps.count("manifestCommit") / n) ++
      Metrics.BuildSpans.map(s => s"$s.ms" -> meanMs(s, _.op == 0)) ++
      Metrics.OpSpans.map(s => s"$s.ms" -> meanMs(s, x => ids.contains(x.op))) ++
      SqlLifecycle.Kinds.map(k => s"ChDdl.jobs.$k" -> jobsOfKind.getOrElse(k, 0.0)) ++
      CountingFsOps.Kinds.map(k => s"FsOps.$k.calls" -> CountingFsOps.count(k) / n)
  }
}

/** The run record, written in `Main.main`'s finally whatever happened. */
final class Record(conf: Conf) {
  var harness: Harness = _
  var sessionS = Double.NaN
  var setupReps: Seq[Double] = Nil
  var warmUpS = Double.NaN
  var checksS = Double.NaN
  var liveHeapMb = Double.NaN
  var untraced: Option[Window] = None
  var traced: Option[Window] = None
  var after: Option[Window] = None
  var probe: Option[SparkProbe] = None
  var probeLayers: Map[String, Double] = Map.empty
  var failures: Vector[String] = Vector.empty
  var error: Option[String] = None

  private def rate(w: Window) = w.completed.size / w.seconds

  private def num(x: Double): JValue = if (x.isNaN || x.isInfinite) JNull else JDouble(x)

  def write(): Unit = {
    val attempted = math.max(1L, Option(harness).map(_.attempted).getOrElse(0L))
    // a run that did not reach its checks cannot vouch for any op
    val failed = if (error.isDefined && failures.isEmpty) attempted else failures.size.toLong
    val correct = error.isEmpty && failed == 0
    val e2e: Map[String, Double] = untraced.map { w =>
      val lat = w.completed.map(_.ms)
      Map("setup_s" -> (sessionS + Stats.median(setupReps) + warmUpS),
        "op_p50_ms" -> Stats.pct(lat, 0.5), "op_p90_ms" -> Stats.pct(lat, 0.9),
        "ops_per_s" -> rate(w), "live_heap_mb" -> liveHeapMb)
    }.getOrElse(Map.empty)
    val layers: Map[String, Double] = (for (u <- untraced; t <- traced; a <- after) yield
      probeLayers ++ Map(
        "op_p99_ms" -> Stats.pct(u.completed.map(_.ms), 0.99),
        "failed_frac" -> failed.toDouble / attempted,
        "trace.overhead_frac" -> (1.0 - rate(t) / ((rate(u) + rate(a)) / 2)))).getOrElse(Map.empty)
    def metrics(spec: Seq[(String, String)], vals: Map[String, Double]): JValue =
      JObject(spec.map { case (n, u) =>
        n -> JObject("value" -> num(vals.getOrElse(n, 0.0)), "unit" -> JString(u))
      }: _*)
    def window(w: Window): JValue = JObject(
      "ops" -> JLong(w.completed.size), "crashed" -> JLong(w.crashes.size),
      "seconds" -> num(w.seconds), "ops_per_s" -> num(rate(w)),
      "ops_by_kind" -> JObject(w.completed.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> JObject("ops" -> JLong(v.size),
          "p50_ms" -> num(Stats.median(v.map(_.ms)))) }: _*))
    val out = JObject(
      "correct" -> JBool(correct),
      "attempted" -> JLong(attempted),
      "failed" -> JLong(failed),
      "e2e" -> metrics(Metrics.E2E, e2e),
      "layers" -> (if (conf.trace) metrics(Metrics.Layers, layers) else JObject()),
      "provenance" -> JObject(
        "workload" -> JString(conf.workload), "seed" -> JLong(conf.seed),
        "seconds" -> JLong(conf.seconds), "trace" -> JLong(if (conf.trace) 1 else 0),
        "cores" -> JLong(conf.cores), "scale" -> JString(if (conf.tiny) "tiny" else "full"),
        "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
        "finished_utc" -> JString(java.time.Instant.now().toString)),
      "session_s" -> num(sessionS),
      "setup_reps_s" -> JArray(setupReps.map(num).toList),
      "warmup_s" -> num(warmUpS),
      "checks_s" -> num(checksS),
      "windows" -> JObject((untraced.map("untraced" -> window(_)).toSeq ++
        traced.map("traced" -> window(_)).toSeq ++ after.map("untraced_after" -> window(_)).toSeq): _*),
      "failures" -> JArray(failures.take(20).map(JString(_)).toList),
      "error" -> error.map(JString(_)).getOrElse(JNull))
    Files.write(Paths.get(conf.record), (compact(out) + "\n").getBytes("UTF-8"))
    if (conf.trace) writeSpans()
  }

  /** Spans and per-op Spark jobs, one JSON object per line. */
  private def writeSpans(): Unit = {
    val pw = new PrintWriter(conf.spans, "UTF-8")
    try {
      Trace.all.sortBy(_.startNs).foreach { s =>
        pw.println(compact(JObject("span" -> JString(s.name), "id" -> JLong(s.id),
          "parent" -> JLong(s.parent), "op" -> JLong(s.op),
          "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs))))
      }
      probe.foreach(_.jobs.toSeq.sortBy(_._1).foreach { case (id, j) =>
        pw.println(compact(JObject("job" -> JLong(id), "op" -> JLong(j.op),
          "start_ms" -> JLong(j.startMs), "end_ms" -> JLong(j.endMs))))
      })
    } finally pw.close()
  }
}
