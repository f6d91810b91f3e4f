package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.functions.HashEmbedder
import graft.operators.{AnnIndex, Bm25Index, ChSql, IvfGraph, PackedScan, SelfQueryFilter => F,
  SelfQueryParser, ServingCache}

/** rag_serve: the chat retriever. Two clients in a closed loop, each op one
  * retrieval, mixed as the reference's chat traffic is: 40% Vector-SQL
  * text through ChSql, 30% self-query payloads served by PackedScan, 15%
  * BM25, 15% filtered IvfGraph ANN. Read-only: Catalog, Manifest, Ingest
  * and Dedup do no work here, the serving kernels and the per-query driver
  * path (dialect rewrite, Catalyst, codegen, job scheduling) do it all.
  */
final class RagServe(h: Harness) extends Workload {
  import RagServe._

  private val spark = h.spark
  private val seed = h.conf.seed
  val clients = 2
  /** Corpus rows: 10x the embeddings test table at sf0.1, each with a
    * documents-shaped text (README: sizing).
    */
  private val rows = if (h.conf.tiny) 2000L else 20000L
  private val lists = if (h.conf.tiny) 4 else 8
  private val poolSize = if (h.conf.tiny) 100 else 1000
  private val zipf = new Data.Zipf(poolSize, 1.0)
  private val nprobe = 2
  private val ef = 32
  private val nCharsCut = 280L + seed.abs % 40

  /** The filters: several broad ones (graph path) and two below the 5%
    * brute-force switch of IvfGraph.topKAuto.
    */
  val preds: IndexedSeq[F.Node] = IndexedSeq(
    F.Ne("lang", F.S("zh")),
    F.Eq("lang", F.S("en")),
    F.In("label", Seq(1L, 3L, 5L, 7L).map(F.I)),
    F.Gt("n_chars", F.I(nCharsCut)),
    F.And.of(F.Eq("lang", F.S("de")), F.Lt("label", F.I(5L))),
    F.And.of(F.Eq("label", F.I(3L)), F.Eq("lang", F.S("fr"))),
    F.And.of(F.Eq("label", F.I(7L)), F.Gt("n_chars", F.I(nCharsCut + 190))),
    F.Lte("label", F.I(1L)))

  /** Op kinds in a seeded order that every client cycles through; windows
    * end on whole decks, so each holds the 40/30/15/15 mix exactly.
    */
  private val deck: IndexedSeq[String] = scala.util.Random.javaRandomToRandom(Data.rng(seed, 5L))
    .shuffle(Seq.fill(8)("vsql") ++ Seq.fill(6)("selfq") ++ Seq.fill(3)("bm25") ++ Seq.fill(3)("ann"))
    .toIndexedSeq
  val cycle: Int = deck.length

  final case class Query(text: String, vec: Array[Float], pred: Int, terms: Seq[String])

  /** Query pool; ops draw from it with Zipf(1.0) skew, so some texts repeat. */
  val pool: IndexedSeq[Query] = (0 until poolSize).map { i =>
    val r = Data.rng(seed, 2L, i)
    val text = Seq.fill(4 + r.nextInt(5))(Data.Words(r.nextInt(Data.Words.length))).mkString(" ")
    val terms = scala.util.Random.javaRandomToRandom(r).shuffle(Data.Words.toSeq).take(2 + r.nextInt(2))
    // filters cycle through the pool, so the Zipf head covers each equally
    Query(text, HashEmbedder.embed(text), i % preds.length, terms)
  }

  private var corpusPath = ""
  private var packed: PackedScan = _
  private var bm25: Bm25Index = _
  private var graph: IvfGraph = _
  private var indexed: DataFrame = _

  // per-op facts the metrics and checks need
  private val used = TrieMap.empty[(String, Int), Unit]
  private val keysByWindow = TrieMap.empty[Window, ConcurrentLinkedQueue[(String, Int)]]
  private val annStats = new ConcurrentLinkedQueue[(Window, Double, Boolean)]()
  private val recalls = new ConcurrentLinkedQueue[(Window, Double)]()

  def setup(rep: Int): Unit = {
    ServingCache.evictAll()
    if (indexed != null) indexed.unpersist()
    corpusPath = s"${h.conf.work}/rag/corpus-$rep.parquet"
    Trace.span("stage.corpus") {
      Data.ragCorpus(spark, seed, rows).write.mode("overwrite").parquet(corpusPath)
    }
    val corpus = spark.read.parquet(corpusPath)
    corpus.createOrReplaceTempView("rag_corpus")
    val key = s"perfbench-rag-$seed-$rep"
    val meta = Seq("label", "lang", "n_chars")
    packed = Trace.span("PackedScan.build") {
      PackedScan.buildCached(corpus, key, "id", "embedding", meta)
    }
    bm25 = Trace.span("Bm25Index.build") {
      Bm25Index.buildCached(corpus, key, "id", "text")
    }
    val (model, ix) = Trace.span("AnnIndex.fit") {
      AnnIndex.fit(corpus, "embedding", "id", k = lists, iters = 1)
    }
    indexed = ix
    graph = Trace.span("IvfGraph.build") {
      IvfGraph.buildCached(indexed, model, key, "id", "embedding", m = 8, efC = 48, metaCols = meta)
    }
  }

  /** [[WarmDecks]] decks per client, untimed: one deck runs every op path;
    * the second lets the JIT compile more of them before timing starts.
    */
  def warmUp(w: Window): Unit = {
    val threads = (0 until clients).map(c => new Thread(() =>
      (0 until WarmDecks * deck.length).foreach(i => step(w, c, i))))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def step(w: Window, client: Int, seq: Int): Unit = {
    val r = Data.rng(seed, 3L, h.windows.indexOf(w), client, seq)
    runOp(w, deck((seq + client * deck.length / clients) % deck.length), zipf.sample(r))
  }

  private def runOp(w: Window, kind: String, qi: Int): Unit = {
    val q = pool(qi)
    if (!w.warmup) {
      used.put((kind, qi), ())
      keysByWindow.getOrElseUpdate(w, new ConcurrentLinkedQueue()).add((kind, qi))
    }
    h.op(w, kind) {
      kind match {
        case "vsql" =>
          val text =
            s"""SELECT id, distance(embedding, NeuralArray('${q.text}')) AS dist
               |FROM rag_corpus WHERE ${F.toSql(preds(q.pred))}
               |ORDER BY distance(embedding, NeuralArray('${q.text}')), id LIMIT 10""".stripMargin
          val df = Trace.span("ChSql.sql") { ChSql.sql(spark, text) }
          val got = Trace.span("Spark.collect") { df.collect() }
            .map(r => (r.getLong(0), r.getDouble(1)))
          val seen = h.tamper(w, got)(wrong)
          Check(sameTopK(seen, vecRef(qi), VecTol))
        case "selfq" =>
          val payload = "```json\n{\"query\": \"" + q.text + "\", \"filter\": \"" +
            wireOf(preds(q.pred)).replace("\"", "\\\"") + "\"}\n```"
          val req = Trace.span("SelfQueryParser.parseRequest") {
            SelfQueryParser.parseRequest(payload)
          }
          val got = Trace.span("PackedScan.topK") {
            packed.topK(HashEmbedder.embed(req.query), 4, req.filter)
          }
          val seen = h.tamper(w, got)(wrong)
          Check {
            if (req.filter != Some(preds(q.pred))) Some(s"parsed filter ${req.filter}")
            else sameTopK(seen, vecRef(qi).take(4), VecTol)
          }
        case "bm25" =>
          val got = Trace.span("Bm25Index.topK") { bm25.topK(q.terms, 10) }
            .map { case (id, _, s) => (id, s) }
          val seen = h.tamper(w, got)(wrong)
          Check(sameTopK(seen, bm25Ref(qi), 2e-6))
        case "ann" =>
          val (got, visited, brute) = Trace.span("IvfGraph.topKAuto") {
            graph.topKAuto(q.vec, 10, nprobe, ef, Some(preds(q.pred)))
          }
          if (!w.warmup) annStats.add((w, visited.toDouble / rows, brute))
          val seen = h.tamper(w, got)(wrong)
          Check(annCheck(w, qi, seen, brute))
      }
    }
  }

  // ---- references, computed after the measured windows ----------------

  private var vecRefs: Map[Int, Array[(Long, Double)]] = Map.empty
  private var bm25Refs: Map[Int, Array[(Long, Double)]] = Map.empty
  private var corpusRows: Array[CorpusRow] = Array.empty
  private var byId: Map[Long, CorpusRow] = Map.empty

  private def vecRef(qi: Int) = vecRefs.getOrElse(qi, Array.empty[(Long, Double)])
  private def bm25Ref(qi: Int) = bm25Refs.getOrElse(qi, Array.empty[(Long, Double)])

  /** Exact references on the driver, independent of the engine's kernels:
    * filter by [[passes]], rank by [[cosine]] then id; BM25 by a full scan.
    */
  override def prepareChecks(): Unit = {
    corpusRows = spark.read.parquet(corpusPath).select("id", "label", "lang", "n_chars", "embedding")
      .collect().map(r => CorpusRow(r.getLong(0), r.getInt(1).toLong, r.getString(2), r.getLong(3),
        r.getSeq[Float](4).toArray))
    byId = corpusRows.map(c => c.id -> c).toMap
    val vecQs = used.keys.collect { case (k, qi) if k != "bm25" => qi }.toSeq.distinct
    vecRefs = parMap(vecQs) { qi =>
      val q = pool(qi)
      smallest(corpusRows.iterator.filter(c => passes(preds(q.pred), c.label, c.lang, c.nChars))
        .map(c => (c.id, cosine(q.vec, c.vec))), 10)
    }
    val docs = spark.read.parquet(corpusPath).select("id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    bm25Refs = bm25Reference(docs, used.keys.collect { case ("bm25", qi) => qi }.toSeq.distinct)
  }

  /** Full-scan BM25 on the driver with the repo's q124 oracle formula
    * (k1 = 1.2, b = 0.75) over Bm25Index's tokenizer (lower-case, split on
    * non-alphanumerics), ranked by score then id.
    */
  private def bm25Reference(docs: Array[(Long, String)], qis: Seq[Int]): Map[Int, Array[(Long, Double)]] = {
    val vocab = qis.flatMap(qi => pool(qi).terms.map(_.toLowerCase)).distinct.zipWithIndex.toMap
    val dls = new Array[Int](docs.length)
    // tf of every query term in every doc, one row per doc
    val tfs = new Array[Array[Int]](docs.length)
    parMap(docs.indices.grouped(8192).toSeq)(_.foreach { i =>
      val toks = docs(i)._2.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      dls(i) = toks.length
      val tf = new Array[Int](vocab.size)
      toks.foreach(t => vocab.get(t).foreach(j => tf(j) += 1))
      tfs(i) = tf
    })
    val n = docs.length.toDouble
    val avgdl = dls.map(_.toLong).sum / n
    val df = Array.tabulate(vocab.size)(j => tfs.count(_(j) > 0).toDouble)
    parMap(qis) { qi =>
      val terms = pool(qi).terms.map(_.toLowerCase).distinct.map(vocab)
      // the 10 smallest (-score, id), i.e. top score then lowest id
      smallest(docs.indices.iterator.flatMap { i =>
        val hits = terms.filter(tfs(i)(_) > 0)
        if (hits.isEmpty) None
        else Some(docs(i)._1 -> -hits.map { j =>
          val f = tfs(i)(j).toDouble
          math.log((n - df(j) + 0.5) / (df(j) + 0.5) + 1.0) * (f * 2.2) /
            (f + 1.2 * (0.25 + 0.75 * dls(i) / avgdl))
        }.sum)
      }, 10).map { case (id, s) => (id, -s) }
    }
  }

  /** ANN output is approximate, so its check is validity: sorted, distinct,
    * every hit passes the filter at its true distance, and as many hits as
    * the filter leaves (up to k). On the brute-force path it must be exact.
    */
  private def annCheck(w: Window, qi: Int, got: Array[(Long, Double)], brute: Boolean): Option[String] = {
    val q = pool(qi)
    val ref = vecRef(qi)
    if (!w.warmup && ref.nonEmpty)
      recalls.add((w, got.map(_._1).toSet.intersect(ref.map(_._1).toSet).size.toDouble / ref.length))
    val bad = got.find { case (id, d) =>
      byId.get(id).forall(c =>
        !passes(preds(q.pred), c.label, c.lang, c.nChars) || math.abs(cosine(q.vec, c.vec) - d) > VecTol)
    }
    val sorted = got.sliding(2).forall {
      case Array(a, b) => a._2 < b._2 || (a._2 == b._2 && a._1 < b._1)
      case _ => true
    }
    if (bad.isDefined) Some(s"hit ${bad.get} fails the filter or its distance")
    else if (!sorted) Some("hits out of order")
    else if (got.length != ref.length) Some(s"${got.length} hits, expected ${ref.length}")
    else if (brute) sameTopK(got, ref, VecTol)
    else None
  }

  override def layerExtras(untraced: Window, traced: Window): Map[String, Double] = {
    val ws = Seq(untraced, traced)
    val keys = keysByWindow.get(untraced).map(_.asScala.toSeq).getOrElse(Nil)
    val ann = annStats.asScala.filter(a => ws.contains(a._1)).toSeq
    val rec = recalls.asScala.filter(a => ws.contains(a._1)).map(_._2).toSeq
    Map(
      "rag_serve.repeat_frac" -> (if (keys.isEmpty) 0.0 else 1.0 - keys.distinct.size.toDouble / keys.size),
      "IvfGraph.visit_frac" -> mean(ann.map(_._2)),
      "IvfGraph.brute_frac" -> mean(ann.map(a => if (a._3) 1.0 else 0.0)),
      "recall_at_10" -> mean(rec))
  }
}

object RagServe {
  val WarmDecks = 2

  /** Distance tolerance of the vector checks: the engine's kernels and the
    * driver reference sum in different orders.
    */
  val VecTol = 1e-6

  final case class CorpusRow(id: Long, label: Long, lang: String, nChars: Long, vec: Array[Float])

  /** The `k` pairs of `xs` with the smallest (value, id), ascending. */
  def smallest(xs: Iterator[(Long, Double)], k: Int): Array[(Long, Double)] = {
    val order = Ordering.by[(Long, Double), (Double, Long)](x => (x._2, x._1))
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1, order.reverse)
    xs.foreach { x => heap.add(x); if (heap.size > k) heap.poll() }
    heap.asScala.toArray.sorted(order)
  }

  /** `f` over `xs` on the global pool, as a map. */
  def parMap[A, B](xs: Seq[A])(f: A => B): Map[A, B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.traverse(xs)(x => Future(x -> f(x))), Duration.Inf).toMap
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def wrong(got: Array[(Long, Double)]): Array[(Long, Double)] =
    if (got.isEmpty) Array((-1L, 0.0)) else got.updated(0, (-1L, got(0)._2))

  /** Self-query wire form (`and(eq("lang", "de"), lt("label", 5))`). */
  def wireOf(n: F.Node): String = n match {
    case F.Eq(a, v) => s"""eq("$a", ${wire(v)})"""
    case F.Ne(a, v) => s"""ne("$a", ${wire(v)})"""
    case F.Gt(a, v) => s"""gt("$a", ${wire(v)})"""
    case F.Lt(a, v) => s"""lt("$a", ${wire(v)})"""
    case F.Lte(a, v) => s"""lte("$a", ${wire(v)})"""
    case F.In(a, vs) => s"""in("$a", [${vs.map(wire).mkString(", ")}])"""
    case F.And(cs) => cs.map(wireOf).mkString("and(", ", ", ")")
    case other => throw new IllegalArgumentException(s"no wire form for $other")
  }

  private def wire(v: F.Value): String = v match {
    case F.S(s) => "\"" + s + "\""
    case F.I(i) => i.toString
    case other => throw new IllegalArgumentException(s"no literal for $other")
  }

  /** Driver-side filter evaluation over the corpus columns, for the ANN check. */
  def passes(n: F.Node, label: Long, lang: String, nChars: Long): Boolean = {
    def v(a: String): Any = a match {
      case "label" => label
      case "lang" => lang
      case "n_chars" => nChars
    }
    def cmp(a: String, x: F.Value): Int = (v(a), x) match {
      case (l: Long, F.I(i)) => java.lang.Long.compare(l, i)
      case (s: String, F.S(t)) => s.compareTo(t)
      case other => throw new IllegalArgumentException(s"cannot compare $other")
    }
    n match {
      case F.Eq(a, x) => cmp(a, x) == 0
      case F.Ne(a, x) => cmp(a, x) != 0
      case F.Gt(a, x) => cmp(a, x) > 0
      case F.Lt(a, x) => cmp(a, x) < 0
      case F.Lte(a, x) => cmp(a, x) <= 0
      case F.In(a, xs) => xs.exists(cmp(a, _) == 0)
      case F.And(cs) => cs.forall(passes(_, label, lang, nChars))
      case other => throw new IllegalArgumentException(s"cannot evaluate $other")
    }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Same top-k: equal length, scores within `tol` position by position,
    * and the same ids except among hits tied (within `tol`) at the cut.
    */
  def sameTopK(got: Array[(Long, Double)], ref: Array[(Long, Double)],
      tol: Double): Option[String] = {
    if (got.length != ref.length) return Some(s"${got.length} hits, expected ${ref.length}")
    val off = got.indices.find(i => math.abs(got(i)._2 - ref(i)._2) > tol)
    if (off.isDefined) return Some(s"rank ${off.get}: ${got(off.get)} vs ${ref(off.get)}")
    if (ref.isEmpty) return None
    val cut = ref.last._2
    val atCut = (x: (Long, Double)) => math.abs(x._2 - cut) <= tol
    val g = got.filterNot(atCut).map(_._1).toSet
    val r = ref.filterNot(atCut).map(_._1).toSet
    if (g != r) Some(s"ids ${got.map(_._1).mkString(",")} vs ${ref.map(_._1).mkString(",")}")
    else None
  }
}
