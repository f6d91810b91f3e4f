package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HashEmbedder
import graft.operators.{Bm25Index, Catalog, Dedup, Ingest, PackedScan, SelfQueryFilter => F}

/** kb_ingest: the private knowledge-base uploader. One client in a closed
  * loop; each op uploads one seeded file of pages (parse -> chunk ->
  * narrative filter -> ExactSubstr dedup of boilerplate -> embed), appends
  * it to the Catalog table, inserts it into the PackedScan and Bm25Index
  * serving structures, and probes for it. Between uploads, file-removal
  * ops delete the oldest uploads from all three and a compaction op
  * compacts them (see `Cycle`), so the live set stays at a steady size.
  * Writes, deletes and compaction run beside reads on the structures
  * rag_serve serves from: Ingest, Dedup and Catalog.append do most of the
  * work.
  */
final class KbIngest(h: Harness) extends Workload {
  import KbIngest._

  private val spark = h.spark
  private val seed = h.conf.seed
  val clients = 1
  val cycle: Int = Cycle.length
  /** An upload is 100 documents-shaped pages; the live set is 4 uploads
    * (README: sizing).
    */
  private val docsPerUpload = if (h.conf.tiny) 20 else 100
  private val baseUploads = if (h.conf.tiny) 3 else 4

  private var cat: Catalog = _
  private var packed: PackedScan = _
  private var packedChain = Vector.empty[PackedScan]
  private var bm25: Bm25Index = _
  private var live = mutable.Queue.empty[Long]
  private var nextUpload = 0L
  private val chunkCount = mutable.Map.empty[Long, Long]
  private var retired = Vector.empty[Long]

  private val uploads = new ConcurrentLinkedQueue[(Window, Long, Long, Long)]() // chunks, tokens, dup

  /** Nonce word planted in page 0 of upload `u`: the freshness probe term. */
  private def nonce(u: Long) = s"nonce${seed.abs}x$u"

  /** The documents of upload `u`: shared header/footer boilerplate around
    * a documents-shaped body.
    */
  private def pagesOf(u: Long): DataFrame = {
    val r = Data.rng(seed, 1L, u)
    val rows = (0 until docsPerUpload).map { p =>
      val body = Array.fill(Data.MinTokens + r.nextInt(Data.MaxTokens - Data.MinTokens + 1))(
        Data.Words(r.nextInt(Data.Words.length)))
      if (p == 0) body(5) = nonce(u)
      Row(u * 1000 + p, s"file-$u.pdf", s"${Data.Header} ${body.mkString(" ")} ${Data.Footer}")
    }
    // the uploader parses on the driver and hands Spark a local relation
    // (an RDD-backed batch is silently dropped by Bm25Index.insert at this
    // commit: its row-count Observation reports 0)
    spark.createDataFrame(rows.asJava, PageSchema)
  }

  /** parse -> chunk -> filter -> dedup -> embed, returned persisted. A
    * traced run forces each stage with its own action so its time shows
    * as its own span; the untraced run forces only the result.
    */
  private def pipeline(w: Window, us: Seq[Long]): (DataFrame, Long) = Trace.span("Ingest.pipeline") {
    val docs = us.map(pagesOf).reduce(_ union _)
    val held = mutable.Buffer.empty[DataFrame]
    def stage(name: String)(df: DataFrame): DataFrame =
      if (!Trace.on) df
      else Trace.span(name) { val p = df.persist(); p.count(); held += p; p }
    val chunks = stage("Ingest.chunk") {
      Ingest.chunk(docs, "doc_id", "source", "text")
        .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_idx"))
    }
    val kept = stage("Ingest.narrativeFilter") { Ingest.narrativeFilter(chunks) }
    val clean = stage("Dedup.exactSubstrClean") {
      Dedup.exactSubstrClean(kept, "chunk_id", "chunk_text", DedupWindow)
    }
    // chunk ids encode (upload, page, chunk), so no join back to `kept`
    val upload = (col("doc_id") / 1000000).cast("long")
    val joined = clean.filter(col("n_tokens") > col("dup_tokens"))
      .select(col("doc_id").as("chunk_id"), upload.as("upload_id"),
        concat(lit("file-"), upload.cast("string"), lit(".pdf")).as("source"),
        (col("doc_id") % 1000).cast("int").as("chunk_idx"), col("clean_text").as("text"),
        col("n_tokens"), col("dup_tokens"))
    val batch = Ingest.embed(
      joined.withColumn("entity_id", Ingest.withEntityId(joined, "source", "text")), "text")
      .persist()
    val st = Trace.span("Ingest.embed") {
      batch.agg(count(lit(1)), sum("n_tokens"), sum("dup_tokens")).collect().head
    }
    held.foreach(_.unpersist())
    if (!w.warmup) uploads.add((w, st.getLong(0), st.getLong(1), st.getLong(2)))
    (batch, st.getLong(0))
  }

  private def stored(batch: DataFrame): DataFrame =
    batch.select("chunk_id", "upload_id", "source", "chunk_idx", "text", "entity_id", "vector")

  def setup(rep: Int): Unit = {
    packedChain.foreach(_.unpersist())
    if (bm25 != null) bm25.unpersist()
    cat = Catalog(spark, s"${h.conf.work}/kb/rep$rep")
    chunkCount.clear()
    retired = Vector.empty
    val base = 0L until baseUploads
    val warm = new Window(warmup = true)
    val (batch, _) = pipeline(warm, base)
    base.foreach(u => chunkCount(u) = 0L)
    batch.groupBy("upload_id").count().collect().foreach(r => chunkCount(r.getLong(0)) = r.getLong(1))
    Trace.span("Catalog.create") { cat.create("kb", stored(batch)) }
    packed = Trace.span("PackedScan.build") {
      PackedScan.build(batch, "chunk_id", "vector", Seq("upload_id"))
    }
    packedChain = Vector(packed)
    bm25 = Trace.span("Bm25Index.build") {
      Bm25Index.build(batch, "chunk_id", "text", metaCols = Seq("upload_id"))
    }
    batch.unpersist()
    live = mutable.Queue(base: _*)
    nextUpload = baseUploads.toLong
  }

  /** One op of each kind, on the final structures. */
  def warmUp(w: Window): Unit = Seq("upload", "retire", "compact").foreach(runOp(w, _))

  def step(w: Window, client: Int, seq: Int): Unit = runOp(w, Cycle(seq % Cycle.length))

  private def runOp(w: Window, kind: String): Unit = h.op(w, kind) {
    kind match {
      case "upload" => upload(w)
      case "retire" => retire(Seq.fill(live.size - baseUploads)(live.dequeue()))
      case "compact" => compact()
    }
  }

  private def upload(w: Window): Check = {
    val u = nextUpload
    nextUpload += 1
    val (batch, n) = pipeline(w, Seq(u))
    chunkCount(u) = n
    Trace.span("Catalog.append") { cat.append("kb", stored(batch)) }
    packed = Trace.span("PackedScan.insert") { packed.insert(batch, "chunk_id", "vector") }
    packedChain :+= packed
    val prevBm25 = bm25
    bm25 = Trace.span("Bm25Index.insert") { bm25.insert(batch, "chunk_id", "text") }
    prevBm25.unpersist()
    batch.unpersist()
    live.enqueue(u)
    val (lex, vec) = Trace.span("fresh_probe") {
      (Trace.span("Bm25Index.topK") { bm25.topK(Seq(nonce(u)), 5) },
        Trace.span("PackedScan.topK") {
          packed.topK(HashEmbedder.embed(nonce(u)), 3, Some(F.Eq("upload_id", F.I(u))))
        })
    }
    val lexIds = h.tamper(w, lex.map(_._1))(ids => ids.map(_ + 1000000L))
    Check {
      if (lexIds.isEmpty || vec.isEmpty) Some(s"upload $u not servable: ${lexIds.length} / ${vec.length} hits")
      else (lexIds ++ vec.map(_._1)).find(_ / 1000000 != u).map(id => s"probe for upload $u hit chunk $id")
    }
  }

  /** File removal: the oldest uploads go from the table and both indexes. */
  private def retire(us: Seq[Long]): Check = {
    val cut = us.max
    val pred = F.Lte("upload_id", F.I(cut))
    val before = (packed.deletedCount, bm25.deletedCount)
    Trace.span("Catalog.deleteWhereLight") { cat.deleteWhereLight("kb", col("upload_id") <= cut) }
    val p = Trace.span("PackedScan.delete") { packed.deleteWhere(pred) }
    val b = Trace.span("Bm25Index.delete") { bm25.deleteWhere(pred) }
    retired ++= us
    val gone = us.map(chunkCount).sum
    Check {
      if (p - before._1 != gone || b - before._2 != gone)
        Some(s"retiring $us tombstoned ${p - before._1} / ${b - before._2} chunks, expected $gone")
      else None
    }
  }

  /** Compaction drops the tombstoned vectors: what stays is the live set. */
  private def compact(): Check = {
    val c = Trace.span("PackedScan.compact") { packed.compact() }
    packedChain.foreach(_.unpersist())
    packed = c
    packedChain = Vector(c)
    val prev = bm25
    bm25 = Trace.span("Bm25Index.compact") { bm25.compact() }
    prev.unpersist()
    Trace.span("Catalog.compactMask") { cat.compactMask("kb") }
    val liveChunks = live.toSeq.map(chunkCount).sum
    Check {
      if (c.rows != liveChunks || c.deletedCount != 0)
        Some(s"compacted scan holds ${c.rows} rows (${c.deletedCount} tombstoned), expected $liveChunks")
      else None
    }
  }

  /** End state: the Catalog table holds exactly the live uploads' chunks,
    * and no retired upload is still served. Counted as one more op.
    */
  override def prepareChecks(): Unit = {
    val w = h.checkWindow()
    val expect = live.toSeq.map(u => u -> chunkCount(u)).filter(_._2 > 0).toMap
    h.op(w, "final_state") {
      val got = cat.readRaw("kb").groupBy("upload_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val servedRetired = retired.takeRight(4).filter(u =>
        bm25.topK(Seq(nonce(u)), 5).nonEmpty ||
          packed.topK(HashEmbedder.embed(nonce(u)), 3, Some(F.Eq("upload_id", F.I(u)))).nonEmpty)
      Check {
        if (got != expect) Some(s"catalog holds ${got.toSeq.sorted} expected ${expect.toSeq.sorted}")
        else if (servedRetired.nonEmpty) Some(s"retired uploads still served: $servedRetired")
        else None
      }
    }
  }

  override def layerExtras(untraced: Window, traced: Window): Map[String, Double] = {
    val all = uploads.asScala.toSeq
    val u = all.filter(_._1 eq untraced)
    Map(
      "chunks_per_s" -> u.map(_._2).sum / untraced.seconds,
      "Dedup.removed_frac" -> all.map(_._4).sum.toDouble / math.max(1L, all.map(_._3).sum))
  }
}

object KbIngest {
  /** Op cycle: eight uploads, two file removals (each retiring the oldest
    * uploads down to the live-set size) and one compaction. Eight uploads
    * per window keep the median op latency from resting on one or two
    * uploads, whose latency varies by about 20% from op to op.
    */
  val Cycle: Seq[String] = Seq.fill(4)("upload") ++ Seq("retire") ++ Seq.fill(4)("upload") ++
    Seq("retire", "compact")
  /** ExactSubstr window, in tokens: long enough that random body text
    * never repeats, short enough to catch boilerplate split across chunks.
    */
  val DedupWindow = 6

  val PageSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))
}
