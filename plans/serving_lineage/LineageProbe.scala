package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Bm25Index, IvfGraph, PackedScan}

/** Pinned-block lineage probe: builds PackedScan, Bm25Index and IvfGraph
  * over a parquet corpus, and writes each pinned RDD's toDebugString and
  * the closure-serialized (rdd, func) bytes a query task ships.
  * Usage: LineageProbe <sfDir> <outDir> <label>
  */
object LineageProbe {
  def main(args: Array[String]): Unit = {
    val Array(sf, out, label) = args
    val spark = SparkSession.builder().master("local[4]").appName("lineage-probe")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.install(spark)
    val e = Tables.embeddings(spark, sf)
    val d = Tables.documents(spark, sf)
    val path = s"$out/corpus-$label.parquet"
    e.join(d, e("vec_id") === d("doc_id"))
      .select(e("vec_id").as("id"), d("text"), d("lang"), d("n_chars"), e("embedding"))
      .write.mode("overwrite").parquet(path)
    val corpus = spark.read.parquet(path)
    val sc = spark.sparkContext
    def pinned(body: => Unit): Seq[RDD[_]] = {
      val before = sc.getPersistentRDDs.keySet
      body
      sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.values.toSeq.sortBy(_.id)
    }
    def bytes(r: RDD[_]): Int = {
      val func = (it: Iterator[Any]) => it.size
      SparkEnv.get.closureSerializer.newInstance().serialize((r, func): AnyRef).remaining()
    }
    val sb = new StringBuilder
    def report(name: String, rdds: Seq[RDD[_]]): Unit = rdds.foreach { r =>
      val line = s"$name rdd ${r.id}: task binary ${bytes(r)} B"
      println(line)
      sb ++= s"== $line\n${r.toDebugString}\n\n"
    }
    report("PackedScan", pinned(PackedScan.buildCached(corpus, "probe", "id", "embedding",
      Seq("lang", "n_chars"))))
    report("Bm25Index", pinned(Bm25Index.buildCached(corpus, "probe", "id", "text")))
    val (model, indexed) = AnnIndex.fit(corpus, "embedding", "id", k = 8, iters = 1)
    indexed.count()
    report("IvfGraph", pinned(IvfGraph.buildCached(indexed, model, "probe", "id", "embedding",
      m = 8, efC = 48, metaCols = Seq("lang", "n_chars"))))
    Files.write(Paths.get(s"$out/lineage_$label.txt"), sb.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
