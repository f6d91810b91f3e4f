package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HashEmbedder

/** Seeded input generators. Every value is a pure function of (seed, row
  * id), so one seed gives the same inputs in any JVM, and the engine only
  * ever sees these generated rows.
  */
object Data {
  // Shapes measured on the sf0.1 test tables (documents: 5,000 rows;
  // embeddings: 2,000 rows). Inputs are generated to these shapes at the
  // benchmark's sizes instead of replicating the tables: replicas would
  // make every top-k a set of exact ties.

  /** The documents vocabulary: its 30 common words, each about 3.4% of
    * tokens (a 31st word, "dup", covers 0.1% and is left out).
    */
  val Words: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Document length in tokens: uniform over [10, 100] (median 54). */
  val MinTokens = 10
  val MaxTokens = 100

  /** Language mix of the documents table: en 41%, de/es/fr/zh 14-15% each. */
  val LangMix: Array[String] = Array.fill(8)("en") ++
    Seq("de", "es", "fr", "zh").flatMap(l => Seq.fill(3)(l))
  val Langs: Seq[String] = LangMix.distinct.toSeq

  /** Distinct `source` values (src0..src19, 250 rows each). */
  val Sources = 20

  /** Space-joined words drawn uniformly from [[Words]], [[MinTokens]] to
    * [[MaxTokens]] of them.
    */
  def text(r: java.util.Random): String =
    Array.fill(MinTokens + r.nextInt(MaxTokens - MinTokens + 1))(Words(r.nextInt(Words.length)))
      .mkString(" ")

  private def rows(spark: SparkSession, n: Long)(f: Long => Row): org.apache.spark.rdd.RDD[Row] =
    spark.sparkContext.range(0L, n, 1, spark.sparkContext.defaultParallelism).map(f)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** documents-shaped rows, with n_chars the text length as in the test
    * table; row `i` is a function of (seed, salt, i) alone.
    */
  def documents(spark: SparkSession, seed: Long, n: Long, salt: Long = 0): DataFrame =
    spark.createDataFrame(rows(spark, n) { i =>
      val r = rng(seed, salt, i)
      val t = text(r)
      Row(i, LangMix(r.nextInt(LangMix.length)), s"src${r.nextInt(Sources)}", t.length.toLong, t)
    }, DocSchema)

  val CorpusSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Retrieval corpus: (id, label, lang, n_chars, text, embedding), an
    * embeddings row joined with a documents row. Embeddings are dense 64-d
    * unit vectors with no cluster or label structure, as in the embeddings
    * table (mean pairwise cosine 0.00, per-label centroid norm 0.07);
    * label is uniform over 0..9.
    */
  def ragCorpus(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.createDataFrame(rows(spark, n) { i =>
      val r = rng(seed, 100L, i)
      val v = Array.fill(HashEmbedder.DefaultDim)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      val t = text(r)
      Row(i, r.nextInt(10), LangMix(r.nextInt(LangMix.length)), t.length.toLong, t,
        v.map(x => (x / norm).toFloat).toSeq)
    }, CorpusSchema)

  /** documents-shaped source table for the SQL lifecycle. */
  def docsSource(spark: SparkSession, seed: Long, n: Long): DataFrame =
    documents(spark, seed, n, salt = 200).drop("text")

  /** lineitem-shaped source table for the SQL lifecycle: four lines per
    * order, as in the lineitem test table.
    */
  def lineitemSource(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val flags = array(lit("A"), lit("N"), lit("R"))
    val status = array(lit("F"), lit("O"))
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .select((col("id") / 4).cast("long").as("l_orderkey"),
        (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
        (lit(1L) + pmod(xxhash64(lit(seed), col("id"), lit(6)), lit(50L))).as("l_quantity"),
        (lit(90000L) + pmod(xxhash64(lit(seed), col("id"), lit(7)), lit(9000000L)))
          .as("l_price_cents"),
        element_at(flags, pmod(xxhash64(lit(seed), col("id"), lit(8)), lit(3L)).cast("int") + 1)
          .as("l_returnflag"),
        element_at(status, pmod(xxhash64(lit(seed), col("id"), lit(9)), lit(2L)).cast("int") + 1)
          .as("l_linestatus"))
  }

  /** Shared boilerplate spans (headers/footers repeated on every page of
    * an upload); the dedup stage exists to strip exactly these.
    */
  val Header: String = "this document is confidential and provided for internal review only " +
    "do not distribute without written approval from the owner"
  val Footer: String = "copyright all rights reserved generated by the export service page footer"

  /** A Random seeded from a splitmix64 mix of `parts`: java.util.Random's
    * first draws from nearby raw seeds are strongly correlated.
    */
  def rng(parts: Long*): java.util.Random = {
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    new java.util.Random(parts.foldLeft(0x5eedL)((h, p) => mix(h ^ p)))
  }

  /** Zipf(s) sampler over [0, n). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
