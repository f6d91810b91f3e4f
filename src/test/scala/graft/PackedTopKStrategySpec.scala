package graft

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.functions.HashEmbedder
import graft.operators.{PackedScan, ServingCache}
import graft.plans.PackedTopKExec

/** Routing parity for [[graft.plans.PackedTopKStrategy]]: a routed
  * Vector-SQL top-k returns exactly (ids and distance bits) what the same
  * SQL returns planned by Spark, it costs one Spark job, and every shape
  * whose answer the pinned scan cannot prove declines.
  */
class PackedTopKStrategySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val n = 800
  private val dim = HashEmbedder.DefaultDim
  private val langs = Seq("en", "de", "fr", "zh", "es")
  private val meta = Seq("label", "lang", "n_chars")

  /** Every 97th row has a zero vector (a NaN distance), label 8. */
  private def corpusRows = (0 until n).map { i =>
    val zero = i % 97 == 0
    val text = s"doc $i ${langs(i % 5)} topic ${i % 13} note ${i % 7}"
    (i.toLong, text, if (zero) Array.fill(dim)(0f) else HashEmbedder.embed(text),
      if (zero) 8 else i % 8, langs(i % 5), 200L + (i * 37) % 400)
  }

  private def write(path: String, rows: Seq[(Long, String, Array[Float], Int, String, Long)]): Unit =
    rows.toDF("id", "text", "embedding", "label", "lang", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(path)

  private lazy val dir = Files.createTempDirectory("packed-topk").toString
  private lazy val corpusPath = { val p = s"$dir/corpus"; write(p, corpusRows); p }

  /** The rag_serve filter shapes, plus no filter. */
  private val filters = Seq("lang <> 'zh'", "lang = 'en'", "label IN (1, 3, 5, 7)",
    "n_chars > 300", "lang = 'de' AND label < 5", "label = 3 AND lang = 'fr'",
    "label = 7 AND n_chars > 490", "label <= 1", "true")

  private def vsql(view: String, where: String, text: String, k: Int = 10): String =
    s"""SELECT id, distance(embedding, NeuralArray('$text')) AS dist
       |FROM $view WHERE $where
       |ORDER BY distance(embedding, NeuralArray('$text')), id LIMIT $k""".stripMargin

  private val zeroQuery = s"array_repeat(CAST(0 AS FLOAT), $dim)"

  /** The NaN cases: zero-vector rows past k > non-NaN matches, and a zero query. */
  private def nanSql(view: String): Seq[String] = Seq(
    vsql(view, "label = 8 OR label = 2", "nan rows probe", k = 200),
    s"""SELECT id, distance(embedding, $zeroQuery) AS dist FROM $view
       |WHERE lang = 'fr' ORDER BY dist, id LIMIT 30""".stripMargin)

  private def paritySql(view: String): Seq[String] =
    filters.zipWithIndex.map { case (f, i) => vsql(view, f, s"probe $i topic ${i % 13}") } ++
      nanSql(view)

  /** The planner's output, before adaptive execution wraps it. */
  private def routed(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.exists(_.isInstanceOf[PackedTopKExec])

  private def bits(df: DataFrame): Seq[(Long, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))

  private def build(df: DataFrame, key: String): PackedScan =
    PackedScan.buildCached(df, key, "id", "embedding", meta)

  private def key(tag: String) = s"packed#$tag#id#embedding#label,lang,n_chars"

  test("routed results are bit-identical to Spark's plan: rag_serve filters and NaN cases") {
    val corpus = spark.read.parquet(corpusPath)
    corpus.createOrReplaceTempView("ptk_corpus")
    val sqls = paritySql("ptk_corpus")
    // before any build nothing routes: this is Spark's own answer
    val expected = sqls.map { q =>
      val df = spark.sql(q)
      assert(!routed(df), q)
      bits(df)
    }
    assert(expected.last.forall(r => java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(r._2))))
    assert(expected(filters.length).exists(r =>
      java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(r._2))))
    try {
      build(corpus, "ptk-parity")
      sqls.zip(expected).foreach { case (q, want) =>
        val df = spark.sql(q)
        assert(routed(df), s"not routed: $q\n${df.queryExecution.optimizedPlan}")
        assert(bits(df) == want, q)
      }
      // the CacheManager's InMemoryRelation of the same plan routes too
      corpus.cache().count()
      try sqls.zip(expected).foreach { case (q, want) =>
        val df = spark.sql(q)
        assert(routed(df), s"cached relation not routed: $q")
        assert(bits(df) == want, q)
      } finally corpus.unpersist(blocking = true)
    } finally ServingCache.evict(key("ptk-parity"))
  }

  test("a routed subtree under a window and a join equals Spark's plan") {
    val corpus = spark.read.parquet(corpusPath)
    corpus.createOrReplaceTempView("ptk_sub")
    // the hybrid-retrieval shape: a ranked top-k leg joined to another leg
    val q = s"""WITH v AS (SELECT id, row_number() OVER (ORDER BY dist, id) AS r
               |  FROM (${vsql("ptk_sub", "lang <> 'zh'", "subtree probe", k = 50)}))
               |SELECT v.id, v.r, c.n_chars FROM v JOIN ptk_sub c ON v.id = c.id
               |ORDER BY v.r""".stripMargin
    def rows = spark.sql(q).collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val want = rows
    try {
      build(corpus, "ptk-sub")
      assert(routed(spark.sql(q)))
      assert(rows == want)
    } finally ServingCache.evict(key("ptk-sub"))
  }

  test("a routed collect runs exactly one Spark job") {
    val corpus = spark.read.parquet(corpusPath)
    corpus.createOrReplaceTempView("ptk_jobs")
    try {
      build(corpus, "ptk-jobs")
      var jobs = 0
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      }
      filters.foreach { f =>
        val df = spark.sql(vsql("ptk_jobs", f, "job count probe"))
        assert(routed(df))
        ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.addSparkListener(l)
        try {
          df.collect()
          ListenerBusDrain(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(l)
        assert(l.synchronized(jobs) == 1, f)
        l.synchronized { jobs = 0 }
      }
    } finally ServingCache.evict(key("ptk-jobs"))
  }

  test("declines: unpinned output, L2Distance, string range, tombstones, eviction") {
    val corpus = spark.read.parquet(corpusPath)
    corpus.createOrReplaceTempView("ptk_decline")
    val q = "decline probe"
    val declined = Seq(
      s"""SELECT id, text, distance(embedding, NeuralArray('$q')) AS dist FROM ptk_decline
         |ORDER BY dist, id LIMIT 10""".stripMargin,
      s"""SELECT id, label, distance(embedding, NeuralArray('$q')) AS dist FROM ptk_decline
         |ORDER BY dist, id LIMIT 10""".stripMargin,
      s"""SELECT id, l2distance(embedding, NeuralArray('$q')) AS dist FROM ptk_decline
         |ORDER BY dist, id LIMIT 10""".stripMargin,
      vsql("ptk_decline", "lang > 'de'", q),
      vsql("ptk_decline", "text = 'x'", q),
      s"""SELECT id, distance(embedding, NeuralArray('$q')) AS dist FROM ptk_decline
         |ORDER BY dist DESC, id LIMIT 10""".stripMargin)
    val plain = vsql("ptk_decline", "lang = 'en'", q)
    val want = bits(spark.sql(plain))
    try {
      val ps = build(corpus, "ptk-decline")
      declined.foreach(s => assert(!routed(spark.sql(s)), s))
      assert(routed(spark.sql(plain)))
      ps.delete(Seq(3L))
      val tomb = spark.sql(plain)
      assert(!routed(tomb), "tombstones must decline")
      assert(bits(tomb) == want)
      ps.clearDeletes()
      assert(routed(spark.sql(plain)))
      ServingCache.evict(key("ptk-decline"))
      val evicted = spark.sql(plain)
      assert(!routed(evicted), "an evicted scan must decline")
      assert(bits(evicted) == want)
    } finally ServingCache.evict(key("ptk-decline"))
  }

  test("declines when a file is overwritten at the same path") {
    val path = s"$dir/overwrite"
    write(path, corpusRows)
    val before = spark.read.parquet(path)
    try {
      build(before, "ptk-overwrite")
      before.createOrReplaceTempView("ptk_before")
      assert(routed(spark.sql(vsql("ptk_before", "lang = 'en'", "overwrite probe"))))
      // same file name, new content, size and mtime
      val other = s"$dir/overwrite-src"
      write(other, corpusRows.map { case (i, t, v, l, g, c) => (i + n, t, v, l, g, c) }.take(n / 2))
      def part(p: String) = new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet")).head
      val target = part(path)
      Files.copy(part(other).toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(target.getParent, s".${target.getName}.crc").delete()
      Files.setLastModifiedTime(target.toPath, FileTime.fromMillis(target.lastModified() + 5000))
      spark.read.parquet(path).createOrReplaceTempView("ptk_after")
      val after = spark.sql(vsql("ptk_after", "lang = 'en'", "overwrite probe"))
      assert(!routed(after), "a changed listing must decline")
      assert(after.collect().forall(_.getLong(0) >= n))
    } finally ServingCache.evict(key("ptk-overwrite"))
  }
}
