package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.functions.HashEmbedder
import org.apache.spark.sql.graft.VectorFunctions._
import org.apache.spark.sql.graft.GraftColumns._

class ExpressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val a = Array(1.0f, 2.0f, 3.0f)
  private val b = Array(4.0f, 5.0f, 6.0f)
  // hand-computed: dot=32, |a|=sqrt(14), |b|=sqrt(77)
  private val expectedCos = 1.0 - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))

  test("cosine_distance codegen path matches hand computation") {
    val df = Seq((a.toSeq, b.toSeq)).toDF("x", "y")
    val got = df.select(cosine_distance($"x", $"y")).as[Double].head()
    assert(math.abs(got - expectedCos) < 1e-12)
  }

  test("cosine_distance interpreted path (filter on non-codegen ctx) agrees") {
    import org.apache.spark.sql.graft.CosineDistance
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val lit1 = Literal.create(new GenericArrayData(a), ArrayType(FloatType))
    val lit2 = Literal.create(new GenericArrayData(b), ArrayType(FloatType))
    val got = CosineDistance(lit1, lit2).eval(null).asInstanceOf[Double]
    assert(math.abs(got - expectedCos) < 1e-12)
  }

  test("cosine distance: identical vectors -> 0, opposite -> 2, bounds") {
    val df = Seq(
      (a.toSeq, a.toSeq),
      (a.toSeq, a.map(-_).toSeq)).toDF("x", "y")
    val r = df.select(cosine_distance($"x", $"y")).as[Double].collect()
    assert(math.abs(r(0)) < 1e-12)
    assert(math.abs(r(1) - 2.0) < 1e-12)
  }

  test("l2 and inner product hand values") {
    val df = Seq((a.toSeq, b.toSeq)).toDF("x", "y")
    val Row(l2: Double, ip: Double) =
      df.select(l2_distance($"x", $"y"), inner_product($"x", $"y")).head()
    assert(math.abs(l2 - math.sqrt(27.0)) < 1e-12)
    assert(math.abs(ip - 32.0) < 1e-12)
  }

  test("symmetry: d(a,b) == d(b,a) over data vectors") {
    val e = Tables.embeddings(spark, TestSpark.sf).limit(50).select("embedding")
      .as[Seq[Float]].collect()
    for (i <- e.indices.take(10); j <- e.indices.take(10)) {
      val df = Seq((e(i), e(j)), (e(j), e(i))).toDF("x", "y")
      val r = df.select(cosine_distance($"x", $"y")).as[Double].collect()
      assert(r(0) == r(1))
    }
  }

  test("parseDateTimeBestEffort cascade") {
    val cases = Seq(
      "2021-01-01" -> "2021-01-01 00:00:00",
      "2021-01-01 12:30:45" -> "2021-01-01 12:30:45",
      "2021-01-01T12:30:45" -> "2021-01-01 12:30:45",
      "2021/06/15" -> "2021-06-15 00:00:00",
      "1609459200" -> "2021-01-01 00:00:00") // epoch seconds
    val df = cases.map(_._1).toDF("s")
      .select(date_format(parse_datetime_best_effort($"s"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].collect()
    assert(df.toSeq == cases.map(_._2))
  }

  test("parseDateTimeBestEffort through SQL + error behavior") {
    val got = spark.sql(
      "SELECT CAST(parseDateTimeBestEffort('2021-06-01') AS STRING)").as[String].head()
    assert(got == "2021-06-01 00:00:00")
    val orNull = spark.sql(
      "SELECT parseDateTimeBestEffortOrNull('garbage')").collect()
    assert(orNull.head.isNullAt(0))
    intercept[Exception] {
      spark.sql("SELECT parseDateTimeBestEffort('garbage')").collect()
    }
  }

  test("ClickHouse length overload: string chars vs array size") {
    val Row(ls: Int, la: Int) = spark.sql(
      "SELECT length('hello') AS ls, length(array(1,2,3)) AS la").head()
    assert(ls == 5 && la == 3)
  }

  test("NeuralArray constant-folds to a literal matching HashEmbedder") {
    val df = spark.sql("SELECT NeuralArray('hello world') AS v")
    val optimized = df.queryExecution.optimizedPlan
    // after ConstantFolding no NeuralArray node should remain
    assert(!optimized.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.graft.NeuralArray])))
    val got = df.as[Seq[Float]].head()
    assert(got == HashEmbedder.embed("hello world").toSeq)
  }

  test("sorted_intersect_count == size(array_intersect) on sorted arrays") {
    import org.apache.spark.sql.graft.{Bridge, SortedIntersectCount}
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq.empty[Long], Seq(1L))).toDF("a", "b")
    val got = df.select(Bridge.toColumn(SortedIntersectCount(
      Bridge.toExpr($"a"), Bridge.toExpr($"b")))).as[Int].collect().toSeq
    val ref = df.select(size(array_intersect($"a", $"b"))).as[Int].collect().toSeq
    assert(got == Seq(2, 0, 0) && got == ref)
  }

  test("JSONExtractArrayRaw returns the array field as array<string>") {
    val got = spark.sql(
      """SELECT JSONExtractArrayRaw('{"xs": ["a", "b", "c"]}', 'xs')""")
      .as[Seq[String]].head()
    assert(got == Seq("a", "b", "c"))
  }

  test("hash embedder: deterministic, unit-norm, fixed dim") {
    val v1 = HashEmbedder.embed("spark vector search")
    val v2 = HashEmbedder.embed("spark vector search")
    assert(v1.toSeq == v2.toSeq)
    assert(v1.length == HashEmbedder.DefaultDim)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("simhash: near-identical token sets within small hamming distance") {
    val t1 = (1 to 60).map(i => s"tok$i")
    val t2 = t1.dropRight(3) // 3 tokens removed
    val t3 = (100 to 160).map(i => s"other$i")
    val df = Seq(t1, t2, t3).toDF("t").select(simhash64($"t").as("h"))
    val hs = df.as[Long].collect()
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(hs(0), hs(1)) <= 8)
    assert(ham(hs(0), hs(2)) > 12)
  }

  // The VectorKernels contract: interpreted eval, generic codegen, and the
  // folded (hoisted-query) codegen all reduce in the SAME 4-chain order, so
  // a plan falling back to interpreted eval (codegen compile failure or
  // CODEGEN_FACTORY_MODE=NO_CODEGEN) returns bit-identical doubles — the
  // top-k order of near-tied neighbors cannot depend on the execution mode.
  test("cosine paths are BIT-identical: interpreted == folded codegen == packed") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graft.{CosineDistance, PackedOps, VectorKernels}
    import org.apache.spark.sql.graft.PackedVectorFunctions._
    import org.apache.spark.sql.types._
    val q = HashEmbedder.embed("parity probe")
    val rows = Tables.embeddings(spark, TestSpark.sf).limit(64)
      .select("embedding").as[Seq[Float]].collect().map(_.toArray)
    // folded codegen over the array layout (typedlit query -> hoisted)
    val viaCodegen = Tables.embeddings(spark, TestSpark.sf).limit(64)
      .select(cosine_distance($"embedding", typedlit(q.toIndexedSeq)))
      .as[Double].collect()
    // folded codegen over the packed layout
    val viaPacked = Tables.embeddings(spark, TestSpark.sf).limit(64)
      .select(cosine_distance_packed(vec_pack($"embedding"), typedlit(q.toIndexedSeq)))
      .as[Double].collect()
    // interpreted eval (Literal children -> nullSafeEval, no codegen at all)
    val viaInterp = rows.map { v =>
      CosineDistance(
        Literal.create(new GenericArrayData(v), ArrayType(FloatType)),
        Literal.create(new GenericArrayData(q), ArrayType(FloatType)))
        .eval(null).asInstanceOf[Double]
    }
    // the kernel itself (what the generic codegen path calls)
    val viaKernel = rows.map(v => VectorKernels.cosine(v, q))
    assert(viaCodegen.toSeq == viaInterp.toSeq)
    assert(viaCodegen.toSeq == viaKernel.toSeq)
    assert(viaCodegen.toSeq == viaPacked.toSeq)
    // packed interpreted too (CosineDistancePacked.nullSafeEval)
    val viaPackedInterp = rows.map { v =>
      import org.apache.spark.sql.graft.CosineDistancePacked
      CosineDistancePacked(
        Literal.create(PackedOps.pack(new GenericArrayData(v)), BinaryType),
        Literal.create(new GenericArrayData(q), ArrayType(FloatType)))
        .eval(null).asInstanceOf[Double]
    }
    assert(viaPackedInterp.toSeq == viaCodegen.toSeq)
  }

  // The query norm rides into generated code as a reference, like the
  // query vector: a new query vector reuses the compiled class.
  test("folded cosine kernels: a new query vector compiles nothing, results == interpreted") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graft.{CosineDistance, CosineDistanceF16, CosineDistancePacked,
      CosineDistanceSq8, Sq8Encode, VecPack, VecPackF16}
    import org.apache.spark.sql.graft.Bridge.{toColumn, toExpr}
    import org.apache.spark.sql.types._
    val dim = HashEmbedder.DefaultDim
    val mins = Array.fill(dim)(-1f)
    val scales = Array.fill(dim)(2f / 255)
    val emb = toExpr(col("embedding"))
    // (kernel, stored column, its type)
    val kernels: Seq[(String, (Expression, Expression) => Expression, Expression, DataType)] = Seq(
      ("cosine", CosineDistance(_, _), emb, ArrayType(FloatType)),
      ("packed", CosineDistancePacked(_, _), VecPack(emb), BinaryType),
      ("f16", CosineDistanceF16(_, _), VecPackF16(emb), BinaryType),
      ("sq8", CosineDistanceSq8(_, _, mins, scales), Sq8Encode(emb, mins, scales), BinaryType))
    val src = Tables.embeddings(spark, TestSpark.sf).limit(48)
    def qLit(q: Array[Float]) = Literal.create(new GenericArrayData(q), ArrayType(FloatType))
    kernels.foreach { case (name, k, stored, t) =>
      def run(q: Array[Float]) =
        src.select(toColumn(k(stored, qLit(q)))).as[Double].collect().toSeq
      val xs = src.select(toColumn(stored)).collect().map(_.get(0))
      def interp(q: Array[Float]) = xs.toSeq.map { x =>
        val v = if (t == BinaryType) x else new GenericArrayData(x.asInstanceOf[scala.collection.Seq[Float]].toArray)
        k(Literal.create(v, t), qLit(q)).eval(null).asInstanceOf[Double]
      }
      run(HashEmbedder.embed(s"$name first query"))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q2 = HashEmbedder.embed(s"$name second, different query").map(_ * 3f)
      val got = run(q2)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
        s"$name: a second query vector compiled new code")
      assert(got.map(java.lang.Double.doubleToLongBits) ==
        interp(q2).map(java.lang.Double.doubleToLongBits), name)
    }
  }

  test("lsh_signature SQL fn accepts an explicit dim argument") {
    val wide = (0 until 128).map(i => (i % 7 - 3).toFloat)
    val df = Seq(wide).toDF("v")
    df.createOrReplaceTempView("lsh_dim_probe")
    val s64 = spark.sql("SELECT lsh_signature(v) FROM lsh_dim_probe").as[Long].head()
    val s128 = spark.sql("SELECT lsh_signature(v, 128) FROM lsh_dim_probe").as[Long].head()
    // 128-d planes see all coordinates; the default-64 call truncates, so
    // the signatures must come from different projections
    val ref = org.apache.spark.sql.graft.LshSignature
      .lsh_signature($"v", 128)
    val viaApi = df.select(ref).as[Long].head()
    assert(s128 == viaApi)
    assert(s64 != s128)
  }

  test("term_tfs equals explode+groupBy tf on random token arrays") {
    // the build-path contract: TermTfs is a drop-in for the explode ->
    // groupBy(term, doc) count, including duplicates, unicode tokens,
    // empty arrays and single-token docs
    val rnd = new scala.util.Random(20260814)
    val vocab = Array("alpha", "beta", "gamma", "\u00fcber", "\u4e2d\u6587", "x1", "x2", "longtoken")
    val docs = (0 until 40).map { id =>
      val n = rnd.nextInt(12) // 0..11 tokens, empties included
      (id.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))))
    }
    val df = docs.toDF("doc_id", "toks")
    val viaExpr = df.select(col("doc_id"),
        explode(org.apache.spark.sql.graft.TextFunctions.term_tfs(col("toks"))).as("tt"))
      .select(col("doc_id"), col("tt.term"), col("tt.tf"))
      .as[(Long, String, Int)].collect().toSet
    val viaGroupBy = df.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("int").as("tf"))
      .as[(Long, String, Int)].collect().toSet
    assert(viaExpr === viaGroupBy)
    assert(viaExpr.nonEmpty)
  }
}
