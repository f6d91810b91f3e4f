package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.HashEmbedder
import graft.operators.{PqIndex, VectorStore}

class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val e = Tables.embeddings(spark, TestSpark.sf)
  private lazy val model = PqIndex.fitCached(e, TestSpark.sf, "embedding", "vec_id")

  test("codes are m bytes (32x compression of 64 fp32 dims)") {
    val enc = PqIndex.encodedCached(e, TestSpark.sf, model, "embedding")
    val lens = enc.select(octet_length(col("__code"))).distinct().as[Int].collect()
    assert(lens.toSeq == Seq(8))
  }

  test("encode: codegen and interpreted paths agree") {
    import org.apache.spark.sql.graft.PqEncode
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val v = HashEmbedder.embed("pq parity probe")
    val viaDf = Seq(Tuple1(v.toSeq)).toDF("v")
      .select(PqIndex.encode(model, $"v")).as[Array[Byte]].head()
    val interp = PqEncode(
      Literal.create(new GenericArrayData(v), ArrayType(FloatType)),
      model.flat, model.m, model.k, model.dsub).eval(null).asInstanceOf[Array[Byte]]
    assert(viaDf.toSeq == interp.toSeq)
  }

  test("save/load round-trip: codebooks bit-identical, codes table equal, search identical") {
    val enc = PqIndex.encodedCached(e, TestSpark.sf, model, "embedding")
    val path = s"${TestSpark.tmpRoot}/pq_saveload_spec"
    PqIndex.save(model, enc, path)
    val (lModel, lEnc) = PqIndex.load(spark, path)
    assert(lModel.flat.toSeq == model.flat.toSeq, "codebooks must round-trip exactly")
    assert(lModel.m == model.m && lModel.k == model.k && lModel.dsub == model.dsub)
    assert(lEnc.select("vec_id", "__code").except(enc.select("vec_id", "__code")).isEmpty
      && enc.select("vec_id", "__code").except(lEnc.select("vec_id", "__code")).isEmpty)
    val q = HashEmbedder.embed("pq durability probe")
    val a = PqIndex.search(model, enc, "embedding", "vec_id", q, 10, 200)
      .collect().map(_.toSeq).toSeq
    val b = PqIndex.search(lModel, lEnc, "embedding", "vec_id", q, 10, 200)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("ADC distance == explicit LUT sum for sampled vectors") {
    val q = HashEmbedder.embed("adc check")
    val enc = PqIndex.encodedCached(e, TestSpark.sf, model, "embedding")
    val rows = enc.limit(20)
      .select($"__code", PqIndex.adcDistance(model, $"__code", q).as("adc"))
      .as[(Array[Byte], Double)].collect()
    rows.foreach { case (code, adc) =>
      var expect = 0.0
      for (mm <- 0 until model.m) {
        val c = code(mm) & 0xff
        var acc = 0.0
        for (j <- 0 until model.dsub) {
          val t = q(mm * model.dsub + j).toDouble - model.codebooks(mm)(c)(j).toDouble
          acc += t * t
        }
        expect += acc
      }
      assert(math.abs(adc - expect) < 1e-9)
    }
  }

  test("ADC top-100 shortlist + exact re-rank reproduces exact top-10") {
    val enc = PqIndex.encodedCached(e, TestSpark.sf, model, "embedding")
    for (t <- Seq("distributed vector search engine", "streaming joins")) {
      val q = HashEmbedder.embed(t)
      val pq = PqIndex.search(model, enc, "embedding", "vec_id", q, 10, 100)
        .select("vec_id").as[Long].collect().toSeq
      val exact = VectorStore(e, "embedding", Seq("vec_id"))
        .searchByVector(q, 10).select("vec_id").as[Long].collect().toSeq
      assert(pq == exact, s"query '$t'")
    }
  }

  test("residual IVF-PQ: better ADC ranks than raw PQ; LUT selection correct") {
    import graft.operators.AnnIndex
    val (ann, persisted) = AnnIndex.fitPersistedCached(
      e, TestSpark.sf, "embedding", "vec_id", k = 16, iters = 3)
    val resModel = PqIndex.fitResidualCached(persisted, TestSpark.sf, "embedding", "vec_id", ann)
    val resEnc = PqIndex.encodedResidualCached(persisted, TestSpark.sf, resModel, ann, "embedding")
    val rawEnc = PqIndex.encodedCached(e, TestSpark.sf, model, "embedding")
    // needed shortlist depth = worst ADC rank of any true top-10 member;
    // averaged over queries, residual coding should not be worse than raw
    def worstRank(qText: String): (Int, Int) = {
      val q = HashEmbedder.embed(qText)
      val exact = VectorStore(e, "embedding", Seq("vec_id"))
        .searchByVector(q, 10).select("vec_id").as[Long].collect().toSet
      val rawOrder = rawEnc
        .withColumn("__d", PqIndex.adcDistance(model, $"__code", q))
        .orderBy($"__d", $"vec_id").select("vec_id").as[Long].collect()
      val resOrder = resEnc
        .withColumn("__d", PqIndex.adcResidualDistance(resModel, ann, $"__code", $"cluster_id", q))
        .orderBy($"__d", $"vec_id").select("vec_id").as[Long].collect()
      (rawOrder.zipWithIndex.filter(p => exact(p._1)).map(_._2).max,
        resOrder.zipWithIndex.filter(p => exact(p._1)).map(_._2).max)
    }
    val ranks = Seq("distributed vector search engine", "streaming joins",
      "columnar database engines").map(worstRank)
    val (rawAvg, resAvg) = (ranks.map(_._1).sum / 3.0, ranks.map(_._2).sum / 3.0)
    info(s"avg worst needed rank: raw=$rawAvg residual=$resAvg")
    assert(resAvg <= rawAvg * 1.5, s"residual coding much worse: $ranks")
    // interpreted vs codegen parity of the residual ADC
    val q = HashEmbedder.embed("residual parity")
    val viaDf = resEnc.limit(5)
      .select($"__code", $"cluster_id",
        PqIndex.adcResidualDistance(resModel, ann, $"__code", $"cluster_id", q).as("d"))
      .as[(Array[Byte], Int, Double)].collect()
    viaDf.foreach { case (code, cid, d) =>
      var expect = 0.0
      val rq = q.indices.map(i => q(i) - ann.centroids(cid)(i).toFloat).toArray
      for (mm <- 0 until resModel.m) {
        val kk = code(mm) & 0xff
        var acc = 0.0
        for (j <- 0 until resModel.dsub) {
          val t = rq(mm * resModel.dsub + j).toDouble - resModel.codebooks(mm)(kk)(j).toDouble
          acc += t * t
        }
        expect += acc
      }
      assert(math.abs(d - expect) < 1e-9)
    }
  }

  test("SQ8: per-dim round-trip error bounded by scale/2; shortlist rerank exact") {
    import graft.operators.Sq8Index
    import org.apache.spark.sql.graft.Sq8Ops
    val sq = Sq8Index.fitCached(e, TestSpark.sf, "embedding")
    // every stored vector reconstructs within half a quantization step/dim
    val vecs = e.select("embedding").as[Seq[Float]].collect()
    vecs.take(200).foreach { v =>
      val rt = Sq8Ops.decode(Sq8Ops.encode(v.toArray, sq.mins, sq.scales), sq.mins, sq.scales)
      v.indices.foreach { i =>
        assert(math.abs(v(i) - rt(i)) <= sq.scales(i) / 2 + 1e-6,
          s"dim $i: ${v(i)} vs ${rt(i)} scale ${sq.scales(i)}")
      }
    }
    // SQ8 shortlist + exact rerank reproduces the exact top-10
    for (t <- Seq("distributed vector search engine", "streaming joins")) {
      val q = HashEmbedder.embed(t)
      val enc = e.withColumn("__sq", Sq8Index.encode(sq, col("embedding")))
      val got = enc
        .withColumn("__d", Sq8Index.distance(sq, col("__sq"), typedlit(q.toIndexedSeq)))
        .orderBy(col("__d"), col("vec_id")).limit(100)
        .withColumn("dist", org.apache.spark.sql.graft.VectorFunctions
          .cosine_distance(col("embedding"), typedlit(q.toIndexedSeq)))
        .orderBy(col("dist"), col("vec_id")).limit(10)
        .select("vec_id").as[Long].collect().toSeq
      val exact = VectorStore(e, "embedding", Seq("vec_id"))
        .searchByVector(q, 10).select("vec_id").as[Long].collect().toSeq
      assert(got == exact, s"query '$t'")
    }
  }

  test("SQ8 save/load round-trip: bounds bit-identical, codes equal, serve identical") {
    import graft.operators.Sq8Index
    val sq = Sq8Index.fitCached(e, TestSpark.sf, "embedding")
    val (enc, n) = Sq8Index.encodedCached(e, TestSpark.sf, sq, "embedding")
    val path = s"${TestSpark.tmpRoot}/sq8_saveload_spec"
    Sq8Index.save(sq, enc, path)
    val (lsq, lEnc, lN) = Sq8Index.load(spark, path)
    assert(lsq.mins.toSeq == sq.mins.toSeq && lsq.scales.toSeq == sq.scales.toSeq)
    assert(lN == n)
    assert(lEnc.select("vec_id", "__sq").except(enc.select("vec_id", "__sq")).isEmpty
      && enc.select("vec_id", "__sq").except(lEnc.select("vec_id", "__sq")).isEmpty)
    val q = HashEmbedder.embed("sq8 durability probe")
    def serve(m: Sq8Index.Model, table: org.apache.spark.sql.DataFrame) = table
      .withColumn("__d", Sq8Index.distance(m, col("__sq"), typedlit(q.toIndexedSeq)))
      .orderBy(col("__d"), col("vec_id")).limit(100)
      .withColumn("dist", org.apache.spark.sql.graft.VectorFunctions
        .cosine_distance(col("embedding"), typedlit(q.toIndexedSeq)))
      .orderBy(col("dist"), col("vec_id")).limit(10)
      // compare by value columns: Row.toSeq would compare the __sq
      // BinaryType field by array reference and always differ
      .select("vec_id", "__d", "dist").as[(Long, Double, Double)]
      .collect().toSeq
    assert(serve(lsq, lEnc) == serve(sq, enc))
  }

  test("quantization error: mean ADC error vs true distance is bounded") {
    // ADC approximates squared L2; on unit-ish vectors the mean absolute
    // error of the approximation should be well under the distance scale
    val q = HashEmbedder.embed("error bound probe")
    val enc = PqIndex.encodedCached(e, TestSpark.sf, model, "embedding")
    import org.apache.spark.sql.graft.VectorFunctions.l2_distance
    val stats = enc
      .withColumn("adc", PqIndex.adcDistance(model, $"__code", q))
      .withColumn("true2", pow(l2_distance($"embedding", typedlit(q.toIndexedSeq)), 2))
      .agg(avg(abs($"adc" - $"true2")).as("mae"), avg($"true2").as("scale"))
      .as[(Double, Double)].head()
    assert(stats._1 < stats._2 * 0.25, s"mae=${stats._1} scale=${stats._2}")
  }
}
