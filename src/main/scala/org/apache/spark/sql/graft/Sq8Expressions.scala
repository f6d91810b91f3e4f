package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Scalar (int8) quantization — the middle rung of the vector-storage
  * ladder (fp32 4 B/dim > fp16 2 B > SQ8 1 B > PQ 1 B/subspace): each
  * dimension is affine-mapped to 0..255 against per-dimension [min, max]
  * bounds estimated from the data (one deterministic agg job). 4x smaller
  * than fp32 with per-dim error <= (max-min)/510 — the standard "SQ8" of
  * FAISS/public vector stores.
  */

/** `sq8_encode(vec)` -> binary, one byte per dimension. */
case class Sq8Encode(child: Expression, mins: Array[Float], scales: Array[Float])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sq8_encode"

  protected override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData].toFloatArray
    Sq8Ops.encode(x, mins, scales)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sq8Mins", mins, "float[]")
    val sc = ctx.addReferenceObj("sq8Scales", scales, "float[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.Sq8Ops.encode($c.toFloatArray(), $mn, $sc)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `cosine_distance_sq8(code, query)` — decode-on-the-fly cosine against a
  * hoisted literal query; the scan reads 1 byte/dim.
  */
case class CosineDistanceSq8(left: Expression, right: Expression,
    mins: Array[Float], scales: Array[Float])
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_distance_sq8"

  override def nullSafeEval(a: Any, b: Any): Any = {
    // mismatched lengths: |y| over its FULL length (matches folded codegen)
    val x = Sq8Ops.decode(a.asInstanceOf[Array[Byte]], mins, scales)
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.length, y.numElements())
    var dot = 0.0; var nx = 0.0; var i = 0
    while (i < n) {
      val xi = x(i).toDouble; val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; i += 1
    }
    var ny = 0.0
    val m = y.numElements()
    i = 0
    while (i < m) { val yi = y.getFloat(i).toDouble; ny += yi * yi; i += 1 }
    1.0 - dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sq8Mins", mins, "float[]")
    val sc = ctx.addReferenceObj("sq8Scales", scales, "float[]")
    if (right.foldable && right.deterministic && right.eval(null) != null) {
      val arr = right.eval(null).asInstanceOf[ArrayData].toFloatArray
      val qv = ctx.addReferenceObj("sq8Query", arr, "float[]")
      var qn2 = 0.0
      var i = 0
      while (i < arr.length) { val y = arr(i).toDouble; qn2 += y * y; i += 1 }
      val qnorm = VectorKernels.queryNormRef(ctx, math.sqrt(qn2))
      nullSafeCodeGen(ctx, ev, (x, _) => {
        val n = ctx.freshName("n"); val j = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
        val xi = ctx.freshName("xi")
        s"""
           |final int $n = java.lang.Math.min(java.lang.Math.min($x.length, $qv.length), $mn.length);
           |double $dot = 0.0; double $nx = 0.0;
           |for (int $j = 0; $j < $n; $j++) {
           |  final double $xi = (double) ((($x[$j] & 0xff) * $sc[$j]) + $mn[$j]);
           |  $dot += $xi * (double) $qv[$j]; $nx += $xi * $xi;
           |}
           |${ev.value} = 1.0 - $dot / (java.lang.Math.sqrt($nx) * $qnorm);
         """.stripMargin
      })
    } else {
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val n = ctx.freshName("n"); val j = ctx.freshName("i")
        val xa = ctx.freshName("xa"); val ya = ctx.freshName("ya")
        val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
        val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
        val yi = ctx.freshName("yi")
        s"""
           |final float[] $xa = org.apache.spark.sql.graft.Sq8Ops.decode($x, $mn, $sc);
           |final float[] $ya = $y.toFloatArray();
           |final int $n = java.lang.Math.min($xa.length, $ya.length);
           |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
           |for (int $j = 0; $j < $n; $j++) {
           |  final double $xi = (double) $xa[$j];
           |  final double $yi = (double) $ya[$j];
           |  $dot += $xi * $yi; $nx += $xi * $xi;
           |}
           |for (int $j = 0; $j < $ya.length; $j++) {
           |  final double $yi = (double) $ya[$j];
           |  $ny += $yi * $yi;
           |}
           |${ev.value} = 1.0 - $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         """.stripMargin
      })
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object Sq8Ops {
  /** code_j = round((x_j - min_j) / scale_j), clamped to 0..255; scale_j =
    * (max_j - min_j)/255 precomputed by the trainer. Decode uses the SAME
    * scale/min arrays, so round-trip error per dim is <= scale/2.
    */
  def encode(x: Array[Float], mins: Array[Float], scales: Array[Float]): Array[Byte] = {
    val n = math.min(x.length, mins.length)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val q =
        if (scales(i) == 0f) 0
        else math.round((x(i) - mins(i)) / scales(i))
      out(i) = math.max(0, math.min(255, q)).toByte
      i += 1
    }
    out
  }

  def decode(b: Array[Byte], mins: Array[Float], scales: Array[Float]): Array[Float] = {
    val n = math.min(b.length, mins.length)
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = ((b(i) & 0xff) * scales(i)) + mins(i); i += 1 }
    out
  }
}
