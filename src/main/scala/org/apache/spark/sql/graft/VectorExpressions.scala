package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector-search core.
  *
  * The reference's `distance(vec_col, [q]) AS dist` (MyScale Vector-SQL,
  * `app/backend/vector_store/myscale_without_metadata.py:32`,
  * `app/backend/constants/prompts.py:31`) is cosine distance everywhere
  * (`metric_type=Cosine`, `app/backend/constants/myscale_tables.py:35,63`).
  * We implement it as a binary `Expression` with whole-stage codegen so the
  * k-NN scan stays inside Tungsten's generated loop: at 100 TB the scan is
  * embarrassingly parallel and the per-row cost is one fused dot-product
  * loop over an `UnsafeArrayData` of primitive floats — no boxing, no UDF
  * serialization boundary.
  *
  * Semantics: accumulate in double, sequential element order;
  * `cosine_distance = 1 - dot/(sqrt(|a|^2)*sqrt(|b|^2))`. Lower = closer,
  * matching the reference's ascending `dist` order
  * (`myscale_without_metadata.py:32-34`).
  */
/** CONTRACT shared by every cosine-distance implementation — the folded
  * loops are intentionally written out per storage layout (array here,
  * packed fp32/f16 in [[PackedVectors.scala]], int8 in
  * [[Sq8Expressions.scala]]), so any change to these rules must be
  * mirrored in all of them (parity is spec-asserted in PackedVectorSpec /
  * PqSpec / ExpressionSpec):
  *   1. dot and |x| accumulate over the common prefix min(len(x), len(q));
  *      |q| accumulates over q's FULL length (it is hoisted at codegen).
  *   2. EVERY path — interpreted eval, generic codegen, folded codegen,
  *      across the array / fp32-packed / f16 layouts — accumulates in 4
  *      independent chains with the (d0+d1)+(d2+d3) reduction (tail
  *      elements into chain 0), the canonical order defined once in
  *      [[VectorKernels]]. Interpreted and generic-codegen paths CALL the
  *      kernel; folded loops inline the same order and hoist the query
  *      norm via [[VectorKernels.norm2]]. Consequence: an expression
  *      falling back to interpreted eval (codegen compile failure,
  *      CODEGEN_FACTORY_MODE=NO_CODEGEN) returns bit-identical doubles to
  *      the codegen'd plan — near-tied top-k order cannot depend on the
  *      execution mode (asserted in ExpressionSpec).
  */

/** The ONE canonical accumulation order for cosine distance (see contract
  * above). Static forwarders make these callable from generated Java.
  */
object VectorKernels {
  /** Σy² in the canonical 4-chain order over y's full length. */
  def norm2(y: Array[Float]): Double = {
    var n0 = 0.0; var n1 = 0.0; var n2 = 0.0; var n3 = 0.0
    val k = y.length & ~3
    var i = 0
    while (i < k) {
      val y0 = y(i).toDouble; val y1 = y(i + 1).toDouble
      val y2 = y(i + 2).toDouble; val y3 = y(i + 3).toDouble
      n0 += y0 * y0; n1 += y1 * y1; n2 += y2 * y2; n3 += y3 * y3
      i += 4
    }
    while (i < y.length) { val y0 = y(i).toDouble; n0 += y0 * y0; i += 1 }
    (n0 + n1) + (n2 + n3)
  }

  /** Cosine distance: dot/|x|² 4-chain over the common prefix, |y|² =
    * norm2(y) over y's full length.
    */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
    var m0 = 0.0; var m1 = 0.0; var m2 = 0.0; var m3 = 0.0
    val k = n & ~3
    var i = 0
    while (i < k) {
      val x0 = x(i).toDouble; val x1 = x(i + 1).toDouble
      val x2 = x(i + 2).toDouble; val x3 = x(i + 3).toDouble
      d0 += x0 * y(i).toDouble;     m0 += x0 * x0
      d1 += x1 * y(i + 1).toDouble; m1 += x1 * x1
      d2 += x2 * y(i + 2).toDouble; m2 += x2 * x2
      d3 += x3 * y(i + 3).toDouble; m3 += x3 * x3
      i += 4
    }
    while (i < n) {
      val x0 = x(i).toDouble
      d0 += x0 * y(i).toDouble; m0 += x0 * x0; i += 1
    }
    val dot = (d0 + d1) + (d2 + d3)
    val nx = (m0 + m1) + (m2 + m3)
    1.0 - dot / (math.sqrt(nx) * math.sqrt(norm2(y)))
  }

  /** A folded query's norm as a generated-class reference (unboxed at the
    * use site). Pasting it into the source as a literal made the generated
    * code differ per query vector, so every new norm missed Spark's code
    * cache and paid a Janino compile; passed by reference, like the query
    * vector itself, one compiled class serves every query.
    */
  def queryNormRef(ctx: CodegenContext, qnorm: Double): String =
    ctx.addReferenceObj("graftQueryNorm", java.lang.Double.valueOf(qnorm),
      "java.lang.Double") + ".doubleValue()"

  /** The same canonical reduction over a STRIDED slice xs[off, off+dim) —
    * the in-memory packed-block serving path ([[graft.operators
    * .PackedScan]]) computes against vectors laid out contiguously in one
    * float[] per partition. `qnorm` must be sqrt(norm2(y)) so results stay
    * bit-identical to every other cosine path.
    */
  def cosineStrided(xs: Array[Float], off: Int, dim: Int,
      y: Array[Float], qnorm: Double): Double = {
    val n = math.min(dim, y.length)
    var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
    var m0 = 0.0; var m1 = 0.0; var m2 = 0.0; var m3 = 0.0
    val k = n & ~3
    var i = 0
    while (i < k) {
      val x0 = xs(off + i).toDouble; val x1 = xs(off + i + 1).toDouble
      val x2 = xs(off + i + 2).toDouble; val x3 = xs(off + i + 3).toDouble
      d0 += x0 * y(i).toDouble;     m0 += x0 * x0
      d1 += x1 * y(i + 1).toDouble; m1 += x1 * x1
      d2 += x2 * y(i + 2).toDouble; m2 += x2 * x2
      d3 += x3 * y(i + 3).toDouble; m3 += x3 * x3
      i += 4
    }
    while (i < n) {
      val x0 = xs(off + i).toDouble
      d0 += x0 * y(i).toDouble; m0 += x0 * x0; i += 1
    }
    val dot = (d0 + d1) + (d2 + d3)
    val nx = (m0 + m1) + (m2 + m3)
    1.0 - dot / (math.sqrt(nx) * qnorm)
  }
}
abstract class VectorBinaryExpression extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** Scala fallback (interpreted path). */
  protected def compute(x: ArrayData, y: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Java loop body shared by the codegen of all three metrics.
    * `finish(dot, nx, ny)` emits the final expression.
    *
    * Bulk-extract to primitive float[] first (one copyMemory on
    * UnsafeArrayData), then a tight primitive loop — the JIT can
    * auto-vectorize it, vs a per-element virtual getFloat() which caps the
    * scan near 0.75 M vectors/s/core (measured; bulk path ~2x).
    */
  /** If the right side (the query vector in every k-NN plan) is a
    * deterministic foldable non-null expression, evaluate it ONCE at codegen
    * time and hoist the primitive float[] into a generated-class reference
    * object. Without this, codegen re-copies the 768-float literal out of its
    * `GenericArrayData` on EVERY row (~3 KB/row memcpy) and re-accumulates
    * its norm — half the scan's work for a value that never changes.
    */
  protected def foldedQuery(ctx: CodegenContext): Option[(String, Array[Float])] =
    if (right.foldable && right.deterministic) {
      val v = right.eval(null)
      if (v == null) None
      else {
        val arr = v.asInstanceOf[ArrayData].toFloatArray
        Some((ctx.addReferenceObj("graftQueryVec", arr, "float[]"), arr))
      }
    } else None

  protected def genLoop(ctx: CodegenContext, ev: ExprCode,
      finish: (String, String, String, String) => String,
      needNy: Boolean = true): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val xa = ctx.freshName("xa"); val ya = ctx.freshName("ya")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final float[] $xa = $x.toFloatArray();
         |final float[] $ya = $y.toFloatArray();
         |final int $n = java.lang.Math.min($xa.length, $ya.length);
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = (double) $xa[$i];
         |  final double $yi = (double) $ya[$i];
         |  $dot += $xi * $yi; $nx += $xi * $xi;
         |}
         |${if (needNy) s"""for (int $i = 0; $i < $ya.length; $i++) {
         |  final double $yi = (double) $ya[$i];
         |  $ny += $yi * $yi;
         |}""" else ""}
         |${ev.value} = ${finish(dot, nx, ny, ev.value.code)};
       """.stripMargin
    })
}

/** `cosine_distance(a, b)` = 1 − cos(a, b); MyScale `distance`/`DISTANCE`. */
case class CosineDistance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "cosine_distance"

  /** Interpreted eval = the canonical kernel (see VectorKernels): dot and
    * |x| over the common prefix, |y| over y's FULL length, 4-chain order —
    * bit-identical to both codegen paths by construction.
    */
  override protected def compute(x: ArrayData, y: ArrayData): Double =
    VectorKernels.cosine(x.toFloatArray, y.toFloatArray)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    foldedQuery(ctx) match {
      case Some((qv, arr)) =>
        // ny = Σ y_i² precomputed once (the per-row ny chain was half the
        // loop's work), in the kernel's 4-chain order. The inlined loop
        // below matches VectorKernels.cosine exactly, so folded codegen,
        // interpreted eval, and CosineDistancePacked's folded loop all
        // produce BIT-identical doubles (asserted in PackedVectorSpec /
        // ExpressionSpec).
        val qnorm = VectorKernels.queryNormRef(ctx, math.sqrt(VectorKernels.norm2(arr)))
        nullSafeCodeGen(ctx, ev, (x, _) => {
          val n = ctx.freshName("n"); val j = ctx.freshName("i")
          val k = ctx.freshName("k"); val xa = ctx.freshName("xa")
          val d = (0 to 3).map(i => ctx.freshName(s"dot$i"))
          val m = (0 to 3).map(i => ctx.freshName(s"nx$i"))
          val xs = (0 to 3).map(i => ctx.freshName(s"x$i"))
          s"""
             |final float[] $xa = $x.toFloatArray();
             |final int $n = java.lang.Math.min($xa.length, $qv.length);
             |double ${d(0)} = 0.0, ${d(1)} = 0.0, ${d(2)} = 0.0, ${d(3)} = 0.0;
             |double ${m(0)} = 0.0, ${m(1)} = 0.0, ${m(2)} = 0.0, ${m(3)} = 0.0;
             |final int $k = $n & ~3;
             |int $j = 0;
             |for (; $j < $k; $j += 4) {
             |  final double ${xs(0)} = (double) $xa[$j];
             |  final double ${xs(1)} = (double) $xa[$j + 1];
             |  final double ${xs(2)} = (double) $xa[$j + 2];
             |  final double ${xs(3)} = (double) $xa[$j + 3];
             |  ${d(0)} += ${xs(0)} * (double) $qv[$j];     ${m(0)} += ${xs(0)} * ${xs(0)};
             |  ${d(1)} += ${xs(1)} * (double) $qv[$j + 1]; ${m(1)} += ${xs(1)} * ${xs(1)};
             |  ${d(2)} += ${xs(2)} * (double) $qv[$j + 2]; ${m(2)} += ${xs(2)} * ${xs(2)};
             |  ${d(3)} += ${xs(3)} * (double) $qv[$j + 3]; ${m(3)} += ${xs(3)} * ${xs(3)};
             |}
             |for (; $j < $n; $j++) {
             |  final double ${xs(0)} = (double) $xa[$j];
             |  ${d(0)} += ${xs(0)} * (double) $qv[$j]; ${m(0)} += ${xs(0)} * ${xs(0)};
             |}
             |final double ${d.head}T = (${d(0)} + ${d(1)}) + (${d(2)} + ${d(3)});
             |final double ${m.head}T = (${m(0)} + ${m(1)}) + (${m(2)} + ${m(3)});
             |${ev.value} = 1.0 - ${d.head}T / (java.lang.Math.sqrt(${m.head}T) * $qnorm);
           """.stripMargin
        })
      case None =>
        // non-foldable query (col-col case): delegate to the canonical
        // kernel — same code the interpreted path runs, parity for free
        nullSafeCodeGen(ctx, ev, (x, y) =>
          s"${ev.value} = org.apache.spark.sql.graft.VectorKernels.cosine(" +
            s"$x.toFloatArray(), $y.toFloatArray());")
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `inner_product(a, b)` = dot(a, b). ClickHouse `dotProduct`. */
case class InnerProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "inner_product"

  override protected def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    foldedQuery(ctx) match {
      case Some((qv, _)) =>
        nullSafeCodeGen(ctx, ev, (x, _) => {
          val n = ctx.freshName("n"); val j = ctx.freshName("i")
          val xa = ctx.freshName("xa"); val dot = ctx.freshName("dot")
          s"""
             |final float[] $xa = $x.toFloatArray();
             |final int $n = java.lang.Math.min($xa.length, $qv.length);
             |double $dot = 0.0;
             |for (int $j = 0; $j < $n; $j++) {
             |  $dot += (double) $xa[$j] * (double) $qv[$j];
             |}
             |${ev.value} = $dot;
           """.stripMargin
        })
      case None => genLoop(ctx, ev, (dot, _, _, _) => dot, needNy = false)
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `l2_distance(a, b)` = Euclidean distance. ClickHouse `L2Distance`
  * (dialect note at reference `docs/vector-sql.md:93`).
  */
case class L2Distance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "l2_distance"

  override protected def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d; i += 1
    }
    math.sqrt(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    foldedQuery(ctx) match {
      case Some((qv, _)) =>
        nullSafeCodeGen(ctx, ev, (x, _) => {
          val n = ctx.freshName("n"); val j = ctx.freshName("i")
          val xa = ctx.freshName("xa"); val acc = ctx.freshName("acc")
          val d = ctx.freshName("d")
          s"""
             |final float[] $xa = $x.toFloatArray();
             |final int $n = java.lang.Math.min($xa.length, $qv.length);
             |double $acc = 0.0;
             |for (int $j = 0; $j < $n; $j++) {
             |  final double $d = (double) $xa[$j] - (double) $qv[$j];
             |  $acc += $d * $d;
             |}
             |${ev.value} = java.lang.Math.sqrt($acc);
           """.stripMargin
        })
      case None =>
        nullSafeCodeGen(ctx, ev, (x, y) => {
          val n = ctx.freshName("n"); val i = ctx.freshName("i")
          val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
          s"""
             |final int $n = java.lang.Math.min($x.numElements(), $y.numElements());
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  final double $d = (double) $x.getFloat($i) - (double) $y.getFloat($i);
             |  $acc += $d * $d;
             |}
             |${ev.value} = java.lang.Math.sqrt($acc);
           """.stripMargin
        })
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-API entry points (the DataFrame surface of SURVEY.md §3 EP2). */
object VectorFunctions {
  import Bridge.{toColumn, toExpr}
  def cosine_distance(a: Column, b: Column): Column = toColumn(CosineDistance(toExpr(a), toExpr(b)))
  def inner_product(a: Column, b: Column): Column   = toColumn(InnerProduct(toExpr(a), toExpr(b)))
  def l2_distance(a: Column, b: Column): Column     = toColumn(L2Distance(toExpr(a), toExpr(b)))
}
