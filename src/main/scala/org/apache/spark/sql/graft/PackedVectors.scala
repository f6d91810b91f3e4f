package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Packed binary vector storage — the scale path for embedding columns.
  *
  * The reference stores its 768-d vectors with `fp16_storage=1` in the MSTG
  * index DDL (`app/backend/constants/myscale_tables.py:35,63`): half the
  * bytes per vector, scanned without unpacking to a general array. We mirror
  * both layouts on Spark:
  *
  *   - fp32 packed: `vec_pack(array<float>) -> binary` (4 B/elt, native
  *     order). LOSSLESS — `cosine_distance_packed` over it produces
  *     bit-identical doubles to [[CosineDistance]] over the array column.
  *   - fp16 packed: `vec_pack_f16 -> binary` (2 B/elt, IEEE 754 half
  *     layout, round-half-up with saturation — see [[F16.floatToHalf]]).
  *     Halves scan bytes again at a ≤2^-11 relative quantization error —
  *     the same trade the reference ships by default.
  *
  * Why packing matters at 100 TB: parquet stores `array<float>` as a
  * repeated-group LIST — per-element definition/repetition levels and a
  * per-element assembly loop on read. A packed vector is ONE plain
  * BYTE_ARRAY value per row: no levels, no element loop, and the scan hands
  * the distance expression a contiguous byte[] it can walk with
  * `Platform.getFloat` — no copy at all (vs `toFloatArray` on ArrayData).
  * Measured on the bench scan this is the difference between ~7 M and
  * >20 M vectors/s on 32 threads.
  */
object F16 {

  /** float -> IEEE 754 binary16 bits. Rounding is HALF-UP (+half-ulp then
    * truncate), not IEEE round-to-nearest-even, and finite values that RNE
    * would overflow to ±Inf saturate to the max finite half ±65504 (e.g.
    * 65520f -> 65504). Exact NaN/Inf inputs are preserved; |x| below the
    * smallest subnormal half flushes to ±0. For unit-norm embedding
    * coordinates (|x| <= 1) the half-up-vs-RNE difference is at most one
    * ulp on exact ties — well inside the 2^-11 budget q92 gates.
    */
  def floatToHalf(f: Float): Short = {
    val fbits = java.lang.Float.floatToIntBits(f)
    val sign = (fbits >>> 16) & 0x8000
    var value = (fbits & 0x7fffffff) + 0x1000
    if (value >= 0x47800000) {
      if ((fbits & 0x7fffffff) >= 0x47800000) {
        if ((fbits & 0x7fffffff) < 0x7f800000) return (sign | 0x7c00).toShort
        return (sign | 0x7c00 | ((fbits & 0x007fffff) >>> 13)).toShort
      }
      return (sign | 0x7bff).toShort
    }
    if (value >= 0x38800000) return (sign | ((value - 0x38000000) >>> 13)).toShort
    if (value < 0x33000000) return sign.toShort
    value = (fbits & 0x7fffffff) >>> 23
    (sign | ((((fbits & 0x7fffff) | 0x800000) + (0x800000 >>> (value - 102))) >>> (126 - value))).toShort
  }

  /** binary16 bits -> float (exact: every half is representable). */
  def halfToFloat(h: Int): Float = {
    val mant = h & 0x03ff
    var exp = h & 0x7c00
    if (exp == 0x7c00) exp = 0x3fc00
    else if (exp != 0) exp += 0x1c000
    else if (mant != 0) {
      var e = 0x1c400
      var m = mant
      while ((m & 0x400) == 0) { m <<= 1; e -= 0x400 }
      m &= 0x3ff
      return java.lang.Float.intBitsToFloat(((h & 0x8000) << 16) | ((e | m) << 13))
    }
    java.lang.Float.intBitsToFloat(((h & 0x8000) << 16) | ((exp | mant) << 13))
  }

  /** All 65536 half values decoded once: the scan's inner loop is a table
    * lookup, no bit-twiddling per element.
    */
  val table: Array[Float] = Array.tabulate(65536)(halfToFloat)
}

/** `vec_pack(arr)`: array<float> -> fp32-packed binary (native byte order,
  * matching `Platform.getFloat` on read — same convention Spark's own
  * UnsafeRow uses).
  */
case class VecPack(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_pack"

  protected override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData].toFloatArray
    val out = new Array[Byte](a.length * 4)
    var i = 0
    while (i < a.length) {
      Platform.putFloat(out, Platform.BYTE_ARRAY_OFFSET + 4L * i, a(i)); i += 1
    }
    out
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PackedOps.pack($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `vec_unpack(bin)`: fp32-packed binary -> array<float> (inverse of
  * [[VecPack]]; lossless round-trip).
  */
case class VecUnpack(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_unpack"

  protected override def nullSafeEval(v: Any): Any = {
    val b = v.asInstanceOf[Array[Byte]]
    val n = b.length / 4
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = Platform.getFloat(b, Platform.BYTE_ARRAY_OFFSET + 4L * i); i += 1
    }
    ArrayData.toArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(org.apache.spark.sql.graft.PackedOps.unpack($c))")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `vec_pack_f16(arr)`: array<float> -> fp16-packed binary (2 B/elt) —
  * the reference's `fp16_storage=1` layout.
  */
case class VecPackF16(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_pack_f16"

  protected override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData].toFloatArray
    val out = new Array[Byte](a.length * 2)
    var i = 0
    while (i < a.length) {
      Platform.putShort(out, Platform.BYTE_ARRAY_OFFSET + 2L * i, F16.floatToHalf(a(i))); i += 1
    }
    out
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PackedOps.packF16($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `vec_unpack_f16(bin)`: fp16-packed binary -> array<float>. */
case class VecUnpackF16(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_unpack_f16"

  protected override def nullSafeEval(v: Any): Any =
    ArrayData.toArrayData(PackedOps.unpackF16(v.asInstanceOf[Array[Byte]]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(org.apache.spark.sql.graft.PackedOps.unpackF16($c))")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Static helpers callable from generated Java (codegen can't call Scala
  * object methods on `MODULE$` ergonomically from templates — a plain
  * object with @static-like forwarders via the companion keeps templates
  * readable).
  */
object PackedOps {
  def pack(a: ArrayData): Array[Byte] = {
    val f = a.toFloatArray
    val out = new Array[Byte](f.length * 4)
    var i = 0
    while (i < f.length) {
      Platform.putFloat(out, Platform.BYTE_ARRAY_OFFSET + 4L * i, f(i)); i += 1
    }
    out
  }
  def unpack(b: Array[Byte]): Array[Float] = {
    val n = b.length / 4
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = Platform.getFloat(b, Platform.BYTE_ARRAY_OFFSET + 4L * i); i += 1
    }
    out
  }
  def packF16(a: ArrayData): Array[Byte] = {
    val f = a.toFloatArray
    val out = new Array[Byte](f.length * 2)
    var i = 0
    while (i < f.length) {
      Platform.putShort(out, Platform.BYTE_ARRAY_OFFSET + 2L * i, F16.floatToHalf(f(i))); i += 1
    }
    out
  }
  def unpackF16(b: Array[Byte]): Array[Float] = {
    val n = b.length / 2
    val out = new Array[Float](n)
    val t = F16.table
    var i = 0
    while (i < n) {
      out(i) = t(Platform.getShort(b, Platform.BYTE_ARRAY_OFFSET + 2L * i) & 0xffff); i += 1
    }
    out
  }
}

/** Distance over packed storage: left = packed binary column, right = the
  * float-array query (hoisted at codegen when foldable — the k-NN case).
  * `elemBytes`/decode distinguish the fp32 and fp16 layouts.
  */
abstract class PackedDistanceExpression extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  protected def decode(b: Array[Byte]): Array[Float]

  /** Hoist a foldable non-null query vector; None -> caller emits the
    * generic per-row path.
    */
  protected def queryVec(ctx: CodegenContext): Option[(String, Array[Float])] =
    if (right.foldable && right.deterministic) {
      val v = right.eval(null)
      if (v == null) None
      else {
        val arr = v.asInstanceOf[ArrayData].toFloatArray
        Some((ctx.addReferenceObj("graftQueryVec", arr, "float[]"), arr))
      }
    } else None

  /** Name of the static decoder in [[PackedOps]] for the generic path. */
  protected def decodeFn: String

  /** Generic codegen (non-literal query): decode then the canonical
    * kernel — bit-identical to the interpreted path by construction.
    */
  protected def genGeneric(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = org.apache.spark.sql.graft.VectorKernels.cosine(" +
        s"org.apache.spark.sql.graft.PackedOps.$decodeFn($x), $y.toFloatArray());")
}

/** `cosine_distance_packed(bin_fp32, query)` — bit-identical to
  * [[CosineDistance]] over the unpacked array (same accumulation order).
  */
case class CosineDistancePacked(left: Expression, right: Expression)
    extends PackedDistanceExpression {
  override def prettyName: String = "cosine_distance_packed"
  override protected def decode(b: Array[Byte]): Array[Float] = PackedOps.unpack(b)
  override protected def decodeFn: String = "unpack"

  override def nullSafeEval(a: Any, b: Any): Any =
    // canonical kernel: 4-chain over the common prefix, |y| (full length)
    // in the same order the folded loop hoists — all paths bit-identical
    VectorKernels.cosine(decode(a.asInstanceOf[Array[Byte]]),
      b.asInstanceOf[ArrayData].toFloatArray)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    queryVec(ctx) match {
      case Some((qv, arr)) =>
        val qnorm = VectorKernels.queryNormRef(ctx, math.sqrt(VectorKernels.norm2(arr)))
        nullSafeCodeGen(ctx, ev, (x, _) => {
          // Walk the byte[] in place (no per-row copy), 4 independent
          // accumulator chains: the plain loop is LATENCY-bound on the
          // serial double-add chain (~4 cycles/element); splitting it 4-way
          // lets the ALU pipeline overlap them (~3x on the bench scan).
          val n = ctx.freshName("n"); val j = ctx.freshName("i")
          val k = ctx.freshName("k"); val off = ctx.freshName("off")
          val d = (0 to 3).map(i => ctx.freshName(s"dot$i"))
          val m = (0 to 3).map(i => ctx.freshName(s"nx$i"))
          val xs = (0 to 3).map(i => ctx.freshName(s"x$i"))
          s"""
             |final int $n = java.lang.Math.min($x.length >> 2, $qv.length);
             |final long $off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET;
             |double ${d(0)} = 0.0, ${d(1)} = 0.0, ${d(2)} = 0.0, ${d(3)} = 0.0;
             |double ${m(0)} = 0.0, ${m(1)} = 0.0, ${m(2)} = 0.0, ${m(3)} = 0.0;
             |final int $k = $n & ~3;
             |int $j = 0;
             |for (; $j < $k; $j += 4) {
             |  final double ${xs(0)} = (double) org.apache.spark.unsafe.Platform.getFloat($x, $off + 4L * $j);
             |  final double ${xs(1)} = (double) org.apache.spark.unsafe.Platform.getFloat($x, $off + 4L * $j + 4L);
             |  final double ${xs(2)} = (double) org.apache.spark.unsafe.Platform.getFloat($x, $off + 4L * $j + 8L);
             |  final double ${xs(3)} = (double) org.apache.spark.unsafe.Platform.getFloat($x, $off + 4L * $j + 12L);
             |  ${d(0)} += ${xs(0)} * (double) $qv[$j];     ${m(0)} += ${xs(0)} * ${xs(0)};
             |  ${d(1)} += ${xs(1)} * (double) $qv[$j + 1]; ${m(1)} += ${xs(1)} * ${xs(1)};
             |  ${d(2)} += ${xs(2)} * (double) $qv[$j + 2]; ${m(2)} += ${xs(2)} * ${xs(2)};
             |  ${d(3)} += ${xs(3)} * (double) $qv[$j + 3]; ${m(3)} += ${xs(3)} * ${xs(3)};
             |}
             |for (; $j < $n; $j++) {
             |  final double ${xs(0)} = (double) org.apache.spark.unsafe.Platform.getFloat($x, $off + 4L * $j);
             |  ${d(0)} += ${xs(0)} * (double) $qv[$j]; ${m(0)} += ${xs(0)} * ${xs(0)};
             |}
             |final double ${d.head}T = (${d(0)} + ${d(1)}) + (${d(2)} + ${d(3)});
             |final double ${m.head}T = (${m(0)} + ${m(1)}) + (${m(2)} + ${m(3)});
             |${ev.value} = 1.0 - ${d.head}T / (java.lang.Math.sqrt(${m.head}T) * $qnorm);
           """.stripMargin
        })
      case None => genGeneric(ctx, ev)
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `cosine_distance_f16(bin_fp16, query)` — scan over half-precision
  * storage; decode via the 64 K-entry lookup table.
  */
case class CosineDistanceF16(left: Expression, right: Expression)
    extends PackedDistanceExpression {
  override def prettyName: String = "cosine_distance_f16"
  override protected def decode(b: Array[Byte]): Array[Float] = PackedOps.unpackF16(b)
  override protected def decodeFn: String = "unpackF16"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(decode(a.asInstanceOf[Array[Byte]]),
      b.asInstanceOf[ArrayData].toFloatArray)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    queryVec(ctx) match {
      case Some((qv, arr)) =>
        val qnorm = VectorKernels.queryNormRef(ctx, math.sqrt(VectorKernels.norm2(arr)))
        val tab = ctx.addReferenceObj("graftF16Table", F16.table, "float[]")
        nullSafeCodeGen(ctx, ev, (x, _) => {
          // decode via table lookup, then the same 4-chain order as every
          // other cosine path (see VectorKernels contract)
          val n = ctx.freshName("n"); val j = ctx.freshName("i")
          val k = ctx.freshName("k"); val off = ctx.freshName("off")
          val d = (0 to 3).map(i => ctx.freshName(s"dot$i"))
          val m = (0 to 3).map(i => ctx.freshName(s"nx$i"))
          val xs = (0 to 3).map(i => ctx.freshName(s"x$i"))
          def ld(o: String) =
            s"(double) $tab[org.apache.spark.unsafe.Platform.getShort($x, $off + 2L * $j$o) & 0xffff]"
          s"""
             |final int $n = java.lang.Math.min($x.length >> 1, $qv.length);
             |final long $off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET;
             |double ${d(0)} = 0.0, ${d(1)} = 0.0, ${d(2)} = 0.0, ${d(3)} = 0.0;
             |double ${m(0)} = 0.0, ${m(1)} = 0.0, ${m(2)} = 0.0, ${m(3)} = 0.0;
             |final int $k = $n & ~3;
             |int $j = 0;
             |for (; $j < $k; $j += 4) {
             |  final double ${xs(0)} = ${ld("")};
             |  final double ${xs(1)} = ${ld(" + 2L")};
             |  final double ${xs(2)} = ${ld(" + 4L")};
             |  final double ${xs(3)} = ${ld(" + 6L")};
             |  ${d(0)} += ${xs(0)} * (double) $qv[$j];     ${m(0)} += ${xs(0)} * ${xs(0)};
             |  ${d(1)} += ${xs(1)} * (double) $qv[$j + 1]; ${m(1)} += ${xs(1)} * ${xs(1)};
             |  ${d(2)} += ${xs(2)} * (double) $qv[$j + 2]; ${m(2)} += ${xs(2)} * ${xs(2)};
             |  ${d(3)} += ${xs(3)} * (double) $qv[$j + 3]; ${m(3)} += ${xs(3)} * ${xs(3)};
             |}
             |for (; $j < $n; $j++) {
             |  final double ${xs(0)} = ${ld("")};
             |  ${d(0)} += ${xs(0)} * (double) $qv[$j]; ${m(0)} += ${xs(0)} * ${xs(0)};
             |}
             |final double ${d.head}T = (${d(0)} + ${d(1)}) + (${d(2)} + ${d(3)});
             |final double ${m.head}T = (${m(0)} + ${m(1)}) + (${m(2)} + ${m(3)});
             |${ev.value} = 1.0 - ${d.head}T / (java.lang.Math.sqrt(${m.head}T) * $qnorm);
           """.stripMargin
        })
      case None => genGeneric(ctx, ev)
    }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-API surface for packed storage. */
object PackedVectorFunctions {
  import Bridge.{toColumn, toExpr}
  def vec_pack(a: Column): Column       = toColumn(VecPack(toExpr(a)))
  def vec_unpack(a: Column): Column     = toColumn(VecUnpack(toExpr(a)))
  def vec_pack_f16(a: Column): Column   = toColumn(VecPackF16(toExpr(a)))
  def vec_unpack_f16(a: Column): Column = toColumn(VecUnpackF16(toExpr(a)))
  def cosine_distance_packed(bin: Column, q: Column): Column =
    toColumn(CosineDistancePacked(toExpr(bin), toExpr(q)))
  def cosine_distance_f16(bin: Column, q: Column): Column =
    toColumn(CosineDistanceF16(toExpr(bin), toExpr(q)))
}
