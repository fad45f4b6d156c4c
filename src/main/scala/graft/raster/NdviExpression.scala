package graft.raster

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, NullType, NumericType}

/** The NDVI kernel (N2–N8) as a native Catalyst expression — the perf
  * path promised in SURVEY.md §7 step 2.
  *
  * Why: Spark's higher-order functions (zip_with/aggregate) evaluate their
  * lambda interpreted, per element — fine for correctness, slow for 65k
  * pixels per tile. This expression runs one JIT-compiled imperative loop
  * per tile over primitive ArrayData. It is also MORE faithful than the
  * Column chain: the ratio uses true float32 division (NumPy semantics,
  * reference src/transform/compute_ndvi.py:62-65), not Spark's
  * double-divide-then-cast.
  *
  * Null element = masked pixel (N7: -9999 only at the sink boundary).
  */
case class NdviKernelExpr(children: Seq[Expression]) extends Expression {

  require(children.length == 4,
    "NdviKernelExpr(redPx, nirPx, redNodata, nirNodata)")

  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def nullable: Boolean = children.take(2).exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    def arrOk(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    def nodataOk(dt: DataType) = dt match {
      case NullType => true
      case _: NumericType => true
      case _ => false
    }
    if (!arrOk(children(0).dataType) || !arrOk(children(1).dataType))
      TypeCheckResult.TypeCheckFailure(
        s"ndvi_kernel pixel arguments must be ARRAY<FLOAT>, got " +
          s"${children(0).dataType.sql}, ${children(1).dataType.sql}")
    else if (!nodataOk(children(2).dataType) || !nodataOk(children(3).dataType))
      TypeCheckResult.TypeCheckFailure(
        s"ndvi_kernel nodata arguments must be numeric or NULL, got " +
          s"${children(2).dataType.sql}, ${children(3).dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  private def nodataToFloat(v: Any): Float = v match {
    case null => Float.NaN
    case n: Number => n.floatValue
    case other => other.toString.toFloat
  }

  override def eval(input: InternalRow): Any = {
    val redAny = children(0).eval(input)
    val nirAny = children(1).eval(input)
    if (redAny == null || nirAny == null) return null
    // nodata children evaluated only when the arrays are non-null — the
    // generated code below preserves this order.
    NdviKernelExpr.compute(
      redAny.asInstanceOf[ArrayData], nirAny.asInstanceOf[ArrayData],
      nodataToFloat(children(2).eval(input)),
      nodataToFloat(children(3).eval(input)))
  }

  /** Custom codegen, NOT defineCodeGen: a NULL nodata child is a valid
    * input (no declared nodata → NaN sentinel), so only the two pixel
    * arrays propagate null. The kernel body is one static call — the
    * generated projection stays inside whole-stage codegen. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = children(0).genCode(ctx)
    val n = children(1).genCode(ctx)
    val rndVar = ctx.freshName("rnd")
    val nndVar = ctx.freshName("nnd")
    // NullType literals generate `((Object) null)` values — emit the NaN
    // sentinel directly instead of a (float) cast that Janino rejects.
    def nodataCode(child: Expression, target: String): String =
      if (child.dataType == NullType) s"float $target = Float.NaN;"
      else {
        val c = child.genCode(ctx)
        s"""${c.code}
           float $target = ${c.isNull} ? Float.NaN : (float) ${c.value};"""
      }
    val rnCode = nodataCode(children(2), rndVar)
    val nnCode = nodataCode(children(3), nndVar)
    val out = code"""
      ${r.code}
      ${n.code}
      boolean ${ev.isNull} = ${r.isNull} || ${n.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        $rnCode
        $nnCode
        ${ev.value} = graft.raster.NdviKernelExpr.compute(
          ${r.value}, ${n.value}, $rndVar, $nndVar);
      }"""
    ev.copy(code = out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

object NdviKernelExpr {

  /** The kernel body (shared by eval and generated code): one imperative
    * float32 loop per tile, written straight into a primitive
    * UnsafeArrayData (masked pixel = null bit). NaN nodata sentinel = no
    * declared nodata (NaN == x is false for every x, so the mask term
    * vanishes). */
  def compute(red: ArrayData, nir: ArrayData, rnd: Float, nnd: Float): ArrayData = {
    val nPx = red.numElements()
    val out = UnsafeArrayData.createFreshArray(nPx, 4)
    var i = 0
    while (i < nPx) {
      if (red.isNullAt(i) || nir.isNullAt(i)) {
        out.setNullAt(i)
      } else {
        val r0 = red.getFloat(i)
        val n0 = nir.getFloat(i)
        // N3: raw-DN mask (fill 0 + declared nodata) BEFORE scaling
        if (r0 == 0f || n0 == 0f || r0 == rnd || n0 == nnd) {
          out.setNullAt(i)
        } else {
          // N4: float32 scaling
          val r = r0 * NdviKernel.Scale + NdviKernel.Offset
          val n = n0 * NdviKernel.Scale + NdviKernel.Offset
          // N5: non-finite mask
          if (java.lang.Float.isNaN(r) || java.lang.Float.isInfinite(r) ||
              java.lang.Float.isNaN(n) || java.lang.Float.isInfinite(n)) {
            out.setNullAt(i)
          } else {
            // N6: true float32 epsilon-safe division; N8: clamp
            val v = (n - r) / (n + r + NdviKernel.Eps)
            val clamped = if (java.lang.Float.isNaN(v)) v
              else if (v < -1f) -1f else if (v > 1f) 1f else v
            if (java.lang.Float.isNaN(clamped) || java.lang.Float.isInfinite(clamped))
              out.setNullAt(i)
            else out.setFloat(i, clamped)
          }
        }
      }
      i += 1
    }
    out
  }

  /** Column wrapper: ndvi_kernel(redPx, nirPx, redNodata, nirNodata). */
  def apply(redPx: Column, nirPx: Column,
            redNodata: Column, nirNodata: Column): Column =
    Bridge.toColumn(NdviKernelExpr(Seq(
      Bridge.toExpression(redPx), Bridge.toExpression(nirPx),
      Bridge.toExpression(redNodata), Bridge.toExpression(nirNodata))))
}
