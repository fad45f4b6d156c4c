package graft.raster

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression,
  GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  IntegerType, LongType, NullType, NumericType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.geo.Wkt
import graft.model.RasterModel

/** The per-tile raster kernels as native Catalyst expressions — the perf
  * path promised in SURVEY.md §7 step 2: NDVI (N2–N8), the AOI clip mask
  * and the (sum, count) partial of the mean. Spark's higher-order
  * functions (zip_with/aggregate) evaluate their lambda interpreted, per
  * element; each expression here runs one JIT-compiled loop per tile over
  * primitive ArrayData.
  *
  * [[TileKernel]] is their shared shape: interpreted and generated code
  * alike evaluate every argument and make ONE call to `kernel` per row
  * (per tile, not per pixel), so the boxed argument array costs nothing
  * measurable and the generated projection stays in whole-stage codegen.
  * A null result is NULL.
  */
trait TileKernel extends Expression {

  /** The kernel over the argument values (NULL as null). */
  def kernel(args: Array[Any]): Any

  override def eval(input: InternalRow): Any = kernel(children.map(_.eval(input)).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = children.map(_.genCode(ctx))
    val args = children.zip(cs).map { case (c, g) =>
      val v = if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${g.value})" else g.value.toString
      s"${g.isNull} ? null : (Object) $v"
    }
    val self = ctx.addReferenceObj("kernel", this)
    val r = ctx.freshName("result")
    ev.copy(code = code"""
      ${cs.map(_.code).reduce(_ + _)}
      Object $r = $self.kernel(new Object[] {${args.mkString(", ")}});
      boolean ${ev.isNull} = $r == null;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ?
        ${CodeGenerator.defaultValue(dataType)} : (${CodeGenerator.boxedType(dataType)}) $r;""")
  }
}

/** The NDVI kernel (N2–N8). The ratio uses true float32 division (NumPy
  * semantics, reference src/transform/compute_ndvi.py:62-65). A NULL
  * nodata argument means no declared nodata; NULL pixel arrays give NULL.
  *
  * Null element = masked pixel (N7: -9999 only at the sink boundary).
  */
case class NdviKernelExpr(children: Seq[Expression]) extends TileKernel {

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

  def kernel(a: Array[Any]): Any =
    if (a(0) == null || a(1) == null) null
    else NdviKernelExpr.compute(a(0).asInstanceOf[ArrayData], a(1).asInstanceOf[ArrayData],
      nodataToFloat(a(2)), nodataToFloat(a(3)))

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

/** The AOI clip mask (C6): `pixels` with every pixel whose centre lies
  * outside `geom_wkt` nulled, equal bit for bit to `st_contains` at each
  * centre. Centres are [[Clip.tileBounds]]'s double expressions (a NULL or
  * missing transform element makes them NaN: every pixel outside); each
  * pixel row takes `Wkt.inRing`'s edge crossings, ring by ring and edge by
  * edge with its formula, sorted, and a pixel is inside a polygon when an
  * odd number of them lie right of it (`x < xcross`); polygons combine by
  * OR. A tile wholly inside passes its array through; any NULL argument
  * gives NULL; pixels past width × height are outside. */
case class ClipMaskExpr(children: Seq[Expression]) extends TileKernel with ExpectsInputTypes {

  require(children.length == 7,
    "ClipMaskExpr(pixels, width, height, tile_col, tile_row, transform, geom_wkt)")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), IntegerType,
    IntegerType, IntegerType, IntegerType, ArrayType(DoubleType), StringType)
  override def prettyName: String = "clip_mask"
  override def dataType: DataType = ArrayType(FloatType, containsNull = true)
  override def nullable: Boolean = children.exists(_.nullable)

  // each AOI parsed once, keyed like st_contains
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, IndexedSeq[Wkt.Polygon]]()

  def kernel(args: Array[Any]): Any = if (args.contains(null)) null else {
    val px = args(0).asInstanceOf[ArrayData]
    val Array(w, h, tileCol, tileRow) = args.slice(1, 5).map(_.asInstanceOf[Int])
    val tf = args(5).asInstanceOf[ArrayData]
    def t(k: Int) = if (k < tf.numElements() && !tf.isNullAt(k)) tf.getDouble(k) else Double.NaN
    val (a, e) = (t(0), t(4))
    val minx = t(2) + a * (tileCol * RasterModel.TileSize).toDouble
    val maxy = t(5) + e * (tileRow * RasterModel.TileSize).toDouble
    val wkt = args(6).asInstanceOf[UTF8String]
    val polys = Option(cache.get(wkt))
      .getOrElse(cache.computeIfAbsent(wkt.clone(), k => Wkt.parse(k.toString).toIndexedSeq))
    val cross = polys.map(p => new Array[Double](p.rings.map(_.length).sum))
    val nCross = new Array[Int](polys.length)
    val n = px.numElements()
    val inGrid = if (w > 0 && h > 0) math.min(n.toLong, w.toLong * h).toInt else 0
    var out: UnsafeArrayData = null
    var i = 0
    while (i < n) {
      val inside = i < inGrid && {
        val col = i % w
        if (col == 0) {  // a new pixel row: each polygon's crossings of its centre line
          val y = maxy + e * ((i / w).toDouble + 0.5)
          for (p <- polys.indices) {
            var k = 0
            for (ring <- polys(p).rings) {
              var j = ring.length - 1
              for (q <- ring.indices) {
                val (xi, yi) = ring(q); val (xj, yj) = ring(j)
                if ((yi > y) != (yj > y)) {
                  val xc = (xj - xi) * (y - yi) / (yj - yi) + xi
                  if (!xc.isNaN) { cross(p)(k) = xc; k += 1 }  // no x is < NaN
                }
                j = q
              }
            }
            java.util.Arrays.sort(cross(p), 0, k)
            nCross(p) = k
          }
        }
        val x = minx + a * (col.toDouble + 0.5)
        var hit = false
        var p = 0
        while (!hit && p < polys.length) {
          var lo = 0; var hi = nCross(p)  // first crossing right of x
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (x < cross(p)(mid)) hi = mid else lo = mid + 1
          }
          hit = ((nCross(p) - lo) & 1) == 1
          p += 1
        }
        hit
      }
      if (!inside && out == null) {  // first pixel out: copy the kept prefix
        out = UnsafeArrayData.createFreshArray(n, 4)
        for (k <- 0 until i) if (px.isNullAt(k)) out.setNullAt(k) else out.setFloat(k, px.getFloat(k))
      }
      if (out != null) {
        if (inside && !px.isNullAt(i)) out.setFloat(i, px.getFloat(i)) else out.setNullAt(i)
      }
      i += 1
    }
    if (out == null) px else out
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

object ClipMaskExpr {
  /** clip_mask(pixels, width, height, tile_col, tile_row, transform, geom_wkt). */
  def apply(cols: Column*): Column = Bridge.toColumn(ClipMaskExpr(cols.map(Bridge.toExpression)))
}

/** The per-tile partial of the nodata-aware mean (A1): struct(s, c), `s`
  * the double sum of the non-null pixels in array order, `c` their count.
  * NULL in, NULL out; an empty or all-null array gives (0.0, 0). */
case class SumCountExpr(child: Expression) extends TileKernel with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def prettyName: String = "sum_count"
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = StructType(Seq(
    StructField("s", DoubleType, nullable = false), StructField("c", LongType, nullable = false)))

  def kernel(args: Array[Any]): Any = args(0) match {
    case null => null
    case px: ArrayData =>
      var s = 0.0; var c = 0L; var i = 0
      while (i < px.numElements()) {
        if (!px.isNullAt(i)) { s += px.getFloat(i); c += 1 }
        i += 1
      }
      new GenericInternalRow(Array[Any](s, c))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren.head)
}

object SumCountExpr {
  /** sum_count(pixels). */
  def apply(pixels: Column): Column = Bridge.toColumn(SumCountExpr(Bridge.toExpression(pixels)))
}
