package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{BooleanType, DataType, NumericType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

/** st_contains(wkt, x, y): point-in-polygon as a native Catalyst expression
  * (SURVEY.md §7: custom expressions only for geometry predicates Spark
  * lacks). Null-safe ternary; the parsed polygon is memoized per WKT string
  * so a constant AOI parses once per task, not once per row.
  *
  * CodegenFallback is acceptable here: the expression sits behind the
  * envelope-overlap pre-filter (the EnvelopePrefilter rule prunes by bbox
  * with codegen'd comparisons). The raster clip does not call it per
  * pixel: [[graft.raster.ClipMaskExpr]] masks whole tiles, equal to it at
  * every pixel centre.
  */
case class PointInPolygon(wktExpr: Expression, xExpr: Expression, yExpr: Expression,
                          envApplied: Boolean = false)
    extends TernaryExpression with CodegenFallback {

  override def first: Expression = wktExpr
  override def second: Expression = xExpr
  override def third: Expression = yExpr

  override def dataType: DataType = BooleanType
  override def nullable: Boolean =
    wktExpr.nullable || xExpr.nullable || yExpr.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (wktExpr.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"st_contains geometry argument must be STRING WKT, got ${wktExpr.dataType.sql}")
    else if (!xExpr.dataType.isInstanceOf[NumericType] ||
             !yExpr.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckFailure(
        s"st_contains coordinates must be numeric, got " +
          s"${xExpr.dataType.sql}, ${yExpr.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  // ConcurrentHashMap: an expression instance can be evaluated from
  // multiple task threads in interpreted paths. Keyed by the UTF8String
  // itself (byte-wise hash and equality), so a hit decodes nothing.
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, Seq[Wkt.Polygon]]()

  private def toDouble(v: Any): Double = v match {
    case d: Double => d
    case n: Number => n.doubleValue
    case other => other.toString.toDouble
  }

  override protected def nullSafeEval(wkt: Any, x: Any, y: Any): Any = {
    val s = wkt.asInstanceOf[UTF8String]
    var polys = cache.get(s)
    // a miss stores a copy: `s` may point into a reused row buffer
    if (polys == null) polys = cache.computeIfAbsent(s.clone(), k => Wkt.parse(k.toString))
    Wkt.contains(polys, toDouble(x), toDouble(y))
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(wktExpr = newFirst, xExpr = newSecond, yExpr = newThird)
}

object GeoExpressions {
  /** Column wrapper: st_contains(geomWkt, x, y). */
  def st_contains(wkt: Column, x: Column, y: Column): Column =
    Bridge.toColumn(PointInPolygon(
      Bridge.toExpression(wkt),
      Bridge.toExpression(x),
      Bridge.toExpression(y)))
}
