package graft

import org.apache.spark.sql.functions._
import graft.model.RasterModel
import graft.raster.NdviKernel

/** The native NdviKernelExpr against a plain-array float32 NDVI written
  * here (N3–N8 straight from the reference's NumPy order of operations):
  * identical output on the golden fixture and on randomized DN tiles
  * (seeded), including mask/nodata/extreme branches. */
class NdviExprSpec extends SparkSpec {
  import spark.implicits._

  private def pixelsOf(df: org.apache.spark.sql.DataFrame): Seq[Option[Float]] =
    df.orderBy("scene_id").collect().toSeq.flatMap(
      _.getSeq[Any](9).map(v => Option(v).map(_.asInstanceOf[Float])))

  /** Reference NDVI for one DN pair: None = masked. */
  private def ndviRef(red: Option[Float], nir: Option[Float],
                      redNodata: Option[Double], nirNodata: Option[Double]): Option[Float] =
    for {
      r0 <- red; n0 <- nir
      if r0 != 0f && n0 != 0f &&
        !redNodata.exists(_.toFloat == r0) && !nirNodata.exists(_.toFloat == n0)
      r = r0 * 2.75e-5f - 0.2f
      n = n0 * 2.75e-5f - 0.2f
      if !r.isNaN && !r.isInfinite && !n.isNaN && !n.isInfinite
      v = math.max(-1f, math.min(1f, (n - r) / (n + r + 1e-6f)))
      if !v.isNaN && !v.isInfinite
    } yield v

  /** Reference over a band_tiles list: per scene (sorted), red × nir. */
  private def reference(tiles: Seq[RasterModel.BandTile]): Seq[Option[Float]] =
    tiles.groupBy(_.scene_id).toSeq.sortBy(_._1).flatMap { case (_, ts) =>
      val red = ts.find(_.band == "red").get
      val nir = ts.find(_.band == "nir").get
      red.pixels.zip(nir.pixels).map { case (r, n) => ndviRef(r, n, red.nodata, nir.nodata) }
    }

  test("expr path equals the plain-array reference on the golden fixture") {
    val tiles = RasterModel.dummyConstant(spark)
    val a = pixelsOf(NdviKernel.computeNdvi(tiles))
    val b = reference(tiles.as[RasterModel.BandTile].collect().toSeq)
    assert(a == b)
    // float32-exact golden value, computed in Scala float arithmetic
    // (identical to NumPy float32: -0.18965584f)
    val expected = {
      val r = 1000f * NdviKernel.Scale + NdviKernel.Offset
      val n = 3000f * NdviKernel.Scale + NdviKernel.Offset
      (n - r) / (n + r + NdviKernel.Eps)
    }
    assert(a.head.contains(expected))
  }

  test("expr path equals a plain-array reference on random DN tiles with mask branches") {
    val rng = new scala.util.Random(7)
    val mk = (scene: String, band: String) => RasterModel.BandTile(
      scene, band, 0, 0, 16, 16, 4326, Seq(0.1, 0, 0, 0, -0.1, 0), Some(7.0),
      Seq.fill(256)(rng.nextInt(20) match {
        case 0 => None                         // null pixel
        case 1 => Some(0f)                     // fill value
        case 2 => Some(7f)                     // declared nodata
        case _ => Some(rng.nextInt(65536).toFloat)
      }))
    val tiles = Seq(mk("A", "red"), mk("A", "nir"), mk("B", "red"), mk("B", "nir"))
    val a = pixelsOf(NdviKernel.computeNdvi(tiles.toDF()))
    val b = reference(tiles)
    assert(a.length == 512)
    assert(b.count(_.isEmpty) > 0 && b.count(_.isDefined) > 0)
    val diffs = a.zip(b).zipWithIndex.filter { case ((x, y), _) => x != y }
    assert(diffs.isEmpty, s"paths diverged at ${diffs.take(3)}")
  }

  test("NULL-literal and integer-literal nodata are valid inputs on both execution paths") {
    import org.apache.spark.sql.functions._
    val df = Seq((Seq(Some(1000f), Some(7f)), Seq(Some(3000f), Some(3000f))))
      .toDF("r", "n")
    // NULL nodata: no declared-nodata masking; int nodata 7 masks pixel 2
    val nullCase = df.select(graft.raster.NdviKernelExpr(
      col("r"), col("n"), lit(null), lit(null)).as("px")).head.getSeq[Any](0)
    assert(nullCase.forall(_ != null))
    val intCase = df.select(graft.raster.NdviKernelExpr(
      col("r"), col("n"), lit(7), lit(0)).as("px")).head.getSeq[Any](0)
    assert(intCase(0) != null && intCase(1) == null)
  }

  test("non-numeric nodata fails at analysis, not at runtime") {
    import org.apache.spark.sql.functions._
    val df = Seq((Seq(Some(1f)), Seq(Some(2f)))).toDF("r", "n")
    val e = intercept[Exception] {
      df.select(graft.raster.NdviKernelExpr(
        col("r"), col("n"), lit("oops"), lit(0.0)).as("px")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("nodata") ||
      e.getMessage.toLowerCase.contains("data type"), e.getMessage)
  }

  test("meanNdvi over expr path matches fixture mean") {
    val ndvi = NdviKernel.computeNdvi(RasterModel.dummyConstant(spark))
    val m = NdviKernel.meanNdviPerScene(ndvi).head
    assert(m.getLong(2) == 10000)
    assert(math.abs(m.getDouble(1) - -0.18965582) < 1e-6)
  }
}
