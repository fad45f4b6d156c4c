package graft

import org.apache.spark.sql.functions._
import graft.model.RasterModel
import graft.raster.{Clip, NdviKernel, Resample}

/** FIXTURES.md §1 golden values — exact float32 semantics of
  * reference compute_ndvi.py:32-93 on the replicated dummy-band fixtures. */
class NdviKernelSpec extends SparkSpec {

  private def ndviOf(tiles: org.apache.spark.sql.DataFrame): Array[Option[Float]] = {
    val row = NdviKernel.computeNdvi(tiles).select("pixels").head
    row.getSeq[Any](0).map(v => Option(v).map(_.asInstanceOf[Float])).toArray
  }

  test("dummy_constant: red=1000, nir=3000 -> exactly -0.18965582f everywhere") {
    val px = ndviOf(RasterModel.dummyConstant(spark))
    assert(px.length == 10000)                  // shape preserved
    assert(px.forall(_.isDefined))              // all finite/unmasked
    // scaled: red=-0.1725, nir=-0.1175; (nir-red)/(nir+red+1e-6) in float32.
    val expected = {
      val r = 1000f * 2.75e-5f + -0.2f
      val n = 3000f * 2.75e-5f + -0.2f
      (n - r) / (n + r + 1e-6f)
    }
    assert(expected < 0f && math.abs(expected - -0.18965582f) < 1e-7f,
      s"fixture math sanity: $expected")        // catches scale-order bugs (raw DN would give +0.5)
    assert(px.forall(_.get == expected))
    assert(px.forall(p => p.get >= -1f && p.get <= 1f))
  }

  test("dummy_fill: red DN=0 -> masked (NULL internally, -9999 at sink)") {
    val tiles = RasterModel.dummyBand(spark, "red", 0f, w = 4, h = 4)
      .unionByName(RasterModel.dummyBand(spark, "nir", 3000f, w = 4, h = 4))
    val px = ndviOf(tiles)
    assert(px.forall(_.isEmpty))
    // the NDVI tiles declare -9999 as their nodata for the sink boundary
    val nodata = NdviKernel.computeNdvi(tiles).select("nodata").head.getDouble(0)
    assert(nodata == -9999.0 && nodata == NdviKernel.NodataOut)
  }

  test("dummy_declared_nodata: DN == declared nodata -> masked") {
    val tiles = RasterModel.dummyBand(spark, "red", 7f, w = 2, h = 2, nodata = Some(7.0))
      .unionByName(RasterModel.dummyBand(spark, "nir", 3000f, w = 2, h = 2, nodata = Some(0.0)))
    assert(ndviOf(tiles).forall(_.isEmpty))
  }

  test("dummy_extreme: red=1, nir=65535 stays clamped in [-1,1]") {
    val tiles = RasterModel.dummyBand(spark, "red", 1f, w = 2, h = 2)
      .unionByName(RasterModel.dummyBand(spark, "nir", 65535f, w = 2, h = 2))
    val px = ndviOf(tiles)
    assert(px.forall(p => p.isDefined && p.get >= -1f && p.get <= 1f))
  }

  test("dummy_grid_mismatch: nir 50x50 vs red 100x100 -> 'not on the same grid' error") {
    val tiles = RasterModel.dummyBand(spark, "red", 1000f, w = 100, h = 100)
      .unionByName(RasterModel.dummyBand(spark, "nir", 3000f, w = 50, h = 50))
    val e = intercept[Exception] {
      NdviKernel.computeNdvi(tiles).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("not on the same grid"))
  }

  test("_nanmean semantics: {0.2, 0.4, nodata, NaN-ish} -> 0.3; all-nodata -> NULL") {
    import spark.implicits._
    val tiles = Seq(
      RasterModel.BandTile("S1", "ndvi", 0, 0, 2, 2, 4326,
        Seq(0.1, 0, 0, 0, -0.1, 0), Some(-9999.0),
        Seq(Some(0.2f), Some(0.4f), None, None)),
      RasterModel.BandTile("S2", "ndvi", 0, 0, 2, 1, 4326,
        Seq(0.1, 0, 0, 0, -0.1, 0), Some(-9999.0),
        Seq(None, None))).toDF()
    val got = NdviKernel.meanNdviPerScene(tiles).orderBy("scene_id").collect()
    assert(math.abs(got(0).getDouble(1) - 0.3) < 1e-7 && got(0).getLong(2) == 2)
    assert(got(1).isNullAt(1) && got(1).getLong(2) == 0)
  }

  test("clip: disjoint AOI produces empty result (overlap error path)") {
    val ndvi = NdviKernel.computeNdvi(RasterModel.dummyConstant(spark))
    val clipped = Clip.clipToAoi(ndvi, RasterModel.aoiDisjoint(spark))
    assert(clipped.isEmpty)
    val e = intercept[IllegalArgumentException] {
      Clip.requireOverlap(clipped.count(), inputNonEmpty = true)
    }
    assert(e.getMessage.contains("do not overlap"))
  }

  test("clip: overlapping AOI keeps interior pixels, nulls exterior") {
    val ndvi = NdviKernel.computeNdvi(RasterModel.dummyConstant(spark))
    val clipped = Clip.clipToAoi(ndvi, RasterModel.aoiOverlap(spark))
    val px = clipped.select("pixels").head.getSeq[Any](0)
      .map(v => Option(v).map(_.asInstanceOf[Float]))
    // AOI box (0.5,-9.5)-(9.5,-0.5) on a 10x10-degree raster, 0.1-deg pixels:
    // pixel centers at 0.05+0.1*i; inside = 5..94 in both axes -> 90x90 kept.
    assert(px.count(_.isDefined) == 8100)
    assert(px.count(_.isEmpty) == 1900)
    // corner pixel (0,0) outside; center pixel (50,50) inside
    assert(px.head.isEmpty)
    assert(px(50 * 100 + 50).isDefined)
  }

  test("overview 2x: 4 known pixels average; nodata-aware") {
    import spark.implicits._
    val tiles = Seq(
      RasterModel.BandTile("S1", "ndvi", 0, 0, 2, 2, 4326,
        Seq(0.1, 0, 0, 0, -0.1, 0), Some(-9999.0),
        Seq(Some(0.1f), Some(0.2f), Some(0.3f), None))).toDF()
    val out = Resample.overview(tiles, 2).select("pixels", "width", "height", "transform").head
    val px = out.getSeq[Any](0)
    assert(out.getInt(1) == 1 && out.getInt(2) == 1)
    val v = px.head.asInstanceOf[Float]
    assert(math.abs(v - 0.2f) < 1e-6f) // mean of the 3 valid pixels
    assert(out.getSeq[Double](3).head == 0.2) // pixel size doubled
  }
}
