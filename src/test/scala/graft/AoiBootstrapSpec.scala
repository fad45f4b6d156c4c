package graft

import java.nio.file.Files
import graft.config.Settings
import graft.geo.GeoJson
import graft.model.RasterModel
import graft.pipeline.NdviPipeline
import org.apache.spark.sql.functions._

/** K10 — AOI bootstrap from a bbox-only configuration (reference
  * `ensure_aoi_geojson_from_bbox`, main.py:68-91, called from
  * main.py:100): create-if-missing GeoJSON write, idempotent reuse of an
  * existing file, readAoi round trip, and a full pipeline run that
  * starts from nothing but the bbox. */
class AoiBootstrapSpec extends SparkSpec {
  import spark.implicits._

  private def settingsWith(aoiPath: String) = Settings.fromString(
    s"""aoi:
       |  bbox: [0.5, -9.5, 9.5, -0.5]
       |  geojson_path: "$aoiPath"
       |dates:
       |  start: "2022-06-01"
       |  end:   "2022-12-31"
       |download:
       |  max_cloud_cover: 10
       |  max_items: 10
       |products:
       |  reproject_crs: "EPSG:3857"
       |  build_overviews: true""".stripMargin)

  test("K10: bootstrap writes the bbox polygon once and is idempotent") {
    val dir = Files.createTempDirectory("graft_aoi")
    val path = dir.resolve("nested/boundary.geojson").toString
    val p1 = GeoJson.ensureAoiFromBbox(Seq(0.5, -9.5, 9.5, -0.5), path)
    assert(Files.exists(java.nio.file.Paths.get(p1)), "bootstrap must write")
    val written = Files.readString(java.nio.file.Paths.get(p1))
    // create-if-missing: a second call — even with a DIFFERENT bbox —
    // must leave the existing file untouched (reference main.py:74)
    val p2 = GeoJson.ensureAoiFromBbox(Seq(-180.0, -90.0, 180.0, 90.0), path)
    assert(p1 == p2)
    assert(Files.readString(java.nio.file.Paths.get(p1)) == written,
      "an existing AOI file is used as-is, never overwritten")
  }

  test("K10: readAoi round-trips the bootstrapped file (envelope = bbox)") {
    val dir = Files.createTempDirectory("graft_aoi")
    val path = GeoJson.ensureAoiFromBbox(
      Seq(0.5, -9.5, 9.5, -0.5), dir.resolve("boundary.geojson").toString)
    val aoi = GeoJson.readAoi(spark, path)
    val r = aoi.head
    assert(aoi.count() == 1)
    assert(r.getAs[String]("name") == "AOI")
    assert(r.getAs[Double]("minx") == 0.5 && r.getAs[Double]("miny") == -9.5)
    assert(r.getAs[Double]("maxx") == 9.5 && r.getAs[Double]("maxy") == -0.5)
    // the shapely-box CCW ring, closed
    assert(r.getAs[String]("geom_wkt") ==
      "POLYGON ((9.5 -9.5, 9.5 -0.5, 0.5 -0.5, 0.5 -9.5, 9.5 -9.5))")
  }

  test("K10: the pipeline runs from a bbox-only config (no AOI file) " +
    "and reproduces the golden mean") {
    val dir = Files.createTempDirectory("graft_aoi")
    val aoiPath = dir.resolve("boundary.geojson").toString
    val settings = settingsWith(aoiPath)
    val catalog = Seq(("TEST_SCENE", 5.0, "2022-06-10 00:00:00"))
      .toDF("scene_id", "cloud_cover", "dt")
      .withColumn("datetime", col("dt").cast("timestamp"))
    val tiles = RasterModel.dummyConstant(spark)
    val emptyFull = Seq.empty[(String, java.sql.Date)]
      .toDF("scene_id", "acquisition_date")
    val emptyClipped = Seq.empty[(String, Long, Double)]
      .toDF("scene_id", "aoi_id", "mean_ndvi")
    assert(!Files.exists(java.nio.file.Paths.get(aoiPath)))
    val r = NdviPipeline.runFromSettings(spark, settings, catalog, tiles,
      emptyFull, emptyClipped)
    assert(Files.exists(java.nio.file.Paths.get(aoiPath)),
      "the run must have bootstrapped the AOI file")
    val m = r.mean.head
    assert(m.getString(0) == "TEST_SCENE")
    // the EndToEndSpec golden value — the bootstrapped bbox polygon must
    // clip identically to the hand-written fixture AOI
    assert(math.abs(m.getDouble(2) - -0.18965584) < 1e-6)
    assert(m.getLong(3) == 8100)
    r.release()
  }
}
