package graft.raster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The NDVI per-pixel kernel over tile tables, preserving the reference's
  * exact float32 semantics (reference src/transform/compute_ndvi.py:32-93,
  * SURVEY.md §2.3 N1–N9):
  *
  *  N1 grid conformance   — join red/nir on the grid key + raise_error
  *  N3 fill/nodata mask   — BEFORE scaling (order is load-bearing: after
  *                          scaling, DN 0 becomes -0.2 and is no longer
  *                          identifiable — compute_ndvi.py:46-52)
  *  N4 radiometric scale  — v * 0.0000275f - 0.2f (Landsat C2L2 SR)
  *  N5 non-finite mask    — NaN/±Inf → masked
  *  N6 epsilon-safe ratio — (nir-red)/(nir+red+1e-6f)
  *  N7 nodata fill        — NULL internally; -9999f only at sink boundary
  *  N8 clamp              — [-1, 1] on real values only
  *
  * N2–N8 run in [[NdviKernelExpr]], one native float32 loop per tile
  * inside a single codegen'd projection, no shuffle: the reference's
  * NumPy vectorized loop becomes Spark's whole-stage-codegen loop.
  */
object NdviKernel {

  val Scale: Float = 2.75e-5f   // compute_ndvi.py:33
  val Offset: Float = -0.2f     // compute_ndvi.py:34
  val Eps: Float = 1e-6f        // compute_ndvi.py:35
  val NodataOut: Float = -9999f // compute_ndvi.py:36

  /** N1: pair red and nir tiles of the same scene on the grid key and
    * verify grid conformance (width/height/transform equality —
    * compute_ndvi.py:39-40). Mismatch → raise_error, matching the
    * reference's ValueError("...not on the same grid").
    *
    * Scale: this is the J4 self-join; with the tile table bucketed by
    * (scene_id, tile_row, tile_col) it is a shuffle-free zip. Locally it
    * is a single sort-merge/shuffled hash join on the composite key. */
  def pairBands(tiles: DataFrame,
                redBand: String = "red", nirBand: String = "nir"): DataFrame = {
    val key = Seq("scene_id", "tile_col", "tile_row")
    val red = tiles.filter(col("band") === redBand)
      .select((key.map(col) :+ col("width") :+ col("height") :+ col("epsg") :+
        col("transform") :+ col("nodata").as("red_nodata") :+
        col("pixels").as("red_px")): _*)
    val nir = tiles.filter(col("band") === nirBand)
      .select((key.map(col) :+ col("width").as("n_width") :+
        col("height").as("n_height") :+ col("transform").as("n_transform") :+
        col("nodata").as("nir_nodata") :+ col("pixels").as("nir_px")): _*)
    // assert_true must be load-bearing in a kept column, or Catalyst prunes
    // it away: thread it through red_px (it returns NULL when passing).
    val gridOk = assert_true(
      col("width") === col("n_width") && col("height") === col("n_height") &&
        col("transform") === col("n_transform"),
      concat(lit("Input rasters for scene "), col("scene_id"),
             lit(" are not on the same grid")))
    red.join(nir, key)
      .withColumn("red_px", when(gridOk.isNull, col("red_px")))
      .drop("n_width", "n_height", "n_transform")
  }

  /** Full kernel over a band_tiles table → NDVI tile table (band='ndvi',
    * NULL pixels = masked). One join + one per-tile projection of the
    * native [[NdviKernelExpr]] loop. */
  def computeNdvi(tiles: DataFrame): DataFrame =
    pairBands(tiles).select(
      col("scene_id"), lit("ndvi").as("band"),
      col("tile_col"), col("tile_row"),
      col("width"), col("height"), col("epsg"), col("transform"),
      lit(NodataOut.toDouble).as("nodata"),
      NdviKernelExpr(col("red_px"), col("nir_px"),
                     col("red_nodata"), col("nir_nodata")).as("pixels"))

  /** N7 at the sink boundary: NULL → -9999f (compute_ndvi.py:68). */
  def materializeNodata(pixels: Column): Column =
    transform(pixels, p => coalesce(p, lit(NodataOut)))

  /** A1 `_nanmean` (load_to_postgis.py:74-79) without explode: per-tile
    * partial (sum, count) over non-null pixels ([[SumCountExpr]]), then a
    * final per-scene combine — the textbook partial+final aggregate; one
    * shuffle on scene_id, constant-size rows into it. NULL when all pixels
    * masked. */
  def meanNdviPerScene(ndviTiles: DataFrame): DataFrame =
    meanNdvi(ndviTiles, Seq("scene_id"))

  /** Grouped nodata-aware mean with caller-chosen keys — per (scene, aoi)
    * for the clipped product (the reference keys ndvi_clipped.mean_ndvi by
    * (full_id, aoi_id); pooling across AOIs would double-count overlap). */
  def meanNdvi(ndviTiles: DataFrame, keys: Seq[String]): DataFrame = {
    ndviTiles.select((keys.map(col) :+ SumCountExpr(col("pixels")).as("sc")): _*)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("sc")("s")).as("sum_ndvi"), sum(col("sc")("c")).as("n_valid"))
      .select(
        (keys.map(col) :+
          when(col("n_valid") > 0, col("sum_ndvi") / col("n_valid"))
            .otherwise(lit(null)).as("mean_ndvi") :+
          col("n_valid")): _*)
  }
}
