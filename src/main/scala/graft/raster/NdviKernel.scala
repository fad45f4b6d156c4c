package graft.raster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The NDVI per-pixel kernel over tile tables, preserving the reference's
  * exact float32 semantics (reference src/transform/compute_ndvi.py:32-93,
  * SURVEY.md §2.3 N1–N9):
  *
  *  N1 grid conformance   — pair red/nir on the grid key + raise_error
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
    * The J4 pairing as one keyed grouping ([[Bridge.groupRows]]) over
    * one scan of `tiles`: the red and nir rows of a grid key meet in one
    * group, which yields their cross product, as an inner join on the key
    * does (a NULL key pairs nothing; other bands never leave the scan).
    * Over a tile table bucketed by (scene_id, tile_col, tile_row) the
    * grouping plans no exchange; otherwise both bands shuffle once on the
    * key. */
  def pairBands(tiles: DataFrame,
                redBand: String = "red", nirBand: String = "nir"): DataFrame = {
    val key = Seq("scene_id", "tile_col", "tile_row")
    val side = Seq("band", "width", "height", "epsg", "transform", "nodata", "pixels")
    val in = tiles
      .filter((col("band") === redBand || col("band") === nirBand) &&
        key.map(col(_).isNotNull).reduce(_ && _))
      .select((key ++ side).map(col): _*)
    val nirSide = in.schema.map(f => f.copy(name = "n_" + f.name))
    val paired = Bridge.groupRows(in, key, StructType(in.schema ++ nirSide)) { groups =>
      val (red, nir) = (UTF8String.fromString(redBand), UTF8String.fromString(nirBand))
      val joined = new JoinedRow
      groups.flatMap { case (_, rows) =>
        val group = rows.toSeq
        def ofBand(b: UTF8String) = group.filter(_.getUTF8String(3) == b)
        for (r <- ofBand(red).iterator; n <- ofBand(nir).iterator) yield joined(r, n)
      }
    }
    // assert_true must be load-bearing in a kept column, or Catalyst prunes
    // it away: thread it through red_px (it returns NULL when passing).
    val gridOk = assert_true(
      col("width") === col("n_width") && col("height") === col("n_height") &&
        col("transform") === col("n_transform"),
      concat(lit("Input rasters for scene "), col("scene_id"),
             lit(" are not on the same grid")))
    paired.select(
      (key.map(col) ++ Seq(col("width"), col("height"), col("epsg"), col("transform"),
        col("nodata").as("red_nodata"), when(gridOk.isNull, col("pixels")).as("red_px"),
        col("n_nodata").as("nir_nodata"), col("n_pixels").as("nir_px"))): _*)
  }

  /** Full kernel over a band_tiles table → NDVI tile table (band='ndvi',
    * NULL pixels = masked). The pair's keyed grouping + one per-tile
    * projection of the native [[NdviKernelExpr]] loop. */
  def computeNdvi(tiles: DataFrame): DataFrame =
    pairBands(tiles).select(
      col("scene_id"), lit("ndvi").as("band"),
      col("tile_col"), col("tile_row"),
      col("width"), col("height"), col("epsg"), col("transform"),
      lit(NodataOut.toDouble).as("nodata"),
      NdviKernelExpr(col("red_px"), col("nir_px"),
                     col("red_nodata"), col("nir_nodata")).as("pixels"))

  /** A1 `_nanmean` (load_to_postgis.py:74-79) without explode: per-tile
    * partial (sum, count) over non-null pixels ([[SumCountExpr]]), then a
    * final per-scene combine ([[SumCountAgg]]) — the textbook
    * partial+final aggregate, as an object hash aggregate (no Tungsten
    * page); one shuffle on scene_id, constant-size rows into it. NULL
    * when all pixels masked. */
  def meanNdviPerScene(ndviTiles: DataFrame): DataFrame =
    meanNdvi(ndviTiles, Seq("scene_id"))

  /** Grouped nodata-aware mean with caller-chosen keys — per (scene, aoi)
    * for the clipped product (the reference keys ndvi_clipped.mean_ndvi by
    * (full_id, aoi_id); pooling across AOIs would double-count overlap). */
  def meanNdvi(ndviTiles: DataFrame, keys: Seq[String]): DataFrame = {
    ndviTiles.select((keys.map(col) :+ SumCountExpr(col("pixels")).as("sc")): _*)
      .groupBy(keys.map(col): _*)
      .agg(SumCountAgg(col("sc")).as("sc"))
      .select(
        (keys.map(col) :+
          when(col("sc.c") > 0, col("sc.s") / col("sc.c"))
            .otherwise(lit(null)).as("mean_ndvi") :+
          col("sc.c").as("n_valid")): _*)
  }
}
