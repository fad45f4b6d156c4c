package graft.raster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.geo.{Geodesy, Wkt}
import graft.model.RasterModel.Aoi

/** Spatial clip — the reference's raster×AOI "join"
  * (reference src/transform/compute_ndvi.py:95-160, SURVEY.md §2.4 C1–C6):
  * a broadcast spatial semi-join on envelope overlap plus an exact per-pixel
  * point-in-polygon mask.
  *
  * Scale design: the AOI side is tiny (one-to-few polygons) and is
  * broadcast, so the tile table never shuffles; envelope overlap is a
  * codegen'd comparison that prunes whole tiles (the partition-pruning
  * analog, SURVEY §4), and the exact mask ([[ClipMaskExpr]]: each pixel
  * row filled from its sorted even-odd edge crossings) runs only on the
  * surviving tiles. "Crop" = wholly-outside tiles dropped by the
  * join + outside pixels nulled; extent is data (tile bboxes), not schema.
  */
object Clip {

  /** Tile envelope from the affine transform (C1): pixel (px,py) maps to
    * x = c + a·px, y = f + e·py (north-up: b = d = 0, e < 0). */
  def tileBounds(df: DataFrame): DataFrame = {
    val a = element_at(col("transform"), 1)
    val c = element_at(col("transform"), 3)
    val e = element_at(col("transform"), 5)
    val f = element_at(col("transform"), 6)
    val x0 = c + a * (col("tile_col") * lit(graft.model.RasterModel.TileSize))
    val y0 = f + e * (col("tile_row") * lit(graft.model.RasterModel.TileSize))
    df.withColumn("t_minx", x0)
      .withColumn("t_maxx", x0 + a * col("width"))
      .withColumn("t_maxy", y0)
      .withColumn("t_miny", y0 + e * col("height"))
  }

  /** Envelope-overlap predicate (F3/C5). */
  def bboxOverlap(minx: Column, miny: Column, maxx: Column, maxy: Column,
                  qminx: Column, qminy: Column, qmaxx: Column, qmaxy: Column): Column =
    !(maxx < qminx || minx > qmaxx || maxy < qminy || miny > qmaxy)

  /** C3: reproject the AOI table (EPSG:4326 WKT + envelope) into the tile
    * CRS (the reference's aoi.to_crs(raster_crs), compute_ndvi.py:114-118).
    * Vertex-wise transform, driver-side — the AOI side is dimension-sized.
    * Without this, clipToAoi would compare AOI degrees against tile
    * meters and silently match nothing on projected scenes. */
  def reprojectAoi(aoi: DataFrame, dstEpsg: Int, srcEpsg: Int = 4326): DataFrame =
    if (dstEpsg == srcEpsg) aoi
    else mapAoi(aoi)(polys => Some(polys.map(p => Wkt.Polygon(p.rings.map(_.map {
      case (x, y) => Geodesy.transformPoint(x, y, srcEpsg, dstEpsg) })))))

  /** C4: validate-and-repair the AOI table's geometry at ingest (the
    * reference's union + buffer(0) + TopologicalError fallback,
    * compute_ndvi.py:115-126). Valid rows pass through untouched; a
    * self-intersecting ring (bow-tie) is node-split into its simple
    * sub-rings (same even-odd region); irreparably empty geometry throws.
    * Driver-side like [[reprojectAoi]] — the AOI side is dimension-sized. */
  def validateAoi(aoi: DataFrame): DataFrame =
    mapAoi(aoi)(polys => if (Wkt.isValid(polys)) None else Some(Wkt.repair(polys)))

  /** Rewrite each AOI row's geometry on the driver: `f` maps the parsed
    * polygons to new ones (WKT and envelope recomputed), or None to keep
    * the row as it is. */
  private def mapAoi(aoi: DataFrame)(f: Seq[Wkt.Polygon] => Option[Seq[Wkt.Polygon]]): DataFrame = {
    val spark = aoi.sparkSession
    import spark.implicits._
    val rows = aoi.select("aoi_id", "name", "geom_wkt", "minx", "miny", "maxx", "maxy")
      .as[Aoi].collect().map { a =>
        f(Wkt.parse(a.geom_wkt)).fold(a) { polys =>
          val (mnx, mny, mxx, mxy) = Wkt.envelope(polys)
          Aoi(a.aoi_id, a.name, toWkt(polys), mnx, mny, mxx, mxy)
        }
      }
    spark.createDataFrame(rows.toSeq)
  }

  private def toWkt(polys: Seq[Wkt.Polygon]): String = {
    def ring(r: Seq[(Double, Double)]) =
      r.map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")")
    def poly(p: Wkt.Polygon) = p.rings.map(ring).mkString("(", ", ", ")")
    if (polys.length == 1) s"POLYGON ${poly(polys.head)}"
    else s"MULTIPOLYGON ${polys.map(poly).mkString("(", ", ", ")")}"
  }

  /** C5+C6: clip an NDVI tile table to AOI polygons. AOI must be in the
    * tiles' CRS (use [[reprojectAoi]] first for projected scenes — the
    * pipeline does). Returns one row per
    * (tile × overlapping AOI) with outside pixels nulled. Empty result for
    * a non-empty input means "Input shapes do not overlap raster"
    * (compute_ndvi.py:128-131) — see [[requireOverlap]]. The output keeps
    * the `t_*` envelope columns and the AOI's id, name and WKT. */
  def clipToAoi(ndviTiles: DataFrame, aoi: DataFrame): DataFrame =
    tileBounds(ndviTiles)
      .join(broadcast(aoi),
        bboxOverlap(col("t_minx"), col("t_miny"), col("t_maxx"), col("t_maxy"),
                    col("minx"), col("miny"), col("maxx"), col("maxy")))
      .withColumn("pixels", ClipMaskExpr(col("pixels"), col("width"), col("height"),
        col("tile_col"), col("tile_row"), col("transform"), col("geom_wkt")))
      .drop("minx", "miny", "maxx", "maxy")

  /** Multi-AOI zonal statistics in ONE pass — the query the reference
    * answers by looping one AOI at a time (compute_ndvi.py runs per-AOI):
    * nodata-aware mean NDVI per (aoi_id × `dateCol`) over EVERY AOI in one
    * job. The clip semi-join generalizes unchanged: envelope overlap
    * prunes (tile × AOI) pairs against the broadcast AOI table, the exact
    * mask nulls outside pixel centers, and each surviving pair folds to a
    * (sum, count) partial ([[SumCountExpr]]) INSIDE the projection — so
    * the whole query is scan → broadcast join → project → one
    * (aoi_id, date) aggregate exchange.
    * At 100 TB that is the minimal shape: the tile table never shuffles
    * except for the group-by, and the fold means no explode ever
    * materializes pixels as rows. `ndviTiles` must carry `dateCol`
    * (the pipeline attaches the scene's acquisition date, F7). */
  def zonalStats(ndviTiles: DataFrame, aoi: DataFrame,
                 dateCol: String = "acquisition_date"): DataFrame = {
    clipToAoi(ndviTiles, aoi)
      .select(col("aoi_id"), col(dateCol), SumCountExpr(col("pixels")).as("acc"))
      .groupBy(col("aoi_id"), col(dateCol))
      .agg(sum(col("acc.s")).as("sum_ndvi"), sum(col("acc.c")).as("n_valid"))
      .select(col("aoi_id"), col(dateCol),
        when(col("n_valid") > 0, col("sum_ndvi") / col("n_valid"))
          .otherwise(lit(null)).as("mean_ndvi"),
        col("n_valid"))
  }

  /** The reference's overlap error (compute_ndvi.py:128-131), checked
    * against the clip result's row count: the reference raises eagerly
    * per scene; the pipeline checks the count its materialization of the
    * clip result already took. */
  def requireOverlap(nClipped: Long, inputNonEmpty: Boolean): Unit =
    if (inputNonEmpty && nClipped == 0)
      throw new IllegalArgumentException("Input shapes do not overlap raster")
}
