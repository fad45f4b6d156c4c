package graft.raster

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String
import graft.geo.Geodesy
import graft.model.RasterModel.BandTile
import graft.sources.GeoTiff

/** Raster resampling: overview pyramids (A2), bilinear in-tile resample,
  * and the reprojection warp (R1/R2 — reference
  * src/transform/compute_ndvi.py:162-179, src/load/load_to_postgis.py:90-136).
  *
  * Overviews and in-tile resampling are pure array expressions — per-row
  * projections, no shuffle, nodata(NULL)-aware. The cross-CRS warp is a
  * per-partition kernel over InternalRows (SURVEY.md §7: the (d)
  * last-resort path, justified because inverse-projecting every
  * destination pixel is genuinely imperative per-pixel math with no Spark
  * built-in).
  */
object Resample {

  /** A2: factor-k overview of each tile (average of k×k blocks, NULLs
    * excluded, all-NULL block → NULL — matching GDAL average resampling of
    * nodata). k must divide width and height. Output pixels are
    * float32 like the reference's overview bands. */
  def overview(tiles: DataFrame, k: Int): DataFrame = {
    // greatest(0): a tile smaller than k would make wo*ho-1 = -1 and
    // sequence(0,-1) infers a DESCENDING step yielding [0,-1] — the
    // guard turns such tiles into empty 0×0 outputs instead.
    val wo = greatest((col("width") / k).cast("int"), lit(0))
    val ho = greatest((col("height") / k).cast("int"), lit(0))
    val block = sequence(lit(0), lit(k * k - 1))
    def srcIdx(o: Column, b: Column) = {
      val or = floor(o / wo).cast("int"); val oc = (o % wo).cast("int")
      val br = floor(b / k).cast("int");  val bc = (b % k).cast("int")
      (or * k + br) * col("width") + (oc * k + bc)
    }
    val outPixels = when(wo * ho <= 0, array().cast("array<float>"))
      .otherwise(transform(
      sequence(lit(0), wo * ho - 1),
      o => {
        val acc = aggregate(block,
          struct(lit(0.0).as("s"), lit(0L).as("c")),
          (a, b) => {
            val p = element_at(col("pixels"), srcIdx(o, b) + 1)
            struct((a("s") + coalesce(p.cast("double"), lit(0.0))).as("s"),
                   (a("c") + p.isNotNull.cast("long")).as("c"))
          })
        when(acc("c") > 0, (acc("s") / acc("c")).cast("float"))
          .otherwise(lit(null).cast("float"))
      }))
    // overview pixel size scales by k: transform a,e *= k
    val newTransform = array(
      element_at(col("transform"), 1) * k, element_at(col("transform"), 2),
      element_at(col("transform"), 3), element_at(col("transform"), 4),
      element_at(col("transform"), 5) * k, element_at(col("transform"), 6))
    tiles
      .withColumn("pixels", outPixels)
      .withColumn("width", wo).withColumn("height", ho)
      .withColumn("transform", newTransform)
      .withColumn("overview_factor", lit(k))
  }

  /** Overview pyramid: one table per factor, unioned, tagged by
    * `overview_factor` (reference factors [2,4,8,16,32],
    * compute_ndvi.py:147). */
  def pyramid(tiles: DataFrame, factors: Seq[Int] = Seq(2, 4, 8, 16, 32)): DataFrame =
    factors.map(overview(tiles, _)).reduce(_ unionByName _)

  // ---- primitive warp internals -------------------------------------------
  // Mosaic/warp/retile intermediates are dense Array[Float] buffers with
  // NaN as the masked sentinel, 4 B/pixel, and the per-pixel sample loop
  // allocates nothing. The warps read and write band_tiles InternalRows
  // (NULL = masked, the DataFrame-level contract every operator shares):
  // pixels go from UnsafeArrayData to float[] and back, never boxed.

  /** Dense primitive raster: row-major Array[Float], NaN = masked. */
  private[graft] final case class Grid(width: Int, height: Int, epsg: Int,
      transform: Seq[Double], data: Array[Float])

  /** A band_tiles row (GeoTiff.tileRowSchema) as a Grid, NULL → NaN. */
  private def gridOf(r: InternalRow): Grid = {
    val px = r.getArray(9)
    val d = new Array[Float](px.numElements())
    for (i <- d.indices) d(i) = if (px.isNullAt(i)) Float.NaN else px.getFloat(i)
    Grid(r.getInt(4), r.getInt(5), r.getInt(6), r.getArray(7).toDoubleArray().toSeq, d)
  }

  /** Grid `g` as the band_tiles row of tile (tc, tr), NaN → NULL. */
  private def tileRow(scene: UTF8String, band: UTF8String, tc: Int, tr: Int, g: Grid,
                      nodata: Any): InternalRow = {
    val px = UnsafeArrayData.createFreshArray(g.data.length, 4)
    for (i <- g.data.indices)
      if (java.lang.Float.isNaN(g.data(i))) px.setNullAt(i) else px.setFloat(i, g.data(i))
    new GenericInternalRow(Array[Any](scene, band, tc, tr, g.width, g.height, g.epsg,
      UnsafeArrayData.fromPrimitiveArray(g.transform.toArray), nodata, px))
  }

  private def nodataOf(r: InternalRow): Any = if (r.isNullAt(8)) null else r.getDouble(8)

  /** String column `i` of `r`, copied out of the row's buffer. */
  private def key(r: InternalRow, i: Int): UTF8String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).copy()

  /** `tiles` as band_tiles rows in GeoTiff.tileRowSchema's column order. */
  private def rowsOf(tiles: Dataset[BandTile]): DataFrame =
    tiles.toDF().select(GeoTiff.tileRowSchema.fieldNames.map(col): _*)

  /** R1/R2 warp: reproject each tile's pixel grid to `dstEpsg` at a fixed
    * resolution, bilinear for float data / nearest otherwise (the
    * reference's dtype dispatch, load_to_postgis.py:132), nodata(NULL)
    * propagated. No-op when the CRS already matches — the reference's
    * plan-level short-circuit (load_to_postgis.py:98-100).
    *
    * Tile-local: each destination tile is computed from its own source tile
    * (sufficient for the reference's per-scene warp where tiles are
    * per-scene whole images; reprojectScenes is the seam-correct path). */
  def reprojectTiles(spark: SparkSession, tiles: Dataset[BandTile], dstEpsg: Int,
                     resM: Double = 30.0, bilinear: Boolean = true): Dataset[BandTile] = {
    import spark.implicits._
    Bridge.flatMapRows(spark, rowsOf(tiles), GeoTiff.tileRowSchema)(_.map { r =>
      if (r.getInt(6) == dstEpsg) r.copy()  // no-op elision
      else tileRow(key(r, 0), key(r, 1), r.getInt(2), r.getInt(3),
        warpGrid(gridOf(r), dstEpsg, resM, bilinear), nodataOf(r))
    }).as[BandTile]
  }

  private[graft] def warpGrid(g: Grid, dstEpsg: Int, resM: Double,
                              bilinear: Boolean): Grid = {
    val Seq(a, _, c, _, e, f) = g.transform
    // resM <= 0 → derive destination resolution from the source pixel
    // size (the reference's calculate_default_transform behavior: output
    // resolution ≈ input resolution, compute_ndvi.py:169-171).
    val res =
      if (resM > 0) resM
      else {
        val (x1, y1) = Geodesy.transformPoint(c, f, g.epsg, dstEpsg)
        val (x2, y2) = Geodesy.transformPoint(c + a, f + e, g.epsg, dstEpsg)
        math.max(math.abs(x2 - x1), math.abs(y2 - y1))
      }
    // source corner coords → dst bbox via corner transform
    val corners = Seq((0, 0), (g.width, 0), (0, g.height), (g.width, g.height))
      .map { case (px, py) =>
        Geodesy.transformPoint(c + a * px, f + e * py, g.epsg, dstEpsg) }
    val minX = corners.map(_._1).min; val maxX = corners.map(_._1).max
    val minY = corners.map(_._2).min; val maxY = corners.map(_._2).max
    val outW = math.max(1, math.ceil((maxX - minX) / res).toInt)
    val outH = math.max(1, math.ceil((maxY - minY) / res).toInt)
    val out = new Array[Float](outW * outH)
    val src = new Array[Double](2)  // one source point, reused per pixel
    var j = 0
    while (j < outH) {
      var i = 0
      while (i < outW) {
        val x = minX + res * (i + 0.5)
        val y = maxY - res * (j + 0.5)
        Geodesy.transformPoint(x, y, dstEpsg, g.epsg, src)
        val fcol = (src(0) - c) / a - 0.5
        val frow = (src(1) - f) / e - 0.5
        out(j * outW + i) =
          if (bilinear) bilinearSample(g.data, g.width, g.height, fcol, frow)
          else nearestSample(g.data, g.width, g.height, fcol, frow)
        i += 1
      }
      j += 1
    }
    Grid(outW, outH, dstEpsg, Seq(res, 0.0, minX, 0.0, -res, maxY), out)
  }

  /** Seam-correct warp: assemble each (scene, band) group's tiles into the
    * scene mosaic, warp the whole image, and re-tile the result. This is
    * the reference's whole-image semantics (it warps full scenes,
    * load_to_postgis.py:90-136) and the honest scale design: a scene is
    * the bounded work unit (Landsat ≈ 8k×8k), parallelism is ACROSS
    * scenes — tiles shuffle once on (scene_id, band) and sort within
    * partitions, and each group warps independently as its rows stream
    * past. Destination pixels near tile seams sample across source-tile
    * boundaries correctly because the mosaic is whole. */
  def reprojectScenes(spark: SparkSession, tiles: Dataset[BandTile], dstEpsg: Int,
                      resM: Double = 30.0, bilinear: Boolean = true,
                      tileSize: Int = graft.model.RasterModel.TileSize): Dataset[BandTile] = {
    import spark.implicits._
    val sorted = rowsOf(tiles).repartition(col("scene_id"), col("band"))
      .sortWithinPartitions("scene_id", "band")
    Bridge.flatMapRows(spark, sorted, GeoTiff.tileRowSchema) { rows =>
      val in = rows.buffered  // rows are reused buffers: read or copy before advancing
      Iterator.continually(()).takeWhile(_ => in.hasNext).flatMap { _ =>
        val (scene, band) = (key(in.head, 0), key(in.head, 1))
        val group = Iterator.continually(()).takeWhile(_ => in.hasNext &&
          in.head.getUTF8String(0) == scene && in.head.getUTF8String(1) == band).map(_ => in.next())
        if (in.head.getInt(6) == dstEpsg) group.map(_.copy())  // no-op elision
        else {
          val nodata = nodataOf(in.head)
          val mosaic = assembleGrid(group.map(r => (r.getInt(2), r.getInt(3), gridOf(r))).toSeq,
            tileSize)
          retileGrid(warpGrid(mosaic, dstEpsg, resM, bilinear), tileSize).iterator
            .map { case (tc, tr, sub) => tileRow(scene, band, tc, tr, sub, nodata) }
        }
      }
    }.as[BandTile]
  }

  /** Mosaic a scene's tiles (grid position and tile, on one shared
    * transform grid) into one Grid. */
  private[graft] def assembleGrid(tiles: Seq[(Int, Int, Grid)], tileSize: Int): Grid = {
    val Seq(a, b, c0, d0, e, f) = tiles.head._3.transform
    val minCol = tiles.map(_._1).min
    val minRow = tiles.map(_._2).min
    val maxCol = tiles.map(t => t._1 * tileSize + t._3.width).max - minCol * tileSize
    val maxRow = tiles.map(t => t._2 * tileSize + t._3.height).max - minRow * tileSize
    val data = Array.fill(maxCol * maxRow)(Float.NaN)
    tiles.foreach { case (tc, tr, t) =>
      val ox = (tc - minCol) * tileSize
      val oy = (tr - minRow) * tileSize
      for (r <- 0 until t.height)
        System.arraycopy(t.data, r * t.width, data, (oy + r) * maxCol + ox, t.width)
    }
    Grid(maxCol, maxRow, tiles.head._3.epsg,
      Seq(a, b, c0 + a * (minCol * tileSize), d0,
          e, f + e * (minRow * tileSize)), data)
  }

  /** Split a (possibly large) grid back into tileSize blocks. */
  private[graft] def retileGrid(g: Grid, tileSize: Int): Seq[(Int, Int, Grid)] = {
    val nCols = (g.width + tileSize - 1) / tileSize
    val nRows = (g.height + tileSize - 1) / tileSize
    for {
      tr <- 0 until nRows
      tc <- 0 until nCols
    } yield {
      val w = math.min(tileSize, g.width - tc * tileSize)
      val h = math.min(tileSize, g.height - tr * tileSize)
      val data = new Array[Float](w * h)
      var r = 0
      while (r < h) {
        System.arraycopy(g.data, (tr * tileSize + r) * g.width + tc * tileSize,
          data, r * w, w)
        r += 1
      }
      (tc, tr, Grid(w, h, g.epsg, g.transform, data))
    }
  }

  private def pixelAt(d: Array[Float], w: Int, h: Int, col: Int, row: Int): Float =
    if (col < 0 || row < 0 || col >= w || row >= h) Float.NaN
    else d(row * w + col)

  private def nearestSample(d: Array[Float], w: Int, h: Int,
                            fcol: Double, frow: Double): Float =
    pixelAt(d, w, h, math.round(fcol).toInt, math.round(frow).toInt)

  /** Bilinear with nodata awareness: weighted mean of the valid (non-NaN)
    * neighbors (GDAL-style renormalization over available weights).
    * Allocation-free — this runs once per destination pixel. */
  private def bilinearSample(d: Array[Float], w: Int, h: Int,
                             fcol: Double, frow: Double): Float = {
    val c0 = math.floor(fcol).toInt; val r0 = math.floor(frow).toInt
    val dx = fcol - c0; val dy = frow - r0
    var s = 0.0; var ws = 0.0
    def add(v: Float, wt: Double): Unit =
      if (wt > 0 && !java.lang.Float.isNaN(v)) { s += v * wt; ws += wt }
    add(pixelAt(d, w, h, c0, r0), (1 - dx) * (1 - dy))
    add(pixelAt(d, w, h, c0 + 1, r0), dx * (1 - dy))
    add(pixelAt(d, w, h, c0, r0 + 1), (1 - dx) * dy)
    add(pixelAt(d, w, h, c0 + 1, r0 + 1), dx * dy)
    if (ws <= 0) Float.NaN else (s / ws).toFloat
  }
}
