package graft

import graft.model.RasterModel.BandTile
import graft.raster.Resample

/** Seam-correct scene warp: assemble → warp → retile equals warping the
  * whole image directly, and differs from the (seam-blind) per-tile path
  * exactly where destination pixels straddle source tile boundaries. */
class SceneWarpSpec extends SparkSpec {
  import spark.implicits._

  // 2×2 grid of 8×8 tiles with a smooth gradient across the whole scene
  private val ts = 8
  private def mkTile(tc: Int, tr: Int): BandTile = {
    val px = for (r <- 0 until ts; c <- 0 until ts) yield {
      val gx = tc * ts + c; val gy = tr * ts + r
      Some((gx + gy * 0.5f) / 10f)
    }
    BandTile("S", "ndvi", tc, tr, ts, ts, 4326,
      Seq(0.05, 0, 25.0, 0, -0.05, 61.0), Some(-9999.0), px)
  }
  private val tiles = Seq(mkTile(0, 0), mkTile(1, 0), mkTile(0, 1), mkTile(1, 1))

  // the same scene as one 16×16 image, and each tile as a primitive Grid
  private val tf = Seq(0.05, 0, 25.0, 0, -0.05, 61.0)
  private def grid(t: BandTile) =
    Resample.Grid(t.width, t.height, t.epsg, t.transform, t.pixels.map(_.get).toArray)
  private val whole = Resample.Grid(2 * ts, 2 * ts, 4326, tf,
    Array.tabulate(4 * ts * ts)(i => ((i % (2 * ts)) + (i / (2 * ts)) * 0.5f) / 10f))

  test("grouped scene warp equals the whole-image warp") {
    val viaGroups = Resample.reprojectScenes(spark, tiles.toDS(), 3857,
        resM = 3000.0, bilinear = true, tileSize = ts)
      .collect().sortBy(t => (t.tile_row, t.tile_col))
    val warped = Resample.warpGrid(whole, 3857, 3000.0, bilinear = true)
    val reference = Resample.retileGrid(warped, ts).sortBy(t => (t._2, t._1))
    assert(viaGroups.length == reference.length)
    viaGroups.zip(reference).foreach { case (g, (_, _, r)) =>
      assert(g.pixels == r.data.toSeq.map(v => if (v.isNaN) None else Some(v)) &&
        g.transform == r.transform, s"tile (${g.tile_col},${g.tile_row}) differs")
    }
    assert(viaGroups.map(_.pixels.flatten.size).sum > 0)
  }

  test("mosaic assembly and retiling round trip") {
    val mosaic = Resample.assembleGrid(tiles.map(t => (t.tile_col, t.tile_row, grid(t))), ts)
    assert(mosaic.width == 16 && mosaic.height == 16)
    assert(mosaic.data.toSeq == whole.data.toSeq && mosaic.transform == tf)
    // gradient continuity across the seam: value at global (8,0) follows
    // from (7,0) by one gradient step
    val v7 = mosaic.data(7); val v8 = mosaic.data(8)
    assert(math.abs((v8 - v7) - 0.1f) < 1e-6f)
    val back = Resample.retileGrid(mosaic, ts).sortBy(t => (t._2, t._1)).map(_._3.data.toSeq)
    assert(back == tiles.sortBy(t => (t.tile_row, t.tile_col)).map(grid(_).data.toSeq))
  }

  test("no-op elision passes tiles through unchanged") {
    val out = Resample.reprojectScenes(spark, tiles.toDS(), 4326, tileSize = ts)
      .collect().sortBy(t => (t.tile_row, t.tile_col))
    assert(out.map(_.pixels).toSeq == tiles.sortBy(t => (t.tile_row, t.tile_col)).map(_.pixels))
  }
}
