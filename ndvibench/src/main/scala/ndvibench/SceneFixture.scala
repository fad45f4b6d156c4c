package ndvibench

/** The generated scene inputs and the oracle that checks the products
  * computed from them.
  *
  * One 2048 x 2048 footprint of red and near-infrared digital numbers
  * (uint16, Landsat Collection 2 surface-reflectance range) is drawn from
  * the seed: smooth fields plus per-pixel noise, a rotated valid-data
  * rectangle with a fill-0 collar around it (declared nodata 0), and a few
  * fill pixels inside. `scene_large` writes it as one red/NIR pair. Three
  * AOIs lie on the footprint; the third straddles its right edge.
  *
  * The oracle works on the digital-number arrays only: scale and offset,
  * nodata, epsilon-safe ratio and clamp in float32, pixel-centre
  * point-in-polygon by scanline in pixel space, and the tile-envelope test
  * that decides which (scene, AOI) rows exist. */
object SceneFixture {
  val Size = 2048
  val Tile = 256
  val Res = 30.0
  val Epsg = 32633
  val X0 = 300000.0
  val Y0 = 5100000.0

  /** The scene: the whole footprint, with the catalog fields the
    * pipeline's cloud and date predicate reads. */
  final case class Scene(id: String, cloud: Double, date: String) {
    def transform: Seq[Double] = Seq(Res, 0.0, X0, 0.0, -Res, Y0)
  }

  val scene: Scene = Scene("LC09_L2SP_LARGE", 4.0, "2023-07-14")

  /** AOI polygons in footprint pixel coordinates (col, row). */
  val AoiPx: Seq[(Long, String, Seq[(Double, Double)])] = Seq(
    (1L, "north_field", Seq((350.3, 400.7), (540.9, 380.2), (575.4, 505.6),
      (450.8, 590.1), (330.2, 525.5))),
    (2L, "river_bend", Seq((1175.6, 1075.3), (1390.2, 1095.8), (1370.7, 1190.4),
      (1280.1, 1205.9), (1360.5, 1300.2), (1190.4, 1285.7))),
    (3L, "east_edge", Seq((1800.2, 850.6), (2125.8, 880.3), (2115.3, 1030.9),
      (1790.7, 1010.2))))

  /** Red and NIR digital numbers of the whole footprint, row-major. */
  final class Bands(val red: Array[Int], val nir: Array[Int])

  def bands(seed: Long): Bands = {
    val red = new Array[Int](Size * Size)
    val nir = new Array[Int](Size * Size)
    val ph = new java.util.SplittableRandom(seed)
    val p = Array.fill(6)(ph.nextDouble() * 2 * math.Pi)
    def wave(n: Int, k: Double, a: Double, b: Double, phase: Double) =
      Array.tabulate(n)(i => a * math.sin(i * k + phase) + b * math.sin(i * k * 3.1 + 2 * phase))
    val redRow = wave(Size, 0.0082, 900, 250, p(0))
    val redCol = wave(Size, 0.0066, 800, 200, p(1))
    val nirRow = wave(Size, 0.0054, 2600, 700, p(2))
    val nirCol = wave(Size, 0.0098, 2200, 600, p(3))
    val ang = 0.21 + 0.02 * math.sin(p(4))
    val (ca, sa) = (math.cos(ang), math.sin(ang))
    val c0 = Size / 2.0
    java.util.stream.IntStream.range(0, Size).parallel().forEach { r =>
      val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + r)
      var c = 0
      while (c < Size) {
        val dx = c + 0.5 - c0
        val dy = r + 0.5 - c0
        val u = ca * dx + sa * dy
        val v = -sa * dx + ca * dy
        val i = r * Size + c
        if (math.abs(u) <= 850 && math.abs(v) <= 800) {
          red(i) = 9300 + (redRow(r) + redCol(c)).toInt + rng.nextInt(512)
          nir(i) = 16000 + (nirRow(r) + nirCol(c)).toInt + rng.nextInt(1024)
          if (rng.nextInt(4096) == 0) red(i) = 0 // in-scene fill pixel
        }
        c += 1
      }
    }
    new Bands(red, nir)
  }

  /** AOI polygons as EPSG:4326 WKT rows, through the scene CRS. */
  def aoiRows(): Seq[graft.model.RasterModel.Aoi] = AoiPx.map { case (id, name, px) =>
    val ll = (px :+ px.head).map { case (c, r) =>
      graft.geo.Geodesy.transformPoint(X0 + Res * c, Y0 - Res * r, Epsg, 4326)
    }
    val wkt = ll.map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))")
    graft.model.RasterModel.Aoi(id, name, wkt, ll.map(_._1).min, ll.map(_._2).min,
      ll.map(_._1).max, ll.map(_._2).max)
  }

  // ---- oracle ---------------------------------------------------------------

  /** NDVI of one pixel pair in float32, NaN when masked. */
  def ndvi(r0: Int, n0: Int): Float =
    if (r0 == 0 || n0 == 0) Float.NaN
    else {
      val r = r0.toFloat * 2.75e-5f + -0.2f
      val n = n0.toFloat * 2.75e-5f + -0.2f
      val v = (n - r) / (n + r + 1e-6f)
      if (v.isNaN) v else if (v < -1f) -1f else if (v > 1f) 1f else v
    }

  /** Expected product row of one (scene, AOI): mean NDVI (None when no
    * valid pixel centre lies inside), valid pixels, pixels inside. */
  final case class Expected(scene: String, aoi: Long, mean: Option[Double],
                            nValid: Long, nInside: Long)

  /** Columns whose pixel centre lies inside `poly` on footprint row `r`
    * (even-odd rule), as [from, to) ranges. */
  private def insideRuns(poly: Seq[(Double, Double)], r: Int): Seq[(Int, Int)] = {
    val y = r + 0.5
    val ring = poly :+ poly.head
    val xs = ring.sliding(2).collect {
      case Seq((x1, y1), (x2, y2)) if (y1 <= y) != (y2 <= y) =>
        x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    }.toSeq.sorted
    xs.grouped(2).collect { case Seq(a, b) =>
      (math.ceil(a - 0.5).toInt, math.floor(b - 0.5).toInt + 1)
    }.toSeq
  }

  def expected(b: Bands): Seq[Expected] =
    for ((id, _, poly) <- AoiPx if envelopeHit(poly)) yield {
      var sum = 0.0; var n = 0L; var inside = 0L
      for (r <- 0 until Size; (a, z) <- insideRuns(poly, r)) {
        var c = math.max(a, 0)
        val end = math.min(z, Size)
        while (c < end) {
          inside += 1
          val v = ndvi(b.red(r * Size + c), b.nir(r * Size + c))
          if (!v.isNaN) { sum += v.toDouble; n += 1 }
          c += 1
        }
      }
      Expected(scene.id, id, if (n > 0) Some(sum / n) else None, n, inside)
    }

  /** Whether any tile envelope of the scene overlaps the AOI envelope
    * (edges touching count, as in the clip's bounding-box join). */
  private def envelopeHit(poly: Seq[(Double, Double)]): Boolean = {
    val (minc, maxc) = (poly.map(_._1).min, poly.map(_._1).max)
    val (minr, maxr) = (poly.map(_._2).min, poly.map(_._2).max)
    val nt = (Size + Tile - 1) / Tile
    (0 until nt).exists { tr =>
      (0 until nt).exists { tc =>
        val c0 = tc * Tile; val c1 = c0 + math.min(Tile, Size - tc * Tile)
        val r0 = tr * Tile; val r1 = r0 + math.min(Tile, Size - tr * Tile)
        !(c1 < minc || c0 > maxc || r1 < minr || r0 > maxr)
      }
    }
  }
}
