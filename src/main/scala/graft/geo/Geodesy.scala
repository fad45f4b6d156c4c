package graft.geo

/** Pure-Scala geodesy — replaces pyproj/GDAL in the reference (no PROJ
  * offline; SURVEY.md §2.5 R3). Public formulas:
  *  - UTM: WGS84 Transverse Mercator via the Krüger series (3rd-order in
  *    n), the standard public series (cf. Karney 2011, "Transverse
  *    Mercator with an accuracy of a few nanometers"); mm-level accuracy
  *    in-zone, far beyond the reference's 30 m pixels.
  *  - Web Mercator (EPSG:3857): spherical, the reference's viz CRS
  *    (reference src/load/load_to_postgis.py:16 default, config
  *    reproject 3857).
  *  - UTM zone pick + target-EPSG selection (load_to_postgis.py:18-38).
  */
object Geodesy {

  val A = 6378137.0                      // WGS84 semi-major
  val F = 1.0 / 298.257223563            // flattening
  val K0 = 0.9996                        // UTM scale factor
  val FalseEasting = 500000.0
  val FalseNorthingSouth = 10000000.0

  private val n = F / (2.0 - F)
  private val n2 = n * n
  private val n3 = n2 * n
  private val Acap = A / (1.0 + n) * (1.0 + n2 / 4.0 + n2 * n2 / 64.0)
  private val alpha = Array(
    n / 2.0 - 2.0 * n2 / 3.0 + 5.0 * n3 / 16.0,
    13.0 * n2 / 48.0 - 3.0 * n3 / 5.0,
    61.0 * n3 / 240.0)
  private val beta = Array(
    n / 2.0 - 2.0 * n2 / 3.0 + 37.0 * n3 / 96.0,
    n2 / 48.0 + n3 / 15.0,
    17.0 * n3 / 480.0)
  private val delta = Array(
    2.0 * n - 2.0 * n2 / 3.0 - 2.0 * n3,
    7.0 * n2 / 3.0 - 8.0 * n3 / 5.0,
    56.0 * n3 / 15.0)

  /** UTM zone for a longitude (reference load_to_postgis.py:18-19). */
  def utmZone(lon: Double): Int = (math.floor((lon + 180.0) / 6.0) + 1).toInt

  /** UTM EPSG for lon/lat (load_to_postgis.py:18-20). */
  def utmEpsg(lon: Double, lat: Double): Int =
    (if (lat >= 0) 32600 else 32700) + utmZone(lon)

  /** Target-EPSG selection (F9, load_to_postgis.py:22-38): keep a
    * projected CRS; geographic (4326/4258) → UTM of the centroid; no CRS →
    * default 32635. */
  def targetEpsg(sourceEpsg: Option[Int], centroidLon: Double,
                 centroidLat: Double): Int = sourceEpsg match {
    case Some(e) if e != 4326 && e != 4258 => e
    case Some(_) => utmEpsg(centroidLon, centroidLat)
    case None => 32635
  }

  /** Geographic → UTM (zone given). Returns (easting, northing). */
  def utmForward(lonDeg: Double, latDeg: Double, zone: Int,
                 north: Boolean): (Double, Double) = pair(utmForward(lonDeg, latDeg, zone, north, _))

  /** The point-transform bodies write (x, y) into `out` instead of
    * returning a tuple, so the warp's per-pixel loop allocates nothing; the
    * tuple forms above and below wrap them. */
  private def pair(f: Array[Double] => Unit): (Double, Double) = {
    val out = new Array[Double](2); f(out); (out(0), out(1))
  }

  private def utmForward(lonDeg: Double, latDeg: Double, zone: Int, north: Boolean,
                         out: Array[Double]): Unit = {
    val lat = math.toRadians(latDeg)
    val lon0 = math.toRadians(zone * 6.0 - 183.0)
    val dLon = math.toRadians(lonDeg) - lon0
    val sinLat = math.sin(lat)
    val tConf = {
      val e = math.sqrt(2 * F - F * F)
      math.sinh(atanh(sinLat) - e * atanh(e * sinLat))
    }
    val xiP = math.atan2(tConf, math.cos(dLon))
    val etaP = asinh(math.sin(dLon) / math.hypot(tConf, math.cos(dLon)))
    var xi = xiP; var eta = etaP
    var j = 1
    while (j <= 3) {
      xi += alpha(j - 1) * math.sin(2 * j * xiP) * math.cosh(2 * j * etaP)
      eta += alpha(j - 1) * math.cos(2 * j * xiP) * math.sinh(2 * j * etaP)
      j += 1
    }
    out(0) = FalseEasting + K0 * Acap * eta
    out(1) = (if (north) 0.0 else FalseNorthingSouth) + K0 * Acap * xi
  }

  /** UTM → geographic. Returns (lon, lat) degrees. */
  def utmInverse(easting: Double, northing: Double, zone: Int,
                 north: Boolean): (Double, Double) = pair(utmInverse(easting, northing, zone, north, _))

  private def utmInverse(easting: Double, northing: Double, zone: Int, north: Boolean,
                         out: Array[Double]): Unit = {
    val xi = (northing - (if (north) 0.0 else FalseNorthingSouth)) / (K0 * Acap)
    val eta = (easting - FalseEasting) / (K0 * Acap)
    var xiP = xi; var etaP = eta
    var j = 1
    while (j <= 3) {
      xiP -= beta(j - 1) * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
      etaP -= beta(j - 1) * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
      j += 1
    }
    val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
    var lat = chi
    j = 1
    while (j <= 3) {
      lat += delta(j - 1) * math.sin(2 * j * chi)
      j += 1
    }
    val lon0 = zone * 6.0 - 183.0
    out(0) = lon0 + math.toDegrees(math.atan2(math.sinh(etaP), math.cos(xiP)))
    out(1) = math.toDegrees(lat)
  }

  /** Web Mercator forward (EPSG:4326 → 3857). */
  def webMercatorForward(lonDeg: Double, latDeg: Double): (Double, Double) =
    pair(webMercatorForward(lonDeg, latDeg, _))

  private def webMercatorForward(lonDeg: Double, latDeg: Double, out: Array[Double]): Unit = {
    out(0) = A * math.toRadians(lonDeg)
    out(1) = A * math.log(math.tan(math.Pi / 4.0 + math.toRadians(latDeg) / 2.0))
  }

  /** Web Mercator inverse (EPSG:3857 → 4326). */
  def webMercatorInverse(x: Double, y: Double): (Double, Double) =
    pair(webMercatorInverse(x, y, _))

  private def webMercatorInverse(x: Double, y: Double, out: Array[Double]): Unit = {
    out(0) = math.toDegrees(x / A)
    out(1) = math.toDegrees(2.0 * math.atan(math.exp(y / A)) - math.Pi / 2.0)
  }

  /** Point transform between the EPSG codes this engine supports:
    * 4326, 3857, UTM 326xx/327xx. Input/output in the CRS's native axes. */
  def transformPoint(x: Double, y: Double, fromEpsg: Int, toEpsg: Int): (Double, Double) =
    pair(transformPoint(x, y, fromEpsg, toEpsg, _))

  /** [[transformPoint]] into `out`: (x, y) in the target CRS. */
  def transformPoint(x: Double, y: Double, fromEpsg: Int, toEpsg: Int,
                     out: Array[Double]): Unit = {
    out(0) = x; out(1) = y
    if (fromEpsg == toEpsg) return
    fromEpsg match {
      case 4326 => ()
      case 3857 => webMercatorInverse(x, y, out)
      case e if e >= 32601 && e <= 32660 => utmInverse(x, y, e - 32600, north = true, out)
      case e if e >= 32701 && e <= 32760 => utmInverse(x, y, e - 32700, north = false, out)
      case e => throw new IllegalArgumentException(s"Unsupported source EPSG: $e")
    }
    val lon = out(0); val lat = out(1)
    toEpsg match {
      case 4326 => ()
      case 3857 => webMercatorForward(lon, lat, out)
      case e if e >= 32601 && e <= 32660 => utmForward(lon, lat, e - 32600, north = true, out)
      case e if e >= 32701 && e <= 32760 => utmForward(lon, lat, e - 32700, north = false, out)
      case e => throw new IllegalArgumentException(s"Unsupported target EPSG: $e")
    }
  }

  private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))
  private def asinh(x: Double): Double = math.log(x + math.sqrt(x * x + 1))
}
