package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.catalog.SceneCatalog
import graft.model.RasterModel.BandTile
import graft.sink.Writers

/** S2: the reference's streaming asset download
  * (download_landsat_stac.py:157-178) as a DISTRIBUTED fetch stage: each
  * partition of (scene_id, band, href) rows opens its own connections —
  * no driver-side I/O, fetch parallelism = partition count — and every
  * outcome is a ROW, never an exception (the reference logs-and-skips a
  * failed asset; here the failure carries through the K7 validation
  * split as a reject with its reason).
  *
  * URL schemes:
  *  - `file:`    — local filesystem; the offline container's only
  *                 reachable scheme and the test path. Content type is
  *                 sniffed from the TIFF magic (classic 42 / BigTIFF 43,
  *                 both byte orders) — the header-less analog of the
  *                 reference's `_is_geotiff_header` response gate.
  *  - `http(s):` — java.net.HttpURLConnection with the reference's 240 s
  *                 read timeout; the Content-Type response header is the
  *                 validation input, exactly the reference's gate.
  *
  * Downstream contract: [[fetchToTiles]] routes fetched bytes through
  * `SceneCatalog.validDownload` (content-type + min-size, F10) via the
  * K7 `Writers.splitRejects`, decodes the valid side with the pure-JVM
  * [[GeoTiff]] reader, and returns the reject rows for A3 run-summary
  * accounting.
  */
object AssetFetch {

  /** One fetch outcome. `error == None` means the transfer itself
    * succeeded; validation happens downstream (K7), not here. */
  final case class Fetched(
      scene_id: String, band: String, href: String,
      content_type: String, size_bytes: Long,
      content: Array[Byte], error: Option[String])

  /** Reference read timeout (download_landsat_stac.py:159: timeout=240). */
  val ReadTimeoutMs = 240000
  val ConnectTimeoutMs = 30000

  /** TIFF magic sniff for header-less schemes: II/MM byte order + magic
    * 42 (classic) or 43 (BigTIFF). */
  private[sources] def sniffContentType(bytes: Array[Byte]): String = {
    def magic(le: Boolean): Int =
      if (le) (bytes(2) & 0xff) | ((bytes(3) & 0xff) << 8)
      else ((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)
    val isTiff = bytes.length >= 4 && (
      (bytes(0) == 'I' && bytes(1) == 'I' && (magic(true) == 42 || magic(true) == 43)) ||
      (bytes(0) == 'M' && bytes(1) == 'M' && (magic(false) == 42 || magic(false) == 43)))
    if (isTiff) "image/tiff" else "application/octet-stream"
  }

  /** Asset-URL signing hook (reference `pc.sign(item)` before every
    * download, download_landsat_stac.py:139): an opaque href →
    * signed-href function applied to each URL immediately before the
    * fetch opens it. Catalog hrefs expire; the reference re-signs every
    * asset PER DOWNLOAD rather than once up front so a long queue can't
    * outlive the token. The hook mirrors that: it runs on the EXECUTOR
    * right before the connection opens (so it must be serializable),
    * and the [[Fetched]] row keeps the ORIGINAL unsigned href — signed
    * URLs carry credentials and must never persist into result tables.
    * Identity by default (offline/`file:` paths need no signing). */
  type UrlSigner = String => String

  /** The default no-op signer. */
  val NoSigner: UrlSigner = identity[String]

  /** Fetch ONE asset; failures become rows. Runs on executors. The row
    * records `href` (unsigned); the transfer uses `signed(href)`. */
  private[sources] def fetchOne(sceneId: String, band: String, href: String,
                                signer: UrlSigner = NoSigner): Fetched = {
    def fail(msg: String) =
      Fetched(sceneId, band, href, "", 0L, Array.emptyByteArray, Some(msg))
    try {
      val uri = new java.net.URI(signer(href))
      uri.getScheme match {
        case "file" =>
          val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(uri))
          Fetched(sceneId, band, href, sniffContentType(bytes),
            bytes.length.toLong, bytes, None)
        case "http" | "https" =>
          val conn = uri.toURL.openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          conn.setConnectTimeout(ConnectTimeoutMs)
          conn.setReadTimeout(ReadTimeoutMs)
          try {
            val code = conn.getResponseCode
            if (code >= 400) {
              // drain the error body so the connection can be reused/closed
              Option(conn.getErrorStream).foreach { es =>
                try es.readAllBytes() finally es.close()
              }
              fail(s"HTTP $code")
            } else {
              val ct = Option(conn.getContentType).getOrElse("")
              val bytes = conn.getInputStream.readAllBytes()
              Fetched(sceneId, band, href, ct, bytes.length.toLong, bytes, None)
            }
          } finally conn.disconnect()
        case s => fail(s"unsupported scheme $s")
      }
    } catch {
      case e: Exception => fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Distributed fetch of an asset table with columns
    * (scene_id, band, href). One connection per row, rows fetched
    * partition-parallel; a dead link is a row with `error`, not a failed
    * stage. */
  def fetch(spark: SparkSession, assets: DataFrame,
            urlSigner: UrlSigner = NoSigner): Dataset[Fetched] = {
    import spark.implicits._
    assets.select(col("scene_id"), col("band"), col("href"))
      .as[(String, String, String)]
      .mapPartitions(_.map { case (s, b, h) => fetchOne(s, b, h, urlSigner) })
  }

  /** fetch → K7 validation split → GeoTIFF decode. Returns the
    * band_tiles of every VALID asset plus the reject rows (content
    * dropped, reason kept: the transfer error if there was one, else
    * "invalid_download" from the F10 content-type/min-size predicate).
    * A tile that fails to decode raises a `GeoTiff.DecodeException`
    * whose message starts with the asset's href.
    * `minBytes` is the reference's 1 MiB floor by default; tests pass a
    * smaller floor for synthetic fixtures. */
  def fetchToTiles(spark: SparkSession, assets: DataFrame,
                   minBytes: Long = 1024L * 1024L,
                   urlSigner: UrlSigner = NoSigner): (Dataset[BandTile], DataFrame) = {
    import spark.implicits._
    val fetched = fetch(spark, assets, urlSigner).toDF()
    val ok = col("error").isNull &&
      SceneCatalog.validDownload(col("content_type"), col("size_bytes"), minBytes)
    val (valid, rejected) = Writers.splitRejects(fetched, ok, "invalid_download")
    val tiles = Bridge.flatMapRows(spark, valid.select("scene_id", "band", "content", "href"),
      GeoTiff.tileRowSchema)(_.flatMap { row =>
        // the input row's buffer is reused: copy the keys the tiles keep
        def key(i: Int) = if (row.isNullAt(i)) null else row.getUTF8String(i).copy()
        GeoTiff.tileRows(key(0), key(1), row.getBinary(2), String.valueOf(row.getUTF8String(3)))
      }).as[BandTile]
    val rejects = rejected
      .withColumn("reject_reason", coalesce(col("error"), col("reject_reason")))
      .drop("content")
    (tiles, rejects)
  }
}
