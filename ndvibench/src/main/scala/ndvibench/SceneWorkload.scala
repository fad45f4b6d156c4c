package ndvibench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.config.Settings
import graft.model.RasterModel.BandTile
import graft.pipeline.NdviPipeline
import graft.raster.{Clip, NdviKernel, Resample}
import graft.sink.VersionedTable
import graft.sources.{AssetFetch, GeoTiff}

/** `scene_large`: one red/NIR pair. One op is the paper's trace from GeoTIFF bytes to committed products:
  * `AssetFetch.fetchToTiles` over `file:` hrefs, `NdviPipeline.run`, then
  * `NdviPipeline.commitRun` into fresh table roots. */
final class SceneWorkload(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import spark.implicits._
  import SceneFixture._

  private val fixtureDir = work.resolve("scenes")
  private val tablesDir = work.resolve("tables")
  private var bandsOpt: Option[Bands] = None

  private var expected: Seq[Expected] = Seq.empty
  private var assets: DataFrame = _
  private var catalog: DataFrame = _
  private var aoi: DataFrame = _
  private var emptyFull: DataFrame = _
  private var emptyClipped: DataFrame = _
  private var fileBytes = 0L
  // per-op outputs kept for verify
  private val results = collection.mutable.Map.empty[Int, (NdviPipeline.Result, Map[String, Int])]
  // per traced op: (pixels decoded, pixels of the selected scene, pixels
  // tested by the clip, pixels kept)
  private val traced = collection.mutable.Map.empty[Int, Array[Double]]

  val settings: Settings = Settings.fromString(
    """aoi:
      |  bbox: [14.0, 45.0, 16.0, 46.5]
      |dates:
      |  start: "2023-05-01"
      |  end:   "2023-09-30"
      |download:
      |  max_cloud_cover: 20
      |  max_items: 100
      |products:
      |  reproject_crs: "EPSG:3857"
      |  build_overviews: false""".stripMargin)

  private def tif(band: String) = fixtureDir.resolve(s"${scene.id}_$band.tif")
  private def root(k: Int) = tablesDir.resolve(s"op$k")

  def generate(): String = {
    Workload.deleteTree(fixtureDir)
    Files.createDirectories(fixtureDir)
    val b = SceneFixture.bands(seed)
    bandsOpt = Some(b)
    // both bands encode in parallel: deflate, predictor 2, 256-px tiles,
    // declared nodata 0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = Seq("red" -> b.red, "nir" -> b.nir).map { case (band, arr) =>
        pool.submit(new java.util.concurrent.Callable[Array[Byte]] {
          def call(): Array[Byte] = {
            val bytes = GeoTiff.writeTiled(arr, Size, Size, Epsg,
              scene.transform, nodata = Some(0.0), tileSize = Tile,
              compression = 8, predictor = 2)
            Files.write(tif(band), bytes)
            bytes
          }
        })
      }
      val all = futures.map(_.get())
      fileBytes = all.map(_.length.toLong).sum
      Workload.sha256(all.iterator)
    } finally pool.shutdown()
  }

  def setup(): Unit = {
    expected = SceneFixture.expected(bandsOpt.get)
    bandsOpt = None
    assets = Seq("red", "nir").map(band => (scene.id, band, tif(band).toUri.toString))
      .toDF("scene_id", "band", "href")
    catalog = Seq((scene.id, scene.cloud, s"${scene.date} 10:04:00"))
      .toDF("scene_id", "cloud_cover", "dt")
      .withColumn("datetime", col("dt").cast("timestamp")).drop("dt")
    aoi = spark.createDataFrame(SceneFixture.aoiRows())
    emptyFull = Seq.empty[(String, java.sql.Date)].toDF("scene_id", "acquisition_date")
    emptyClipped = Seq.empty[(String, Long, Double)].toDF("scene_id", "aoi_id", "mean_ndvi")
    Files.createDirectories(tablesDir)
  }

  override def prepare(k: Int): Unit = Workload.deleteTree(root(k))

  def run(k: Int, tr: Option[Tracer]): Unit = tr match {
    case None =>
      val (tiles, _) = AssetFetch.fetchToTiles(spark, assets)
      val r = NdviPipeline.run(spark, settings, catalog, tiles.toDF(), aoi,
        emptyFull, emptyClipped)
      results(k) = (r, NdviPipeline.commitRun(spark, r, root(k).toString))
    case Some(t) => runTraced(k, t)
  }

  /** The traced op: each layer's public entry point in its own span, its
    * output materialised inside the span. The layer calls repeat the
    * composition `NdviPipeline.run` makes, with the same arguments, so
    * the frames cached here stand in for the same sub-plans when `run`
    * and `commitRun` execute; the `pipeline.run` and `sink.commit` spans
    * then hold what those two add on top of the layers. */
  private def runTraced(k: Int, t: Tracer): Unit = {
    val cached = collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      cached += p
      p.count()
      p
    }
    try {
      val (tiles, selected, clipped, mean) = t.span("op") {
        val tiles = t.span("sources.decode") {
          keep(AssetFetch.fetchToTiles(spark, assets)._1.toDF())
        }
        val selected = t.span("pipeline.select") {
          val sel = NdviPipeline.filterCatalog(catalog, settings.download.maxCloudCover,
            settings.dates.start, settings.dates.end, settings.download.maxItems)
          keep(tiles.join(broadcast(sel.select(col("scene_id"))), Seq("scene_id")))
        }
        t.span("raster.pair") { keep(NdviKernel.pairBands(selected)) }
        val ndvi = t.span("raster.ndvi") { keep(NdviKernel.computeNdvi(selected)) }
        val aoiT = t.span("geo.aoi") {
          keep(Clip.reprojectAoi(Clip.validateAoi(aoi), Epsg))
        }
        val clipped = t.span("raster.clip") { keep(Clip.clipToAoi(ndvi, aoiT)) }
        val mean = t.span("raster.mean") {
          keep(NdviKernel.meanNdvi(clipped, Seq("scene_id", "aoi_id")))
        }
        t.span("raster.viz") {
          val bands = clipped
            .withColumn("scene_id", concat_ws("#", col("scene_id"), col("aoi_id")))
            .select(BandCols.map(col): _*)
          keep(Resample.reprojectScenes(spark, bands.as[BandTile], 3857, resM = 0.0).toDF())
        }
        val r = t.span("pipeline.run") {
          NdviPipeline.run(spark, settings, catalog, tiles, aoi, emptyFull, emptyClipped)
        }
        val v = t.span("sink.commit") { NdviPipeline.commitRun(spark, r, root(k).toString) }
        results(k) = (r, v)
        (tiles, selected, clipped, mean)
      }
      // sizes for the per-layer ratios, outside every span
      def px(df: DataFrame): Double =
        df.agg(sum(col("width").cast("long") * col("height"))).head().getLong(0).toDouble
      traced(k) = Array(px(tiles), px(selected.filter(col("band") === "red")), px(clipped),
        mean.agg(sum(col("n_valid"))).head().getLong(0).toDouble)
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  private val BandCols = Seq("scene_id", "band", "tile_col", "tile_row", "width",
    "height", "epsg", "transform", "nodata", "pixels")

  def verify(k: Int): Option[String] = {
    val (r, versions) = results.remove(k).getOrElse(return Some(s"op $k: no result"))
    val rk = root(k).toString
    val problems = collection.mutable.ArrayBuffer.empty[String]
    if (versions != Map("ndvi_full" -> 1, "ndvi_clipped" -> 1, "ndvi_viz" -> 1))
      problems += s"committed versions $versions"
    if (r.summary.total != 1) problems += s"summary total ${r.summary.total} != 1"
    val full = VersionedTable.read(spark, s"$rk/ndvi_full").select("scene_id")
      .as[String].collect().toSeq
    if (full != Seq(scene.id)) problems += s"ndvi_full scenes $full != ${scene.id}"
    val got = VersionedTable.read(spark, s"$rk/ndvi_clipped")
      .select("scene_id", "aoi_id", "mean_ndvi").collect()
      .map(row => (row.getString(0), row.getLong(1)) ->
        (if (row.isNullAt(2)) None else Some(row.getDouble(2)))).toMap
    if (got.size != expected.size) problems += s"ndvi_clipped rows ${got.size} != ${expected.size}"
    expected.foreach { e =>
      got.get((e.scene, e.aoi)) match {
        case None => problems += s"missing (${e.scene}, ${e.aoi})"
        case Some(m) =>
          val ok = (m, e.mean) match {
            case (Some(a), Some(b)) => math.abs(a - b) <= 1e-9
            case (None, None) => true
            case _ => false
          }
          if (!ok) problems += s"mean (${e.scene}, ${e.aoi}) $m != ${e.mean}"
      }
    }
    val viz = VersionedTable.read(spark, s"$rk/ndvi_viz").select("scene_id")
      .distinct().as[String].collect().toSet
    val wantViz = expected.map(e => s"${e.scene}#${e.aoi}").toSet
    if (viz != wantViz) problems += s"ndvi_viz groups ${viz.size} != ${wantViz.size}"
    if (problems.isEmpty) None else Some(problems.take(5).mkString("; "))
  }

  def written(k: Int): Long = Workload.treeBytes(root(k))

  def release(k: Int): Unit = Workload.deleteTree(root(k))

  /** One band's bytes decoded by `GeoTiff.toBandTiles` on one thread:
    * median Mpx/s over three decodes. */
  def decodeOneThread(): Double = {
    val bytes = Files.readAllBytes(tif("red"))
    val mpx = Size.toDouble * Size / 1e6
    Workload.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val n = GeoTiff.toBandTiles(scene.id, "red", bytes).size
      require(n > 0)
      mpx / ((System.nanoTime() - t0) / 1e9)
    })
  }

  def layers(tr: Tracer, ops: Seq[Int]): Seq[(String, Double)] = {
    def self(name: String) = Workload.mean(ops.flatMap(tr.of(_, name)).map(_.selfS))
    def spanOf(name: String) = ops.flatMap(tr.of(_, name))
    def avg(f: Array[Double] => Double) = Workload.mean(ops.flatMap(traced.get).map(f))
    val decode = spanOf("sources.decode")
    val decodeS = self("sources.decode")
    val ndviS = self("raster.ndvi")
    Seq(
      "sources.decode_s" -> decodeS,
      "sources.decode_mpx_per_s" -> avg(_(0)) / 1e6 / decodeS,
      "sources.decode_tasks" -> Workload.mean(decode.map(_.tasks.toDouble)),
      "sources.decode_alloc_mb" -> Workload.mean(decode.map(_.allocMb)),
      "pipeline.select_s" -> self("pipeline.select"),
      "raster.pair_s" -> self("raster.pair"),
      "raster.pair_shuffle_mb" -> Workload.mean(spanOf("raster.pair").map(_.shuffleWriteMb)),
      "raster.ndvi_s" -> ndviS,
      "raster.ndvi_mpx_per_s" -> avg(_(1)) / 1e6 / ndviS,
      "geo.aoi_s" -> self("geo.aoi"),
      "raster.clip_s" -> self("raster.clip"),
      "raster.clip_keep_ratio" -> avg(a => a(3) / a(2)),
      "raster.mean_s" -> self("raster.mean"),
      "raster.viz_s" -> self("raster.viz"),
      "pipeline.run_s" -> self("pipeline.run"),
      "sink.commit_s" -> self("sink.commit"))
  }

  def facts: Workload.Obj = Workload.obj(
    "scene_px" -> Size,
    "band_files_mb" -> fileBytes / 1e6,
    "aois" -> AoiPx.size,
    "expected_rows" -> expected.size,
    "expected_inside_px" -> expected.map(_.nInside).sum,
    "expected_valid_px" -> expected.map(_.nValid).sum)
}
