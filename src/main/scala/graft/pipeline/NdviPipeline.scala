package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import graft.raster.{Clip, NdviKernel}
import graft.sink.Writers

/** End-to-end pipeline composition — the reference's §3 trace as ONE lazy
  * DataFrame lineage (reference main.py:94-158): scene-catalog predicates →
  * band pairing (J4/N1) → NDVI kernel (N2–N8) → AOI clip (J5/C5-C6) →
  * per-scene mean (A1) → conflict-semantic sinks (K3–K6).
  *
  * Where the reference writes a GeoTIFF between stages so each stage runs
  * once per scene (main.py:124-125), [[run]] keeps two persisted copies,
  * the NDVI tiles and the clipped tiles, and answers its driver-side
  * questions from rows it collects once each: the catalog selection, the
  * NDVI tiles' metadata and the per-(scene, AOI) means. The copies are
  * released through [[Result.release]] after the last commit.
  */
object NdviPipeline {

  /** Extract-stage catalog filtering (F1–F4 on a scene_catalog frame).
    * The end bound is inclusive of the whole end DAY (the reference's
    * STAC "start/end" date range treats a date-only end as end-of-day). */
  def filterCatalog(catalog: DataFrame, maxCloud: Double,
                    start: String, end: String, maxItems: Int): DataFrame =
    catalog
      .filter(col("cloud_cover") <= maxCloud)
      .filter(col("datetime") >= lit(start).cast("timestamp") &&
              col("datetime") < date_add(lit(end).cast("date"), 1).cast("timestamp"))
      .orderBy(col("scene_id")).limit(maxItems) // deterministic L1 bound
      .filter(!col("scene_id").startsWith("LE07"))

  /** Run summary (A3, reference main.py:114-152): per-scene status rows →
    * totals / successes / failures. */
  case class RunSummary(total: Long, succeeded: Long, failed: Long)

  /** Everything the reference's run produces; callers write the frames
    * in stage order (K9 commit ordering). The frames read the run's
    * materialized copies, so [[release]] them only after their last
    * consumer: [[commitRun]] and [[commitRunTxn]] do so after their last
    * write; a caller that reads a Result without committing it calls
    * `release()` itself. A released frame still evaluates correctly; it
    * re-runs the scene's lineage to do so. */
  case class Result(full: DataFrame, clipped: DataFrame, viz: DataFrame,
                    overviews: Option[DataFrame], mean: DataFrame,
                    summary: RunSummary,
                    private val onRelease: () => Unit = () => ()) {
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)

    /** Unpersist the run's materialized frames; idempotent. */
    def release(): Unit = if (released.compareAndSet(false, true)) onRelease()
  }

  /** [[run]] from a bbox-only configuration — the reference's default
    * entry (main.py:100): bootstrap the AOI GeoJSON from
    * `settings.aoi.bbox` if the configured file is missing (K10,
    * `ensure_aoi_geojson_from_bbox`, main.py:68-91), read it back, and
    * run. Idempotent: an existing AOI file is used as-is. */
  def runFromSettings(spark: SparkSession,
                      settings: graft.config.Settings,
                      catalog: DataFrame,
                      tiles: DataFrame,
                      existingFull: DataFrame,
                      existingClipped: DataFrame,
                      runLog: graft.sink.RunLog = graft.sink.RunLog.Noop): Result =
    run(spark, settings, catalog, tiles,
      graft.geo.GeoJson.ensureAndReadAoi(spark, settings),
      existingFull, existingClipped, runLog)

  /** The complete reference trace (main.py:94-158): settings → catalog
    * predicates → band pairing + NDVI kernel → AOI clip → overview
    * pyramid → viz warp to products.reproject_crs → per-scene mean →
    * K4/K5 upserts → run summary.
    *
    * Materialized: the selected band tiles (released once the NDVI tiles
    * are built from them), the NDVI tiles and the clipped tiles.
    * Collected: the catalog selection (scene count, tile filter,
    * acquisition dates), the NDVI tiles' metadata (EPSG set, footprint
    * log, the scenes `ndvi_full` gains) and the means (`mean`, summary).
    * The clip's row count answers the overlap check. If `run` throws it
    * releases its copies; otherwise the returned [[Result]] owns them. */
  def run(spark: SparkSession,
          settings: graft.config.Settings,
          catalog: DataFrame,
          tiles: DataFrame,
          aoi: DataFrame,
          existingFull: DataFrame,
          existingClipped: DataFrame,
          runLog: graft.sink.RunLog = graft.sink.RunLog.Noop): Result = {
    import spark.implicits._
    // acquisition_date per scene from the catalog's datetime (reference
    // parses it per scene, load_to_postgis.py:178-183)
    val picked = filterCatalog(catalog, settings.download.maxCloudCover,
      settings.dates.start, settings.dates.end, settings.download.maxItems)
      .select(col("scene_id"), col("datetime").cast("date").as("acquisition_date"))
    val pickedRows = picked.collect()
    val sceneIds = pickedRows.map(_.getString(0)).distinct
    val nScenes = sceneIds.length.toLong
    val releases = collection.mutable.ArrayBuffer.empty[() => Unit]
    def materialize(df: DataFrame): (DataFrame, Long) = {
      val (m, n, release) = Bridge.materializeCount(spark, df)
      releases += release
      (m, n)
    }
    try {
      // the pair self-joins its input: a copy makes fetch and decode run once
      val (bands, _, releaseBands) = Bridge.materializeCount(spark,
        tiles.filter(col("scene_id").isin(sceneIds: _*)))
      val (ndvi, _) = try materialize(NdviKernel.computeNdvi(bands)) finally releaseBands()
      val meta = Clip.tileBounds(ndvi)
        .select("scene_id", "epsg", "t_minx", "t_miny", "t_maxx", "t_maxy").collect()
      // C4: repair-or-reject invalid AOI geometry at ingest (the reference's
      // union + buffer(0) step, compute_ndvi.py:115-126) — BEFORE the CRS
      // reproject, like the reference's to_crs → buffer(0) order.
      val aoiValid = Clip.validateAoi(aoi)
      // AOI into the tiles' CRS (C3) when the scene grid is projected and
      // uniform; mixed-CRS tile tables clip per-CRS upstream.
      val tileEpsgs = meta.map(_.getInt(1)).distinct
      val aoiInTileCrs =
        if (tileEpsgs.length == 1) Clip.reprojectAoi(aoiValid, tileEpsgs.head)
        else aoiValid
      // C2: footprint sanity log — the NDVI raster's envelope reprojected to
      // WGS84, rounded 4dp (compute_ndvi.py:101-106); best-effort like the
      // reference's try/except-pass.
      if (tileEpsgs.length == 1) try {
        def bound(i: Int) = meta.filterNot(_.isNullAt(i)).map(_.getDouble(i)) // min/max skip NULL
        val (x0, y0, x1, y1) = (bound(2).min, bound(3).min, bound(4).max, bound(5).max)
        val corners = Seq((x0, y0), (x1, y0), (x0, y1), (x1, y1))
          .map { case (x, y) => graft.geo.Geodesy.transformPoint(x, y, tileEpsgs.head, 4326) }
        def r4(v: Double) = math.rint(v * 1e4) / 1e4
        runLog.info(s"Raster bounds (WGS84): (${r4(corners.map(_._1).min)}, " +
          s"${r4(corners.map(_._2).min)}, ${r4(corners.map(_._1).max)}, " +
          s"${r4(corners.map(_._2).max)})")
      } catch { case _: Exception => () }
      val (clippedTiles, nClipped) = materialize(Clip.clipToAoi(ndvi, aoiInTileCrs))
      // the reference raises eagerly when nothing overlaps
      // (compute_ndvi.py:128-131); the materialization counted the rows
      Clip.requireOverlap(nClipped, inputNonEmpty = nScenes > 0)
      // mean per (scene, aoi) — the reference keys ndvi_clipped.mean_ndvi by
      // (full_id, aoi_id); pooling across AOIs would double-count overlap.
      val means = NdviKernel.meanNdvi(clippedTiles, Seq("scene_id", "aoi_id"))
      val meanRows = means.collect()
      val mean = spark.createDataFrame(meanRows.toSeq.asJava, means.schema)
      // per-AOI clipped products: the grid key for downstream per-image ops
      // is (scene, aoi), encoded in the warp group key.
      val clippedBands = clippedTiles
        .withColumn("scene_id", concat_ws("#", col("scene_id"), col("aoi_id")))
        .select(graft.model.RasterModel.bandTileSchema.fieldNames.map(col): _*)
      val overviews =
        if (settings.products.buildOverviews)
          Some(graft.raster.Resample.pyramid(clippedBands))  // [2,4,8,16,32]
        else None
      val vizEpsg = settings.products.reprojectCrs.stripPrefix("EPSG:").toInt
      val viz = graft.raster.Resample.reprojectScenes(spark,
        clippedBands.as[graft.model.RasterModel.BandTile],
        vizEpsg, resM = 0.0 /* derive from source resolution */).toDF()
      val withNdvi = meta.map(_.getString(0)).toSet
      val newFull = spark.createDataFrame(pickedRows.filter(r => withNdvi(r.getString(0)))
        .distinctBy(_.getString(0)).toSeq.asJava,
        StructType(Seq(ndvi.schema("scene_id"), picked.schema("acquisition_date"))))
      // load stage with reference conflict semantics: ndvi_full is
      // insert-if-absent on scene_id (K4), ndvi_clipped merges on
      // (scene_id, aoi_id) (K5)
      val full = existingFull.unionByName(
        Writers.insertIfAbsent(existingFull, newFull, Seq("scene_id")))
      val clippedTable = Writers.merge(existingClipped,
        mean.select(col("scene_id"), col("aoi_id"), col("mean_ndvi")),
        Seq("scene_id", "aoi_id"), tieBreak = "scene_id")
      val nOk = meanRows.filter(!_.isNullAt(2)).map(_.getString(0)).distinct.length.toLong
      runLog.info(s"Run summary: total=$nScenes succeeded=$nOk failed=${nScenes - nOk}")
      Result(full, clippedTable, viz, overviews, mean,
        RunSummary(nScenes, nOk, nScenes - nOk), () => releases.foreach(_()))
    } catch { case e: Throwable => releases.foreach(_()); throw e }
  }

  /** K9 with snapshot isolation end-to-end: commit the run's product
    * tables in the reference loader's stage order (full → clipped → viz,
    * main.py:124-152) as [[graft.sink.VersionedTable]] manifest commits —
    * create on first run, overwrite after (each post-merge frame IS the
    * table's complete new state). A reader that resolved a version before
    * stage 3's commit keeps reading that version's immutable files, and
    * the pre-merge ndvi_clipped stays reachable by time travel until
    * expired — the properties the directory-protocol writers can't give.
    * Returns table name → committed version. Releases `r` after the last
    * write, whether or not the writes succeed. */
  def commitRun(spark: SparkSession, r: Result, rootDir: String): Map[String, Int] = {
    import graft.sink.VersionedTable
    def commitTable(name: String, df: DataFrame): (String, Int) = {
      val root = s"$rootDir/$name"
      val v =
        if (VersionedTable.currentVersion(spark, root).isEmpty)
          VersionedTable.create(spark, root, df)
        else VersionedTable.overwrite(spark, root, df)
      name -> v
    }
    // stage order is load-bearing (K9): a failure mid-sequence leaves the
    // earlier tables committed and the later ones at their prior version —
    // exactly the reference's stop-on-first-failure loader contract.
    try Seq(
      commitTable("ndvi_full", r.full),
      commitTable("ndvi_clipped", r.clipped),
      commitTable("ndvi_viz", r.viz)).toMap
    finally r.release()
  }

  /** [[commitRun]] upgraded to CROSS-TABLE atomicity: the three product
    * tables stage as normal per-table commits and become visible through
    * ONE [[graft.sink.TxnCatalog]] transaction — the engine's analog of
    * the reference's staged commits inside a single Postgres session
    * (load_to_postgis.py:370-384), where a failure anywhere before the
    * final commit leaves a reader on the PREVIOUS versions of ALL three
    * tables, never a mix. Catalog readers (`TxnCatalog.read(catRoot,
    * name)`) get the consistent run; raw per-table readers keep the
    * stop-on-first-failure view [[commitRun]] documents. Returns the txn
    * number and the per-table pins it published. Releases `r` after the
    * transaction, like [[commitRun]]. */
  def commitRunTxn(spark: SparkSession, r: Result, rootDir: String):
      (Int, Map[String, Int]) = {
    import graft.sink.TxnCatalog
    val txn = try TxnCatalog.commitTables(spark, s"$rootDir/_catalog",
      Seq("ndvi_full" -> r.full, "ndvi_clipped" -> r.clipped,
        "ndvi_viz" -> r.viz),
      name => s"$rootDir/$name")
    finally r.release()
    val snap = TxnCatalog.snapshot(spark, s"$rootDir/_catalog")
    (txn, snap.tables.map { case (k, (_, v)) => k -> v })
  }
}
