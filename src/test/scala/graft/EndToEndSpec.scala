package graft

import org.apache.spark.sql.functions._
import graft.config.Settings
import graft.model.RasterModel
import graft.pipeline.NdviPipeline

/** The reference's full run (main.py:94-158) through NdviPipeline.run on
  * the replicated fixtures: catalog predicates pick the good scene, the
  * kernel+clip+mean produce the golden value, upserts land, and a second
  * run is idempotent. */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val settings = Settings.fromString(
    """aoi:
      |  bbox: [0.5, -9.5, 9.5, -0.5]
      |dates:
      |  start: "2022-06-01"
      |  end:   "2022-12-31"
      |download:
      |  max_cloud_cover: 10
      |  max_items: 10
      |products:
      |  reproject_crs: "EPSG:3857"
      |  build_overviews: true""".stripMargin)

  private def catalog = Seq(
    ("TEST_SCENE", 5.0, "2022-06-10 00:00:00"),
    ("CLOUDY", 90.0, "2022-06-10 00:00:00"),
    ("LE07_X", 1.0, "2022-06-10 00:00:00"))
    .toDF("scene_id", "cloud_cover", "dt")
    .withColumn("datetime", col("dt").cast("timestamp"))

  test("full pipeline run: golden mean, product tables, summary, idempotent reload") {
    val tiles = RasterModel.dummyConstant(spark)
    val aoi = RasterModel.aoiOverlap(spark)
    val emptyFull = Seq.empty[(String, java.sql.Date)]
      .toDF("scene_id", "acquisition_date")
    val emptyClipped = Seq.empty[(String, Long, Double)]
      .toDF("scene_id", "aoi_id", "mean_ndvi")

    // K11: per-run timestamped log file + C2 footprint sanity line
    val logDir = java.nio.file.Files.createTempDirectory("graft_run").toString
    val runLog = graft.sink.RunLog.open(logDir, echo = false)
    val r = try NdviPipeline.run(spark, settings, catalog, tiles, aoi,
      emptyFull, emptyClipped, runLog) finally runLog.close()

    val logLines = new String(java.nio.file.Files.readAllBytes(runLog.path), "UTF-8")
    assert(runLog.path.getFileName.toString.matches("pipeline_\\d{8}_\\d{6}\\.log"))
    assert(logLines.contains("[INFO] graft.pipeline: Raster bounds (WGS84): (0.0, -10.0, 10.0, 0.0)"))
    assert(logLines.contains("Run summary: total=1 succeeded=1 failed=0"))

    assert(r.summary.total == 1 && r.summary.succeeded == 1 && r.summary.failed == 0)
    val m = r.mean.head  // (scene_id, aoi_id, mean_ndvi, n_valid)
    assert(m.getString(0) == "TEST_SCENE")
    assert(m.getLong(1) == 1L)
    assert(math.abs(m.getDouble(2) - -0.18965584) < 1e-6)
    assert(m.getLong(3) == 8100)                       // clipped interior
    assert(r.full.count() == 1)
    assert(r.full.head.getAs[java.sql.Date]("acquisition_date").toString == "2022-06-10")
    assert(r.clipped.count() == 1)
    assert(r.viz.count() == 1)
    val vizRow = r.viz.head
    assert(vizRow.getAs[Int]("epsg") == 3857)
    assert(vizRow.getAs[String]("scene_id") == "TEST_SCENE#1")
    // full [2,4,8,16,32] pyramid
    assert(r.overviews.get.select("overview_factor").distinct()
      .collect().map(_.getInt(0)).toSet == Set(2, 4, 8, 16, 32))

    // reload: K4 does nothing for the existing scene, K5 merges in place
    val r2 = NdviPipeline.run(spark, settings, catalog, tiles, aoi,
      r.full, r.clipped)
    assert(r2.full.count() == 1)
    assert(r2.clipped.count() == 1)
    // neither result is committed: release r2, then r, whose frames r2 read
    r2.release()
    r.release()
  }

  private def emptyFull = Seq.empty[(String, java.sql.Date)]
    .toDF("scene_id", "acquisition_date")
  private def emptyClipped = Seq.empty[(String, Long, Double)]
    .toDF("scene_id", "aoi_id", "mean_ndvi")

  test("run + commitRun evaluate each input tile exactly once") {
    val base = RasterModel.dummyConstant(spark)
    val nTiles = base.count()
    val evals = spark.sparkContext.longAccumulator("tile_evaluations")
    val tiles = base.as[RasterModel.BandTile].map { t => evals.add(1); t }.toDF()
    val root = java.nio.file.Files.createTempDirectory("graft_once").toString
    val r = NdviPipeline.run(spark, settings, catalog, tiles,
      RasterModel.aoiOverlap(spark), emptyFull, emptyClipped)
    assert(NdviPipeline.commitRun(spark, r, root) ==
      Map("ndvi_full" -> 1, "ndvi_clipped" -> 1, "ndvi_viz" -> 1))
    assert(evals.value == nTiles,
      s"${evals.value} tile evaluations for $nTiles input tiles")
  }

  test("run + commitRun launch at most 16 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val root = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    val tiles = RasterModel.dummyConstant(spark)
    val aoi = RasterModel.aoiOverlap(spark)
    sc.addSparkListener(listener)
    try {
      NdviPipeline.commitRun(spark, NdviPipeline.run(spark, settings, catalog, tiles, aoi,
        emptyFull, emptyClipped), root)
      // listener events arrive in order: once the marker job shows up,
      // every job before it has been seen
      sc.setJobDescription("jobs-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60e9.toLong
      while (!seen.contains("jobs-marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains("jobs-marker"), "the listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    val jobs = seen.size - 1
    info(s"$jobs jobs")
    assert(jobs <= 16, s"run + commitRun launched $jobs jobs")
  }

  test("a scene the catalog lists twice counts once: summary, ndvi_full and n_valid") {
    val twice = catalog.unionByName(catalog.filter(col("scene_id") === "TEST_SCENE"))
    def runOn(cat: org.apache.spark.sql.DataFrame) = NdviPipeline.run(spark, settings, cat,
      RasterModel.dummyConstant(spark), RasterModel.aoiOverlap(spark), emptyFull, emptyClipped)
    val once = runOn(catalog)
    val dup = runOn(twice)
    try {
      assert(dup.summary == NdviPipeline.RunSummary(1, 1, 0))
      assert(dup.full.count() == 1)
      def nValid(r: NdviPipeline.Result) = r.mean.select("n_valid").as[Long].collect().toSeq
      assert(nValid(once) == Seq(8100L))
      assert(nValid(dup) == nValid(once))
    } finally { dup.release(); once.release() }
  }

  test("run's materialized tiles are released after commitRun, after commitRunTxn " +
    "and when run throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def leaked = sc.getPersistentRDDs.keySet -- before
    def runOn(aoi: org.apache.spark.sql.DataFrame) =
      NdviPipeline.run(spark, settings, catalog, RasterModel.dummyConstant(spark),
        aoi, emptyFull, emptyClipped)
    def freshDir() = java.nio.file.Files.createTempDirectory("graft_release").toString

    val r1 = runOn(RasterModel.aoiOverlap(spark))
    assert(leaked.nonEmpty, "run holds its materialized tiles until the commit")
    NdviPipeline.commitRun(spark, r1, freshDir())
    assert(leaked.isEmpty, s"commitRun left persisted RDD(s) behind: ids $leaked")

    val (txn, _) = NdviPipeline.commitRunTxn(spark, runOn(RasterModel.aoiOverlap(spark)),
      freshDir())
    assert(txn == 1)
    assert(leaked.isEmpty, s"commitRunTxn left persisted RDD(s) behind: ids $leaked")

    val e = intercept[IllegalArgumentException](runOn(RasterModel.aoiDisjoint(spark)))
    assert(e.getMessage == "Input shapes do not overlap raster")
    assert(leaked.isEmpty, s"a failed run left persisted RDD(s) behind: ids $leaked")
  }

  test("versioned sinks: snapshot reader survives a stage-3 commit; time travel returns the pre-merge ndvi_clipped") {
    import graft.sink.VersionedTable
    val tiles = RasterModel.dummyConstant(spark)
    val aoi = RasterModel.aoiOverlap(spark)
    val emptyFull = Seq.empty[(String, java.sql.Date)]
      .toDF("scene_id", "acquisition_date")
    val emptyClipped = Seq.empty[(String, Long, Double)]
      .toDF("scene_id", "aoi_id", "mean_ndvi")
    val root = java.nio.file.Files.createTempDirectory("graft_vrun").toString

    // run 1 commits version 1 of every product table, in stage order
    val r1 = NdviPipeline.run(spark, settings, catalog, tiles, aoi,
      emptyFull, emptyClipped)
    val v1 = NdviPipeline.commitRun(spark, r1, root)
    assert(v1 == Map("ndvi_full" -> 1, "ndvi_clipped" -> 1, "ndvi_viz" -> 1))
    val meanV1 = VersionedTable.read(spark, s"$root/ndvi_clipped")
      .head.getDouble(2)

    // a concurrent reader resolves ndvi_clipped BEFORE the reload commits:
    // it is bound to version 1's immutable file list
    val snapshot = VersionedTable.read(spark, s"$root/ndvi_clipped")

    // run 2: the existing clipped mean is doctored so the K5 merge CHANGES
    // the row — the reload's stage-3 commit publishes version 2
    val doctored = VersionedTable.read(spark, s"$root/ndvi_clipped")
      .withColumn("mean_ndvi", col("mean_ndvi") + 1.0)
    val r2 = NdviPipeline.run(spark, settings, catalog, tiles, aoi,
      VersionedTable.read(spark, s"$root/ndvi_full"), doctored)
    val v2 = NdviPipeline.commitRun(spark, r2, root)
    assert(v2("ndvi_clipped") == 2)

    // the merge kept the incoming (fresh) mean: the live table changed...
    val liveMean = VersionedTable.read(spark, s"$root/ndvi_clipped")
      .head.getDouble(2)
    assert(math.abs(liveMean - meanV1) < 1e-9)
    // ...the doctored pre-merge value is what v2 replaced
    assert(math.abs(doctored.head.getDouble(2) - (meanV1 + 1.0)) < 1e-9)
    // the concurrent reader still reads version 1's files (snapshot
    // isolation through the commit)
    assert(snapshot.count() == 1 &&
      math.abs(snapshot.head.getDouble(2) - meanV1) < 1e-9)
    // time travel: version 1 IS the pre-reload ndvi_clipped
    val travelled = VersionedTable.read(spark, s"$root/ndvi_clipped", Some(1))
    assert(travelled.count() == 1 &&
      math.abs(travelled.head.getDouble(2) - meanV1) < 1e-9)
    // history bounded: expire keeps the newest only, the v1 files go away
    val (mans, files) = VersionedTable.expire(spark, s"$root/ndvi_clipped", keepLast = 1)
    assert(mans == 1 && files >= 1)
    assert(VersionedTable.versions(spark, s"$root/ndvi_clipped") == Seq(2))
  }
}
