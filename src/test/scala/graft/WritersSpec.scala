package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.model.RasterModel
import graft.raster.NdviKernel
import graft.sink.Writers

/** Writer-side scale mechanics: tile round trip, the K8 sidecar, and
  * date-partitioned layout with partition pruning at the scan. */
class WritersSpec extends SparkSpec {
  import spark.implicits._

  test("writeTiles round trip preserves the tile table") {
    val tiles = RasterModel.dummyConstant(spark)
    val path = Files.createTempDirectory("tiles").resolve("t").toString
    Writers.writeTiles(tiles, path)
    val back = spark.read.parquet(path)
    assert(back.count() == 2)
    val ndvi = NdviKernel.computeNdvi(back)
    val px = ndvi.select("pixels").head.getSeq[Any](0)
    assert(px.length == 10000 && px.head.asInstanceOf[Float] == -0.18965584f)
  }

  test("writeTiles records a K8 _table_metadata.json sidecar matching the table") {
    val tiles = RasterModel.dummyConstant(spark)
    val path = Files.createTempDirectory("tiles_k8").resolve("t").toString
    Writers.writeTiles(tiles, path)
    val raw = new String(Files.readAllBytes(
      java.nio.file.Paths.get(path, "_table_metadata.json")), "UTF-8")
    // parse with Spark's JSON reader — same dialect the sidecar targets
    val meta = spark.read.json(Seq(raw).toDS()).head
    def seqOf[T](r: org.apache.spark.sql.Row, name: String): Seq[T] =
      r.getSeq[T](r.fieldIndex(name)).toSeq
    assert(seqOf[Long](meta, "srids") == Seq(4326L))
    assert(seqOf[String](meta, "bands") == Seq("nir", "red"))
    assert(meta.getAs[Long]("block_width") == 100L &&
           meta.getAs[Long]("block_height") == 100L)
    assert(seqOf[Double](meta, "pixel_scale_x") == Seq(0.1))
    assert(seqOf[Double](meta, "pixel_scale_y") == Seq(-0.1))
    assert(meta.getAs[Long]("n_tiles") == 2L)
    // a rewrite recomputes the sidecar (drop + re-add cycle)
    Writers.writeTiles(tiles.filter(col("band") === "red"), path)
    val meta2 = spark.read.json(Seq(new String(Files.readAllBytes(
      java.nio.file.Paths.get(path, "_table_metadata.json")), "UTF-8")).toDS()).head
    assert(seqOf[String](meta2, "bands") == Seq("red"))
    assert(meta2.getAs[Long]("n_tiles") == 1L)
  }

  test("versioned tile table: a scene-range read opens only the files whose manifest stats match") {
    import graft.sink.VersionedTable
    // 8 scenes range-partitioned into 4 files -> each file holds a
    // contiguous scene_id range, recorded in the manifest at commit
    val tiles = (1 to 8).map(i =>
        RasterModel.dummyBand(spark, "red", 100f * i, w = 16, h = 16,
          sceneId = f"S$i%02d"))
      .reduce(_ unionByName _)
      .repartitionByRange(4, col("scene_id"))
    val root = Files.createTempDirectory("tiles_skip").resolve("t").toString
    Writers.writeTilesVersioned(tiles, root)
    val all = VersionedTable.prunedFiles(spark, root, Map.empty)
    assert(all.size == 4)
    // a high scene range must prune the low-range files from the MANIFEST
    // alone (no footer reads, no file opens)
    val pruned = VersionedTable.prunedFiles(spark, root,
      Map("scene_id" -> (Some("S07"), None)))
    assert(pruned.size < all.size, s"no files pruned: $pruned")
    val r = VersionedTable.readWhere(spark, root,
      Map("scene_id" -> (Some("S07"), None)))
    assert(r.inputFiles.length == pruned.size)
    // pruning is file-coarse but never loses a matching row
    assert(r.filter(col("scene_id") >= "S07")
      .select("scene_id").distinct().count() == 2)
  }

  test("writeTilesVersioned commits the tile table with the K8 sidecar; overwrite keeps old snapshots readable") {
    import graft.sink.VersionedTable
    val tiles = RasterModel.dummyConstant(spark)
    val root = Files.createTempDirectory("tiles_v").resolve("t").toString
    assert(Writers.writeTilesVersioned(tiles, root) == 1)
    assert(VersionedTable.read(spark, root).count() == tiles.count())
    val meta = spark.read.json(Seq(new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_table_metadata.json")), "UTF-8")).toDS()).head
    assert(meta.getAs[Long]("n_tiles") == tiles.count())
    // overwrite publishes v2; v1 stays time-travelable, sidecar recomputed
    val v1Reader = VersionedTable.read(spark, root)
    assert(Writers.writeTilesVersioned(tiles.filter(col("band") === "red"), root) == 2)
    assert(VersionedTable.read(spark, root).count() == 1)
    assert(v1Reader.count() == tiles.count())
    assert(VersionedTable.read(spark, root, Some(1)).count() == tiles.count())
    val meta2 = spark.read.json(Seq(new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_table_metadata.json")), "UTF-8")).toDS()).head
    assert(meta2.getAs[Long]("n_tiles") == 1L)
  }

  test("date-partitioned write prunes partitions at the scan") {
    val path = Files.createTempDirectory("per_date").resolve("t").toString
    Tables.orders(spark, sf)
      .withColumn("o_date", col("o_orderdate").cast("date"))
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").parquet(path)
    val read = spark.read.parquet(path).filter(col("o_year") === 1997)
    read.collect()
    val plan = read.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // partition filter applied → only the 1997 directory is read
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "expected partition filters on the scan")
    assert(scan.relation.location.inputFiles.exists(_.contains("o_year=1997")))
    // pruning effect shows in the metadata: one selected partition
    assert(scan.metadata.get("PartitionFilters").exists(_.contains("1997")) ||
      scan.partitionFilters.mkString.contains("1997"))
  }
}
