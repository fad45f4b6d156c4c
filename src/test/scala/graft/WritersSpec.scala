package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.model.RasterModel

/** Writer-side scale mechanics: manifest-stat file skipping on a
  * versioned tile table, and date-partitioned layout with partition
  * pruning at the scan. */
class WritersSpec extends SparkSpec {

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
    VersionedTable.create(spark, root, tiles)
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
