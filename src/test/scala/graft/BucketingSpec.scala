package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GroupRowsExec
import graft.model.RasterModel
import graft.raster.NdviKernel

/** The 100 TB claim made concrete (SURVEY.md §4 "co-partition band_tiles
  * by scene to make J4 a shuffle-free zip"): with the tile table bucketed
  * by the grid key, the band pairing plans with NO shuffle exchange; the
  * same tiles unbucketed plan exactly one, below the grouping. The plans
  * are read through the adaptive query stages, so an exchange inside a
  * stage counts. The pairing plans no sort, sort-merge join, aggregate
  * or window, and the mean no hash aggregate. */
class BucketingSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tiles = (0 until 32).flatMap { i =>
    Seq(
      RasterModel.BandTile(s"S$i", "red", i % 4, i / 4, 4, 4, 4326,
        Seq(0.1, 0, 0, 0, -0.1, 0), Some(0.0), Seq.fill(16)(Some(1000f))),
      RasterModel.BandTile(s"S$i", "nir", i % 4, i / 4, 4, 4, 4326,
        Seq(0.1, 0, 0, 0, -0.1, 0), Some(0.0), Seq.fill(16)(Some(3000f))))
  }.toDF()

  /** The final (adaptive) plan of `df` after running it. */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def withoutBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("band pairing over a bucketed tile table plans without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS tiles_bucketed")
    tiles.write
      .bucketBy(4, "scene_id", "tile_col", "tile_row")
      .sortBy("scene_id", "tile_col", "tile_row")
      .saveAsTable("tiles_bucketed")
    withoutBroadcast {
      val paired = NdviKernel.pairBands(spark.table("tiles_bucketed"))
      val plan = executed(paired)
      assert(collect(plan) { case g: GroupRowsExec => g }.size == 1)
      val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"expected shuffle-free bucketed pairing, found ${shuffles.length} exchanges")
      assert(paired.count() == 32)
    }
  }

  test("band pairing over the same tiles unbucketed plans exactly one exchange, below the grouping") {
    spark.sql("DROP TABLE IF EXISTS tiles_plain")
    tiles.write.saveAsTable("tiles_plain")
    withoutBroadcast {
      val paired = NdviKernel.pairBands(spark.table("tiles_plain"))
      val plan = executed(paired)
      val Seq(group) = collect(plan) { case g: GroupRowsExec => g }
      assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1)
      assert(collect(group.child) { case e: ShuffleExchangeExec => e }.size == 1)
      assert(paired.count() == 32)
    }
  }

  test("band pairing plans one grouping and no sort, sort-merge join, aggregate or window") {
    withoutBroadcast {
      val plan = executed(NdviKernel.pairBands(tiles))
      assert(collect(plan) { case g: GroupRowsExec => g }.size == 1, plan.toString)
      val banned = collect(plan) {
        case p @ (_: SortExec | _: SortMergeJoinExec | _: BaseAggregateExec | _: WindowExec) =>
          p.nodeName
      }
      assert(banned.isEmpty, s"the pair plans ${banned.mkString(", ")}:\n$plan")
    }
  }

  test("the mean plans an object hash aggregate, no hash aggregate") {
    val plan = executed(NdviKernel.meanNdvi(NdviKernel.computeNdvi(tiles), Seq("scene_id")))
    assert(collect(plan) { case a: ObjectHashAggregateExec => a }.size == 2, plan.toString)
    assert(collect(plan) { case a: HashAggregateExec => a }.isEmpty, plan.toString)
  }
}
