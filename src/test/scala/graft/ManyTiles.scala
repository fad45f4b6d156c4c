package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.raster.{NdviKernel, SumCountExpr}

/** The band pair and the mean with many rows in one task, each against
  * the plan it replaced:
  *
  *     sbt "Test/runMain graft.ManyTiles"
  *
  * The pipeline's workloads put a handful of tiles in a task; here the
  * input has four partitions and every shuffle one (adaptive execution
  * off), so one task pairs every tile of a case and each of the mean's
  * four map tasks folds a quarter of the tiles. Small tiles (16×16),
  * where per-row costs weigh most, go up to 131 072 rows a task; then
  * 64×64 tiles and the pipeline's 256×256. Two cases force both pairs to
  * spill (`spark.shuffle.spill.numElementsForceSpillThreshold`). The mean
  * runs with 128 tiles a key and with two (past the object hash
  * aggregate's 128-key fallback to sort). Each case runs both sides once
  * to warm up, then five times alternating; printed per case and side:
  * the median wall time and the median bytes allocated by all JVM
  * threads while the result was written to the `noop` sink. */
object ManyTiles {

  /** The pair as it was built before the grouping operator: an inner
    * self-join on the grid key, with the grid check threaded through
    * red_px. */
  def selfJoinPair(tiles: DataFrame): DataFrame = {
    val key = Seq("scene_id", "tile_col", "tile_row")
    val red = tiles.filter(col("band") === "red")
      .select((key.map(col) :+ col("width") :+ col("height") :+ col("epsg") :+
        col("transform") :+ col("nodata").as("red_nodata") :+
        col("pixels").as("red_px")): _*)
    val nir = tiles.filter(col("band") === "nir")
      .select((key.map(col) :+ col("width").as("n_width") :+
        col("height").as("n_height") :+ col("transform").as("n_transform") :+
        col("nodata").as("nir_nodata") :+ col("pixels").as("nir_px")): _*)
    val gridOk = assert_true(
      col("width") === col("n_width") && col("height") === col("n_height") &&
        col("transform") === col("n_transform"),
      concat(lit("Input rasters for scene "), col("scene_id"),
             lit(" are not on the same grid")))
    red.join(nir, key)
      .withColumn("red_px", when(gridOk.isNull, col("red_px")))
      .drop("n_width", "n_height", "n_transform")
  }

  /** The mean as it was built before [[graft.raster.SumCountAgg]]: two
    * SQL `sum`s, a hash aggregate. */
  def hashAggregateMean(tiles: DataFrame, keys: Seq[String]): DataFrame =
    tiles.select((keys.map(col) :+ SumCountExpr(col("pixels")).as("sc")): _*)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("sc")("s")).as("sum_ndvi"), sum(col("sc")("c")).as("n_valid"))
      .select((keys.map(col) :+
        when(col("n_valid") > 0, col("sum_ndvi") / col("n_valid")).as("mean_ndvi") :+
        col("n_valid")): _*)

  /** A red and a nir tile of `px`×`px` pixels for each of `keys` grid
    * keys, 64 keys a scene, generated in four partitions. */
  def tiles(spark: SparkSession, keys: Int, px: Int): DataFrame =
    spark.range(0, 2L * keys, 1, 4).selectExpr(
      "concat('S', cast(id div 128 as string)) AS scene_id",
      "if(id % 2 = 0, 'red', 'nir') AS band",
      "cast((id div 2) % 8 as int) AS tile_col",
      "cast((id div 16) % 8 as int) AS tile_row",
      s"$px AS width", s"$px AS height", "32633 AS epsg",
      "array(30.0d, 0.0d, 500000.0d, 0.0d, -30.0d, 4000000.0d) AS transform",
      "0.0d AS nodata",
      s"array_repeat(cast(id % 1000 as float), ${px * px}) AS pixels")

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]").appName("many-tiles")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val spillKey = "spark.shuffle.spill.numElementsForceSpillThreshold"
    type Side = (String, () => DataFrame)
    def pair(keys: Int, px: Int) = { val t = tiles(spark, keys, px)
      Seq[Side]("self-join" -> (() => selfJoinPair(t)), "grouping" -> (() => NdviKernel.pairBands(t))) }
    def mean(keys: Int, px: Int, by: Seq[String]) = { val t = tiles(spark, keys, px)
      Seq[Side]("hash agg" -> (() => hashAggregateMean(t, by)),
                "object agg" -> (() => NdviKernel.meanNdvi(t, by))) }
    val perScene = Seq("scene_id")
    val perTile = Seq("scene_id", "tile_col", "tile_row")
    // (step, input rows, tile side, forced spill, keys, sides)
    val cases = Seq[(String, Int, Int, Option[Int], Int, Seq[Side])](
      ("pair", 2048, 16, None, 1024, pair(1024, 16)),
      ("pair", 32768, 16, None, 16384, pair(16384, 16)),
      ("pair", 131072, 16, None, 65536, pair(65536, 16)),
      ("pair", 131072, 16, Some(16384), 65536, pair(65536, 16)),
      ("pair", 8192, 64, None, 4096, pair(4096, 64)),
      ("pair", 512, 256, None, 256, pair(256, 256)),
      ("pair", 512, 256, Some(64), 256, pair(256, 256)),
      ("mean", 131072, 16, None, 1024, mean(65536, 16, perScene)),
      ("mean", 131072, 16, None, 65536, mean(65536, 16, perTile)),
      ("mean", 8192, 64, None, 64, mean(4096, 64, perScene)),
      ("mean", 2048, 256, None, 16, mean(1024, 256, perScene)))
    println("step        rows   px  spill    keys  side        wall_ms  alloc_mb")
    for ((step, rows, px, spillEvery, keys, sides) <- cases) {
      spillEvery.foreach(n => SparkEnv.get.conf.set(spillKey, n.toString))
      def once(f: () => DataFrame): (Double, Double) = {
        val (a0, t0) = (threads.getTotalThreadAllocatedBytes, System.nanoTime)
        f().write.format("noop").mode("overwrite").save()
        ((System.nanoTime - t0) / 1e6, (threads.getTotalThreadAllocatedBytes - a0) / 1e6)
      }
      sides.foreach { case (_, f) => once(f) }
      val runs = (0 until 5).flatMap { i =>
        (if (i % 2 == 0) sides else sides.reverse).map { case (name, f) => name -> once(f) }
      }
      sides.foreach { case (name, _) =>
        val mine = runs.collect { case (`name`, r) => r }
        println(f"$step%-5s  $rows%9d  $px%3d  ${spillEvery.fold("-")(_.toString)}%5s  $keys%6d" +
          f"  $name%-10s  ${median(mine.map(_._1))}%7.0f  ${median(mine.map(_._2))}%8.1f")
      }
      spillEvery.foreach(_ => SparkEnv.get.conf.remove(spillKey))
    }
    spark.stop()
  }
}
