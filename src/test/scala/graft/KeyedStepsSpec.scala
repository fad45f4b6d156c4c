package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Bridge, GroupRowsExec, TaskMemory}
import org.apache.spark.sql.types._
import graft.raster.NdviKernel

/** The band pair, which runs on the keyed-grouping operator, against the
  * sort-merge self-join it replaced ([[ManyTiles.selfJoinPair]]); the
  * operator's spill and its metrics; and `meanNdvi` against a plain fold.
  * Every input is drawn from a seeded generator and spread over several
  * partitions. */
class KeyedStepsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  // ---- pairBands ------------------------------------------------------------

  private val tileSchema = StructType(Seq(
    StructField("scene_id", StringType), StructField("band", StringType),
    StructField("tile_col", IntegerType), StructField("tile_row", IntegerType),
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("epsg", IntegerType), StructField("transform", ArrayType(DoubleType)),
    StructField("nodata", DoubleType), StructField("pixels", ArrayType(FloatType))))

  private val tf = Seq(30.0, 0.0, 500000.0, 0.0, -30.0, 4000000.0)

  /** `n` 2×2 tiles over three scenes, two grid positions a side, four
    * bands (one of them NULL), with NULL keys, NULL nodata and NULL
    * pixels mixed in: most keys repeat a band, some have one band only. */
  private def randomTiles(seed: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    frame((0 until n).map { _ =>
      Row(pick("S0", "S1", "S2", null), pick("red", "nir", "swir", null),
        pick[Any](0, 1, null), pick[Any](0, 1, null), 2, 2, 32633, tf, pick[Any](0.0, null),
        Seq.fill(4)(if (rnd.nextInt(5) == 0) null else rnd.nextInt(10000).toFloat))
    }, tileSchema)
  }

  private def withSortMergeJoin[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pairBands equals the sort-merge self-join: duplicate keys, unpaired tiles, NULL keys, a third band") {
    for (seed <- 1L to 3L) {
      val tiles = randomTiles(seed, 300)
      val got = NdviKernel.pairBands(tiles)
      val want = withSortMergeJoin(ManyTiles.selfJoinPair(tiles))
      assert(got.schema == want.schema, s"seed $seed: ${got.schema} != ${want.schema}")
      val wantRows = withSortMergeJoin(rowsOf(want))
      assert(rowsOf(got) == wantRows, s"seed $seed")
      // the draw holds what the test is about: keys with two reds or two
      // nirs (the join's cross product) and keys with one band only
      val counts = tiles.filter(col("band").isin("red", "nir")).groupBy("scene_id", "tile_col", "tile_row")
        .agg(sum(when(col("band") === "red", 1).otherwise(0)).as("r"),
             sum(when(col("band") === "nir", 1).otherwise(0)).as("n")).collect()
      assert(counts.exists(r => r.getLong(3) > 1 && r.getLong(4) > 0), s"seed $seed: no duplicate key")
      assert(counts.exists(r => r.getLong(3) == 0 || r.getLong(4) == 0), s"seed $seed: no unpaired key")
      assert(wantRows.size > counts.count(r => r.getLong(3) > 0 && r.getLong(4) > 0))
    }
  }

  test("pairBands: a grid mismatch still fails with 'are not on the same grid'") {
    val tiles = frame(Seq(
      Row("S0", "red", 0, 0, 2, 2, 32633, tf, 0.0, Seq.fill(4)(1f)),
      Row("S0", "nir", 0, 0, 1, 1, 32633, tf, 0.0, Seq(2f)),
      Row("S1", "red", 0, 0, 2, 2, 32633, tf, 0.0, Seq.fill(4)(1f)),
      Row("S1", "nir", 0, 0, 2, 2, 32633, tf, 0.0, Seq.fill(4)(2f))), tileSchema)
    for (paired <- Seq(NdviKernel.pairBands(tiles), ManyTiles.selfJoinPair(tiles))) {
      val e = intercept[Exception](paired.collect())
      assert(e.getMessage != null &&
        e.getMessage.contains("Input rasters for scene S0 are not on the same grid"), e.getMessage)
    }
  }

  // ---- meanNdvi -------------------------------------------------------------

  private val partSchema = StructType(Seq(
    StructField("scene_id", StringType), StructField("aoi_id", LongType),
    StructField("pixels", ArrayType(FloatType))))

  /** Tiles keyed by (scene, aoi) with NULL keys; pixel arrays that are
    * NULL, all NULL, empty, or values from 1e-6 to 1e6 of either sign.
    * Scene "SN" has only NULL arrays (n_valid NULL) and "SZ" only empty
    * and all-NULL ones (n_valid 0). */
  private def randomParts(seed: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
    frame(Seq(Row("SN", 1L, null), Row("SN", 1L, null), Row("SZ", null, Seq.empty),
        Row("SZ", null, Seq(null, null))) ++ (0 until n).map { _ =>
      val px: Seq[Any] = rnd.nextInt(8) match {
        case 0 => null
        case 1 => Seq.fill(3)(null)
        case 2 => Seq.empty
        case _ => Seq.fill(1 + rnd.nextInt(6))(
          if (rnd.nextInt(6) == 0) null
          else ((if (rnd.nextBoolean()) 1 else -1) * rnd.nextFloat() *
            math.pow(10, rnd.nextInt(13) - 6)).toFloat)
      }
      Row(pick("S0", "S1", "S2", null), pick[Any](1L, 2L, null), px)
    }, partSchema)
  }

  test("meanNdvi equals a plain fold: NULL, all-NULL and empty arrays, twelve decades of magnitude") {
    for (seed <- 11L to 13L) {
      val parts = randomParts(seed, 120)
      // fold: (scene, aoi) -> (sum, count, sum of |x|) per tile, None for a NULL array
      val tiles = parts.collect().map { r =>
        val px = Option(r.getSeq[Any](2)).map(_.filter(_ != null).map(_.asInstanceOf[Float].toDouble))
        (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getLong(1)),
          px.map(v => (v.sum, v.length.toLong, v.map(math.abs).sum)))
      }
      val want = tiles.groupBy(t => (t._1, t._2)).map { case (k, ts) =>
        val sc = ts.flatMap(_._3)
        val n = if (sc.isEmpty) None else Some(sc.map(_._2).sum)
        k -> (n.filter(_ > 0).map(sc.map(_._1).sum / _), n, sc.map(_._3).sum)
      }
      val got = NdviKernel.meanNdvi(parts, Seq("scene_id", "aoi_id")).collect()
      assert(got.length == want.size, s"seed $seed")
      got.foreach { r =>
        val k = (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getLong(1)))
        val (mean, n, absSum) = want(k)
        assert((if (r.isNullAt(3)) None else Some(r.getLong(3))) == n, s"seed $seed key $k")
        if (mean.isEmpty) assert(r.isNullAt(2), s"seed $seed key $k")
        else {
          val tol = 1e-12 * absSum / n.get
          assert(!r.isNullAt(2) && math.abs(r.getDouble(2) - mean.get) <= tol,
            s"seed $seed key $k: ${r.get(2)} vs ${mean.get}")
        }
      }
      assert(want.values.exists(_._2.isEmpty) && want.values.exists(_._2.contains(0L)),
        s"seed $seed: no all-NULL-partials or zero-count group drawn")
      assert(want.keys.exists(k => k._1.isEmpty || k._2.isEmpty), s"seed $seed: no NULL key drawn")
    }
  }


  // ---- the operator ---------------------------------------------------------

  private def groupExecs(df: DataFrame): Seq[GroupRowsExec] =
    collect(df.queryExecution.executedPlan) { case g: GroupRowsExec => g }

  private def spillReport(g: GroupRowsExec): String =
    g.metrics.map { case (k, m) => s"$k=${m.value}" }.mkString(", ")

  test("a paired frame joins with itself") {
    val p = NdviKernel.pairBands(randomTiles(14, 120))
    val key = Seq("scene_id", "tile_col", "tile_row")
    val self = p.as("a").join(p.as("b"), key.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _))
    val perKey = p.groupBy(key.map(col): _*).count().collect().map(_.getLong(3))
    assert(self.count() == perKey.map(n => n * n).sum)
  }

  test("a forced spill gives identical results, and the operator reports its spill") {
    val tiles = randomTiles(31, 120)
    val plain = rowsOf(NdviKernel.pairBands(tiles))
    val conf = SparkEnv.get.conf
    val key = "spark.shuffle.spill.numElementsForceSpillThreshold"
    val prev = conf.getOption(key)
    val paired = NdviKernel.pairBands(tiles)
    val spilled = try {
      conf.set(key, "1")
      rowsOf(paired)
    } finally prev.fold(conf.remove(key))(conf.set(key, _))
    assert(spilled == plain)
    val Seq(g) = groupExecs(paired)
    assert(g.metrics("spillSize").value > 0 && g.metrics("diskSpillSize").value > 0,
      s"no spill reported: ${spillReport(g)}")
    assert(g.metrics("numGroups").value > 0 && g.metrics("numOutputRows").value == plain.size)
    // unforced, the same step spills nothing
    val again = NdviKernel.pairBands(tiles)
    assert(rowsOf(again) == plain)
    val Seq(h) = groupExecs(again)
    assert(h.metrics("spillSize").value == 0, spillReport(h))
  }

  test("a spill while the sorted rows are read is reported too") {
    // ~10 MB a task, so each sorter holds execution memory it can give up
    val rows = spark.range(0, 2400, 1, 4)
      .select((col("id") % 600).as("k"), array_repeat(lit(1f), 4096).as("px"))
    val schema = StructType(Seq(StructField("k", LongType), StructField("n", LongType)))
    val grouped = Bridge.groupRows(rows, Seq("k"), schema) { groups =>
      var asked = false
      groups.map { case (k, rs) =>
        // once the sorted rows are being read, another consumer of the task
        // asks for all the memory there is: the sorter spills what it holds
        if (!asked) { asked = true; TaskMemory.squeeze() }
        InternalRow(k.getLong(0), rs.size.toLong)
      }
    }
    val got = grouped.collect()
    assert(got.length == 600 && got.forall(_.getLong(1) == 4))
    val Seq(g) = groupExecs(grouped)
    assert(g.metrics("spillSize").value > 0 && g.metrics("diskSpillSize").value > 0,
      s"no spill reported: ${spillReport(g)}")
  }
}
