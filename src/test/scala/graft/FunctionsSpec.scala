package graft

import org.apache.spark.sql.functions._
import graft.model.RasterModel
import graft.raster.NdviKernel
import graft.stats.NanMeanAggregator

/** SQL-registered custom functions + the typed nan-mean Aggregator. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("st_contains and ndvi_kernel are callable from SQL") {
    GraftFunctions.register(spark)
    val in = spark.sql(
      "SELECT st_contains('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 2.0D, 2.0D) AS a, " +
      "       st_contains('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 9.0D, 2.0D) AS b")
      .head
    assert(in.getBoolean(0) && !in.getBoolean(1))
    val ndvi = spark.sql(
      "SELECT ndvi_kernel(array(CAST(1000 AS FLOAT)), array(CAST(3000 AS FLOAT)), " +
      "                   CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)) AS px")
      .head.getSeq[Float](0)
    assert(ndvi.head == -0.18965584f)
  }

  test("st_contains: the same WKT as a fresh string and over a reused buffer gives identical answers") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val pip = graft.geo.PointInPolygon(BoundReference(0, StringType, nullable = false),
      BoundReference(1, DoubleType, nullable = false),
      BoundReference(2, DoubleType, nullable = false))
    val a = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    val b = "POLYGON ((5 5, 9 5, 9 9, 5 9, 5 5))"
    val pts = Seq((2.0, 2.0), (7.0, 7.0), (4.5, 4.5), (0.5, 3.5))
    def answers(wkt: UTF8String) = pts.map { case (x, y) => pip.eval(InternalRow(wkt, x, y)) }
    // a scan's row buffer: the WKT sits at an offset, and the same bytes
    // are overwritten by the next row's value
    val buf = new Array[Byte](a.length + 16)
    def over(wkt: String): UTF8String = {
      val bytes = wkt.getBytes("UTF-8")
      System.arraycopy(bytes, 0, buf, 8, bytes.length)
      UTF8String.fromBytes(buf, 8, bytes.length)
    }
    val reusedA = answers(over(a))
    val reusedB = answers(over(b))
    val freshA = answers(UTF8String.fromString(a))
    val freshB = answers(UTF8String.fromString(b))
    assert(reusedA == Seq(true, false, false, true))
    assert(reusedB == Seq(false, true, false, false))
    assert(freshA == reusedA && freshB == reusedB)
    assert(answers(over(a)) == reusedA)
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    import graft.functions.Portable.sortedIntersectCount
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { _ =>
      val a = rnd.shuffle((0L to 60L).toVector).take(rnd.nextInt(30)).sorted
      val b = rnd.shuffle((0L to 60L).toVector).take(rnd.nextInt(30)).sorted
      (a, b)
    }
    val df = rows.toDF("a", "b").select(
      sortedIntersectCount(col("a"), col("b")).as("got"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("want"))
    assert(df.filter(col("got") =!= col("want")).count() == 0)
    // edges: empty side → 0; null side → null
    val e = Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("a", "b")
      .select(sortedIntersectCount(col("a"), col("b"))).head
    assert(e.getLong(0) == 0L)
    val n = Seq((null.asInstanceOf[Seq[Long]], Seq(1L))).toDF("a", "b")
      .select(sortedIntersectCount(col("a"), col("b"))).head
    assert(n.isNullAt(0))
  }

  test("sorted_intersect_count is NULL for a null element even past the merge point") {
    graft.plans.GraftExtensions.register(spark)
    // [1] vs [1, NULL]: the merge exhausts the left side before reaching
    // the null — the tail scan must still honor "any element NULL → NULL"
    val tail = spark.sql(
      "SELECT sorted_intersect_count(array(1L), array(1L, CAST(NULL AS BIGINT)))").head
    assert(tail.isNullAt(0))
    // null met during the merge: same answer
    val mid = spark.sql(
      "SELECT sorted_intersect_count(array(CAST(NULL AS BIGINT), 1L), array(1L, 2L))").head
    assert(mid.isNullAt(0))
  }

  test("edit_within equals built-in levenshtein under the threshold, -1 above it") {
    import graft.functions.Portable.editWithin
    val rnd = new scala.util.Random(7)
    def randStr(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    def mutate(s: String): String = s.map(c =>
      if (rnd.nextInt(10) == 0) ('a' + rnd.nextInt(6)).toChar else c)
    val rows = (1 to 300).map { i =>
      val a = randStr(5 + rnd.nextInt(60))
      // mix near-dups (mutations) and unrelated strings
      val b = if (i % 2 == 0) mutate(a) else randStr(5 + rnd.nextInt(60))
      (a, b)
    }
    val df = rows.toDF("a", "b").select(
      editWithin(col("a"), col("b"), 3L, 10L).as("got"),
      levenshtein(col("a"), col("b")).cast("long").as("lev"),
      greatest(length(col("a")), length(col("b"))).cast("long").as("ml"))
    val bad = df.filter(
      (col("got") >= 0 && col("got") =!= col("lev")) ||
      (col("got") >= 0 && col("lev") * 10 > col("ml") * 3) ||
      (col("got") === -1 && col("lev") * 10 <= col("ml") * 3)).count()
    assert(bad == 0)
    // SQL registration + null propagation
    graft.plans.GraftExtensions.register(spark)
    assert(spark.sql("SELECT edit_within('kitten', 'sitting', 1, 1)").head.getLong(0) == 3L)
    assert(spark.sql("SELECT edit_within(CAST(NULL AS STRING), 'x', 3, 10)").head.isNullAt(0))
  }

  test("NanMeanAggregator matches meanNdviPerScene on the fixture") {
    val ndvi = NdviKernel.computeNdvi(RasterModel.dummyConstant(spark))
    val viaAgg = ndvi.groupBy("scene_id")
      .agg(NanMeanAggregator.column(col("pixels")).as("mean_ndvi"))
      .head.getDouble(1)
    val viaFold = NdviKernel.meanNdviPerScene(ndvi).head.getDouble(1)
    assert(viaAgg == viaFold)
  }

  test("NanMeanAggregator: all-masked group yields NULL") {
    val tiles = Seq(RasterModel.BandTile("S", "ndvi", 0, 0, 2, 1, 4326,
      Seq(0.1, 0, 0, 0, -0.1, 0), Some(-9999.0), Seq(None, None))).toDF()
    val r = tiles.groupBy("scene_id")
      .agg(NanMeanAggregator.column(col("pixels")).as("m")).head
    assert(r.isNullAt(1))
  }
}
