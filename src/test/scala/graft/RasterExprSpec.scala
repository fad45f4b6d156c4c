package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.TimeLimits
import org.scalatest.time.{Seconds, Span}
import graft.geo.GeoExpressions.st_contains
import graft.model.RasterModel
import graft.raster.{Clip, ClipMaskExpr, NdviKernel, Resample, SumCountExpr}

/** The native raster expressions against independent references, seeded
  * and time-bounded, each under whole-stage codegen (no interpreted
  * fallback allowed) and fully interpreted:
  *  - ClipMaskExpr against `st_contains` evaluated per pixel centre, the
  *    per-pixel clip it replaced;
  *  - SumCountExpr against a plain Scala fold;
  *  - the output schemas (with nullability) of clipToAoi and
  *    reprojectScenes, which the product tables' written bytes follow. */
class RasterExprSpec extends SparkSpec with TimeLimits {
  import spark.implicits._
  import RasterExprSpec.ClipCase

  private val codegen = Map("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
  private val interpreted = Map("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def withConfs[T](confs: Map[String, String])(f: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `f` under both execution modes; the two results must agree. */
  private def bothModes[T](f: => T): T = {
    val a = withConfs(codegen)(f)
    val b = withConfs(interpreted)(f)
    assert(a == b, "codegen and interpreted results differ")
    a
  }

  /** The per-pixel reference: st_contains at each pixel centre, with the
    * centres from tileBounds' envelope, pixel i at column i % width and
    * row floor(i / width). */
  private def stContainsClip: Column = {
    val a = element_at(col("transform"), 1)
    val e = element_at(col("transform"), 5)
    def px(i: Column) = col("t_minx") + a * ((i % col("width")).cast("double") + lit(0.5))
    def py(i: Column) = col("t_maxy") + e * (floor(i / col("width")).cast("double") + lit(0.5))
    zip_with(col("pixels"), sequence(lit(0), col("width") * col("height") - 1),
      (p, i) => when(st_contains(col("geom_wkt"), px(i), py(i)), p)
        .otherwise(lit(null).cast("float")))
  }

  private val mask = ClipMaskExpr(col("pixels"), col("width"), col("height"),
    col("tile_col"), col("tile_row"), col("transform"), col("geom_wkt"))

  /** (mask, reference) per case, in case order. The exchange keeps the
    * projection off the driver-side local-relation shortcut. */
  private def clipBoth(cases: Seq[ClipCase]): Seq[(Seq[Option[Float]], Seq[Option[Float]])] = {
    def arr(r: org.apache.spark.sql.Row, i: Int) =
      if (r.isNullAt(i)) null else r.getSeq[Any](i).map(v => Option(v).map(_.asInstanceOf[Float]))
    bothModes {
      Clip.tileBounds(cases.zipWithIndex.map { case (c, k) => (k, c) }.toDF("k", "c")
          .select(col("k"), col("c.*")).repartition(2))
        .select(col("k"), mask.as("m"), stContainsClip.as("r"))
        .collect().sortBy(_.getInt(0)).map(r => (arr(r, 1), arr(r, 2))).toSeq
    }
  }

  private def wkt(polys: Seq[Seq[Seq[(Double, Double)]]]): String = {
    def ring(r: Seq[(Double, Double)]) =
      (r :+ r.head).map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")")
    def poly(p: Seq[Seq[(Double, Double)]]) = p.map(ring).mkString("(", ", ", ")")
    if (polys.length == 1) s"POLYGON ${poly(polys.head)}"
    else s"MULTIPOLYGON ${polys.map(poly).mkString("(", ", ", ")")}"
  }

  /** A star-shaped (so simple) ring of `k` vertices around (cx, cy). */
  private def star(rng: scala.util.Random, cx: Double, cy: Double, rMin: Double, rMax: Double,
                   k: Int, snap: Double => Double): Seq[(Double, Double)] =
    (0 until k).map(_ * 2 * math.Pi / k + rng.nextDouble() * 0.5)
      .map { t =>
        val r = rMin + rng.nextDouble() * (rMax - rMin)
        (snap(cx + r * math.cos(t)), snap(cy + r * math.sin(t)))
      }

  private def pixels(rng: scala.util.Random, n: Int): Option[Seq[Option[Float]]] =
    Some(Seq.fill(n)(if (rng.nextInt(10) == 0) None else Some(rng.nextFloat() * 2 - 1)))

  test("clip_mask equals st_contains on every pixel for seeded random polygons") {
    failAfter(Span(300, Seconds)) {
      val rng = new scala.util.Random(20261019)
      // a unit grid, where pixel centres sit on half-integers, and a
      // Landsat-like UTM grid
      val unit = Seq(1.0, 0.0, 0.0, 0.0, -1.0, 0.0)
      val utm = Seq(30.0, 0.0, 600000.0, 0.0, -30.0, 6700000.0)
      val shapes = Seq((256, 256, 0, 0), (64, 48, 1, 2), (200, 37, 3, 1), (17, 256, 2, 0))
      val cases = for {
        tf <- Seq(unit, utm)
        (w, h, tc, tr) <- shapes
        kind <- Seq("star", "hole", "multi", "centres", "rect", "bowtie")
      } yield {
        val Seq(a, _, c, _, e, f) = tf
        val x0 = c + a * (tc * 256).toDouble
        val y0 = f + e * (tr * 256).toDouble
        // exactly the centre of pixel column i / row j, and a snap to it
        def cx(i: Int) = x0 + a * (i.toDouble + 0.5)
        def cy(j: Int) = y0 + e * (j.toDouble + 0.5)
        def snapX(x: Double) = cx(math.floor((x - x0) / a).toInt)
        def snapY(y: Double) = cy(math.floor((y - y0) / e).toInt)
        val midX = x0 + a * w / 2; val midY = y0 + e * h / 2
        val span = math.abs(a) * math.max(w, h)
        val poly = kind match {
          case "star" =>
            Seq(Seq(star(rng, midX, midY, span * 0.2, span * 0.7, 5 + rng.nextInt(20), identity)))
          case "hole" =>
            Seq(Seq(star(rng, midX, midY, span * 0.3, span * 0.6, 12, identity),
              star(rng, midX, midY, span * 0.05, span * 0.25, 7, identity)))
          case "multi" =>
            Seq.fill(3)(Seq(star(rng, x0 + a * w * rng.nextDouble(), y0 + e * h * rng.nextDouble(),
              span * 0.05, span * 0.3, 6 + rng.nextInt(6), identity)))
          case "centres" =>
            // every vertex on a pixel centre: edges through centres
            Seq(Seq(star(rng, midX, midY, span * 0.1, span * 0.5, 9, identity)
              .map { case (x, y) => (snapX(x), snapY(y)) }))
          case "rect" =>
            // horizontal and vertical edges exactly on centre lines
            val (i0, i1) = (rng.nextInt(w), rng.nextInt(w))
            val (j0, j1) = (rng.nextInt(h), rng.nextInt(h))
            Seq(Seq(Seq((cx(i0), cy(j0)), (cx(i1), cy(j0)), (cx(i1), cy(j1)), (cx(i0), cy(j1)))))
          case "bowtie" =>
            // self-intersecting: clipped as validateAoi repairs it
            val (xa, xb) = (snapX(x0 + a * w * 0.1), snapX(x0 + a * w * 0.9))
            val (ya, yb) = (snapY(y0 + e * h * 0.1), snapY(y0 + e * h * 0.9))
            Seq(Seq(Seq((xa, ya), (xb, yb), (xb, ya), (xa, yb))))
        }
        kind -> ClipCase(pixels(rng, w * h), w, h, tc, tr, tf, wkt(poly))
      }
      // each bow-tie also as validateAoi repairs it
      val bowties = cases.collect { case ("bowtie", c) => c }
      val repaired = Clip.validateAoi(bowties.zipWithIndex.map { case (c, k) =>
        RasterModel.Aoi(k.toLong, "b", c.geom_wkt, 0, 0, 0, 0) }.toDF())
        .select("aoi_id", "geom_wkt").as[(Long, String)].collect().toMap
      assert(bowties.indices.forall(k => repaired(k.toLong) != bowties(k).geom_wkt),
        "a bow-tie was not repaired")
      val all = cases.map(_._2) ++
        bowties.zipWithIndex.map { case (c, k) => c.copy(geom_wkt = repaired(k.toLong)) }
      val got = clipBoth(all)
      var inside = 0L; var outside = 0L
      got.zip(all).foreach { case ((m, r), c) =>
        assert(m == r, s"mask differs from st_contains for ${c.geom_wkt.take(80)}")
        inside += m.count(_.isDefined); outside += m.count(_.isEmpty)
      }
      assert(inside > 10000 && outside > 10000, s"inside $inside outside $outside")
    }
  }

  test("clip_mask: inside passes the array through, outside nulls it, NULL gives NULL") {
    val tf = Seq(1.0, 0.0, 0.0, 0.0, -1.0, 0.0)
    val rng = new scala.util.Random(5)
    val px = pixels(rng, 64 * 32)
    val cover = "POLYGON ((-1 1, 100 1, 100 -100, -1 -100, -1 1))"
    val between = "POLYGON ((0.6 -0.6, 0.9 -0.6, 0.9 -0.9, 0.6 -0.6))"
    val got = clipBoth(Seq(
      ClipCase(px, 64, 32, 0, 0, tf, cover),
      ClipCase(px, 64, 32, 0, 0, tf, between),
      ClipCase(None, 64, 32, 0, 0, tf, cover)))
    assert(got(0)._1 == px.get)
    assert(got(1)._1.forall(_.isEmpty) && got(1)._1.length == 64 * 32)
    assert(got(2)._1 == null && got(2)._2 == null)
    // the interpreted body hands back the very input array
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val arr = ArrayData.toArrayData(px.get.map(_.map(Float.box).orNull).toArray)
    val e = ClipMaskExpr(Seq(Literal(arr, ArrayType(FloatType)), Literal(64), Literal(32),
      Literal(0), Literal(0), Literal(ArrayData.toArrayData(tf.toArray), ArrayType(DoubleType)),
      Literal(cover)))
    assert(e.eval(null).asInstanceOf[AnyRef] eq arr)
  }

  test("sum_count equals a plain fold, including empty, all-null and NULL arrays") {
    val rng = new scala.util.Random(11)
    // magnitudes over twelve decades, so the double sum depends on its order
    def wide(n: Int) = Some(Seq.fill(n)(if (rng.nextInt(10) == 0) None
      else Some(((rng.nextFloat() * 2 - 1) * math.pow(10, rng.nextInt(13) - 6)).toFloat)))
    val arrays: Seq[Option[Seq[Option[Float]]]] =
      Seq.fill(40)(wide(rng.nextInt(3000))) ++
        Seq(Some(Seq.empty), Some(Seq.fill(50)(None)), None)
    val got = bothModes {
      arrays.zipWithIndex.toDF("px", "k").repartition(2)
        .select(col("k"), SumCountExpr(col("px")).as("sc")).collect()
        .sortBy(_.getInt(0)).map(r => if (r.isNullAt(1)) None
          else Some((r.getStruct(1).getDouble(0), r.getStruct(1).getLong(1)))).toSeq
    }
    val want = arrays.map(_.map(px =>
      px.foldLeft((0.0, 0L)) { case ((s, c), p) => p.fold((s, c))(v => (s + v.toDouble, c + 1)) }))
    assert(got == want)
    assert(want.takeRight(3) == Seq(Some((0.0, 0L)), Some((0.0, 0L)), None))
  }

  test("clip_mask and sum_count fail at analysis on wrong input types") {
    val df = Seq((Seq(1.0), Seq(1), 1, Seq(1.0), "POLYGON ((0 0, 1 0, 1 1, 0 0))"))
      .toDF("dpx", "ipx", "n", "tf", "wkt")
    val e1 = intercept[Exception] {
      df.select(ClipMaskExpr(col("dpx"), col("n"), col("n"), col("n"), col("n"),
        col("tf"), col("wkt"))).collect()
    }
    assert(e1.getMessage.contains("clip_mask"), e1.getMessage)
    val e2 = intercept[Exception] {
      df.select(ClipMaskExpr(col("dpx").cast("array<float>"), col("n"), col("n"), col("n"),
        col("n"), col("tf"), col("n"))).collect()
    }
    assert(e2.getMessage.contains("clip_mask"), e2.getMessage)
    val e3 = intercept[Exception](df.select(SumCountExpr(col("ipx"))).collect())
    assert(e3.getMessage.contains("sum_count"), e3.getMessage)
  }

  test("schema pins: clipToAoi and reprojectScenes keep columns, types and nullability") {
    def f(name: String, dt: DataType, nullable: Boolean) = StructField(name, dt, nullable)
    val px = ArrayType(FloatType, containsNull = true)
    val tf = ArrayType(DoubleType, containsNull = false)
    val clipped = Clip.clipToAoi(NdviKernel.computeNdvi(RasterModel.dummyConstant(spark)),
      Clip.validateAoi(RasterModel.aoiOverlap(spark)))
    assert(clipped.schema == StructType(Seq(
      f("scene_id", StringType, true), f("band", StringType, false),
      f("tile_col", IntegerType, false), f("tile_row", IntegerType, false),
      f("width", IntegerType, false), f("height", IntegerType, false),
      f("epsg", IntegerType, false), f("transform", tf, true),
      f("nodata", DoubleType, false), f("pixels", px, true),
      f("t_minx", DoubleType, true), f("t_maxx", DoubleType, true),
      f("t_maxy", DoubleType, true), f("t_miny", DoubleType, true),
      f("aoi_id", LongType, false), f("name", StringType, true),
      f("geom_wkt", StringType, true))))
    // the pipeline's viz input: one band per (scene, AOI)
    val bands = clipped
      .withColumn("scene_id", concat_ws("#", col("scene_id"), col("aoi_id")))
      .select("scene_id", "band", "tile_col", "tile_row", "width", "height", "epsg",
        "transform", "nodata", "pixels")
    val viz = Resample.reprojectScenes(spark, bands.as[RasterModel.BandTile], 3857,
      resM = 0.0).toDF()
    assert(viz.schema == StructType(Seq(
      f("scene_id", StringType, true), f("band", StringType, true),
      f("tile_col", IntegerType, false), f("tile_row", IntegerType, false),
      f("width", IntegerType, false), f("height", IntegerType, false),
      f("epsg", IntegerType, false), f("transform", tf, true),
      f("nodata", DoubleType, true), f("pixels", px, true))))
    assert(viz.count() == 1)
  }
}

object RasterExprSpec {
  case class ClipCase(pixels: Option[Seq[Option[Float]]], width: Int, height: Int,
                      tile_col: Int, tile_row: Int, transform: Seq[Double], geom_wkt: String)
}
