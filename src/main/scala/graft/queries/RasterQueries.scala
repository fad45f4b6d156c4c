package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Tile-table raster operators in oracle-checkable form: the NDVI array
  * kernel (N2–N8), per-pixel clip masking (C6), and overview downsampling
  * (A2) over tiles synthesized deterministically from the TPC-H tables.
  *
  * These are the double-precision oracle-parity twins of the float32
  * raster module (graft.raster.*, tested against FIXTURES.md golden values
  * in ScalaTest): DuckDB has no float32 arithmetic, so the cross-engine
  * check runs the same kernel in DOUBLE — all IEEE-exact ops, no rounding.
  *
  * Scale notes: every query is a per-row array projection (no shuffle
  * except declared group-bys); pixels arrays stay inside one projection so
  * the 100 TB path is scan → project → (partial agg) with nothing wide.
  */
object RasterQueries {

  /** Synthesized 16-pixel DN bands from lineitem keys (zeros occur →
    * mask branch taken). 1-based pixel index i matches DuckDB range(1,17). */
  private def redDn(i: Column): Column = (col("l_partkey") * 17 + i * 13) % 4096
  private def nirDn(i: Column): Column =
    (col("l_partkey") * 7 + i * 11 + col("l_linenumber")) % 4096
  private val redDnSql = "(l_partkey*17 + i*13) % 4096"
  private val nirDnSql = "(l_partkey*7 + i*11 + l_linenumber) % 4096"

  /** Double-precision NDVI kernel on a DN pair (mask zeros → NULL, scale,
    * eps ratio, clamp) — same chain as ExtractQueries.ndviKernel but
    * NULL-for-nodata (the internal convention, N7). */
  private def ndviPx(r: Column, n: Column): Column = {
    val rs = r.cast("double") * lit(0.0000275) - lit(0.2)
    val ns = n.cast("double") * lit(0.0000275) - lit(0.2)
    when(r === 0 || n === 0, lit(null).cast("double"))
      .otherwise(least(greatest((ns - rs) / (ns + rs + lit(0.000001)), lit(-1.0)), lit(1.0)))
  }
  private def ndviPxSql(r: String, n: String): String = {
    // CAST to DOUBLE first: a bare BIGINT * 0.0000275 would run in DuckDB's
    // exact DECIMAL arithmetic and diverge from Spark's per-step doubles.
    val rs = s"(CAST($r AS DOUBLE)*0.0000275 - 0.2)"
    val ns = s"(CAST($n AS DOUBLE)*0.0000275 - 0.2)"
    s"""CASE WHEN ($r) = 0 OR ($n) = 0 THEN NULL
        ELSE least(greatest(($ns - $rs) / ($ns + $rs + 0.000001), -1.0), 1.0)
        END"""
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Array-kernel NDVI per tile + nodata-aware per-tile mean: one fold
    // for (sum, count) — the explode-free A1 partial.
    "q37_tile_ndvi_mean" -> ((s, d) => {
      val px = transform(sequence(lit(1), lit(16)), i => ndviPx(redDn(i), nirDn(i)))
      val acc = aggregate(px,
        struct(lit(0.0).as("sm"), lit(0L).as("c")),
        (a, p) => struct((a("sm") + coalesce(p, lit(0.0))).as("sm"),
                         (a("c") + p.isNotNull.cast("long")).as("c")))
      lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        when(acc("c") > 0, acc("sm") / acc("c")).otherwise(lit(null)).as("mean_ndvi"),
        acc("c").as("n_valid"))
    }),

    // Per-pixel clip masking: count 4x4-tile pixel centers inside each
    // overlapping AOI box (C6's mask+crop, numerically).
    "q38_tile_clip_count" -> ((s, d) => {
      val tminx = (col("l_orderkey") % 50).cast("double")
      val tmaxy = -(col("l_suppkey") % 50).cast("double")
      val tiles = lineitem(s, d).select(
        col("l_orderkey").as("tile_id"), col("l_linenumber").as("tile_ln"),
        tminx.as("tminx"), tmaxy.as("tmaxy"),
        (tminx + lit(0.4)).as("tmaxx"), (tmaxy - lit(0.4)).as("tminy"))
      val aois = nation(s, d).select(
        col("n_nationkey").as("aoi_id"),
        (col("n_nationkey") * 2).cast("double").as("aminx"),
        (-(col("n_nationkey") * 2).cast("double")).as("amaxy"),
        (col("n_nationkey") * 2 + 10).cast("double").as("amaxx"),
        ((-(col("n_nationkey") * 2)).cast("double") - 10).as("aminy"))
      val inside = aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, i) => {
        val x = col("tminx") + lit(0.1) * ((i % 4).cast("double") + lit(0.5))
        val y = col("tmaxy") - lit(0.1) * (floor(i / 4).cast("double") + lit(0.5))
        acc + (x >= col("aminx") && x <= col("amaxx") &&
               y >= col("aminy") && y <= col("amaxy")).cast("long")
      })
      tiles.join(broadcast(aois),
          !(col("tmaxx") < col("aminx") || col("tminx") > col("amaxx") ||
            col("tmaxy") < col("aminy") || col("tminy") > col("amaxy")))
        .select(col("tile_id"), col("tile_ln"), col("aoi_id"), inside.as("n_inside"))
    }),

    // The pipeline-shaped rollup (SURVEY §1.1's implicit NDVI time
    // series): kernel → valid-filter → weekly per-flag mean. Scan →
    // project → single partial+final aggregate; nothing else shuffles.
    "q51_ndvi_weekly" -> ((s, d) => {
      val redDn = (col("l_partkey") % 4096).cast("double")
      val nirDn = ((col("l_partkey") * 7 + col("l_linenumber")) % 4096).cast("double")
      val ndvi = ExtractQueries.ndviKernel(redDn, nirDn)
      val valid = when(ndvi === -9999.0, lit(null)).otherwise(ndvi)
      lineitem(s, d)
        .select(date_trunc("week", col("l_shipdate")).cast("date").as("week"),
                col("l_returnflag"), valid.as("ndvi"))
        .groupBy(col("week"), col("l_returnflag"))
        .agg((round(avg(col("ndvi")), 6) + lit(0.0)).as("mean_ndvi"),
             count(col("ndvi")).as("n_valid"))
    }),

    // R1/R2 oracle: nearest-neighbor warp 4326→3857 through the REAL
    // warp path (Resample.reprojectTiles → warpGrid → Geodesy), on 4×4
    // synthetic tiles from `nation`. Web-Mercator is closed-form (q44), so
    // DuckDB replays the same corner-bbox / inverse-transform / NN-index
    // math. Output per tile: destination dims, origin (rounded 4dp — libm
    // transcendentals), valid-pixel count and exact integer-valued sum.
    "q56_warp_nn" -> ((s, d) => {
      import s.implicits._
      val tiles = nation(s, d).select(col("n_nationkey").cast("long")).as[Long]
        .map { k =>
          val px: Seq[Option[Float]] = (0 until 16).map { i =>
            if ((k + i) % 11 == 0) None
            else Some(((k * 31 + i * 7) % 97).toFloat)
          }
          graft.model.RasterModel.BandTile(s"N$k", "b", 0, 0, 4, 4, 4326,
            Seq(1.0, 0.0, (k % 18) * 2.0 - 18.0, 0.0, -1.0, (k % 7) * 4.0 - 12.0),
            None, px)
        }
      val warped = graft.raster.Resample
        .reprojectTiles(s, tiles, 3857, resM = 50000.0, bilinear = false)
      warped.toDF()
        .select(col("scene_id"),
          col("width").cast("long").as("out_w"),
          col("height").cast("long").as("out_h"),
          (round(element_at(col("transform"), 3), 4) + lit(0.0)).as("minx"),
          (round(element_at(col("transform"), 6), 4) + lit(0.0)).as("maxy"),
          graft.raster.SumCountExpr(col("pixels")).as("acc"))
        .select(col("scene_id"), col("out_w"), col("out_h"),
          col("minx"), col("maxy"),
          col("acc.c").as("n_valid"), col("acc.s").as("sum_px"))
    }),

    // Multi-AOI × date zonal statistics in ONE pass — q38's clip semi-join
    // generalized to the aggregate a real user asks for (mean NDVI per
    // (AOI × acquisition date) over MANY AOIs in one job; the reference
    // loops one AOI at a time). Envelope prefilter against the broadcast
    // AOI table, per-pixel inside-test (exact PIP for these box AOIs),
    // per-(tile × AOI) (sum, count) fold INSIDE the projection, then ONE
    // (aoi_id, date) aggregate exchange — the whole query shuffles once.
    // Per-pair sums are 9 dp DECIMALs so the cross-tile sum is exact and
    // partition-order-independent. The real-polygon twin (ClipMaskExpr over
    // WKT) is Clip.zonalStats, golden-tested in ScalaTest.
    "q153_zonal_stats" -> ((s, d) => {
      val tminx = (col("l_orderkey") % 50).cast("double")
      val tmaxy = -(col("l_suppkey") % 50).cast("double")
      val tiles = lineitem(s, d).select(
        col("l_partkey"), col("l_linenumber"), col("l_shipdate").as("acq_date"),
        tminx.as("tminx"), tmaxy.as("tmaxy"),
        (tminx + lit(0.4)).as("tmaxx"), (tmaxy - lit(0.4)).as("tminy"))
      val aois = nation(s, d).select(
        col("n_nationkey").as("aoi_id"),
        (col("n_nationkey") * 2).cast("double").as("aminx"),
        (-(col("n_nationkey") * 2).cast("double")).as("amaxy"),
        (col("n_nationkey") * 2 + 10).cast("double").as("amaxx"),
        ((-(col("n_nationkey") * 2)).cast("double") - 10).as("aminy"))
      val acc = aggregate(sequence(lit(1), lit(16)),
        struct(lit(0.0).as("sm"), lit(0L).as("c")),
        (a, i) => {
          val x = col("tminx") + lit(0.1) * (((i - 1) % 4).cast("double") + lit(0.5))
          val y = col("tmaxy") - lit(0.1) * (floor((i - 1) / 4).cast("double") + lit(0.5))
          val in = x >= col("aminx") && x <= col("amaxx") &&
                   y >= col("aminy") && y <= col("amaxy")
          val p = when(in, ndviPx(redDn(i), nirDn(i))).otherwise(lit(null).cast("double"))
          struct((a("sm") + coalesce(p, lit(0.0))).as("sm"),
                 (a("c") + p.isNotNull.cast("long")).as("c"))
        })
      tiles.join(broadcast(aois),
          !(col("tmaxx") < col("aminx") || col("tminx") > col("amaxx") ||
            col("tmaxy") < col("aminy") || col("tminy") > col("amaxy")))
        .select(col("aoi_id"), col("acq_date"), acc.as("acc"))
        .select(col("aoi_id"), col("acq_date"),
          round(col("acc.sm"), 9).cast("decimal(18,9)").as("sm"),
          col("acc.c").as("c"))
        .groupBy(col("aoi_id"), col("acq_date"))
        .agg(count(lit(1)).as("n_pairs"),
             sum(col("c")).as("n_valid"),
             // NO final round: the decimal sum is exact, its double cast is
             // correctly rounded on both engines, and the mean is then one
             // IEEE division — a round(…, 6) here would re-introduce
             // engine-specific tie-breaking exactly at x.xxxxx5 means
             sum(col("sm")).cast("double").as("sum_ndvi"))
        .select(col("aoi_id"), col("acq_date"), col("n_pairs"), col("n_valid"),
          col("sum_ndvi"),
          when(col("n_valid") > 0,
            col("sum_ndvi") / col("n_valid").cast("double"))
            .otherwise(lit(null)).as("mean_ndvi"))
    }),

    // Overview 2x: block means of a 4x4 synthesized tile as 4 columns.
    "q39_overview_blocks" -> ((s, d) => {
      def pxAt(i: Int): Column = ndviPx(redDn(lit(i)), nirDn(lit(i)))
      def blockMean(ids: Seq[Int]): Column = {
        val vals = ids.map(pxAt)
        val cnt = vals.map(_.isNotNull.cast("long")).reduce(_ + _)
        val sm = vals.map(v => coalesce(v, lit(0.0))).reduce(_ + _)
        when(cnt > 0, sm / cnt).otherwise(lit(null))
      }
      // 4x4 tile, row-major 1..16; 2x2 blocks
      lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        blockMean(Seq(1, 2, 5, 6)).as("b0"), blockMean(Seq(3, 4, 7, 8)).as("b1"),
        blockMean(Seq(9, 10, 13, 14)).as("b2"), blockMean(Seq(11, 12, 15, 16)).as("b3"))
    }),

    // Max-value composite (Holben '86 MVC) across the date series: per
    // spatial cell and pixel, the max NDVI over all scenes, the winning
    // acquisition date (ties → later date — order-independent), and the
    // valid-observation count. Two implementations share the semantics:
    // [[graft.raster.CompositeMaxAggregator]] (typed partial+final fold,
    // any tile size — the general path, spec-covered) and, HERE, for the
    // compile-time-fixed 4×4 oracle tile, per-position codegen'd
    // `max(struct(ndvi, day))` aggregates — lexicographic struct max IS
    // the (greater value, then later date) rule, null structs (masked
    // pixels) are ignored by max, and the whole thing stays inside
    // whole-stage codegen with map-side partials (the typed udaf pays
    // ~10× in per-row encoder traffic: measured 11.7 s vs ~1 s at
    // sf0.1). Either way the shuffle carries one fixed-width row per
    // (cell × partition), never exploded pixels; posexplode to long
    // format runs AFTER aggregation, on composite-sized data.
    "q167_max_composite" -> ((s, d) => {
      val day = datediff(col("l_shipdate").cast("date"),
        to_date(lit("1970-01-01"))).cast("int")
      val aggs = (1 to 16).flatMap { i =>
        val p = ndviPx(redDn(lit(i)), nirDn(lit(i)))
        Seq(max(when(p.isNotNull, struct(p.as("v"), day.as("d")))).as(s"m$i"),
          sum(p.isNotNull.cast("long")).as(s"n$i"))
      }
      lineitem(s, d)
        .groupBy((col("l_partkey") % 500).as("cell"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("cell"), posexplode(array((1 to 16).map(i =>
          struct(col(s"m$i.v").as("mx"), col(s"m$i.d").as("wd"),
            col(s"n$i").as("nv"))): _*)))
        .select(col("cell"), (col("pos") + 1).cast("long").as("pix"),
          col("col.mx").as("max_ndvi"),
          date_add(to_date(lit("1970-01-01")), col("col.wd")).as("win_date"),
          col("col.nv").as("n_valid"))
    }),
  )

  val oracle: Map[String, String] = {
    def pxAtSql(i: Int) = ndviPxSql(redDnSql.replace("i*13", s"$i*13"),
                                    nirDnSql.replace("i*11", s"$i*11"))
    def blockMeanSql(ids: Seq[Int]) = {
      val cnt = ids.map(i => s"(CASE WHEN ${pxAtSql(i)} IS NOT NULL THEN 1::BIGINT ELSE 0::BIGINT END)").mkString(" + ")
      val sm = ids.map(i => s"coalesce(${pxAtSql(i)}, 0.0)").mkString(" + ")
      s"CASE WHEN ($cnt) > 0 THEN ($sm) / ($cnt) ELSE NULL END"
    }
    Map(
      "q37_tile_ndvi_mean" ->
        s"""SELECT l_orderkey, l_linenumber,
              CASE WHEN cnt > 0 THEN sm / cnt ELSE NULL END AS mean_ndvi,
              cnt AS n_valid
            FROM (
              SELECT l_orderkey, l_linenumber,
                list_reduce(list_prepend(0::DOUBLE,
                  list_transform(px, p -> coalesce(p, 0.0))), (a, b) -> a + b) AS sm,
                list_reduce(list_prepend(0::BIGINT,
                  list_transform(px, p -> (CASE WHEN p IS NOT NULL THEN 1::BIGINT ELSE 0::BIGINT END))),
                  (a, b) -> a + b) AS cnt
              FROM (
                SELECT l_orderkey, l_linenumber,
                  list_transform(range(1, 17), i -> ${ndviPxSql(redDnSql, nirDnSql)}) AS px
                FROM lineitem))""",
      "q38_tile_clip_count" ->
        s"""SELECT tile_id, tile_ln, aoi_id,
              list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16), i ->
                (CASE WHEN tminx + 0.1 * ((i % 4)::DOUBLE + 0.5) >= aminx
                       AND tminx + 0.1 * ((i % 4)::DOUBLE + 0.5) <= amaxx
                       AND tmaxy - 0.1 * (floor(i / 4)::DOUBLE + 0.5) >= aminy
                       AND tmaxy - 0.1 * (floor(i / 4)::DOUBLE + 0.5) <= amaxy
                  THEN 1::BIGINT ELSE 0::BIGINT END))), (a, b) -> a + b) AS n_inside
            FROM (SELECT l_orderkey AS tile_id, l_linenumber AS tile_ln,
                         CAST(l_orderkey % 50 AS DOUBLE) AS tminx,
                         -CAST(l_suppkey % 50 AS DOUBLE) AS tmaxy,
                         CAST(l_orderkey % 50 AS DOUBLE) + 0.4 AS tmaxx,
                         -CAST(l_suppkey % 50 AS DOUBLE) - 0.4 AS tminy
                  FROM lineitem) t
            JOIN (SELECT n_nationkey AS aoi_id,
                         CAST(n_nationkey * 2 AS DOUBLE) AS aminx,
                         -CAST(n_nationkey * 2 AS DOUBLE) AS amaxy,
                         CAST(n_nationkey * 2 + 10 AS DOUBLE) AS amaxx,
                         -CAST(n_nationkey * 2 AS DOUBLE) - 10 AS aminy
                  FROM nation) a
              ON NOT (t.tmaxx < a.aminx OR t.tminx > a.amaxx OR
                      t.tmaxy < a.aminy OR t.tminy > a.amaxy)""",
      "q51_ndvi_weekly" ->
        s"""SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
                   l_returnflag,
                   round(avg(ndvi), 6) + 0.0 AS mean_ndvi,
                   CAST(count(ndvi) AS BIGINT) AS n_valid
            FROM (SELECT l_shipdate, l_returnflag,
                    CASE WHEN red_dn = 0 OR nir_dn = 0 THEN NULL
                         ELSE least(greatest(
                           ((nir_dn*0.0000275 - 0.2) - (red_dn*0.0000275 - 0.2))
                           / ((nir_dn*0.0000275 - 0.2) + (red_dn*0.0000275 - 0.2) + 0.000001),
                           -1.0), 1.0)
                    END AS ndvi
                  FROM (SELECT l_shipdate, l_returnflag,
                               CAST(l_partkey % 4096 AS DOUBLE) AS red_dn,
                               CAST((l_partkey * 7 + l_linenumber) % 4096 AS DOUBLE) AS nir_dn
                        FROM lineitem))
            GROUP BY 1, 2""",
      "q56_warp_nn" -> {
        // NN source indices — the EXACT operation order of warpGrid +
        // nearestSample (math.round = floor(x + 0.5)), so both engines make
        // identical double-precision decisions: fcol=(lon-c)/a-0.5 etc.
        val lon = "degrees((minx + 50000.0 * ((wi % ow)::DOUBLE + 0.5)) / 6378137.0)"
        val lat = "degrees(2.0 * atan(exp((maxy - 50000.0 * (floor(wi / ow)::DOUBLE + 0.5)) / 6378137.0)) - pi() / 2.0)"
        val sc = s"floor((($lon - c) / 1.0 - 0.5) + 0.5)"
        val sr = s"floor((($lat - f) / (-1.0) - 0.5) + 0.5)"
        val idx = s"(CAST($sr AS BIGINT) * 4 + CAST($sc AS BIGINT))"
        val value =
          s"(CASE WHEN (k + $idx) % 11 = 0 THEN NULL ELSE CAST((k * 31 + $idx * 7) % 97 AS DOUBLE) END)"
        val pixel =
          s"""(CASE WHEN $sc >= 0 AND $sc <= 3 AND $sr >= 0 AND $sr <= 3
                THEN $value ELSE NULL END)"""
        s"""WITH t AS (
              SELECT n_nationkey AS k,
                     CAST((n_nationkey % 18) * 2.0 - 18.0 AS DOUBLE) AS c,
                     CAST((n_nationkey % 7) * 4.0 - 12.0 AS DOUBLE) AS f
              FROM nation),
            bbox AS (
              SELECT k, c, f,
                     least(6378137.0 * radians(c), 6378137.0 * radians(c + 4.0)) AS minx,
                     greatest(6378137.0 * radians(c), 6378137.0 * radians(c + 4.0)) AS maxx,
                     least(6378137.0 * ln(tan(pi() / 4.0 + radians(f) / 2.0)),
                           6378137.0 * ln(tan(pi() / 4.0 + radians(f - 4.0) / 2.0))) AS miny,
                     greatest(6378137.0 * ln(tan(pi() / 4.0 + radians(f) / 2.0)),
                              6378137.0 * ln(tan(pi() / 4.0 + radians(f - 4.0) / 2.0))) AS maxy
              FROM t),
            dims AS (
              SELECT *, greatest(1, CAST(ceil((maxx - minx) / 50000.0) AS INT)) AS ow,
                        greatest(1, CAST(ceil((maxy - miny) / 50000.0) AS INT)) AS oh
              FROM bbox),
            px AS (
              SELECT k, ow, oh, minx, maxy,
                     list_transform(range(0, CAST(ow AS BIGINT) * oh), wi -> $pixel) AS pxs
              FROM dims)
            SELECT 'N' || k AS scene_id,
                   CAST(ow AS BIGINT) AS out_w, CAST(oh AS BIGINT) AS out_h,
                   round(minx, 4) + 0.0 AS minx, round(maxy, 4) + 0.0 AS maxy,
                   list_reduce(list_prepend(0::BIGINT, list_transform(pxs, qp ->
                     (CASE WHEN qp IS NOT NULL THEN 1::BIGINT ELSE 0::BIGINT END))),
                     (qa, qb) -> qa + qb) AS n_valid,
                   list_reduce(list_prepend(0::DOUBLE, list_transform(pxs, qp ->
                     coalesce(qp, 0.0))), (qa, qb) -> qa + qb) AS sum_px
            FROM px"""
      },
      "q153_zonal_stats" -> {
        val x = "(tminx + 0.1 * (((i - 1) % 4)::DOUBLE + 0.5))"
        val y = "(tmaxy - 0.1 * (floor((i - 1) / 4)::DOUBLE + 0.5))"
        val inBox =
          s"$x >= aminx AND $x <= amaxx AND $y >= aminy AND $y <= amaxy"
        val p = s"(CASE WHEN $inBox THEN ${ndviPxSql(redDnSql, nirDnSql)} ELSE NULL END)"
        s"""WITH t AS (SELECT l_partkey, l_linenumber, l_shipdate AS acq_date,
                              CAST(l_orderkey % 50 AS DOUBLE) AS tminx,
                              -CAST(l_suppkey % 50 AS DOUBLE) AS tmaxy,
                              CAST(l_orderkey % 50 AS DOUBLE) + 0.4 AS tmaxx,
                              -CAST(l_suppkey % 50 AS DOUBLE) - 0.4 AS tminy
                       FROM lineitem),
            a AS (SELECT n_nationkey AS aoi_id,
                         CAST(n_nationkey * 2 AS DOUBLE) AS aminx,
                         -CAST(n_nationkey * 2 AS DOUBLE) AS amaxy,
                         CAST(n_nationkey * 2 + 10 AS DOUBLE) AS amaxx,
                         -CAST(n_nationkey * 2 AS DOUBLE) - 10 AS aminy
                  FROM nation),
            pairs AS (
              SELECT aoi_id, acq_date,
                CAST(round(list_reduce(list_prepend(0::DOUBLE,
                  list_transform(range(1, 17), i -> coalesce($p, 0.0))),
                  (qa, qb) -> qa + qb), 9) AS DECIMAL(18,9)) AS sm,
                list_reduce(list_prepend(0::BIGINT,
                  list_transform(range(1, 17), i ->
                    (CASE WHEN $p IS NOT NULL THEN 1::BIGINT ELSE 0::BIGINT END))),
                  (qa, qb) -> qa + qb) AS c
              FROM t JOIN a
                ON NOT (t.tmaxx < a.aminx OR t.tminx > a.amaxx OR
                        t.tmaxy < a.aminy OR t.tminy > a.amaxy))
            SELECT aoi_id, acq_date,
                   count(*)::BIGINT AS n_pairs,
                   sum(c)::BIGINT AS n_valid,
                   CAST(sum(sm) AS DOUBLE) AS sum_ndvi,
                   CASE WHEN sum(c) > 0
                        THEN CAST(sum(sm) AS DOUBLE) / sum(c)::DOUBLE
                        ELSE NULL END AS mean_ndvi
            FROM pairs GROUP BY 1, 2"""
      },
      "q39_overview_blocks" ->
        s"""SELECT l_orderkey, l_linenumber,
              ${blockMeanSql(Seq(1, 2, 5, 6))} AS b0,
              ${blockMeanSql(Seq(3, 4, 7, 8))} AS b1,
              ${blockMeanSql(Seq(9, 10, 13, 14))} AS b2,
              ${blockMeanSql(Seq(11, 12, 15, 16))} AS b3
            FROM lineitem""",

      // Long-form recompute: explode pixels, per-(cell, pix) max + valid
      // count; the winning date re-derived as max(d) among rows hitting
      // the max (same tie rule as the aggregator, on bit-identical
      // doubles — the ndviPx chain is IEEE-exact in both engines).
      "q167_max_composite" ->
        s"""WITH scenes AS (
              SELECT l_partkey % 500 AS cell, l_shipdate::DATE AS d,
                     list_transform(range(1, 17),
                       i -> ${ndviPxSql(redDnSql, nirDnSql)}) AS px
              FROM lineitem),
            long AS (
              SELECT cell, d, i AS pix, px[i] AS v
              FROM scenes, range(1, 17) r(i)),
            agg AS (
              SELECT cell, pix, max(v) AS max_ndvi,
                     count(v)::BIGINT AS n_valid
              FROM long GROUP BY 1, 2),
            win AS (
              SELECT l.cell, l.pix, max(l.d) AS win_date
              FROM long l JOIN agg a
                ON l.cell = a.cell AND l.pix = a.pix AND l.v = a.max_ndvi
              GROUP BY 1, 2)
            SELECT a.cell, a.pix, a.max_ndvi, w.win_date, a.n_valid
            FROM agg a LEFT JOIN win w ON a.cell = w.cell AND a.pix = w.pix""",
    )
  }
}
