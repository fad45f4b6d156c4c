package graft

import org.apache.spark.sql.functions._
import graft.model.RasterModel
import graft.pipeline.NdviPipeline
import graft.raster.{Clip, NdviKernel}
import graft.sink.Writers

/** End-to-end pipeline composition + sink conflict semantics
  * (FIXTURES.md §4: lookup joins, upsert idempotency, AOI fallback). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("transform stage: dummy scene through ndvi+clip+mean") {
    val ndvi = NdviKernel.computeNdvi(RasterModel.dummyConstant(spark))
    val clipped = Clip.clipToAoi(ndvi, RasterModel.aoiOverlap(spark))
    val mean = NdviKernel.meanNdviPerScene(clipped)
    assert(ndvi.count() == 1)
    assert(clipped.count() == 1)
    val m = mean.head
    // 8100 interior pixels, all -0.18965582
    assert(m.getLong(2) == 8100)
    assert(math.abs(m.getDouble(1) - -0.18965582) < 1e-6)
  }

  test("filterCatalog applies F1-F4 semantics") {
    val cat = Seq(
      ("LC08_A", 5.0, "2022-06-10 00:00:00"),
      ("LC08_B", 50.0, "2022-06-10 00:00:00"),   // cloud > max
      ("LC08_C", 5.0, "2021-01-01 00:00:00"),    // out of range
      ("LE07_D", 5.0, "2022-06-10 00:00:00"))    // SLC-off sensor
      .toDF("scene_id", "cloud_cover", "dt")
      .withColumn("datetime", col("dt").cast("timestamp"))
    val got = NdviPipeline.filterCatalog(cat, 10.0, "2022-06-01", "2022-12-31", 10)
      .select("scene_id").as[String].collect().toSet
    assert(got == Set("LC08_A"))
  }

  test("upsert semantics: double-load leaves counts unchanged (K4) and merge updates in place (K5)") {
    val full = Seq(("S1", 1), ("S2", 2)).toDF("scene_id", "v")
    val incoming = Seq(("S2", 99), ("S3", 3)).toDF("scene_id", "v")
    // insert-if-absent: S2 not duplicated, S3 added
    val afterInsert = full.unionByName(
      Writers.insertIfAbsent(full, incoming, Seq("scene_id")))
    assert(afterInsert.count() == 3)
    assert(afterInsert.filter(col("scene_id") === "S2" && col("v") === 2).count() == 1)
    // double-load: idempotent
    val again = afterInsert.unionByName(
      Writers.insertIfAbsent(afterInsert, incoming, Seq("scene_id")))
    assert(again.count() == 3)
    // merge: S2 updated in place, S3 added
    val merged = Writers.merge(full, incoming, Seq("scene_id"), "scene_id")
    assert(merged.count() == 3)
    assert(merged.filter(col("scene_id") === "S2").head.getInt(1) == 99)
  }

  test("splitRejects carries reason (K7)") {
    val df = Seq(1, -2, 3).toDF("v")
    val (ok, bad) = Writers.splitRejects(df, col("v") > 0, "negative")
    assert(ok.count() == 2 && bad.count() == 1)
    assert(bad.head.getString(1) == "negative")
  }

  test("S2 http fetch: Content-Type gate, HTTP errors as rejects, decode of the valid asset (loopback server)") {
    import graft.sources.{AssetFetch, GeoTiff}
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val w = 64; val h = 64
    val tf2 = Seq(30.0, 0.0, 600000.0, 0.0, -30.0, 6700000.0)
    val tifBytes = GeoTiff.write(Array.fill(w * h)(1000), w, h, 32635, tf2, Some(0.0), 32)
    val htmlBytes = ("<html>auth required</html>" * 100).getBytes("US-ASCII")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def handler(ct: String, body: Array[Byte]): HttpHandler = (ex: HttpExchange) => {
      ex.getResponseHeaders.add("Content-Type", ct)
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    }
    server.createContext("/scene_red.tif", handler("image/tiff", tifBytes))
    server.createContext("/scene_nir.tif", handler("image/tiff", tifBytes))
    server.createContext("/signin.html", handler("text/html", htmlBytes))
    server.createContext("/gone.tif", (ex: HttpExchange) => {
      ex.sendResponseHeaders(404, -1); ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val assets = Seq(
        ("H1", "red", s"$base/scene_red.tif"),
        ("H1", "nir", s"$base/scene_nir.tif"),
        ("H2", "red", s"$base/signin.html"),  // the reference's non-TIFF response
        ("H3", "red", s"$base/gone.tif"))     // dead link
        .toDF("scene_id", "band", "href")
      val (tiles, rejects) = AssetFetch.fetchToTiles(spark, assets, minBytes = 1024L)
      val rej = rejects.select("scene_id", "reject_reason").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(rej.keySet == Set("H2", "H3"))
      assert(rej("H2") == "invalid_download") // text/html fails the F10 gate
      assert(rej("H3") == "HTTP 404")
      val df = tiles.toDF()
      assert(df.filter(col("scene_id") === "H1").count() == 8) // 2 bands x 2x2 grid
      // response metadata captured from the real headers
      val fetched = AssetFetch.fetch(spark, assets).collect()
        .map(f => (f.scene_id, f.band) -> f).toMap
      assert(fetched(("H1", "red")).content_type == "image/tiff")
      assert(fetched(("H1", "red")).size_bytes == tifBytes.length.toLong)
      assert(fetched(("H2", "red")).content_type.startsWith("text/html"))
    } finally server.stop(0)
  }

  test("S2 url signing: the hook signs each href at fetch time; unsigned " +
    "requests reject and rows keep the UNSIGNED href (loopback server)") {
    // the reference re-signs every asset URL before download
    // (download_landsat_stac.py:139 pc.sign); the engine analog is an
    // opaque signer applied executor-side right before the connection
    import graft.sources.{AssetFetch, GeoTiff}
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val w = 64; val h = 64
    val tf2 = Seq(30.0, 0.0, 600000.0, 0.0, -30.0, 6700000.0)
    val tifBytes = GeoTiff.write(Array.fill(w * h)(1000), w, h, 32635, tf2, Some(0.0), 32)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // the asset endpoint demands ?token=tk-123 — 403 without it
    server.createContext("/signed.tif", (ex: HttpExchange) => {
      if (Option(ex.getRequestURI.getQuery).contains("token=tk-123")) {
        ex.getResponseHeaders.add("Content-Type", "image/tiff")
        ex.sendResponseHeaders(200, tifBytes.length.toLong)
        ex.getResponseBody.write(tifBytes)
      } else ex.sendResponseHeaders(403, -1)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val assets = Seq(("S1", "red", s"$base/signed.tif"))
        .toDF("scene_id", "band", "href")
      // unsigned: the server refuses, the failure is a ROW
      val un = AssetFetch.fetch(spark, assets).collect()
      assert(un.head.error.contains("HTTP 403"))
      // signed: fetch succeeds, and the row keeps the UNSIGNED href
      // (signed URLs carry credentials — they must never persist)
      val signer: AssetFetch.UrlSigner = u => s"$u?token=tk-123"
      val sg = AssetFetch.fetch(spark, assets, signer).collect()
      assert(sg.head.error.isEmpty && sg.head.content_type == "image/tiff")
      assert(sg.head.href == s"$base/signed.tif",
        "the persisted href must stay unsigned")
      // end-to-end through the K7 split + decode
      val (tiles, rejects) =
        AssetFetch.fetchToTiles(spark, assets, minBytes = 1024L, urlSigner = signer)
      assert(rejects.isEmpty && tiles.count() == 4) // 2x2 grid
    } finally server.stop(0)
  }

  test("S2 extract: file: URLs fetch -> K7 validation split -> NDVI, rejects counted") {
    import java.nio.file.{Files, Paths}
    import graft.sources.{AssetFetch, GeoTiff}
    import graft.raster.NdviKernel
    val dir = Files.createTempDirectory("graft_fetch")
    val w = 64; val h = 64
    val tf = Seq(30.0, 0.0, 600000.0, 0.0, -30.0, 6700000.0)
    def tif(name: String, dn: Int): String = {
      val p = dir.resolve(name)
      Files.write(p, GeoTiff.write(Array.fill(w * h)(dn), w, h, 32635, tf, Some(0.0), 32))
      p.toUri.toString
    }
    val notTif = {
      val p = dir.resolve("SCENE2_red.tif")
      Files.write(p, ("<html>sign-in required</html>" * 64).getBytes("US-ASCII"))
      p.toUri.toString
    }
    // SCENE1: both bands valid; SCENE2: red is an HTML error page (the
    // reference's non-TIFF response case); SCENE3: dead link
    val assets = Seq(
      ("SCENE1", "red", tif("SCENE1_red.tif", 1000)),
      ("SCENE1", "nir", tif("SCENE1_nir.tif", 3000)),
      ("SCENE2", "red", notTif),
      ("SCENE2", "nir", tif("SCENE2_nir.tif", 3000)),
      ("SCENE3", "red", dir.resolve("missing.tif").toUri.toString))
      .toDF("scene_id", "band", "href")
    val (tiles, rejects) = AssetFetch.fetchToTiles(spark, assets, minBytes = 1024L)
    // K7 counters: 2 rejects with their distinct reasons
    val rej = rejects.select("scene_id", "band", "reject_reason").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rej.map(t => (t._1, t._2)) == Set(("SCENE2", "red"), ("SCENE3", "red")))
    assert(rej.exists(t => t._1 == "SCENE2" && t._3 == "invalid_download"))
    assert(rej.exists(t => t._1 == "SCENE3" && t._3.startsWith("NoSuchFileException")))
    // valid side decoded: 3 assets x 2x2 tile grid
    val df = tiles.toDF()
    assert(df.count() == 12)
    // extract -> NDVI end-to-end on the fully-fetched scene
    val ndvi = NdviKernel.computeNdvi(df.filter(col("scene_id") === "SCENE1"))
    val vals = ndvi.select(explode(col("pixels")).as("p"))
      .select(col("p").cast("double")).as[Double].collect()
    assert(vals.length == w * h)
    val expected = {
      val red = 1000 * 2.75e-5f - 0.2f; val nir = 3000 * 2.75e-5f - 0.2f
      ((nir - red) / (nir + red)).toDouble
    }
    assert(vals.forall(v => math.abs(v - expected) < 1e-6))
    // A3 run-summary accounting from the two frames
    val nScenes = assets.select("scene_id").distinct().count()
    val nFailed = rejects.select("scene_id").distinct().count()
    assert(nScenes == 3 && nFailed == 2)
  }
}
