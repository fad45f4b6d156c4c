package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.GeoTiff
import graft.raster.NdviKernel

/** S3: tiled uint16 GeoTIFF subset reader — encode/decode round trips
  * (uncompressed + deflate, edge-tile clipping, georeferencing tags) and a
  * pipeline run (binaryFile source → band_tiles → NDVI kernel) from a
  * synthetic .tif fixture. */
class GeoTiffSpec extends SparkSpec {
  import spark.implicits._

  // 100×70 image, 64-px tiles → 2×2 tile grid with clipped edges
  private val w = 100; private val h = 70; private val ts = 64
  private def gradient(i: Int): Int = (i * 7) % 60000
  private val data = Array.tabulate(w * h)(gradient)
  private val tf = Seq(30.0, 0.0, 600000.0, 0.0, -30.0, 6700000.0)

  private def roundTrip(deflate: Boolean): Unit = {
    val bytes = GeoTiff.write(data, w, h, 32635, tf, Some(0.0), ts, deflate)
    val info = GeoTiff.readInfo(bytes)
    assert(info.width == w && info.height == h)
    assert(info.tileW == ts && info.tileH == ts)
    assert(info.compression == (if (deflate) 8 else 1))
    assert(info.epsg == 32635)
    assert(info.transform == tf)
    assert(info.nodata.contains(0.0))
    val tiles = GeoTiff.toBandTiles("S", "red", bytes)
    assert(tiles.length == 4) // 2x2 grid
    val byPos = tiles.map(t => (t.tile_col, t.tile_row) -> t).toMap
    assert(byPos((0, 0)).width == 64 && byPos((0, 0)).height == 64)
    assert(byPos((1, 0)).width == 36 && byPos((1, 0)).height == 64) // clipped
    assert(byPos((1, 1)).width == 36 && byPos((1, 1)).height == 6)
    // every pixel round-trips exactly
    tiles.foreach { t =>
      for (r <- 0 until t.height; c <- 0 until t.width) {
        val expect = gradient((t.tile_row * ts + r) * w + (t.tile_col * ts + c)).toFloat
        assert(t.pixels(r * t.width + c).contains(expect),
          s"tile (${t.tile_col},${t.tile_row}) px ($c,$r)")
      }
    }
  }

  test("uncompressed round trip with edge-tile clipping")(roundTrip(deflate = false))
  test("deflate round trip")(roundTrip(deflate = true))

  private def assertPixelsMatch(bytes: Array[Byte]): Unit = {
    val tiles = GeoTiff.toBandTiles("S", "red", bytes)
    val ts2 = GeoTiff.readInfo(bytes)
    tiles.foreach { t =>
      for (r <- 0 until t.height; c <- 0 until t.width) {
        val gr = t.tile_row * ts2.tileH + r; val gc = t.tile_col * ts2.tileW + c
        val expect = gradient(gr * w + gc).toFloat
        assert(t.pixels(r * t.width + c).contains(expect),
          s"tile (${t.tile_col},${t.tile_row}) px ($c,$r)")
      }
    }
    assert(tiles.map(t => t.width.toLong * t.height).sum == w.toLong * h)
  }

  test("lzw codec round-trips arbitrary byte streams including table resets") {
    val rnd = new scala.util.Random(7)
    // compressible (runs), incompressible (random), and long enough to
    // force a table reset + code-width growth through 10/11/12 bits
    val cases = Seq(
      Array.fill[Byte](50000)(42),
      Array.tabulate[Byte](60000)(i => (i % 251).toByte),
      Array.fill[Byte](70000)(0).map(_ => rnd.nextInt(256).toByte),
      Array.empty[Byte])
    cases.foreach { in =>
      val enc = GeoTiff.lzwEncode(in)
      val dec = GeoTiff.lzwDecode(enc, in.length)
      assert(java.util.Arrays.equals(dec, in), s"lzw mismatch at len ${in.length}")
    }
  }

  test("strip layout round trip (uncompressed, short last strip)") {
    val bytes = GeoTiff.writeStrips(data, w, h, 32635, tf, Some(0.0), rowsPerStrip = 32)
    val info = GeoTiff.readInfo(bytes)
    assert(info.stripLayout && info.tileH == 32 && info.tileW == w)
    assert(info.tileOffsets.length == 3) // 32+32+6 rows
    assertPixelsMatch(bytes)
  }

  test("strip layout round trip (lzw + horizontal predictor)") {
    val bytes = GeoTiff.writeStrips(data, w, h, 32635, tf, Some(0.0),
      rowsPerStrip = 32, compression = 5, predictor = 2)
    val info = GeoTiff.readInfo(bytes)
    assert(info.stripLayout && info.compression == 5 && info.predictor == 2)
    assertPixelsMatch(bytes)
  }

  test("strip layout round trip (deflate)") {
    val bytes = GeoTiff.writeStrips(data, w, h, 32635, tf, Some(0.0),
      rowsPerStrip = 16, compression = 8)
    assertPixelsMatch(bytes)
  }

  test("tiled lzw round trip (with and without predictor)") {
    assertPixelsMatch(GeoTiff.writeTiled(data, w, h, 32635, tf, Some(0.0), ts,
      compression = 5))
    assertPixelsMatch(GeoTiff.writeTiled(data, w, h, 32635, tf, Some(0.0), ts,
      compression = 5, predictor = 2))
  }

  test("float32 tiled round trip preserves exact sample values") {
    val fdata = Array.tabulate(w * h)(i => (i * 0.125f) - 100f)
    val bytes = GeoTiff.writeFloat32(fdata, w, h, 32635, tf, Some(-9999.0), ts)
    val info = GeoTiff.readInfo(bytes)
    assert(info.bitsPerSample == 32 && info.sampleFormat == 3)
    val tiles = GeoTiff.toBandTiles("S", "red", bytes)
    tiles.foreach { t =>
      for (r <- 0 until t.height; c <- 0 until t.width) {
        val gr = t.tile_row * ts + r; val gc = t.tile_col * ts + c
        assert(t.pixels(r * t.width + c).contains(fdata(gr * w + gc)))
      }
    }
  }

  test("float32 predictor-3 deflate round trip matches its predictor-1 twin " +
      "(reference NDVI product profile: 256-px tiles, nodata -9999)") {
    // same shape the reference writes every NDVI product in
    // (compute_ndvi.py:82-84: deflate, predictor 3, 256x256 tiles)
    val pw = 320; val ph = 272
    val fdat = Array.tabulate(pw * ph) { i =>
      if (i % 37 == 0) -9999f else (i % 4096) * 0.125f - 256f
    }
    val p3 = GeoTiff.writeFloat32Tiled(fdat, pw, ph, 32635, tf, Some(-9999.0),
      tileSize = 256, compression = 8, predictor = 3)
    val info = GeoTiff.readInfo(p3)
    assert(info.predictor == 3 && info.compression == 8)
    assert(info.bitsPerSample == 32 && info.sampleFormat == 3)
    assert(info.nodata.contains(-9999.0))
    val p1 = GeoTiff.writeFloat32Tiled(fdat, pw, ph, 32635, tf, Some(-9999.0),
      tileSize = 256, compression = 8, predictor = 1)
    val t3 = GeoTiff.toBandTiles("S", "ndvi", p3)
      .map(t => (t.tile_col, t.tile_row) -> t).toMap
    val t1 = GeoTiff.toBandTiles("S", "ndvi", p1)
    assert(t1.length == 4 && t3.size == 4) // 2x2 grid, edges clipped
    t1.foreach { t =>
      val twin = t3((t.tile_col, t.tile_row))
      assert(twin.width == t.width && twin.height == t.height)
      assert(twin.pixels == t.pixels,
        s"predictor-3 tile (${t.tile_col},${t.tile_row}) != predictor-1 twin")
    }
    // spot-check raw values against the formula (incl. the nodata fill)
    val t00 = t3((0, 0))
    assert(t00.pixels(0).contains(-9999f))           // i = 0 → nodata
    assert(t00.pixels(1).contains(1 * 0.125f - 256f)) // i = 1
  }

  test("predictor-3 survives lzw and a non-multiple tile width") {
    // 100x70 at 64-px tiles: edge tiles exercise stride == tileW padding
    val fdat = Array.tabulate(w * h)(i => (i % 1000) * 0.25f - 125f)
    Seq(1, 5, 8).foreach { comp =>
      val bytes = GeoTiff.writeFloat32Tiled(fdat, w, h, 32635, tf, None,
        tileSize = ts, compression = comp, predictor = 3)
      val tiles = GeoTiff.toBandTiles("S", "ndvi", bytes)
      tiles.foreach { t =>
        for (r <- 0 until t.height; c <- 0 until t.width) {
          val gr = t.tile_row * ts + r; val gc = t.tile_col * ts + c
          assert(t.pixels(r * t.width + c).contains(fdat(gr * w + gc)),
            s"comp=$comp tile (${t.tile_col},${t.tile_row}) px ($c,$r)")
        }
      }
    }
  }

  test("external predictor-3 fixture (independent encoder) decodes exactly") {
    // tools/make_predictor3_fixture.py writes this file with a from-scratch
    // Python implementation of TIFF TechNote 3 floating-point differencing
    // — decoding it checks undiffRowsFP against bytes it did not produce.
    // The pixel formula below is the generator's documented contract.
    val in = getClass.getResourceAsStream("/graft/external_pred3.tif")
    assert(in != null, "fixture missing: run tools/make_predictor3_fixture.py")
    val bytes = try in.readAllBytes() finally in.close()
    val info = GeoTiff.readInfo(bytes)
    assert(info.width == 320 && info.height == 272)
    assert(info.compression == 8 && info.predictor == 3)
    assert(info.bitsPerSample == 32 && info.sampleFormat == 3)
    assert(info.epsg == 32635 && info.nodata.contains(-9999.0))
    assert(info.transform == Seq(30.0, 0.0, 600000.0, 0.0, -30.0, 6700000.0))
    val tiles = GeoTiff.toBandTiles("X", "ndvi", bytes)
    assert(tiles.length == 4)
    tiles.foreach { t =>
      for (r <- 0 until t.height; c <- 0 until t.width) {
        val i = (t.tile_row * 256 + r) * 320 + (t.tile_col * 256 + c)
        val expect = if (i % 37 == 0) -9999f else (i % 4096) * 0.125f - 256f
        assert(t.pixels(r * t.width + c).contains(expect),
          s"tile (${t.tile_col},${t.tile_row}) px ($c,$r) i=$i")
      }
    }
  }

  test("reader rejects unknown compression; writer rejects invalid combos") {
    // hand-corrupt a valid file: locate the IFD entry for a tag and
    // overwrite its inline value field (little-endian layout, IFD offset
    // at byte 4, 12-byte entries starting at ifdOff+2)
    def patchTag(bytes: Array[Byte], tag: Int, newValue: Int): Array[Byte] = {
      val out = bytes.clone()
      val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ifdOff = bb.getInt(4)
      val n = bb.getShort(ifdOff) & 0xffff
      val pos = (0 until n).map(i => ifdOff + 2 + i * 12)
        .find(p => (bb.getShort(p) & 0xffff) == tag)
        .getOrElse(fail(s"tag $tag not present"))
      bb.putShort(pos + 8, newValue.toShort)
      out
    }
    val good = GeoTiff.writeFloat32(Array.fill(w * h)(1.5f), w, h, 32635, tf, None, ts)
    assert(GeoTiff.readInfo(good).sampleFormat == 3)
    val badComp = patchTag(good, 259, 99) // compression = 99
    val e1 = intercept[IllegalArgumentException](GeoTiff.readInfo(badComp))
    assert(e1.getMessage.contains("compression"))
    // reader guard on unsupported predictors: flip a real predictor tag to 3
    val u16 = GeoTiff.writeTiled(data, w, h, 32635, tf, None, ts,
      compression = 5, predictor = 2)
    val badPred3 = patchTag(u16, 317, 3)
    val e2 = intercept[IllegalArgumentException](GeoTiff.readInfo(badPred3))
    assert(e2.getMessage.contains("predictor"))
    // writer-side guards
    intercept[IllegalArgumentException](
      GeoTiff.writeTiled(data, w, h, 32635, tf, None, ts, compression = 99))
    intercept[IllegalArgumentException](
      GeoTiff.writeStrips(data.take(w * h), w, h, 32635, tf, None,
        rowsPerStrip = 32, compression = 5, predictor = 7))
  }

  test("a deflate tile that asks for a preset dictionary fails with a decode error " +
    "naming the tile instead of hanging") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val good = GeoTiff.write(data, w, h, 32635, tf, Some(0.0), ts, deflate = true)
    val info = GeoTiff.readInfo(good)
    // tile 1's payload replaced in place by a zlib stream whose header
    // asks for a preset dictionary (FDICT)
    val raw = new Array[Byte](ts * ts * 2)
    val d = new java.util.zip.Deflater()
    val payload = try {
      d.setDictionary(Array.fill[Byte](64)(7))
      d.setInput(raw)
      d.finish()
      val buf = new Array[Byte](raw.length)
      buf.take(d.deflate(buf))
    } finally d.end()
    assert(payload.length <= info.tileByteCounts(1))
    val bad = good.clone()
    System.arraycopy(payload, 0, bad, info.tileOffsets(1).toInt, payload.length)
    val e = intercept[GeoTiff.DecodeException](
      Await.result(Future(GeoTiff.toBandTiles("S", "red", bad)), 30.seconds))
    assert(e.getMessage == "Deflate tile 1 needs a preset dictionary")
  }

  test("a corrupt LZW tile fails with a decode error naming the tile: an unknown " +
    "code opening a segment, a stale code after a Clear, a code past the table, truncation") {
    val good = GeoTiff.writeTiled(data, w, h, 32635, tf, Some(0.0), ts, compression = 5)
    val info = GeoTiff.readInfo(good)
    // 9-bit codes packed MSB-first; no stream below grows the table far
    // enough to widen the code
    def stream(codes: Int*): Array[Byte] = {
      val bits = codes.map(c => f"${c.toBinaryString}%9s".replace(' ', '0')).mkString
      bits.padTo((bits.length + 7) / 8 * 8, '0').grouped(8)
        .map(b => Integer.parseInt(b, 2).toByte).toArray
    }
    // tile 1's payload replaced in place; EOI (257) ends each stream
    // before the original bytes that follow it
    def decodeError(codes: Int*): String = {
      val payload = stream(codes: _*)
      assert(payload.length <= info.tileByteCounts(1))
      val bad = good.clone()
      System.arraycopy(payload, 0, bad, info.tileOffsets(1).toInt, payload.length)
      intercept[GeoTiff.DecodeException](GeoTiff.toBandTiles("S", "red", bad)).getMessage
    }
    // first code of the stream names an entry no code has defined
    assert(decodeError(300, 257) == "Corrupt LZW tile 1: code 300 but the table holds 258 entries")
    // 258 = "AB" before the Clear; after it, 258 is undefined again
    assert(decodeError(65, 66, 67, 256, 258, 257) ==
      "Corrupt LZW tile 1: code 258 but the table holds 258 entries")
    // after "A", "B" the table holds 0-258; only 259 (KwKwK) may follow
    assert(decodeError(65, 66, 300, 257) ==
      "Corrupt LZW tile 1: code 300 but the table holds 259 entries")
    assert(decodeError(256, 65, 257) == s"Truncated LZW tile 1: 1 of ${ts * ts * 2} bytes")
  }

  test("fetchToTiles: a corrupt deflate tile fails with a decode error naming the href") {
    val good = GeoTiff.write(data, w, h, 32635, tf, Some(0.0), ts, deflate = true)
    val info = GeoTiff.readInfo(good)
    // tile 1's payload: a zlib header, then a block of the reserved type 3
    val bad = good.clone()
    System.arraycopy(Array[Byte](0x78, 0x9c.toByte, 0xff.toByte), 0, bad,
      info.tileOffsets(1).toInt, 3)
    val p = Files.createTempDirectory("graft_corrupt").resolve("S_red.tif")
    Files.write(p, bad)
    val href = p.toUri.toString
    val (tiles, _) = graft.sources.AssetFetch.fetchToTiles(spark,
      Seq(("S", "red", href)).toDF("scene_id", "band", "href"), minBytes = 1L)
    val e = intercept[Exception](tiles.toDF().collect())
    val decode = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case d: GeoTiff.DecodeException => d }
    assert(decode.exists(d => d.getMessage.startsWith(s"$href: Corrupt deflate tile 1: ")),
      s"no decode error naming $href in ${e.getMessage}")
  }

  test("bandTiles: a corrupt tile or a cut header fails with a decode error that starts " +
    "with the file's path") {
    val good = GeoTiff.write(data, w, h, 32635, tf, Some(0.0), ts, deflate = true)
    val info = GeoTiff.readInfo(good)
    // tile 1's payload: a zlib header, then a block of the reserved type 3
    val badTile = good.clone()
    System.arraycopy(Array[Byte](0x78, 0x9c.toByte, 0xff.toByte), 0, badTile,
      info.tileOffsets(1).toInt, 3)
    def decodeError(bytes: Array[Byte]): (String, String) = {
      val file = Files.createTempDirectory("graft_corrupt_dir").resolve("S_red.tif")
      Files.write(file, bytes)
      val e = intercept[Exception](GeoTiff.bandTiles(spark, file.getParent.toString).collect())
      val decode = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case d: GeoTiff.DecodeException => d.getMessage }
      (s"file:$file: ", decode.getOrElse(s"no decode error in ${e.getMessage}"))
    }
    val (path, tileMsg) = decodeError(badTile)
    assert(tileMsg.startsWith(s"${path}Corrupt deflate tile 1: "), tileMsg)
    val (path2, headerMsg) = decodeError(good.take(6))
    assert(headerMsg == s"${path2}Not a TIFF (6 bytes, shorter than its header)", headerMsg)
  }

  /** Little-endian field access for the header tests (the writer emits
    * little-endian files). */
  private def le(b: Array[Byte], pos: Int, n: Int): Long =
    (0 until n).map(i => (b(pos + i) & 0xffL) << (8 * i)).sum
  private def putLe(b: Array[Byte], pos: Int, n: Int, v: Long): Unit =
    (0 until n).foreach(i => b(pos + i) = (v >>> (8 * i)).toByte)

  test("out-of-range header offsets, a missing tag and a short file raise a " +
    "DecodeException naming the offset or tag") {
    val good = GeoTiff.write(data, w, h, 32635, tf, Some(0.0), ts, deflate = true)
    val ifd = le(good, 4, 4).toInt
    val n = le(good, ifd, 2).toInt
    val entry = (0 until n).map(i => le(good, ifd + 2 + 12 * i, 2).toInt -> (ifd + 2 + 12 * i)).toMap
    def error(edit: Array[Byte] => Array[Byte]): String =
      intercept[GeoTiff.DecodeException](GeoTiff.toBandTiles("S", "red", edit(good.clone())))
        .getMessage
    def patched(pos: Int, size: Int, v: Long)(b: Array[Byte]) = { putLe(b, pos, size, v); b }
    val len = good.length
    assert(error(patched(4, 4, len + 10L)) ==
      s"IFD at offset ${len + 10} (2 bytes) lies outside the $len-byte file")
    // classic offsets are unsigned: the top bit set is past any byte array
    assert(error(patched(4, 4, 0x80000000L)).startsWith("IFD at offset 2147483648 "))
    assert(error(patched(ifd, 2, 0xffffL)).startsWith(s"Entry table of the IFD at $ifd "))
    assert(error(patched(ifd + 2 + 12 * n, 4, len + 100L)).startsWith(s"IFD at offset ${len + 100} "))
    val cut = ifd + 2 + 12 * n + 2
    assert(error(_.take(cut)) == s"Next-IFD pointer of the IFD at $ifd at offset ${cut - 2} " +
      s"(4 bytes) lies outside the $cut-byte file")
    assert(error(patched(entry(324) + 8, 4, len - 4L)).startsWith("Tag 324 values at offset "))
    assert(error(patched(entry(324) + 4, 4, 0xfffffff0L)) == "Tag 324 count 4294967280 exceeds the file")
    assert(error(patched(entry(256), 2, 65000L)) == "Missing required tag 256")
    assert(error(patched(entry(258) + 2, 2, 99L)) == "Tag 258: unsupported TIFF type 99")
    assert(error(_.take(7)) == "Not a TIFF (7 bytes, shorter than its header)")
    // the chain checks raise the same type
    assert(error(patched(ifd + 2 + 12 * n, 4, ifd.toLong)) == s"Cyclic IFD chain (offset $ifd revisited)")
    // a strip wider than its compressed bytes can fill is refused before
    // its buffer is allocated (ImageWidth is an inline LONG)
    val strips = GeoTiff.writeStrips(data, w, h, 32635, tf, Some(0.0), rowsPerStrip = 32,
      compression = 8)
    val sIfd = le(strips, 4, 4).toInt
    val widthAt = (0 until le(strips, sIfd, 2).toInt).map(i => sIfd + 2 + 12 * i)
      .find(le(strips, _, 2) == 256).get
    val wide = strips.clone()
    putLe(wide, widthAt + 8, 4, 1000000L)
    val msg = intercept[GeoTiff.DecodeException](GeoTiff.toBandTiles("S", "red", wide)).getMessage
    assert(msg.matches("Tile 0: \\d+ compressed bytes cannot hold 64000000"), msg)
  }

  test("header fuzz: seeded truncations and byte flips of the header and first IFD " +
    "either decode or raise a DecodeException, within a time bound") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fixtures = Seq(
      "tiled deflate" -> GeoTiff.write(data, w, h, 32635, tf, Some(0.0), ts, deflate = true),
      "strips lzw" -> GeoTiff.writeStrips(data, w, h, 32635, tf, Some(0.0),
        rowsPerStrip = 32, compression = 5, predictor = 2),
      "bigtiff pyramid" -> GeoTiff.writeMultiIfd(Seq(
        GeoTiff.ImageSpec(Left(data), w, h, 32635, tf, Some(0.0), tileSize = ts, compression = 8),
        GeoTiff.ImageSpec(Left(Array.fill(50 * 35)(9)), 50, 35, 32635, tf, tileSize = ts,
          reduced = true, geoTags = false)), bigTiff = true))
    val rnd = new scala.util.Random(7)
    // (fixture, case, bytes)
    val cases = fixtures.flatMap { case (name, good) =>
      val big = good(2) == 43
      val ifd = (if (big) le(good, 8, 8) else le(good, 4, 4)).toInt
      val ifdEnd = if (big) ifd + 16 + 20 * le(good, ifd, 8).toInt
                   else ifd + 6 + 12 * le(good, ifd, 2).toInt
      val region = (0 until (if (big) 16 else 8)) ++ (ifd until ifdEnd)
      val cuts = ((0 to 16) ++ Seq.fill(40)(rnd.nextInt(good.length)) ++
          Seq.fill(20)(ifd + rnd.nextInt(ifdEnd - ifd)))
        .map(n => (name, s"cut at $n", good.take(n)))
      val flips = (1 to 160).map { i =>
        val b = good.clone()
        val at = (1 to (if (i % 4 == 0) 3 else 1)).map(_ => region(rnd.nextInt(region.length)))
        at.foreach(p => b(p) = (b(p) ^ (1 + rnd.nextInt(255))).toByte)
        (name, s"flip at ${at.mkString(",")}", b)
      }
      cuts ++ flips
    }
    assert(cases.length > 600)
    val t0 = System.nanoTime()
    val escaped = Await.result(Future(cases.flatMap { case (name, what, bytes) =>
      try { GeoTiff.readInfos(bytes); GeoTiff.toBandTiles("S", "red", bytes); None }
      catch {
        case _: GeoTiff.DecodeException => None
        case t: Throwable => Some(s"$name, $what: $t")
      }
    }), 120.seconds)
    assert(escaped.isEmpty, s"${escaped.length} cases escaped: ${escaped.take(5).mkString("; ")}")
    info(f"${cases.length} cases in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("reader rejects non-TIFF and unsupported layouts") {
    intercept[IllegalArgumentException] {
      GeoTiff.readInfo("not a tiff at all".getBytes)
    }
  }

  test("binaryFile source reads a .tif directory into band_tiles and NDVI runs") {
    val dir = Files.createTempDirectory("graft_tif").toString
    // red = 1000 DN, nir = 3000 DN constants → NDVI is exactly computable
    def const(v: Int) = Array.fill(w * h)(v)
    Files.write(Paths.get(s"$dir/SCENE1_red.tif"),
      GeoTiff.write(const(1000), w, h, 32635, tf, Some(0.0), ts))
    Files.write(Paths.get(s"$dir/SCENE1_nir08.tif"),
      GeoTiff.write(const(3000), w, h, 32635, tf, Some(0.0), ts, deflate = true))
    val tiles = GeoTiff.bandTiles(spark, dir)
    val df = tiles.toDF()
    assert(df.count() == 8) // 2 bands × 4 tiles
    assert(df.select("band").distinct().as[String].collect().toSet == Set("red", "nir08"))
    val ndvi = NdviKernel.computeNdvi(
      df.withColumn("band",
        when(col("band") === "nir08", "nir").otherwise(col("band"))))
    val vals = ndvi.select(explode(col("pixels")).as("p"))
      .select(col("p").cast("double")).as[Double].collect()
    assert(vals.length == w * h)
    // reference scaling DN*2.75e-5 - 0.2: red → -0.1725, nir → -0.1175,
    // ndvi = (nir-red)/(nir+red) = 0.055 / -0.29 ≈ -0.18966
    assert(vals.toSet.size == 1)
    val expected = {
      val red = 1000 * 2.75e-5f - 0.2f; val nir = 3000 * 2.75e-5f - 0.2f
      (nir - red) / (nir + red)
    }
    assert(math.abs(vals.head - expected) < 1e-6)
  }

  test("external LZW fixture (independent encoder) decodes exactly") {
    // tools/make_lzw_fixture.py writes this file with a from-scratch
    // Python LZW implementation (TIFF 6.0 §13) — decoding it checks the
    // Scala codec against bytes it did not produce itself. The pixel
    // formula and geo tags below are the generator's documented contract.
    val in = getClass.getResourceAsStream("/graft/external_lzw.tif")
    assert(in != null, "fixture missing: run tools/make_lzw_fixture.py")
    val bytes = try in.readAllBytes() finally in.close()
    val info = GeoTiff.readInfo(bytes)
    assert(info.width == 64 && info.height == 40 && info.compression == 5)
    assert(info.stripLayout && info.tileH == 16)
    assert(info.epsg == 32633)
    assert(info.transform == Seq(30.0, 0.0, 500000.0, 0.0, -30.0, 4000000.0))
    assert(info.nodata.contains(0.0))
    val tiles = GeoTiff.toBandTiles("X", "red", bytes)
    assert(tiles.length == 3)
    val flat = tiles.sortBy(_.tile_row).flatMap(_.pixels)
    assert(flat.length == 64 * 40)
    flat.zipWithIndex.foreach { case (p, i) =>
      val expect = ((i.toLong * i / 7 + 13L * i) % 9973).toFloat
      // value 0 maps to nodata → None; all others must match exactly
      if (expect == 0f) assert(p.isEmpty || p.contains(0f))
      else assert(p.contains(expect), s"pixel $i: $p != $expect")
    }
  }

  // ---- multi-IFD overview pyramids + BigTIFF --------------------------------

  // 64×64 full-res, 32-px tiles → 2×2 grid; factor-2 overview → 32×32
  private val fw = 64; private val fh = 64; private val fts = 32
  private val fdata = Array.tabulate(fw * fh)(i => (i * 31 + 7) % 60000)
  private val ftf = Seq(30.0, 0.0, 500000.0, 0.0, -30.0, 4000000.0)
  private val otf = Seq(60.0, 0.0, 500000.0, 0.0, -60.0, 4000000.0)

  /** Resample.overview(2) rows for the full-res image (q10's semantics),
    * plus the stitched 32×32 overview image those tiles form. */
  private def overviewRowsAndImage() = {
    val fullTiles = GeoTiff.toBandTiles("S", "red",
      GeoTiff.write(fdata, fw, fh, 32633, ftf, None, fts))
    val ov = graft.raster.Resample.overview(fullTiles.toDF(), 2)
      .select("tile_col", "tile_row", "width", "height", "pixels")
      .collect()
    val ow = fw / 2; val oh = fh / 2; val ots = fts / 2
    val oimg = new Array[Float](ow * oh)
    ov.foreach { r =>
      val tc = r.getInt(0); val tr = r.getInt(1)
      val tw = r.getInt(2); val th = r.getInt(3)
      val px = r.getSeq[Float](4)
      for (y <- 0 until th; x <- 0 until tw)
        oimg((tr * ots + y) * ow + (tc * ots + x)) = px(y * tw + x)
    }
    (ov, oimg)
  }

  test("multi-IFD pyramid: embedded level-1 tiles equal Resample.overview(2) output") {
    import GeoTiff.ImageSpec
    val (ov, oimg) = overviewRowsAndImage()
    val bytes = GeoTiff.writeMultiIfd(Seq(
      ImageSpec(Left(fdata), fw, fh, 32633, ftf, tileSize = fts),
      ImageSpec(Right(oimg), fw / 2, fh / 2, 32633, otf,
        tileSize = fts / 2, reduced = true)))
    assert(GeoTiff.numLevels(bytes) == 2)
    val infos = GeoTiff.readInfos(bytes)
    assert(infos(0).width == fw && infos(0).transform == ftf)
    assert(infos(1).width == fw / 2 && infos(1).transform == otf)
    assert(infos(1).bitsPerSample == 32 && infos(1).sampleFormat == 3)
    // level 0 decodes exactly as the single-IFD file does
    val l0 = GeoTiff.toBandTiles("S", "red", bytes, 0)
    l0.foreach { t =>
      for (r <- 0 until t.height; c <- 0 until t.width) {
        val expect = fdata((t.tile_row * fts + r) * fw + (t.tile_col * fts + c)).toFloat
        assert(t.pixels(r * t.width + c).contains(expect))
      }
    }
    // level 1 tile-for-tile equals the q10 overview relation
    val byPos = GeoTiff.toBandTiles("S", "red", bytes, 1)
      .map(t => (t.tile_col, t.tile_row) -> t).toMap
    ov.foreach { r =>
      val t = byPos((r.getInt(0), r.getInt(1)))
      assert(t.width == r.getInt(2) && t.height == r.getInt(3))
      assert(t.pixels.map(_.get) == r.getSeq[Float](4),
        s"overview tile (${r.getInt(0)},${r.getInt(1)})")
    }
  }

  test("overview IFD without geo tags inherits the primary's scaled grid (GDAL layout)") {
    import GeoTiff.ImageSpec
    val (_, oimg) = overviewRowsAndImage()
    val bytes = GeoTiff.writeMultiIfd(Seq(
      ImageSpec(Left(fdata), fw, fh, 32633, ftf, nodata = Some(0.0), tileSize = fts),
      ImageSpec(Right(oimg), fw / 2, fh / 2, 0, Seq.empty,
        tileSize = fts / 2, reduced = true, geoTags = false)))
    val infos = GeoTiff.readInfos(bytes)
    assert(infos(1).transform == otf) // pixel size doubled, same origin
    assert(infos(1).epsg == 32633)    // inherited
    assert(infos(1).nodata.contains(0.0))
  }

  test("BigTIFF (magic 43, 8-byte offsets) round-trips, single and multi-IFD") {
    import GeoTiff.ImageSpec
    val bytes = GeoTiff.writeMultiIfd(
      Seq(ImageSpec(Left(data), w, h, 32635, tf, nodata = Some(0.0), tileSize = ts)),
      bigTiff = true)
    assert(bytes(2) == 43 && bytes(3) == 0)
    val info = GeoTiff.readInfo(bytes)
    assert(info.width == w && info.height == h && info.epsg == 32635)
    assert(info.transform == tf && info.nodata.contains(0.0))
    assertPixelsMatch(bytes)
    // multi-IFD BigTIFF with an LZW-compressed overview level
    val (ov, oimg) = overviewRowsAndImage()
    val pyr = GeoTiff.writeMultiIfd(Seq(
      ImageSpec(Left(fdata), fw, fh, 32633, ftf, tileSize = fts, compression = 5),
      ImageSpec(Right(oimg), fw / 2, fh / 2, 32633, otf,
        tileSize = fts / 2, compression = 8, reduced = true)), bigTiff = true)
    assert(GeoTiff.numLevels(pyr) == 2)
    val byPos = GeoTiff.toBandTiles("S", "red", pyr, 1)
      .map(t => (t.tile_col, t.tile_row) -> t).toMap
    ov.foreach { r =>
      val t = byPos((r.getInt(0), r.getInt(1)))
      assert(t.pixels.map(_.get) == r.getSeq[Float](4))
    }
  }
}
