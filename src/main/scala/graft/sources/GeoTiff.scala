package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, Inflater}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.model.RasterModel.{BandTile, TileSize}

/** S3: pure-JVM reader (and test-fixture writer) for the tiled-GeoTIFF
  * subset the reference ingests (reference src/transform/compute_ndvi.py:38-44
  * reads Landsat band rasters with rasterio; the download stage validates
  * content-type tiff/geotiff). Scope — the Landsat SR band shape plus the
  * common derived-product variants: single-band uint16 or float32
  * (BitsPerSample 16/32, SampleFormat unsigned/IEEE), tiled OR
  * strip-organized, Compression none(1), LZW(5, TIFF early-change
  * variant) or deflate(8), horizontal predictor(2) on uint16,
  * floating-point predictor(3) on float32 (TIFF Technical Note 3 — the
  * reference's own NDVI-product profile, compute_ndvi.py:82-84), both byte
  * orders, GeoTIFF ModelPixelScale + ModelTiepoint georeferencing, EPSG
  * from the GeoKey directory, GDAL_NODATA ascii tag, multi-IFD chains
  * (embedded overview pyramids, geo tags optional on overview levels —
  * the GDAL internal-overview layout of compute_ndvi.py:144-158), and
  * the BigTIFF container (magic 43, 8-byte counts/values/offsets).
  *
  * Output is the engine's `band_tiles` model: one BandTile row per TIFF
  * tile (edge tiles clipped to the image bounds), raw DN values kept —
  * nodata masking stays in the NDVI kernel (N3), exactly as with parquet
  * tile tables.
  *
  * Scale posture: one file = one work unit via the binaryFile source;
  * parallelism is ACROSS scene files (a Landsat band is tens of MB —
  * bounded), and the emitted tile table is the partition-prunable flat
  * model everything downstream uses. No native libs, zero dependencies
  * beyond java.util.zip.
  */
object GeoTiff {

  // TIFF tag ids (TIFF 6.0 + GeoTIFF + GDAL)
  private val TNewSubfileType = 254
  private val TImageWidth = 256
  private val TImageLength = 257
  private val TBitsPerSample = 258
  private val TCompression = 259
  private val TPhotometric = 262
  private val TStripOffsets = 273
  private val TSamplesPerPixel = 277
  private val TRowsPerStrip = 278
  private val TStripByteCounts = 279
  private val TPredictor = 317
  private val TTileWidth = 322
  private val TTileLength = 323
  private val TTileOffsets = 324
  private val TTileByteCounts = 325
  private val TSampleFormat = 339
  private val TModelPixelScale = 33550
  private val TModelTiepoint = 33922
  private val TGeoKeyDirectory = 34735
  private val TGdalNodata = 42113

  // GeoKey ids
  private val KGeographicType = 2048
  private val KProjectedCSType = 3072

  final case class Info(
      width: Int, height: Int, tileW: Int, tileH: Int,
      compression: Int, bitsPerSample: Int, sampleFormat: Int,
      epsg: Int, transform: Seq[Double], nodata: Option[Double],
      tileOffsets: IndexedSeq[Long], tileByteCounts: IndexedSeq[Long],
      stripLayout: Boolean = false, predictor: Int = 1)

  // ---- reader --------------------------------------------------------------

  /** Narrow a BigTIFF 8-byte offset/count to Int, loudly: the byte-array
    * API caps files at 2 GiB, so anything past that is a malformed (or
    * unsupported) file, not a silent wrap. */
  private def toIntChecked(v: Long, what: String): Int = {
    check(v >= 0 && v <= Int.MaxValue, s"$what $v exceeds the 2 GiB byte-array limit")
    v.toInt
  }

  /** A header check: failing it is a [[DecodeException]], like a bad tile. */
  private def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new DecodeException(msg)

  /** `pos` as a buffer index, once `len` bytes from it lie inside the file. */
  private def inFile(bb: ByteBuffer, pos: Long, len: Long, what: => String): Int = {
    check(pos >= 0 && len >= 0 && len <= bb.limit() - pos,
      s"$what at offset $pos ($len bytes) lies outside the ${bb.limit()}-byte file")
    pos.toInt
  }

  /** One IFD of a classic or BigTIFF file. `big` selects the BigTIFF
    * entry layout (8-byte counts/values/offsets, 20-byte entries) over
    * the classic one (4-byte, 12-byte entries). Every offset it follows
    * is checked against the file before it is read. */
  private final class Ifd(val bb: ByteBuffer, big: Boolean, ifdOff: Long) {
    private val entrySize = if (big) 20 else 12
    private val inlineCap = if (big) 8 else 4
    private val ifdPos = inFile(bb, ifdOff, if (big) 8 else 2, "IFD")
    private val nEntries: Long =
      if (big) bb.getLong(ifdPos) else bb.getShort(ifdPos) & 0xffff
    private val entryBase = ifdPos + (if (big) 8 else 2)
    check(nEntries >= 0 && nEntries <= (bb.limit() - entryBase) / entrySize,
      s"Entry table of the IFD at $ifdOff ($nEntries entries) lies outside the " +
        s"${bb.limit()}-byte file")
    // tag -> (type, count, valueFieldPos); counts are unsigned
    private val entries: Map[Int, (Int, Long, Int)] =
      (0 until nEntries.toInt).map { i =>
        val pos = entryBase + i * entrySize
        val tag = bb.getShort(pos) & 0xffff
        val typ = bb.getShort(pos + 2) & 0xffff
        val count = if (big) bb.getLong(pos + 4) else bb.getInt(pos + 4) & 0xffffffffL
        tag -> ((typ, count, pos + (if (big) 12 else 8)))
      }.toMap

    /** File offset of the next IFD in the chain; 0 = end of chain. */
    val nextIfdOff: Long = {
      val p = inFile(bb, entryBase + nEntries * entrySize, if (big) 8 else 4,
        s"Next-IFD pointer of the IFD at $ifdOff")
      if (big) bb.getLong(p) else bb.getInt(p).toLong & 0xffffffffL
    }

    private def typeSize(tag: Int, typ: Int): Int = typ match {
      case 1 | 2 => 1   // BYTE, ASCII
      case 3 => 2       // SHORT
      case 4 => 4       // LONG
      case 12 | 16 => 8 // DOUBLE, LONG8 (BigTIFF)
      case t => throw new DecodeException(s"Tag $tag: unsupported TIFF type $t")
    }

    /** (type, count, position) of a tag's values: inline when they fit the
      * value field, else at the offset it holds, checked against the file. */
    private def values(tag: Int): (Int, Int, Int) = {
      val (typ, count, field) =
        entries.getOrElse(tag, throw new DecodeException(s"Missing required tag $tag"))
      check(count >= 0 && count <= bb.limit(), s"Tag $tag count $count exceeds the file")
      val size = typeSize(tag, typ) * count
      val pos =
        if (size <= inlineCap) field
        else inFile(bb, if (big) bb.getLong(field) else bb.getInt(field) & 0xffffffffL,
          size, s"Tag $tag values")
      (typ, count.toInt, pos)
    }

    def has(tag: Int): Boolean = entries.contains(tag)

    def longs(tag: Int): IndexedSeq[Long] = {
      val (typ, count, pos) = values(tag)
      (0 until count).map { i =>
        typ match {
          case 3 => (bb.getShort(pos + 2 * i) & 0xffff).toLong
          case 4 => bb.getInt(pos + 4 * i).toLong & 0xffffffffL
          case 16 => bb.getLong(pos + 8 * i)
          case t => throw new DecodeException(s"Tag $tag: expected int type, got $t")
        }
      }
    }

    def doubles(tag: Int, atLeast: Int): IndexedSeq[Double] = {
      val (typ, count, pos) = values(tag)
      check(typ == 12 && count >= atLeast, s"Tag $tag: expected $atLeast DOUBLEs")
      (0 until count).map(i => bb.getDouble(pos + 8 * i))
    }

    def ascii(tag: Int): String = {
      val (typ, count, pos) = values(tag)
      check(typ == 2, s"Tag $tag: expected ASCII")
      val raw = new Array[Byte](count)
      var i = 0
      while (i < count) { raw(i) = bb.get(pos + i); i += 1 }
      new String(raw, "US-ASCII").takeWhile(_ != '\u0000')
    }

    /** The first value of an int tag. */
    def long1(tag: Int): Long = {
      val vs = longs(tag)
      check(vs.nonEmpty, s"Tag $tag holds no value")
      vs.head
    }

    def int1(tag: Int): Int = toIntChecked(long1(tag), s"Tag $tag value")

    def int1(tag: Int, default: Int): Int = if (has(tag)) int1(tag) else default
  }

  /** Header parse: byte order + classic (42) vs BigTIFF (43) + first-IFD
    * offset. BigTIFF header: magic 43, offset size 8, pad 0, then the
    * 8-byte first-IFD offset. */
  private def openBuffer(bytes: Array[Byte]): (ByteBuffer, Boolean, Long) = {
    check(bytes.length >= 8, s"Not a TIFF (${bytes.length} bytes, shorter than its header)")
    val bb = ByteBuffer.wrap(bytes)
    bb.order(bytes(0) match {
      case 'I' => ByteOrder.LITTLE_ENDIAN
      case 'M' => ByteOrder.BIG_ENDIAN
      case b => throw new DecodeException(s"Not a TIFF (byte-order mark $b)")
    })
    bb.getShort(2) match {
      case 42 => (bb, false, bb.getInt(4).toLong & 0xffffffffL)
      case 43 =>
        check(bytes.length >= 16 && bb.getShort(4) == 8 && bb.getShort(6) == 0,
          "Bad BigTIFF header (offset size must be 8)")
        (bb, true, bb.getLong(8))
      case m => throw new DecodeException(s"Not a TIFF (bad magic $m)")
    }
  }

  /** All IFDs in chain order (level 0 = full resolution; subsequent IFDs
    * are embedded overview levels — the layout GDAL/rasterio produce for
    * in-file pyramids, reference compute_ndvi.py:144-158). */
  private def ifdChain(bytes: Array[Byte]): IndexedSeq[Ifd] = {
    val (bb, big, first) = openBuffer(bytes)
    val out = scala.collection.mutable.ArrayBuffer.empty[Ifd]
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var off = first
    while (off != 0) {
      check(seen.add(off), s"Cyclic IFD chain (offset $off revisited)")
      check(out.size < 64, "IFD chain exceeds 64 levels")
      val ifd = new Ifd(bb, big, off)
      out += ifd
      off = ifd.nextIfdOff
    }
    out.toIndexedSeq
  }

  /** Parse one IFD. Overview IFDs (GDAL-style) may omit the geo tags —
    * `primary` supplies EPSG/nodata and the transform, with pixel size
    * scaled by the level's width/height ratio. */
  private def parseInfo(ifd: Ifd, primary: Option[Info]): Info = {
    val width = ifd.int1(TImageWidth)
    val height = ifd.int1(TImageLength)
    check(width > 0 && height > 0, s"Image size ${width}x$height")
    val tiled = ifd.has(TTileWidth) && ifd.has(TTileOffsets)
    check(tiled || ifd.has(TStripOffsets),
      "Not a tiled or stripped TIFF (no TileOffsets/StripOffsets)")
    val bps = ifd.int1(TBitsPerSample, 1)
    val fmt = ifd.int1(TSampleFormat, 1)
    check((bps == 16 && fmt == 1) || (bps == 32 && fmt == 3),
      s"Only uint16 or float32 samples supported, got $bps-bit format $fmt")
    val spp = ifd.int1(TSamplesPerPixel, 1)
    check(spp == 1, s"Only single-band TIFFs supported, got $spp samples/pixel")
    val comp = ifd.int1(TCompression, 1)
    check(comp == 1 || comp == 5 || comp == 8,
      s"Only none/lzw/deflate compression supported, got $comp")
    val predictor = ifd.int1(TPredictor, 1)
    check(predictor == 1 || (predictor == 2 && bps == 16) || (predictor == 3 && bps == 32),
      s"Only predictor none, horizontal-uint16 or floating-point-float32 supported, got $predictor")
    // georeferencing: pixel scale + tiepoint -> north-up affine; overview
    // IFDs without geo tags inherit the primary grid scaled to level size
    val transform =
      if (ifd.has(TModelPixelScale) && ifd.has(TModelTiepoint)) {
        val scale = ifd.doubles(TModelPixelScale, 2)
        val (sx, sy) = (scale(0), scale(1))
        val tp = ifd.doubles(TModelTiepoint, 6)
        val (ti, tj, tx, ty) = (tp(0), tp(1), tp(3), tp(4))
        Seq(sx, 0.0, tx - ti * sx, 0.0, -sy, ty + tj * sy)
      } else primary match {
        case Some(p) =>
          val fx = p.width.toDouble / width
          val fy = p.height.toDouble / height
          Seq(p.transform(0) * fx, 0.0, p.transform(2),
            0.0, p.transform(4) * fy, p.transform(5))
        case None => throw new DecodeException(
          "Primary IFD lacks ModelPixelScale/ModelTiepoint")
      }
    // EPSG from the GeoKey directory (projected key wins over geographic)
    val keys = if (ifd.has(TGeoKeyDirectory)) ifd.longs(TGeoKeyDirectory) else IndexedSeq.empty
    def geoKey(id: Int): Option[Int] = keys.drop(4).grouped(4).collectFirst {
      case k if k.length == 4 && k(0) == id && k(1) == 0L => k(3).toInt
    }
    val epsg = geoKey(KProjectedCSType).orElse(geoKey(KGeographicType))
      .orElse(primary.map(_.epsg)).getOrElse(0)
    val nodata =
      if (ifd.has(TGdalNodata)) ifd.ascii(TGdalNodata).trim.toDoubleOption
      else primary.flatMap(_.nodata)
    // strip layout: one "tile" per strip, full image width, no row padding
    val (tileW, tileH) =
      if (tiled) (ifd.int1(TTileWidth), ifd.int1(TTileLength))
      else (width, if (ifd.has(TRowsPerStrip))
        math.min(ifd.long1(TRowsPerStrip), height.toLong).toInt else height)
    check(tileW > 0 && tileH > 0 && tileW.toLong * tileH * (bps / 8) <= Int.MaxValue,
      s"Tile size ${tileW}x$tileH")
    val (offsets, counts) =
      if (tiled) (ifd.longs(TTileOffsets), ifd.longs(TTileByteCounts))
      else (ifd.longs(TStripOffsets), ifd.longs(TStripByteCounts))
    val n = ((width + tileW - 1L) / tileW) * ((height + tileH - 1L) / tileH)
    check(offsets.length == n && counts.length == n,
      s"$n segments, but ${offsets.length} offsets and ${counts.length} byte counts")
    Info(width, height, tileW, tileH, comp, bps, fmt, epsg, transform, nodata,
      offsets, counts, stripLayout = !tiled, predictor = predictor)
  }

  /** Level-0 (full-resolution) metadata. */
  def readInfo(bytes: Array[Byte]): Info = readInfos(bytes).head

  /** Metadata for every IFD: level 0 first, then each embedded overview. */
  def readInfos(bytes: Array[Byte]): IndexedSeq[Info] = {
    val chain = ifdChain(bytes)
    check(chain.nonEmpty, "TIFF with no IFDs")
    val head = parseInfo(chain.head, None)
    head +: chain.tail.map(parseInfo(_, Some(head)))
  }

  /** Number of IFDs (1 + embedded overview levels). */
  def numLevels(bytes: Array[Byte]): Int = ifdChain(bytes).size

  // ---- TIFF-variant LZW codec (MSB-first bit packing, early change) --------

  private val LzwClear = 256
  private val LzwEoi = 257

  /** Decode TIFF LZW: 9→12-bit codes, MSB-first, ClearCode 256, EOI 257,
    * "early change" (code width grows when the NEXT table slot is
    * (1<<width)-1 — one entry earlier than plain LZW; TIFF 6.0 §13). */
  private[graft] def lzwDecode(data: Array[Byte], outLen: Int): Array[Byte] =
    lzwDecode(data, 0, data.length, outLen, tile = 0)

  /** [[lzwDecode]] over `data(off until off + len)`. A code the table
    * does not hold yet (one past its next entry, or a code above 257
    * opening a segment) and a stream that ends short are a
    * [[DecodeException]] naming `tile`. */
  private def lzwDecode(data: Array[Byte], off: Int, len: Int, outLen: Int,
                        tile: Int): Array[Byte] = {
    val end = off + len
    val out = new Array[Byte](outLen)
    var outOff = 0
    val table = new Array[Array[Byte]](4096)
    var i = 0
    while (i < 256) { table(i) = Array(i.toByte); i += 1 }
    var next = 258
    var width = 9
    var old = -1
    var acc = 0L; var nBits = 0; var pos = off
    def read(): Int = {
      while (nBits < width && pos < end) {
        acc = (acc << 8) | (data(pos) & 0xffL); pos += 1; nBits += 8
      }
      if (nBits < width) LzwEoi
      else { nBits -= width; ((acc >>> nBits) & ((1L << width) - 1)).toInt }
    }
    var code = read()
    while (code != LzwEoi && outOff < outLen) {
      if (code == LzwClear) {
        next = 258; width = 9; old = -1
      } else {
        // right after a Clear next is 258, so a code above 257 fails
        // here instead of reading an entry from before the Clear
        val entry =
          if (code < next) table(code)
          else if (code == next && old >= 0) table(old) :+ table(old)(0) // KwKwK case
          else throw new DecodeException(
            s"Corrupt LZW tile $tile: code $code but the table holds $next entries")
        System.arraycopy(entry, 0, out, outOff, math.min(entry.length, outLen - outOff))
        outOff += entry.length
        if (old >= 0 && next < 4096) {
          table(next) = table(old) :+ entry(0)
          next += 1
          // early change, decoder side: the decoder's table lags the
          // encoder's by one entry, so it widens at (1<<w)-2 where the
          // encoder widens at (1<<w)-1 (TIFF 6.0 §13: 511/1023/2047)
          if (next == (1 << width) - 2 && width < 12) width += 1
        }
        old = code
      }
      code = read()
    }
    if (outOff < outLen)
      throw new DecodeException(s"Truncated LZW tile $tile: $outOff of $outLen bytes")
    out
  }

  /** Encode TIFF LZW (fixture writer + sink parity; same early-change rule
    * as [[lzwDecode]]). */
  private[graft] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nBits = 0
    var width = 9
    def write(code: Int): Unit = {
      acc = (acc << width) | code; nBits += width
      while (nBits >= 8) { nBits -= 8; out.write(((acc >>> nBits) & 0xff).toInt) }
    }
    val dict = new java.util.HashMap[Int, Int]() // (prefix<<8 | byte) -> code
    var next = 258
    def reset(): Unit = { dict.clear(); next = 258; width = 9 }
    write(LzwClear)
    var omega = -1
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      if (omega < 0) omega = k
      else {
        val key = (omega << 8) | k
        val hit = dict.getOrDefault(key, -1)
        if (hit >= 0) omega = hit
        else {
          write(omega)
          dict.put(key, next); next += 1
          if (next == (1 << width) - 1 && width < 12) width += 1
          omega = k
          if (next >= 4094) { write(LzwClear); reset() }
        }
      }
      i += 1
    }
    if (omega >= 0) write(omega)
    write(LzwEoi)
    if (nBits > 0) out.write(((acc << (8 - nBits)) & 0xff).toInt)
    out.toByteArray
  }

  /** Undo TIFF horizontal differencing (predictor 2) in place, 16-bit
    * samples, row stride `stride` samples. */
  private def undiffRows16(raw: Array[Byte], order: ByteOrder, stride: Int): Unit = {
    val bb = ByteBuffer.wrap(raw).order(order)
    val nRows = raw.length / (stride * 2)
    var r = 0
    while (r < nRows) {
      var c = 1
      while (c < stride) {
        val p = (r * stride + c) * 2
        bb.putShort(p, ((bb.getShort(p) + bb.getShort(p - 2)) & 0xffff).toShort)
        c += 1
      }
      r += 1
    }
  }

  /** Undo TIFF floating-point horizontal differencing (predictor 3, TIFF
    * Technical Note 3) in place: per row, accumulate the byte deltas, then
    * de-interleave the big-endian byte planes (plane 0 = MSB of every
    * sample) back into `order`-endian float32 samples. This is the codec
    * the reference uses for EVERY float32 NDVI product it writes
    * (reference src/transform/compute_ndvi.py:82-84: deflate, predictor 3). */
  private def undiffRowsFP(raw: Array[Byte], order: ByteOrder, stride: Int): Unit = {
    val rowLen = stride * 4
    val nRows = raw.length / rowLen
    val tmp = new Array[Byte](rowLen)
    val le = order == ByteOrder.LITTLE_ENDIAN
    var r = 0
    while (r < nRows) {
      val base = r * rowLen
      var i = 1
      while (i < rowLen) {
        raw(base + i) = (raw(base + i) + raw(base + i - 1)).toByte
        i += 1
      }
      System.arraycopy(raw, base, tmp, 0, rowLen)
      var s = 0
      while (s < stride) {
        var b = 0
        while (b < 4) {
          raw(base + s * 4 + (if (le) 3 - b else b)) = tmp(b * stride + s)
          b += 1
        }
        s += 1
      }
      r += 1
    }
  }

  /** Apply TIFF floating-point differencing (predictor 3): per row, split
    * `order`-endian float32 samples into big-endian byte planes, then
    * byte-wise horizontal delta. Inverse of [[undiffRowsFP]]. */
  private def diffRowsFP(raw: Array[Byte], order: ByteOrder, stride: Int): Unit = {
    val rowLen = stride * 4
    val nRows = raw.length / rowLen
    val tmp = new Array[Byte](rowLen)
    val le = order == ByteOrder.LITTLE_ENDIAN
    var r = 0
    while (r < nRows) {
      val base = r * rowLen
      var s = 0
      while (s < stride) {
        var b = 0
        while (b < 4) {
          tmp(b * stride + s) = raw(base + s * 4 + (if (le) 3 - b else b))
          b += 1
        }
        s += 1
      }
      var i = rowLen - 1
      while (i >= 1) {
        tmp(i) = (tmp(i) - tmp(i - 1)).toByte
        i -= 1
      }
      System.arraycopy(tmp, 0, raw, base, rowLen)
      r += 1
    }
  }

  /** Apply TIFF horizontal differencing (predictor 2), 16-bit samples. */
  private def diffRows16(raw: Array[Byte], order: ByteOrder, stride: Int): Unit = {
    val bb = ByteBuffer.wrap(raw).order(order)
    val nRows = raw.length / (stride * 2)
    var r = 0
    while (r < nRows) {
      var c = stride - 1
      while (c >= 1) {
        val p = (r * stride + c) * 2
        bb.putShort(p, ((bb.getShort(p) - bb.getShort(p - 2)) & 0xffff).toShort)
        c -= 1
      }
      r += 1
    }
  }

  /** Neither codec expands its input further: deflate stops near 1032:1,
    * and a TIFF LZW code (at least 9 bits) emits at most 3 840 bytes. A
    * tile claiming more is corrupt, and is refused before its buffer is
    * allocated. */
  private val MaxExpansion = 4096L

  /** A tile (or strip) the reader cannot decode; the message names it. */
  final class DecodeException(msg: String, cause: Throwable = null)
      extends IllegalArgumentException(msg, cause)

  /** Inflate `data(off until off + len)` into `outLen` bytes. A stream
    * that stops short (truncated input, a preset-dictionary header, or a
    * call that consumes and produces nothing) is a [[DecodeException]]
    * naming `tile`, never a spin; the native inflater is ended on every
    * path. */
  private def inflate(data: Array[Byte], off: Int, len: Int, outLen: Int,
                      tile: Int): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(data, off, len)
      val out = new Array[Byte](outLen)
      var n = 0
      while (n < outLen && !inf.finished()) {
        val before = inf.getRemaining
        val k = inf.inflate(out, n, outLen - n)
        if (k == 0) {
          if (inf.needsDictionary())
            throw new DecodeException(s"Deflate tile $tile needs a preset dictionary")
          if (inf.needsInput())
            throw new DecodeException(s"Truncated deflate tile $tile")
          if (inf.getRemaining == before)
            throw new DecodeException(s"Deflate tile $tile makes no progress")
        }
        n += k
      }
      out
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new DecodeException(s"Corrupt deflate tile $tile: ${e.getMessage}", e)
    } finally inf.end()
  }

  /** Decode one TIFF's level-0 image into BandTile rows (one per interior
    * tile, edge tiles clipped). Raw DN values kept as floats; `nodata`
    * recorded, not masked. A typed view of [[decodeLevel]]; the Spark
    * sources use [[tileRows]], which skips the per-pixel boxing. */
  def toBandTiles(sceneId: String, band: String, bytes: Array[Byte]): Seq[BandTile] =
    toBandTiles(sceneId, band, bytes, 0)

  /** Decode one IFD level (0 = full resolution, k = k-th embedded
    * overview) into BandTile rows. */
  def toBandTiles(sceneId: String, band: String, bytes: Array[Byte],
                  level: Int): Seq[BandTile] = {
    val info = readInfos(bytes)(level)
    decodeLevel(bytes, info).map { t =>
      BandTile(sceneId, band, t.col, t.row, t.width, t.height, info.epsg,
        info.transform, info.nodata, t.px.toSeq.map(Some(_)))
    }.toIndexedSeq
  }

  /** One decoded tile: grid position, clipped size, and its raw DN samples
    * row-major in a primitive buffer. */
  private final case class Decoded(col: Int, row: Int, width: Int, height: Int,
                                   px: Array[Float])

  /** The single decode loop: one level's tiles in row-major grid order,
    * lazily, so a consumer holds one tile's buffers at a time. Payloads
    * are read in place from `bytes`. */
  private def decodeLevel(bytes: Array[Byte], info: Info): Iterator[Decoded] = {
    val order =
      if (bytes(0) == 'I') ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val bytesPerSample = info.bitsPerSample / 8
    val tilesAcross = ((info.width + info.tileW - 1L) / info.tileW).toInt
    val tilesDown = ((info.height + info.tileH - 1L) / info.tileH).toInt
    Iterator.range(0, tilesDown * tilesAcross).map { ti =>
      val tr = ti / tilesAcross
      val tc = ti % tilesAcross
      val w = math.min(info.tileW, info.width - tc * info.tileW)
      val h = math.min(info.tileH, info.height - tr * info.tileH)
      // tile rows are padded to tileW; strip rows are exactly the image
      // width and the LAST strip is short — stride and length differ
      val stride = if (info.stripLayout) info.width else info.tileW
      val rawLen =
        (if (info.stripLayout) stride * h else info.tileW * info.tileH) * bytesPerSample
      val off = info.tileOffsets(ti)
      val len = info.tileByteCounts(ti)
      if (off < 0 || len < 0 || off + len > bytes.length)
        throw new DecodeException(
          s"Tile $ti byte range [$off, ${off + len}) lies outside the ${bytes.length}-byte file")
      if (info.compression != 1 && rawLen > len * MaxExpansion)
        throw new DecodeException(s"Tile $ti: $len compressed bytes cannot hold $rawLen")
      // (raw, base): the decoded samples and where they start in `raw`
      val (raw, base) = info.compression match {
        case 8 => (inflate(bytes, off.toInt, len.toInt, rawLen, ti), 0)
        case 5 => (lzwDecode(bytes, off.toInt, len.toInt, rawLen, ti), 0)
        case _ =>
          if (len < rawLen)
            throw new DecodeException(s"Tile $ti holds $len of $rawLen bytes")
          // the predictors undo in place: never on the caller's bytes
          if (info.predictor == 1) (bytes, off.toInt)
          else (java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + rawLen), 0)
      }
      if (info.predictor == 2) undiffRows16(raw, order, stride)
      else if (info.predictor == 3) undiffRowsFP(raw, order, stride)
      val tb = ByteBuffer.wrap(raw).order(order)
      val px = new Array[Float](w * h)
      var r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          val p = base + (r * stride + c) * bytesPerSample
          px(r * w + c) =
            if (bytesPerSample == 2) (tb.getShort(p) & 0xffff).toFloat
            else tb.getFloat(p)
          c += 1
        }
        r += 1
      }
      Decoded(tc, tr, w, h, px)
    }
  }

  /** The schema of [[tileRows]]: the band_tiles columns and types of
    * [[graft.model.RasterModel.bandTileSchema]] with the nullability of
    * the [[BandTile]] encoder, so a frame of these rows is
    * interchangeable with one encoded from BandTile values. */
  private[graft] lazy val tileRowSchema: StructType = Encoders.product[BandTile].schema

  /** Level 0 of one TIFF as band_tiles rows in [[tileRowSchema]]: the
    * rows [[toBandTiles]] describes, with `pixels` an UnsafeArrayData
    * built straight from the decode buffer. A [[DecodeException]] names
    * `source` (the file or asset) first; decode is lazy, so every step
    * of the iterator is covered. */
  private[sources] def tileRows(scene: UTF8String, band: UTF8String, bytes: Array[Byte],
                                source: String): Iterator[InternalRow] = {
    def named[T](step: => T): T = try step catch { case e: DecodeException =>
      throw new DecodeException(s"$source: ${e.getMessage}", e) }
    val info = named(readInfos(bytes).head)
    val transform = UnsafeArrayData.fromPrimitiveArray(info.transform.toArray)
    val nodata: Any = info.nodata.orNull
    val rows = decodeLevel(bytes, info).map { t =>
      new GenericInternalRow(Array[Any](scene, band, t.col, t.row, t.width, t.height,
        info.epsg, transform, nodata, UnsafeArrayData.fromPrimitiveArray(t.px)))
    }
    new Iterator[InternalRow] {
      def hasNext: Boolean = named(rows.hasNext)
      def next(): InternalRow = named(rows.next())
    }
  }

  /** Directory of `<scene_id>_<band>.tif` files → band_tiles Dataset, via
    * the binaryFile source: one file per input row, decoded in parallel
    * across files ([[tileRows]] per file; justified — TIFF decode is
    * genuinely imperative byte work). A file that fails to decode raises
    * a [[DecodeException]] whose message starts with its path. */
  def bandTiles(spark: SparkSession, dir: String): Dataset[BandTile] = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tif")
      .load(dir)
      .select("path", "content")
    Bridge.flatMapRows(spark, files, tileRowSchema)(_.flatMap { row =>
      val path = row.getUTF8String(0).toString
      val stem = path.substring(path.lastIndexOf('/') + 1)
        .stripSuffix(".tif")
      val cut = stem.lastIndexOf('_')
      val (scene, band) =
        if (cut < 0) (stem, "b1") else (stem.take(cut), stem.drop(cut + 1))
      tileRows(UTF8String.fromString(scene), UTF8String.fromString(band), row.getBinary(1), path)
    }).as[BandTile]
  }

  // ---- writer (synthetic fixtures + sink parity) ---------------------------

  /** Write a single-band tiled uint16 GeoTIFF (little-endian). `data` is
    * row-major width×height unsigned 16-bit values. */
  def write(data: Array[Int], width: Int, height: Int,
            epsg: Int, transform: Seq[Double],
            nodata: Option[Double] = None,
            tileSize: Int = TileSize, deflate: Boolean = false): Array[Byte] =
    writeRaster(Left(data), width, height, epsg, transform, nodata,
      tileSize = tileSize, rowsPerStrip = 0,
      compression = if (deflate) 8 else 1, predictor = 1)

  /** Write a strip-organized single-band uint16 GeoTIFF. */
  def writeStrips(data: Array[Int], width: Int, height: Int,
                  epsg: Int, transform: Seq[Double],
                  nodata: Option[Double] = None,
                  rowsPerStrip: Int = 64, compression: Int = 1,
                  predictor: Int = 1): Array[Byte] =
    writeRaster(Left(data), width, height, epsg, transform, nodata,
      tileSize = 0, rowsPerStrip = rowsPerStrip,
      compression = compression, predictor = predictor)

  /** Write a tiled single-band float32 GeoTIFF (SampleFormat 3). */
  def writeFloat32(data: Array[Float], width: Int, height: Int,
                   epsg: Int, transform: Seq[Double],
                   nodata: Option[Double] = None,
                   tileSize: Int = TileSize, deflate: Boolean = false): Array[Byte] =
    writeRaster(Right(data), width, height, epsg, transform, nodata,
      tileSize = tileSize, rowsPerStrip = 0,
      compression = if (deflate) 8 else 1, predictor = 1)

  /** Write a tiled single-band float32 GeoTIFF with an explicit
    * compression code (1 none / 5 lzw / 8 deflate) and predictor
    * (1 none / 3 floating-point) — the reference's NDVI product profile
    * is deflate + predictor 3 (compute_ndvi.py:82-84). */
  def writeFloat32Tiled(data: Array[Float], width: Int, height: Int,
                        epsg: Int, transform: Seq[Double],
                        nodata: Option[Double] = None,
                        tileSize: Int = TileSize, compression: Int = 1,
                        predictor: Int = 1): Array[Byte] =
    writeRaster(Right(data), width, height, epsg, transform, nodata,
      tileSize = tileSize, rowsPerStrip = 0,
      compression = compression, predictor = predictor)

  /** Write a tiled uint16 GeoTIFF with an explicit compression code
    * (1 none / 5 lzw / 8 deflate) and predictor (1 none / 2 horizontal). */
  def writeTiled(data: Array[Int], width: Int, height: Int,
                 epsg: Int, transform: Seq[Double],
                 nodata: Option[Double] = None,
                 tileSize: Int = TileSize, compression: Int = 1,
                 predictor: Int = 1): Array[Byte] =
    writeRaster(Left(data), width, height, epsg, transform, nodata,
      tileSize = tileSize, rowsPerStrip = 0,
      compression = compression, predictor = predictor)

  /** One image (one IFD) for the multi-image assembler. `tileSize` > 0
    * selects the tiled layout, otherwise `rowsPerStrip` strips.
    * `reduced` marks an overview IFD (NewSubfileType = 1); `geoTags =
    * false` omits ModelPixelScale/ModelTiepoint/GeoKeys — the GDAL
    * internal-overview shape the reader's primary-fallback covers. */
  final case class ImageSpec(
      samples: Either[Array[Int], Array[Float]],
      width: Int, height: Int, epsg: Int, transform: Seq[Double],
      nodata: Option[Double] = None,
      tileSize: Int = TileSize, rowsPerStrip: Int = 0,
      compression: Int = 1, predictor: Int = 1,
      reduced: Boolean = false, geoTags: Boolean = true)

  /** Multi-IFD writer: level-0 image plus embedded overview levels as a
    * chained-IFD file (the in-file pyramid layout of reference
    * compute_ndvi.py:144-158). `bigTiff` selects the BigTIFF container
    * (magic 43, 8-byte offsets — files past 4 GiB at scale). */
  def writeMultiIfd(images: Seq[ImageSpec], bigTiff: Boolean = false): Array[Byte] =
    assemble(images, bigTiff)

  /** Single-image writer core (classic container), shared by the typed
    * wrappers above. */
  private def writeRaster(samples: Either[Array[Int], Array[Float]],
                          width: Int, height: Int,
                          epsg: Int, transform: Seq[Double],
                          nodata: Option[Double],
                          tileSize: Int, rowsPerStrip: Int,
                          compression: Int, predictor: Int): Array[Byte] =
    assemble(Seq(ImageSpec(samples, width, height, epsg, transform, nodata,
      tileSize, rowsPerStrip, compression, predictor)), big = false)

  /** Two-pass IFD-chain assembler. Pass 1 encodes every image's segment
    * payloads and tag table and derives the byte layout (payloads | ext
    * values | IFD, per image, in chain order); pass 2 serializes with
    * absolute offsets. Classic layout: 12-byte entries, 4-byte value
    * fields/offsets; BigTIFF: 20-byte entries, 8-byte counts, values,
    * offsets and next-IFD pointers (offsets written as LONG8, type 16). */
  private def assemble(images: Seq[ImageSpec], big: Boolean): Array[Byte] = {
    require(images.nonEmpty, "no images")
    val inlineCap = if (big) 8 else 4
    val headerLen = if (big) 16 else 8

    sealed trait TagVal
    final case class Shorts(vs: Seq[Long]) extends TagVal     // type 3
    final case class Longs(vs: Seq[Long]) extends TagVal      // type 4
    final case class Doubles(vs: Seq[Double]) extends TagVal  // type 12
    final case class Ascii(s: String) extends TagVal          // type 2
    /** Segment offsets, relative to the image block base. */
    final case class SegOffsets(rel: Seq[Long]) extends TagVal

    def typOf(v: TagVal): Int = v match {
      case _: Shorts => 3
      case _: Longs => 4
      case _: Doubles => 12
      case _: Ascii => 2
      case _: SegOffsets => if (big) 16 else 4
    }
    def countOf(v: TagVal): Int = v match {
      case Shorts(vs) => vs.length
      case Longs(vs) => vs.length
      case Doubles(vs) => vs.length
      case Ascii(s) => s.getBytes("US-ASCII").length + 1
      case SegOffsets(vs) => vs.length
    }
    def sizeOf(v: TagVal): Int = v match {
      case Shorts(vs) => 2 * vs.length
      case Longs(vs) => 4 * vs.length
      case Doubles(vs) => 8 * vs.length
      case Ascii(s) => s.getBytes("US-ASCII").length + 1
      case SegOffsets(vs) => (if (big) 8 else 4) * vs.length
    }
    def serialize(v: TagVal, base: Long): Array[Byte] = {
      val b = ByteBuffer.allocate(sizeOf(v)).order(ByteOrder.LITTLE_ENDIAN)
      v match {
        case Shorts(vs) => vs.foreach(x => b.putShort(x.toShort))
        case Longs(vs) => vs.foreach(x => b.putInt(x.toInt))
        case Doubles(vs) => vs.foreach(b.putDouble)
        case Ascii(s) => b.put(s.getBytes("US-ASCII")).put(0.toByte)
        case SegOffsets(vs) =>
          if (big) vs.foreach(x => b.putLong(base + x))
          else vs.foreach(x => b.putInt((base + x).toInt))
      }
      b.array()
    }

    // ---- pass 1: per-image payload encoding + tag tables --------------------
    final case class Staged(payloads: IndexedSeq[Array[Byte]],
                            tags: Seq[(Int, TagVal)])
    val staged = images.map { im =>
      val nPix = im.samples.fold(_.length, _.length)
      require(nPix == im.width * im.height, "data length != width*height")
      require(im.compression == 1 || im.compression == 5 || im.compression == 8,
        s"unsupported compression ${im.compression}")
      require(im.predictor == 1 || (im.predictor == 2 && im.samples.isLeft)
          || (im.predictor == 3 && im.samples.isRight),
        "predictor 2 requires uint16 samples; predictor 3 requires float32")
      val tiled = im.tileSize > 0
      val bytesPerSample = if (im.samples.isLeft) 2 else 4
      val tilesAcross = if (tiled) (im.width + im.tileSize - 1) / im.tileSize else 1
      val tilesDown =
        if (tiled) (im.height + im.tileSize - 1) / im.tileSize
        else (im.height + im.rowsPerStrip - 1) / im.rowsPerStrip
      // encode segment payloads (tile rows padded to tileSize, pad value 0;
      // strip rows exactly width samples, last strip short)
      val payloads = (0 until tilesDown).flatMap { tr =>
        (0 until tilesAcross).map { tc =>
          val segW = if (tiled) im.tileSize else im.width
          val segH =
            if (tiled) im.tileSize
            else math.min(im.rowsPerStrip, im.height - tr * im.rowsPerStrip)
          val raw = ByteBuffer.allocate(segW * segH * bytesPerSample)
            .order(ByteOrder.LITTLE_ENDIAN)
          val baseR = tr * (if (tiled) im.tileSize else im.rowsPerStrip)
          var r = 0
          while (r < segH) {
            var cc = 0
            while (cc < segW) {
              val gr = baseR + r; val gc = tc * segW + cc
              val in = gr < im.height && gc < im.width
              im.samples match {
                case Left(u16) => raw.putShort(
                  (if (in) u16(gr * im.width + gc) & 0xffff else 0).toShort)
                case Right(f32) => raw.putFloat(
                  if (in) f32(gr * im.width + gc) else 0f)
              }
              cc += 1
            }
            r += 1
          }
          val arr = raw.array()
          if (im.predictor == 2) diffRows16(arr, ByteOrder.LITTLE_ENDIAN, segW)
          else if (im.predictor == 3) diffRowsFP(arr, ByteOrder.LITTLE_ENDIAN, segW)
          im.compression match {
            case 1 => arr
            case 5 => lzwEncode(arr)
            case 8 =>
              val d = new Deflater()
              d.setInput(arr); d.finish()
              val buf = new Array[Byte](arr.length + arr.length / 10 + 64)
              val n = d.deflate(buf); d.end()
              require(d.finished(), "deflate buffer too small")
              java.util.Arrays.copyOf(buf, n)
          }
        }
      }.toIndexedSeq
      val relOffsets = payloads.scanLeft(0L)(_ + _.length).dropRight(1)
      val geoEntries: Seq[(Int, TagVal)] =
        if (!im.geoTags) Seq.empty
        else {
          val Seq(a, _, c, _, e, f) = im.transform
          require(a > 0 && e < 0, "writer expects a north-up transform")
          // GeoKey directory: version 1.1.0, one key
          val geoKeyId =
            if (im.epsg >= 32600 || im.epsg == 3857) KProjectedCSType
            else KGeographicType
          Seq(
            TModelPixelScale -> Doubles(Seq(a, -e, 0.0)),
            TModelTiepoint -> Doubles(Seq(0.0, 0.0, 0.0, c, f, 0.0)),
            TGeoKeyDirectory ->
              Shorts(Seq(1L, 1L, 0L, 1L, geoKeyId.toLong, 0L, 1L, im.epsg.toLong)))
        }
      val layoutEntries: Seq[(Int, TagVal)] =
        if (tiled) Seq(
          TTileWidth -> Shorts(Seq(im.tileSize.toLong)),
          TTileLength -> Shorts(Seq(im.tileSize.toLong)),
          TTileOffsets -> SegOffsets(relOffsets),
          TTileByteCounts -> Longs(payloads.map(_.length.toLong)))
        else Seq(
          TRowsPerStrip -> Longs(Seq(im.rowsPerStrip.toLong)),
          TStripOffsets -> SegOffsets(relOffsets),
          TStripByteCounts -> Longs(payloads.map(_.length.toLong)))
      val tags = (Seq(
        // LONG (type 4), not SHORT: dimensions past 65535 must not truncate
        TImageWidth -> Longs(Seq(im.width.toLong)),
        TImageLength -> Longs(Seq(im.height.toLong)),
        TBitsPerSample -> Shorts(Seq(bytesPerSample * 8L)),
        TCompression -> Shorts(Seq(im.compression.toLong)),
        TPhotometric -> Shorts(Seq(1L)),
        TSamplesPerPixel -> Shorts(Seq(1L)),
        TSampleFormat -> Shorts(Seq(if (im.samples.isLeft) 1L else 3L))) ++
        geoEntries ++ layoutEntries ++
        (if (im.reduced) Seq(TNewSubfileType -> Longs(Seq(1L))) else Seq.empty) ++
        (if (im.predictor != 1) Seq(TPredictor -> Shorts(Seq(im.predictor.toLong)))
         else Seq.empty) ++
        im.nodata.map(nd => TGdalNodata -> Ascii(
          if (nd == nd.toLong.toDouble) nd.toLong.toString else nd.toString)).toSeq
      ).sortBy(_._1)
      Staged(payloads, tags)
    }

    // ---- pass 2: layout + serialization --------------------------------------
    val payloadLens = staged.map(_.payloads.map(_.length.toLong).sum)
    val extLens = staged.map(
      _.tags.map { case (_, v) => if (sizeOf(v) > inlineCap) sizeOf(v).toLong else 0L }.sum)
    val ifdLens = staged.map(s =>
      if (big) 8L + s.tags.length * 20L + 8L else 2L + s.tags.length * 12L + 4L)
    val blockLens = staged.indices.map(i => payloadLens(i) + extLens(i) + ifdLens(i))
    val bases = blockLens.scanLeft(headerLen.toLong)(_ + _).dropRight(1)
    val ifdPositions = staged.indices.map(i => bases(i) + payloadLens(i) + extLens(i))
    val total = headerLen + blockLens.sum

    val out = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    if (big)
      out.put('I'.toByte).put('I'.toByte).putShort(43).putShort(8).putShort(0)
        .putLong(ifdPositions(0))
    else
      out.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdPositions(0).toInt)

    staged.zipWithIndex.foreach { case (s, i) =>
      val base = bases(i)
      s.payloads.foreach(out.put)
      // external value area: entries too big for the inline field, in tag order
      var extOff = base + payloadLens(i)
      val fields: Seq[(Int, TagVal, Either[Array[Byte], Long])] =
        s.tags.map { case (tag, v) =>
          if (sizeOf(v) <= inlineCap) (tag, v, Left(serialize(v, base)))
          else {
            val off = extOff
            out.put(serialize(v, base))
            extOff += sizeOf(v)
            (tag, v, Right(off))
          }
        }
      // the IFD itself
      if (big) out.putLong(s.tags.length.toLong)
      else out.putShort(s.tags.length.toShort)
      fields.foreach { case (tag, v, fv) =>
        out.putShort(tag.toShort).putShort(typOf(v).toShort)
        if (big) out.putLong(countOf(v).toLong) else out.putInt(countOf(v))
        fv match {
          case Left(inline) => out.put(java.util.Arrays.copyOf(inline, inlineCap))
          case Right(off) => if (big) out.putLong(off) else out.putInt(off.toInt)
        }
      }
      val next = if (i == staged.length - 1) 0L else ifdPositions(i + 1)
      if (big) out.putLong(next) else out.putInt(next.toInt)
    }
    out.array()
  }
}
