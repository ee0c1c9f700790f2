package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generates the binary-decode-free equivalents of the reference test
  * fixtures (FIXTURES.md §2): golden metadata from
  * tests/grd_datacube_test.py:20-39 / tests/slc_datacube_test.py:24-40,
  * deterministic pixel values `idx*1000 + azimuth*10 + range`.
  */
object Fixtures {

  case class Product(
      name: String,
      acquisitionEndUtc: String,
      orbitDirection: String,
      incidenceCenter: Double,
      satelliteLookAngle: String,
      az: Int,
      rg: Int)

  val grdProducts: Seq[Product] = Seq(
    Product("ICEYE_GRD_54549_20210427T215124_hollow_10x10pixels_fake_0.tif",
      "2021-04-28T21:51:30.025535", "ASCENDING", 30.5, "30", 10, 10),
    Product("ICEYE_GRD_54549_20210427T215124_hollow_10x10pixels_fake_1.tif",
      "2021-04-27T21:51:30.025535", "DESCENDING", 29.5, "29", 10, 10),
    Product("ICEYE_GRD_54549_20210427T215124_hollow_10x10pixels_fake_2.tif",
      "2021-05-27T21:51:30.025535", "ASCENDING", 28.5, "28", 10, 10),
  )

  val slcProducts: Seq[Product] = Seq(
    Product("ICEYE_SLC_54549_20210427T215124_hollow_20x20pixels_fake_0.h5",
      "2021-04-28T21:51:30.025535", "ASCENDING", 30.5, "30", 20, 20),
    Product("ICEYE_SLC_54549_20210427T215124_hollow_20x20pixels_fake_1.h5",
      "2021-04-27T21:51:30.025535", "DESCENDING", 29.5, "29", 20, 20),
    Product("ICEYE_SLC_54549_20210427T215124_hollow_20x20pixels_fake_2.h5",
      "2021-05-27T21:51:30.025535", "ASCENDING", 28.5, "28", 20, 20),
  )

  def pixelValue(idx: Int, az: Int, rg: Int): Double = idx * 1000.0 + az * 10.0 + rg

  def metadataJson(p: Product): String =
    s"""{
       |  "product_file": "${p.name}",
       |  "acquisition_end_utc": "${p.acquisitionEndUtc}",
       |  "orbit_direction": "${p.orbitDirection}",
       |  "incidence_center": ${p.incidenceCenter},
       |  "look_side": "RIGHT",
       |  "satellite_look_angle": "${p.satelliteLookAngle}",
       |  "number_of_azimuth_samples": ${p.az},
       |  "number_of_range_samples": ${p.rg},
       |  "coord_first_near": [0, 0, 47.0, 21.0],
       |  "coord_first_far":  [0, 0, 47.0, 21.1],
       |  "coord_last_near":  [0, 0, 47.1, 21.0],
       |  "coord_last_far":   [0, 0, 47.1, 21.1]
       |}""".stripMargin

  /** Write a GRD or SLC stack into `dir`; returns the dir. */
  def writeStack(spark: SparkSession, dir: String, products: Seq[Product], slc: Boolean,
      format: String = "parquet"): String = {
    import spark.implicits._
    Files.createDirectories(Paths.get(dir))
    products.zipWithIndex.foreach { case (p, idx) =>
      Files.write(Paths.get(s"$dir/${p.name}.json"),
        metadataJson(p).getBytes(StandardCharsets.UTF_8))
      val rows = for { a <- 0 until p.az; r <- 0 until p.rg } yield (a, r, pixelValue(idx, a, r))
      val df: DataFrame =
        if (slc) rows.map { case (a, r, v) => (a, r, v, -v) }.toDF("azimuth", "range", "real", "imag")
        else rows.toDF("azimuth", "range", "intensity")
      val w = df.coalesce(1).write.mode("overwrite")
      if (format == "csv") w.option("header", "true").csv(s"$dir/${p.name}.csv")
      else w.parquet(s"$dir/${p.name}.parquet")
    }
    dir
  }

  def writeGrdStack(spark: SparkSession, dir: String): String =
    writeStack(spark, dir, grdProducts, slc = false)

  def writeSlcStack(spark: SparkSession, dir: String): String =
    writeStack(spark, dir, slcProducts, slc = true)

  // ---------------------------------------------------------------- TIFF

  /** numpy-style print of a double vector, the format GDAL_METADATA
    * carries ("[ 0.   0.  47.  21. ]"-ish; parser is whitespace-robust). */
  private def npVect(xs: Seq[Double]): String = xs.mkString("[ ", "  ", " ]")

  def gdalXml(p: Product, coordBase: Double = 47.0): String = {
    val items = Seq(
      "ACQUISITION_END_UTC" -> p.acquisitionEndUtc,
      "ACQUISITION_MODE" -> "spotlight",
      "COORD_FIRST_NEAR" -> npVect(Seq(0, 0, coordBase, 21.0)),
      "COORD_FIRST_FAR" -> npVect(Seq(0, 0, coordBase, 21.1)),
      "COORD_LAST_NEAR" -> npVect(Seq(0, 0, coordBase + 0.1, 21.0)),
      "COORD_LAST_FAR" -> npVect(Seq(0, 0, coordBase + 0.1, 21.1)),
      "INCIDENCE_CENTER" -> p.incidenceCenter.toString,
      "LOOK_SIDE" -> "RIGHT",
      "NUMBER_OF_AZIMUTH_SAMPLES" -> p.az.toString,
      "NUMBER_OF_RANGE_SAMPLES" -> p.rg.toString,
      "ORBIT_DIRECTION" -> p.orbitDirection,
      "POSX" -> npVect(Seq(1.5, 2.5, 3.5)),
      "PRODUCT_FILE" -> p.name,
      "RANGE_LOOK_BANDWIDTH" -> "88.5", // not in the expected-keys table ⇒ "None"
      "SATELLITE_LOOK_ANGLE" -> p.satelliteLookAngle,
    )
    items.map { case (k, v) => s"""  <Item name="$k">$v</Item>""" }
      .mkString("<GDALMetadata>\n", "\n", "\n</GDALMetadata>")
  }

  /** Deterministic 92-double RPC tag payload: k + 0.25. */
  def rpcValues: Array[Double] = Array.tabulate(92)(k => k + 0.25)

  /** Write one uncompressed little-endian strip TIFF (the reference
    * fixture shape: the .tif files under tests/resources/grd_stack —
    * strip-organized, GDAL_METADATA tag 42112, RPC tag 50844).
    * Multi-strip on purpose (rowsPerStrip=4) so decode exercises strip
    * boundaries. */
  /** TIFF-variant LZW encoder (MSB-first, Clear=256, EOI=257, early
    * change): spec encoder pseudocode, no Clear resets (fixture blocks
    * stay far below the 4094-entry bound). */
  def lzwEncode(raw: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var bitBuf = 0L
    var nBits = 0
    var width = 9
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code
      nBits += width
      while (nBits >= 8) { out += ((bitBuf >> (nBits - 8)) & 0xff).toByte; nBits -= 8 }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var next = 258
    emit(256) // Clear
    var omega = -1
    raw.foreach { b =>
      val k = b & 0xff
      if (omega < 0) omega = k
      else dict.get((omega, k)) match {
        case Some(c) => omega = c
        case None =>
          emit(omega)
          dict((omega, k)) = next
          next += 1
          if (next == (1 << width) - 1 && width < 12) width += 1
          omega = k
      }
    }
    if (omega >= 0) emit(omega)
    emit(257) // EOI
    if (nBits > 0) out += ((bitBuf << (8 - nBits)) & 0xff).toByte
    out.toArray
  }

  /** PackBits encoder (TIFF 6.0 §9): maximal replicate runs for ≥2
    * equal bytes, literal runs otherwise, both capped at 128; a literal
    * run ends early when a ≥3-byte replicate starts (the spec's
    * break-even rule). */
  def packBitsEncode(raw: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var i = 0
    while (i < raw.length) {
      var run = 1
      while (i + run < raw.length && raw(i + run) == raw(i) && run < 128) run += 1
      if (run >= 2) {
        out += (1 - run).toByte
        out += raw(i)
        i += run
      } else {
        val start = i
        i += 1
        var done = false
        while (!done && i < raw.length && i - start < 128) {
          if (i + 2 < raw.length && raw(i) == raw(i + 1) && raw(i) == raw(i + 2)) done = true
          else i += 1
        }
        out += (i - start - 1).toByte
        out ++= raw.slice(start, i)
      }
    }
    out.toArray
  }

  /** Predictor 3 (float): shuffle each row's LE float32 bytes into
    * MSB-first significance planes, then byte-difference the row —
    * the TechNote-3 encode (what GDAL writes for compressed floats). */
  private def fpDiffRows(raw: Array[Byte], width: Int): Array[Byte] = {
    val bps = 4
    val rowBytes = width * bps
    val rows = raw.length / rowBytes
    val out = new Array[Byte](raw.length)
    for (r <- 0 until rows) {
      val base = r * rowBytes
      for (c <- 0 until width; p <- 0 until bps)
        out(base + p * width + c) = raw(base + c * bps + (bps - 1 - p))
      for (i <- (rowBytes - 1) until 0 by -1)
        out(base + i) = (out(base + i) - out(base + i - 1)).toByte
    }
    out
  }

  /** Predictor 2: horizontal differencing per row, per uint16 sample. */
  private def diffRows(raw: Array[Byte], width: Int): Array[Byte] = {
    val bo = java.nio.ByteOrder.LITTLE_ENDIAN
    val b = java.nio.ByteBuffer.wrap(raw.clone()).order(bo)
    val rows = raw.length / (width * 2)
    for (r <- 0 until rows; c <- (width - 1) until 0 by -1) {
      val p = (r * width + c) * 2
      val v = (b.getShort(p) - b.getShort(p - 2)).toShort
      b.putShort(p, v)
    }
    b.array()
  }

  def writeTiff(path: String, p: Product, idx: Int, dtype: String = "uint16",
      withRpc: Boolean = true, compression: Int = 1,
      tiled: Option[(Int, Int)] = None, predictor: Int = 1,
      bigtiff: Boolean = false, bigendian: Boolean = false): Unit = {
    require(predictor == 1 || (predictor == 2 && dtype == "uint16")
        || (predictor == 3 && dtype == "float32"),
      "fixture writer: predictor 2 only for uint16, predictor 3 only for float32")
    require(!bigendian || predictor == 1,
      "fixture writer: the predictor differencers are little-endian only")
    // ASCII TIFF tags carry a trailing NUL; the reader must strip it
    val xml = gdalXml(p) + "\u0000"
    val xmlBytes = xml.getBytes(StandardCharsets.UTF_8)
    val (bits, sampleFormat) = dtype match {
      case "uint16"  => (16, 1)
      case "float32" => (32, 3)
      case other     => throw new IllegalArgumentException(s"fixture writer: $other")
    }
    val bytesPerSample = bits / 8
    val rowsPerStrip = 4
    val nStrips = (p.az + rowsPerStrip - 1) / rowsPerStrip

    val bo = if (bigendian) java.nio.ByteOrder.BIG_ENDIAN
             else java.nio.ByteOrder.LITTLE_ENDIAN
    val hdr = if (bigendian) 'M'.toByte else 'I'.toByte
    case class Tag(id: Int, typ: Int, count: Int, data: Array[Byte])
    def shortTag(id: Int, v: Int) = {
      val b = java.nio.ByteBuffer.allocate(2).order(bo); b.putShort(v.toShort)
      Tag(id, 3, 1, b.array())
    }
    def longArrTag(id: Int, vs: Seq[Long]) = {
      val b = java.nio.ByteBuffer.allocate(4 * vs.size).order(bo); vs.foreach(v => b.putInt(v.toInt))
      Tag(id, 4, vs.size, b.array())
    }
    def doubleArrTag(id: Int, vs: Seq[Double]) = {
      val b = java.nio.ByteBuffer.allocate(8 * vs.size).order(bo); vs.foreach(b.putDouble)
      Tag(id, 12, vs.size, b.array())
    }

    // strip payloads (per strip, optionally deflated) — or full tiles
    // (zero-padded edges, row-major tile grid) when `tiled` is set
    def putVal(b: java.nio.ByteBuffer, v: Double): Unit =
      if (dtype == "uint16") b.putShort(v.toInt.toShort) else { b.putFloat(v.toFloat); () }
    val rawStrips: Seq[Array[Byte]] = tiled match {
      case Some((tw, th)) =>
        for {
          t0 <- 0 until (p.az + th - 1) / th
          t1 <- 0 until (p.rg + tw - 1) / tw
        } yield {
          val b = java.nio.ByteBuffer.allocate(tw * th * bytesPerSample).order(bo)
          for { a <- 0 until th; r <- 0 until tw } {
            val ga = t0 * th + a; val gr = t1 * tw + r
            putVal(b, if (ga < p.az && gr < p.rg) pixelValue(idx, ga, gr) else 0.0)
          }
          b.array()
        }
      case None => (0 until nStrips).map { s =>
        val rows = math.min(rowsPerStrip, p.az - s * rowsPerStrip)
        val b = java.nio.ByteBuffer.allocate(rows * p.rg * bytesPerSample).order(bo)
        for { a <- s * rowsPerStrip until s * rowsPerStrip + rows; r <- 0 until p.rg } {
          putVal(b, pixelValue(idx, a, r))
        }
        b.array()
      }
    }
    val blockWidth = tiled.map(_._1).getOrElse(p.rg)
    val strips: Seq[Array[Byte]] = rawStrips.map { raw0 =>
      val raw = predictor match {
        case 2 => diffRows(raw0, blockWidth)
        case 3 => fpDiffRows(raw0, blockWidth)
        case _ => raw0
      }
      compression match {
        case 1     => raw
        case 5     => lzwEncode(raw)
        case 32773 => packBitsEncode(raw)
        case _     =>
          val d = new java.util.zip.Deflater()
          d.setInput(raw); d.finish()
          val out = new Array[Byte](raw.length * 2 + 64)
          val n = d.deflate(out)
          d.end()
          java.util.Arrays.copyOf(out, n)
      }
    }
    val stripBytes = strips.reduce(_ ++ _)
    val stripLens = strips.map(_.length.toLong)

    // layout: header(8) | IFD | out-of-line tag data | strips/tiles
    val locationTags = tiled match {
      case Some((tw, th)) => Seq(
        shortTag(322, tw), shortTag(323, th),
        longArrTag(324, Seq.fill(strips.size)(0L)), // patched below
        longArrTag(325, stripLens))
      case None => Seq(
        longArrTag(273, Seq.fill(nStrips)(0L)), // patched below
        shortTag(278, rowsPerStrip),
        longArrTag(279, stripLens))
    }
    // IFD entries must be ascending by tag id
    val tags0 = ((Seq(
      shortTag(256, p.rg), shortTag(257, p.az), shortTag(258, bits),
      shortTag(259, compression), shortTag(262, 1),
      shortTag(277, 1), shortTag(317, predictor)) ++ locationTags ++ Seq(
      shortTag(339, sampleFormat),
      Tag(42112, 2, xmlBytes.length, xmlBytes))) ++
      (if (withRpc) Seq(doubleArrTag(50844, rpcValues.toSeq)) else Nil))
      .sortBy(_.id)

    // BigTIFF: 16-byte header, u64 entry count, 20-byte entries, u64
    // next-IFD pointer, 8-byte inline capacity
    val ifdSize = if (bigtiff) 8 + tags0.size * 20 + 8 else 2 + tags0.size * 12 + 4
    val inlineCap = if (bigtiff) 8 else 4
    var dataOff = (if (bigtiff) 16L else 8L) + ifdSize
    // assign out-of-line offsets (data > inline capacity)
    val withOffsets = tags0.map { t =>
      if (t.data.length > inlineCap) { val o = dataOff; dataOff += t.data.length; (t, Some(o)) }
      else (t, None)
    }
    val stripsStart = dataOff
    val stripOffsets = stripLens.scanLeft(stripsStart)(_ + _).dropRight(1)
    // patch tag 273/324 with real strip/tile offsets
    val tags = withOffsets.map {
      case (t, o) if t.id == 273 || t.id == 324 =>
        val b = java.nio.ByteBuffer.allocate(4 * strips.size).order(bo)
        stripOffsets.foreach(v => b.putInt(v.toInt))
        (Tag(t.id, 4, strips.size, b.array()), o)
      case other => other
    }

    val total = stripsStart + stripLens.sum
    val buf = java.nio.ByteBuffer.allocate(total.toInt).order(bo)
    if (bigtiff) {
      buf.put(hdr).put(hdr).putShort(43).putShort(8).putShort(0).putLong(16)
      buf.putLong(tags.size.toLong)
      tags.foreach { case (t, off) =>
        buf.putShort(t.id.toShort).putShort(t.typ.toShort).putLong(t.count.toLong)
        off match {
          case Some(o) => buf.putLong(o)
          case None    => buf.put(java.util.Arrays.copyOf(t.data, 8))
        }
      }
      buf.putLong(0L) // next-IFD pointer
    } else {
      buf.put(hdr).put(hdr).putShort(42).putInt(8)
      buf.putShort(tags.size.toShort)
      tags.foreach { case (t, off) =>
        buf.putShort(t.id.toShort).putShort(t.typ.toShort).putInt(t.count)
        off match {
          case Some(o) => buf.putInt(o.toInt)
          case None    => buf.put(java.util.Arrays.copyOf(t.data, 4))
        }
      }
      buf.putInt(0) // next-IFD pointer
    }
    tags.foreach { case (t, off) => if (off.isDefined) buf.put(t.data) }
    buf.put(stripBytes)
    Files.write(Paths.get(path), buf.array())
  }

  /** Write a directory of 3 real binary GRD TIFFs (no sidecars). */
  def writeTiffStack(dir: String, dtype: String = "uint16"): String = {
    Files.createDirectories(Paths.get(dir))
    grdProducts.zipWithIndex.foreach { case (p, idx) =>
      writeTiff(s"$dir/${p.name}", p, idx, dtype)
    }
    dir
  }

  // ---------------------------------------------------------------- HDF5

  sealed trait H5Data
  /** chunks=(chunkAz, chunkRg) switches the layout to chunked (v1 chunk
    * B-tree); deflate gzips each chunk (filter pipeline id 1); shuffle
    * byte-transposes before compression (id 2, h5py `shuffle=True`);
    * fletcher32 appends the HDF5 checksum trailer last (id 3, h5py
    * `fletcher32=True`) — pipeline write order matches h5py's
    * shuffle → deflate → fletcher32. */
  final case class H5F32(dims: Seq[Int], values: Array[Float],
      chunks: Option[(Int, Int)] = None, deflate: Boolean = false,
      shuffle: Boolean = false, fletcher32: Boolean = false,
      scaleoffset: Option[Int] = None) extends H5Data
  /** Chunked int32 with the nbit / scaleoffset filter family. `nbit` =
    * (precision, offset) truncation; `soMinbits` = Some(0) for the
    * auto-minbits integer scale-offset, Some(n) for a fixed width;
    * `soFill` mirrors h5py's default fillvalue=0 (fill defined). Write
    * order mirrors HDF5's dcpl assembly: scaleoffset|nbit → shuffle →
    * deflate → fletcher32. */
  final case class H5I32C(dims: Seq[Int], values: Array[Int],
      chunks: (Int, Int), nbit: Option[(Int, Int)] = None,
      soMinbits: Option[Int] = None, soFill: Option[Int] = Some(0),
      deflate: Boolean = false, shuffle: Boolean = false,
      fletcher32: Boolean = false, be: Boolean = false) extends H5Data
  final case class H5F64(dims: Seq[Int], values: Array[Double]) extends H5Data
  final case class H5I32(dims: Seq[Int], values: Array[Int]) extends H5Data
  final case class H5I64(dims: Seq[Int], values: Array[Long]) extends H5Data
  final case class H5Str(value: String) extends H5Data
  /** Fixed-size string array (element size = longest value + NUL). */
  final case class H5StrArr(values: Seq[String]) extends H5Data

  /** Write a minimal HDF5 file: v0 superblock, one root group
    * (single-leaf v1 B-tree + SNOD + local heap), v1 object headers,
    * contiguous datasets (IEEE floats, int32, fixed NUL-terminated
    * strings). The exact subset [[graft.io.Hdf5]] reads — plus the
    * reference-fixture spec proves the reader on real h5py output. */
  private def pad8(n: Int): Int = (n + 7) / 8 * 8

  /** Forward byte-shuffle (HDF5 filter id 2): element byte-plane j of
    * all n elements lands contiguously — written INDEPENDENTLY of the
    * reader's unshuffle so the spec is a real cross-implementation
    * check, not an inverse of itself. */
  private def h5Shuffle(raw: Array[Byte], elemSize: Int): Array[Byte] = {
    val n = raw.length / elemSize
    val out = new Array[Byte](raw.length)
    var j = 0
    var idx = 0
    while (j < elemSize) {
      var i = 0
      while (i < n) { out(idx) = raw(i * elemSize + j); idx += 1; i += 1 }
      j += 1
    }
    var k = n * elemSize
    while (k < raw.length) { out(k) = raw(k); k += 1 }
    out
  }

  /** HDF5's Fletcher-32 over big-endian 16-bit words with 360-word
    * reduction blocks (H5checksum.c) — the value the fletcher32 filter
    * (id 3) appends little-endian after the data. */
  def h5Fletcher32(b: Array[Byte]): Int = {
    var sum1 = 0L
    var sum2 = 0L
    var i = 0
    var rem = b.length / 2
    while (rem > 0) {
      var tlen = math.min(rem, 360)
      rem -= tlen
      while (tlen > 0) {
        sum1 += ((b(i) & 0xffL) << 8) | (b(i + 1) & 0xffL)
        sum2 += sum1
        i += 2
        tlen -= 1
      }
      sum1 = (sum1 & 0xffff) + (sum1 >>> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >>> 16)
    }
    if (b.length % 2 == 1) {
      sum1 += (b(i) & 0xffL) << 8
      sum2 += sum1
      sum1 = (sum1 & 0xffff) + (sum1 >>> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >>> 16)
    }
    sum1 = (sum1 & 0xffff) + (sum1 >>> 16)
    sum2 = (sum2 & 0xffff) + (sum2 >>> 16)
    ((sum2 << 16) | sum1).toInt
  }

  /** MSB-first bit appender for the nbit / scaleoffset packed streams. */
  private final class H5BitWriter(capacity: Int) {
    val buf = new Array[Byte](capacity)
    private var j = 0
    private var bufLen = 8 // unwritten bits left in buf(j)
    def append(value: Long, nbits: Int): Unit = {
      var need = nbits
      while (need > 0) {
        val tk = math.min(need, bufLen)
        val chunk = ((value >>> (need - tk)) & ((1L << tk) - 1)).toInt
        buf(j) = (buf(j) | (chunk << (bufLen - tk))).toByte
        bufLen -= tk; need -= tk
        if (bufLen == 0) { j += 1; bufLen = 8 }
      }
    }
  }

  /** Forward n-bit pack (HDF5 filter id 5) for LE atomic elements: per
    * element, bytes begin→end (most-significant first), each
    * contributing its significant-bit span [offset, offset+precision),
    * appended MSB-first — H5Z__nbit_compress_one_atomic's walk, written
    * independently of the reader's unpack. Output length is
    * floor(bits/8)+1: H5Z__nbit_compress reports new_size+1
    * unconditionally, so a stream ending on a byte boundary carries one
    * trailing zero byte. */
  def h5NbitPack(raw: Array[Byte], size: Int, precision: Int, offset: Int): Array[Byte] = {
    val n = raw.length / size
    val dtLen = size * 8
    val outLen = (n.toLong * precision / 8 + 1).toInt
    val w = new H5BitWriter(outLen + 1)
    val begin = if ((precision + offset) % 8 != 0) (precision + offset) / 8
                else (precision + offset) / 8 - 1
    val end = offset / 8
    var i = 0
    while (i < n) {
      var k = begin
      while (k >= end) {
        var datLen = 8; var datOff = 0
        if (begin != end) {
          if (k == begin) datLen = 8 - (dtLen - precision - offset) % 8
          else if (k == end) { datLen = 8 - offset % 8; datOff = offset % 8 }
        } else { datOff = offset % 8; datLen = precision }
        w.append(((raw(i * size + k) & 0xff) >>> datOff) & ((1 << datLen) - 1), datLen)
        k -= 1
      }
      i += 1
    }
    java.util.Arrays.copyOf(w.buf, outLen)
  }

  private def h5Log2Ceil(m: Long): Int = {
    var v = 0; var lb = 1L; var x = m
    while ({ x >>= 1; x != 0 }) { v += 1; lb <<= 1 }
    if (m == lb) v else v + 1
  }

  /** 21-byte scale-offset chunk header (minbits u32 LE, minval width u8,
    * minval LE, zero pad) followed by the packed stream. */
  private def h5SoHeader(minbits: Int, minval: Long, packedBytes: Int): Array[Byte] = {
    val out = new Array[Byte](21 + packedBytes)
    var i = 0
    while (i < 4) { out(i) = ((minbits >>> (8 * i)) & 0xff).toByte; i += 1 }
    out(4) = 8
    i = 0
    while (i < 8) { out(5 + i) = ((minval >>> (8 * i)) & 0xff).toByte; i += 1 }
    out
  }

  /** Forward integer scale-offset (filter id 6, H5Z_SO_INT, int32 LE):
    * per-chunk minbits/minval header + (v − min) packed MSB-first; the
    * all-ones code is reserved for the fill value when one is defined
    * (H5Z_scaleoffset_precompress_2: auto minbits = ⌈log2(span+2)⌉ with
    * fill, ⌈log2(span+1)⌉ without). minbitsFixed = 0 → auto. */
  def h5SoPackInt(values: Array[Int], minbitsFixed: Int, fill: Option[Int]): Array[Byte] = {
    val n = values.length
    var found = false; var mn = 0; var mx = 0
    var i = 0
    while (i < n) {
      val v = values(i)
      if (!fill.contains(v)) {
        if (!found) { mn = v; mx = v; found = true }
        else { if (v < mn) mn = v; if (v > mx) mx = v }
      }
      i += 1
    }
    val span = mx.toLong - mn.toLong + 1
    val minbits =
      if (minbitsFixed > 0) minbitsFixed
      else if (fill.isDefined) h5Log2Ceil(span + 1)
      else h5Log2Ceil(span)
    require(minbits <= 32, s"scale-offset span too wide ($span)")
    if (minbits == 32) { // full width: verbatim LE copy after the header
      val out = h5SoHeader(32, mn.toLong, n * 4)
      val b = java.nio.ByteBuffer.wrap(out, 21, n * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      values.foreach(b.putInt)
      out
    } else {
      val packedBytes = ((n.toLong * minbits + 7) / 8).toInt
      val out = h5SoHeader(minbits, mn.toLong, packedBytes)
      if (minbits > 0) {
        val w = new H5BitWriter(packedBytes + 1)
        val mask = (1L << minbits) - 1
        values.foreach { v =>
          w.append(if (fill.contains(v)) mask else (v.toLong - mn.toLong) & mask, minbits)
        }
        System.arraycopy(w.buf, 0, out, 21, packedBytes)
      }
      out
    }
  }

  /** Forward float D-scale scale-offset (H5Z_SO_FLOAT_DSCALE, float32
    * LE): scale by 10^D as a FLOAT product, llroundf (half away from
    * zero), shift by the rounded minimum, pack minbits-wide; fill (when
    * defined) reserves the all-ones code
    * (H5Z_scaleoffset_precompress_3). */
  def h5SoPackF32(values: Array[Float], scale: Int, fill: Option[Float]): Array[Byte] = {
    val p10 = math.pow(10.0, scale).toFloat
    def llround(x: Float): Long = {
      val y = (x * p10).toDouble
      if (y >= 0) math.floor(y + 0.5).toLong else math.ceil(y - 0.5).toLong
    }
    val n = values.length
    var found = false; var mnF = 0.0f; var mxF = 0.0f
    var i = 0
    while (i < n) {
      val v = values(i)
      if (!fill.contains(v)) {
        if (!found) { mnF = v; mxF = v; found = true }
        else { if (v < mnF) mnF = v; if (v > mxF) mxF = v }
      }
      i += 1
    }
    val minval = llround(mnF)
    val span = llround(mxF) - minval + 1
    val minbits =
      if (fill.isDefined) h5Log2Ceil(span + 1)
      else h5Log2Ceil(span)
    require(minbits <= 32, s"D-scale span too wide ($span)")
    if (minbits == 32) { // full width: raw float bits verbatim
      val out = h5SoHeader(32, minval, n * 4)
      val b = java.nio.ByteBuffer.wrap(out, 21, n * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      values.foreach(b.putFloat)
      out
    } else {
      val packedBytes = ((n.toLong * minbits + 7) / 8).toInt
      val out = h5SoHeader(minbits, minval, packedBytes)
      if (minbits > 0) {
        val w = new H5BitWriter(packedBytes + 1)
        val mask = (1L << minbits) - 1
        values.foreach { v =>
          w.append(if (fill.contains(v)) mask else (llround(v) - minval) & mask, minbits)
        }
        System.arraycopy(w.buf, 0, out, 21, packedBytes)
      }
      out
    }
  }

  private def dtypeBody(d: H5Data): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    d match {
      case _: H5F32 =>
        b.put((0x10 | 1).toByte).put(0x20.toByte).put(0x0f.toByte).put(0.toByte).putInt(4)
        b.putShort(0).putShort(32).put(0.toByte).put(23.toByte).put(8.toByte)
          .put(0.toByte).put(23.toByte).put(0.toByte).putShort(0).putInt(127)
      case H5F64(_, _) =>
        b.put((0x10 | 1).toByte).put(0x20.toByte).put(0x3f.toByte).put(0.toByte).putInt(8)
        b.putShort(0).putShort(64).put(0.toByte).put(52.toByte).put(11.toByte)
          .put(0.toByte).put(52.toByte).put(0.toByte).putShort(0).putInt(1023)
      case H5I32(_, _) =>
        b.put((0x10 | 0).toByte).put(0x08.toByte).put(0.toByte).put(0.toByte).putInt(4)
        b.putShort(0).putShort(32)
      case f: H5I32C =>
        b.put((0x10 | 0).toByte).put((0x08 | (if (f.be) 1 else 0)).toByte)
          .put(0.toByte).put(0.toByte).putInt(4)
        b.putShort(0).putShort(32)
      case H5I64(_, _) =>
        b.put((0x10 | 0).toByte).put(0x08.toByte).put(0.toByte).put(0.toByte).putInt(8)
        b.putShort(0).putShort(64)
      case H5Str(v) =>
        b.put((0x10 | 3).toByte).put(0.toByte).put(0.toByte).put(0.toByte).putInt(v.length + 1)
      case H5StrArr(vs) =>
        val sz = vs.map(_.getBytes(StandardCharsets.UTF_8).length).max + 1
        b.put((0x10 | 3).toByte).put(0.toByte).put(0.toByte).put(0.toByte).putInt(sz)
    }
    java.util.Arrays.copyOf(b.array(), pad8(b.position()))
  }

  private def h5dims(d: H5Data): Seq[Int] = d match {
    case f: H5F32 => f.dims
    case f: H5I32C => f.dims
    case H5F64(dm, _)  => dm
    case H5I32(dm, _)  => dm
    case H5I64(dm, _)  => dm
    case H5Str(_)      => Seq.empty
    case H5StrArr(vs)  => Seq(vs.length)
  }

  private def h5dataBytes(d: H5Data): Array[Byte] = {
    val bo = java.nio.ByteOrder.LITTLE_ENDIAN
    d match {
      case f: H5F32 =>
        val vs = f.values
        val b = java.nio.ByteBuffer.allocate(vs.length * 4).order(bo); vs.foreach(b.putFloat); b.array()
      case f: H5I32C => // always chunked; bytes only feed per-chunk slicing
        val b = java.nio.ByteBuffer.allocate(f.values.length * 4).order(bo)
        f.values.foreach(b.putInt); b.array()
      case H5F64(_, vs) =>
        val b = java.nio.ByteBuffer.allocate(vs.length * 8).order(bo); vs.foreach(b.putDouble); b.array()
      case H5I32(_, vs) =>
        val b = java.nio.ByteBuffer.allocate(vs.length * 4).order(bo); vs.foreach(b.putInt); b.array()
      case H5I64(_, vs) =>
        val b = java.nio.ByteBuffer.allocate(vs.length * 8).order(bo); vs.foreach(b.putLong); b.array()
      case H5Str(v) => (v + "\u0000").getBytes(StandardCharsets.UTF_8)
      case H5StrArr(vs) =>
        val sz = vs.map(_.getBytes(StandardCharsets.UTF_8).length).max + 1
        vs.flatMap(v => java.util.Arrays.copyOf(
          v.getBytes(StandardCharsets.UTF_8), sz).toSeq).toArray
    }
  }

  /** v1 attribute message body (0x0C): sizes header, "\u0000"-terminated name,
    * datatype + dataspace message bodies (each 8-padded), raw data. */
  private def attrMsg(name: String, d: H5Data): Array[Byte] = {
    val bo = java.nio.ByteOrder.LITTLE_ENDIAN
    val nameBytes = (name + "\u0000").getBytes(StandardCharsets.UTF_8)
    val dtb = dtypeBody(d)
    val rank = h5dims(d).size
    val dsb = {
      val b = java.nio.ByteBuffer.allocate(8 + 8 * rank).order(bo)
      b.put(1.toByte).put(rank.toByte).put(0.toByte)
      b.position(8)
      h5dims(d).foreach(x => b.putLong(x.toLong))
      b.array()
    }
    val data = h5dataBytes(d)
    val b = java.nio.ByteBuffer.allocate(pad8(
      8 + pad8(nameBytes.length) + pad8(dtb.length) + pad8(dsb.length) + data.length)).order(bo)
    b.put(1.toByte).put(0.toByte)
      .putShort(nameBytes.length.toShort).putShort(dtb.length.toShort).putShort(dsb.length.toShort)
    b.position(8)
    b.put(java.util.Arrays.copyOf(nameBytes, pad8(nameBytes.length)))
    b.put(java.util.Arrays.copyOf(dtb, pad8(dtb.length)))
    b.put(java.util.Arrays.copyOf(dsb, pad8(dsb.length)))
    b.put(data)
    b.array()
  }

  def writeH5(path: String, datasets: Seq[(String, H5Data)],
      attrs: Map[String, Seq[(String, H5Data)]] = Map.empty,
      rootAttrs: Seq[(String, H5Data)] = Nil): Unit = {
    val bo = java.nio.ByteOrder.LITTLE_ENDIAN
    val sorted = datasets.sortBy(_._1)
    val Undef = -1L
    def attrMsgs(n: String): Seq[Array[Byte]] =
      attrs.getOrElse(n, Nil).map { case (an, ad) => attrMsg(an, ad) }

    // --- local heap data segment: offset 0 reserved (empty name) ---
    val nameOffsets = scala.collection.mutable.LinkedHashMap[String, Long]()
    var heapPos = 8L
    sorted.foreach { case (n, _) =>
      nameOffsets(n) = heapPos
      heapPos += pad8(n.length + 1)
    }
    val heapDataSize = heapPos

    // --- per-dataset object header + data sizes ---
    def dims(d: H5Data): Seq[Int] = h5dims(d)
    def deflateBytes(raw: Array[Byte]): Array[Byte] = {
      val dfl = new java.util.zip.Deflater()
      dfl.setInput(raw); dfl.finish()
      val out = new Array[Byte](raw.length * 2 + 64)
      val n = dfl.deflate(out)
      dfl.end()
      java.util.Arrays.copyOf(out, n)
    }
    def isChunked(d: H5Data): Boolean = d match {
      case f: H5F32  => f.chunks.isDefined
      case _: H5I32C => true
      case _         => false
    }
    def chunkGrid(d: H5Data): (Int, Int, Int, Int) = d match { // (az, rg, ch, cw)
      case f: H5F32  => val Some((ch, cw)) = f.chunks; (f.dims(0), f.dims(1), ch, cw)
      case f: H5I32C => (f.dims(0), f.dims(1), f.chunks._1, f.chunks._2)
      case _ => throw new IllegalArgumentException("not chunked")
    }
    /** Chunked datasets: (origin, stored chunk bytes); edge chunks
      * zero-padded to full chunk size (HDF5 stores full chunks). The
      * filter pipeline applies in HDF5's dcpl order: scaleoffset|nbit →
      * shuffle → deflate → fletcher32 (h5py applies scale-offset before
      * shuffle/compression; the checksum goes last). Scale-offset
      * headers are per-chunk, so auto minbits varies chunk to chunk. */
    def chunksOf(d: H5Data): Seq[(Seq[Long], Array[Byte])] = {
      val (az, rg, ch, cw) = chunkGrid(d)
      for {
        c0 <- 0 until (az + ch - 1) / ch
        c1 <- 0 until (rg + cw - 1) / cw
      } yield {
        var st: Array[Byte] = null
        var shuffle = false; var deflate = false; var fletcher = false
        d match {
          case f: H5F32 =>
            shuffle = f.shuffle; deflate = f.deflate; fletcher = f.fletcher32
            val vals = new Array[Float](ch * cw)
            for { a <- 0 until ch; r <- 0 until cw } {
              val ga = c0 * ch + a; val gr = c1 * cw + r
              vals(a * cw + r) = if (ga < az && gr < rg) f.values(ga * rg + gr) else 0.0f
            }
            f.scaleoffset match {
              case Some(sc) => st = h5SoPackF32(vals, sc, Some(0.0f))
              case None =>
                val b = java.nio.ByteBuffer.allocate(ch * cw * 4).order(bo)
                vals.foreach(b.putFloat)
                st = b.array()
            }
          case f: H5I32C =>
            require(f.nbit.isEmpty || f.soMinbits.isEmpty,
              "nbit and scaleoffset both pack — pick one per dataset")
            require(!f.be || f.nbit.isEmpty,
              "BE fixtures only exercise the scaleoffset / raw paths")
            shuffle = f.shuffle; deflate = f.deflate; fletcher = f.fletcher32
            val vals = new Array[Int](ch * cw)
            for { a <- 0 until ch; r <- 0 until cw } {
              val ga = c0 * ch + a; val gr = c1 * cw + r
              vals(a * cw + r) = if (ga < az && gr < rg) f.values(ga * rg + gr) else 0
            }
            f.soMinbits match {
              // scaleoffset payload is canonical LE on disk in BOTH dataset
              // byte orders (H5Z__scaleoffset_convert runs before compress)
              case Some(mb) => st = h5SoPackInt(vals, mb, f.soFill)
              case None =>
                val b = java.nio.ByteBuffer.allocate(ch * cw * 4)
                  .order(if (f.be) java.nio.ByteOrder.BIG_ENDIAN else bo)
                vals.foreach(b.putInt)
                st = b.array()
                f.nbit.foreach { case (prec, off) => st = h5NbitPack(st, 4, prec, off) }
            }
          case _ => throw new IllegalArgumentException("not chunked")
        }
        if (shuffle) st = h5Shuffle(st, 4)
        if (deflate) st = deflateBytes(st)
        if (fletcher) {
          val ck = h5Fletcher32(st)
          st = st ++ Array[Byte](ck.toByte, (ck >>> 8).toByte,
            (ck >>> 16).toByte, (ck >>> 24).toByte)
        }
        (Seq(c0.toLong * ch, c1.toLong * cw), st)
      }
    }
    def dataBytes(d: H5Data): Array[Byte] = h5dataBytes(d)
    /** (id, client values) pipeline entries in write order. */
    def pipelineOf(d: H5Data): Seq[(Int, Seq[Int])] = {
      val nelmts = if (isChunked(d)) { val (_, _, ch, cw) = chunkGrid(d); ch * cw } else 0
      d match {
        case f: H5F32 =>
          // scaleoffset cd (H5Z__set_local_scaleoffset, 20 words):
          // [scaleType, scaleFactor, nelmts, class, size, sign, order,
          //  fillDefined, fill bytes LSB-first 4-per-word, zero pad]
          f.scaleoffset.map(sc =>
            (6, Seq(0, sc, nelmts, 1, 4, 0, 0, 1,
              java.lang.Float.floatToIntBits(0.0f)) ++ Seq.fill(11)(0))).toSeq ++
            Seq(
              Option.when(f.shuffle)((2, Seq(4))),
              Option.when(f.deflate)((1, Seq(6))),
              Option.when(f.fletcher32)((3, Seq.empty[Int]))).flatten
        case f: H5I32C =>
          f.soMinbits.map(mb =>
            (6, Seq(2, mb, nelmts, 0, 4, 1, if (f.be) 1 else 0,
              if (f.soFill.isDefined) 1 else 0,
              f.soFill.getOrElse(0)) ++ Seq.fill(11)(0))).toSeq ++
            // nbit cd (H5Z__set_local_nbit, atomic): [nparms, nelmts,
            //  pass-through flag, class, size, order, precision, offset]
            f.nbit.map { case (prec, off) =>
              (5, Seq(8, nelmts, 0, 1, 4, 0, prec, off)) }.toSeq ++
            Seq(
              Option.when(f.shuffle)((2, Seq(4))),
              Option.when(f.deflate)((1, Seq(6))),
              Option.when(f.fletcher32)((3, Seq.empty[Int]))).flatten
        case _ => Seq.empty
      }
    }
    def filterMsg(d: H5Data): Option[Array[Byte]] = {
      // v1 filter pipeline message; builtin filters carry no name
      val fs = pipelineOf(d)
      if (fs.isEmpty) None
      else {
        val size = 8 + fs.map { case (_, vs) =>
          8 + vs.size * 4 + (if (vs.size % 2 == 1) 4 else 0) }.sum
        val b = java.nio.ByteBuffer.allocate(size).order(bo)
        b.put(1.toByte).put(fs.size.toByte).put(Array.fill[Byte](6)(0))
        fs.foreach { case (id, vs) =>
          b.putShort(id.toShort).putShort(0).putShort(0).putShort(vs.size.toShort)
          vs.foreach(b.putInt)
          if (vs.size % 2 == 1) b.putInt(0)
        }
        Some(b.array())
      }
    }
    def ohdrSize(n: String, d: H5Data): Int = {
      val dspace = 8 + 8 + dims(d).size * 8
      val dtype = 8 + dtypeBody(d).length
      val layout = 8 + 24
      val filter = filterMsg(d).map(8 + _.length).getOrElse(0)
      16 + dspace + dtype + layout + filter + attrMsgs(n).map(8 + _.length).sum
    }
    // chunk B-tree node: header(24) + n*(key 32 + child 8) + final key 32
    def btreeSize(nChunks: Int): Int = 24 + nChunks * 40 + 32

    // --- layout: superblock(96) | root ohdr | heap hdr(32) | heap
    // data | TREE(48) | SNOD | dataset ohdrs | data blocks ---
    val rootAttrMsgs = rootAttrs.map { case (an, ad) => attrMsg(an, ad) }
    val rootOhdrAddr = 96L
    val heapHdrAddr = rootOhdrAddr + 40 + rootAttrMsgs.map(8 + _.length).sum
    val heapDataAddr = heapHdrAddr + 32
    val treeAddr = heapDataAddr + heapDataSize
    val snodAddr = treeAddr + 48
    val snodSize = 8 + sorted.size * 40
    var cursor = snodAddr + snodSize
    val ohdrAddrs = sorted.map { case (n, d) =>
      val a = cursor; cursor += ohdrSize(n, d); (n, a)
    }.toMap
    cursor = (cursor + 7) / 8 * 8
    // chunk B-trees for chunked datasets
    val btreeAddrs = sorted.collect { case (n, d) if isChunked(d) =>
      val a = cursor; cursor += btreeSize(chunksOf(d).size); (n, a)
    }.toMap
    cursor = (cursor + 7) / 8 * 8
    val dataAddrs = sorted.filterNot(e => isChunked(e._2)).map { case (n, d) =>
      val a = cursor; cursor += pad8(dataBytes(d).length); (n, a)
    }.toMap
    val chunkAddrs = sorted.collect { case (n, d) if isChunked(d) =>
      val addrs = chunksOf(d).map { case (_, bytes) =>
        val a = cursor; cursor += pad8(bytes.length); a
      }
      (n, addrs)
    }.toMap
    val eof = cursor

    val buf = java.nio.ByteBuffer.allocate(eof.toInt).order(bo)
    // superblock v0
    buf.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    buf.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte) // versions
    buf.put(0.toByte).put(8.toByte).put(8.toByte).put(0.toByte) // shared/offsets/lengths
    buf.putShort(32).putShort(16).putInt(0)                     // leaf K, internal K, flags
    buf.putLong(0L).putLong(Undef).putLong(eof).putLong(Undef)  // base, free, EOF, driver
    buf.putLong(0L).putLong(rootOhdrAddr)                       // root STE: name off, ohdr
    buf.putInt(0).putInt(0).putLong(0L).putLong(0L)             // cache, reserved, scratch
    // root object header: symbol-table message + optional attributes
    assert(buf.position() == rootOhdrAddr)
    val rootMsgsSize = 24 + rootAttrMsgs.map(8 + _.length).sum
    buf.put(1.toByte).put(0.toByte).putShort((1 + rootAttrMsgs.size).toShort)
      .putInt(1).putInt(rootMsgsSize).putInt(0)
    buf.putShort(0x11).putShort(16).putInt(0).putLong(treeAddr).putLong(heapHdrAddr)
    rootAttrMsgs.foreach { m =>
      buf.putShort(0x0c).putShort(m.length.toShort).putInt(0)
      buf.put(m)
    }
    // local heap
    assert(buf.position() == heapHdrAddr)
    buf.put("HEAP".getBytes).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    buf.putLong(heapDataSize).putLong(Undef).putLong(heapDataAddr)
    buf.putLong(0L) // heap data: offset 0 = empty name slot
    sorted.foreach { case (n, _) =>
      val bytes = java.util.Arrays.copyOf(n.getBytes(StandardCharsets.UTF_8), pad8(n.length + 1))
      buf.put(bytes)
    }
    // B-tree: single leaf pointing at the one SNOD
    assert(buf.position() == treeAddr)
    buf.put("TREE".getBytes).put(0.toByte).put(0.toByte).putShort(1)
    buf.putLong(Undef).putLong(Undef)
    buf.putLong(0L).putLong(snodAddr).putLong(nameOffsets(sorted.last._1))
    // SNOD
    assert(buf.position() == snodAddr)
    buf.put("SNOD".getBytes).putShort(1).putShort(sorted.size.toShort)
    sorted.foreach { case (n, _) =>
      buf.putLong(nameOffsets(n)).putLong(ohdrAddrs(n))
      buf.putInt(0).putInt(0).putLong(0L).putLong(0L)
    }
    // dataset object headers
    sorted.foreach { case (n, d) =>
      assert(buf.position() == ohdrAddrs(n))
      val dspaceBody = 8 + dims(d).size * 8
      val dtb = dtypeBody(d)
      val fMsg = filterMsg(d)
      val ams = attrMsgs(n)
      val nMsgs = 3 + fMsg.size + ams.size
      val msgsSize = (8 + dspaceBody) + (8 + dtb.length) + (8 + 24) +
        fMsg.map(8 + _.length).getOrElse(0) + ams.map(8 + _.length).sum
      buf.put(1.toByte).put(0.toByte).putShort(nMsgs.toShort).putInt(1).putInt(msgsSize).putInt(0)
      buf.putShort(0x01).putShort(dspaceBody.toShort).putInt(0) // dataspace v1
      buf.put(1.toByte).put(dims(d).size.toByte).put(0.toByte)
      buf.put(Array.fill[Byte](5)(0))
      dims(d).foreach(x => buf.putLong(x.toLong))
      buf.putShort(0x03).putShort(dtb.length.toShort).putInt(0) // datatype
      buf.put(dtb)
      fMsg.foreach { m => // filter pipeline message (v1)
        buf.putShort(0x0b).putShort(m.length.toShort).putInt(0)
        buf.put(m)
      }
      if (isChunked(d)) {                                       // layout v3 chunked
        val (_, _, ch, cw) = chunkGrid(d)
        buf.putShort(0x08).putShort(24).putInt(0)
        buf.put(3.toByte).put(2.toByte).put(3.toByte)           // ver, class, ndims+1
        buf.putLong(btreeAddrs(n))
        buf.putInt(ch).putInt(cw).putInt(4)                     // chunk dims + elem size
        buf.put(Array.fill[Byte](24 - 23)(0))
      } else {
        buf.putShort(0x08).putShort(24).putInt(0)               // layout v3 contiguous
        buf.put(3.toByte).put(1.toByte)
        buf.putLong(dataAddrs(n)).putLong(dataBytes(d).length.toLong)
        buf.put(Array.fill[Byte](24 - 18)(0))
      }
      ams.foreach { m =>
        buf.putShort(0x0c).putShort(m.length.toShort).putInt(0)
        buf.put(m)
      }
    }
    // chunk B-trees (single level-0 node, type 1)
    sorted.foreach {
      case (n, d) if isChunked(d) =>
        buf.position(btreeAddrs(n).toInt)
        val cs = chunksOf(d)
        buf.put("TREE".getBytes).put(1.toByte).put(0.toByte).putShort(cs.size.toShort)
        buf.putLong(Undef).putLong(Undef)
        cs.zip(chunkAddrs(n)).foreach { case ((origin, bytes), addr) =>
          buf.putInt(bytes.length).putInt(0)                    // stored size, filter mask
          origin.foreach(buf.putLong); buf.putLong(0L)          // offsets + elem dim 0
          buf.putLong(addr)
        }
        buf.putInt(0).putInt(0).putLong(0L).putLong(0L).putLong(0L) // final key
      case _ => ()
    }
    // data blocks
    sorted.foreach { case (n, d) =>
      if (isChunked(d)) {
        chunksOf(d).zip(chunkAddrs(n)).foreach { case ((_, bytes), addr) =>
          buf.position(addr.toInt)
          buf.put(bytes)
        }
      } else {
        buf.position(dataAddrs(n).toInt)
        buf.put(dataBytes(d))
      }
    }
    buf.position(eof.toInt)
    Files.write(Paths.get(path), buf.array())
  }

  /** Write the libver='latest' HDF5 layout family: v3 superblock, v2
    * ("OHDR") object headers, groups as compact Link messages (no symbol
    * tables), v2 dataspaces. Contiguous datasets only; checksums written
    * as zero (the reader is structural and does not validate them).
    * `subgroups` adds one level of named child groups (the RPC shape). */
  def writeH5V2(path: String, datasets: Seq[(String, H5Data)],
      subgroups: Seq[(String, Seq[(String, H5Data)])] = Nil): Unit = {
    val bo = java.nio.ByteOrder.LITTLE_ENDIAN
    val Undef = -1L
    val sortedRoot = datasets.sortBy(_._1)
    val sortedSubs = subgroups.sortBy(_._1).map { case (g, ds) => (g, ds.sortBy(_._1)) }

    def dsOhdrSize(d: H5Data): Int = {
      val rank = h5dims(d).size
      10 + (4 + 4 + 8 * rank) + (4 + dtypeBody(d).length) + (4 + 18) + 4
    }
    def groupOhdrSize(links: Seq[String]): Int =
      10 + (4 + 18) + links.map(n => 4 + 3 + n.length + 8).sum + 4

    // layout: superblock(48) | dataset OHDRs (root, then per-subgroup) |
    // subgroup OHDRs | root OHDR | data blocks
    var cursor = 48L
    val rootDsAddrs = sortedRoot.map { case (n, d) =>
      val a = cursor; cursor += dsOhdrSize(d); (n, a)
    }.toMap
    val subDsAddrs = sortedSubs.map { case (g, ds) =>
      g -> ds.map { case (n, d) => val a = cursor; cursor += dsOhdrSize(d); (n, a) }.toMap
    }.toMap
    val subGroupAddrs = sortedSubs.map { case (g, ds) =>
      val a = cursor; cursor += groupOhdrSize(ds.map(_._1)); (g, a)
    }.toMap
    val rootAddr = cursor
    cursor += groupOhdrSize(sortedRoot.map(_._1) ++ sortedSubs.map(_._1))
    cursor = pad8(cursor.toInt)
    val allDs = sortedRoot ++ sortedSubs.flatMap { case (g, ds) =>
      ds.map { case (n, d) => (s"$g/$n", d) } }
    val dataAddrs = allDs.map { case (n, d) =>
      val a = cursor; cursor += pad8(h5dataBytes(d).length); (n, a)
    }.toMap
    val eof = cursor

    val buf = java.nio.ByteBuffer.allocate(eof.toInt).order(bo)
    // superblock v3: sig ver so sl flags base ext eof root cksum
    buf.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    buf.put(3.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    buf.putLong(0L).putLong(Undef).putLong(eof).putLong(rootAddr).putInt(0)

    def putDatasetOhdr(d: H5Data, dataAddr: Long): Unit = {
      val rank = h5dims(d).size
      val dtb = dtypeBody(d)
      val msgs = (4 + 4 + 8 * rank) + (4 + dtb.length) + (4 + 18)
      buf.put("OHDR".getBytes).put(2.toByte).put(0x02.toByte).putInt(msgs)
      buf.put(0x01.toByte).putShort((4 + 8 * rank).toShort).put(0.toByte) // dataspace v2
      buf.put(2.toByte).put(rank.toByte).put(0.toByte)
        .put((if (rank == 0) 0 else 1).toByte)
      h5dims(d).foreach(x => buf.putLong(x.toLong))
      buf.put(0x03.toByte).putShort(dtb.length.toShort).put(0.toByte) // datatype
      buf.put(dtb)
      buf.put(0x08.toByte).putShort(18).put(0.toByte) // layout v3 contiguous
      buf.put(3.toByte).put(1.toByte)
        .putLong(dataAddr).putLong(h5dataBytes(d).length.toLong)
      buf.putInt(0) // checksum
    }
    def putGroupOhdr(links: Seq[(String, Long)]): Unit = {
      val msgs = (4 + 18) + links.map { case (n, _) => 4 + 3 + n.length + 8 }.sum
      buf.put("OHDR".getBytes).put(2.toByte).put(0x02.toByte).putInt(msgs)
      buf.put(0x02.toByte).putShort(18).put(0.toByte) // link info: no dense storage
      buf.put(0.toByte).put(0.toByte).putLong(Undef).putLong(Undef)
      links.foreach { case (n, a) =>
        buf.put(0x06.toByte).putShort((3 + n.length + 8).toShort).put(0.toByte)
        buf.put(1.toByte).put(0.toByte).put(n.length.toByte)
        buf.put(n.getBytes(StandardCharsets.UTF_8))
        buf.putLong(a)
      }
      buf.putInt(0) // checksum
    }

    sortedRoot.foreach { case (n, d) =>
      assert(buf.position() == rootDsAddrs(n)); putDatasetOhdr(d, dataAddrs(n))
    }
    sortedSubs.foreach { case (g, ds) =>
      ds.foreach { case (n, d) =>
        assert(buf.position() == subDsAddrs(g)(n)); putDatasetOhdr(d, dataAddrs(s"$g/$n"))
      }
    }
    sortedSubs.foreach { case (g, ds) =>
      assert(buf.position() == subGroupAddrs(g))
      putGroupOhdr(ds.map { case (n, _) => (n, subDsAddrs(g)(n)) })
    }
    assert(buf.position() == rootAddr)
    putGroupOhdr(sortedRoot.map { case (n, _) => (n, rootDsAddrs(n)) } ++
      sortedSubs.map { case (g, _) => (g, subGroupAddrs(g)) })
    allDs.foreach { case (n, d) =>
      buf.position(dataAddrs(n).toInt)
      buf.put(h5dataBytes(d))
    }
    buf.position(eof.toInt)
    Files.write(Paths.get(path), buf.array())
  }

  /** Bob Jenkins lookup3 (hashlittle, init 0) over a byte string — the
    * hash libhdf5 keys dense-link name-index B-tree records by. The
    * reader treats the hash as opaque; the writer computes the real one
    * so record ORDER matches what libhdf5 would produce. */
  def lookup3(data: Array[Byte]): Int = {
    def rot(x: Int, k: Int): Int = (x << k) | (x >>> (32 - k))
    var a = 0xdeadbeef + data.length
    var b = a
    var c = a
    var i = 0
    var len = data.length
    def word(off: Int, n: Int): Int = {
      var v = 0
      var j = 0
      while (j < n && off + j < data.length) { v |= (data(off + j) & 0xff) << (8 * j); j += 1 }
      v
    }
    while (len > 12) {
      a += word(i, 4); b += word(i + 4, 4); c += word(i + 8, 4)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      i += 12; len -= 12
    }
    if (len > 0) {
      a += word(i, math.min(4, len))
      if (len > 4) b += word(i + 4, math.min(4, len - 4))
      if (len > 8) c += word(i + 8, len - 8)
      c ^= b; c -= rot(b, 14)
      a ^= c; a -= rot(c, 11)
      b ^= a; b -= rot(a, 25)
      c ^= b; c -= rot(b, 16)
      a ^= c; a -= rot(c, 4)
      b ^= a; b -= rot(a, 14)
      c ^= b; c -= rot(b, 24)
    }
    c
  }

  /** Write the libver='latest' DENSE-group layout: root group links live
    * in a fractal heap (one root direct block) indexed by a v2 B-tree
    * (single leaf, records sorted by lookup3 name hash) — the storage
    * libhdf5 switches to when a group exceeds its max-compact link
    * threshold (8 by default). Contiguous datasets, zero checksums. */
  def writeH5V2Dense(path: String, datasets: Seq[(String, H5Data)],
      indirectRoot: Boolean = false, btreeDepth: Int = 0,
      denseRootAttrs: Seq[(String, H5Data)] = Nil): Unit = {
    val bo = java.nio.ByteOrder.LITTLE_ENDIAN
    val Undef = -1L
    val sorted = datasets.sortBy(_._1)
    // dense ATTRIBUTE storage (Attribute Info message): v1 attr message
    // bodies in their own fractal heap, indexed by a type-8 v2 B-tree
    val attrObjs = denseRootAttrs.sortBy(_._1).map { case (n, d) => (n, attrMsg(n, d)) }

    def dsOhdrSize(d: H5Data): Int = {
      val rank = h5dims(d).size
      10 + (4 + 4 + 8 * rank) + (4 + dtypeBody(d).length) + (4 + 18) + 4
    }
    def linkBody(name: String, a: Long): Array[Byte] = {
      val nb = name.getBytes(StandardCharsets.UTF_8)
      val b = java.nio.ByteBuffer.allocate(3 + nb.length + 8).order(bo)
      b.put(1.toByte).put(0.toByte).put(nb.length.toByte).put(nb).putLong(a)
      b.array()
    }

    var cursor = 48L
    val dsAddrs = sorted.map { case (n, d) =>
      val a = cursor; cursor += dsOhdrSize(d); (n, a)
    }.toMap
    val rootAddr = cursor
    // OHDR prefix + link-info (+ attr-info) message(s) + checksum
    cursor += 10 + (4 + 18) + (if (attrObjs.nonEmpty) 4 + 18 else 0) + 4
    val fheapAddr = cursor
    cursor += 146
    // heap geometry: 32-bit heap offsets, managed objects ≤ 4096 B,
    // max direct block 64 KiB → heap ID = 1 + 4 + 2 = 7 bytes
    val links = sorted.map { case (n, _) => linkBody(n, dsAddrs(n)) }
    val dblockHdrSize = 4 + 1 + 8 + 4
    val tableWidth = 4

    // pack links into one or more direct blocks. indirectRoot forces the
    // grown-heap shape: 512-byte blocks under a root indirect block
    // (rows 0 and 1 share the starting size, so every block covers a
    // 512-wide window of heap space); otherwise one root direct block.
    val blockSize =
      if (indirectRoot) 512L
      else math.max(512L,
        java.lang.Long.highestOneBit(dblockHdrSize + links.map(_.length).sum - 1) * 2)
    // (blockIdx, offsetInBlock) per link, sequential fill
    val placements = {
      var blk = 0
      var pos = dblockHdrSize
      links.map { lb =>
        if (pos + lb.length > blockSize) { blk += 1; pos = dblockHdrSize }
        val p = (blk, pos); pos += lb.length; p
      }
    }
    val nBlocks = placements.last._1 + 1
    require(indirectRoot || nBlocks == 1, "root direct block overflow")
    val rootRows = (nBlocks + tableWidth - 1) / tableWidth
    val heapOffsets = placements.map { case (b, p) => b * blockSize + p }

    val fhibAddr = cursor
    val fhibSize = if (indirectRoot) 4 + 1 + 8 + 4 + rootRows * tableWidth * 8 + 4 else 0
    cursor += fhibSize
    val dblockAddrs = (0 until nBlocks).map { i => val a = cursor; cursor += blockSize; a }

    // B-tree records (hash, heapOffset, objLen), ascending unsigned hash;
    // btreeDepth 1 splits them into ≤40-record leaves under one BTIN root
    // with separator records between adjacent leaves
    val recsSorted = sorted.zip(heapOffsets).zip(links).map { case (((n, _), off), lb) =>
      (lookup3(n.getBytes(StandardCharsets.UTF_8)), off, lb.length)
    }.sortBy { case (h, _, _) => h.toLong & 0xFFFFFFFFL }
    val (sepRecs, leafRecsList) =
      if (btreeDepth == 0) (Seq.empty[(Int, Long, Int)], Seq(recsSorted))
      else {
        val leaves = Seq.newBuilder[Seq[(Int, Long, Int)]]
        val seps = Seq.newBuilder[(Int, Long, Int)]
        var rest = recsSorted
        while (rest.nonEmpty) {
          leaves += rest.take(40); rest = rest.drop(40)
          if (rest.nonEmpty) { seps += rest.head; rest = rest.tail }
        }
        (seps.result(), leaves.result())
      }
    val bthdAddr = cursor
    cursor += 38
    val btinAddr = cursor
    if (btreeDepth == 1)
      cursor += 6 + sepRecs.size * 11 + leafRecsList.size * (8 + 1) + 4
    val btlfAddrs = leafRecsList.map { lr =>
      val a = cursor; cursor += 6 + lr.size * 11 + 4; a
    }
    // attribute heap (single direct block) + type-8 B-tree (single leaf)
    val aDblockHdr = 4 + 1 + 8 + 4
    val aBlockSize = math.max(512L, java.lang.Long.highestOneBit(
      math.max(1, aDblockHdr + attrObjs.map(_._2.length).sum - 1)) * 2)
    val aFheapAddr = cursor
    if (attrObjs.nonEmpty) cursor += 146
    val aDblockAddr = cursor
    if (attrObjs.nonEmpty) cursor += aBlockSize
    val aBthdAddr = cursor
    if (attrObjs.nonEmpty) cursor += 38
    val aBtlfAddr = cursor
    if (attrObjs.nonEmpty) cursor += 6 + attrObjs.size * 17 + 4
    cursor = pad8(cursor.toInt)
    val dataAddrs = sorted.map { case (n, d) =>
      val a = cursor; cursor += pad8(h5dataBytes(d).length); (n, a)
    }.toMap
    val eof = cursor

    val buf = java.nio.ByteBuffer.allocate(eof.toInt).order(bo)
    buf.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    buf.put(3.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    buf.putLong(0L).putLong(Undef).putLong(eof).putLong(rootAddr).putInt(0)

    sorted.foreach { case (n, d) =>
      assert(buf.position() == dsAddrs(n))
      val rank = h5dims(d).size
      val dtb = dtypeBody(d)
      val msgs = (4 + 4 + 8 * rank) + (4 + dtb.length) + (4 + 18)
      buf.put("OHDR".getBytes).put(2.toByte).put(0x02.toByte).putInt(msgs)
      buf.put(0x01.toByte).putShort((4 + 8 * rank).toShort).put(0.toByte)
      buf.put(2.toByte).put(rank.toByte).put(0.toByte)
        .put((if (rank == 0) 0 else 1).toByte)
      h5dims(d).foreach(x => buf.putLong(x.toLong))
      buf.put(0x03.toByte).putShort(dtb.length.toShort).put(0.toByte)
      buf.put(dtb)
      buf.put(0x08.toByte).putShort(18).put(0.toByte)
      buf.put(3.toByte).put(1.toByte)
        .putLong(dataAddrs(n)).putLong(h5dataBytes(d).length.toLong)
      buf.putInt(0)
    }

    // root group OHDR: link info (+ attr info) — fractal heaps + name
    // indexes, no compact link/attribute messages
    assert(buf.position() == rootAddr)
    buf.put("OHDR".getBytes).put(2.toByte).put(0x02.toByte)
      .putInt(4 + 18 + (if (attrObjs.nonEmpty) 4 + 18 else 0))
    buf.put(0x02.toByte).putShort(18).put(0.toByte)
    buf.put(0.toByte).put(0.toByte).putLong(fheapAddr).putLong(bthdAddr)
    if (attrObjs.nonEmpty) {
      buf.put(0x15.toByte).putShort(18).put(0.toByte)
      buf.put(0.toByte).put(0.toByte).putLong(aFheapAddr).putLong(aBthdAddr)
    }
    buf.putInt(0)

    // fractal heap header
    val managed = nBlocks * blockSize
    assert(buf.position() == fheapAddr)
    buf.put("FRHP".getBytes).put(0.toByte)
    buf.putShort(7).putShort(0).put(0.toByte)
    buf.putInt(4096)                                   // max managed object size
    buf.putLong(0L).putLong(Undef)                     // huge: next id, B-tree
    buf.putLong(0L).putLong(Undef)                     // free space, fs manager
    buf.putLong(managed).putLong(managed)              // managed, allocated
    buf.putLong(managed)                               // direct block iterator
    buf.putLong(sorted.size.toLong)                    // managed object count
    buf.putLong(0L).putLong(0L).putLong(0L).putLong(0L) // huge/tiny size+count
    buf.putShort(tableWidth.toShort)
    buf.putLong(blockSize).putLong(65536L)             // start/max direct size
    buf.putShort(32)                                   // max heap size (bits)
    if (indirectRoot) buf.putShort(rootRows.toShort).putLong(fhibAddr).putShort(rootRows.toShort)
    else buf.putShort(0).putLong(dblockAddrs.head).putShort(0)
    buf.putInt(0)

    if (indirectRoot) {
      assert(buf.position() == fhibAddr)
      buf.put("FHIB".getBytes).put(0.toByte).putLong(fheapAddr).putInt(0)
      (0 until rootRows * tableWidth).foreach { i =>
        buf.putLong(if (i < nBlocks) dblockAddrs(i) else Undef)
      }
      buf.putInt(0)
    }

    // direct blocks: header + link messages back-to-back; heap offsets
    // address the linear heap space including block headers
    dblockAddrs.zipWithIndex.foreach { case (a, bi) =>
      assert(buf.position() == a)
      buf.put("FHDB".getBytes).put(0.toByte).putLong(fheapAddr)
        .putInt((bi * blockSize).toInt)
      links.zip(placements).foreach { case (lb, (blk, pos)) =>
        if (blk == bi) { buf.position((a + pos).toInt); buf.put(lb) }
      }
      buf.position((a + blockSize).toInt)
    }

    // v2 B-tree: header, optional BTIN root (records then child
    // pointers), leaves of (hash, heap ID) records — ascending
    // unsigned-hash order throughout
    def putRec(r: (Int, Long, Int)): Unit = {
      buf.putInt(r._1)
      buf.put(0.toByte).putInt(r._2.toInt).putShort(r._3.toShort)
    }
    assert(buf.position() == bthdAddr)
    buf.put("BTHD".getBytes).put(0.toByte).put(5.toByte)
    buf.putInt(512).putShort(11).putShort(btreeDepth.toShort)
    buf.put(100.toByte).put(40.toByte)
    buf.putLong(if (btreeDepth == 1) btinAddr else btlfAddrs.head)
    buf.putShort((if (btreeDepth == 1) sepRecs.size else recsSorted.size).toShort)
    buf.putLong(recsSorted.size.toLong)
    buf.putInt(0)
    assert(buf.position() == bthdAddr + 38)
    if (btreeDepth == 1) {
      buf.put("BTIN".getBytes).put(0.toByte).put(5.toByte)
      sepRecs.foreach(putRec)
      leafRecsList.zip(btlfAddrs).foreach { case (lr, a) =>
        buf.putLong(a).put(lr.size.toByte)
      }
      buf.putInt(0)
    }
    leafRecsList.zip(btlfAddrs).foreach { case (lr, a) =>
      assert(buf.position() == a)
      buf.put("BTLF".getBytes).put(0.toByte).put(5.toByte)
      lr.foreach(putRec)
      buf.putInt(0)
    }

    if (attrObjs.nonEmpty) {
      // attribute fractal heap: header + one direct block
      assert(buf.position() == aFheapAddr)
      buf.put("FRHP".getBytes).put(0.toByte)
      buf.putShort(7).putShort(0).put(0.toByte)
      buf.putInt(4096)
      buf.putLong(0L).putLong(Undef)
      buf.putLong(0L).putLong(Undef)
      buf.putLong(aBlockSize).putLong(aBlockSize).putLong(aBlockSize)
      buf.putLong(attrObjs.size.toLong)
      buf.putLong(0L).putLong(0L).putLong(0L).putLong(0L)
      buf.putShort(4)
      buf.putLong(aBlockSize).putLong(65536L)
      buf.putShort(32)
      buf.putShort(0).putLong(aDblockAddr).putShort(0)
      buf.putInt(0)
      assert(buf.position() == aDblockAddr)
      buf.put("FHDB".getBytes).put(0.toByte).putLong(aFheapAddr).putInt(0)
      val aOffsets = attrObjs.map { case (_, body) =>
        val off = buf.position() - aDblockAddr
        buf.put(body)
        off
      }
      buf.position((aDblockAddr + aBlockSize).toInt)
      // type-8 B-tree: heap ID(8 = 7-byte ID + pad) + flags(1) +
      // creation order(4) + name hash(4), ascending unsigned hash
      assert(buf.position() == aBthdAddr)
      buf.put("BTHD".getBytes).put(0.toByte).put(8.toByte)
      buf.putInt(512).putShort(17).putShort(0)
      buf.put(100.toByte).put(40.toByte)
      buf.putLong(aBtlfAddr).putShort(attrObjs.size.toShort)
      buf.putLong(attrObjs.size.toLong)
      buf.putInt(0)
      assert(buf.position() == aBtlfAddr)
      buf.put("BTLF".getBytes).put(0.toByte).put(8.toByte)
      attrObjs.zip(aOffsets).zipWithIndex.map { case (((n, body), off), i) =>
        (lookup3(n.getBytes(StandardCharsets.UTF_8)), off, body.length, i)
      }.sortBy { case (h, _, _, _) => h.toLong & 0xFFFFFFFFL }
        .foreach { case (h, off, len, order) =>
          buf.put(0.toByte).putInt(off.toInt).putShort(len.toShort).put(0.toByte)
          buf.put(0.toByte).putInt(order).putInt(h)
        }
      buf.putInt(0)
    }

    sorted.foreach { case (n, d) =>
      buf.position(dataAddrs(n).toInt)
      buf.put(h5dataBytes(d))
    }
    buf.position(eof.toInt)
    Files.write(Paths.get(path), buf.array())
  }

  /** The SLC stack's s_i/s_q only, stored in (2 × width)-row deflated
    * chunks: every chunk holds two azimuth rows, so row pruning shows in
    * the chunk reads. */
  def writeChunkedH5Stack(dir: String): String = {
    Files.createDirectories(Paths.get(dir))
    slcProducts.zipWithIndex.foreach { case (p, idx) =>
      val re = Array.tabulate(p.az * p.rg)(i => pixelValue(idx, i / p.rg, i % p.rg).toFloat)
      writeH5(s"$dir/${p.name}", Seq(
        "s_i" -> H5F32(Seq(p.az, p.rg), re, chunks = Some((2, p.rg)), deflate = true),
        "s_q" -> H5F32(Seq(p.az, p.rg), re.map(-_), chunks = Some((2, p.rg)), deflate = true)))
    }
    dir
  }

  /** Every raster in `dir` decoded by the codecs from its local bytes,
    * without Spark: per pixel `Seq(path, azimuth, range, values…)`, in
    * the `graft-tiff` / `graft-slc` column order. */
  def codecRows(dir: String): Seq[Seq[Any]] =
    new java.io.File(dir).listFiles().toSeq.filter(_.isFile).sortBy(_.getName).flatMap { file =>
      val path = file.getAbsolutePath
      val bytes = Files.readAllBytes(file.toPath)
      if (file.getName.endsWith(".h5")) {
        val f = graft.io.Hdf5.fromBytes(bytes)
        val entries = f.rootEntries.toMap
        val si = f.dataset("s_i", entries("s_i"))
        val re = f.readDoubles(si)
        val im = f.readDoubles(f.dataset("s_q", entries("s_q")))
        val rg = si.dims(1).toInt
        re.indices.map(i => Seq[Any](path, i / rg, i % rg, re(i), im(i)))
      } else {
        graft.io.Tiff.decode(bytes, graft.io.Tiff.fromBytes(bytes))
          .map { case (a, r, v) => Seq[Any](path, a, r, v) }.toSeq
      }
    }

  /** Write a directory of 3 real binary SLC HDF5 files (s_i/s_q float32
    * + metadata datasets, no sidecars). */
  def writeH5Stack(dir: String): String = {
    Files.createDirectories(Paths.get(dir))
    slcProducts.zipWithIndex.foreach { case (p, idx) =>
      val n = p.az * p.rg
      val re = Array.tabulate(n)(i => pixelValue(idx, i / p.rg, i % p.rg).toFloat)
      val im = re.map(v => -v)
      writeH5(s"$dir/${p.name}", Seq(
        "s_i" -> H5F32(Seq(p.az, p.rg), re),
        "s_q" -> H5F32(Seq(p.az, p.rg), im),
        "product_file" -> H5Str(p.name),
        "acquisition_end_utc" -> H5Str(p.acquisitionEndUtc),
        "orbit_direction" -> H5Str(p.orbitDirection),
        "look_side" -> H5Str("RIGHT"),
        "satellite_look_angle" -> H5Str(p.satelliteLookAngle),
        "incidence_center" -> H5F64(Seq.empty, Array(p.incidenceCenter)),
        "number_of_azimuth_samples" -> H5I32(Seq.empty, Array(p.az)),
        "number_of_range_samples" -> H5I32(Seq.empty, Array(p.rg)),
        "coord_first_near" -> H5F64(Seq(4), Array(0, 0, 47.0, 21.0)),
        "coord_first_far" -> H5F64(Seq(4), Array(0, 0, 47.0, 21.1)),
        "coord_last_near" -> H5F64(Seq(4), Array(0, 0, 47.1, 21.0)),
        "coord_last_far" -> H5F64(Seq(4), Array(0, 0, 47.1, 21.1)),
        "mean_orbit_altitude" -> H5F64(Seq.empty, Array(570000.0)),
        "state_vector_time_utc" -> H5Str("2021-04-27T21:51:27.093640"),
      ))
    }
    dir
  }

  // ----------------------------------------------------------------- PNG

  /** Write a grayscale PNG mask via ImageIO; value = (idx + azimuth + range) % 3
    * (the reference masks are tiny class-id grids, raster_labels.py:83-98). */
  def maskValue(idx: Int, az: Int, rg: Int): Int = (idx + az + rg) % 3

  def writePngMask(path: String, idx: Int, az: Int, rg: Int): Unit = {
    val img = new java.awt.image.BufferedImage(rg, az, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    for { a <- 0 until az; r <- 0 until rg } raster.setSample(r, a, 0, maskValue(idx, a, r))
    javax.imageio.ImageIO.write(img, "png", new java.io.File(path))
  }
}
