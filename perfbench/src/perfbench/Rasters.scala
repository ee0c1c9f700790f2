package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Seeded SAR raster stacks in the layouts graft decodes: GRD GeoTIFFs
  * (little-endian strips, GDAL_METADATA tag 42112 + RPC tag 50844; half
  * uncompressed, half deflate with horizontal predictor) and SLC HDF5
  * files (superblock v0, contiguous `s_i`/`s_q` float32 planes plus
  * metadata datasets).
  *
  * Besides the files, a [[Stack]] carries the answer the cube build must
  * give: the cube configuration, the layer count, the survivors and each
  * band's pixel sums. The expected values replay the planner's rules
  * (date and angle window, same-day pruning, overlap with the earliest
  * raster, resampling anchored at the first surviving date) on the
  * generator's own product list. Every acquisition date sits on the
  * resample grid: off-grid dates would silently leave no layers.
  */
object Rasters {

  final case class Product(
      name: String, date: LocalDate, time: String, incidence: Double,
      orbit: String, coordBase: Double, az: Int, rg: Int, base: Int, deflate: Boolean)

  /** One band of the expected cube; `product` is None for a gap band. */
  final case class Band(product: Option[Product], sums: Seq[Double])

  final case class Stack(
      dir: String, products: Seq[Product], configJson: String, bands: Seq[Band],
      az: Int, rg: Int, inputBytes: Long) {
    def survivors: Seq[Product] = bands.flatMap(_.product)
    def survivorPixels: Long = survivors.map(p => p.az.toLong * p.rg).sum
  }

  private val Ymd = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** ~`n` GRD products every 6 days; 2 dates before and 2 after the
    * window, 4 incidence angles outside it. */
  def grdStack(dir: String, seed: Long, n: Int, side: Int): Stack = {
    val rnd = new scala.util.Random(seed)
    val start = LocalDate.of(2021, 1, 4).plusDays(6L * rnd.nextInt(50))
    val outAngle = rnd.shuffle((2 until n - 2).toList).take(4).toSet
    val products = (0 until n).map { i =>
      val date = start.plusDays(6L * i)
      val inc = if (outAngle(i)) 45.0 + rnd.nextInt(40) / 10.0 else 22.0 + rnd.nextInt(160) / 10.0
      Product(s"ICEYE_GRD_${seed % 100000}_${date.format(Ymd)}T101500_s${seed}_$i.tif",
        date, f"10${rnd.nextInt(60)}%02d00.${rnd.nextInt(1000000)}%06d", inc,
        if (rnd.nextBoolean()) "ASCENDING" else "DESCENDING", 47.0, side, side,
        rnd.nextInt(20000), deflate = i % 2 == 1)
    }
    val first = start.plusDays(12)
    val last = start.plusDays(6L * (n - 3))
    val config = s"""{"start_date": "${first.format(Ymd)}", "end_date": "${last.format(Ymd)}",
      | "min_incidence_angle": 20.0, "max_incidence_angle": 40.0}""".stripMargin
    write(dir, products, slc = false)
    val kept = products.filter(p => !p.date.isBefore(first) && !p.date.isAfter(last) &&
        p.incidence >= 20.0 && p.incidence <= 40.0)
      .sortBy(p => (p.date.toEpochDay, p.name))
    Stack(dir, products, config, kept.map(p => Band(Some(p), sums(p, slc = false))),
      side, side, dirBytes(dir))
  }

  /** `days` daily SLC products; ~5 % of days carry a second, earlier
    * same-day product and ~5 % lie far from the first raster. The window
    * keeps `windowDays` days at 1-day resolution. */
  def slcArchive(dir: String, seed: Long, days: Int, windowDays: Int, side: Int): Stack = {
    val rnd = new scala.util.Random(seed)
    val start = LocalDate.of(2019, 1, 1).plusDays(rnd.nextInt(365))
    val lead = (days - windowDays) / 2
    val first = start.plusDays(lead.toLong)
    val last = first.plusDays(windowDays - 1L)
    // the window's first day is the overlap primary: keep it plain
    def plain(d: Int) = d == lead
    val far = (0 until days).filter(d => !plain(d) && rnd.nextDouble() < 0.05).toSet
    val dup = (0 until days).filter(d => !plain(d) && !far(d) && rnd.nextDouble() < 0.05).toSet
    def product(d: Int, k: Int, time: String) = {
      val date = start.plusDays(d.toLong)
      Product(s"ICEYE_SLC_${seed % 100000}_${date.format(Ymd)}T${time.take(6)}_s${seed}_${d}_$k.h5",
        date, time, 25.0 + rnd.nextInt(100) / 10.0, "ASCENDING",
        if (far(d)) 60.0 else 47.0, side, side, rnd.nextInt(2000), deflate = false)
    }
    val products = (0 until days).flatMap { d =>
      val main = product(d, 0, f"12${rnd.nextInt(60)}%02d00.000000")
      if (dup(d)) Seq(main, product(d, 1, f"08${rnd.nextInt(60)}%02d00.000000")) else Seq(main)
    }
    val config = s"""{"start_date": "${first.format(Ymd)}", "end_date": "${last.format(Ymd)}",
      | "temporal_resolution": 1, "temporal_overlap": false, "space_overlap": true}""".stripMargin
    write(dir, products, slc = true)
    // same-day pruning keeps the latest time; the far rasters drop out
    val byDate = products.groupBy(_.date).map { case (d, ps) => d -> ps.maxBy(_.time) }
    val bands = (0 until windowDays).map { i =>
      byDate.get(first.plusDays(i.toLong)).filter(_.coordBase == 47.0) match {
        case Some(p) => Band(Some(p), sums(p, slc = true))
        case None    => Band(None, Seq(0.0, 0.0))
      }
    }
    Stack(dir, products, config, bands, side, side, dirBytes(dir))
  }

  private def dirBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).map(_.length).sum

  // ------------------------------------------------------------ pixels

  /** uint16 intensity: smooth ramp plus 4 bits of hash noise. */
  def grdValue(p: Product, a: Int, r: Int): Int =
    (p.base + 7 * a + 3 * r + (((a * 73856093) ^ (r * 19349663)) >>> 7 & 15)) & 0xffff

  /** Integer-valued float32 pairs, so band sums are exact in double. */
  def slcValue(p: Product, a: Int, r: Int): (Float, Float) =
    (((p.base + a * 31 + r * 17) % 4001 - 2000).toFloat, ((p.base * 3 + a * r) % 3001 - 1500).toFloat)

  private def sums(p: Product, slc: Boolean): Seq[Double] =
    if (slc) {
      var re = 0.0; var im = 0.0
      for (a <- 0 until p.az; r <- 0 until p.rg) { val (x, y) = slcValue(p, a, r); re += x; im += y }
      Seq(re, im)
    } else {
      var s = 0L
      for (a <- 0 until p.az; r <- 0 until p.rg) s += grdValue(p, a, r)
      Seq(s.toDouble)
    }

  private def write(dir: String, products: Seq[Product], slc: Boolean): Unit = {
    Files.createDirectories(Paths.get(dir))
    products.foreach(p => if (slc) writeH5(s"$dir/${p.name}", p) else writeTiff(s"$dir/${p.name}", p))
  }

  private def acquisitionEnd(p: Product): String =
    s"${p.date}T${p.time.take(2)}:${p.time.slice(2, 4)}:${p.time.slice(4, 6)}${p.time.drop(6)}"

  // -------------------------------------------------------------- TIFF

  private def npVect(xs: Double*): String = xs.mkString("[ ", "  ", " ]")

  private def gdalXml(p: Product): String = Seq(
    "ACQUISITION_END_UTC" -> acquisitionEnd(p),
    "ACQUISITION_MODE" -> "stripmap",
    "COORD_FIRST_NEAR" -> npVect(0, 0, p.coordBase, 21.0),
    "COORD_FIRST_FAR" -> npVect(0, 0, p.coordBase, 21.1),
    "COORD_LAST_NEAR" -> npVect(0, 0, p.coordBase + 0.1, 21.0),
    "COORD_LAST_FAR" -> npVect(0, 0, p.coordBase + 0.1, 21.1),
    "INCIDENCE_CENTER" -> p.incidence.toString,
    "LOOK_SIDE" -> "RIGHT",
    "NUMBER_OF_AZIMUTH_SAMPLES" -> p.az.toString,
    "NUMBER_OF_RANGE_SAMPLES" -> p.rg.toString,
    "ORBIT_DIRECTION" -> p.orbit,
    "PRODUCT_FILE" -> p.name,
    "SATELLITE_LOOK_ANGLE" -> p.incidence.round.toString,
  ).map { case (k, v) => s"""  <Item name="$k">$v</Item>""" }
    .mkString("<GDALMetadata>\n", "\n", "\n</GDALMetadata>")

  private final case class Tag(id: Int, typ: Int, count: Int, data: Array[Byte])

  private def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** Strip TIFF, 4 rows per strip; deflate products also difference
    * each row (predictor 2). */
  def writeTiff(path: String, p: Product): Unit = {
    val rowsPerStrip = 4
    val nStrips = (p.az + rowsPerStrip - 1) / rowsPerStrip
    val strips = (0 until nStrips).map { s =>
      val a0 = s * rowsPerStrip
      val rows = math.min(rowsPerStrip, p.az - a0)
      val b = le(rows * p.rg * 2)
      for (a <- a0 until a0 + rows) {
        var prev = 0
        for (r <- 0 until p.rg) {
          val v = grdValue(p, a, r)
          b.putShort((if (p.deflate) v - prev else v).toShort)
          prev = v
        }
      }
      if (p.deflate) deflate(b.array()) else b.array()
    }
    val xml = (gdalXml(p) + "\u0000").getBytes(StandardCharsets.UTF_8)
    def short(id: Int, v: Int) = Tag(id, 3, 1, le(2).putShort(v.toShort).array())
    def longs(id: Int, vs: Seq[Long]) = { val b = le(4 * vs.size); vs.foreach(v => b.putInt(v.toInt)); Tag(id, 4, vs.size, b.array()) }
    val rpc = { val b = le(8 * 92); (0 until 92).foreach(k => b.putDouble(k + 0.25)); Tag(50844, 12, 92, b.array()) }
    val lens = strips.map(_.length.toLong)
    def tags(offsets: Seq[Long]) = Seq(
      short(256, p.rg), short(257, p.az), short(258, 16), short(259, if (p.deflate) 8 else 1),
      short(262, 1), longs(273, offsets), short(277, 1), short(278, rowsPerStrip),
      longs(279, lens), short(317, if (p.deflate) 2 else 1), short(339, 1),
      Tag(42112, 2, xml.length, xml), rpc)
    val ifdSize = 2 + tags(lens).size * 12 + 4
    val outOfLine = tags(lens).filter(_.data.length > 4).map(_.data.length.toLong).sum
    val stripsStart = 8 + ifdSize + outOfLine
    val offsets = lens.scanLeft(stripsStart)(_ + _).dropRight(1)
    val buf = le((stripsStart + lens.sum).toInt)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8).putShort(tags(offsets).size.toShort)
    var dataOff = 8L + ifdSize
    tags(offsets).foreach { t =>
      buf.putShort(t.id.toShort).putShort(t.typ.toShort).putInt(t.count)
      if (t.data.length > 4) { buf.putInt(dataOff.toInt); dataOff += t.data.length }
      else buf.put(java.util.Arrays.copyOf(t.data, 4))
    }
    buf.putInt(0)
    tags(offsets).filter(_.data.length > 4).foreach(t => buf.put(t.data))
    strips.foreach(s => buf.put(s))
    Files.write(Paths.get(path), buf.array())
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new Array[Byte](raw.length * 2 + 64)
    val n = d.deflate(out)
    d.end()
    java.util.Arrays.copyOf(out, n)
  }

  // -------------------------------------------------------------- HDF5

  private sealed trait H5
  private final case class F32(dims: Seq[Int], v: Array[Float]) extends H5
  private final case class F64(dims: Seq[Int], v: Array[Double]) extends H5
  private final case class I32(v: Int) extends H5
  private final case class Str(v: String) extends H5

  private def pad8(n: Int): Int = (n + 7) / 8 * 8

  private def dims(d: H5): Seq[Int] = d match {
    case F32(dm, _) => dm
    case F64(dm, _) => dm
    case _          => Seq.empty
  }

  private def dtypeBody(d: H5): Array[Byte] = {
    val b = le(24)
    d match {
      case _: F32 =>
        b.put(0x11.toByte).put(0x20.toByte).put(0x0f.toByte).put(0.toByte).putInt(4)
        b.putShort(0).putShort(32).put(0.toByte).put(23.toByte).put(8.toByte)
          .put(0.toByte).put(23.toByte).put(0.toByte).putShort(0).putInt(127)
      case _: F64 =>
        b.put(0x11.toByte).put(0x20.toByte).put(0x3f.toByte).put(0.toByte).putInt(8)
        b.putShort(0).putShort(64).put(0.toByte).put(52.toByte).put(11.toByte)
          .put(0.toByte).put(52.toByte).put(0.toByte).putShort(0).putInt(1023)
      case _: I32 =>
        b.put(0x10.toByte).put(0x08.toByte).put(0.toByte).put(0.toByte).putInt(4)
        b.putShort(0).putShort(32)
      case Str(v) =>
        b.put(0x13.toByte).put(0.toByte).put(0.toByte).put(0.toByte).putInt(v.length + 1)
    }
    java.util.Arrays.copyOf(b.array(), pad8(b.position()))
  }

  private def dataBytes(d: H5): Array[Byte] = d match {
    case F32(_, vs) => val b = le(vs.length * 4); vs.foreach(b.putFloat); b.array()
    case F64(_, vs) => val b = le(vs.length * 8); vs.foreach(b.putDouble); b.array()
    case I32(v)     => le(4).putInt(v).array()
    case Str(v)     => (v + "\u0000").getBytes(StandardCharsets.UTF_8)
  }

  /** Superblock v0 file: one root symbol table, contiguous datasets. */
  def writeH5(path: String, p: Product): Unit = {
    val re = new Array[Float](p.az * p.rg)
    val im = new Array[Float](p.az * p.rg)
    for (a <- 0 until p.az; r <- 0 until p.rg) {
      val (x, y) = slcValue(p, a, r); re(a * p.rg + r) = x; im(a * p.rg + r) = y
    }
    val datasets: Seq[(String, H5)] = Seq(
      "s_i" -> F32(Seq(p.az, p.rg), re),
      "s_q" -> F32(Seq(p.az, p.rg), im),
      "product_file" -> Str(p.name),
      "acquisition_end_utc" -> Str(acquisitionEnd(p)),
      "orbit_direction" -> Str(p.orbit),
      "look_side" -> Str("RIGHT"),
      "satellite_look_angle" -> Str(p.incidence.round.toString),
      "incidence_center" -> F64(Seq.empty, Array(p.incidence)),
      "number_of_azimuth_samples" -> I32(p.az),
      "number_of_range_samples" -> I32(p.rg),
      "coord_first_near" -> F64(Seq(4), Array(0, 0, p.coordBase, 21.0)),
      "coord_first_far" -> F64(Seq(4), Array(0, 0, p.coordBase, 21.1)),
      "coord_last_near" -> F64(Seq(4), Array(0, 0, p.coordBase + 0.1, 21.0)),
      "coord_last_far" -> F64(Seq(4), Array(0, 0, p.coordBase + 0.1, 21.1)),
      "mean_orbit_altitude" -> F64(Seq.empty, Array(570000.0)),
    ).sortBy(_._1)
    val undef = -1L

    val nameOffsets = datasets.map(_._1).scanLeft(8L)((o, n) => o + pad8(n.length + 1))
    val heapDataSize = nameOffsets.last
    def ohdrSize(d: H5) = 16 + (16 + dims(d).size * 8) + (8 + dtypeBody(d).length) + (8 + 24)
    val heapHdrAddr = 96L + 40
    val heapDataAddr = heapHdrAddr + 32
    val treeAddr = heapDataAddr + heapDataSize
    val snodAddr = treeAddr + 48
    val ohdrAddrs = datasets.map(e => ohdrSize(e._2).toLong).scanLeft(snodAddr + 8 + datasets.size * 40)(_ + _)
    val dataAddrs = datasets.map(e => pad8(dataBytes(e._2).length).toLong)
      .scanLeft((ohdrAddrs.last + 7) / 8 * 8)(_ + _)
    val eof = dataAddrs.last

    val buf = le(eof.toInt)
    buf.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    buf.put(Array[Byte](0, 0, 0, 0, 0, 8, 8, 0))
    buf.putShort(32).putShort(16).putInt(0)
    buf.putLong(0L).putLong(undef).putLong(eof).putLong(undef)
    buf.putLong(0L).putLong(96L)
    buf.putInt(0).putInt(0).putLong(0L).putLong(0L)
    // root object header: the symbol-table message
    buf.put(1.toByte).put(0.toByte).putShort(1).putInt(1).putInt(24).putInt(0)
    buf.putShort(0x11).putShort(16).putInt(0).putLong(treeAddr).putLong(heapHdrAddr)
    // local heap with the dataset names
    buf.put("HEAP".getBytes).put(Array[Byte](0, 0, 0, 0))
    buf.putLong(heapDataSize).putLong(undef).putLong(heapDataAddr)
    buf.putLong(0L)
    datasets.foreach { case (n, _) =>
      buf.put(java.util.Arrays.copyOf(n.getBytes(StandardCharsets.UTF_8), pad8(n.length + 1)))
    }
    // group B-tree: one leaf pointing at the one symbol node
    buf.put("TREE".getBytes).put(0.toByte).put(0.toByte).putShort(1)
    buf.putLong(undef).putLong(undef)
    buf.putLong(0L).putLong(snodAddr).putLong(nameOffsets(datasets.size - 1))
    buf.put("SNOD".getBytes).putShort(1).putShort(datasets.size.toShort)
    datasets.indices.foreach { i =>
      buf.putLong(nameOffsets(i)).putLong(ohdrAddrs(i))
      buf.putInt(0).putInt(0).putLong(0L).putLong(0L)
    }
    datasets.zipWithIndex.foreach { case ((_, d), i) =>
      val dspace = 8 + dims(d).size * 8
      val dtb = dtypeBody(d)
      buf.put(1.toByte).put(0.toByte).putShort(3).putInt(1)
        .putInt((8 + dspace) + (8 + dtb.length) + (8 + 24)).putInt(0)
      buf.putShort(0x01).putShort(dspace.toShort).putInt(0)
      buf.put(1.toByte).put(dims(d).size.toByte).put(Array.fill[Byte](6)(0))
      dims(d).foreach(x => buf.putLong(x.toLong))
      buf.putShort(0x03).putShort(dtb.length.toShort).putInt(0).put(dtb)
      buf.putShort(0x08).putShort(24).putInt(0)
      buf.put(3.toByte).put(1.toByte).putLong(dataAddrs(i)).putLong(dataBytes(d).length.toLong)
      buf.put(Array.fill[Byte](6)(0))
    }
    datasets.zipWithIndex.foreach { case ((_, d), i) =>
      buf.position(dataAddrs(i).toInt)
      buf.put(dataBytes(d))
    }
    Files.write(Paths.get(path), buf.array())
  }
}
