package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import graft.core.Cube
import org.apache.spark.sql.functions._

/** netCDF4 cube EXPORT — the write side of the reference's persistence
  * format (`datacube.py:203-212` `to_netcdf`), so a cube produced here is
  * readable by the reference (xarray/netCDF4) and by [[Netcdf.readCube]].
  *
  * Emits the minimal netCDF4/HDF5 layout family the read side (and
  * xarray) understands: v0 superblock, one symbol-table root group,
  * contiguous datasets — `Band`/`Azimuth`/`Range` dimension-scale
  * coordinates (CLASS attr; Band CF-encoded as
  * "microseconds since 1970-01-01" int64, lossless for timestamps),
  * one float64 rank-3 dataset per data variable (missing pixels → NaN,
  * the reference's fill, `datacube_variables.py:26`), dict-of-lists
  * string-array attrs per variable carrying the layer metadata
  * (`sar_datacube.py:159-188` shape, "None"-padded), and cube attrs on
  * the root group.
  *
  * Scale posture: a single `.nc` file is inherently one writer — same as
  * the reference's xarray path. The pixel fetch is BAND-STREAMED (one
  * plane collected and written at a time), so driver memory is bounded
  * by one band plane, not the cube. For distributed storage use the
  * parquet [[CubeStore]]; this is the interop export.
  */
object NetcdfWriter {

  private val Epoch = "microseconds since 1970-01-01"

  // --- tiny HDF5 building blocks (v0 superblock / v1 headers), sized
  // --- first then streamed through one RandomAccessFile ---
  private def pad8(n: Int): Int = (n + 7) / 8 * 8

  private sealed trait Val
  private final case class I64s(vs: Array[Long]) extends Val
  private final case class F64s(vs: Array[Long], dims: Seq[Int]) extends Val // raw bits
  private final case class Strs(vs: Seq[String]) extends Val
  private final case class Str1(v: String) extends Val

  private def dtypeBody(v: Val): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    v match {
      case I64s(_) =>
        b.put((0x10 | 0).toByte).put(0x08.toByte).put(0.toByte).put(0.toByte).putInt(8)
        b.putShort(0).putShort(64)
      case F64s(_, _) =>
        b.put((0x10 | 1).toByte).put(0x20.toByte).put(0x3f.toByte).put(0.toByte).putInt(8)
        b.putShort(0).putShort(64).put(0.toByte).put(52.toByte).put(11.toByte)
          .put(0.toByte).put(52.toByte).put(0.toByte).putShort(0).putInt(1023)
      case Strs(vs) =>
        val sz = vs.map(_.getBytes(UTF_8).length).max + 1
        b.put((0x10 | 3).toByte).put(0.toByte).put(0.toByte).put(0.toByte).putInt(sz)
      case Str1(s) =>
        b.put((0x10 | 3).toByte).put(0.toByte).put(0.toByte).put(0.toByte).putInt(s.getBytes(UTF_8).length + 1)
    }
    java.util.Arrays.copyOf(b.array(), pad8(b.position()))
  }

  private def dimsOf(v: Val): Seq[Int] = v match {
    case I64s(vs)    => Seq(vs.length)
    case F64s(_, dm) => dm
    case Strs(vs)    => Seq(vs.length)
    case Str1(_)     => Seq.empty
  }

  private def dataBytes(v: Val): Array[Byte] = {
    val bo = java.nio.ByteOrder.LITTLE_ENDIAN
    v match {
      case I64s(vs) =>
        val b = java.nio.ByteBuffer.allocate(vs.length * 8).order(bo); vs.foreach(b.putLong); b.array()
      case F64s(vs, _) =>
        val b = java.nio.ByteBuffer.allocate(vs.length * 8).order(bo); vs.foreach(b.putLong); b.array()
      case Strs(vs) =>
        val sz = vs.map(_.getBytes(UTF_8).length).max + 1
        vs.flatMap(s => java.util.Arrays.copyOf(s.getBytes(UTF_8), sz).toSeq).toArray
      case Str1(s) =>
        val raw = s.getBytes(UTF_8)
        java.util.Arrays.copyOf(raw, raw.length + 1)
    }
  }

  private def attrMsg(name: String, v: Val): Array[Byte] = {
    val bo = java.nio.ByteOrder.LITTLE_ENDIAN
    val nameBytes = java.util.Arrays.copyOf(name.getBytes(UTF_8), name.getBytes(UTF_8).length + 1)
    val dtb = dtypeBody(v)
    val rank = dimsOf(v).size
    val dsb = {
      val b = java.nio.ByteBuffer.allocate(8 + 8 * rank).order(bo)
      b.put(1.toByte).put(rank.toByte).put(0.toByte)
      b.position(8)
      dimsOf(v).foreach(x => b.putLong(x.toLong))
      b.array()
    }
    val data = dataBytes(v)
    val b = java.nio.ByteBuffer.allocate(pad8(
      8 + pad8(nameBytes.length) + pad8(dtb.length) + pad8(dsb.length) + data.length)).order(bo)
    b.put(1.toByte).put(0.toByte)
      .putShort(nameBytes.length.toShort).putShort(dtb.length.toShort).putShort(dsb.length.toShort)
    b.position(8)
    b.put(java.util.Arrays.copyOf(nameBytes, pad8(nameBytes.length)))
    b.put(java.util.Arrays.copyOf(dtb, pad8(dtb.length)))
    b.put(java.util.Arrays.copyOf(dsb, pad8(dsb.length)))
    b.put(data)
    // the v1 header-message size field is u16 — a silent short-cast wrap
    // would corrupt the file (e.g. a dict-of-lists attr over ~300 bands
    // of long WKT strings); fail loudly instead
    require(b.array().length <= 0xFFFF,
      s"netCDF attribute '$name' message is ${b.array().length} B — exceeds the " +
        "64 KiB HDF5 v1 message limit; shorten per-layer metadata values")
    b.array()
  }

  /** One dataset's header description: value shape + attrs; for data
    * variables the payload is streamed separately (dataLen tells the
    * layout how much space to reserve). */
  private final case class Ds(name: String, headerVal: Val,
      attrs: Seq[(String, Val)], dataLen: Long, streamed: Boolean)

  private def pad8L(n: Long): Long = (n + 7) / 8 * 8

  def write(cube: Cube, path: String): Unit = {
    // --- layer metadata (layer-cardinality: driver-safe, like the ref) ---
    val layerRows = cube.layerRows
    val nBands = layerRows.length
    require(nBands > 0, "cannot export an empty cube to netCDF")
    val dims = cube.dimensions
    val az = dims("Azimuth").toInt
    val rg = dims("Range").toInt

    // single-file export streams every band plane THROUGH THE DRIVER
    // (inherent to the one-writer .nc format — same as the reference's
    // xarray path). Guard the total volume explicitly so a cube that
    // belongs in the distributed parquet store fails loudly up front
    // instead of grinding band-by-band through one process for hours.
    val exportBytes = nBands.toLong * az * rg * 8 * cube.dataVariables.length
    val maxGb = cube.pixels.sparkSession.conf
      .get("spark.graft.netcdf.maxExportGb", "8").toDouble
    require(exportBytes <= maxGb * (1L << 30),
      f"netCDF export is ${exportBytes / 1073741824.0}%.1f GiB " +
        f"($nBands bands x $az x $rg x ${cube.dataVariables.length} vars); " +
        f"the single-file .nc format is one driver-streamed writer — above " +
        f"$maxGb%.0f GiB use the distributed parquet CubeStore (or raise " +
        "spark.graft.netcdf.maxExportGb if a long single-writer export is intended)")

    // a null band_time cannot be expressed on a CF time axis — writing a
    // fabricated epoch would silently invent an acquisition date on
    // read-back (the parquet store preserves the null; use it instead)
    val badBands = layerRows.filter(r => r.isNullAt(r.fieldIndex("band_time")))
      .map(r => r.getAs[Any]("product_file"))
    require(badBands.isEmpty,
      s"cannot export to netCDF: null band_time on layers ${badBands.mkString(", ")}")
    val bandMicros: Array[Long] = layerRows.map { r =>
      val ts = r.getTimestamp(r.fieldIndex("band_time"))
      ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L
    }.toArray

    // dict-of-lists attrs: core supported variables + open metadata keys,
    // one "None"-padded string per band (concat_metadata shape)
    val core = graft.meta.MetadataCrawler.SupportedVariables
    val openKeys = layerRows.flatMap { r =>
      r.getAs[Map[String, String]]("metadata") match {
        case null => Nil
        case m    => m.keys
      }
    }.distinct.sorted
    def layerStr(r: org.apache.spark.sql.Row, k: String): String =
      if (core.contains(k)) {
        val i = r.fieldIndex(k)
        if (r.isNullAt(i)) Cube.NoneValue else String.valueOf(r.get(i))
      } else Option(r.getAs[Map[String, String]]("metadata"))
        .flatMap(_.get(k)).getOrElse(Cube.NoneValue)
    val varAttrs: Seq[(String, Val)] =
      (core ++ openKeys).map(k => k -> Strs(layerRows.map(r => layerStr(r, k)).toSeq))

    // --- datasets ---
    val dataVars = cube.dataVariables
    val planeBytes = az.toLong * rg * 8
    val dss: Seq[Ds] =
      Seq(
        Ds("Band", I64s(bandMicros),
          Seq("CLASS" -> Str1("DIMENSION_SCALE"), "units" -> Str1(Epoch),
            "calendar" -> Str1("proleptic_gregorian")),
          nBands * 8L, streamed = false),
        Ds("Azimuth", I64s(Array.tabulate(az)(_.toLong)),
          Seq("CLASS" -> Str1("DIMENSION_SCALE")), az * 8L, streamed = false),
        Ds("Range", I64s(Array.tabulate(rg)(_.toLong)),
          Seq("CLASS" -> Str1("DIMENSION_SCALE")), rg * 8L, streamed = false)) ++
        dataVars.map { v =>
          Ds(v.capitalize, F64s(Array.empty, Seq(nBands, az, rg)),
            varAttrs, nBands * planeBytes, streamed = true)
        }
    val sorted = dss.sortBy(_.name)
    val rootAttrs: Seq[(String, Val)] = cube.attrs.toSeq.sorted.map { case (k, v) => k -> Str1(v) }

    // --- layout (mirrors the v0 shape Netcdf.readCube parses) ---
    val bo = java.nio.ByteOrder.LITTLE_ENDIAN
    val Undef = -1L
    val nameOffsets = scala.collection.mutable.LinkedHashMap[String, Long]()
    var heapPos = 8L
    sorted.foreach { d => nameOffsets(d.name) = heapPos; heapPos += pad8(d.name.length + 1) }
    val heapDataSize = heapPos

    def attrMsgsOf(d: Ds): Seq[Array[Byte]] = d.attrs.map { case (n, v) => attrMsg(n, v) }
    def ohdrSize(d: Ds): Int = {
      val dspace = 8 + 8 + dimsOf(d.headerVal).size * 8
      val dtype = 8 + dtypeBody(d.headerVal).length
      val layout = 8 + 24
      16 + dspace + dtype + layout + attrMsgsOf(d).map(8 + _.length).sum
    }
    val rootAttrMsgs = rootAttrs.map { case (n, v) => attrMsg(n, v) }
    val rootOhdrAddr = 96L
    val heapHdrAddr = rootOhdrAddr + 40 + rootAttrMsgs.map(8 + _.length).sum
    val heapDataAddr = heapHdrAddr + 32
    val treeAddr = heapDataAddr + heapDataSize
    val snodAddr = treeAddr + 48
    val snodSize = 8 + sorted.size * 40
    var cursor = snodAddr + snodSize
    val ohdrAddrs = sorted.map { d => val a = cursor; cursor += ohdrSize(d); (d.name, a) }.toMap
    cursor = pad8L(cursor)
    val dataAddrs = sorted.map { d =>
      val a = cursor; cursor += pad8L(d.dataLen); (d.name, a)
    }.toMap
    val eof = cursor

    // --- header block in memory ---
    val head = java.nio.ByteBuffer.allocate((dataAddrs.values.min).toInt).order(bo)
    head.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    head.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    head.put(0.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    head.putShort(32).putShort(16).putInt(0)
    head.putLong(0L).putLong(Undef).putLong(eof).putLong(Undef)
    head.putLong(0L).putLong(rootOhdrAddr)
    head.putInt(0).putInt(0).putLong(0L).putLong(0L)
    // root ohdr: symbol table + root attrs
    assert(head.position() == rootOhdrAddr)
    val rootMsgsSize = 24 + rootAttrMsgs.map(8 + _.length).sum
    head.put(1.toByte).put(0.toByte).putShort((1 + rootAttrMsgs.size).toShort)
      .putInt(1).putInt(rootMsgsSize).putInt(0)
    head.putShort(0x11).putShort(16).putInt(0).putLong(treeAddr).putLong(heapHdrAddr)
    rootAttrMsgs.foreach { m => head.putShort(0x0c).putShort(m.length.toShort).putInt(0); head.put(m) }
    // local heap
    assert(head.position() == heapHdrAddr)
    head.put("HEAP".getBytes).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    head.putLong(heapDataSize).putLong(Undef).putLong(heapDataAddr)
    head.putLong(0L)
    sorted.foreach { d =>
      head.put(java.util.Arrays.copyOf(d.name.getBytes(UTF_8), pad8(d.name.length + 1)))
    }
    // group B-tree + SNOD
    assert(head.position() == treeAddr)
    head.put("TREE".getBytes).put(0.toByte).put(0.toByte).putShort(1)
    head.putLong(Undef).putLong(Undef)
    head.putLong(0L).putLong(snodAddr).putLong(nameOffsets(sorted.last.name))
    assert(head.position() == snodAddr)
    head.put("SNOD".getBytes).putShort(1).putShort(sorted.size.toShort)
    sorted.foreach { d =>
      head.putLong(nameOffsets(d.name)).putLong(ohdrAddrs(d.name))
      head.putInt(0).putInt(0).putLong(0L).putLong(0L)
    }
    // dataset object headers
    sorted.foreach { d =>
      assert(head.position() == ohdrAddrs(d.name),
        s"${d.name}: at ${head.position()} expected ${ohdrAddrs(d.name)}")
      val rank = dimsOf(d.headerVal).size
      val dspaceBody = 8 + rank * 8
      val dtb = dtypeBody(d.headerVal)
      val ams = attrMsgsOf(d)
      val nMsgs = 3 + ams.size
      val msgsSize = (8 + dspaceBody) + (8 + dtb.length) + (8 + 24) + ams.map(8 + _.length).sum
      head.put(1.toByte).put(0.toByte).putShort(nMsgs.toShort).putInt(1).putInt(msgsSize).putInt(0)
      head.putShort(0x01).putShort(dspaceBody.toShort).putInt(0)
      head.put(1.toByte).put(rank.toByte).put(0.toByte)
      head.put(Array.fill[Byte](5)(0))
      dimsOf(d.headerVal).foreach(x => head.putLong(x.toLong))
      head.putShort(0x03).putShort(dtb.length.toShort).putInt(0)
      head.put(dtb)
      head.putShort(0x08).putShort(24).putInt(0)
      head.put(3.toByte).put(1.toByte)
      head.putLong(dataAddrs(d.name)).putLong(d.dataLen)
      head.put(Array.fill[Byte](24 - 18)(0))
      ams.foreach { m =>
        head.putShort(0x0c).putShort(m.length.toShort).putInt(0)
        head.put(m)
      }
    }

    // --- stream to disk: header, inline data, then band-planes ---
    val raf = new java.io.RandomAccessFile(path, "rw")
    try {
      raf.setLength(eof)
      raf.seek(0)
      raf.write(head.array(), 0, head.position())
      sorted.filterNot(_.streamed).foreach { d =>
        raf.seek(dataAddrs(d.name))
        raf.write(dataBytes(d.headerVal))
      }
      // data variables: one band plane at a time (bounded driver memory).
      // pixels are persisted for the loop — nBands × nVars filtered
      // collects over unpersisted lineage would re-run the full upstream
      // decode per plane
      val px = cube.pixels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      dataVars.foreach { v =>
        val base = dataAddrs(v.capitalize)
        (0 until nBands).foreach { b =>
          val plane = Array.fill(az * rg)(java.lang.Double.doubleToLongBits(Double.NaN))
          px.filter(col("band_index") === b)
            .select(col("azimuth"), col("range"), col(v).cast("double"))
            .collect().foreach { r =>
              if (!r.isNullAt(2)) {
                plane(r.getInt(0) * rg + r.getInt(1)) =
                  java.lang.Double.doubleToLongBits(r.getDouble(2))
              }
            }
          val buf = java.nio.ByteBuffer.allocate(az * rg * 8).order(bo)
          plane.foreach(buf.putLong)
          raf.seek(base + b * planeBytes)
          raf.write(buf.array())
        }
      }
    } finally {
      raf.close()
      cube.pixels.unpersist()
    }
  }
}
