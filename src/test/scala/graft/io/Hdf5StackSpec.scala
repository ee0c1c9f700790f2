package graft.io

import graft.{Fixtures, SparkFunSuite}
import graft.core.{Cube, CubeConfig}
import graft.meta.{MetadataCrawler, SlcTags}
import org.apache.spark.sql.functions._

/** Real-binary SLC ingestion (S4/S6): e2e goldens over actual HDF5 files
  * (tests/slc_datacube_test.py ported), plus a validation pass of the
  * [[Hdf5]] reader against the reference's own h5py-written fixtures
  * (vlen strings, multi-SNOD B-tree, RPC subgroup) when present. */
class Hdf5StackSpec extends SparkFunSuite {

  lazy val h5Dir: String = Fixtures.writeH5Stack(tmpDir("h5stack"))

  test("Hdf5 codec roundtrip on own fixtures") {
    val path = s"$h5Dir/${Fixtures.slcProducts.head.name}"
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = Hdf5.fromBytes(bytes)
    val entries = f.rootEntries.toMap

    val si = f.dataset("s_i", entries("s_i"))
    assert(si.dims == Seq(20L, 20L))
    assert(si.dtype == Hdf5.FloatPoint(4, littleEndian = true))
    val re = f.readDoubles(si)
    assert(re(0) == 0.0 && re(21) == Fixtures.pixelValue(0, 1, 1))

    assert(f.readString(f.dataset("product_file", entries("product_file"))) ==
      Fixtures.slcProducts.head.name)
    assert(f.readDoubles(f.dataset("incidence_center", entries("incidence_center")))(0) == 30.5)
    assert(f.readDoubles(f.dataset("coord_last_far", entries("coord_last_far"))).toSeq ==
      Seq(0.0, 0.0, 47.1, 21.1))
  }

  test("Hdf5 reader parses the libver='latest' layout family (v3 superblock, OHDR, link messages)") {
    val p = Fixtures.slcProducts.head
    val n = p.az * p.rg
    val re = Array.tabulate(n)(i => Fixtures.pixelValue(0, i / p.rg, i % p.rg).toFloat)
    val dir = tmpDir("h5v2")
    val path = s"$dir/latest.h5"
    Fixtures.writeH5V2(path,
      Seq(
        "s_i" -> Fixtures.H5F32(Seq(p.az, p.rg), re),
        "product_file" -> Fixtures.H5Str(p.name),
        "incidence_center" -> Fixtures.H5F64(Seq.empty, Array(30.5)),
        "number_of_azimuth_samples" -> Fixtures.H5I32(Seq.empty, Array(p.az)),
        "coord_last_far" -> Fixtures.H5F64(Seq(4), Array(0, 0, 47.1, 21.1))),
      subgroups = Seq("RPC" -> Seq(
        "LINE_NUM_COEFF" -> Fixtures.H5F64(Seq(20), Array.tabulate(20)(_ + 0.25)),
        "LAT_OFF" -> Fixtures.H5F64(Seq.empty, Array(4.25)))))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = Hdf5.fromBytes(bytes)
    val entries = f.rootEntries.toMap
    assert(entries.keySet == Set("s_i", "product_file", "incidence_center",
      "number_of_azimuth_samples", "coord_last_far", "RPC"))

    val si = f.dataset("s_i", entries("s_i"))
    assert(si.dims == Seq(p.az.toLong, p.rg.toLong))
    assert(si.dtype == Hdf5.FloatPoint(4, littleEndian = true))
    val vals = f.readDoubles(si)
    assert(vals(0) == 0.0 && vals(p.rg + 1) == Fixtures.pixelValue(0, 1, 1))

    assert(f.readString(f.dataset("product_file", entries("product_file"))) == p.name)
    assert(f.readDoubles(f.dataset("incidence_center", entries("incidence_center")))(0) == 30.5)
    assert(f.readDoubles(f.dataset("number_of_azimuth_samples",
      entries("number_of_azimuth_samples")))(0) == p.az.toDouble)

    // subgroup via v2 link messages
    assert(f.isGroup(entries("RPC")) && !f.isGroup(entries("s_i")))
    val rpc = f.subgroupEntries("RPC").get.toMap
    assert(rpc.keySet == Set("LINE_NUM_COEFF", "LAT_OFF"))
    assert(f.readDoubles(f.dataset("LINE_NUM_COEFF", rpc("LINE_NUM_COEFF"))).toSeq ==
      (0 until 20).map(_ + 0.25))
    assert(f.readDoubles(f.dataset("LAT_OFF", rpc("LAT_OFF")))(0) == 4.25)
  }

  test("Hdf5 reader parses dense link storage (fractal heap + v2 B-tree name index)") {
    // 40 links — far past libhdf5's max-compact threshold (8), and
    // enough that the B-tree leaf's hash-ordered records differ wildly
    // from name order
    val dir = tmpDir("h5dense")
    val path = s"$dir/dense.h5"
    val dsets: Seq[(String, Fixtures.H5Data)] =
      (0 until 38).map(i => f"v$i%02d" -> (Fixtures.H5F64(Seq.empty, Array(i * 1.5)): Fixtures.H5Data)) ++
        Seq(
          "name_str" -> Fixtures.H5Str("dense-group"),
          "arr" -> Fixtures.H5F64(Seq(5), Array.tabulate(5)(_ + 0.125)))
    Fixtures.writeH5V2Dense(path, dsets)
    val f = Hdf5.fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val entries = f.rootEntries
    assert(entries.map(_._1) == dsets.map(_._1).sorted,
      "dense links must resolve completely and sort by name")
    val byName = entries.toMap
    (0 until 38).foreach { i =>
      assert(f.readDoubles(f.dataset(f"v$i%02d", byName(f"v$i%02d")))(0) == i * 1.5)
    }
    assert(f.readString(f.dataset("name_str", byName("name_str"))) == "dense-group")
    assert(f.readDoubles(f.dataset("arr", byName("arr"))).toSeq ==
      (0 until 5).map(_ + 0.125))
  }

  test("Hdf5 dense links: grown heap (FHIB root indirect) + depth-1 B-tree (BTIN) resolve") {
    // enough links to span several 512-byte direct blocks under FHIB and
    // to need three B-tree leaves under an internal root node
    val dir = tmpDir("h5denseind")
    val path = s"$dir/dense_indirect.h5"
    val dsets: Seq[(String, Fixtures.H5Data)] =
      (0 until 120).map(i =>
        f"var$i%03d" -> (Fixtures.H5F64(Seq.empty, Array(i * 0.25)): Fixtures.H5Data))
    Fixtures.writeH5V2Dense(path, dsets, indirectRoot = true, btreeDepth = 1)
    val f = Hdf5.fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val byName = f.rootEntries.toMap
    assert(byName.size == 120)
    (0 until 120).foreach { i =>
      assert(f.readDoubles(f.dataset(f"var$i%03d", byName(f"var$i%03d")))(0) == i * 0.25)
    }
  }

  test("Hdf5 dense ATTRIBUTE storage (Attribute Info + type-8 B-tree) resolves") {
    // 12 attrs — past libhdf5's max-compact attribute threshold (8); the
    // shape a netCDF variable with rich per-layer metadata produces
    val dir = tmpDir("h5denseattr")
    val path = s"$dir/dense_attrs.h5"
    val attrs: Seq[(String, Fixtures.H5Data)] =
      (0 until 10).map(i => f"meta$i%02d" -> (Fixtures.H5Str(s"value-$i"): Fixtures.H5Data)) ++
        Seq(
          "scale" -> Fixtures.H5F64(Seq.empty, Array(2.5)),
          "counts" -> Fixtures.H5F64(Seq(3), Array(1.0, 2.0, 3.0)))
    Fixtures.writeH5V2Dense(path,
      Seq("x" -> Fixtures.H5F64(Seq.empty, Array(1.0))),
      denseRootAttrs = attrs)
    val f = Hdf5.fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val got = f.rootAttributes.toMap
    assert(got.keySet == attrs.map(_._1).toSet)
    (0 until 10).foreach { i =>
      assert(got(f"meta$i%02d") == Hdf5.AttrStr(Seq(s"value-$i")))
    }
    assert(got("scale") == Hdf5.AttrNum(Seq(2.5)))
    assert(got("counts") == Hdf5.AttrNum(Seq(1.0, 2.0, 3.0)))
  }

  test("SLC HDF5 stack e2e: dims, order 1,0,2, complex pixel-exact, header dtype (S4)") {
    val cube = Cube.fromDirectory(spark, h5Dir, CubeConfig())
    assert(cube.dimensions == Map("Band" -> 3L, "Azimuth" -> 20L, "Range" -> 20L))
    assert(cube.dataVariables == Seq("real", "imag"))
    assert(cube.allProducts.map(_.split("_fake_").last) == Seq("1.h5", "0.h5", "2.h5"))
    assert(cube.attrs("product_type") == "SLC")
    assert(cube.attrs("dtype") == "float32")

    Fixtures.slcProducts.zipWithIndex.foreach { case (p, idx) =>
      val rows = cube.productValues(p.name).orderBy("azimuth", "range")
        .select(col("real").cast("double"), col("imag").cast("double"))
        .collect()
      val ok = rows.zipWithIndex.forall { case (r, i) =>
        val expected = Fixtures.pixelValue(idx, i / 20, i % 20)
        // float32 storage: compare at float precision
        r.getDouble(0) == expected.toFloat.toDouble && r.getDouble(1) == (-expected).toFloat.toDouble
      }
      assert(rows.length == 400 && ok, s"band $idx mismatch")
    }
  }

  test("SLC metadata crawl from HDF5 datasets (S6)") {
    val crawled = MetadataCrawler.crawlDirectory(spark, h5Dir)
    val row = crawled.filter(col("product_file") === Fixtures.slcProducts.head.name)
      .select("incidence_center", "look_side", "orbit_direction", "extent",
        "number_of_azimuth_samples", "acquisition_date", "metadata")
      .collect().head
    assert(row.getDouble(0) == 30.5)
    assert(row.getString(1) == "RIGHT")
    assert(row.getString(2) == "ASCENDING")
    assert(row.getString(3) == "POLYGON((21.0 47.1, 21.1 47.1, 21.1 47.0, 21.0 47.0, 21.0 47.1))")
    assert(row.getInt(4) == 20)
    assert(row.getString(5) == "20210428")
    val md = row.getMap[String, String](6)
    assert(md("satellite_look_angle") == "30")
    assert(md("mean_orbit_altitude") == "570000.0")
    assert(md("RPC") == "None") // no RPC subgroup in own fixtures
  }

  test("chunked + deflate HDF5 datasets decode pixel-exact (large-SLC layout)") {
    val dir = tmpDir("h5chunked")
    val p = Fixtures.slcProducts.head
    val n = p.az * p.rg
    val re = Array.tabulate(n)(i => Fixtures.pixelValue(0, i / p.rg, i % p.rg).toFloat)
    // 7×6 chunks over a 20×20 grid: edge chunks overhang and must clip
    val path = s"$dir/${p.name}"
    Fixtures.writeH5(path, Seq(
      "s_i" -> Fixtures.H5F32(Seq(p.az, p.rg), re, chunks = Some((7, 6))),
      "s_q" -> Fixtures.H5F32(Seq(p.az, p.rg), re.map(-_), chunks = Some((7, 6)), deflate = true),
      "product_file" -> Fixtures.H5Str(p.name),
      "acquisition_end_utc" -> Fixtures.H5Str(p.acquisitionEndUtc),
    ))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = Hdf5.fromBytes(bytes)
    val entries = f.rootEntries.toMap

    val si = f.dataset("s_i", entries("s_i"))
    assert(si.layout.isInstanceOf[Hdf5.Chunked])
    assert(f.readDoubles(si).toSeq == re.map(_.toDouble).toSeq)

    val sq = f.dataset("s_q", entries("s_q"))
    assert(sq.layout.asInstanceOf[Hdf5.Chunked].filters.map(_.id) == Seq(1))
    assert(f.readDoubles(sq).toSeq == re.map(v => -v.toDouble).toSeq)

    // and through the full cube build
    val cube = Cube.fromDirectory(spark, dir, CubeConfig())
    val v = cube.pixels.filter(col("azimuth") === 13 && col("range") === 17)
      .select(col("real").cast("double"), col("imag").cast("double")).collect().head
    assert(v.getDouble(0) == Fixtures.pixelValue(0, 13, 17))
    assert(v.getDouble(1) == -Fixtures.pixelValue(0, 13, 17))
  }

  test("shuffle + fletcher32 filter pipelines decode pixel-exact (h5py defaults)") {
    // h5py `shuffle=True, fletcher32=True, compression='gzip'` is the
    // most common real-world SLC pipeline (slc_datacube.py:118-162
    // delegates to h5py, which accepts all of them); write order is
    // shuffle → deflate → fletcher32, the reader reverses it
    val dir = tmpDir("h5filters")
    val p = Fixtures.slcProducts.head
    val n = p.az * p.rg
    val re = Array.tabulate(n)(i => Fixtures.pixelValue(0, i / p.rg, i % p.rg).toFloat)
    val path = s"$dir/${p.name}"
    Fixtures.writeH5(path, Seq(
      // every pipeline subset, all on 7×6 chunks with clipping edges
      "all3" -> Fixtures.H5F32(Seq(p.az, p.rg), re, chunks = Some((7, 6)),
        deflate = true, shuffle = true, fletcher32 = true),
      "shuf_gz" -> Fixtures.H5F32(Seq(p.az, p.rg), re.map(_ + 1f), chunks = Some((7, 6)),
        deflate = true, shuffle = true),
      "fletch_only" -> Fixtures.H5F32(Seq(p.az, p.rg), re.map(_ + 2f), chunks = Some((7, 6)),
        fletcher32 = true),
      "shuf_only" -> Fixtures.H5F32(Seq(p.az, p.rg), re.map(_ + 3f), chunks = Some((7, 6)),
        shuffle = true),
      "gz_fletch" -> Fixtures.H5F32(Seq(p.az, p.rg), re.map(_ + 4f), chunks = Some((7, 6)),
        deflate = true, fletcher32 = true),
    ))
    val f = Hdf5.fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    val entries = f.rootEntries.toMap
    val all3 = f.dataset("all3", entries("all3"))
    assert(all3.layout.asInstanceOf[Hdf5.Chunked].filters.map(_.id) == Seq(2, 1, 3),
      "pipeline must parse in write order: shuffle, deflate, fletcher32")
    assert(all3.layout.asInstanceOf[Hdf5.Chunked].filters.head.clientValues == Seq(4),
      "shuffle carries the element size as its client value")
    for ((name, off) <- Seq("all3" -> 0f, "shuf_gz" -> 1f, "fletch_only" -> 2f,
        "shuf_only" -> 3f, "gz_fletch" -> 4f)) {
      val ds = f.dataset(name, entries(name))
      assert(f.readDoubles(ds).toSeq == re.map(v => (v + off).toDouble).toSeq,
        s"$name roundtrip")
      // the row-bounded path defilters too
      val rows = f.readDoublesRows(ds, 8, 9)
      assert(rows.toSeq == (8 * p.rg until 10 * p.rg).map(i => (re(i) + off).toDouble),
        s"$name row-bounded read")
    }
    // corruption is LOUD: flip one data byte inside the stored chunk
    // and the fletcher32 verify must throw, never return wrong pixels.
    // Single-dataset single-chunk file: the data block is the file's
    // last pad8(64+4) bytes, so a flip 10 bytes from EOF is inside it.
    val cPath = s"$dir/corrupt.h5"
    Fixtures.writeH5(cPath, Seq(
      "d" -> Fixtures.H5F32(Seq(4, 4), Array.tabulate(16)(_.toFloat),
        chunks = Some((4, 4)), fletcher32 = true)))
    val cBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cPath))
    val okF = Hdf5.fromBytes(cBytes)
    assert(okF.readDoubles(okF.dataset("d", okF.rootEntries.toMap.apply("d"))).toSeq ==
      (0 until 16).map(_.toDouble))
    val mut = cBytes.clone()
    mut(mut.length - 10) = (mut(mut.length - 10) ^ 0x5a).toByte
    val badF = Hdf5.fromBytes(mut)
    val e = intercept[IllegalArgumentException] {
      badF.readDoubles(badF.dataset("d", badF.rootEntries.toMap.apply("d")))
    }
    assert(e.getMessage.contains("fletcher32"), e.getMessage)
  }

  test("unsupported filter ids and corrupt scale-offset headers fail LOUD") {
    val dir = tmpDir("h5loud")
    // szip (id 4) is a PERMANENT loud-fail stance (README "Permanent
    // loud-fail stances"): its Rice coder was patent-encumbered, HDF5/
    // h5py ship it as an optional possibly-absent plugin (h5py raises
    // when the codec is missing), and SAR SLC archives write gzip/
    // shuffle pipelines — the reader must refuse it by NAME with the
    // stance in the message, never decode garbage. Patch the
    // fletcher32-only pipeline's filter id (3 → 4) inside the v1 filter
    // message: header 01 01 00*6 followed by the 8-byte description.
    val sPath = s"$dir/szip.h5"
    Fixtures.writeH5(sPath, Seq(
      "d" -> Fixtures.H5F32(Seq(4, 4), Array.tabulate(16)(_.toFloat),
        chunks = Some((4, 4)), fletcher32 = true)))
    val sBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(sPath))
    val pat = Array[Byte](1, 1, 0, 0, 0, 0, 0, 0, 3, 0)
    val at = sBytes.indices.indexWhere(i =>
      i + pat.length <= sBytes.length && pat.indices.forall(k => sBytes(i + k) == pat(k)))
    assert(at > 0, "filter pipeline message not found")
    sBytes(at + 8) = 4
    val szF = Hdf5.fromBytes(sBytes)
    val e1 = intercept[IllegalArgumentException] {
      szF.readDoubles(szF.dataset("d", szF.rootEntries.toMap.apply("d")))
    }
    assert(e1.getMessage.contains("unsupported HDF5 filter id 4") &&
      e1.getMessage.contains("szip") &&
      e1.getMessage.contains("permanently") && // the documented stance
      e1.getMessage.contains("scaleoffset"), e1.getMessage)

    // scale-offset minbits beyond the element width: corrupt header →
    // loud error, not an over-wide unpack. Values 1..16 (no fill) give
    // minbits 5, packed 10 bytes → the single chunk is the file's last
    // pad8(21+10)=32 bytes and its minbits byte leads it.
    val cPath = s"$dir/sohdr.h5"
    Fixtures.writeH5(cPath, Seq(
      "s" -> Fixtures.H5I32C(Seq(4, 4), Array.tabulate(16)(_ + 1), chunks = (4, 4),
        soMinbits = Some(0))))
    val cBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cPath))
    val okF = Hdf5.fromBytes(cBytes)
    assert(okF.readDoubles(okF.dataset("s", okF.rootEntries.toMap.apply("s"))).toSeq ==
      (1 to 16).map(_.toDouble))
    val mut = cBytes.clone()
    mut(mut.length - 32) = 0xff.toByte
    val badF = Hdf5.fromBytes(mut)
    val e2 = intercept[IllegalArgumentException] {
      badF.readDoubles(badF.dataset("s", badF.rootEntries.toMap.apply("s")))
    }
    assert(e2.getMessage.contains("scaleoffset minbits 255"), e2.getMessage)
  }

  test("SLC shape mismatch is a hard error (slc_datacube.py:136-142)") {
    val dir = tmpDir("h5badshape")
    Fixtures.slcProducts.zipWithIndex.foreach { case (p, idx) =>
      val shrunk = if (idx == 2) p.copy(az = 10, rg = 10) else p
      val n = shrunk.az * shrunk.rg
      val re = Array.tabulate(n)(i => Fixtures.pixelValue(idx, i / shrunk.rg, i % shrunk.rg).toFloat)
      Fixtures.writeH5(s"$dir/${shrunk.name}", Seq(
        "s_i" -> Fixtures.H5F32(Seq(shrunk.az, shrunk.rg), re),
        "s_q" -> Fixtures.H5F32(Seq(shrunk.az, shrunk.rg), re.map(-_)),
        "product_file" -> Fixtures.H5Str(shrunk.name),
        "acquisition_end_utc" -> Fixtures.H5Str(shrunk.acquisitionEndUtc),
        "number_of_azimuth_samples" -> Fixtures.H5I32(Seq.empty, Array(shrunk.az)),
        "number_of_range_samples" -> Fixtures.H5I32(Seq.empty, Array(shrunk.rg)),
      ))
    }
    intercept[IllegalStateException] {
      Cube.fromDirectory(spark, dir, CubeConfig())
    }
  }

  // --- validation against the reference's own h5py-written fixtures ---
  private val refH5 =
    "/root/reference/tests/resources/slc_stack/ICEYE_SLC_54549_20210427T215124_hollow_20x20pixels_fake_0.h5"

  test("Hdf5 reader parses real h5py output (vlen strings, multi-SNOD, RPC group)") {
    assume(new java.io.File(refH5).isFile, "reference fixtures not available")
    val f = Hdf5.fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refH5)))
    val entries = f.rootEntries.toMap
    assert(entries.size > 50) // 80+ metadata datasets over many SNOD leaves
    val si = f.dataset("s_i", entries("s_i"))
    assert(si.dims == Seq(20L, 20L) && si.dtype == Hdf5.FloatPoint(4, littleEndian = true))
    val vals = f.readDoubles(si)
    assert(vals.length == 400 && vals.forall(v => v >= 0.0 && v <= 1.0))
    // vlen string via the global heap
    val acq = f.readString(f.dataset("acquisition_end_utc", entries("acquisition_end_utc")))
    assert(acq == "2021-04-28T21:51:30.025535")
    // RPC subgroup
    val rpc = f.subgroupEntries("RPC").get.toMap
    assert(rpc.contains("LINE_NUM_COEFF") && rpc.contains("LAT_OFF"))
    assert(f.readDoubles(f.dataset("LINE_NUM_COEFF", rpc("LINE_NUM_COEFF"))).length == 20)
  }

  test("SLC crawl row from a real h5py fixture") {
    assume(new java.io.File(refH5).isFile, "reference fixtures not available")
    val row = SlcTags.rasterRawRow(
      Hdf5.fromBytes(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refH5))), refH5)
    assert(row.getString(7) == "2021-04-28T21:51:30.025535") // acquisition_end_utc
    assert(row.getInt(8) == 20 && row.getInt(9) == 20)
    val extras = row.getMap[String, String](14)
    assert(extras.contains("RPC_LINE_NUM_COEFF"))
    assert(extras("satellite_look_angle").nonEmpty)
  }
}
