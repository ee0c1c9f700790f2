package graft.io

import graft.{Fixtures, SparkFunSuite}
import graft.core.{Cube, CubeConfig}
import graft.meta.MetadataCrawler
import org.apache.spark.sql.functions._

/** Real-binary GRD ingestion (S3/S5/M10): the same e2e goldens as the
  * parquet-fixture suite (tests/grd_datacube_test.py:46-142) but over
  * actual uncompressed strip TIFFs with GDAL metadata + RPC tags — no
  * sidecar files, everything decoded from the container. */
class TiffStackSpec extends SparkFunSuite {

  lazy val tifDir: String = Fixtures.writeTiffStack(tmpDir("tifstack"))

  test("Tiff codec roundtrip: header, strips, GDAL XML, RPC") {
    val p = Fixtures.grdProducts.head
    val path = s"${tmpDir("tifone")}/${p.name}"
    Fixtures.writeTiff(path, p, idx = 0)

    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val info = Tiff.fromBytes(bytes)
    assert(info.width == 10 && info.height == 10)
    assert(info.dtype == "uint16")
    assert(info.stripOffsets.length == 3) // rowsPerStrip=4 over 10 rows

    val px = Tiff.decode(bytes, Tiff.fromBytes(bytes)).toSeq
    assert(px.size == 100)
    assert(px.forall { case (az, rg, v) => v == Fixtures.pixelValue(0, az, rg) })

    val tags = Tiff.gdalItems(info.gdalXml.get).toMap
    assert(tags("ACQUISITION_END_UTC") == p.acquisitionEndUtc)
    assert(tags("PRODUCT_FILE") == p.name)

    val rpc = info.rpc.get
    assert(Tiff.rpcMatrix(rpc)(0)(0) == 12.25) // LINE_NUM_COEFF starts at slot 12
    assert(Tiff.rpcMeta(rpc)("az_idx_mean") == 2.25) // LINE_OFF = slot 2
  }

  test("TIFF stack e2e: dims, order 1,0,2, pixel-exact, header dtype (S3)") {
    val cube = Cube.fromDirectory(spark, tifDir, CubeConfig())
    assert(cube.dimensions == Map("Band" -> 3L, "Azimuth" -> 10L, "Range" -> 10L))
    assert(cube.dataVariables == Seq("intensity"))
    assert(cube.allProducts.map(_.split("_fake_").last) == Seq("1.tif", "0.tif", "2.tif"))
    // master dtype from the real TIFF header (grd_datacube.py:151-159)
    assert(cube.attrs("dtype") == "uint16")

    // pixel-exact against the generator, per band (uint16 ⇒ int column)
    Fixtures.grdProducts.zipWithIndex.foreach { case (p, idx) =>
      val vals = cube.productValues(p.name).orderBy("azimuth", "range")
        .select(col("intensity").cast("double")).collect().map(_.getDouble(0))
      val expected = for { a <- 0 until 10; r <- 0 until 10 } yield Fixtures.pixelValue(idx, a, r)
      assert(vals.toSeq == expected, s"band $idx mismatch")
    }
  }

  test("TIFF crawl: GDAL tag coercion + RPC parse into open attrs (S5/M10)") {
    val cube = Cube.fromDirectory(spark, tifDir, CubeConfig())
    val row = cube.layers.filter(col("product_file") === Fixtures.grdProducts.head.name)
      .select("incidence_center", "look_side", "orbit_direction", "extent",
        "number_of_azimuth_samples", "metadata")
      .collect().head
    assert(row.getDouble(0) == 30.5)
    assert(row.getString(1) == "RIGHT")
    assert(row.getString(2) == "ASCENDING")
    // extent corners from the numpy-printed COORD_* vectors (lat/lon swap)
    assert(row.getString(3) == "POLYGON((21.0 47.1, 21.1 47.1, 21.1 47.0, 21.0 47.0, 21.0 47.1))")
    assert(row.getInt(4) == 10)

    val md = row.getMap[String, String](5)
    // float-vect extra re-stringified python-list style
    assert(md("posX") == "[1.5, 2.5, 3.5]")
    // found-but-unexpected key ⇒ "None" (analytics_IO.py:390-394)
    assert(md("range_look_bandwidth") == "None")
    assert(md("satellite_look_angle") == "30")
    // M10: RPC 4×20 matrix rows at slots 12/32/52/72, meta from slots 0-11
    assert(md("RPC").startsWith("[[12.25, 13.25,"))
    assert(md("RPC").contains("[32.25, 33.25,"))
    assert(md("RPC_metadata").contains("\"az_idx_mean\": 2.25"))
    assert(md("RPC_metadata").contains("\"lat_scale_factor\": 9.25"))
  }

  test("float32 TIFF stack infers float32 master dtype") {
    val dir = Fixtures.writeTiffStack(tmpDir("tiff32"), dtype = "float32")
    val cube = Cube.fromDirectory(spark, dir, CubeConfig())
    assert(cube.attrs("dtype") == "float32")
    val v = cube.productValues(Fixtures.grdProducts.head.name)
      .filter(col("azimuth") === 3 && col("range") === 7)
      .select(col("intensity").cast("double")).collect().head.getDouble(0)
    assert(v == Fixtures.pixelValue(0, 3, 7))
  }

  test("deflate-compressed TIFF decodes pixel-exact (GDAL deflate GeoTIFFs)") {
    val dir = tmpDir("tifdeflate")
    val p = Fixtures.grdProducts.head
    val path = s"$dir/${p.name}"
    Fixtures.writeTiff(path, p, idx = 0, compression = 8)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val info = Tiff.fromBytes(bytes)
    assert(info.compression == 8)
    val px = Tiff.decode(bytes, info).toSeq
    assert(px.size == 100)
    assert(px.forall { case (az, rg, v) => v == Fixtures.pixelValue(0, az, rg) })
  }

  test("tile-organized TIFF decodes pixel-exact, plain and deflated (GDAL tiled GeoTIFFs)") {
    val p = Fixtures.grdProducts.head
    for (compression <- Seq(1, 8)) {
      val path = s"${tmpDir("tiftiled")}/${p.name}"
      // 4×6 tiles over a 10×10 grid: edge tiles overhang both axes
      Fixtures.writeTiff(path, p, idx = 0, compression = compression, tiled = Some((6, 4)))
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val info = Tiff.fromBytes(bytes)
      assert(info.tiled && info.tileWidth == 6 && info.tileLength == 4)
      val px = Tiff.decode(bytes, info).toSeq
      assert(px.size == 100, s"compression=$compression")
      assert(px.forall { case (az, rg, v) => v == Fixtures.pixelValue(0, az, rg) })
    }
  }

  test("PackBits-compressed TIFF decodes pixel-exact (strip and tile, both byte orders)") {
    val p = Fixtures.grdProducts.head
    for (be <- Seq(false, true); tiled <- Seq(None, Some((6, 4)))) {
      val path = s"${tmpDir("tifpackbits")}/${p.name}"
      Fixtures.writeTiff(path, p, idx = 1, compression = 32773,
        tiled = tiled, bigendian = be)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val info = Tiff.fromBytes(bytes)
      assert(info.compression == 32773 && info.littleEndian == !be)
      val px = Tiff.decode(bytes, info).toSeq
      assert(px.size == 100, s"be=$be tiled=$tiled")
      assert(px.forall { case (az, rg, v) => v == Fixtures.pixelValue(1, az, rg) },
        s"be=$be tiled=$tiled")
    }
  }

  test("LZW-compressed TIFF decodes pixel-exact, with and without horizontal predictor") {
    val p = Fixtures.grdProducts.head
    for (predictor <- Seq(1, 2); tiled <- Seq(None, Some((6, 4)))) {
      val path = s"${tmpDir("tiflzw")}/${p.name}"
      Fixtures.writeTiff(path, p, idx = 2, compression = 5, tiled = tiled, predictor = predictor)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val info = Tiff.fromBytes(bytes)
      assert(info.compression == 5 && info.predictor == predictor)
      val px = Tiff.decode(bytes, info).toSeq
      assert(px.size == 100, s"predictor=$predictor tiled=$tiled")
      assert(px.forall { case (az, rg, v) => v == Fixtures.pixelValue(2, az, rg) },
        s"predictor=$predictor tiled=$tiled")
    }
  }

  test("LZW roundtrip crosses the 9-to-10-bit early-change boundary") {
    // >253 dictionary additions forces the width switch on both sides;
    // a misaligned early change corrupts everything after code 510
    val rng = new scala.util.Random(42)
    val raw = Array.fill(8192)(rng.nextInt(7).toByte) // repetitive → deep dict
    val enc = Fixtures.lzwEncode(raw)
    val dec = Tiff.lzwDecode(enc, 0, enc.length, raw.length)
    assert(dec.toSeq == raw.toSeq)
  }

  test("DEM GeoTIFF load (S11): float heights, header shape, missing-file error") {
    val dir = tmpDir("dem")
    val p = Fixtures.grdProducts.head
    val path = s"$dir/dem.tif"
    Fixtures.writeTiff(path, p, idx = 0, dtype = "float32")
    assert(Dem.shape(path) == (10, 10))
    val vals = Dem.load(spark, path).orderBy("azimuth", "range")
      .select("height").collect().map(_.getDouble(0))
    val expected = for { a <- 0 until 10; r <- 0 until 10 } yield Fixtures.pixelValue(0, a, r)
    assert(vals.toSeq == expected)
    intercept[java.io.FileNotFoundException] { Dem.load(spark, s"$dir/missing.tif") }
  }

  test("KML AOI filter over crawled layers (S10 cube path)") {
    val crawled = MetadataCrawler.crawlDirectory(spark, tifDir)
    // AOI overlapping the fixture extents (lat 47.0-47.1, lon 21.0-21.1)
    val hit =
      """<kml><coordinates>20.95,47.05,0 21.05,47.05,0 21.05,47.15,0 20.95,47.15,0</coordinates></kml>"""
    val miss =
      """<kml><coordinates>30,30,0 31,30,0 31,31,0 30,31,0</coordinates></kml>"""
    assert(graft.functions.Geo.filterByKmlAoi(crawled, hit).count() == 3)
    assert(graft.functions.Geo.filterByKmlAoi(crawled, miss).count() == 0)
  }

  test("recursive crawl walks nested directories (S1 recursive variant)") {
    val root = tmpDir("tifrec")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/a/b"))
    Fixtures.grdProducts.zipWithIndex.foreach { case (p, idx) =>
      val sub = if (idx == 0) root else if (idx == 1) s"$root/a" else s"$root/a/b"
      Fixtures.writeTiff(s"$sub/${p.name}", p, idx)
    }
    // non-recursive: only the top-level raster
    assert(MetadataCrawler.crawlDirectory(spark, root).count() == 1)
    val rec = MetadataCrawler.crawlDirectory(spark, root, recursive = true)
    assert(rec.count() == 3)
    assert(rec.select("product_file").collect().map(_.getString(0)).toSet ==
      Fixtures.grdProducts.map(_.name).toSet)
  }
}
