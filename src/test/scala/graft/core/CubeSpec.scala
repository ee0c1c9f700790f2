package graft.core

import graft.{Fixtures, SparkFunSuite}
import graft.io.{CubeReader, CubeWriter}
import org.apache.spark.sql.functions._

/** Cube build + accessor goldens, ported from tests/grd_datacube_test.py:46-71
  * (dims, pixel-exact), 88-142 (gap fill) and tests/slc_datacube_test.py
  * (complex variables). */
class CubeSpec extends SparkFunSuite {

  lazy val grdDir: String = Fixtures.writeGrdStack(spark, tmpDir("grdcube"))
  lazy val slcDir: String = Fixtures.writeSlcStack(spark, tmpDir("slccube"))

  test("GRD cube: dims 10x10x3, products ordered 1,0,2") {
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    assert(cube.dimensions == Map("Band" -> 3L, "Azimuth" -> 10L, "Range" -> 10L))
    assert(cube.dataVariables == Seq("intensity"))
    val products = cube.allProducts.map(_.split("_fake_").last)
    assert(products == Seq("1.tif", "0.tif", "2.tif"))
  }

  test("GRD cube: pixel-exact product values") {
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val pf = Fixtures.grdProducts.head.name // fake_0, source idx 0
    val vals = cube.productValues(pf).orderBy("azimuth", "range")
      .select("intensity").collect().map(_.getDouble(0))
    val expected = for { a <- 0 until 10; r <- 0 until 10 } yield Fixtures.pixelValue(0, a, r)
    assert(vals.toSeq == expected)
    assert(cube.productIndex(pf) == 1) // sorted by date: fake_1 first
  }

  test("xlsx metadata export is a valid OOXML zip with all layers (W2)") {
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val path = tmpDir("xlsx") + "/metadata.xlsx"
    cube.writeMetadataExcel(path)
    val zf = new java.util.zip.ZipFile(path)
    try {
      val names = zf.entries().asIterator()
      val nameSet = Iterator.continually(names).takeWhile(_.hasNext).map(_.next().getName).toSet
      assert(nameSet.contains("xl/worksheets/sheet1.xml") && nameSet.contains("[Content_Types].xml"))
      val sheet = new String(
        zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes, "UTF-8")
      assert(sheet.contains("product_file")) // header row
      // 3 layers + header
      assert("<row ".r.findAllIn(sheet).size == 4)
      assert(Fixtures.grdProducts.forall(p => sheet.contains(p.name)))
    } finally zf.close()
  }

  test("image-id txt export in band order (W2, metadata_crawler.py:243-252)") {
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val path = tmpDir("ids") + "/image_ids.txt"
    cube.writeImageIdsTxt(path)
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    // all three products share the ICEYE id 54549; band order 1,0,2
    assert(txt == "54549,54549,54549")
  }

  test("image-id txt export writes through the Hadoop FileSystem of the path's scheme") {
    import graft.io.RasterTestFs
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val dir = tmpDir("idsfs")
    val path = new org.apache.hadoop.fs.Path(s"${RasterTestFs.Scheme}://$dir/image_ids.txt")
    val txt = RasterTestFs.withScheme(spark) {
      cube.writeImageIdsTxt(path.toString)
      val in = path.getFileSystem(spark.sparkContext.hadoopConfiguration).open(path)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(txt == "54549,54549,54549")
  }

  test("GRD cube: metadata accessors with None fill") {
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val md = cube.metadataByProduct(Fixtures.grdProducts.head.name)
    assert(md("satellite_look_angle") == "30")
    assert(md("orbit_direction") == "ASCENDING")
    assert(cube.getMetadata("nonexistent_key", 0) == "None")
    intercept[NoSuchElementException] { cube.productIndex("missing.tif") }
  }

  test("gap-filled cube: 33 bands, gap metadata None, dense NaN fill") {
    val cfg = CubeConfig.fromJsonString(
      """{"start_date": 20210426, "end_date": 20210528, "temporal_resolution": 1}""")
    val cube = Cube.fromDirectory(spark, grdDir, cfg)
    assert(cube.dimensions("Band") == 33L)
    // sparse pixels only hold the 3 real layers
    assert(cube.pixels.select("band_index").distinct().count() == 3)
    assert(cube.getMetadata("product_file", 0) == "None")
    assert(cube.getMetadata("product_file", 1).endsWith("fake_1.tif"))
    // dense export materializes NaN gaps (float dtype rule)
    val dense = cube.densePixels
    assert(dense.count() == 33L * 10 * 10)
    val gapVals = dense.filter(col("band_index") === 0).select("intensity")
      .collect().map(_.getDouble(0))
    assert(gapVals.length == 100 && gapVals.forall(_.isNaN))
  }

  test("SLC cube: complex variables and derived amplitude/intensity/phase") {
    val cube = Cube.fromDirectory(spark, slcDir, CubeConfig())
    assert(cube.dataVariables == Seq("real", "imag"))
    assert(cube.dimensions == Map("Band" -> 3L, "Azimuth" -> 20L, "Range" -> 20L))
    val withAll = cube.withAmplitude.withIntensity.withPhase
    val r = withAll.pixels.filter(col("azimuth") === 1 && col("range") === 2)
      .filter(col("band_index") === 1) // fake_0 (idx 0) sorted to band 1
      .select("real", "imag", "amplitude", "intensity", "phase").collect().head
    val v = Fixtures.pixelValue(0, 1, 2)
    assert(r.getDouble(0) == v && r.getDouble(1) == -v)
    assert(math.abs(r.getDouble(2) - math.sqrt(2 * v * v)) < 1e-9)
    assert(r.getDouble(3) == 2 * v * v)
    assert(math.abs(r.getDouble(4) - math.atan2(-v, v)) < 1e-12)
  }

  test("SLC shape mismatch is a hard error; GRD is tolerant (S4 vs S3)") {
    val badDir = tmpDir("badslc")
    val bad = Fixtures.slcProducts.map {
      case p if p.name.contains("fake_2") => p.copy(az = 10, rg = 10)
      case p => p
    }
    Fixtures.writeStack(spark, badDir, bad, slc = true)
    intercept[IllegalStateException] { Cube.fromDirectory(spark, badDir, CubeConfig()) }

    val badGrd = tmpDir("badgrd")
    val badG = Fixtures.grdProducts.map {
      case p if p.name.contains("fake_2") => p.copy(az = 5, rg = 5)
      case p => p
    }
    Fixtures.writeStack(spark, badGrd, badG, slc = false)
    assert(Cube.fromDirectory(spark, badGrd, CubeConfig()).dimensions("Band") == 3L)
  }

  test("mixed product extensions raise (generate_cube.py:53-72)") {
    val mixDir = tmpDir("mix")
    Fixtures.writeStack(spark, mixDir, Fixtures.grdProducts.take(1), slc = false)
    Fixtures.writeStack(spark, mixDir, Fixtures.slcProducts.take(1), slc = true)
    intercept[IllegalArgumentException] { Cube.fromDirectory(spark, mixDir, CubeConfig()) }
  }

  test("parquet roundtrip preserves dims, attrs, values (W1/S12)") {
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val out = tmpDir("cubeout")
    CubeWriter.write(cube, out)
    val back = CubeReader.load(spark, out)
    assert(back.attrs == cube.attrs)
    assert(back.dimensions == cube.dimensions)
    val vals = back.productValues(Fixtures.grdProducts.head.name)
      .orderBy("azimuth", "range").select("intensity").collect().map(_.getDouble(0))
    assert(vals.head == Fixtures.pixelValue(0, 0, 0))
    assert(vals.length == 100)
  }

  test("a store writes and loads through the Hadoop FileSystem of its scheme") {
    import graft.io.RasterTestFs
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val dir = tmpDir("storefs") + "/cube"
    val back = RasterTestFs.withScheme(spark) {
      CubeWriter.write(cube, s"${RasterTestFs.Scheme}://$dir")
      val loaded = Cube.load(spark, s"${RasterTestFs.Scheme}://$dir")
      (loaded.attrs, loaded.dimensions, loaded.productValues(Fixtures.grdProducts.head.name)
        .agg(sum(col("intensity"))).first().getDouble(0))
    }
    // every part of the store, the manifest included, is where the scheme put it
    assert(new java.io.File(s"$dir/_manifest.json").isFile)
    assert(new java.io.File(dir).list().count(_.startsWith("pixels-")) == 1)
    val want = (for { a <- 0 until 10; r <- 0 until 10 } yield Fixtures.pixelValue(0, a, r)).sum
    assert(back == ((cube.attrs, cube.dimensions, want)))
  }

  /** Spark jobs `f` starts on this thread (a job group, read back from
    * the status tracker once the listener bus has drained). */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"cubespec-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "CubeSpec job count")
    try f finally sc.clearJobGroup()
    org.apache.spark.GraftBusDrain.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def loadedGrd(): Cube = {
    val out = tmpDir("servecube")
    CubeWriter.write(Cube.fromDirectory(spark, grdDir, CubeConfig()), out)
    Cube.load(spark, out)
  }

  test("a warm lookup on a loaded cube runs one Spark job: the pixel read") {
    val cube = loadedGrd()
    val p = Fixtures.grdProducts.head.name
    cube.productValues(p).collect()
    cube.metadataByProduct(p)
    var rows = Array.empty[org.apache.spark.sql.Row]
    var md = Map.empty[String, String]
    var idx = -1
    var orbit = ""
    assert(jobsOf {
      rows = cube.productValues(p).collect()
      md = cube.metadataByProduct(p)
      idx = cube.productIndex(p)
      orbit = cube.getMetadata("orbit_direction", idx)
    } == 1)
    assert(rows.length == 100 && md("product_file") == p && idx == 1 && orbit == "ASCENDING")
    // the other keyed accessors start no job once the index is built
    assert(jobsOf {
      cube.allProducts
      cube.dimensions("Band")
      cube.metadataByIndex(0)
    } == 0)
  }

  test("dimensions without master_* attrs costs one pixel aggregate") {
    val cube = loadedGrd()
    val bare = cube.copy(attrs = cube.attrs -- Seq("master_azimuth", "master_range"))
    bare.allProducts // builds bare's own index
    var dims = Map.empty[String, Long]
    val jobs = jobsOf { dims = bare.dimensions }
    assert(dims == Map("Band" -> 3L, "Azimuth" -> 10L, "Range" -> 10L))
    assert(jobs == jobsOf { bare.pixels.agg(max(col("azimuth"))).first() })
  }

  test("layer index answers match filters on the layers table, fixture and gap-filled cubes") {
    val gapCfg = CubeConfig.fromJsonString(
      """{"start_date": 20210426, "end_date": 20210528, "temporal_resolution": 1}""")
    for (cube <- Seq(Cube.fromDirectory(spark, grdDir, CubeConfig()), loadedGrd(),
        Cube.fromDirectory(spark, grdDir, gapCfg))) {
      val layers = cube.layers
      assert(cube.dimensions("Band") == layers.count())
      assert(cube.allProducts == layers.orderBy("band_index")
        .select(coalesce(col("product_file"), lit(Cube.NoneValue))).collect().map(_.getString(0)).toSeq)
      val products = layers.filter(col("product_file").isNotNull)
        .select("product_file").collect().map(_.getString(0))
      assert(products.length == 3)
      for (p <- products) {
        val want = layers.filter(col("product_file") === p).agg(min("band_index")).first().getInt(0)
        assert(cube.productIndex(p) == want)
        assert(cube.metadataByProduct(p) == cube.metadataByIndex(want))
      }
      for (b <- layers.select("band_index").collect().map(_.getInt(0))) {
        val row = layers.filter(col("band_index") === b).collect().head
        val core = graft.meta.MetadataCrawler.SupportedVariables.map { v =>
          v -> Option(row.get(row.fieldIndex(v))).map(String.valueOf).getOrElse(Cube.NoneValue)
        }.toMap
        val want = core ++ Option(row.getAs[Map[String, String]]("metadata")).getOrElse(Map.empty)
        assert(cube.metadataByIndex(b) == want, s"band $b")
        want.foreach { case (k, v) => assert(cube.getMetadata(k, b) == v) }
        assert(cube.getMetadata("nonexistent_key", b) == Cube.NoneValue)
      }
    }
  }

  test("a repeated product name resolves to its lowest band index") {
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val Seq(p0, p1, _) = cube.allProducts
    // band 2 renamed to band 1's product; rows collected highest band first
    val dup = cube.copy(layers = cube.layers
      .withColumn("product_file", when(col("band_index") === 2, lit(p1)).otherwise(col("product_file")))
      .orderBy(desc("band_index")))
    assert(dup.productIndex(p1) == 1)
    assert(dup.metadataByProduct(p1) == cube.metadataByIndex(1))
    assert(dup.allProducts == Seq(p0, p1, p1))
  }

  test("a gap band is not found by name; missing products and bands keep their errors") {
    val gapCfg = CubeConfig.fromJsonString(
      """{"start_date": 20210426, "end_date": 20210528, "temporal_resolution": 1}""")
    val cube = Cube.fromDirectory(spark, grdDir, gapCfg)
    assert(cube.layers.filter(col("band_index") === 0).first().isNullAt(
      cube.layers.schema.fieldIndex("product_file")))
    def missing(f: => Any): String = intercept[NoSuchElementException](f).getMessage
    assert(missing(cube.productIndex(null)) == "product_file: null is missing from cube metadata")
    assert(missing(cube.productIndex(Cube.NoneValue)) == "product_file: None is missing from cube metadata")
    assert(missing(cube.productIndex("missing.tif")) == "product_file: missing.tif is missing from cube metadata")
    assert(missing(cube.metadataByProduct("missing.tif")) == "product_file: missing.tif is missing from cube metadata")
    assert(missing(cube.productValues("missing.tif")) == "product_file: missing.tif is missing from cube metadata")
    assert(missing(cube.metadataByIndex(33)) == "no layer at band index 33")
    assert(missing(cube.getMetadata("product_file", -1)) == "no layer at band index -1")
    val allGaps = cube.copy(layers = cube.layers.withColumn("product_file", lit(null).cast("string")))
    assert(missing(allGaps.allProducts) == "product files metadata is missing from the cube")
  }

  test("cube.copy(layers = ...) sees the new layers") {
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val p = cube.allProducts.head
    assert(cube.productIndex(p) == 0) // cube's index is built
    val renamed = cube.copy(layers = cube.layers
      .withColumn("product_file", when(col("band_index") === 0, lit("renamed.tif")).otherwise(col("product_file"))))
    assert(renamed.productIndex("renamed.tif") == 0)
    assert(renamed.getMetadata("product_file", 0) == "renamed.tif")
    intercept[NoSuchElementException](renamed.productIndex(p))
    val fewer = cube.copy(layers = cube.layers.filter(col("band_index") < 2))
    assert(fewer.dimensions("Band") == 2L && fewer.allProducts.size == 2)
    // the source cube keeps its own snapshot
    assert(cube.productIndex(p) == 0 && cube.dimensions("Band") == 3L)
  }

  test("a build leaves nothing in the session cache") {
    spark.catalog.clearCache()
    Cube.fromDirectory(spark, grdDir, CubeConfig())
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a raster build runs the same number of Spark jobs whichever planner stages run") {
    val configs = Seq("{}",
      """{"start_date": 20210427, "end_date": 20210430, "min_incidence_angle": 29, "max_incidence_angle": 31}""",
      """{"temporal_overlap": false, "space_overlap": true}""",
      """{"start_date": 20210426, "end_date": 20210528, "temporal_resolution": 1}""")
    for ((dir, products) <- Seq(Fixtures.writeTiffStack(tmpDir("jobsgrd")) -> Fixtures.grdProducts,
        Fixtures.writeH5Stack(tmpDir("jobsslc")) -> Fixtures.slcProducts); json <- configs) {
      var cube: Cube = null
      val jobs = jobsOf { cube = Cube.fromDirectory(spark, dir, CubeConfig.fromJsonString(json)) }
      assert(jobs == 1, s"$dir $json")
      // the planned layers are a local relation: the index reads them without a job
      val p = products(1).name
      assert(jobsOf { cube.productIndex(p); cube.metadataByProduct(p) } == 0, s"$dir $json")
    }
  }

  /** Layer rows in band order, attrs and per-band pixel sums: what tells
    * two versions of a store apart. */
  private def version(c: Cube): (Seq[org.apache.spark.sql.Row], Map[String, String], Map[Int, Double]) =
    (c.layerRows, c.attrs, c.pixels.groupBy("band_index").agg(sum(col("intensity").cast("double")))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap)

  test("a loaded store equals the written cube: layers row for row, attrs, pixel schema and values") {
    val gapCfg = CubeConfig.fromJsonString(
      """{"start_date": 20210426, "end_date": 20210528, "temporal_resolution": 1}""")
    val built = Cube.fromDirectory(spark, grdDir, gapCfg)
    // a microsecond band_time, open-attrs maps with a null value, and
    // added columns with non-finite floats and arrays
    val cube = built.copy(layers = built.layers
      .withColumn("band_time", col("band_time") + expr("INTERVAL 0.000007 SECONDS"))
      .withColumn("score", when(col("band_index") === 1, lit(Double.NaN)).otherwise(col("band_index") / 3.0))
      .withColumn("peak", when(col("band_index") === 2, lit(Float.NegativeInfinity)).otherwise(lit(0.1f)))
      .withColumn("tags", array(lit("a"), lit(null).cast("string")))
      .withColumn("metadata", when(col("band_index") === 1, map(lit("k"), lit("v"), lit("none"), lit(null)))
        .otherwise(col("metadata"))))
    val dir = tmpDir("equalstore") + "/cube"
    CubeWriter.write(cube, dir)
    val back = Cube.load(spark, dir)
    assert(back.layers.schema == cube.layers.schema)
    assert(back.layers.collect().toSeq == cube.layers.collect().toSeq.sortBy(_.getAs[Int]("band_index")))
    val t1 = back.layers.filter(col("band_index") === 1).select("band_time", "metadata").first()
    assert(t1.getTimestamp(0).getNanos % 1000000 / 1000 != 0, "microseconds kept")
    assert(t1.getMap[String, String](1) == Map("k" -> "v", "none" -> null))
    assert(back.attrs == cube.attrs)
    assert(back.pixels.schema == org.apache.spark.sql.types.StructType(cube.pixels.schema.map(_.copy(nullable = true))))
    assert(back.pixels.collect().toSet == cube.pixels.collect().toSet)
    assert(back.pixels.count() == 300)
  }

  test("a store with no pixel rows loads") {
    val cube = Cube.fromDirectory(spark, grdDir, CubeConfig())
    val dir = tmpDir("emptystore") + "/cube"
    CubeWriter.write(cube.copy(pixels = cube.pixels.limit(0)), dir)
    val back = Cube.load(spark, dir)
    assert(back.pixels.columns.toSeq == cube.pixels.columns.toSeq)
    assert(back.pixels.count() == 0)
    assert(back.allProducts == cube.allProducts)
    assert(back.productValues(Fixtures.grdProducts.head.name).collect().isEmpty)
  }

  test("a store open lists nothing and runs no job; a lookup and a window run one job each") {
    import graft.io.RasterTestFs
    val dir = tmpDir("opendiscovery") + "/cube"
    val uri = s"${RasterTestFs.Scheme}://$dir"
    val p = Fixtures.grdProducts.head.name
    val want = (for { a <- 0 until 10; r <- 0 until 10 } yield Fixtures.pixelValue(0, a, r)).sum
    val wantWindow = (for { a <- 2 to 5; r <- 3 to 6 } yield Fixtures.pixelValue(0, a, r)).sum
    var rows = Array.empty[org.apache.spark.sql.Row]
    var window = Array.empty[org.apache.spark.sql.Row]
    var md = Map.empty[String, String]
    val (jobs, listings) = RasterTestFs.withScheme(spark) {
      CubeWriter.write(Cube.fromDirectory(spark, grdDir, CubeConfig()), uri)
      RasterTestFs.resetCalls()
      var cube: Cube = null
      val load = jobsOf { cube = Cube.load(spark, uri) }
      val lookup = jobsOf {
        rows = cube.productValues(p).collect()
        md = cube.metadataByProduct(p)
      }
      val win = jobsOf {
        window = cube.bandValues(1).filter(col("azimuth").between(2, 5) && col("range").between(3, 6)).collect()
      }
      ((load, lookup, win), RasterTestFs.calls("listStatus") + RasterTestFs.calls("globStatus"))
    }
    assert(jobs == ((0, 1, 1)), "jobs of (load, lookup, window)")
    assert(listings == 0, "listStatus and globStatus calls")
    assert(rows.map(_.getAs[Number]("intensity").doubleValue).sum == want && md("product_file") == p)
    assert(window.length == 16 && window.map(_.getAs[Number]("intensity").doubleValue).sum == wantWindow)
    // the manifest's paths are relative: a copy loads where it lands
    val copy = tmpDir("copiedstore") + "/cube"
    val src = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach(f => java.nio.file.Files.copy(f, java.nio.file.Paths.get(copy).resolve(src.relativize(f))))
    finally walk.close()
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    val copied = Cube.load(spark, copy)
    assert(copied.productValues(p).agg(sum(col("intensity").cast("double"))).first().getDouble(0) == want)
    assert(copied.allProducts.size == 3)
  }

  test("a rewrite that fails at any create, rename or delete leaves the old cube or the new one") {
    import graft.io.RasterTestFs
    val built = Cube.fromDirectory(spark, grdDir, CubeConfig())
    // pixels as a local relation over several partitions, so each write
    // runs several tasks without decoding again
    val old = built.copy(pixels = spark.createDataFrame(
      java.util.Arrays.asList(built.pixels.collect(): _*), built.pixels.schema))
    val next = old.copy(
      layers = old.layers.withColumn("product_file", concat(col("product_file"), lit(".v2"))),
      pixels = old.pixels.withColumn("intensity", col("intensity") + 1000),
      attrs = old.attrs + ("version" -> "2"))
    val versions = Seq(version(old), version(next))
    assert(versions.distinct.size == 2)
    val dir = tmpDir("crashstore") + "/cube"
    val uri = s"${RasterTestFs.Scheme}://$dir"
    val outcomes = RasterTestFs.withScheme(spark) {
      CubeWriter.write(old, uri)
      RasterTestFs.resetCalls()
      CubeWriter.write(next, uri)
      val calls = RasterTestFs.mutatingCalls
      assert(calls >= 3, s"$calls creates, renames and deletes in a rewrite")
      val seen = (1L to calls).map { n =>
        CubeWriter.write(old, uri)
        RasterTestFs.failOnce(n)
        val failed = scala.util.Try(CubeWriter.write(next, uri)).isFailure
        RasterTestFs.resetCalls()
        val got = versions.indexOf(version(Cube.load(spark, uri)))
        assert(got >= 0, s"a failure at mutating call $n of $calls left a cube that is neither old nor new")
        (failed, got)
      }
      CubeWriter.write(next, uri)
      assert(version(Cube.load(spark, uri)) == versions(1))
      seen
    }
    // a write that returned has published
    assert(outcomes.forall { case (failed, got) => failed || got == 1 }, s"outcomes $outcomes")
    assert(outcomes.exists(_._2 == 0) && outcomes.exists(_._2 == 1), s"outcomes $outcomes")
    // the last write removed every stage but its own
    val entries = new java.io.File(dir).list().toSet
    assert(entries.count(_.startsWith("pixels-")) == 1 && entries.contains("_manifest.json"), entries)
    assert(entries.forall(e => e == "_manifest.json" || e.startsWith("pixels-")), entries)
  }

  test("opening a directory that is not a store names its missing manifest") {
    val dir = tmpDir("notastore")
    val e = intercept[java.io.FileNotFoundException](Cube.load(spark, dir))
    assert(e.getMessage.contains(s"$dir/_manifest.json") && e.getMessage.contains("is not a cube store"), e.getMessage)
  }

  test("a truncated or malformed manifest is an error that names it and what is wrong") {
    val dir = tmpDir("badmanifest") + "/cube"
    CubeWriter.write(Cube.fromDirectory(spark, grdDir, CubeConfig()), dir)
    val manifest = java.nio.file.Paths.get(dir, "_manifest.json")
    val whole = java.nio.file.Files.readAllBytes(manifest)
    def failure(bytes: Array[Byte]): String = {
      java.nio.file.Files.write(manifest, bytes)
      val msg = intercept[java.io.IOException](Cube.load(spark, dir)).getMessage
      assert(msg.contains(s"$dir/_manifest.json is not a valid cube manifest"), msg)
      msg
    }
    failure(whole.take(whole.length / 2))
    assert(failure(Array.emptyByteArray).contains("not a JSON object"))
    assert(failure("""{"format": "graft-cube", "version": 1}""".getBytes).contains("no 'attrs'"))
    assert(failure("""{"format": "graft-cube", "version": 2}""".getBytes).contains("version 2 is not 1"))
    assert(failure("""{"format": "parquet"}""".getBytes).contains("format 'parquet' is not 'graft-cube'"))
  }

  test("a manifest that lists a missing pixel file fails at load, naming both") {
    val dir = tmpDir("lostfile") + "/cube"
    CubeWriter.write(Cube.fromDirectory(spark, grdDir, CubeConfig()), dir)
    val stage = new java.io.File(dir).listFiles().find(_.getName.startsWith("pixels-")).get
    val lost = stage.listFiles().filter(_.getName.startsWith("band_index=")).head
      .listFiles().find(_.getName.endsWith(".parquet")).get
    assert(lost.delete())
    val msg = intercept[java.io.FileNotFoundException](Cube.load(spark, dir)).getMessage
    assert(msg.contains(s"$dir/_manifest.json") && msg.contains(lost.getName) && msg.contains("does not exist"), msg)
  }
}
