package graft.meta

import graft.{Fixtures, SparkFunSuite}
import graft.core.CubeConfig
import org.apache.spark.sql.functions._

/** Crawler + planner goldens, ported from tests/grd_datacube_test.py
  * (EXPECTED_METADATA_VALUES lines 29-39; gap-fill 88-142) and
  * tests/slc_datacube_test.py:151-185 (2-day resample). */
class CrawlerPlannerSpec extends SparkFunSuite {

  lazy val grdDir: String = Fixtures.writeGrdStack(spark, tmpDir("grd"))

  test("crawler projects the 10 supported variables with golden values") {
    val df = MetadataCrawler.crawlDirectory(spark, grdDir)
    assert(df.count() == 3)
    val r = df.filter(col("product_file").endsWith("fake_0.tif")).collect().head
    assert(r.getAs[Double]("incidence_center") == 30.5)
    assert(r.getAs[String]("orbit_direction") == "ASCENDING")
    assert(r.getAs[String]("look_side") == "RIGHT")
    assert(r.getAs[String]("acquisition_date") == "20210428")
    assert(r.getAs[String]("acquisition_time") == "215130.025535")
    assert(r.getAs[Int]("number_of_azimuth_samples") == 10)
    assert(r.getAs[String]("extent").startsWith("POLYGON(("))
    assert(r.getAs[Map[String, String]]("metadata")("satellite_look_angle") == "30")
  }

  test("default config keeps 3 layers sorted by date: fake_1, fake_0, fake_2") {
    val planned = new CubePlanner(CubeConfig())
      .plan(MetadataCrawler.crawlDirectory(spark, grdDir))
    val order = planned.orderBy("band_index").select("product_file")
      .collect().map(_.getString(0)).map(_.split("_fake_").last)
    assert(order.toSeq == Seq("1.tif", "0.tif", "2.tif"))
  }

  test("date filter start=20210428 keeps 2 layers (F2 inclusive)") {
    val cfg = CubeConfig.fromJsonString("""{"start_date": 20210428}""")
    val planned = new CubePlanner(cfg).plan(MetadataCrawler.crawlDirectory(spark, grdDir))
    assert(planned.count() == 2)
  }

  test("angle filter [29, 30] keeps only incidence 29.5 (F3 inclusive)") {
    val cfg = CubeConfig.fromJsonString("""{"min_incidence_angle": 29, "max_incidence_angle": 30}""")
    val planned = new CubePlanner(cfg).plan(MetadataCrawler.crawlDirectory(spark, grdDir))
    val rows = planned.select("incidence_center").collect().map(_.getDouble(0))
    assert(rows.toSeq == Seq(29.5))
  }

  test("1-day resample 20210426..20210528 yields 33 bands, real layers at 1,2,31") {
    val cfg = CubeConfig.fromJsonString(
      """{"start_date": 20210426, "end_date": 20210528, "temporal_resolution": 1}""")
    val planned = new CubePlanner(cfg).plan(MetadataCrawler.crawlDirectory(spark, grdDir))
    assert(planned.count() == 33)
    val realIdx = planned.filter(col("product_file").isNotNull)
      .orderBy("band_index").select("band_index").collect().map(_.getInt(0))
    assert(realIdx.toSeq == Seq(1, 2, 31))
    // gap rows carry the grid date but null metadata
    val gap = planned.filter(col("band_index") === 0).collect().head
    assert(gap.getAs[String]("acquisition_date") == "20210426")
    assert(gap.isNullAt(gap.fieldIndex("product_file")))
  }

  test("2-day resample 20210427..20210501 yields 3 bands (slc_datacube_test.py:151-185)") {
    val cfg = CubeConfig.fromJsonString(
      """{"start_date": 20210427, "end_date": 20210501, "temporal_resolution": 2}""")
    val planned = new CubePlanner(cfg).plan(MetadataCrawler.crawlDirectory(spark, grdDir))
    assert(planned.count() == 3)
    // only 20210427 sits on both the asfreq grid (from first date) and the
    // configured grid; 20210428 is dropped by the 2-day alignment
    val real = planned.filter(col("product_file").isNotNull).collect()
    assert(real.length == 1)
    assert(real.head.getAs[String]("acquisition_date") == "20210427")
  }

  test("resample with duplicate dates raises (A3 dup check …:232-236)") {
    val dupDir = tmpDir("dup")
    val twin = Fixtures.grdProducts.head.copy(
      name = "ICEYE_GRD_54549_X_fake_dup.tif",
      acquisitionEndUtc = "2021-04-28T10:00:00.000000")
    Fixtures.writeStack(spark, dupDir, Fixtures.grdProducts :+ twin, slc = false)
    val cfg = CubeConfig.fromJsonString("""{"temporal_resolution": 1, "end_date": 20210601}""")
    intercept[IllegalStateException] {
      new CubePlanner(cfg).plan(MetadataCrawler.crawlDirectory(spark, dupDir))
    }
  }

  test("temporal_overlap=false dedups same-date keeping max time (O2)") {
    val dupDir = tmpDir("dedup")
    val twin = Fixtures.grdProducts.head.copy(
      name = "ICEYE_GRD_54549_X_fake_dup.tif",
      acquisitionEndUtc = "2021-04-28T10:00:00.000000") // earlier than fake_0's 21:51
    Fixtures.writeStack(spark, dupDir, Fixtures.grdProducts :+ twin, slc = false)
    val cfg = CubeConfig.fromJsonString("""{"temporal_overlap": false}""")
    val planned = new CubePlanner(cfg).plan(MetadataCrawler.crawlDirectory(spark, dupDir))
    assert(planned.count() == 3)
    assert(planned.filter(col("product_file").endsWith("fake_dup.tif")).count() == 0)
  }

  test("space_overlap keeps intersecting extents (J1)") {
    val farDir = tmpDir("far")
    val far = Fixtures.grdProducts.last.copy(name = "ICEYE_GRD_54549_X_fake_far.tif")
    Fixtures.writeStack(spark, farDir, Fixtures.grdProducts, slc = false)
    // hand-write a far-away extent for the extra product
    val json = Fixtures.metadataJson(far)
      .replace("47.0", "12.0").replace("47.1", "12.1")
      .replace("21.0", "90.0").replace("21.1", "90.1")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$farDir/${far.name}.json"),
      json.getBytes("UTF-8"))
    spark.range(1).selectExpr("0 azimuth", "0 range", "0.0 intensity")
      .write.mode("overwrite").parquet(s"$farDir/${far.name}.parquet")
    val cfg = CubeConfig.fromJsonString("""{"space_overlap": true}""")
    val planned = new CubePlanner(cfg).plan(MetadataCrawler.crawlDirectory(spark, farDir))
    assert(planned.count() == 3) // the far product is pruned
    assert(planned.filter(col("product_file").endsWith("fake_far.tif")).count() == 0)
  }

  test("J1 keeps the 3 overlapping rows; warns only if the primary is alone") {
    val farDir = tmpDir("farwarn")
    val far = Fixtures.grdProducts.last.copy(name = "ICEYE_GRD_54549_X_fake_far.tif")
    Fixtures.writeStack(spark, farDir, Fixtures.grdProducts :+ far, slc = false)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$farDir/${far.name}.json"),
      Fixtures.metadataJson(far).replace("47.0", "12.0").replace("47.1", "12.1")
        .replace("21.0", "90.0").replace("21.1", "90.1").getBytes("UTF-8"))
    def planned(json: String): (Array[String], String) = {
      val err = new java.io.ByteArrayOutputStream
      val names = Console.withErr(err) {
        new CubePlanner(CubeConfig.fromJsonString(json))
          .plan(MetadataCrawler.crawlDirectory(spark, farDir))
          .select("product_file").collect().map(_.getString(0))
      }
      (names, err.toString("UTF-8"))
    }
    val (kept, quiet) = planned("""{"space_overlap": true}""")
    assert(kept.sorted.toSeq == Fixtures.grdProducts.map(_.name).sorted)
    assert(!quiet.contains("No secondary raster(s) found"), quiet)
    // one day's window: the earliest raster (fake_1) is the only survivor
    val (alone, warned) = planned("""{"space_overlap": true, "start_date": 20210427, "end_date": 20210427}""")
    assert(alone.toSeq == Seq(Fixtures.grdProducts(1).name))
    assert("No secondary raster\\(s\\) found".r.findAllIn(warned).size == 1, warned)
  }

  test("all-null acquisition_date skips the date filter entirely (F4 …:127)") {
    // product metadata without acquisition_end_utc → null dates; a naive
    // filter would drop every row, the reference keeps them all
    val nullDir = tmpDir("nulldates")
    Fixtures.grdProducts.foreach { p =>
      val json = Fixtures.metadataJson(p).replaceAll(""""acquisition_end_utc": "[^"]*",""", "")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$nullDir/${p.name}.json"),
        json.getBytes("UTF-8"))
      spark.range(1).selectExpr("0 azimuth", "0 range", "0.0 intensity")
        .write.mode("overwrite").parquet(s"$nullDir/${p.name}.parquet")
    }
    val cfg = CubeConfig.fromJsonString("""{"start_date": 19800101, "end_date": 19800102}""")
    val planned = new CubePlanner(cfg).plan(MetadataCrawler.crawlDirectory(spark, nullDir))
    assert(planned.count() == 3) // all kept despite the out-of-range window
  }

  test("all-null incidence skips the angle filter (F4 …:134)") {
    val nullDir = tmpDir("nullinc")
    Fixtures.grdProducts.foreach { p =>
      val json = Fixtures.metadataJson(p)
        .replaceAll(""""incidence_center": [0-9.]+,""", "")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$nullDir/${p.name}.json"),
        json.getBytes("UTF-8"))
      spark.range(1).selectExpr("0 azimuth", "0 range", "0.0 intensity")
        .write.mode("overwrite").parquet(s"$nullDir/${p.name}.parquet")
    }
    val cfg = CubeConfig.fromJsonString("""{"min_incidence_angle": 80, "max_incidence_angle": 85}""")
    val planned = new CubePlanner(cfg).plan(MetadataCrawler.crawlDirectory(spark, nullDir))
    assert(planned.count() == 3)
  }

  test("empty plan raises (F5 …:157-161)") {
    val cfg = CubeConfig.fromJsonString("""{"start_date": 19800101, "end_date": 19800102}""")
    intercept[IllegalStateException] {
      new CubePlanner(cfg).plan(MetadataCrawler.crawlDirectory(spark, grdDir))
    }
  }

  test("band_time is to_timestamp of the date in the session time zone") {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    try {
      for (tz <- Seq("UTC", "America/Los_Angeles", "Asia/Kolkata")) {
        spark.conf.set(key, tz)
        val planned = new CubePlanner(CubeConfig()).plan(MetadataCrawler.crawlDirectory(spark, grdDir))
        val off = planned.filter(col("band_time") =!= to_timestamp(col("acquisition_date"), "yyyyMMdd"))
        assert(planned.count() == 3 && off.count() == 0, tz)
      }
    } finally spark.conf.set(key, before)
  }
}

