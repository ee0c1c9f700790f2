package graft.io

import graft.{Fixtures, SparkFunSuite}
import graft.core.{Cube, CubeConfig}
import graft.labels.{CreateLabels, LabelsCubeBuilder}
import graft.meta.MetadataCrawler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A whole build, store and serve on a scheme other than `file:`: every
  * listing, header read, config and labels read goes through the Hadoop
  * FileSystem of the path's scheme ([[RasterTestFs]]), and gives what the
  * same build from the plain local path gives. */
class SchemeBuildSpec extends SparkFunSuite {

  private val Scheme = RasterTestFs.Scheme
  private def onScheme(path: String): String = s"$Scheme://$path"

  /** 33 daily bands over the fixtures' dates, 30 of them gaps. */
  private lazy val configPath: String = {
    val path = tmpDir("schemecfg") + "/config.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"start_date": 20210426, "end_date": 20210528, "temporal_resolution": 1}""")
    path
  }

  /** Layer rows with a scheme-qualified `product_fpath` in its local
    * form, in a fixed order. */
  private def layerRows(df: DataFrame): Seq[Seq[Any]] =
    df.withColumn("product_fpath", regexp_replace(col("product_fpath"), s"^$Scheme:", ""))
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  private def bandSums(cube: Cube): Map[Int, Seq[Double]] = {
    val values = cube.dataVariables.map(c => sum(col(c).cast("double")))
    cube.pixels.groupBy("band_index").agg(values.head, values.tail: _*).collect()
      .map(r => r.getInt(0) -> (1 to values.size).map(r.getDouble)).toMap
  }

  private def assertSameCube(got: Cube, want: Cube, what: String): Unit = {
    assert(layerRows(got.layers) == layerRows(want.layers), s"$what layers")
    assert(got.attrs == want.attrs, s"$what attrs")
    assert(bandSums(got) == bandSums(want), s"$what band sums")
  }

  private lazy val stacks: Seq[(String, String, String)] = Seq(
    ("GRD TIFF", Fixtures.writeTiffStack(tmpDir("schemetif") + "/nested/stack"),
      Fixtures.grdProducts.head.name),
    ("SLC HDF5", Fixtures.writeH5Stack(tmpDir("schemeh5") + "/nested/stack"),
      Fixtures.slcProducts.head.name),
    ("JSON sidecar", Fixtures.writeGrdStack(spark, tmpDir("schemejson") + "/nested/stack"),
      Fixtures.grdProducts.head.name))

  test("GRD, SLC and JSON-sidecar stacks build, store and serve on another scheme as they do locally") {
    stacks.foreach { case (what, dir, product) =>
      val root = dir.stripSuffix("/nested/stack")
      val config = CubeConfig.fromJsonFile(configPath)
      val local = Cube.fromDirectory(spark, dir, config)
      val localCrawl = MetadataCrawler.crawlDirectory(spark, root, recursive = true)
      val out = tmpDir("schemestore") + "/cube"
      RasterTestFs.withScheme(spark) {
        val built = Cube.fromDirectory(spark, onScheme(dir), CubeConfig.fromJsonFile(onScheme(configPath)))
        assertSameCube(built, local, s"$what build")
        built.layers.collect().map(_.getAs[String]("product_fpath")).filter(_ != null).foreach { p =>
          assert(p.startsWith(s"$Scheme:/"), s"$what product_fpath $p")
        }
        // the recursive crawl walks the scheme too
        intercept[IllegalArgumentException](MetadataCrawler.crawlDirectory(spark, onScheme(root)))
        val crawl = MetadataCrawler.crawlDirectory(spark, onScheme(root), recursive = true)
        assert(layerRows(crawl) == layerRows(localCrawl), s"$what recursive crawl")

        CubeWriter.write(built, onScheme(out))
        val loaded = Cube.load(spark, onScheme(out))
        assertSameCube(loaded, local, s"$what store")
        def lookup(c: Cube) = c.dataVariables.map(v =>
          c.productValues(product).agg(sum(col(v).cast("double"))).first().getDouble(0))
        assert(lookup(loaded) == lookup(local), s"$what lookup")
      }
    }
  }

  test("a vector labels cube reads its labels file and rasters through the path's scheme") {
    val (_, dir, _) = stacks.last
    val cl = new CreateLabels("vector")
    Fixtures.grdProducts.take(2).foreach(p => cl.populateLabels(p.name, Seq(cl.instanceBbox("b", 2, 5, 9, 7))))
    val labels = tmpDir("schemelabels") + "/vector_labels.json"
    cl.writeLabelsToJson(labels)
    val config = CubeConfig.fromJsonFile(configPath)
    val local = LabelsCubeBuilder.build(spark, dir, labels, config)
    RasterTestFs.withScheme(spark) {
      val remote = LabelsCubeBuilder.build(spark, onScheme(dir), onScheme(labels), config)
      assert(layerRows(remote.layers) == layerRows(local.layers))
      assert(remote.attrs == local.attrs)
      assert(remote.layers.filter(col("objects_json").isNotNull).count() == 2)
    }
  }

  test("a netCDF export reads back through its scheme URI") {
    Seq(Fixtures.writeTiffStack(tmpDir("schemenctif")), Fixtures.writeH5Stack(tmpDir("schemench5"))).foreach { dir =>
      val nc = tmpDir("schemenc") + "/cube.nc"
      Cube.fromDirectory(spark, dir, CubeConfig()).toNetcdf(nc)
      val local = Cube.fromNetcdf(spark, nc)
      RasterTestFs.withScheme(spark) {
        assertSameCube(Cube.fromNetcdf(spark, onScheme(nc)), local, nc)
      }
    }
  }

  test("the crawl opens each raster once, through the scheme, and lists qualified paths") {
    Seq(Fixtures.writeTiffStack(tmpDir("schemeopentif")), Fixtures.writeH5Stack(tmpDir("schemeopenh5"))).foreach { dir =>
      val local = MetadataCrawler.listRasterFiles(dir)
      assert(local.nonEmpty && local.forall(p => p.startsWith(dir + "/") && new java.io.File(p).isFile), local)
      RasterTestFs.withScheme(spark) {
        val files = MetadataCrawler.listRasterFiles(onScheme(dir))
        assert(files == local.map(p => s"$Scheme:$p"))
        RasterTestFs.resetCalls()
        val rows = MetadataCrawler.crawlRasterFiles(spark, files).collect()
        assert(rows.length == files.size)
        assert(RasterTestFs.calls("open") == files.size, s"opens for ${files.size} rasters in $dir")
      }
    }
  }
}
