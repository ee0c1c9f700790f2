package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}

import graft.{Fixtures, SparkFunSuite}
import graft.core.{Cube, CubeConfig}
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions._

/** The local filesystem under its own scheme, so a test can tell reads
  * through the Hadoop FileSystem from reads that strip the scheme and
  * open the path with java.io. */
class RasterTestFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${RasterTestFs.Scheme}:///")
  override def getScheme: String = RasterTestFs.Scheme
}

object RasterTestFs {
  val Scheme = "graftrastertest"

  /** Runs `f` with the scheme registered on the session's Hadoop conf. */
  def withScheme[T](spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val implKey = s"fs.$Scheme.impl"
    conf.set(implKey, classOf[RasterTestFs].getName)
    conf.setBoolean(s"$implKey.disable.cache", true)
    try f
    finally {
      conf.unset(implKey)
      conf.unset(s"$implKey.disable.cache")
    }
  }
}

/** Cube ingest of real rasters through the `graft-tiff` / `graft-slc`
  * connector: any Hadoop filesystem, any file name, one scan kind. */
class RasterIngestSpec extends SparkFunSuite {

  private lazy val tifDir: String = Fixtures.writeTiffStack(tmpDir("ingestgrd"))
  private lazy val slcDir: String = Fixtures.writeH5Stack(tmpDir("ingestslc"))

  test("both connectors read through the Hadoop FileSystem of any scheme") {
    RasterTestFs.withScheme(spark) {
      Seq("graft-tiff" -> tifDir, "graft-slc" -> slcDir).foreach { case (format, dir) =>
        val df = spark.read.format(format).load(s"${RasterTestFs.Scheme}://$dir")
        val want = Fixtures.codecRows(dir)
          .map(r => s"${RasterTestFs.Scheme}:${r.head}" +: r.tail).toSet
        assert(df.collect().map(_.toSeq).toSet == want, s"$format rows")
        // header-only paths: pushed count(*) and the planner statistics
        assert(df.count() == want.size, s"$format count(*)")
        val stats = df.select("azimuth", "range").queryExecution.optimizedPlan.stats
        assert(stats.rowCount.contains(BigInt(want.size)), s"$format statistics $stats")
      }
    }
  }

  test("file names with a space and a '#' keep every pixel on its band") {
    def renamed(dir: String): String = {
      new java.io.File(dir).listFiles().foreach { f =>
        Files.move(f.toPath, Paths.get(dir, f.getName.replace("_hollow_", "_hollow #")))
      }
      assert(new java.io.File(dir).listFiles().forall(_.getName.contains(" #")))
      dir
    }
    val grd = Cube.fromDirectory(spark, renamed(Fixtures.writeTiffStack(tmpDir("keygrd"))), CubeConfig())
    val slc = Cube.fromDirectory(spark, renamed(Fixtures.writeH5Stack(tmpDir("keyslc"))), CubeConfig())
    assert(grd.pixels.count() == 300 && slc.pixels.count() == 1200)
    def fixtureSum(p: Fixtures.Product, idx: Int): Double =
      (for { a <- 0 until p.az; r <- 0 until p.rg } yield Fixtures.pixelValue(idx, a, r)).sum
    Fixtures.grdProducts.zipWithIndex.foreach { case (p, idx) =>
      val got = grd.productValues(p.name).agg(sum(col("intensity").cast("double")))
        .collect().head.getDouble(0)
      assert(got == fixtureSum(p, idx), s"GRD band of ${p.name}")
    }
    Fixtures.slcProducts.zipWithIndex.foreach { case (p, idx) =>
      val row = slc.productValues(p.name)
        .agg(sum(col("real").cast("double")), sum(col("imag").cast("double"))).collect().head
      assert(row.getDouble(0) == fixtureSum(p, idx) && row.getDouble(1) == -fixtureSum(p, idx),
        s"SLC band of ${p.name}")
    }
  }

  test("readPixels over files of two directories is one connector scan") {
    val other = Fixtures.writeTiffStack(tmpDir("ingestgrd2"))
    val files = Seq(tifDir, other).flatMap(d =>
      new java.io.File(d).listFiles().toSeq.map(_.getAbsolutePath)).sorted
    val df = TiffPixelSource.readPixels(spark, files)
    val plan = df.queryExecution.executedPlan.toString
    assert("BatchScan graft-tiff".r.findAllIn(plan).size == 1, s"expected one scan in:\n$plan")
    val want = (Fixtures.codecRows(tifDir) ++ Fixtures.codecRows(other)).map(_.mkString("|")).sorted
    val got = df.select("_fpath", "azimuth", "range", "intensity")
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(got == want)
  }

  test("cube ingest plans the connector's batch scan, never a binaryFile scan") {
    Seq(("graft-tiff", tifDir), ("graft-slc", slcDir)).foreach { case (format, dir) =>
      val plan = Cube.fromDirectory(spark, dir, CubeConfig())
        .pixels.queryExecution.executedPlan.toString
      assert(plan.contains(s"BatchScan $format"), s"expected the $format scan in:\n$plan")
      assert(!plan.contains("binaryFile"), s"unexpected binaryFile scan in:\n$plan")
    }
  }
}
