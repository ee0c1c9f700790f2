package graft.io

import graft.{Fixtures, SparkFunSuite}
import graft.core.{Cube, CubeConfig}
import org.apache.spark.sql.functions._

/** The source-plugin surface (SURVEY §2.11): same cube, different pixel
  * payload format, no builder changes. */
class CubeSourceSpec extends SparkFunSuite {

  test("CSV pixel payloads build an identical cube to parquet") {
    val csvDir = Fixtures.writeStack(spark, tmpDir("csvstack"),
      Fixtures.grdProducts, slc = false, format = "csv")
    val cube = Cube.fromDirectory(spark, csvDir, CubeConfig())
    assert(cube.dimensions == Map("Band" -> 3L, "Azimuth" -> 10L, "Range" -> 10L))
    val v = cube.productValues(Fixtures.grdProducts.head.name)
      .filter(col("azimuth") === 3 && col("range") === 4)
      .select("intensity").collect().head.getDouble(0)
    assert(v == Fixtures.pixelValue(0, 3, 4))
  }

  test("mixed payload formats within one stack resolve per product") {
    val dir = tmpDir("mixedfmt")
    Fixtures.writeStack(spark, dir, Fixtures.grdProducts.take(2), slc = false)
    Fixtures.writeStack(spark, dir, Fixtures.grdProducts.drop(2), slc = false, format = "csv")
    val cube = Cube.fromDirectory(spark, dir, CubeConfig())
    assert(cube.dimensions("Band") == 3L)
    assert(cube.pixels.count() == 300)
    // csv-backed product is pixel-exact too (writeStack re-indexes per
    // call, so the csv fake_2 payload carries idx-0 values)
    val v = cube.productValues(Fixtures.grdProducts.last.name)
      .filter(col("azimuth") === 1 && col("range") === 1)
      .select("intensity").collect().head.getDouble(0)
    assert(v == Fixtures.pixelValue(0, 1, 1))
  }

  test("missing payload raises a clear error") {
    val dir = tmpDir("nopayload")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/${Fixtures.grdProducts.head.name}.json"),
      Fixtures.metadataJson(Fixtures.grdProducts.head).getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      Cube.fromDirectory(spark, dir, CubeConfig())
    }
    assert(e.getMessage.contains("no pixel payload"))
  }

  test("JSON-sidecar names with a space, '#' and '+' build pixel-exact with unencoded paths") {
    val dir = tmpDir("oddnames")
    val products = Fixtures.grdProducts.map(p => p.copy(name = p.name.replace("_hollow_", "_hollow #+ ")))
    Fixtures.writeStack(spark, dir, products, slc = false)
    // drop product_file from the JSON: the name then comes from the path too
    products.foreach { p =>
      val json = java.nio.file.Paths.get(s"$dir/${p.name}.json")
      java.nio.file.Files.write(json, new String(java.nio.file.Files.readAllBytes(json), "UTF-8")
        .replaceAll(""""product_file": "[^"]*",""", "").getBytes("UTF-8"))
    }
    val cube = Cube.fromDirectory(spark, dir, CubeConfig())
    val layers = cube.layers.select("product_file", "product_fpath").collect()
    assert(layers.map(_.getString(0)).toSet == products.map(_.name).toSet)
    assert(layers.forall(r => r.getString(1) == s"$dir/${r.getString(0)}"))
    products.zipWithIndex.foreach { case (p, idx) =>
      val got = cube.productValues(p.name).agg(sum(col("intensity").cast("double"))).collect().head.getDouble(0)
      val want = (for { a <- 0 until p.az; r <- 0 until p.rg } yield Fixtures.pixelValue(idx, a, r)).sum
      assert(got == want, p.name)
    }
  }
}
