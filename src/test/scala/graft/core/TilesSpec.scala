package graft.core

import graft.{Fixtures, SparkFunSuite}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `Cube.tiles` packs each tile through `tile_pack`; its output must be
  * row for row the one of the struct-sort spelling it replaced,
  * `sort_array(collect_list(struct(azimuth, range, value))).value`. */
class TilesSpec extends SparkFunSuite {

  private lazy val grdFixtureDir = Fixtures.writeGrdStack(spark, tmpDir("tilesgrd"))
  private lazy val tiffCube = Cube.fromDirectory(spark, Fixtures.writeTiffStack(tmpDir("tilestif")), CubeConfig())
  private lazy val slcCube = Cube.fromDirectory(spark, Fixtures.writeH5Stack(tmpDir("tilesslc")), CubeConfig())
  private lazy val gapCube = Cube.fromDirectory(spark, grdFixtureDir, CubeConfig.fromJsonString(
    """{"start_date": 20210426, "end_date": 20210528, "temporal_resolution": 1}"""))

  private def structSort(cube: Cube, n: Int): DataFrame = {
    val v = cube.dataVariables.head
    cube.pixels
      .withColumn("tile_az", (col("azimuth") / n).cast("int"))
      .withColumn("tile_rg", (col("range") / n).cast("int"))
      .groupBy(col("band_index"), col("tile_az"), col("tile_rg"))
      .agg(sort_array(collect_list(struct(col("azimuth"), col("range"), col(v)))).getField(v).as("values"))
  }

  /** Equal as Java objects: NaN equals NaN, -0.0 differs from 0.0. */
  private def rows(df: DataFrame): Seq[List[Any]] =
    df.collect().toSeq.map(_.toSeq.toList.map {
      case s: collection.Seq[_] => s.toList
      case x => x
    }).sortBy(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Int], r(2).asInstanceOf[Int]))

  private def assertSame(cube: Cube, n: Int, what: String): Unit = {
    val got = cube.tiles(n)
    val want = structSort(cube, n)
    assert(got.schema == want.schema, what)
    val (g, w) = (rows(got), rows(want))
    assert(g.nonEmpty, what)
    assert(g.size == w.size, what)
    g.zip(w).foreach { case (a, b) =>
      assert(a.size == b.size && a.zip(b).forall {
        case (x: List[_], y: List[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => java.util.Objects.equals(p, q) }
        case (x, y) => x == y
      }, s"$what: tile ${a.take(3)}")
    }
  }

  test("tiles match the struct sort on a GRD cube of integer values") {
    assert(tiffCube.pixels.schema("intensity").dataType.typeName == "integer")
    assertSame(tiffCube, 5, "GRD")
  }

  test("tiles match the struct sort on an SLC cube of float values") {
    assert(slcCube.pixels.schema("real").dataType.typeName == "float")
    assertSame(slcCube, 5, "SLC")
  }

  test("tiles match the struct sort on a gap-filled cube with null and NaN values") {
    val nulled = gapCube.copy(pixels = gapCube.pixels.withColumn("intensity",
      when((col("azimuth") + col("range")) % 3 === 0, lit(null)).otherwise(col("intensity"))))
    assertSame(nulled, 4, "gap-filled, nulls")
    // the dense export fills the 30 gap bands with NaN
    assertSame(gapCube.copy(pixels = gapCube.densePixels), 4, "gap-filled, dense NaN")
  }

  test("tiles match the struct sort when the tile side does not divide the grid") {
    assertSame(tiffCube, 3, "GRD, edge tiles")
    assertSame(slcCube, 7, "SLC, edge tiles")
  }

  test("tiles match the struct sort on a merged cube and on a cube with missing pixel rows") {
    val grd = Cube.fromDirectory(spark, grdFixtureDir, CubeConfig())
    val holes = grd.copy(pixels = grd.pixels.filter((col("azimuth") * 7 + col("range")) % 5 =!= 0))
    assertSame(holes, 4, "missing rows")
    val other = grd.copy(pixels = grd.pixels.withColumnRenamed("intensity", "label"))
    val merged = holes.merge(other)
    assert(merged.dataVariables == Seq("intensity", "label"))
    assert(merged.pixels.filter(col("intensity").isNull).count() > 0)
    assertSame(merged, 4, "merged")
  }

  test("tile_pack equals the struct sort for every value type, with ties, nulls, NaN and -0.0") {
    val n = 1200
    val special = Seq[Any](null, Double.NaN, -0.0, 0.0, Double.MinValue, Double.MaxValue,
      Double.NegativeInfinity, Double.PositiveInfinity)
    // positions 0..299 are unique and carry the special values; the rest
    // repeat positions (ties) with values that differ under the ordering
    val data = (0 until n).map { i =>
      val pos = if (i < 300) i else (i * 37) % 300
      val d: Any = if (i < 300) special(i % special.size) else if (i % 11 == 0) null else (i % 13) * 1.5
      Row(i % 3, pos, d)
    }
    val base = spark.createDataFrame(spark.sparkContext.parallelize(data, 4),
        org.apache.spark.sql.types.StructType.fromDDL("g INT, pos INT, d DOUBLE"))
      .repartition(5)
    val typed = base.select(col("g"), col("pos"), col("d"),
      (col("d") > 0).as("b"), col("d").try_cast("tinyint").as("y"), col("d").try_cast("smallint").as("s"),
      col("d").try_cast("int").as("i"), col("d").try_cast("bigint").as("l"), col("d").cast("float").as("f"),
      date_from_unix_date(col("d").try_cast("int")).as("dt"), timestamp_seconds(col("d").try_cast("int")).as("ts"),
      col("d").cast("string").as("str"), col("d").try_cast("decimal(20,2)").as("dec"))
    typed.createOrReplaceTempView("tile_pack_types")
    try {
      for (c <- typed.columns.drop(2)) {
        val got = spark.sql(s"SELECT g, tile_pack(pos, $c) AS v FROM tile_pack_types GROUP BY g")
        val want = spark.sql(
          s"SELECT g, sort_array(collect_list(struct(pos, $c))).$c AS v FROM tile_pack_types GROUP BY g")
        assert(got.schema == want.schema, c)
        val (g, w) = (rows(got.withColumn("a", lit(0)).withColumn("b", lit(0)).select("g", "a", "b", "v")),
          rows(want.withColumn("a", lit(0)).withColumn("b", lit(0)).select("g", "a", "b", "v")))
        assert(g.map(_(3).asInstanceOf[List[Any]].size) == Seq(n / 3, n / 3, n / 3), c)
        g.zip(w).foreach { case (a, b) =>
          val (x, y) = (a(3).asInstanceOf[List[Any]], b(3).asInstanceOf[List[Any]])
          assert(x.zip(y).forall { case (p, q) => java.util.Objects.equals(p, q) }, s"$c group ${a.head}")
        }
      }
      val empty = spark.sql("SELECT tile_pack(pos, d) FROM tile_pack_types WHERE g < 0").collect()
      assert(empty.map(_.getSeq[Any](0)).toSeq == Seq(Seq.empty))
    } finally spark.catalog.dropTempView("tile_pack_types")
  }

  test("tiles reject a side whose positions would not fit an INT") {
    intercept[IllegalArgumentException](tiffCube.tiles(0))
    intercept[IllegalArgumentException](tiffCube.tiles(46341))
  }
}
