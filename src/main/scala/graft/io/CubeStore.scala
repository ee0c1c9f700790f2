package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.Cube
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Cube persistence (W1/S12 deviation documented in SURVEY §7.3):
  * Parquet instead of netCDF —
  *
  * ```
  * dir/layers/        layers table (parquet)
  * dir/pixels/        pixel table, partitioned by band_index
  * dir/_attrs.json    cube attrs
  * ```
  *
  * partitionBy(band_index) makes per-product point queries (Q7) prune to
  * one band's files; at 100 TB each band is still written by all tasks in
  * parallel.
  */
object CubeWriter {
  def write(cube: Cube, dir: String): Unit = {
    writeLayers(cube, dir)
    cube.pixels.write.mode("overwrite").partitionBy("band_index").parquet(s"$dir/pixels")
    writeAttrs(cube.attrs, dir)
  }

  /** Tiled variant (SURVEY §7.5): pixels stored as tileSize² blocks —
    * ~3 orders of magnitude fewer rows at raster scale, per-tile pruning
    * on read. Long format is reconstructed lazily by
    * [[CubeReader.load]] via [[TiledPixels.untile]]. */
  def writeTiled(cube: Cube, dir: String, tileSize: Int): Unit = {
    writeLayers(cube, dir)
    TiledPixels.tile(cube.pixels, tileSize)
      .write.mode("overwrite").partitionBy("band_index").parquet(s"$dir/pixels_tiled")
    writeAttrs(cube.attrs + ("tile_size" -> tileSize.toString), dir)
  }

  /** One file: the layers table has layer cardinality, and a planned
    * cube's layers are a local relation split over the default
    * parallelism. */
  private def writeLayers(cube: Cube, dir: String): Unit =
    cube.layers.coalesce(1).write.mode("overwrite").parquet(s"$dir/layers")

  private def writeAttrs(attrs: Map[String, String], dir: String): Unit = {
    val json = new ObjectMapper().writeValueAsString(attrs.asJava)
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/_attrs.json"), json.getBytes(StandardCharsets.UTF_8))
  }
}

object CubeReader {
  /** Loads either layout; tiled cubes surface the same long-format
    * pixels DataFrame (untiling is lazy — a tile-pruned window read
    * should use [[TiledPixels.window]] on `tiledPixels` instead). */
  def load(spark: SparkSession, dir: String): Cube = {
    val layers = spark.read.parquet(s"$dir/layers")
    val attrs = new ObjectMapper()
      .readValue(new java.io.File(s"$dir/_attrs.json"), classOf[java.util.Map[String, String]])
      .asScala.toMap
    val pixels =
      if (attrs.contains("tile_size")) TiledPixels.untile(tiledPixels(spark, dir))
      else spark.read.parquet(s"$dir/pixels").withColumn("band_index", col("band_index").cast("int"))
    Cube(layers, pixels, attrs)
  }

  def tiledPixels(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"$dir/pixels_tiled")
      .withColumn("band_index", col("band_index").cast("int"))
}
