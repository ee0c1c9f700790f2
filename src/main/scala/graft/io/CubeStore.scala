package graft.io

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.Cube
import org.apache.hadoop.fs.Path
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
    writeAttrs(cube, dir)
  }

  /** One file: the layers table has layer cardinality, and a planned
    * cube's layers are a local relation split over the default
    * parallelism. */
  private def writeLayers(cube: Cube, dir: String): Unit =
    cube.layers.coalesce(1).write.mode("overwrite").parquet(s"$dir/layers")

  /** Through the Hadoop `FileSystem` of `dir`'s scheme, like the tables. */
  private def writeAttrs(cube: Cube, dir: String): Unit = {
    val path = new Path(s"$dir/$AttrsFile")
    val out = path.getFileSystem(cube.pixels.sparkSession.sparkContext.hadoopConfiguration).create(path, true)
    try new ObjectMapper().writeValue(out: java.io.OutputStream, cube.attrs.asJava)
    finally out.close()
  }

  private[io] val AttrsFile = "_attrs.json"
}

object CubeReader {
  def load(spark: SparkSession, dir: String): Cube = {
    val layers = spark.read.parquet(s"$dir/layers")
    val path = new Path(s"$dir/${CubeWriter.AttrsFile}")
    val in = path.getFileSystem(spark.sparkContext.hadoopConfiguration).open(path)
    val attrs = try new ObjectMapper().readValue(in: java.io.InputStream, classOf[java.util.Map[String, String]]).asScala.toMap
      finally in.close()
    val pixels = spark.read.parquet(s"$dir/pixels").withColumn("band_index", col("band_index").cast("int"))
    Cube(layers, pixels, attrs)
  }
}
