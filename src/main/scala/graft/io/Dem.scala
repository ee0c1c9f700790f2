package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S11: DEM GeoTIFF read (load_DEM, analytics_IO.py:268-277). A DEM is
  * just a single-band float raster — the `graft-tiff` connector decodes
  * it; this wrapper names the value column `height` and keeps the
  * reference's clear file-not-found error. */
object Dem {

  def load(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isFile)
      throw new java.io.FileNotFoundException(s"No file named $path was found, aborting")
    spark.read.format(RasterFormat.Grd.provider).load(path)
      .withColumnRenamed("intensity", "height")
      .drop("path")
  }

  /** DEM grid shape from the header only. */
  def shape(path: String): (Int, Int) =
    GraftRasterSource.withHeader(RasterFormat.Grd, GraftRasterSource.qualify(path))(
      r => (r.height, r.width))
}
