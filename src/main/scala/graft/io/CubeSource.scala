package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source plugin surface.
  *
  * The reference's extension mechanism is *source subclassing* —
  * `SARDatacube`/`LabelsDatacube` abstract methods (sar_datacube.py:65-107;
  * SURVEY §2.11) — not scalar-function plugins. The Spark equivalent is
  * this trait: decode a set of product files into a long pixel DataFrame.
  * `CubeBuilder` routes each product to the source registered for its
  * pixel-payload extension; adding a format is one object + one
  * registry entry, no builder changes.
  */
trait CubeSource {
  /** Payload extensions this source owns (e.g. "parquet", "csv"). */
  def extensions: Set[String]

  /** Read pixel payloads for the given files into a DataFrame with
    * columns (azimuth INT, range INT, value columns…) plus `_fpath` =
    * the normalized dataset path, for band tagging. Must be one
    * distributed read per call — no per-file driver loops. */
  def readPixels(spark: SparkSession, paths: Seq[String]): DataFrame

  /** Pixel dtype read from the payload's own header, when the format has
    * one (get_master_dtype, grd_datacube.py:151-159). Fixture formats
    * (parquet/CSV) return None — the builder falls back to schema
    * inference. */
  def masterDtype(path: String): Option[String] = None
}

object CubeSource {
  /** file:///a/b.parquet/part-x.parquet → /a/b.parquet */
  private[io] def datasetPath(c: org.apache.spark.sql.Column, ext: String) =
    regexp_replace(regexp_extract(c, s"^(.*?\\.$ext)(/.*)?$$", 1), "^file:/+", "/")

  val registry: Seq[CubeSource] = Seq(ParquetPixelSource, CsvPixelSource, TiffPixelSource, SlcH5Source)

  def forPath(path: String): CubeSource = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    registry.find(_.extensions.contains(ext)).getOrElse(
      throw new IllegalArgumentException(s"no CubeSource registered for .$ext ($path)"))
  }
}

/** Fixture-layout parquet payloads (FIXTURES.md §2.1/2.2). */
object ParquetPixelSource extends CubeSource {
  override val extensions: Set[String] = Set("parquet")
  override def readPixels(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths: _*)
      .withColumn("_fpath", CubeSource.datasetPath(input_file_name(), "parquet"))
}

/** Raster payloads read through the shared DataSource V2 connector
  * ([[GraftRasterSource]]): one connector scan over exactly the given
  * files, so no other raster is opened or header-read. `_fpath` is the
  * connector's `path` column ([[GraftRasterSource.pathKey]]). A raster
  * is never split across tasks, the same unit as the reference's
  * per-raster dask graph (`grd_datacube.py:117-149`,
  * `slc_datacube.py:118-162`); small rasters share a task. */
abstract class RasterPixelSource(format: RasterFormat) extends CubeSource {
  override val extensions: Set[String] = format.extensions

  override def readPixels(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format(format.provider).load(paths: _*)
      .withColumnRenamed("path", "_fpath")

  /** Master dtype from the raster's own header — a few seeks, no pixel
    * read (get_master_dtype, grd_datacube.py:151-159). */
  override def masterDtype(path: String): Option[String] = Some(
    GraftRasterSource.withHeader(format, GraftRasterSource.qualify(path))(_.dtype))
}

/** Real GRD rasters (S3): baseline/compressed TIFF strips and tiles. */
object TiffPixelSource extends RasterPixelSource(RasterFormat.Grd)

/** Real SLC rasters (S4): the HDF5 `s_i`/`s_q` complex pair. Shape
  * enforcement against the master shape happens at the metadata level
  * in CubeBuilder. */
object SlcH5Source extends RasterPixelSource(RasterFormat.Slc)

/** CSV payloads with a header row; numeric columns are cast to the
  * canonical pixel schema. */
object CsvPixelSource extends CubeSource {
  override val extensions: Set[String] = Set("csv")
  override def readPixels(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val raw = spark.read.option("header", "true").option("inferSchema", "false").csv(paths: _*)
      .withColumn("_fpath", CubeSource.datasetPath(input_file_name(), "csv"))
    val typed = raw.columns.filterNot(_ == "_fpath").foldLeft(raw) { (df, c) =>
      val target = if (c == "azimuth" || c == "range") "int" else "double"
      df.withColumn(c, col(c).cast(target))
    }
    typed
  }
}
