package graft.meta

import java.io.FileNotFoundException

import graft.io.{CubeSource, GraftRasterSource, HadoopFiles, Hdf5, RasterFormat, Tiff}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Directory scan → layers (metadata) DataFrame.
  *
  * Port of the reference metadata crawler semantics
  * (icecube/utils/metadata_crawler.py:20-65,138-229,255-267) over two
  * layouts: real rasters (GRD `.tif`, SLC `.h5`), whose tags are read
  * from each file's header, and the binary-decode-free fixture layout
  * (FIXTURES.md §2), where each product is a `<product_file>.json`
  * metadata object next to a `<product_file>.parquet` pixel table.
  *
  * Every listing and read goes through the Hadoop FileSystem of the
  * path's scheme ([[HadoopFiles]]). All projection/fallback logic is
  * columnar (`coalesce` chains), so each crawl is one distributed pass
  * — no per-file driver loop.
  */
object MetadataCrawler {

  /** The 10 supported variables (sar_datacube_metadata.py:28-39), with
    * `extent` carried as WKT and an extra open-attrs map. */
  val SupportedVariables: Seq[String] = Seq(
    "product_file", "product_fpath", "incidence_center", "look_side",
    "orbit_direction", "extent", "acquisition_date", "acquisition_time",
    "number_of_azimuth_samples", "number_of_range_samples")

  /** S1: crawl a product directory. Dispatch: JSON-sidecar fixture layout
    * when `.json` files are present, else real binary rasters (`.tif`).
    * `recursive` walks subfolders too (metadata_crawler.py:128-135 /
    * DirUtils.get_dir_files recursive variant). */
  def crawlDirectory(spark: SparkSession, dir: String, recursive: Boolean = false): DataFrame =
    crawl(spark, listProducts(dir, recursive))

  /** A directory's products: its JSON sidecars when it holds any, else
    * its rasters. */
  def listProducts(dir: String, recursive: Boolean = false): Seq[String] = {
    val jsons = listFiles(dir, Set("json"), recursive)
    val files = if (jsons.nonEmpty) jsons else listRasterFiles(dir, recursive)
    require(files.nonEmpty, s"Could not find any products in $dir")
    files
  }

  /** Crawl product files: JSON sidecars when all are `.json`, else
    * rasters. */
  def crawl(spark: SparkSession, files: Seq[String]): DataFrame =
    if (files.forall(_.endsWith(".json"))) crawlFiles(spark, files) else crawlRasterFiles(spark, files)

  /** Raster-product listing shared with CubeBuilder.fromDirectory. */
  def listRasterFiles(dir: String, recursive: Boolean = false): Seq[String] =
    listFiles(dir, RasterFormat.all.flatMap(_.extensions).toSet, recursive)

  /** [[HadoopFiles.list]] as product paths: on the local filesystem the
    * bare absolute path, on any other scheme the qualified path. */
  private def listFiles(dir: String, exts: Set[String], recursive: Boolean): Seq[String] =
    HadoopFiles.list(dir, exts, recursive).map(f => GraftRasterSource.pathKey(f.getPath.toString))

  /** Build from an explicit file list; validates existence and homogeneous
    * product extension (compute_metdatadf_from_list,
    * sar_datacube_metadata.py:83-108). */
  def crawlFiles(spark: SparkSession, metadataPaths: Seq[String]): DataFrame = {
    require(metadataPaths != null && metadataPaths.nonEmpty,
      s"Please provide a correct input - $metadataPaths")
    val conf = spark.sparkContext.hadoopConfiguration
    metadataPaths.foreach { p =>
      val path = new Path(p)
      val isFile = try path.getFileSystem(conf).getFileStatus(path).isFile
        catch { case _: FileNotFoundException => false }
      require(isFile, s"File $p isn't a correct path")
    }
    RasterFormat.ofProducts(metadataPaths)

    val raw = spark.read.option("multiLine", value = true).json(metadataPaths: _*)
      .withColumn("_src", regexp_replace(CubeSource.inputPath, "\\.json$", ""))
    project(raw, jsonAttrs(raw), col("_src"))
  }

  /** S5/S7 for real rasters: distributed header-only crawl. Each task
    * opens its rasters through [[HadoopFiles.withFile]], with the
    * session's Hadoop configuration, and parses only
    * the header: a TIFF's IFD and tags, an HDF5 file's root group and its
    * small datasets, never the pixels, so the metadata-before-pixels
    * plan reads at most one read-ahead window per header at any raster
    * size. It normalizes keys (M4), coerces the GRD dtype table
    * (analytics_IO.py:614-717), and parses the RPC tag (M10,
    * analytics_IO.py:876-948). */
  def crawlRasterFiles(spark: SparkSession, rasterPaths: Seq[String]): DataFrame = {
    require(rasterPaths.nonEmpty, s"Please provide a correct input - $rasterPaths")
    val slc = RasterFormat.ofProducts(rasterPaths) == RasterFormat.Slc
    // broadcast, as Spark's file sources do: a task reads the shared
    // copy instead of deserializing its own (about 30 ms per 4-task
    // crawl of 24 files on 4 cores)
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    val slices = math.min(rasterPaths.size, sc.defaultParallelism)
    val rows = sc.parallelize(rasterPaths, math.max(1, slices)).map { p =>
      HadoopFiles.withFile(p, conf.value.value, payload = false) { (read, _) =>
        if (slc) SlcTags.rasterRawRow(new Hdf5.File(read), p)
        else GrdTags.rasterRawRow(Tiff.readHeader(read), p)
      }
    }
    val raw = spark.createDataFrame(rows, GrdTags.RawSchema)
    project(raw, coalesce(col("_extras"), map()), col("_src"))
  }

  private def optCol(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(name) else lit(null)

  /** (lat, lon) pair at positions 3,4 of a coord vector, reversed to
    * (lon, lat) — metadata_crawler.py:255-267 takes coord[2:] and [::-1].
    * Built with `concat` (NOT concat_ws) so a missing coordinate makes the
    * corner — and thus the whole extent — null, matching the reference's
    * extent=NaN on any missing corner; concat_ws would silently skip the
    * null and emit malformed WKT that Geo.parseWktPolygon throws on. */
  private def lonLat(df: DataFrame, name: String): Column =
    concat(
      element_at(optCol(df, name).cast(ArrayType(DoubleType)), 4).cast(StringType),
      lit(" "),
      element_at(optCol(df, name).cast(ArrayType(DoubleType)), 3).cast(StringType))

  /** Open attrs from the fixture-JSON layout: every non-core JSON field,
    * stringified (NumpyEncoder analog, common_utils.py:126-138 —
    * arrays/structs become JSON text). */
  private def jsonAttrs(raw: DataFrame): Column = {
    val extraFields = raw.columns.filterNot(c => GrdTags.CoreKeys.contains(c) || c == "_src").sorted
    val attrEntries = extraFields.flatMap { f =>
      val v = raw.schema(f).dataType match {
        case _: StructType | _: ArrayType | _: MapType => to_json(col(f))
        case _                                         => col(f).cast(StringType)
      }
      Seq(lit(f), v)
    }
    if (attrEntries.isEmpty) map() else map_filter(map(attrEntries: _*), (_, v) => v.isNotNull)
  }

  private def project(raw: DataFrame, attrs: Column, productFpath: Column): DataFrame = {
    val acqTs = to_timestamp(optCol(raw, "acquisition_end_utc"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

    // incidence fallback chain (metadata_crawler.py:214-229): middle element
    // of local_incidence_angle (python round = half-even → bround), else
    // incidence_center, else mean(near, far).
    val lia = optCol(raw, "local_incidence_angle").cast(ArrayType(DoubleType))
    val incidence = coalesce(
      element_at(lia, (bround(size(lia) / 2.0) + 1).cast("int")),
      optCol(raw, "incidence_center").cast(DoubleType),
      (optCol(raw, "incidence_near").cast(DoubleType) + optCol(raw, "incidence_far").cast(DoubleType)) / 2.0)

    // extent polygon [bl, br, ur, ul, bl] (metadata_crawler.py:255-267);
    // concat propagates null, so ANY missing corner nulls the extent.
    val extent =
      concat(lit("POLYGON(("),
        lonLat(raw, "coord_last_near"), lit(", "),
        lonLat(raw, "coord_last_far"), lit(", "),
        lonLat(raw, "coord_first_far"), lit(", "),
        lonLat(raw, "coord_first_near"), lit(", "),
        lonLat(raw, "coord_last_near"), lit("))"))

    raw.select(
      // product_file fallback = basename of the source path
      // (metadata_crawler.py:48-49)
      coalesce(optCol(raw, "product_file"),
        regexp_extract(productFpath, "([^/]+)$", 1)).as("product_file"),
      // fixture layout: "<dir>/<product_file>" (metadata path minus
      // .json), pixel payload next to it as <product_fpath>.<ext>;
      // real rasters: the raster path itself
      productFpath.as("product_fpath"),
      incidence.as("incidence_center"),
      optCol(raw, "look_side").cast(StringType).as("look_side"),
      optCol(raw, "orbit_direction").cast(StringType).as("orbit_direction"),
      extent.as("extent"),
      date_format(acqTs, "yyyyMMdd").as("acquisition_date"),
      date_format(acqTs, "HHmmss.SSSSSS").as("acquisition_time"),
      optCol(raw, "number_of_azimuth_samples").cast(IntegerType).as("number_of_azimuth_samples"),
      optCol(raw, "number_of_range_samples").cast(IntegerType).as("number_of_range_samples"),
      attrs.as("metadata"),
    )
  }
}
