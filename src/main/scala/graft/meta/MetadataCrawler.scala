package graft.meta

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Directory scan → layers (metadata) DataFrame.
  *
  * Port of the reference metadata crawler semantics
  * (icecube/utils/metadata_crawler.py:20-65,138-229,255-267) over the
  * binary-decode-free fixture layout (FIXTURES.md §2): each product is a
  * `<product_file>.json` metadata object next to a `<product_file>.parquet`
  * pixel table.
  *
  * All projection/fallback logic is columnar (`coalesce` chains) so the
  * whole crawl is one distributed JSON scan — no per-file driver loop.
  */
object MetadataCrawler {

  /** The 10 supported variables (sar_datacube_metadata.py:28-39), with
    * `extent` carried as WKT and an extra open-attrs map. */
  val SupportedVariables: Seq[String] = Seq(
    "product_file", "product_fpath", "incidence_center", "look_side",
    "orbit_direction", "extent", "acquisition_date", "acquisition_time",
    "number_of_azimuth_samples", "number_of_range_samples")

  private val CoreJsonFields = Set(
    "product_file", "incidence_center", "local_incidence_angle",
    "incidence_near", "incidence_far", "look_side", "orbit_direction",
    "acquisition_end_utc", "number_of_azimuth_samples", "number_of_range_samples",
    "coord_first_near", "coord_first_far", "coord_last_near", "coord_last_far")

  /** S1: crawl a product directory. Dispatch: JSON-sidecar fixture layout
    * when `.json` files are present, else real binary rasters (`.tif`).
    * `recursive` walks subfolders too (metadata_crawler.py:128-135 /
    * DirUtils.get_dir_files recursive variant). */
  def crawlDirectory(spark: SparkSession, dir: String, recursive: Boolean = false): DataFrame = {
    val jsons = listMetadataFiles(dir, recursive)
    if (jsons.nonEmpty) crawlFiles(spark, jsons)
    else {
      val rasters = listRasterFiles(dir, recursive)
      require(rasters.nonEmpty, s"Could not find any products in $dir")
      crawlRasterFiles(spark, rasters)
    }
  }

  def listMetadataFiles(dir: String): Seq[String] = listMetadataFiles(dir, recursive = false)

  def listMetadataFiles(dir: String, recursive: Boolean): Seq[String] =
    listFiles(dir, Set("json"), recursive)

  /** Raster-product listing shared with CubeBuilder.fromDirectory. */
  def listRasterFiles(dir: String, recursive: Boolean = false): Seq[String] =
    listFiles(dir, Set("tif", "tiff", "h5"), recursive)

  /** Directory listing (common_utils.py:20-41): non-recursive by default,
    * recursive = full subtree walk. Driver-side — the listing is
    * file-cardinality, never pixel-cardinality. */
  private def listFiles(dir: String, exts: Set[String], recursive: Boolean): Seq[String] = {
    def ext(n: String) = n.substring(n.lastIndexOf('.') + 1).toLowerCase
    def walk(d: java.io.File): Seq[java.io.File] = {
      val children = Option(d.listFiles()).getOrElse(Array.empty).toSeq
      children.filter(_.isFile) ++
        (if (recursive) children.filter(_.isDirectory).flatMap(walk) else Nil)
    }
    walk(new java.io.File(dir))
      .filter(f => exts.contains(ext(f.getName)))
      .map(_.getAbsolutePath).sorted
  }

  /** Build from an explicit file list; validates existence and homogeneous
    * product extension (compute_metdatadf_from_list,
    * sar_datacube_metadata.py:83-108). */
  def crawlFiles(spark: SparkSession, metadataPaths: Seq[String]): DataFrame = {
    require(metadataPaths != null && metadataPaths.nonEmpty,
      s"Please provide a correct input - $metadataPaths")
    metadataPaths.foreach { p =>
      require(new java.io.File(p).isFile, s"File $p isn't a correct path")
    }
    val exts = metadataPaths.map(productExtension).distinct
    require(exts.size == 1,
      s"All files should have the same extensions, found: ${exts.mkString(", ")}")

    val raw = spark.read.option("multiLine", value = true).json(metadataPaths: _*)
      .withColumn("_src", input_file_name())
    // input_file_name() is a percent-encoded URI; decode it back to the
    // path on disk. url_decode is form decoding ('+' means space), so a
    // literal '+' is escaped first and stays '+'.
    val src = url_decode(regexp_replace(col("_src"), "\\+", "%2B"))
    project(raw, jsonAttrs(raw),
      regexp_replace(regexp_replace(src, "\\.json$", ""), "^file:/+", "/"))
  }

  /** S5/S7 for real rasters: distributed header-only crawl. Each task
    * reads a raster's IFD + GDAL metadata tag with a few seeks (never the
    * pixel strips — the metadata-before-pixels plan stays O(KB) per file
    * at any raster size), normalizes keys (M4), coerces the GRD dtype
    * table (analytics_IO.py:614-717), and parses the RPC tag (M10,
    * analytics_IO.py:876-948). */
  def crawlRasterFiles(spark: SparkSession, rasterPaths: Seq[String]): DataFrame = {
    require(rasterPaths.nonEmpty, s"Please provide a correct input - $rasterPaths")
    // .tif and .tiff are the same format class (generate_cube.py:53-72
    // accepts them mixed); .h5 must not mix with either
    val exts = rasterPaths.map(p => p.substring(p.lastIndexOf('.') + 1).toLowerCase).distinct
    val classes = exts.map { case "tiff" => "tif"; case e => e }.distinct
    require(classes.size == 1,
      s"All files should have the same extensions, found: ${exts.mkString(", ")}")
    val slices = math.min(rasterPaths.size, spark.sparkContext.defaultParallelism)
    val rowOf: String => org.apache.spark.sql.Row =
      if (classes.head == "h5") SlcTags.rasterRawRow else GrdTags.rasterRawRow
    val rows = spark.sparkContext.parallelize(rasterPaths, math.max(1, slices)).map(rowOf)
    val raw = spark.createDataFrame(rows, GrdTags.RawSchema)
    project(raw, coalesce(col("_extras"), map()), col("_src"))
  }

  /** "ICEYE_GRD_x_fake_0.tif.json" → ".tif" */
  private def productExtension(metaPath: String): String = {
    val stem = new java.io.File(metaPath).getName.stripSuffix(".json")
    stem.lastIndexOf('.') match {
      case -1 => ""
      case i  => stem.substring(i)
    }
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
    val extraFields = raw.columns.filterNot(c => CoreJsonFields.contains(c) || c == "_src").sorted
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
