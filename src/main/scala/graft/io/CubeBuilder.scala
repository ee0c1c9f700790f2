package graft.io

import scala.jdk.CollectionConverters._

import graft.core.{Cube, CubeConfig}
import graft.meta.{CubePlanner, MetadataCrawler}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Builds cubes from product files: real rasters (GRD `.tif`, SLC `.h5`)
  * or the fixture layout (FIXTURES.md §2: per product a `<name>.json`
  * metadata object next to a pixel payload such as `<name>.parquet`).
  *
  * Execution shape (SURVEY §3.1 steps 1-5):
  *   1. driver: config + dir listing (tiny);
  *   2. cluster: one metadata crawl → layers DF;
  *   3. driver: [[CubePlanner.plan]] collects the crawled layers once and
  *      plans them (the reference's metadata-before-pixels optimization:
  *      pruned files are never opened). The master shape, the SLC shape
  *      check and the survivor list read the same planned rows;
  *   4. cluster: ONE scan per payload format over surviving files
  *      (rasters through the `graft-tiff`/`graft-slc` connector) →
  *      pixels DF tagged with band_index/band_time by ONE broadcast join
  *      against a payload → band relation that the driver builds from
  *      the planned rows — no per-layer driver loop, no xr.concat.
  */
object CubeBuilder {

  /** Pixel-dtype whitelist (sar_datacube.py:194-201) → Spark types
    * (SURVEY §1.2 mapping; no unsigned ints in Spark). */
  val DtypeWhitelist: Map[String, String] = Map(
    "uint8" -> "smallint", "int8" -> "tinyint",
    "uint16" -> "int", "int16" -> "smallint",
    "float32" -> "float", "float64" -> "double")

  def fromDirectory(
      spark: SparkSession, dir: String, config: CubeConfig,
      dtypeOverride: Option[String] = None): Cube =
    fromFiles(spark, MetadataCrawler.listProducts(dir), config, dtypeOverride)

  /** `dtypeOverride`: user-forced pixel dtype (set_xarray_dtype,
    * sar_datacube.py:190-207); must be on the whitelist. Default =
    * master dtype inferred from the first valid layer's schema. */
  def fromFiles(
      spark: SparkSession, metadataPaths: Seq[String], config: CubeConfig,
      dtypeOverride: Option[String] = None): Cube = {
    val format = RasterFormat.ofProducts(metadataPaths)
    val layers = new CubePlanner(config).plan(MetadataCrawler.crawl(spark, metadataPaths))
    // the plan is a local relation in band order: reading it back runs no job
    val rows = layers.collect()
    val az = layers.schema.fieldIndex("number_of_azimuth_samples")
    val rg = layers.schema.fieldIndex("number_of_range_samples")
    val shaped = rows.filterNot(_.isNullAt(az))

    // master shape = first valid row by band order (get_master_shape,
    // sar_datacube_metadata.py:258-268)
    val (masterAz, masterRg) = shaped.headOption.fold((0, 0))(r => (r.getInt(az), r.getInt(rg)))

    // SLC: mismatched layer shape is a hard error (slc_datacube.py:136-142);
    // GRD is tolerant. Metadata-level check — no pixel scan needed.
    if (format == RasterFormat.Slc) {
      shaped.find(r => r.getInt(az) != masterAz || (!r.isNullAt(rg) && r.getInt(rg) != masterRg)).foreach { r =>
        throw new IllegalStateException(
          s"SLC layer ${r.getAs[String]("product_file")} shape does not match master shape ($masterAz, $masterRg)")
      }
    }

    // surviving non-gap layers only, in band order — the planner already
    // pruned the rest. Payload resolution per product from the CubeSource
    // registry: the product file itself when it IS a decodable payload
    // (real .tif rasters), else a <product>.<ext> sidecar (fixture
    // layout). Existence is resolved from ONE Hadoop `listStatus` per
    // parent directory — per-survivor existence probes serialize into
    // O(#layers) filesystem round-trips on an object store. Both sides
    // compare qualified paths in GraftRasterSource.pathKey form, the form
    // of every source's `_fpath`.
    val fpath = layers.schema.fieldIndex("product_fpath")
    val planned = rows.filterNot(_.isNullAt(fpath))
    val payloadExts = CubeSource.registry.flatMap(_.extensions)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val products = planned.map(r => GraftRasterSource.qualify(r.getString(fpath)))
    val present: Set[String] = products
      .map(p => new org.apache.hadoop.fs.Path(p).getParent)
      .distinct
      .flatMap { dir =>
        val fs = dir.getFileSystem(hadoopConf)
        if (fs.exists(dir)) fs.listStatus(dir).map(st => GraftRasterSource.pathKey(st.getPath.toString))
        else Array.empty[String]
      }.toSet
    val payloads = products.map { p =>
      val bare = Some(p).filter(f => payloadExts.contains(HadoopFiles.extension(f)))
      (bare ++ payloadExts.map(e => s"$p.$e")).find(f => present(GraftRasterSource.pathKey(f)))
        .getOrElse(throw new IllegalStateException(s"no pixel payload found next to $p"))
    }

    val pixels =
      if (payloads.isEmpty) emptyPixels(spark, format)
      else {
        // one join tags every pixel row: payload key → (band_index,
        // band_time), a local relation built from the planned rows
        val bands = spark.createDataFrame(
          payloads.zip(planned).map { case (p, r) =>
            Row(GraftRasterSource.pathKey(p), r.getAs[Any]("band_index"), r.getAs[Any]("band_time"))
          }.toSeq.asJava,
          StructType(StructField("_fpath", StringType) +: Seq("band_index", "band_time").map(layers.schema(_))))
        payloads.groupBy(CubeSource.forPath)
          .map { case (src, ps) => src.readPixels(spark, ps.toIndexedSeq) }
          .reduce(_ unionByName _)
          .join(broadcast(bands), Seq("_fpath"))
          .drop("_fpath")
      }

    // Master dtype: user override > first payload's real header
    // (get_master_dtype, grd_datacube.py:151-159) > value-column schema.
    def castTo(d: String): (String, DataFrame) = {
      val sparkType = DtypeWhitelist.getOrElse(d, throw new IllegalArgumentException(
        s"dtype $d not supported; expected one of ${DtypeWhitelist.keys.mkString(", ")}"))
      (d, format.valueCols.foldLeft(pixels)((df, c) => df.withColumn(c, col(c).cast(sparkType))))
    }
    val headerDtype = payloads.headOption.flatMap(p => CubeSource.forPath(p).masterDtype(p))
    val (dtype, typedPixels) = dtypeOverride match {
      case Some(d) => castTo(d)
      case None => headerDtype match {
        case Some(d) if DtypeWhitelist.contains(d) => castTo(d)
        case Some(d) => (d, pixels) // e.g. uint32: record, keep double values
        case None    => (attrsDtype(pixels, format), pixels)
      }
    }
    Cube(layers, typedPixels, Map(
      "product_type" -> format.productType,
      "dtype" -> dtype,
      "master_azimuth" -> masterAz.toString,
      "master_range" -> masterRg.toString,
    ))
  }

  private def emptyPixels(spark: SparkSession, format: RasterFormat): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(
      s"azimuth INT, range INT, ${format.valueCols.map(_ + " DOUBLE").mkString(", ")}, " +
        "band_index INT, band_time TIMESTAMP"))

  /** Pixel dtype recorded in attrs (whitelist sar_datacube.py:194-201;
    * Spark has no unsigned ints — SURVEY §1.2 mapping). */
  private def attrsDtype(pixels: DataFrame, format: RasterFormat): String =
    pixels.schema.find(_.name == format.valueCols.head).map(_.dataType) match {
      case Some(DoubleType) => "float64"
      case Some(FloatType)  => "float32"
      case Some(IntegerType) => "int32"
      case Some(ShortType)  => "int16"
      case Some(ByteType)   => "int8"
      case _                => "float64"
    }
}
