package graft.io

import graft.core.{Cube, CubeConfig}
import graft.meta.{CubePlanner, MetadataCrawler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  *      pixels DF tagged with band_index/band_time via a broadcast join
  *      against the planned layers — no per-layer driver loop, no
  *      xr.concat.
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
      dtypeOverride: Option[String] = None): Cube = {
    // JSON-sidecar fixture layout when present, else real binary rasters
    val jsons = MetadataCrawler.listMetadataFiles(dir)
    val files = if (jsons.nonEmpty) jsons else MetadataCrawler.listRasterFiles(dir)
    require(files.nonEmpty, s"Could not find any products in $dir")
    fromFiles(spark, files, config, dtypeOverride)
  }

  def fromFiles(
      spark: SparkSession, metadataPaths: Seq[String], config: CubeConfig): Cube =
    fromFiles(spark, metadataPaths, config, None)

  /** `dtypeOverride`: user-forced pixel dtype (set_xarray_dtype,
    * sar_datacube.py:190-207); must be on the whitelist. Default =
    * master dtype inferred from the first valid layer's schema. */
  def fromFiles(
      spark: SparkSession, metadataPaths: Seq[String], config: CubeConfig,
      dtypeOverride: Option[String]): Cube = {
    val productType = sniffProductType(metadataPaths)
    val crawled =
      if (metadataPaths.forall(_.endsWith(".json"))) MetadataCrawler.crawlFiles(spark, metadataPaths)
      else MetadataCrawler.crawlRasterFiles(spark, metadataPaths)
    val layers = new CubePlanner(config).plan(crawled)
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
    if (productType == "SLC") {
      shaped.find(r => r.getInt(az) != masterAz || (!r.isNullAt(rg) && r.getInt(rg) != masterRg)).foreach { r =>
        throw new IllegalStateException(
          s"SLC layer ${r.getAs[String]("product_file")} shape does not match master shape ($masterAz, $masterRg)")
      }
    }

    // surviving non-gap files only, in band order — the planner already
    // pruned the rest. Payload resolution per product from the CubeSource
    // registry: the product file itself when it IS a decodable payload
    // (real .tif rasters), else a <product>.<ext> sidecar (fixture
    // layout). Existence is resolved from ONE Hadoop `listStatus` per
    // parent directory — per-survivor existence probes serialize into
    // O(#layers) filesystem round-trips on an object store.
    val survivors = rows.flatMap(r => Option(r.getAs[String]("product_fpath")))
    val payloadExts = CubeSource.registry.flatMap(_.extensions)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val present: Set[String] = survivors
      .map(p => new org.apache.hadoop.fs.Path(p).getParent)
      .distinct
      .flatMap { dir =>
        val fs = dir.getFileSystem(hadoopConf)
        if (fs.exists(dir)) fs.listStatus(dir).map(st => st.getPath.toUri.getPath)
        else Array.empty[String]
      }.toSet
    // compare in scheme-less URI-path form on both sides, so survivors
    // given as hdfs://nn/x and listed as /x still match
    val uriPath = (p: String) => new org.apache.hadoop.fs.Path(p).toUri.getPath
    val payloads = survivors.map { p =>
      val bareExt = p.substring(p.lastIndexOf('.') + 1).toLowerCase
      val bare = Some(p).filter(_ => payloadExts.contains(bareExt) && present.contains(uriPath(p)))
      bare.orElse(payloadExts.map(e => s"$p.$e").find(f => present.contains(uriPath(f))))
        .getOrElse(throw new IllegalStateException(s"no pixel payload found next to $p"))
    }

    val pixels =
      if (survivors.isEmpty) emptyPixels(spark, productType)
      else {
        import spark.implicits._
        val byms = payloads.groupBy(CubeSource.forPath)
        val parts = byms.map { case (src, ps) => src.readPixels(spark, ps.toIndexedSeq) }
        // exact payload→product mapping built driver-side (payload may be
        // the product itself or a sidecar — no suffix-stripping guesswork).
        // The executor-side `_fpath` differs by source: rasters carry the
        // connector's `path` column (GraftRasterSource.pathKey — the bare,
        // unencoded path), parquet/CSV carry input_file_name() URIs, which
        // percent-encode special characters (space, %, #). Key the mapping
        // on the same form as its source so the join can never silently
        // drop pixels for such paths.
        // (toURI appends "/" to directories — parquet datasets are dirs)
        val fpathOf = (p: String) => CubeSource.forPath(p) match {
          case _: RasterPixelSource => GraftRasterSource.pathKey(GraftRasterSource.qualify(p))
          case _ => new java.io.File(p).toURI.getRawPath.stripSuffix("/")
        }
        val payloadToProduct = payloads.map(fpathOf).zip(survivors).toSeq.toDF("_fpath", "_ppath")
        val bandOf = layers.select(
          col("product_fpath").as("_ppath"), col("band_index"), col("band_time"))
        parts.reduce(_ unionByName _)
          .join(broadcast(payloadToProduct), Seq("_fpath"))
          .join(broadcast(bandOf), Seq("_ppath"))
          .drop("_ppath", "_fpath")
      }

    // Master dtype: user override > first payload's real header
    // (get_master_dtype, grd_datacube.py:151-159) > value-column schema.
    val valueCols = if (productType == "SLC") Seq("real", "imag") else Seq("intensity")
    def castTo(d: String): (String, DataFrame) = {
      val sparkType = DtypeWhitelist.getOrElse(d, throw new IllegalArgumentException(
        s"dtype $d not supported; expected one of ${DtypeWhitelist.keys.mkString(", ")}"))
      (d, valueCols.foldLeft(pixels)((df, c) => df.withColumn(c, col(c).cast(sparkType))))
    }
    val headerDtype = payloads.headOption.flatMap(p => CubeSource.forPath(p).masterDtype(p))
    val (dtype, typedPixels) = dtypeOverride match {
      case Some(d) => castTo(d)
      case None => headerDtype match {
        case Some(d) if DtypeWhitelist.contains(d) => castTo(d)
        case Some(d) => (d, pixels) // e.g. uint32: record, keep double values
        case None    => (attrsDtype(pixels, productType), pixels)
      }
    }
    Cube(layers, typedPixels, Map(
      "product_type" -> productType,
      "dtype" -> dtype,
      "master_azimuth" -> masterAz.toString,
      "master_range" -> masterRg.toString,
    ))
  }

  /** Product-type dispatch by extension sniff (generate_cube.py:53-72):
    * all .tif/.tiff ⇒ GRD, all .h5 ⇒ SLC, mixed ⇒ error. */
  def sniffProductType(metadataPaths: Seq[String]): String = {
    val exts = metadataPaths.map { p =>
      val stem = new java.io.File(p).getName.stripSuffix(".json")
      stem.substring(stem.lastIndexOf('.') + 1).toLowerCase
    }.toSet
    if (exts.subsetOf(Set("tif", "tiff"))) "GRD"
    else if (exts == Set("h5")) "SLC"
    else throw new IllegalArgumentException(
      s"Folder consists of mixed or unsupported product extensions: ${exts.mkString(", ")}")
  }

  private def emptyPixels(spark: SparkSession, productType: String): DataFrame = {
    val valueCols = if (productType == "SLC") "real DOUBLE, imag DOUBLE" else "intensity DOUBLE"
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        s"azimuth INT, range INT, $valueCols, band_index INT, band_time TIMESTAMP"))
  }

  /** Pixel dtype recorded in attrs (whitelist sar_datacube.py:194-201;
    * Spark has no unsigned ints — SURVEY §1.2 mapping). */
  private def attrsDtype(pixels: DataFrame, productType: String): String = {
    import org.apache.spark.sql.types._
    val valueCol = if (productType == "SLC") "real" else "intensity"
    pixels.schema.find(_.name == valueCol).map(_.dataType) match {
      case Some(DoubleType) => "float64"
      case Some(FloatType)  => "float32"
      case Some(IntegerType) => "int32"
      case Some(ShortType)  => "int16"
      case Some(ByteType)   => "int8"
      case _                => "float64"
    }
  }
}
