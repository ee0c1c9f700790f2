package graft.labels

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{Cube, CubeConfig}
import graft.io.ParquetPixelSource
import graft.meta.{CubePlanner, MetadataCrawler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Labels cubes (vector objects or raster segmentation masks), porting
  * icecube/bin/labels_cube/labels_datacube.py + vector_labels.py +
  * raster_labels.py.
  *
  * The labels JSON is layer-cardinality — parsed driver-side (like the
  * reference) and broadcast-joined onto the planned layers table.
  * Vector objects are stored as a JSON string column (`objects_json`)
  * instead of pickle (SURVEY §7.3); masks are a `label` pixel column.
  */
object LabelsCubeBuilder {

  private val mapper = new ObjectMapper()

  case class LabelEntry(productFile: String, firstKey: String, objectsJson: String, maskPath: String)

  /** S8: read + type-sniff the labels JSON (labels_utils.py:8-51). */
  def readLabels(labelsFpath: String): (String, Seq[LabelEntry]) = {
    val root = mapper.readValue(new java.io.File(labelsFpath), classOf[java.util.List[java.util.Map[String, Object]]])
    val entries = root.asScala.toSeq.map { m =>
      val pf = String.valueOf(m.get("product_file"))
      val labels = m.get("labels").asInstanceOf[java.util.Map[String, Object]]
      val firstKey = labels.keySet().asScala.headOption.getOrElse("")
      val objects = Option(labels.get("objects")).map(mapper.writeValueAsString).orNull
      val mask = Option(labels.asScala.collectFirst {
        case (k, v) if k.equalsIgnoreCase("segmentation") => String.valueOf(v)
      }.orNull).orNull
      LabelEntry(pf, firstKey, objects, mask)
    }
    val kinds = entries.map { e =>
      e.firstKey.toLowerCase match {
        case "segmentation" => "raster"
        case "objects"      => "vector"
        case _ => throw new IllegalArgumentException(
          "Could not understood the imported labels format. Kindly check the format.")
      }
    }.distinct
    if (kinds.size > 1) {
      throw new IllegalArgumentException(
        "Cannot ingest segmentation masks and vector labels at the same time")
    }
    (kinds.head, entries)
  }

  /** Build a labels cube over the same raster dir + config as the SAR cube
    * (labels_datacube.py:37-58). */
  def build(spark: SparkSession, rasterDir: String, labelsFpath: String, config: CubeConfig): Cube = {
    val (kind, entries) = readLabels(labelsFpath)
    val planned = new CubePlanner(config).plan(MetadataCrawler.crawlDirectory(spark, rasterDir))
    val labelled = entries.map(_.productFile).toSet

    // F6: NaN-out every metadata column except the time axis for products
    // without labels (labels_datacube.py:139-158)
    val keep = Set("acquisition_date", "band_index", "band_time")
    val isLabelled = col("product_file").isin(labelled.toSeq: _*)
    val nanedOut = planned.columns.foldLeft(planned) { (df, c) =>
      if (keep.contains(c)) df
      else df.withColumn(c, when(col("product_fpath").isNull || isLabelled, col(c)))
    }

    kind match {
      case "vector" => buildVector(spark, nanedOut, entries)
      case "raster" => buildRaster(spark, nanedOut, entries)
    }
  }

  /** F7 (unused-alternative in the reference, labels_datacube.py:160-177):
    * keep only labelled rows plus gap rows. */
  def pruneForLabels(layers: DataFrame, labelledProducts: Set[String]): DataFrame =
    layers.filter(col("product_fpath").isNull ||
      col("product_file").isin(labelledProducts.toSeq: _*))

  /** F8 (unused-alternative, labels_datacube.py:179-201): collapse all
    * gap rows to the single earliest one. */
  def collapseGapRuns(layers: DataFrame): DataFrame = {
    val gaps = layers.filter(col("product_fpath").isNull)
    val firstGap = gaps.orderBy(col("band_index")).limit(1)
    layers.filter(col("product_fpath").isNotNull).unionByName(firstGap)
  }

  private def buildVector(spark: SparkSession, layers: DataFrame, entries: Seq[LabelEntry]): Cube = {
    import spark.implicits._
    // J2: labels↔product equi-lookup; dummy = empty objects list
    // (vector_labels.py:43-46)
    val labelsDf = entries.map(e => (e.productFile, e.objectsJson)).toDF("product_file", "objects_json")
    val withLabels = layers
      .join(broadcast(labelsDf), Seq("product_file"), "left")
      .withColumn("objects_json",
        when(col("product_file").isNotNull && col("objects_json").isNull, lit("[]"))
          .otherwise(col("objects_json")))
    val pixels = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "azimuth INT, range INT, label DOUBLE, band_index INT, band_time TIMESTAMP"))
    Cube(withLabels, pixels, Map("product_type" -> "VECTOR_LABELS"))
  }

  private def buildRaster(spark: SparkSession, layers: DataFrame, entries: Seq[LabelEntry]): Cube = {
    import spark.implicits._
    val masks = entries.filter(_.maskPath != null).map(e => (e.productFile, e.maskPath))
    val maskDf = masks.toDF("product_file", "_mask_path")
    val withMask = layers.join(broadcast(maskDf), Seq("product_file"), "left")

    val maskPaths = withMask.filter(col("_mask_path").isNotNull)
      .select("_mask_path").distinct().collect().map(_.getString(0))
    val pixels =
      if (maskPaths.isEmpty) {
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "azimuth INT, range INT, label DOUBLE, band_index INT, band_time TIMESTAMP"))
      } else {
        // S9: one distributed scan per payload format, tagged per band.
        // Parquet masks arrive tagged with ParquetPixelSource's `_fpath`
        // (file: prefix stripped); strip it from the layer side too
        // before the equi-join.
        val (pngPaths, parquetPaths) = maskPaths.partition(_.toLowerCase.endsWith(".png"))
        val parts = Seq(
          Option(parquetPaths).filter(_.nonEmpty).map(ps =>
            ParquetPixelSource.readPixels(spark, ps.toIndexedSeq)
              .withColumnRenamed("_fpath", "_mask_path")),
          Option(pngPaths).filter(_.nonEmpty).map(ps => readPngMasks(spark, ps.toIndexedSeq)),
        ).flatten
        val raw = parts.reduce(_ unionByName _)
        val bandOf = withMask.filter(col("_mask_path").isNotNull)
          .select(regexp_replace(col("_mask_path"), "^file:/+", "/").as("_mask_path"),
            col("band_index"), col("band_time"))
        raw.join(broadcast(bandOf), Seq("_mask_path")).drop("_mask_path")
      }
    Cube(withMask.drop("_mask_path"), pixels, Map("product_type" -> "RASTER_LABELS"))
  }

  /** S9 real decode: PNG masks via Java ImageIO, band 1 only — the
    * reference's `rasterio.open(mask_fpath).read(1)`
    * (raster_labels.py:83-98). One binaryFile scan, per-file decode in
    * flatMap on executors. */
  private def readPngMasks(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(paths: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (uri, bytes) =>
        val fpath = uri.replaceFirst("^file:/+", "/")
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"ImageIO could not decode PNG mask $fpath")
        val raster = img.getRaster
        for {
          az <- Iterator.range(0, img.getHeight)
          rg <- Iterator.range(0, img.getWidth)
        } yield (az, rg, raster.getSample(rg, az, 0).toDouble, fpath)
      }
      .toDF("azimuth", "range", "label", "_mask_path")
  }
}
