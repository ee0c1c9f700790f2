package graft.core

import graft.meta.MetadataCrawler
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** A datacube: two DataFrames plus cube-level attrs.
  *
  * Replaces the reference's `xr.Dataset` (icecube/bin/datacube.py:20-28):
  *   - `layers`  — 1 row per band: band_index, band_time, the 10 supported
  *     metadata variables (SURVEY §1.3) and the open attrs map;
  *   - `pixels`  — long format: band_index, azimuth, range, one column per
  *     data variable (intensity | real+imag | label), nullable;
  *   - `attrs`   — cube-level attributes (product_type, dtype, dims).
  *
  * Layers stay tiny (one row per image — driver-safe to collect); pixels
  * are never collected, only transformed/written. The keyed accessors
  * (`productIndex`, `metadataByIndex` / `metadataByProduct` /
  * `getMetadata`, `allProducts`, `dimensions("Band")`) read a
  * driver-resident layer index built on first use: `layers` collected
  * once, one row per layer, so a lookup after the first runs no Spark job
  * of its own. A freshly built cube's `layers` is the planner's local
  * relation ([[graft.meta.CubePlanner.plan]]), so even the first lookup
  * collects it without a job. The index is a snapshot per `Cube`
  * instance (`copy` and every derived cube build their own); re-`load`
  * to see a rewritten store. Pixel reads filter on `band_index`, which the parquet layout
  * partitions by, so per-product reads prune to one band's files.
  */
final case class Cube(
    layers: DataFrame,
    pixels: DataFrame,
    attrs: Map[String, String],
) {
  import Cube._

  /** Built on first keyed access; see the header. */
  private lazy val index = new LayerIndex(layers)

  /** The layer rows in band order, from the index. */
  private[graft] def layerRows: IndexedSeq[Row] = index.rows

  /** Q1: data variable names (datacube.py:41-45). */
  def dataVariables: Seq[String] =
    pixels.columns.filterNot(Seq("band_index", "band_time", "azimuth", "range").contains).toSeq

  /** Q2: dimension sizes (datacube.py:62-67). Band comes from the layer
    * index; a grid side missing from the attrs costs one pixel aggregate,
    * shared by both sides. */
  def dimensions: Map[String, Long] = {
    lazy val extent = pixels.agg(max(col("azimuth")), max(col("range"))).first()
    def side(attr: String, i: Int): Long = attrs.get(attr).map(_.toLong)
      .getOrElse(if (extent.isNullAt(i)) 0L else extent.getInt(i) + 1L)
    Map(
      "Band" -> index.rows.size.toLong,
      "Azimuth" -> side("master_azimuth", 0),
      "Range" -> side("master_range", 1),
    )
  }

  /** Q3: cube attrs (datacube.py:69-74). */
  def cubeMetadata: Map[String, String] = attrs

  /** Q4: ordered product list; error when all gaps (datacube.py:84-97). */
  def allProducts: Seq[String] = {
    val products = index.rows.map(r => Option(r.getString(index.productCol)).getOrElse(NoneValue))
    if (products.forall(_ == NoneValue)) {
      throw new NoSuchElementException("product files metadata is missing from the cube")
    }
    products
  }

  /** Q5: band index of a product (datacube.py:99-119); a repeated name
    * resolves to its lowest band. */
  def productIndex(productFile: String): Int =
    index.byProduct.getOrElse(productFile,
      throw new NoSuchElementException(s"product_file: $productFile is missing from cube metadata"))

  /** Q6/Q8: per-product metadata with "None" fill for missing keys
    * (datacube.py:121-136; "None" padding sar_datacube.py:171-186). */
  def metadataByProduct(productFile: String): Map[String, String] = {
    val idx = productIndex(productFile)
    metadataByIndex(idx)
  }

  def metadataByIndex(bandIndex: Int): Map[String, String] = {
    val row = index.byBand.getOrElse(bandIndex,
      throw new NoSuchElementException(s"no layer at band index $bandIndex"))
    val core = MetadataCrawler.SupportedVariables.map { v =>
      val i = row.fieldIndex(v)
      v -> (if (row.isNullAt(i)) NoneValue else String.valueOf(row.get(i)))
    }.toMap
    val open = row.getAs[Map[String, String]]("metadata") match {
      case null => Map.empty[String, String]
      case m    => m
    }
    core ++ open
  }

  /** Q8 single-key variant with "None" for gaps (sar_datacube.py:209-242). */
  def getMetadata(key: String, bandIndex: Int): String =
    metadataByIndex(bandIndex).getOrElse(key, NoneValue)

  /** Q7: one band's pixel plane by product (datacube.py:138-158). */
  def productValues(productFile: String): DataFrame =
    bandValues(productIndex(productFile))

  /** Q7: one band's pixel plane by index (datacube.py:160-175).
    * band_index filter prunes to a single parquet partition on read. */
  def bandValues(bandIndex: Int): DataFrame =
    pixels.filter(col("band_index") === bandIndex)
      .select(("azimuth" +: "range" +: dataVariables).map(col): _*)

  /** M1-M3 derived variables for complex (SLC) cubes
    * (analytics_IO.py:189-216, slc_datacube.py:221-255). */
  def withAmplitude: Cube = derived("amplitude", sqrt(col("real") * col("real") + col("imag") * col("imag")))
  def withIntensity: Cube = derived("intensity", col("real") * col("real") + col("imag") * col("imag"))
  def withPhase: Cube = derived("phase", atan2(col("imag"), col("real")))

  private def derived(name: String, c: org.apache.spark.sql.Column): Cube = {
    require(pixels.columns.contains("real") && pixels.columns.contains("imag"),
      s"$name requires complex (real/imag) pixel data")
    copy(pixels = pixels.withColumn(name, c))
  }

  /** J4: merge two cubes sharing the band/azimuth/range grid
    * (datacube.py:177-201, combine_attrs="drop_conflicts").
    *
    * Pixels: when both sides carry pixel data the join is a full outer on
    * the (band_index, azimuth, range) coordinates — variable union like
    * `xr.Dataset.merge`. Layers: joined on band_index, open-attrs maps
    * merged with drop-conflict semantics.
    */
  def merge(other: Cube): Cube = {
    val coords = Seq("band_index", "azimuth", "range")
    val mergedPixels =
      if (other.pixels.isEmpty) pixels
      else if (pixels.isEmpty) other.pixels
      else {
        val dupVars = other.dataVariables.toSet.intersect(dataVariables.toSet)
        val rightKeep = other.pixels.columns.filter(c => coords.contains(c) || !dupVars.contains(c))
        val joined = pixels.drop("band_time")
          .join(other.pixels.select(rightKeep.map(col).toSeq: _*).drop("band_time"), coords, "full_outer")
        // Re-attach band_time (dropped pre-join since both sides carry
        // it): keeps the merged pixel schema identical to the unmerged
        // branches, so a merged cube writes and reads like any other. The lookup
        // unions BOTH cubes' layers so a band present only in `other`
        // still gets its time (full-outer pixels can carry such rows).
        // Broadcast join against the layer-cardinality table is
        // shuffle-free.
        if (pixels.columns.contains("band_time")) {
          val bandTimes = layers.select(col("band_index"), col("band_time"))
            .unionByName(other.layers.select(col("band_index"), col("band_time")))
            .groupBy("band_index").agg(first(col("band_time"), ignoreNulls = true).as("band_time"))
          joined.join(broadcast(bandTimes), Seq("band_index"), "left")
        } else joined
      }
    val rightLayerCols = Seq("band_index", "metadata") ++
      other.layers.columns.filter(c => !layers.columns.contains(c))
    val mergedLayers = layers
      .join(other.layers.select(rightLayerCols.distinct.map(col): _*)
        .withColumnRenamed("metadata", "_other_metadata"), Seq("band_index"), "left")
      .withColumn("metadata", mergeAttrMaps(col("metadata"), col("_other_metadata")))
      .drop("_other_metadata")
    // drop_conflicts at cube level: keep keys that agree or exist once
    val mergedAttrs = (attrs.keySet ++ other.attrs.keySet).flatMap { k =>
      (attrs.get(k), other.attrs.get(k)) match {
        case (Some(a), Some(b)) if a == b => Some(k -> a)
        case (Some(a), None)              => Some(k -> a)
        case (None, Some(b))              => Some(k -> b)
        case _                            => None
      }
    }.toMap
    Cube(mergedLayers, mergedPixels, mergedAttrs)
  }

  /** Q9: ML tile/batch extraction (docs/examples/Ex5 surface): bucket the
    * pixel grid into tileSize² tiles and collect each tile's values as an
    * array ordered by (azimuth, range). One shuffle on the tile key; tile
    * payloads (~tileSize² values) are the reference chunk analog. The
    * values are packed by [[graft.functions.TilePack]], keyed by the
    * in-tile position, so no struct is shuffled or sorted per pixel.
    * `tileSize` is at most 46 340, so a tile's positions fit an INT. */
  def tiles(tileSize: Int): DataFrame = {
    require(tileSize > 0 && tileSize <= 46340, s"tile size $tileSize is not in 1..46340")
    val firstVar = dataVariables.head
    val pack = graft.functions.TilePack(
      GraftSqlBridge.expression(col("_tile_pos")), GraftSqlBridge.expression(col(firstVar)))
    pixels
      .withColumn("tile_az", (col("azimuth") / tileSize).cast("int"))
      .withColumn("tile_rg", (col("range") / tileSize).cast("int"))
      // computed by the generated projection, so the aggregate's update reads it
      .withColumn("_tile_pos", col("azimuth") % tileSize * tileSize + col("range") % tileSize)
      .groupBy(col("band_index"), col("tile_az"), col("tile_rg"))
      .agg(GraftSqlBridge.column(pack.toAggregateExpression()).as("values"))
  }

  /** W2: metadata table export as CSV (metadata_crawler.py:232-252).
    * Maps/arrays are stringified first (CSV writer limitation). */
  def writeMetadataCsv(dir: String): Unit = {
    val flat = layers.withColumn("metadata", to_json(col("metadata")))
    flat.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
  }

  /** W2: metadata table export as XLSX (save_metadata_table_as_excel_table,
    * metadata_crawler.py:232-235) via the dependency-free [[graft.io.Xlsx]]
    * writer, from the layer rows in band order. The open-attrs map is
    * written as a JSON object with sorted keys. Driver-side: the table is
    * layer-cardinality, as in the reference's pandas `to_excel`. */
  def writeMetadataExcel(path: String): Unit = {
    val header = layers.columns.toSeq
    val meta = header.indexOf("metadata")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = layerRows.map(r => header.indices.map { i =>
      if (r.isNullAt(i)) null
      else if (i == meta) json.writeValueAsString(new java.util.TreeMap(r.getMap[String, String](i).asJava))
      else String.valueOf(r.get(i))
    })
    graft.io.Xlsx.write(path, header, rows)
  }

  /** W2: image-id txt export (save_image_ids_as_txt,
    * metadata_crawler.py:243-252): one comma-separated line of image
    * numbers in band order, from the layer rows. The id comes from the
    * `image_number` open attr when present, else the numeric field of the
    * ICEYE product name (ICEYE_GRD_<image_number>_…), else the whole
    * product name. Gap bands are skipped. Written through the Hadoop
    * `FileSystem` of `path`'s scheme. */
  def writeImageIdsTxt(path: String): Unit = {
    val ids = layerRows.flatMap { r =>
      Option(r.getAs[String]("product_file")).filter(_ != NoneValue).map { p =>
        Option(r.getAs[scala.collection.Map[String, String]]("metadata"))
          .flatMap(_.get("image_number")).flatMap(Option(_))
          .orElse(IceyeImageNumber.findFirstMatchIn(p).map(_.group(1)))
          .getOrElse(p)
      }
    }
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(layers.sparkSession.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(ids.mkString(",").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** W1 interop: export this cube in the reference's own netCDF4 format
    * (to_file, datacube.py:203-212) — readable by xarray and by
    * [[Cube.fromNetcdf]]. Band-streamed write; parquet ([[graft.io.CubeStore]])
    * remains the native distributed sink. */
  def toNetcdf(path: String): Unit = graft.io.NetcdfWriter.write(this, path)

  /** Dense export: materialize gap pixels for every layer on the master
    * grid (M12 dummy layers, grd_datacube.py:93-111). Gap values follow
    * the reference rule (tests/grd_datacube_test.py:108-122): float dtype
    * ⇒ NaN, int dtype ⇒ 0; stored sparse as null until this call.
    */
  def densePixels: DataFrame = {
    val dims = dimensions
    val az = dims("Azimuth")
    val rg = dims("Range")
    val spark = pixels.sparkSession
    val grid = spark.range(az).select(col("id").cast("int").as("azimuth"))
      .crossJoin(spark.range(rg).select(col("id").cast("int").as("range")))
    val bands = broadcast(layers.select(col("band_index"), col("band_time")))
    val full = bands.crossJoin(grid)
    val isInt = attrs.get("dtype").exists(d => d.startsWith("int") || d.startsWith("uint"))
    val fills = dataVariables.map { v =>
      val c = col(v)
      val filled = if (isInt) coalesce(c, lit(0)) else coalesce(c, lit(Double.NaN))
      filled.as(v)
    }
    full.join(pixels.drop("band_time"), Seq("band_index", "azimuth", "range"), "left")
      .select(col("band_index") +: col("band_time") +: col("azimuth") +: col("range") +: fills: _*)
  }
}

object Cube {
  /** Reference encodes missing metadata as the string "None"
    * (sar_datacube.py:171-186). */
  val NoneValue = "None"

  private val IceyeImageNumber = "^ICEYE_[A-Z]+_(\\d+)_".r

  /** Build from a fixture-layout directory (§3.1 facade path):
    * sniff product type, crawl metadata, run the planner, attach pixels.
    */
  def fromDirectory(spark: SparkSession, dir: String, config: CubeConfig): Cube =
    graft.io.CubeBuilder.fromDirectory(spark, dir, config)

  def fromFiles(spark: SparkSession, metadataPaths: Seq[String], config: CubeConfig): Cube =
    graft.io.CubeBuilder.fromFiles(spark, metadataPaths, config)

  /** S12/W1: open a parquet cube store from its manifest, with no Spark
    * job and no listing ([[graft.io.CubeReader]]). */
  def load(spark: SparkSession, dir: String): Cube = graft.io.CubeReader.load(spark, dir)

  /** S12 interop: read a reference-written netCDF4 cube
    * (datacube.py:203-212 output; read-back datacube.py:30-39). */
  def fromNetcdf(spark: SparkSession, path: String): Cube =
    graft.io.Netcdf.readCube(spark, path)

  /** The layers table collected once (one job, none for a local
    * relation: no `orderBy`, so no range-partition sampling pass) and
    * sorted by band on the driver.
    * `byBand` keeps the first row per band, `byProduct` the lowest band
    * per product name; null names are not indexed. */
  private final class LayerIndex(layers: DataFrame) {
    private val band = layers.schema.fieldIndex("band_index")
    val rows: IndexedSeq[Row] = layers.collect().toIndexedSeq.sortBy(_.getInt(band))
    lazy val productCol: Int = layers.schema.fieldIndex("product_file")
    lazy val byBand: Map[Int, Row] = rows.reverseIterator.map(r => r.getInt(band) -> r).toMap
    lazy val byProduct: Map[String, Int] = rows.reverseIterator.filterNot(_.isNullAt(productCol))
      .map(r => r.getString(productCol) -> r.getInt(band)).toMap
  }

  private[graft] def mergeAttrMaps(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // drop_conflicts: key in both with different value → dropped
    val both = map_filter(map_zip_with(coalesce(a, map()), coalesce(b, map()),
      (_, v1, v2) => coalesce(
        when(v1.isNotNull && v2.isNotNull && v1 === v2, v1),
        when(v1.isNotNull && v2.isNull, v1),
        when(v1.isNull && v2.isNotNull, v2))),
      (_, v) => v.isNotNull)
    when(a.isNull && b.isNull, lit(null)).otherwise(both)
  }
}
