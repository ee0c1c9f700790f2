package graft.io

import java.io.{FileNotFoundException, IOException}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, NullNode}
import graft.core.Cube
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, GenericInternalRow, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Cube persistence (W1/S12 deviation documented in SURVEY §7.3):
  * Parquet instead of netCDF —
  *
  * ```
  * dir/_manifest.json                             the commit point
  * dir/pixels-<id>/band_index=<b>/part-*.parquet  pixel files of one write
  * ```
  *
  * The manifest is a small JSON file that holds everything a reader
  * needs: the format version, the cube attrs, the layer schema and layer
  * rows, the pixel schema, and every pixel file with its band and byte
  * size, by path relative to `dir` (a copied store still loads).
  *
  * Commit rule ([[StoreCommit]], shared with the signature store):
  * [[CubeWriter.write]] writes the pixels, partitioned by band, under a
  * fresh `pixels-<id>` stage, writes the new manifest into that stage,
  * and publishes it with one rename over `dir/_manifest.json`. A crash
  * before the rename leaves the old cube; after it, the new one. Only
  * then are superseded and never-published stages deleted. So a `Cube`
  * loaded before a rewrite stops reading once the rewrite has published;
  * re-load it. One writer per store at a time.
  *
  * [[CubeReader.load]] reads only the manifest: the layers become a local
  * relation, so the keyed accessors need no Spark job, and the pixels a
  * parquet relation over the listed files, with no listing, no schema
  * inference and no job. Band filters prune to one band's files, and
  * pixel filters reach the parquet reader. A directory without a
  * manifest is not a store.
  */
object CubeWriter {
  def write(cube: Cube, dir: String): Unit = {
    val spark = cube.pixels.sparkSession
    val root = new Path(dir)
    val fs = StoreCommit.fileSystem(root, spark.sparkContext.hadoopConfiguration)
    val stagePath = StoreCommit.stage(root, "pixels")
    val stage = stagePath.getName
    cube.pixels.write.partitionBy("band_index").parquet(stagePath.toString)
    val files = for {
      band <- fs.listStatus(stagePath).toSeq.sortBy(_.getPath.getName) if band.isDirectory
      file <- fs.listStatus(band.getPath).toSeq.sortBy(_.getPath.getName) if file.isFile && StoreCommit.isData(file.getPath.getName)
    } yield CubeStore.PixelFile(s"$stage/${band.getPath.getName}/${file.getPath.getName}",
      CubeStore.bandOf(band.getPath), file.getLen)
    StoreCommit.commit(fs, root, stagePath, CubeStore.encode(cube, files))
  }
}

object CubeReader {
  def load(spark: SparkSession, dir: String): Cube = {
    val path = new Path(dir)
    val fs = StoreCommit.fileSystem(path, spark.sparkContext.hadoopConfiguration)
    // qualified, so that tasks resolve the listed files as the driver does
    CubeStore.decode(spark, fs, fs.makeQualified(path))
  }
}

/** The manifest: its codec and the file index it yields. */
private[io] object CubeStore {
  import StoreCommit.ManifestFile
  val Version = 1

  final case class PixelFile(path: String, band: Int, bytes: Long)

  private val json = new ObjectMapper()
  private val nodes = JsonNodeFactory.instance
  private val PartitionSchema = StructType(Seq(StructField("band_index", IntegerType)))

  def bandOf(dir: Path): Int = dir.getName.stripPrefix("band_index=").toIntOption.getOrElse(
    throw new IllegalArgumentException(s"$dir: pixel rows need a non-null INT band_index to be stored"))

  def encode(cube: Cube, files: Seq[PixelFile]): Array[Byte] = {
    val layerSchema = cube.layers.schema
    val toInternal = CatalystTypeConverters.createToCatalystConverter(layerSchema)
    // nullable, as Spark reads every file source
    val pixelSchema = StructType(cube.pixels.schema.map(f =>
      f.copy(dataType = if (f.name == "band_index") IntegerType else f.dataType, nullable = true)))
    val m = nodes.objectNode()
    m.put("format", "graft-cube").put("version", Version)
    val attrs = m.putObject("attrs")
    cube.attrs.toSeq.sortBy(_._1).foreach { case (k, v) => attrs.put(k, v) }
    val layers = m.putObject("layers")
    layers.set[JsonNode]("schema", json.readTree(layerSchema.json))
    val rows = layers.putArray("rows")
    cube.layerRows.foreach(r => rows.add(toJson(toInternal(r), layerSchema)))
    val pixels = m.putObject("pixels")
    pixels.set[JsonNode]("schema", json.readTree(pixelSchema.json))
    val list = pixels.putArray("files")
    files.foreach(f => list.addObject().put("path", f.path).put("band_index", f.band).put("bytes", f.bytes))
    json.writerWithDefaultPrettyPrinter().writeValueAsBytes(m)
  }

  def decode(spark: SparkSession, fs: FileSystem, root: Path): Cube = {
    val path = new Path(root, ManifestFile)
    def invalid(what: String): Nothing = throw new IOException(s"$path is not a valid cube manifest: $what")
    val m = try {
      val in = fs.open(path)
      try json.readTree(in: java.io.InputStream) finally in.close()
    } catch {
      case _: FileNotFoundException => throw new FileNotFoundException(
        s"$root is not a cube store: its manifest $path does not exist")
      case e: JacksonException => invalid(e.getOriginalMessage)
    }
    def field(n: JsonNode, name: String): JsonNode =
      Option(n).flatMap(x => Option(x.get(name))).filterNot(_.isNull).getOrElse(invalid(s"no '$name'"))
    def schema(n: JsonNode): StructType = scala.util.Try(DataType.fromJson(n.toString)).toOption.collect {
      case s: StructType => s
    }.getOrElse(invalid(s"not a struct schema: $n"))
    if (m == null || !m.isObject) invalid("not a JSON object")
    if (m.path("format").asText != "graft-cube") invalid(s"format '${m.path("format").asText}' is not 'graft-cube'")
    if (field(m, "version").asInt != Version) invalid(s"version ${m.get("version")} is not $Version")
    val attrs = field(m, "attrs").properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
    val layerNode = field(m, "layers")
    val layerSchema = schema(field(layerNode, "schema"))
    val rows = try field(layerNode, "rows").asScala.map(r => fromJson(r, layerSchema).asInstanceOf[InternalRow]).toSeq
      catch { case e: RuntimeException => invalid(s"layer rows do not match the layer schema ($e)") }
    val layers = GraftSqlBridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(layerSchema), rows))
    val pixelNode = field(m, "pixels")
    val files = field(pixelNode, "files").asScala.toSeq.map { f =>
      PixelFile(field(f, "path").asText, field(f, "band_index").asInt, field(f, "bytes").asLong)
    }
    Cube(layers, pixels(spark, fs, root, path, schema(field(pixelNode, "schema")), files), attrs)
  }

  /** A parquet relation over the listed files, each checked to exist
    * with its recorded size, so a store that lost a file fails here
    * rather than reading as fewer rows. */
  private def pixels(spark: SparkSession, fs: FileSystem, root: Path, manifest: Path, schema: StructType,
      files: Seq[PixelFile]): DataFrame = {
    val statuses = files.map { f =>
      val p = new Path(root, f.path)
      val found = try fs.getFileStatus(p) catch {
        case _: FileNotFoundException => throw new FileNotFoundException(
          s"$manifest lists pixel file $p, which does not exist")
      }
      if (found.getLen != f.bytes) throw new IOException(
        s"$manifest lists pixel file $p with ${f.bytes} bytes, but it has ${found.getLen}")
      f.band -> new FileStatus(f.bytes, false, 0, 0, 0, p)
    }
    val index = new ManifestFileIndex(root, statuses)
    val relation = HadoopFsRelation(index, PartitionSchema, schema, None, new ParquetFileFormat, Map.empty)(spark)
    GraftSqlBridge.ofRows(spark, LogicalRelation(relation))
  }

  /** The listed pixel files by band; it never lists a directory. */
  private final class ManifestFileIndex(root: Path, files: Seq[(Int, FileStatus)]) extends FileIndex {
    private val partitions = files.groupBy(_._1).toSeq.sortBy(_._1).map { case (band, group) =>
      PartitionDirectory(InternalRow(band), group.map(f => FileStatusWithMetadata(f._2)))
    }
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionFilters.isEmpty) partitions
      else {
        val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
          case _: AttributeReference => BoundReference(0, IntegerType, nullable = true)
        })
        partitions.filter(p => keep.eval(p.values))
      }
    override def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_._2.getLen).sum
    override def partitionSchema: StructType = PartitionSchema
  }

  /** Catalyst values as JSON, exact: timestamps as epoch micros, dates as
    * epoch days, non-finite floats as strings, maps as [key, value]
    * pairs, structs as positional arrays. */
  private def toJson(v: Any, t: DataType): JsonNode = if (v == null) NullNode.instance else t match {
    case BooleanType => nodes.booleanNode(v.asInstanceOf[Boolean])
    case ByteType | ShortType | IntegerType | DateType => nodes.numberNode(v.asInstanceOf[Number].intValue)
    case LongType | TimestampType | TimestampNTZType => nodes.numberNode(v.asInstanceOf[Long])
    case FloatType | DoubleType =>
      val d = v.asInstanceOf[Number].doubleValue
      if (d.isNaN || d.isInfinite) nodes.textNode(d.toString) else nodes.numberNode(d)
    case _: StringType => nodes.textNode(v.toString)
    case ArrayType(e, _) =>
      val a = nodes.arrayNode()
      v.asInstanceOf[ArrayData].foreach(e, (_, x) => a.add(toJson(x, e)))
      a
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val a = nodes.arrayNode()
      for (i <- 0 until m.numElements())
        a.addArray().add(toJson(m.keyArray().get(i, kt), kt)).add(toJson(m.valueArray().get(i, vt), vt))
      a
    case s: StructType =>
      val r = v.asInstanceOf[InternalRow]
      val a = nodes.arrayNode()
      s.fields.indices.foreach(i => a.add(toJson(r.get(i, s.fields(i).dataType), s.fields(i).dataType)))
      a
    case other => throw new IllegalArgumentException(s"a cube store cannot hold $other layer values")
  }

  private def fromJson(n: JsonNode, t: DataType): Any = if (n.isNull) null else t match {
    case BooleanType => n.booleanValue
    case ByteType => n.intValue.toByte
    case ShortType => n.intValue.toShort
    case IntegerType | DateType => n.intValue
    case LongType | TimestampType | TimestampNTZType => n.longValue
    case FloatType => number(n).toFloat
    case DoubleType => number(n)
    case _: StringType => UTF8String.fromString(n.textValue)
    case ArrayType(e, _) => new GenericArrayData(n.asScala.map(fromJson(_, e)).toArray)
    case MapType(kt, vt, _) =>
      val pairs = n.asScala.toArray
      new ArrayBasedMapData(new GenericArrayData(pairs.map(p => fromJson(p.get(0), kt))),
        new GenericArrayData(pairs.map(p => fromJson(p.get(1), vt))))
    case s: StructType =>
      new GenericInternalRow(s.fields.indices.map(i => fromJson(n.get(i), s.fields(i).dataType)).toArray)
    case other => throw new IllegalArgumentException(s"a cube store cannot hold $other layer values")
  }

  private def number(n: JsonNode): Double = if (n.isTextual) n.textValue.toDouble else n.doubleValue
}
