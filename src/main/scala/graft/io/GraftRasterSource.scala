package graft.io

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 for raster stacks, one connector for both binary
  * formats: `spark.read.format("graft-tiff").load(dir)` → long GRD pixel
  * rows `(path, azimuth, range, intensity)`, `format("graft-slc")` →
  * SLC rows `(path, azimuth, range, real, imag)`. Cube ingest
  * ([[TiffPixelSource]], [[SlcH5Source]]) and [[Dem]] read through it.
  *
  * Only a [[RasterFormat]] varies: extensions, value columns, header
  * dims and a row-bounded decode ([[Tiff.decodeRows]] over strips/tiles;
  * [[Hdf5]]'s `readDoublesRows` over `s_i`/`s_q`, a ranged read of a
  * contiguous dataset or a B-tree-pruned chunk set). Everything Catalyst
  * can push needs nothing more, so both formats get all of it:
  *
  *   - **predicate pushdown into block IO**: azimuth bounds
  *     (`>=/<=/=/>/<`) become the decode's row bounds, which skips the
  *     DECOMPRESSION of every strip/tile/chunk whose row range misses
  *     the bound — the binary analog of parquet row-group pruning, proven
  *     by the block counters in the DSv2 specs; `.explain` shows the
  *     bound under `PushedFilters`;
  *   - **raster pruning on `path`**: an equality/IN drops whole files at
  *     plan time, and a path join hands its key set to the scan at
  *     execution time (runtime V2 filtering) — the file is this source's
  *     partition, so this is parquet's partition-column DPP;
  *   - **LIMIT**: a read task stops once it has k rows;
  *     **`ORDER BY azimuth [DESC] LIMIT k`**: each file decodes only
  *     ceil(k/width) head (or tail) rows;
  *   - **header-answered aggregates**: bare `count(*)` and
  *     `min/max(azimuth|range)` from height × width, zero pixel decode;
  *   - **column pruning** and **header row statistics**, so small stacks
  *     auto-broadcast in joins.
  *
  * No pushdown can change a result: azimuth bounds are handed back so
  * Spark re-applies them, a path filter is exact by file, and
  * LIMIT/top-N are partial.
  * Rasters are packed into read tasks as Spark's file sources pack
  * files ([[GraftRasterSource.pack]]): a raster is never split, the
  * reference's per-raster dask fan-out unit. Every file open goes
  * through the session's Hadoop FileSystem
  * ([[GraftRasterSource.withRaster]]), so any registered scheme works.
  * `load(dir)`, `load(file)` and `load(files: _*)` all work; the scan
  * lists its files once, when Spark plans it.
  */
abstract class GraftRasterSource(format: RasterFormat) extends TableProvider
    with DataSourceRegister {
  override def shortName(): String = format.shortName
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = format.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RasterTable(format, Option(properties.get("paths"))
      .map(new com.fasterxml.jackson.databind.ObjectMapper().readValue(_, classOf[Array[String]]).toSeq)
      .orElse(Option(properties.get("path")).map(Seq(_)))
      .getOrElse(throw new IllegalArgumentException(s"${format.shortName} requires a load path")))
}

class GraftTiffSource extends GraftRasterSource(RasterFormat.Grd)
class GraftSlcSource extends GraftRasterSource(RasterFormat.Slc)

object GraftRasterSource {

  private def hadoopConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** The raster files of load paths as (qualified path, length),
    * distinct and sorted by path: each path itself if it is a file, else
    * its children with one of the format's extensions. */
  def listRasters(format: RasterFormat, paths: String*): Seq[(String, Long)] =
    paths.flatMap { pathStr =>
      val p = new Path(pathStr)
      val fs = p.getFileSystem(hadoopConf)
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toSeq.filter(f => f.isFile &&
        format.extensions.exists(e => f.getPath.getName.toLowerCase.endsWith("." + e)))
    }.map(f => f.getPath.toString -> f.getLen).distinct.sortBy(_._1)

  /** Rasters grouped into read tasks the way Spark's file sources pack
    * files: each costs its length plus `spark.sql.files.openCostInBytes`,
    * and a task takes files in path order until the next would pass
    * min(maxPartitionBytes, max(openCost, total cost / parallelism)).
    * Large rasters get a task each; a stack of small ones does not pay a
    * task, and a written output file, per raster. */
  private[io] def pack(files: Seq[(String, Long)]): Seq[Seq[String]] = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val open = conf.filesOpenCostInBytes
    val parallelism = conf.filesMinPartitionNum
      .getOrElse(SparkSession.active.sparkContext.defaultParallelism)
    val split = math.min(conf.filesMaxPartitionBytes,
      math.max(open, files.map(_._2 + open).sum / math.max(parallelism, 1)))
    val tasks = Seq.newBuilder[Seq[String]]
    var task = Vector.empty[String]
    var size = 0L
    files.foreach { case (f, len) =>
      if (task.nonEmpty && size + len > split) { tasks += task; task = Vector.empty; size = 0L }
      task :+= f
      size += len + open
    }
    if (task.nonEmpty) tasks += task
    tasks.result()
  }

  /** The `path` column value of a qualified raster path: the bare,
    * unencoded path on the local filesystem, the full path elsewhere. */
  def pathKey(file: String): String = {
    val uri = new Path(file).toUri
    if (uri.getScheme == null || uri.getScheme == "file") uri.getPath else file
  }

  /** A path as a caller spells it, qualified against its filesystem. */
  def qualify(path: String): String = {
    val p = new Path(path)
    p.getFileSystem(hadoopConf).makeQualified(p).toString
  }

  /** Files up to this size are read whole at the first read of a
    * payload open: one filesystem read serves the header walk and the
    * payload. */
  private val WholeFile = 1 << 20

  /** In larger files, reads shorter than this come from one window of
    * this size read ahead from the first miss, so a header walk (dozens
    * of small reads) costs about one filesystem read; longer reads
    * (payloads, chunks) go straight to the stream. */
  private val Window = 64 * 1024

  /** Open one raster through the Hadoop FileSystem, run `body` on it,
    * close it. Reads are positional (clipped at EOF, as [[Hdf5.open]]
    * does); every read a [[Raster]] makes happens inside `body`.
    * `payload` = `body` decodes pixels; a header-only open (stats, dims,
    * dtype) never reads a file whole, only the windows its header walk
    * touches. */
  def withRaster[T](format: RasterFormat, file: String, conf: Configuration, payload: Boolean)(
      body: Raster => T): T = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      def direct(off: Long, n: Int): Array[Byte] = {
        val buf = new Array[Byte](math.max(math.min(n.toLong, len - off), 0L).toInt)
        if (buf.nonEmpty) { in.seek(off); in.readFully(buf) }
        buf
      }
      val whole = payload && len <= WholeFile
      var winOff = 0L
      var win = Array.emptyByteArray
      val read: Tiff.ReadAt = (off, n) => {
        val hit = off >= winOff && (off + n <= winOff + win.length || winOff + win.length == len)
        if (!hit && !whole && n >= Window) direct(off, n)
        else {
          if (!hit) {
            winOff = if (whole) 0L else off
            win = direct(winOff, if (whole) len.toInt else Window)
          }
          val from = math.min(off - winOff, win.length.toLong).toInt
          java.util.Arrays.copyOfRange(win, from, math.min(from.toLong + n, win.length.toLong).toInt)
        }
      }
      body(format.open(pathKey(file), read, len))
    } finally in.close()
  }

  /** A header-only [[withRaster]] with the active session's Hadoop
    * configuration. */
  def withHeader[T](format: RasterFormat, file: String)(body: Raster => T): T =
    withRaster(format, file, hadoopConf, payload = false)(body)
}

/** What varies between the raster formats of [[GraftRasterSource]]. */
sealed abstract class RasterFormat(val shortName: String,
    val extensions: Set[String], valueCols: Seq[String]) extends Serializable {

  val schema: StructType = StructType(
    Seq(StructField("path", StringType, nullable = false),
      StructField("azimuth", IntegerType, nullable = false),
      StructField("range", IntegerType, nullable = false)) ++
      valueCols.map(StructField(_, DoubleType, nullable = false)))

  /** The provider class, for `spark.read.format`: resolving it by class
    * name needs no META-INF service entry on the classpath. */
  def provider: String

  /** Parse one file's header. `name` labels errors; `read` is live only
    * for the duration of the enclosing [[GraftRasterSource.withRaster]]. */
  def open(name: String, read: Tiff.ReadAt, len: Long): Raster
}

object RasterFormat {

  /** GRD GeoTIFF: one `intensity` value per pixel. */
  case object Grd extends RasterFormat("graft-tiff", Set("tif", "tiff"), Seq("intensity")) {
    def provider: String = classOf[GraftTiffSource].getName
    def open(name: String, read: Tiff.ReadAt, len: Long): Raster = {
      val info = Tiff.readHeader(read)
      new Raster {
        val height: Int = info.height
        val width: Int = info.width
        def dtype: String = info.dtype
        def rows(lo: Int, hi: Int): PixelCursor = {
          require(len <= Int.MaxValue,
            s"$name is $len bytes; the single-allocation GRD decoder caps at 2 GB/file")
          val it = if (lo > hi) Iterator.empty else Tiff.decodeRows(read(0L, len.toInt), info, lo, hi)
          new PixelCursor {
            private var cur: (Int, Int, Double) = _
            def next(): Boolean = it.hasNext && { cur = it.next(); true }
            def azimuth: Int = cur._1
            def range: Int = cur._2
            def value(k: Int): Double = cur._3
          }
        }
      }
    }
  }

  /** SLC HDF5: the `s_i`/`s_q` complex pair as `real`, `imag`. */
  case object Slc extends RasterFormat("graft-slc", Set("h5"), Seq("real", "imag")) {
    def provider: String = classOf[GraftSlcSource].getName
    def open(name: String, read: Tiff.ReadAt, len: Long): Raster = {
      val f = new Hdf5.File(read)
      val entries = f.rootEntries.toMap
      def dataset(n: String) = f.dataset(n, entries.getOrElse(n,
        throw new IllegalArgumentException(s"no $n dataset in $name")))
      val si = dataset("s_i")
      val sq = dataset("s_q")
      require(si.dims.size == 2 && si.dims == sq.dims,
        s"s_i/s_q must be matching 2-D datasets in $name")
      new Raster {
        val height: Int = si.dims(0).toInt
        val width: Int = si.dims(1).toInt
        /** get_master_dtype twin (slc_datacube.py:257-277). */
        def dtype: String = si.dtype match {
          case Hdf5.FixedPoint(size, signed, _) => (if (signed) "int" else "uint") + (size * 8)
          case Hdf5.FloatPoint(size, _)         => "float" + (size * 8)
          case t => throw new IllegalArgumentException(s"unexpected s_i dtype $t in $name")
        }
        def rows(lo: Int, hi: Int): PixelCursor = {
          val re = f.readDoublesRows(si, lo, hi)
          val im = f.readDoublesRows(sq, lo, hi)
          new PixelCursor {
            private var i = -1
            def next(): Boolean = { i += 1; i < re.length }
            def azimuth: Int = lo + i / width
            def range: Int = i % width
            def value(k: Int): Double = if (k == 0) re(i) else im(i)
          }
        }
      }
    }
  }
}

/** One opened raster file. */
trait Raster {
  def height: Int
  def width: Int
  /** numpy-style pixel dtype (the master-dtype vocabulary). */
  def dtype: String
  /** Pixels of azimuth rows [lo, hi] (within the raster; none when
    * lo > hi, without reading) in row-major order. All file reads happen
    * before this returns. */
  def rows(lo: Int, hi: Int): PixelCursor
}

/** Row-major pixel cursor: `next()`, then the current pixel's
  * coordinates and its k-th value column. */
trait PixelCursor {
  def next(): Boolean
  def azimuth: Int
  def range: Int
  def value(k: Int): Double
}

/** One loaded stack: its load paths. Each scan lists them afresh. */
class RasterTable(val format: RasterFormat, val paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"${format.shortName} " + (paths match {
    case Seq(p) => p
    case ps => s"${ps.size} paths [${ps.head}, …]"
  })
  override def schema(): StructType = format.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RasterScanBuilder(this)

  def listRasters(): Seq[(String, Long)] = GraftRasterSource.listRasters(format, paths: _*)
}

class RasterScanBuilder(table: RasterTable) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var required: StructType = table.format.schema
  private var pushed: Array[Filter] = Array.empty
  private var rowLo: Int = 0
  private var rowHi: Int = Int.MaxValue
  private var pushedAggs: Seq[HeaderAgg] = Nil
  private var limit: Option[Int] = None
  private var topN: Option[SortDirection] = None
  private var staticPaths: Option[Set[String]] = None

  private def intersectPaths(vs: Set[String]): Unit =
    staticPaths = Some(staticPaths.fold(vs)(_ intersect vs))

  /** LIMIT pushes into the block decode: a read task decodes only
    * ceil(rows still wanted/width) azimuth rows' worth of blocks per
    * file and opens no file once it has `limit` rows. PARTIALLY pushed
    * (each partition honors the limit independently; Spark's own Limit
    * still runs on top), so correctness never depends on it. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  /** `ORDER BY azimuth [ASC|DESC] LIMIT k` pushes as a HEAD or TAIL
    * block read: rows decode in ascending azimuth per file, so EVERY
    * file of a task decodes its first (ASC) or last (DESC) ceil(k/width)
    * azimuth rows (for DESC the reader re-bounds rowLo from the header's
    * height — the "latest rows first" access path). Unlike a plain
    * LIMIT, a task is not capped: any of its files may hold the global
    * top k. Partially pushed: Spark still sorts and limits globally. Only
    * a single bare azimuth sort key qualifies. */
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = orders match {
    case Array(o) if o.expression().describe() == "azimuth" =>
      limit = Some(l)
      topN = Some(o.direction())
      true
    case _ => false
  }

  /** Bare `count(*)` and `min/max(azimuth|range)` answer from the
    * HEADER (width × height — a few seeks, zero pixel decode): azimuth
    * spans 0..height-1 and range 0..width-1 for every decoded row by
    * construction. Partial pushdown — each file contributes one stats
    * row and Spark folds them. Spark offers the aggregate only when no
    * residual filter sits above the scan; `pushed.isEmpty` is ALSO
    * re-checked in [[build]] so a pushdown-ordering change in Spark
    * cannot produce wrong stats. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty) return false
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(HeaderAgg.Count)
      case m: Min => HeaderAgg.Extremes.get(s"min(${m.column.describe()})")
      case m: Max => HeaderAgg.Extremes.get(s"max(${m.column.describe()})")
      case _ => None
    }
    if (specs.forall(_.isDefined)) { pushedAggs = specs.flatten; true }
    else false
  }

  /** Narrows the scan by one filter; false = not pushable. */
  private def push(f: Filter): Boolean = {
    f match {
      case GreaterThanOrEqual("azimuth", v: Number) => rowLo = math.max(rowLo, v.intValue())
      case GreaterThan("azimuth", v: Number) => rowLo = math.max(rowLo, v.intValue() + 1)
      case LessThanOrEqual("azimuth", v: Number) => rowHi = math.min(rowHi, v.intValue())
      case LessThan("azimuth", v: Number) => rowHi = math.min(rowHi, v.intValue() - 1)
      case EqualTo("azimuth", v: Number) =>
        rowLo = math.max(rowLo, v.intValue()); rowHi = math.min(rowHi, v.intValue())
      // STATIC raster pruning: a path equality/IN (e.g. constant-
      // propagated through a join against a literal-filtered manifest,
      // or cube ingest's survivor list) drops whole files from the
      // listing at PLAN time — the static sibling of the runtime filter
      case EqualTo("path", v: String) => intersectPaths(Set(v))
      case In("path", vs) if vs.forall(_.isInstanceOf[String]) =>
        intersectPaths(vs.map(_.asInstanceOf[String]).toSet)
      case _ => return false
    }
    true
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(push)
    pushed = accepted
    // hand back the azimuth bounds: Spark re-applies them post-scan
    // (an int compare), which keeps block pruning purely an IO
    // optimization. A path filter is exact by construction — a kept
    // file's rows all carry its key — so no per-row string test is left
    rejected ++ accepted.filterNot(f => f.references.sameElements(Array("path")))
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    // defensive: stats from headers are only valid with zero pushed
    // filters (pushAggregation refuses a filtered scan, but the order in
    // which Spark pushes is a Spark-version behavior, not our invariant)
    if (pushedAggs.nonEmpty && pushed.isEmpty) new RasterStatsScan(table, pushedAggs)
    else new RasterScan(table, required, pushed, rowLo, rowHi, limit, staticPaths, topN)
}

/** A header-answerable aggregate: its per-file partial value from the
  * raster's (height, width); null = no rows in this file. */
final case class HeaderAgg(name: String, dataType: DataType, eval: (Int, Int) => Any)

object HeaderAgg {
  val Count: HeaderAgg = HeaderAgg("count(*)", LongType, (h, w) => h.toLong * w)

  private def extreme(name: String, v: (Int, Int) => Int) =
    name -> HeaderAgg(name, IntegerType, (h, w) => if (h > 0 && w > 0) v(h, w) else null)

  val Extremes: Map[String, HeaderAgg] = Map(
    extreme("min(azimuth)", (_, _) => 0),
    extreme("max(azimuth)", (h, _) => h - 1),
    extreme("min(range)", (_, _) => 0),
    extreme("max(range)", (_, w) => w - 1))
}

case class RasterPartition(files: Seq[String]) extends InputPartition

/** Header-only scan serving pushed aggregates: one row per raster with
  * one column per aggregate, all derived from height × width; only the
  * header's bytes are read, no pixel is decoded. */
class RasterStatsScan(table: RasterTable, aggs: Seq[HeaderAgg]) extends Scan with Batch {
  // only the extrema are nullable: count(*) of an empty file is 0
  override def readSchema(): StructType =
    StructType(aggs.map(a => StructField(a.name, a.dataType, nullable = a != HeaderAgg.Count)))
  override def toBatch: Batch = this
  override def description(): String =
    s"${table.name()}, PushedAggregates: [${aggs.map(_.name).mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    GraftRasterSource.pack(table.listRasters()).map(RasterPartition(_): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new RasterReaderFactory(table.format, Left(aggs))
}

class RasterScan(table: RasterTable, required: StructType,
    pushed: Array[Filter], rowLo: Int, rowHi: Int, limit: Option[Int],
    staticPaths: Option[Set[String]], topN: Option[SortDirection])
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  /** Rasters surviving the PLAN-time path pushdown, listed once per scan. */
  private lazy val staticFiles: Seq[(String, Long)] = {
    val all = table.listRasters()
    staticPaths.fold(all)(set => all.filter(f => set.contains(GraftRasterSource.pathKey(f._1))))
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${table.name()}, PushedFilters: [${pushed.mkString(", ")}]" +
      limit.fold("")(l =>
        if (topN.contains(SortDirection.DESCENDING)) s", PushedTopN: azimuth DESC LIMIT $l"
        else s", PushedLimit: $l")

  // ----- runtime (DPP-style) raster pruning -----
  // Joining a stack on `path` against a small dimension (the labels
  // table, a crawl manifest, an AOI-filtered raster list) hands the
  // dimension's path set to the scan AT EXECUTION time through Spark's
  // dynamic partition pruning; whole rasters are then never opened.
  // Conservative by contract: an unrecognized predicate shape keeps
  // every raster (Spark re-applies the join itself).
  @volatile private var runtimeFiles: Option[Set[String]] = None

  override def filterAttributes(): Array[NamedReference] =
    // only when the projection kept `path` — advertising a pruned-away
    // column makes Spark's runtime-filtering resolution fail
    if (required.fieldNames.contains("path")) Array(Expressions.column("path"))
    else Array.empty

  override def filter(predicates: Array[Predicate]): Unit = {
    val values = predicates.filter(p => p.name() == "IN" || p.name() == "=")
      .flatMap(_.children().collect { case l: Literal[_] => l.value() })
    // an unexpected literal type keeps every raster
    if (values.nonEmpty && values.forall(v => v.isInstanceOf[UTF8String] || v.isInstanceOf[String])) {
      val keep = values.map(_.toString).toSet
      runtimeFiles = Some(keep)
      RasterScan.runtimeFilteredTo.set(keep.size)
    }
  }

  /** Header-derived statistics for Catalyst's planner: numRows =
    * Σ_file width × surviving-azimuth-rows (exact when no residual
    * filters — an upper bound otherwise, which is the Statistics
    * contract), sizeInBytes from the projected column count. Without it
    * a DSv2 relation defaults to "huge" and every raster join
    * sort-merges. Header reads are a few seeks per file, driver-side. */
  override def estimateStatistics(): Statistics = {
    val rows = staticFiles.map { case (f, _) =>
      val (height, width) = GraftRasterSource.withHeader(table.format, f)(r => (r.height, r.width))
      val hi = math.min(rowHi, height - 1)
      math.max(hi - math.max(rowLo, 0) + 1, 0).toLong * width
    }.sum
    val n = limit.fold(rows)(l => math.min(rows, l.toLong))
    val bytes = n * 8L * math.max(required.size, 1)
    new Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
      override def numRows(): util.OptionalLong = util.OptionalLong.of(n)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val kept = runtimeFiles.fold(staticFiles)(set =>
      staticFiles.filter(f => set.contains(GraftRasterSource.pathKey(f._1))))
    RasterScan.plannedRasters.set(kept.size)
    GraftRasterSource.pack(kept).map(RasterPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RasterReaderFactory(table.format, Right(RowBounds(required, rowLo, rowHi, limit, topN)))
}

object RasterScan {
  /** Single-JVM test instrumentation (the blocksDecompressed pattern):
    * how many paths the last runtime filter kept, and how many rasters
    * the last planning pass kept. */
  val runtimeFilteredTo = new java.util.concurrent.atomic.AtomicInteger(-1)
  val plannedRasters = new java.util.concurrent.atomic.AtomicInteger(-1)
}

/** What a row scan reads: the projection, the pushed row bounds and a
  * pushed LIMIT, with the sort direction when it came with an azimuth
  * sort (top-N). */
final case class RowBounds(required: StructType, rowLo: Int, rowHi: Int,
    limit: Option[Int], topN: Option[SortDirection])

/** Left = header aggregates (one stats row per file), Right = pixel rows.
  * Built on the driver, so it ships the session's Hadoop configuration. */
class RasterReaderFactory(format: RasterFormat, read: Either[Seq[HeaderAgg], RowBounds])
    extends PartitionReaderFactory {
  private val conf = new SerializableConfiguration(
    SparkSession.active.sparkContext.hadoopConfiguration)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[RasterPartition].files
    read match {
      case Left(aggs) => new PartitionReader[InternalRow] {
        private val pending = files.iterator
        private var current: InternalRow = _
        override def next(): Boolean = pending.hasNext && {
          current = GraftRasterSource.withRaster(format, pending.next(), conf.value, payload = false)(
            r => InternalRow.fromSeq(aggs.map(_.eval(r.height, r.width))))
          true
        }
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
      case Right(b) => new RasterReader(format, files, b, conf.value)
    }
  }
}

/** Row reader over a task's rasters, one file at a time: header, then
  * the row-bounded decode. A plain LIMIT caps the task's rows, so each
  * file decodes at most ceil(rows still wanted / width) azimuth rows and
  * no file is opened once the limit is met. A top-N caps each FILE
  * instead: every file decodes its ceil(k / width) head (ASC) or tail
  * (DESC) rows, and Spark's own sort + limit picks the global top k. */
class RasterReader(format: RasterFormat, files: Seq[String], b: RowBounds, conf: Configuration)
    extends PartitionReader[InternalRow] {

  // projection → schema ordinals once per partition; one reused row
  private val ordinals: Array[Int] = b.required.fieldNames.map(format.schema.fieldIndex)
  private val row = new SpecificInternalRow(b.required.fields.map(_.dataType).toSeq)
  private var left: Long = if (b.topN.isDefined) Long.MaxValue else b.limit.fold(Long.MaxValue)(_.toLong)
  private val desc = b.topN.contains(SortDirection.DESCENDING)
  private val pending = files.iterator
  private var pathUtf8: UTF8String = _
  private var px: PixelCursor = _

  private def open(file: String): PixelCursor =
      GraftRasterSource.withRaster(format, file, conf, payload = true) { r =>
    val w = math.max(r.width, 1)
    val need = b.limit.map(l => ((if (b.topN.isDefined) l.toLong else left) + w - 1) / w)
    val top = math.min(b.rowHi, r.height - 1)
    val (lo, hi) =
      if (desc && need.isDefined) (math.max(b.rowLo.toLong, top - need.get + 1).toInt, top)
      else {
        val lo = math.max(b.rowLo, 0)
        (lo, need.fold(top)(n => math.min(top.toLong, lo + n - 1).toInt))
      }
    r.rows(lo, hi)
  }

  override def next(): Boolean = {
    while (left > 0 && (px == null || !px.next())) {
      if (!pending.hasNext) return false
      val file = pending.next()
      pathUtf8 = UTF8String.fromString(GraftRasterSource.pathKey(file))
      px = open(file)
    }
    left > 0 && { left -= 1; true }
  }

  override def get(): InternalRow = {
    var i = 0
    while (i < ordinals.length) {
      ordinals(i) match {
        case 0 => row.update(i, pathUtf8)
        case 1 => row.setInt(i, px.azimuth)
        case 2 => row.setInt(i, px.range)
        case k => row.setDouble(i, px.value(k - 3))
      }
      i += 1
    }
    row
  }

  override def close(): Unit = ()
}
