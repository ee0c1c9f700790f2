package graft.meta

import java.time.{LocalDate, ZoneId}
import java.time.format.{DateTimeFormatter, ResolverStyle}
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import graft.core.CubeConfig
import graft.functions.Geo
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{IntegerType, StructType, TimestampType}

/** The metadata plan: the reference's
  * `filter_metadata_df_as_per_configuration` pipeline
  * (icecube/bin/sar_cube/sar_datacube_metadata.py:123-268) over the
  * layers table, one row per image, before any pixel is read, so pruned
  * files are never scanned.
  *
  * The reference runs it in pandas, and so does this planner in spirit:
  * [[plan]] collects the crawled layers once and runs every stage on
  * those rows on the driver. A build's plan therefore costs one Spark
  * job whichever stages the config enables. The table has layer
  * cardinality; README "Scale design" gives its driver-memory bound.
  * The stage methods keep a `DataFrame => DataFrame` face for callers
  * that compose them one at a time.
  */
final class CubePlanner(config: CubeConfig) {
  import CubePlanner._

  /** Full pipeline: date filter → angle filter → dedup → overlap →
    * resample → non-empty assert → band order. Returns a local relation
    * of the planned rows in band order, with `band_time` (midnight of
    * `acquisition_date` in the session time zone, as `to_timestamp`) and
    * `band_index` (0..n-1) appended. */
  def plan(layers: DataFrame): DataFrame = {
    var rows: Seq[Row] = layers.collect().toSeq
    // F4 guard: a filter is skipped when its column is all-null
    // (sar_datacube_metadata.py:127,134) — all-null ⇒ keep all rows.
    if (rows.exists(acquisitionDate(_) != null)) rows = requestedDates(rows)
    if (rows.exists(_.getAs[Any]("incidence_center") != null)) rows = requestedAngles(rows)
    if (!config.temporalOverlap && !datesUnique(rows)) rows = latestPerDate(rows)
    if (config.spaceOverlap && !config.coregistered) rows = overlapping(rows)
    if (config.temporalResolution != 0) rows = resampled(rows, nullable(layers.schema))
    // F5: empty-plan error (…:157-161)
    if (rows.isEmpty) {
      throw new IllegalStateException(
        "No rasters found against given configuration. Please check user-configuration.")
    }
    // O1 + band coordinates (sar_datacube.py:144-150): date ascending,
    // then product_file, both nulls last; equal keys keep input order
    val zone = ZoneId.of(layers.sparkSession.conf.get("spark.sql.session.timeZone"), ZoneId.SHORT_IDS)
    val banded = rows.sortBy(r => (date(r).fold(Long.MaxValue)(_.toEpochDay),
        Option(productFile(r)).fold((1, ""))((0, _))))
      .zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ date(r).map(_.atStartOfDay(zone).toInstant).orNull :+ i)
      }
    val schema = nullable(layers.schema)
      .add("band_time", TimestampType).add("band_index", IntegerType, nullable = false)
    layers.sparkSession.createDataFrame(banded.asJava, schema)
  }

  /** F2: inclusive date-range filter (…:168-176); null dates drop. */
  def selectRequestedDates(df: DataFrame): DataFrame = onRows(df)(requestedDates)

  /** O2: one row per date, the latest numeric `acquisition_time`
    * (…:185-202); null dates form one group. */
  def pruneTemporalOverlap(df: DataFrame): DataFrame = onRows(df)(latestPerDate)

  /** J1: spatial-overlap semi-join against the earliest raster's extent
    * (…:204-222). */
  def selectOverlappingRasters(df: DataFrame): DataFrame = onRows(df)(overlapping)

  /** A3/J3: temporal resample + gap fill (…:224-256). */
  def setTemporalResolution(df: DataFrame): DataFrame = onRows(df)(resampled(_, nullable(df.schema)))

  private def requestedDates(rows: Seq[Row]): Seq[Row] =
    rows.filter(r => date(r).exists(d => !d.isBefore(config.startDate) && !d.isAfter(config.endDate)))

  /** F3: inclusive incidence-angle filter (…:178-183); null angles drop. */
  private def requestedAngles(rows: Seq[Row]): Seq[Row] =
    rows.filter(r => Option(r.getAs[Number]("incidence_center")).map(_.doubleValue)
      .exists(a => a >= config.minIncidenceAngle && a <= config.maxIncidenceAngle))

  /** Whether the non-null dates are distinct (the dedup guard). */
  private def datesUnique(rows: Seq[Row]): Boolean = {
    val dates = rows.flatMap(r => Option(acquisitionDate(r)))
    dates.distinct.size == dates.size
  }

  /** Per date the row with the largest `acquisition_time` as a double
    * (NaN largest, null smallest); ties go to the smallest
    * `product_file` (null first), then to input order. */
  private def latestPerDate(rows: Seq[Row]): Seq[Row] = {
    def time(r: Row) = Option(r.getAs[String]("acquisition_time")).map(_.trim.toDouble)
    val latest: Ordering[Int] = (a, b) => (time(rows(a)), time(rows(b))) match {
      case (Some(x), Some(y)) if java.lang.Double.compare(x, y) != 0 => java.lang.Double.compare(y, x)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case _ => Ordering.Option[String].compare(Option(productFile(rows(a))), Option(productFile(rows(b))))
    }
    rows.indices.groupBy(i => acquisitionDate(rows(i))).values.map(_.min(latest)).toSeq.sorted.map(rows)
  }

  /** The primary raster is the earliest by `acquisition_date` as a number
    * (nulls last), then `product_file`. A row survives when its extent
    * intersects the primary's ([[Geo.wktIntersects]]); a null extent on
    * either side intersects nothing. Prints the reference's warning when
    * only the primary survives. */
  private def overlapping(rows: Seq[Row]): Seq[Row] = {
    def extent(r: Row) = Option(r.getAs[String]("extent"))
    val primary = rows.minByOption(r => (Option(acquisitionDate(r)).fold((1, 0L))(d => (0, d.trim.toLong)),
      Option(productFile(r)))).flatMap(extent)
    val kept = rows.filter(r => primary.exists(p => extent(r).exists(Geo.wktIntersects(_, p))))
    if (kept.size == 1) Console.err.println(NoSecondaryWarning)
    kept
  }

  /** pandas semantics: `asfreq(nD)` keeps rows aligned to the FIRST
    * surviving date, then `reindex(date_range(start, end, nD))` re-grids
    * from the configured start — a row survives only if its date sits on
    * BOTH grids; every other grid date becomes an all-null gap row that
    * carries only its date. Duplicate dates ⇒ error (…:232-236). */
  private def resampled(rows: Seq[Row], schema: StructType): Seq[Row] = {
    val n = config.temporalResolution
    require(n > 0, s"temporal_resolution must be a positive number of days, got $n")
    if (rows.groupBy(acquisitionDate).exists(_._2.size > 1)) {
      throw new IllegalStateException(
        s"Duplicate entries found for configured temporal resolution: $n, please set temporal_overlap to false")
    }
    val first = rows.flatMap(date).minOption
    val aligned = rows.flatMap(r => date(r).map(_ -> r)).toMap
      .filter { case (d, _) => first.exists(f => ChronoUnit.DAYS.between(f, d) % n == 0) }
    val dateAt = schema.fieldIndex("acquisition_date")
    Iterator.iterate(config.startDate)(_.plusDays(n)).takeWhile(!_.isAfter(config.endDate)).map { g =>
      val values = aligned.get(g).fold(new Array[Any](schema.length))(_.toSeq.toArray)
      values(dateAt) = g.format(DateFmt)
      new GenericRowWithSchema(values, schema): Row
    }.toSeq
  }
}

object CubePlanner {

  /** The reference's warning when the overlap test keeps only the
    * primary raster (sar_datacube_metadata.py:217-221). */
  val NoSecondaryWarning: String = "[graft] warning: No secondary raster(s) found with " +
    "current configuration that has space overlap with primary raster"

  /** `yyyyMMdd`, strict like Spark's `to_date`: an invalid date is an error. */
  private val DateFmt = DateTimeFormatter.ofPattern("uuuuMMdd").withResolverStyle(ResolverStyle.STRICT)

  private def acquisitionDate(r: Row): String = r.getAs[String]("acquisition_date")

  private def productFile(r: Row): String = r.getAs[String]("product_file")

  private def date(r: Row): Option[LocalDate] = Option(acquisitionDate(r)).map(LocalDate.parse(_, DateFmt))

  private def nullable(schema: StructType): StructType = StructType(schema.map(_.copy(nullable = true)))

  /** The one rows adapter behind the stage methods: collect, run the
    * stage on the driver, return a local relation. */
  private def onRows(df: DataFrame)(stage: Seq[Row] => Seq[Row]): DataFrame =
    df.sparkSession.createDataFrame(stage(df.collect().toSeq).asJava, nullable(df.schema))
}
