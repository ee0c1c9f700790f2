package graft.core

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Cube build configuration.
  *
  * Semantics ported from the reference `CubeConfig`
  * (icecube/bin/config.py:26-203): same keys, same defaults
  * (config.py:49-57), same validation/coercion rules
  * (config.py:70-154) and the same end≥start / max≥min asserts
  * (config.py:156-166). Unknown keys warn but do not fail.
  */
final case class CubeConfig(
    startDate: LocalDate = LocalDate.of(1970, 1, 1),
    endDate: LocalDate = LocalDate.now(),
    minIncidenceAngle: Double = 0.0,
    maxIncidenceAngle: Double = 90.0,
    temporalResolution: Int = 0,
    coregistered: Boolean = false,
    spaceOverlap: Boolean = false,
    temporalOverlap: Boolean = true,
) {
  require(!endDate.isBefore(startDate), "end date must be >= equal to start date")
  require(maxIncidenceAngle >= minIncidenceAngle, "max_incidence_angle must be >= min_incidence_angle")
}

object CubeConfig {
  val PossibleKeys: Set[String] = Set(
    "start_date", "end_date", "min_incidence_angle", "max_incidence_angle",
    "temporal_resolution", "coregistered", "space_overlap", "temporal_overlap")

  private val DateFmt = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Load from a JSON file through the Hadoop FileSystem of its scheme;
    * `null`/absent path yields pure defaults (reference
    * load_config(None), config.py:184-203). */
  def fromJsonFile(path: String): CubeConfig =
    if (path == null) CubeConfig()
    else fromMap(graft.io.HadoopFiles.readJson(path, classOf[java.util.Map[String, Object]]).asScala.toMap)

  def fromJsonString(json: String): CubeConfig =
    fromMap(new ObjectMapper().readValue(json, classOf[java.util.Map[String, Object]]).asScala.toMap)

  /** Python-truthiness for the three boolean keys (config.py:87-97 accepts
    * True, 'True', 1 — any value `bool()` accepts). */
  private def truthy(v: Object): Boolean = v match {
    case b: java.lang.Boolean => b.booleanValue()
    case n: java.lang.Number  => n.doubleValue() != 0.0
    case s: String            => s.nonEmpty
    case null                 => false
    case other                => throw new IllegalArgumentException(
      s"user config - space_overlap, temporal_overlap, coregistered parameters don't match the expected format: $other")
  }

  private def parseDate(v: Object, key: String): LocalDate =
    try LocalDate.parse(String.valueOf(v), DateFmt)
    catch {
      case _: Exception => throw new IllegalArgumentException(
        s"user config start_date, end_date parameters don't match the expected format ($key=$v, want %Y%m%d)")
    }

  private def parseAngle(v: Object, key: String): Double =
    try String.valueOf(v).toDouble
    catch {
      case _: Exception => throw new IllegalArgumentException(
        s"user config min_incidence_angle, max_incidence_angle parameters don't match the expected format ($key=$v)")
    }

  def fromMap(userConfig: Map[String, Object]): CubeConfig = {
    userConfig.keys.filterNot(PossibleKeys).foreach { k =>
      System.err.println(s"[graft] warning: found un-supported key in user configuration: $k")
    }
    // temporal_resolution must be an actual integer (config.py:122-126).
    userConfig.get("temporal_resolution").foreach {
      case _: java.lang.Integer | _: java.lang.Long =>
      case other => throw new IllegalArgumentException(
        s"user config temporal_resolution parameter does not match the expected format: $other")
    }
    val defaults = CubeConfig()
    CubeConfig(
      startDate = userConfig.get("start_date").map(parseDate(_, "start_date")).getOrElse(defaults.startDate),
      endDate = userConfig.get("end_date").map(parseDate(_, "end_date")).getOrElse(defaults.endDate),
      minIncidenceAngle = userConfig.get("min_incidence_angle").map(parseAngle(_, "min_incidence_angle")).getOrElse(defaults.minIncidenceAngle),
      maxIncidenceAngle = userConfig.get("max_incidence_angle").map(parseAngle(_, "max_incidence_angle")).getOrElse(defaults.maxIncidenceAngle),
      temporalResolution = userConfig.get("temporal_resolution").map(v => String.valueOf(v).toInt).getOrElse(defaults.temporalResolution),
      coregistered = userConfig.get("coregistered").map(truthy).getOrElse(defaults.coregistered),
      spaceOverlap = userConfig.get("space_overlap").map(truthy).getOrElse(defaults.spaceOverlap),
      temporalOverlap = userConfig.get("temporal_overlap").map(truthy).getOrElse(defaults.temporalOverlap),
    )
  }
}
