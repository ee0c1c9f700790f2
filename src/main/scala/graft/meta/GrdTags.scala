package graft.meta

import graft.functions.Parsers
import graft.io.Tiff
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** GRD metadata tag coercion (S5/M10) — executor-side port of
  * `read_GRD_metadata` (analytics_IO.py:374-403) over a parsed TIFF
  * header, which the crawl reads through [[graft.io.HadoopFiles]]:
  *
  *   1. GDAL_METADATA tag → (key, value) pairs; keys normalized (M4,
  *      analytics_IO.py:343-371).
  *   2. Values coerced per the GRD expected-dtype table
  *      (analytics_IO.py:631-717): core fields become typed columns,
  *      everything else is re-stringified into the open-attrs map (the
  *      NumpyEncoder analog, common_utils.py:126-138).
  *   3. Found-but-unexpected keys are recorded as "None"
  *      (analytics_IO.py:390-394).
  *   4. RPC tag 50844 → 4×20 matrix + scale/offset metadata (M10,
  *      analytics_IO.py:876-948); corrupt ⇒ "None".
  */
object GrdTags {

  val RawSchema: StructType = StructType(Seq(
    StructField("product_file", StringType),
    StructField("incidence_center", DoubleType),
    StructField("local_incidence_angle", ArrayType(DoubleType)),
    StructField("incidence_near", DoubleType),
    StructField("incidence_far", DoubleType),
    StructField("look_side", StringType),
    StructField("orbit_direction", StringType),
    StructField("acquisition_end_utc", StringType),
    StructField("number_of_azimuth_samples", IntegerType),
    StructField("number_of_range_samples", IntegerType),
    StructField("coord_first_near", ArrayType(DoubleType)),
    StructField("coord_first_far", ArrayType(DoubleType)),
    StructField("coord_last_near", ArrayType(DoubleType)),
    StructField("coord_last_far", ArrayType(DoubleType)),
    StructField("_extras", MapType(StringType, StringType)),
    StructField("_src", StringType)))

  // GRD expected-dtype table (analytics_IO.py:631-717). Kinds: S=str,
  // I=int, F=float, B=bool, D=datetime-single, DV=datetime-vect,
  // FV=float-vect.
  private val S = "S"; private val I = "I"; private val F = "F"; private val B = "B"
  private val D = "D"; private val DV = "DV"; private val FV = "FV"
  val ExpectedDtypes: Map[String, String] = Map(
    "acquisition_end_utc" -> D, "acquisition_mode" -> S, "acquisition_prf" -> F,
    "acquisition_start_utc" -> S, "ant_elev_corr_flag" -> B, "area_or_point" -> S,
    "avg_scene_height" -> F, "azimuth_spacing" -> F, "azimuth_look_bandwidth" -> F,
    "azimuth_look_overlap" -> F, "azimuth_looks" -> I, "azimuth_time_interval" -> F,
    "calibration_factor" -> F, "carrier_frequency" -> F, "chirp_bandwidth" -> F,
    "chirp_duration" -> F, "coord_center" -> FV, "coord_first_far" -> FV,
    "coord_first_near" -> FV, "coord_last_far" -> FV, "coord_last_near" -> FV,
    "dc_estimate_coeffs" -> FV, "dc_estimate_poly_order" -> I,
    "dc_estimate_time_utc" -> DV, "dc_reference_pixel_time" -> F,
    "doppler_rate_coeffs" -> FV, "doppler_rate_poly_order" -> I,
    "doppler_rate_reference_pixel_time" -> F, "gcp_terrain_model" -> S,
    "geo_ref_system" -> S, "grsr_coefficients" -> FV, "grsr_ground_range_origin" -> F,
    "grsr_poly_order" -> I, "grsr_zero_doppler_time" -> D, "heading" -> F,
    "incidence_angle_coefficients" -> FV, "incidence_angle_ground_range_origin" -> F,
    "incidence_angle_poly_order" -> I, "incidence_angle_zero_doppler_time" -> D,
    "incidence_center" -> F, "incidence_far" -> F, "incidence_near" -> F,
    "look_side" -> S, "mean_earth_radius" -> F, "mean_orbit_altitude" -> F,
    "number_of_azimuth_samples" -> I, "number_of_dc_estimations" -> I,
    "number_of_range_samples" -> I, "number_of_state_vectors" -> I,
    "orbit_absolute_number" -> I, "orbit_direction" -> S,
    "orbit_processing_level" -> S, "orbit_relative_number" -> I,
    "orbit_repeat_cycle" -> I, "polarization" -> S,
    "posX" -> FV, "posY" -> FV, "posZ" -> FV,
    "processing_prf" -> F, "processing_time" -> D, "processor_version" -> S,
    "product_file" -> S, "product_level" -> S, "product_name" -> S,
    "product_type" -> S, "range_looks" -> I, "range_sampling_rate" -> F,
    "range_spacing" -> F, "range_spread_comp_flag" -> B, "sample_precision" -> S,
    "satellite_look_angle" -> S, "satellite_name" -> S,
    "slant_range_to_first_pixel" -> F, "state_vector_time_utc" -> DV,
    "total_processed_bandwidth_azimuth" -> F,
    "velX" -> FV, "velY" -> FV, "velZ" -> FV,
    "window_function_azimuth" -> S, "window_function_range" -> S,
    "zerodoppler_end_utc" -> D, "zerodoppler_start_utc" -> D)

  /** The crawler's typed fields; every other tag goes to the open attrs. */
  private[meta] val CoreKeys: Set[String] = RawSchema.fieldNames.toSet - "_extras" - "_src"

  /** M8 executor twin: numpy-printed vector string → doubles. Single-level
    * brackets only; nested (2-D) or bracket-less ⇒ None, and
    * dc_estimate_coeffs is always None ("value truncated too much to
    * trust", analytics_IO.py:837-841). */
  def parseFloatVect(s: String): Option[Array[Double]] = {
    val t = s.trim
    if (!t.startsWith("[") || !t.endsWith("]")) None
    else if (t.count(_ == '[') != 1) None
    else {
      try Some(t.substring(1, t.length - 1).replace(",", " ").split("\\s+")
        .filter(_.nonEmpty).map(_.toDouble))
      catch { case _: NumberFormatException => None }
    }
  }

  /** Python-list style stringification of a parsed vector (NumpyEncoder
    * ndarray → str(list), common_utils.py:133-135). */
  private[meta] def strList(xs: Array[Double]): String = xs.mkString("[", ", ", "]")

  /** Coerce-and-stringify one non-core tag for the open-attrs map. */
  private def extraValue(key: String, v: String): String =
    ExpectedDtypes.get(key) match {
      case None      => "None" // found-but-unexpected ⇒ None (analytics_IO.py:390-394)
      case Some(FV)  =>
        if (key == "dc_estimate_coeffs") "None"
        else parseFloatVect(v).map(strList).getOrElse("None")
      case Some(B)   => if (v.nonEmpty) "True" else "False" // python bool(str) quirk
      case Some(I)   => try v.trim.toLong.toString catch { case _: NumberFormatException => v }
      case Some(F)   => try v.trim.toDouble.toString catch { case _: NumberFormatException => v }
      case Some(_)   => v // str / datetime kinds stay as-is
    }

  /** One raster's parsed header → one raw crawler row (RawSchema), with
    * `path` as its source. Runs on executors. */
  def rasterRawRow(info: Tiff.Info, path: String): Row = {
    val tags: Map[String, String] = info.gdalXml
      .map(Tiff.gdalItems(_).map { case (k, v) => (Parsers.correctGrdMetadataKey(k), v) }.toMap)
      .getOrElse(Map.empty)

    def str(k: String): String = tags.get(k).orNull
    def dbl(k: String): java.lang.Double =
      tags.get(k).flatMap(v => try Some(java.lang.Double.valueOf(v.trim)) catch {
        case _: NumberFormatException => None
      }).orNull
    def intOr(k: String, fb: Int): java.lang.Integer =
      tags.get(k).flatMap(v => try Some(Integer.valueOf(v.trim)) catch {
        case _: NumberFormatException => None
      }).getOrElse(Integer.valueOf(fb)) // shape fallback = raster header (metadata_crawler.py:51-57)
    def vect(k: String): Seq[Double] = tags.get(k).flatMap(parseFloatVect).map(_.toSeq).orNull

    val extras = scala.collection.mutable.LinkedHashMap[String, String]()
    tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      if (!CoreKeys.contains(k)) extras(k) = extraValue(k, v)
    }
    // M10: RPC from tag 50844 — 4×20 matrix [az_num, az_denom, range_num,
    // range_denom] + scale/offset dict, "None" when absent/corrupt.
    info.rpc match {
      case Some(vals) =>
        extras("RPC") = Tiff.rpcMatrix(vals).map(strList).mkString("[", ", ", "]")
        extras("RPC_metadata") = Tiff.rpcMeta(vals).toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      case None =>
        extras("RPC") = "None"
        extras("RPC_metadata") = "None"
    }

    Row(
      str("product_file"),
      dbl("incidence_center"),
      tags.get("local_incidence_angle").flatMap(parseFloatVect).map(_.toSeq).orNull,
      dbl("incidence_near"),
      dbl("incidence_far"),
      str("look_side"),
      str("orbit_direction"),
      str("acquisition_end_utc"),
      intOr("number_of_azimuth_samples", info.height),
      intOr("number_of_range_samples", info.width),
      vect("coord_first_near"),
      vect("coord_first_far"),
      vect("coord_last_near"),
      vect("coord_last_far"),
      extras.toMap,
      path)
  }
}
