package graft.meta

import graft.io.Hdf5
import org.apache.spark.sql.Row

/** SLC metadata read (S6) — executor-side port of `_read_slc_metadata`
  * (slc_datacube.py:164-219) over an HDF5 file the crawl opened through
  * [[graft.io.HadoopFiles]]: iterate root datasets minus the band list
  * and spline keys, decode strings, stringify numeric arrays, and flatten
  * the `RPC` subgroup as `RPC_<key>` entries. Keys are already lowercase
  * by SLC convention (grd_datacube.py:135-137 note).
  *
  * Produces the same [[GrdTags.RawSchema]] rows as the GRD crawl so the
  * shared projection applies. The pixel datasets (`s_i`/`s_q`) are
  * never read, and need not exist.
  */
object SlcTags {

  private val SplineKeys = Set("RPC", "height_spline", "lat_spline", "lon_spline")

  /** One open SLC file → one raw crawler row, with `path` as its source. */
  def rasterRawRow(f: Hdf5.File, path: String): Row = {
    val entries = f.rootEntries.toMap

    // band datasets to exclude: the "bands" dataset when present, else
    // the s_i/s_q default (slc_datacube.py:176-181)
    val bandKeys: Set[String] =
      if (entries.contains("bands")) {
        val ds = f.dataset("bands", entries("bands"))
        ds.dtype match {
          case Hdf5.FixedString(_) | Hdf5.VlenString => Set(f.readString(ds)) + "bands"
          case _                                     => Set("bands", "s_i", "s_q")
        }
      } else Set("s_i", "s_q")

    // numeric value readers with None on absent/mistyped
    def numArr(k: String): Option[Array[Double]] =
      entries.get(k).flatMap { a =>
        val ds = f.dataset(k, a)
        ds.dtype match {
          case _: Hdf5.FixedPoint | _: Hdf5.FloatPoint => Some(f.readDoubles(ds))
          case _                                       => None
        }
      }
    def dbl(k: String): java.lang.Double =
      numArr(k).filter(_.length == 1).map(v => java.lang.Double.valueOf(v(0))).orNull
    def intOr(k: String, fb: => Int): java.lang.Integer =
      numArr(k).filter(_.length == 1).map(v => Integer.valueOf(v(0).toInt))
        .getOrElse(Integer.valueOf(fb))
    def str(k: String): String =
      entries.get(k).flatMap { a =>
        val ds = f.dataset(k, a)
        ds.dtype match {
          case Hdf5.FixedString(_) | Hdf5.VlenString => Some(f.readString(ds))
          case _                                     => None
        }
      }.orNull
    def vect(k: String): Seq[Double] = numArr(k).map(_.toSeq).orNull

    // raster shape fallback from the band dataset dims
    // (metadata_crawler.py:51-57)
    lazy val bandDims: Seq[Long] =
      entries.get("s_i").map(a => f.dataset("s_i", a).dims).getOrElse(Seq(0L, 0L))

    val extras = scala.collection.mutable.LinkedHashMap[String, String]()
    entries.toSeq.sortBy(_._1).foreach { case (k, a) =>
      if (!GrdTags.CoreKeys.contains(k) && !bandKeys.contains(k) && !SplineKeys.contains(k) && !f.isGroup(a)) {
        val ds = f.dataset(k, a)
        val v = ds.dtype match {
          case Hdf5.FixedString(_) | Hdf5.VlenString => f.readString(ds)
          case _ =>
            val xs = f.readDoubles(ds)
            if (ds.dims.isEmpty) xs(0).toString else GrdTags.strList(xs)
        }
        extras(k) = v
      }
    }
    // RPC subgroup → RPC_<key> float arrays (slc_datacube.py:211-218)
    f.subgroupEntries("RPC") match {
      case Some(rpc) =>
        rpc.sortBy(_._1).foreach { case (k, a) =>
          val ds = f.dataset(k, a)
          val xs = f.readDoubles(ds)
          extras(s"RPC_$k") = if (ds.dims.isEmpty) xs(0).toString else GrdTags.strList(xs)
        }
      case None => extras("RPC") = "None"
    }

    Row(
      str("product_file"),
      dbl("incidence_center"),
      vect("local_incidence_angle"),
      dbl("incidence_near"),
      dbl("incidence_far"),
      str("look_side"),
      str("orbit_direction"),
      str("acquisition_end_utc"),
      intOr("number_of_azimuth_samples", bandDims.headOption.getOrElse(0L).toInt),
      intOr("number_of_range_samples", if (bandDims.size > 1) bandDims(1).toInt else 0),
      vect("coord_first_near"),
      vect("coord_first_far"),
      vect("coord_last_near"),
      vect("coord_last_far"),
      extras.toMap,
      path)
  }
}
