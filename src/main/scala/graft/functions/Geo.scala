package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Minimal planar polygon intersection for raster extents.
  *
  * The reference's spatial-overlap semi-join (J1,
  * icecube/bin/sar_cube/sar_datacube_metadata.py:204-222) tests
  * `shapely.intersects` between raster extent polygons. Extents are
  * 4-corner quads built by metadata_crawler.py:255-267, so a convex
  * polygon separating-axis test is sufficient and dependency-free.
  *
  * The planner calls [[wktIntersects]] on the driver; the KML AOI filter
  * runs it as a Scala UDF. Both see layer-cardinality rows (one per
  * image), never pixels, so codegen pressure is irrelevant.
  */
object Geo {

  /** Parse `POLYGON((x y, x y, ...))` into a closed ring. */
  def parseWktPolygon(wkt: String): Array[(Double, Double)] = {
    val inner = wkt.trim
      .stripPrefix("POLYGON").trim
      .stripPrefix("((").stripSuffix("))")
    inner.split(",").map { pt =>
      val parts = pt.trim.split("\\s+")
      (parts(0).toDouble, parts(1).toDouble)
    }
  }

  private def axes(poly: Array[(Double, Double)]): Iterator[(Double, Double)] =
    poly.indices.iterator.map { i =>
      val (x1, y1) = poly(i)
      val (x2, y2) = poly((i + 1) % poly.length)
      (-(y2 - y1), x2 - x1) // edge normal
    }

  private def project(poly: Array[(Double, Double)], ax: (Double, Double)): (Double, Double) = {
    var lo = Double.MaxValue
    var hi = Double.MinValue
    poly.foreach { case (x, y) =>
      val p = x * ax._1 + y * ax._2
      if (p < lo) lo = p
      if (p > hi) hi = p
    }
    (lo, hi)
  }

  /** Convex polygon intersection via separating axis; touching counts as
    * intersecting (matches shapely `intersects`). */
  def quadsIntersect(a: Array[(Double, Double)], b: Array[(Double, Double)]): Boolean =
    (axes(a) ++ axes(b)).forall { ax =>
      val (alo, ahi) = project(a, ax)
      val (blo, bhi) = project(b, ax)
      ahi >= blo && bhi >= alo
    }

  def wktIntersects(wktA: String, wktB: String): Boolean =
    quadsIntersect(parseWktPolygon(wktA), parseWktPolygon(wktB))

  private val intersectsUdf = udf((a: String, b: String) =>
    if (a == null || b == null) false else wktIntersects(a, b))

  /** `st_intersects(extentA, extentB)` as a Column. */
  def stIntersects(a: Column, b: Column): Column = intersectsUdf(a, b)

  /** S10 cube path: KML AOI → WKT polygon (lon lat order, matching the
    * crawler's extent WKT). Closes the ring if the KML left it open.
    * Driver-side: a KML is a single control polygon, never data-plane. */
  def kmlToWkt(kml: String): String = {
    val pts = Parsers.parseKmlCoordinates(kml).map { case (lon, lat, _) => s"$lon $lat" }
    require(pts.size >= 3, s"KML AOI needs at least 3 coordinates, got ${pts.size}")
    val ring = if (pts.head == pts.last) pts else pts :+ pts.head
    ring.mkString("POLYGON((", ", ", "))")
  }

  /** Filter a layers/metadata table to rows whose `extent` intersects the
    * KML AOI — the J1 overlap machinery applied to a user-supplied AOI
    * instead of the primary raster (load_kml, analytics_IO.py:242-265,
    * composed with the sar_datacube_metadata.py:204-222 semi-join). */
  def filterByKmlAoi(layers: org.apache.spark.sql.DataFrame, kml: String): org.apache.spark.sql.DataFrame = {
    val aoi = kmlToWkt(kml)
    layers.filter(stIntersects(org.apache.spark.sql.functions.col("extent"),
      org.apache.spark.sql.functions.lit(aoi)))
  }
}
