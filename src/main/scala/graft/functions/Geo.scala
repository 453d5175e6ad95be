package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geo functions (degree coordinates) — semantic counterpart of groonga's
  * geo family (/root/reference/lib/geo.c: geo_distance :2313 rectangular +
  * spherical variants, grn_geo_in_circle :999, grn_geo_in_rectangle :1223).
  * groonga stores coordinates in milliseconds-of-arc; this API takes
  * degrees (the natural unit for a DataFrame column) — semantics, not
  * storage, is what is reproduced. All pure Column expressions: codegen'd,
  * no UDFs.
  */
object Geo {
  /** mean earth radius, meters (the sphere groonga's spherical variant uses) */
  final val EarthRadiusM: Double = 6371009.0

  private def rad(deg: Column): Column = deg * math.Pi / 180.0

  /** great-circle (haversine) distance in meters —
    * GRN_GEO_APPROXIMATE_SPHERE (lib/geo.c:2268) */
  def distanceSphere(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val h = pow(sin(rad(lat2 - lat1) / 2.0), 2.0) +
      cos(rad(lat1)) * cos(rad(lat2)) * pow(sin(rad(lon2 - lon1) / 2.0), 2.0)
    lit(2.0 * EarthRadiusM) * asin(sqrt(h))
  }

  /** the reference's own sphere radius (GRN_GEO_RADIUS, lib/grn_geo.h:30) */
  final val GrnRadiusM: Double = 6357303.0
  /** WGS84 ellipsoid constants (GRN_GEO_GRS_C1/C2/C3, lib/grn_geo.h:34-36) */
  final val GrsC1: Double = 6335439.0
  final val GrsC2: Double = 6378137.0
  final val GrsC3: Double = 0.006694

  /** geo_distance2 (deprecated reference proc, lib/proc.c:3141): spherical
    * distance on the reference's OWN radius constant —
    * grn_geo_distance_sphere_raw (lib/geo.c:2904-2918). */
  def distance2(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val x = sin(abs(rad(lon2 - lon1)) * 0.5)
    val y = sin(abs(rad(lat2 - lat1)) * 0.5)
    asin(sqrt(y * y + cos(rad(lat1)) * cos(rad(lat2)) * x * x)) * lit(2.0 * GrnRadiusM)
  }

  /** ellipsoid distance (grn_geo_distance_ellipsoid_raw, lib/geo.c:2920-2940):
    * flattening-corrected meridian/normal radii at the mean latitude. */
  def distanceEllipsoid(lat1: Column, lon1: Column, lat2: Column, lon2: Column,
      c1: Double, c2: Double, c3: Double): Column = {
    val p = (rad(lat1) + rad(lat2)) * 0.5
    val q = lit(1.0) - lit(c3) * sin(p) * sin(p)
    val r = sqrt(q)
    val m = lit(c1) / (q * r)
    val n = lit(c2) / r
    val x = n * cos(p) * abs(rad(lon1 - lon2))
    val y = m * abs(rad(lat1 - lat2))
    sqrt(x * x + y * y)
  }

  /** geo_distance3 (deprecated reference proc, lib/proc.c:3159): WGS84
    * ellipsoid approximation. */
  def distance3(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    distanceEllipsoid(lat1, lon1, lat2, lon2, GrsC1, GrsC2, GrsC3)

  /** grn_geo_in_circle: point within `radiusM` meters of the center
    * (spherical distance) */
  def inCircle(lat: Column, lon: Column, centerLat: Column, centerLon: Column,
      radiusM: Column): Column =
    distanceSphere(lat, lon, centerLat, centerLon) <= radiusM

  /** grn_geo_in_rectangle: point inside the (top-left, bottom-right) box */
  def inRectangle(lat: Column, lon: Column,
      topLat: Column, leftLon: Column, bottomLat: Column, rightLon: Column): Column =
    lat <= topLat && lat >= bottomLat && lon >= leftLon && lon <= rightLon
}
