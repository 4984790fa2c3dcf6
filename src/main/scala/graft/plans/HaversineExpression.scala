package graft.plans

/** Great-circle distance, the kernel of `graft_haversine_km` (SURVEY
  * §2.12a, F13) — the codegen'd promotion of
  * [[graft.functions.GraftFunctions.haversineKm]]: one JVM static call
  * per row inside whole-stage codegen instead of a 12-node expression
  * tree, registered for SQL by [[GraftExtensions]].
  */
object HaversineKm {
  private val R = 6371.0088

  /** Spherical law of haversines; mirrors the Column composition in
    * GraftFunctions so both paths agree bit-for-bit (same op order). */
  def compute(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = Math.toRadians(lat2 - lat1) / 2
    val dLon = Math.toRadians(lon2 - lon1) / 2
    val a = Math.pow(Math.sin(dLat), 2) +
      Math.cos(Math.toRadians(lat1)) * Math.cos(Math.toRadians(lat2)) *
        Math.pow(Math.sin(dLon), 2)
    2 * R * Math.asin(Math.sqrt(a))
  }
}
