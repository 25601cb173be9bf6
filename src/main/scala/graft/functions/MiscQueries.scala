package graft.functions

import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** geo::* (SURVEY §2.4) as a DataFrame closure. Everything stays in
  * codegen'd column expressions; the oracle side uses structurally
  * identical DuckDB expressions so float results are bit-comparable
  * (rounded where libm functions are involved). The other scalar
  * namespaces reach Spark as SurrealQL text in
  * [[graft.operators.SurqlQueries]]. */
object MiscQueries {

  /** geo::distance (haversine, fnc/geo.rs) + geo::bearing over synthetic
    * lat/lon derived from customer keys (testdata has no geometry columns;
    * the derivation is part of both sides). trig is libm → round(4) ≈ 0.1 m
    * tolerance absorbs any last-ulp disagreement. */
  // a closure: SurrealQL has no atan2 or half-up round(x, n); geo::distance has another radius
  val geoDistance = Q("geo_distance",
    """WITH pts AS (
         SELECT c_custkey,
                CAST(c_custkey % 170 - 85 AS DOUBLE) + CAST(0.25 AS DOUBLE) AS lat,
                CAST(c_custkey % 350 - 175 AS DOUBLE) + CAST(0.5 AS DOUBLE) AS lon
         FROM customer)
       SELECT c_custkey, round(lat, 6) AS lat, round(lon, 6) AS lon,
              round(CAST(12742000.0 AS DOUBLE) * asin(sqrt(
                pow(sin(radians(lat - CAST(48.85 AS DOUBLE)) / 2), 2)
                + cos(radians(lat)) * cos(radians(CAST(48.85 AS DOUBLE)))
                  * pow(sin(radians(lon - CAST(2.35 AS DOUBLE)) / 2), 2))), 4)
                AS dist_m,
              round(degrees(atan2(sin(radians(CAST(2.35 AS DOUBLE) - lon))
                  * cos(radians(CAST(48.85 AS DOUBLE))),
                cos(radians(lat)) * sin(radians(CAST(48.85 AS DOUBLE)))
                  - sin(radians(lat)) * cos(radians(CAST(48.85 AS DOUBLE)))
                    * cos(radians(CAST(2.35 AS DOUBLE) - lon)))), 4) AS bearing
       FROM pts ORDER BY c_custkey""") {
    (s, d) =>
      val lat = (col("c_custkey") % 170 - 85).cast("double") + lit(0.25)
      val lon = (col("c_custkey") % 350 - 175).cast("double") + lit(0.5)
      val dLat = radians(lat - lit(48.85)) / 2
      val dLon = radians(lon - lit(2.35)) / 2
      val a = pow(sin(dLat), 2) +
        cos(radians(lat)) * cos(radians(lit(48.85))) * pow(sin(dLon), 2)
      val bearing = degrees(atan2(
        sin(radians(lit(2.35) - lon)) * cos(radians(lit(48.85))),
        cos(radians(lat)) * sin(radians(lit(48.85))) -
          sin(radians(lat)) * cos(radians(lit(48.85))) * cos(radians(lit(2.35) - lon))))
      Tables.customer(s, d).select(
        col("c_custkey"),
        round(lat, 6).as("lat"), round(lon, 6).as("lon"),
        round(lit(12742000.0) * asin(sqrt(a)), 4).as("dist_m"),
        round(bearing, 4).as("bearing"))
        .orderBy("c_custkey")
  }

  val all: Seq[Q] = Seq(geoDistance)
}
