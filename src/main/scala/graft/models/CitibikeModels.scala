package graft.models

import graft.functions.GraftFunctions._
import graft.pipeline.Pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Citibike staging — the reference provisions the `TRIPS` external
  * table (terraform.tfvars:64-69) but ships no model for it yet
  * (SURVEY.md §7.5 Q2); the public system-data schema (FIXTURES.md §4)
  * is the staging assumption, and `macros/dist_lat_lng.sql` exists
  * precisely for its lat/lng pairs. This module supplies the intended
  * staging layer:
  *
  *  - `CITIBIKE_TRIPS_STG` (view): typed trips + derived haversine
  *    trip distance (km), duration, average speed; rows with
  *    unparseable coordinates quarantined by a validity flag.
  *  - `CITIBIKE_STATIONS` (table): station dimension distilled from
  *    trip endpoints — id, name, representative coordinates (the
  *    max-by-count mode would need a full group; min suffices for a
  *    stable representative and stays one aggregate).
  */
object CitibikeModels {

  /** Public Citibike system-data schema (post-2021 feed).
    * Declared by README row "Q2 Citibike TRIPS staging": the declared
    * source's schema. */
  val tripsSchema: StructType = StructType(Seq(
    StructField("ride_id", StringType),
    StructField("rideable_type", StringType),
    StructField("started_at", TimestampType),
    StructField("ended_at", TimestampType),
    StructField("start_station_name", StringType),
    StructField("start_station_id", StringType),
    StructField("end_station_name", StringType),
    StructField("end_station_id", StringType),
    StructField("start_lat", DoubleType),
    StructField("start_lng", DoubleType),
    StructField("end_lat", DoubleType),
    StructField("end_lng", DoubleType),
    StructField("member_casual", StringType)))

  def registry(spark: SparkSession, trips: DataFrame): Registry = {
    val r = new Registry(spark)

    r.register(Model("CITIBIKE_TRIPS_STG", "2_STG___NYCITIBIKE", Nil, View) { _ =>
      val coordsOk = col("start_lat").isNotNull && col("start_lng").isNotNull &&
        col("end_lat").isNotNull && col("end_lng").isNotNull &&
        abs(col("start_lat")) <= 90 && abs(col("end_lat")) <= 90 &&
        abs(col("start_lng")) <= 180 && abs(col("end_lng")) <= 180
      // integral division (`div`): Column `/` is floating-point
      val durS = expr("(unix_micros(ended_at) - unix_micros(started_at)) div 1000000")
      trips.select(
        col("ride_id"), col("rideable_type"), col("member_casual"),
        col("started_at"), col("ended_at"),
        col("start_station_id"), col("end_station_id"),
        coordsOk.as("coords_valid"),
        when(coordsOk, round(distLatLng(col("start_lat"), col("start_lng"),
          col("end_lat"), col("end_lng"), "km"), 4)).as("trip_km"),
        durS.as("duration_s"),
        when(coordsOk && durS > 0,
          round(distLatLng(col("start_lat"), col("start_lng"),
            col("end_lat"), col("end_lng"), "km") / (durS / 3600.0), 4))
          .as("avg_kmh"))
    })

    r.register(Model("CITIBIKE_STATIONS", "2_DIM___NYCITIBIKE", Nil, Table) { _ =>
      val starts = trips.select(col("start_station_id").as("station_id"),
        col("start_station_name").as("station_name"),
        col("start_lat").as("lat"), col("start_lng").as("lng"))
      val ends = trips.select(col("end_station_id").as("station_id"),
        col("end_station_name").as("station_name"),
        col("end_lat").as("lat"), col("end_lng").as("lng"))
      starts.unionByName(ends)
        .filter(col("station_id").isNotNull)
        .groupBy(col("station_id"))
        .agg(min(col("station_name")).as("station_name"),
          // ONE coherent (lat,lng) pair from an actual observed row —
          // independent min(lat)/min(lng) could stitch coordinates
          // from two different rows (one GPS-glitch row hijacks an
          // axis and the pair lands in the ocean)
          min(struct(col("lat"), col("lng"))).as("__pos"),
          count(lit(1)).as("n_trip_endpoints"))
        .select(col("station_id"), col("station_name"),
          col("__pos.lat").as("lat"), col("__pos.lng").as("lng"),
          col("n_trip_endpoints"))
    })
    r
  }
}
