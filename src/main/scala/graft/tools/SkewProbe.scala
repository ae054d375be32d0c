package graft.tools

import org.apache.spark.sql.functions._

/** SkewJoin vs AQE measurement (VERDICT r6 next-#3): q45's workload —
  * 75% of fact rows on ONE key, the rest spread over 996 — joined to a
  * 1000-key dim, under three plans:
  *
  *   1. plain        — sort-merge join, no mitigation (AQE skew off)
  *   2. aqe_skew     — plain join with AQE skew-join splitting enabled
  *                     (thresholds lowered so the hot partition
  *                     qualifies at probe scale; at warehouse scale the
  *                     defaults fire on >256MB partitions)
  *   3. salted       — graft.operators.SkewJoin.saltedInnerJoin
  *
  * The dim side is forced OFF the broadcast path
  * (autoBroadcastJoinThreshold = -1): a broadcastable dim makes skew a
  * non-problem (broadcast-hash join never co-locates by key) and
  * neither AQE-skew nor salting would have anything to do. The probe
  * therefore measures the regime the custom operator exists for — and
  * AQE's split applies ONLY to sort-merge plans, so this is also AQE's
  * best case. Results + the design verdict live in PLANS.md
  * ("SkewJoin vs AQE").
  *
  * Usage: runMain graft.tools.SkewProbe [factRows]
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val n = args.find(_.forall(_.isDigit)).map(_.toLong).getOrElse(40000000L)
    val spark = graft.GraftSession(32)
    import spark.implicits._

    // q45's skew shape: 75% of rows -> key 0, remainder over 1..996
    val fact = spark.range(n).select(
      when(pmod(col("id"), lit(4L)) =!= 0, lit(0L))
        .otherwise(pmod(col("id"), lit(997L))).as("k"),
      col("id").as("payload"))
    val dim = spark.range(1000).select(col("id").as("k"),
      concat(lit("dim-payload-string-"), col("id")).as("label"))

    def timed(name: String)(body: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      body.write.format("noop").mode("overwrite").save()
      println(f"[skew] $name%-12s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (n=$n)")
    }
    def conf(kvs: (String, String)*): Unit = kvs.foreach {
      case (k, v) => spark.conf.set(k, v)
    }

    // every scenario: dim not broadcastable (the regime under test)
    conf("spark.sql.autoBroadcastJoinThreshold" -> "-1")

    conf("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "false")
    if (!args.contains("radius") && !args.contains("polygon")) {
    timed("plain")(fact.join(dim, Seq("k"), "inner"))

    conf("spark.sql.adaptive.skewJoin.enabled" -> "true",
      // probe-scale hot partition is ~100s of MB; defaults (5x median
      // AND >256MB) already fire at warehouse scale — lowering the byte
      // floor gives AQE its best case here rather than handicapping it
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m")
    timed("aqe_skew")(fact.join(dim, Seq("k"), "inner"))

    timed("salted")(graft.operators.SkewJoin.saltedInnerJoin(
      fact, dim, "k", saltBuckets = 8))

    // reference point: the broadcastable-dim regime, where skew is a
    // non-problem by plan shape (no co-location by key at all)
    conf("spark.sql.autoBroadcastJoinThreshold" -> "10485760")
    timed("broadcast")(fact.join(dim, Seq("k"), "inner"))
    }

    // RADIUS-JOIN dense-cell skew (VERDICT r8 next-#5): the q49 grid
    // self-join with Manhattan-style clustering — 70% of points inside
    // ONE 0.04x0.03 cell, the rest uniform over a 1x1 degree box. The
    // hot cell's |cell|^2 candidate work lands on one task in the plain
    // path; the salted path spreads it. Run with a second arg "radius"
    // (points count = first arg, capped at 12k: the dense cell holds
    // 70% of points and its candidate volume is quadratic — 8.4k
    // in-cell points already mean ~7e7 single-task candidate checks in
    // the plain path, minutes beyond ~30k).
    if (args.contains("radius")) {
      import graft.functions.GraftFunctions.md5Long
      val nPts = math.min(n, 12000L)
      def u(seed: String) = // uniform [0,1) from md5, replayable
        md5Long(concat(lit(s"$seed|"), col("id").cast(
          org.apache.spark.sql.types.StringType))) % 1000001L / lit(1000000.0)
      val pts = spark.range(nPts).select(
        col("id"),
        when(pmod(col("id"), lit(10L)) < 7, // 70% -> the one hot cell
          lit(40.00) + u("clat") * 0.029)
          .otherwise(lit(40.00) + u("ulat") * 1.0).as("lat"),
        when(pmod(col("id"), lit(10L)) < 7,
          lit(-74.00) + u("clng") * 0.039)
          .otherwise(lit(-74.00) + u("ulng") * 1.0).as("lng"))
      conf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.enabled" -> "false")
      timed("radius_plain")(graft.geo.GeoJoin.radiusPairs(
        pts, "id", "lat", "lng", 3.0, 0.03, 0.04))
      conf("spark.sql.adaptive.skewJoin.enabled" -> "true",
        // same best-case thresholds the q45 scenarios grant AQE: the
        // hot-cell partition is ~10s of MB at probe scale, under the
        // 256MB default floor — at warehouse scale the defaults fire
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m")
      timed("radius_aqe")(graft.geo.GeoJoin.radiusPairs(
        pts, "id", "lat", "lng", 3.0, 0.03, 0.04))
      conf("spark.sql.adaptive.skewJoin.enabled" -> "false")
      timed("radius_salted")(graft.geo.GeoJoin.radiusPairs(
        pts, "id", "lat", "lng", 3.0, 0.03, 0.04, saltBuckets = 16))
    }

    // POLYGON-JOIN dense-cell skew (VERDICT r10 next-#6): the q50 grid
    // point-in-polygon join with downtown clustering — 70% of points
    // AND 70% of polygon bboxes inside the same 0.04x0.03 cell, the
    // rest uniform over a 1x1 degree box. The hot cell does
    // |pts_cell|·|polys_cell| ray casts on one task in the plain path;
    // the salted path spreads it. Run with a second arg "polygon"
    // (points count = first arg, capped at 200k: 140k hot points x
    // 2.8k hot polygons is ~4e8 single-task ray casts — the cap was
    // 30k while the ray cast was an interpreted HOF; the compiled
    // PointInPolygonExpr moved the per-candidate cost ~16x down and
    // with it the scale where skew becomes visible).
    if (args.contains("polygon")) {
      import graft.functions.GraftFunctions.md5Long
      import org.apache.spark.sql.types.StringType
      val nPts = math.min(n, 200000L)
      val nPolys = 4000L
      def u(seed: String) = // uniform [0,1) from md5, replayable
        md5Long(concat(lit(s"$seed|"), col("id").cast(StringType))) %
          1000001L / lit(1000000.0)
      val pts = spark.range(nPts).select(
        col("id"),
        when(pmod(col("id"), lit(10L)) < 7, // 70% -> the one hot cell
          lit(40.00) + u("clat") * 0.029)
          .otherwise(lit(40.00) + u("ulat") * 1.0).as("lat"),
        when(pmod(col("id"), lit(10L)) < 7,
          lit(-74.00) + u("clng") * 0.039)
          .otherwise(lit(-74.00) + u("ulng") * 1.0).as("lng"))
      val polys = spark.range(nPolys).select(
          col("id").as("zid"),
          when(pmod(col("id"), lit(10L)) < 7, // 70% bboxes in the hot cell
            lit(40.005) + u("zlat") * 0.019)
            .otherwise(lit(40.00) + u("wlat") * 1.0).as("clat"),
          when(pmod(col("id"), lit(10L)) < 7,
            lit(-73.995) - u("zlng") * 0.029)
            .otherwise(lit(-74.00) + u("wlng") * 1.0).as("clng"),
          lit(0.004).as("w"))
        .select(col("zid"), array(
          struct((col("clat") + col("w")).as("lat"), col("clng").as("lng")),
          struct(col("clat").as("lat"), (col("clng") + col("w")).as("lng")),
          struct((col("clat") - col("w")).as("lat"), col("clng").as("lng")),
          struct(col("clat").as("lat"), (col("clng") - col("w")).as("lng")))
          .as("verts"))
      // plain and salted run with AQE OFF: this probe's shuffle INPUT
      // is a few MB (the fan-out happens inside the join, 59M candidate
      // rows out of 120k in), so AQE's partition coalescing — which
      // sizes by shuffle-write bytes, blind to join fan-out — merges
      // the cell partitions into ~one task and flattens plain and
      // salted alike. AQE-less is also the regime the salt exists for
      // (streaming micro-batches, engine-independent plans).
      conf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")
      timed("polygon_plain")(graft.geo.GeoJoin.gridPolygonJoin(
        pts, "id", "lat", "lng", polys, "zid", "verts", 0.03, 0.04))
      conf("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m")
      timed("polygon_aqe")(graft.geo.GeoJoin.gridPolygonJoin(
        pts, "id", "lat", "lng", polys, "zid", "verts", 0.03, 0.04))
      conf("spark.sql.adaptive.enabled" -> "false")
      timed("polygon_salted")(graft.geo.GeoJoin.gridPolygonJoin(
        pts, "id", "lat", "lng", polys, "zid", "verts", 0.03, 0.04,
        saltBuckets = 16))
    }

    spark.stop()
  }
}
