package graft.queries

import graft.catalog.Catalog
import graft.functions.GraftFunctions._
import graft.harmonize.Harmonize._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational query surface over the harness testdata — one query
  * per operator family in SURVEY.md §2 (scan/project/rename/replace,
  * filter-then-left-join with an aliased dim, harmonized UNION ALL,
  * CASE decode, haversine, plus the declared-but-unbuilt 3_PREP/4_MART
  * surface: aggregation, windows, rollup, top-k, distinct, semi/anti,
  * date functions, sessionization).
  *
  * Every query ends in a deterministic ORDER BY and uses exact decimal
  * arithmetic for double sums ([[GraftFunctions.exactSum]]) so results
  * hash-match the DuckDB oracle at any scale / partitioning.
  */
object CoreQueries {

  /** TPC-H Q1-shape pricing summary: hash-aggregate with map-side
    * partial aggregation; one shuffle on the (tiny) group key. */
  val q01AggPricing: Q = (s, dir) => {
    val li = Catalog(s, dir).lineitem
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_price"),
        exactSum(col("l_discount")).as("sum_disc"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Project + rename + literal replace (P1/P2: LOCATION_ID_TO_
    * NEIGHBORHOOD shape) over nation x region; dim join broadcasts. */
  val q02ProjectRename: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val n = c.nation
    val r = c.region
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        col("n_nationkey").cast(LongType).as("nation_id"),
        col("n_name").as("nation"),
        replaceLit(col("r_name"), "_", "-").as("region_mod"))
      .orderBy(col("nation_id"))
  }

  val q02Sql: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS nation_id, n_name AS nation,
      |  replace(r_name, '_', '-') AS region_mod
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY nation_id""".stripMargin

  /** The reference's flagship join shape (F1+J1): dim filtered BEFORE a
    * left join, and the same dim joined twice under two roles (customer
    * nation / supplier nation). The 24-row dim broadcasts; the fact-side
    * orders join shuffles on l_orderkey. */
  val q03DimDoubleJoin: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val n = c.nation.filter(col("n_name") =!= "NATION_7")
    val cn = n.select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val sn = n.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val li = c.lineitem
    val o = c.orders
    val cu = c.customer
    val su = c.supplier
    li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(cu, col("o_custkey") === cu("c_custkey"))
      .join(su, col("l_suppkey") === su("s_suppkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cn_key"), "left")
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"), "left")
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(count(lit(1)).as("n_rows"),
           exactSum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("cust_nation").asc_nulls_first, col("supp_nation").asc_nulls_first)
  }

  val q03Sql: String =
    """WITH n AS (SELECT * FROM nation WHERE n_name <> 'NATION_7')
      |SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier sp ON l.l_suppkey = sp.s_suppkey
      |LEFT JOIN n cn ON c.c_nationkey = cn.n_nationkey
      |LEFT JOIN n sn ON sp.s_nationkey = sn.n_nationkey
      |GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  /** Harmonized UNION ALL (P3-P6/U1): three heterogeneous "feeds" carved
    * from events, projected onto one canonical schema with typed NULL
    * padding and a non-null '' default, then unioned. Column pruning
    * reaches each feed's scan. */
  val q04HarmonizeUnion: Q = (s, dir) =>
    harmonizeFeeds(Catalog(s, dir).events).orderBy(col("event_id"))

  /** The q04 feed carve + canonical projection, factored so the BATCH
    * gate (q04) and the STREAMING drain gate (s01) run the IDENTICAL
    * transform — the shared-body rule: the two gates cannot fork. */
  private def harmonizeFeeds(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val canon = Seq(
      CanonicalCol("event_id", LongType),
      CanonicalCol("ts_date", DateType),
      CanonicalCol("user_id", LongType),
      CanonicalCol("amount", DoubleType),
      CanonicalCol("props", StringType, default = lit("")),
      CanonicalCol("kind", StringType))
    val clicks = SourceFeed("clicks",
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id").as("uid"), col("value"), col("props").as("p")),
      Map("event_id" -> "click_id", "user_id" -> "uid",
          "amount" -> "value", "props" -> "p"),
      Map("ts_date" -> col("click_ts").cast(DateType), "kind" -> lit("click")))
    val purchases = SourceFeed("purchases",
      ev.filter(col("event_type") === "purchase"),
      Map("event_id" -> "event_id", "user_id" -> "user_id",
          "amount" -> "value", "props" -> "props"),
      Map("ts_date" -> col("ts").cast(DateType), "kind" -> lit("purchase")))
    val signups = SourceFeed("signups",
      ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("ts"), col("user_id")),
      Map("event_id" -> "event_id", "user_id" -> "user_id"),
      Map("ts_date" -> col("ts").cast(DateType), "kind" -> lit("signup")))
    unionHarmonized(canon, Seq(clicks, purchases, signups))
  }

  /** STREAMING DRAIN inside the gate (s01 — VERDICT r17 next-#6, the
    * last spec-only major family into the hash gate): the q04
    * harmonized union driven through a REAL Structured Streaming
    * file-source drain — events copied to a fresh landing dir, read
    * via [[graft.streaming.EventStreams.readEvents]] (the ts-encoding
    * sniff), carved and projected by the SAME [[harmonizeFeeds]] body
    * as the batch gate, drained with Trigger.AvailableNow into a
    * memory sink, and returned as the drained table. Oracle = q04's
    * oracle verbatim: a drain of a map-only transform must equal the
    * batch run row-for-row — the drain == batch contract the streaming
    * specs pin, now driver-hash-gated. The landing dir is per-JVM
    * bounded (previous tick's dir swept on the next invocation, the
    * q62 pattern). */
  private val s01Tmp = new graft.io.PerJvmTemp.Slot("graft-s01-land")
  // previous invocation's memory-sink view, dropped lazily at the NEXT
  // invocation (by which point its DataFrame was materialized — the
  // driver runs queries sequentially): the drained copy in driver
  // memory stays bounded at one live view per JVM, the same
  // one-live-copy discipline PerJvmTemp gives the landing dir
  // (review r18)
  private val s01PrevView =
    new java.util.concurrent.atomic.AtomicReference[String]()
  val s01StreamHarmonize: Q = (s, dir) => {
    val tmp = s01Tmp.fresh()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      tmp.resolve("events-1.parquet"))
    val ev = graft.streaming.EventStreams.readEvents(s, tmp.toString)
    val view = s"s01_drain_${java.util.UUID.randomUUID.toString.take(8)}"
    Option(s01PrevView.getAndSet(view))
      .foreach(s.catalog.dropTempView(_): Unit)
    graft.streaming.EventStreams.runAvailableNow(s, harmonizeFeeds(ev), view)
      .orderBy(col("event_id"))
  }

  val q04Sql: String =
    """SELECT event_id, CAST(ts AS DATE) AS ts_date, user_id,
      |  value AS amount, props, 'click' AS kind
      |FROM events WHERE event_type = 'click'
      |UNION ALL
      |SELECT event_id, CAST(ts AS DATE), user_id, value, props, 'purchase'
      |FROM events WHERE event_type = 'purchase'
      |UNION ALL
      |SELECT event_id, CAST(ts AS DATE), user_id, CAST(NULL AS DOUBLE), '', 'signup'
      |FROM events WHERE event_type = 'signup'
      |ORDER BY event_id""".stripMargin

  /** CASE-decode (P7, tlc_payment_type shape) with no ELSE: unmapped
    * code 7 yields NULL. */
  val q05CaseDecode: Q = (s, dir) =>
    Catalog(s, dir).lineitem
      .select(tlcPaymentType(col("l_linenumber")).as("payment_label"))
      .groupBy(col("payment_label"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("payment_label").asc_nulls_first)

  val q05Sql: String =
    """SELECT CASE WHEN l_linenumber = 1 THEN 'Credit card'
      |  WHEN l_linenumber = 2 THEN 'Cash'
      |  WHEN l_linenumber = 3 THEN 'No charge'
      |  WHEN l_linenumber = 4 THEN 'Dispute'
      |  WHEN l_linenumber = 5 THEN 'Unknown'
      |  WHEN l_linenumber = 6 THEN 'Voided trip' END AS payment_label,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** Haversine (P8, dist_lat_lng) over synthetic lat/lng derived from
    * keys; both km and mi branches exercised. */
  val q06Haversine: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val cu = c.customer.select(col("c_custkey"), col("c_nationkey"),
      ((col("c_custkey") % 179).cast(DoubleType) - 89.0 + 0.5).as("lat1"),
      ((col("c_custkey") % 359).cast(DoubleType) - 179.0 + 0.5).as("lng1"))
    val su = c.supplier.select(col("s_suppkey"), col("s_nationkey"),
      ((col("s_suppkey") % 179).cast(DoubleType) - 89.0 + 0.5).as("lat2"),
      ((col("s_suppkey") % 359).cast(DoubleType) - 179.0 + 0.5).as("lng2"))
    cu.join(su, col("c_nationkey") === col("s_nationkey"))
      .select(col("c_custkey"), col("s_suppkey"),
        round(distLatLng(col("lat1"), col("lng1"), col("lat2"), col("lng2"), "km"), 3).as("dist_km"),
        round(distLatLng(col("lat1"), col("lng1"), col("lat2"), col("lng2"), "mi"), 3).as("dist_mi"))
      .orderBy(col("c_custkey"), col("s_suppkey"))
  }

  val q06Sql: String =
    """WITH cu AS (SELECT c_custkey, c_nationkey,
      |    (c_custkey % 179)::DOUBLE - 89.0 + 0.5 AS lat1,
      |    (c_custkey % 359)::DOUBLE - 179.0 + 0.5 AS lng1 FROM customer),
      |  su AS (SELECT s_suppkey, s_nationkey,
      |    (s_suppkey % 179)::DOUBLE - 89.0 + 0.5 AS lat2,
      |    (s_suppkey % 359)::DOUBLE - 179.0 + 0.5 AS lng2 FROM supplier)
      |SELECT c_custkey, s_suppkey,
      |  round(6371.0 * acos(least(1.0, greatest(-1.0,
      |    cos(radians(lat1))*cos(radians(lat2))*cos(radians(lng2)-radians(lng1))
      |    + sin(radians(lat1))*sin(radians(lat2))))), 3) AS dist_km,
      |  round(3959.0 * acos(least(1.0, greatest(-1.0,
      |    cos(radians(lat1))*cos(radians(lat2))*cos(radians(lng2)-radians(lng1))
      |    + sin(radians(lat1))*sin(radians(lat2))))), 3) AS dist_mi
      |FROM cu JOIN su ON c_nationkey = s_nationkey
      |ORDER BY c_custkey, s_suppkey""".stripMargin

  /** Window functions: row_number / rank / lag per customer. */
  val q07Window: Q = (s, dir) => {
    val o = Catalog(s, dir).orders
    val wRn = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val wRk = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
    val wLag = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    o.select(col("o_orderkey"), col("o_custkey"),
        row_number().over(wRn).cast(LongType).as("rn"),
        rank().over(wRk).cast(LongType).as("rk"),
        lag(col("o_orderdate"), 1).over(wLag).cast(DateType).as("prev_order_date"))
      .orderBy(col("o_orderkey"))
  }

  val q07Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
      |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk,
      |  CAST(lag(o_orderdate, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE) AS prev_order_date
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Top-k: global sort + limit (Spark executes as per-partition top-k
    * then a single-reducer merge — no full sort at scale). */
  val q08TopK: Q = (s, dir) =>
    Catalog(s, dir).orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  val q08Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** DISTINCT (dropDuplicates == one hash aggregate). */
  val q09Distinct: Q = (s, dir) =>
    Catalog(s, dir).orders
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  val q09Sql: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      |ORDER BY 1, 2""".stripMargin

  /** ROLLUP hierarchy totals (region -> nation -> grand total). */
  val q10Rollup: Q = (s, dir) => {
    val c = Catalog(s, dir)
    c.customer
      .join(broadcast(c.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(c.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           exactSum(col("c_acctbal")).as("sum_acctbal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  val q10Sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin

  /** Anti join: customers with no large order (NOT EXISTS). */
  val q11AntiJoin: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val cu = c.customer
    val big = c.orders.filter(col("o_totalprice") > 300000.0)
    cu.join(big, cu("c_custkey") === big("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_no_orders"))
      .orderBy(col("c_mktsegment"))
  }

  val q11Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_no_orders FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Semi join: customers with at least one big order (EXISTS). */
  val q12SemiJoin: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val cu = c.customer
    val big = c.orders.filter(col("o_totalprice") > 100000.0)
    cu.join(big, cu("c_custkey") === big("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_big"))
      .orderBy(col("c_mktsegment"))
  }

  val q12Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_big FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Date-part aggregation (year/month partition keys — the shape a
    * date-partitioned 100 TB table prunes on). */
  val q13DateAgg: Q = (s, dir) =>
    Catalog(s, dir).lineitem
      .groupBy(year(col("l_shipdate")).cast(LongType).as("y"),
               month(col("l_shipdate")).cast(LongType).as("m"))
      .agg(count(lit(1)).as("n_rows"), exactSum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("y"), col("m"))

  val q13Sql: String =
    """SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
      |  CAST(month(l_shipdate) AS BIGINT) AS m,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Sessionization: 30-minute-gap sessions per user via lag + running
    * sum — the batch twin of the streaming session operator. */
  val q14Sessionize: Q = (s, dir) => {
    val ev = Catalog(s, dir).events
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    ev.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("gap").isNull || col("gap") > 1800000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"))
      .agg(max(col("sess")).cast(LongType).as("n_sessions"),
           count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q14Sql: String =
    """WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |y AS (SELECT user_id, event_id, us,
      |  CASE WHEN us - lag(us, 1) OVER w IS NULL
      |         OR us - lag(us, 1) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |z AS (SELECT user_id, SUM(new_sess) OVER
      |  (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM y)
      |SELECT user_id, CAST(MAX(sess) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact multi-column COUNT(DISTINCT). */
  val q15CountDistinct: Q = (s, dir) =>
    Catalog(s, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy(col("l_returnflag"))

  val q15Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Approximate distinct via the KMV sketch
    * ([[graft.expressions.KmvSketchAgg]]) — same constant-size
    * mergeable-state contract as HLL (at 100 TB this replaces the exact
    * distinct's per-value shuffle with one k-long sketch per partition
    * and group), but DETERMINISTIC: the estimate is a pure function of
    * the set of md5 hashes, so the DuckDB oracle replays it exactly —
    * retiring the rows-only status this query carried since round 1
    * (r1–r8 used Spark's HLL, whose register layout no other engine can
    * reproduce). Relative error ~6.3% at k=256 vs HLL's ~2.2% at the
    * default precision — the trade for cross-engine verifiability,
    * acceptable where the operator's job is cardinality TRIAGE. */
  val q16ApproxDistinct: Q = (s, dir) =>
    Catalog(s, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(round(graft.expressions.KmvSketchAgg.kmvDistinct(
        md5Long(col("l_partkey").cast(StringType)), 256), 3)
        .as("approx_parts"))
      .orderBy(col("l_returnflag"))

  val q16Sql: String = {
    val h = "CAST(('0x'||substr(md5(CAST(l_partkey AS VARCHAR)),1,15)) AS BIGINT)"
    s"""WITH d AS (SELECT DISTINCT l_returnflag, $h AS h FROM lineitem),
       |r AS (SELECT l_returnflag, h,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rk,
       |    count(*) OVER (PARTITION BY l_returnflag) AS nd
       |  FROM d)
       |SELECT l_returnflag,
       |  round(CASE WHEN max(nd) < 256 THEN CAST(max(nd) AS DOUBLE)
       |    ELSE 255.0 * 1152921504606846976.0 /
       |      CAST(max(CASE WHEN rk = 256 THEN h END) AS DOUBLE) END, 3)
       |    AS approx_parts
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** String function battery (upper/substr/length/concat/trim). */
  val q17StringFuncs: Q = (s, dir) =>
    Catalog(s, dir).part
      .select(col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        substring(col("p_type"), 1, 5).as("type5"),
        length(col("p_name")).cast(LongType).as("name_len"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"))
      .orderBy(col("p_partkey"))

  val q17Sql: String =
    """SELECT p_partkey, upper(p_brand) AS brand_u,
      |  substr(p_type, 1, 5) AS type5,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  p_brand || '-' || p_type AS brand_type
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Conditional (pivot-style) aggregation. */
  val q18ConditionalAgg: Q = (s, dir) =>
    Catalog(s, dir).orders
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
        exactSum(when(col("o_orderstatus") === "F", col("o_totalprice"))
          .otherwise(lit(0.0))).as("sum_f_price"))
      .orderBy(col("o_orderpriority"))

  val q18Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END
      |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_f_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** As-of join (operator Spark lacks natively): latest order at or
    * before each event's timestamp, per user. Composed scalably as
    * union-sort-window ([[graft.operators.AsOfJoin]]); the oracle uses
    * DuckDB's native ASOF LEFT JOIN, so the two implementations verify
    * each other. Right side pre-aggregated unique per (key, time). */
  val q19AsofJoin: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val right = c.orders
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("last_orderkey"))
    val left = c.events.select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.AsOfJoin
      .asofBackward(left, right, "user_id", "ts", "o_orderdate",
        Seq("last_orderkey", "o_orderdate"))
      .select(col("event_id"), col("user_id"), col("last_orderkey"),
        col("o_orderdate").cast(DateType).as("last_orderdate"))
      .orderBy(col("event_id"))
  }

  val q19Sql: String =
    """WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
      |    max(o_orderkey) AS last_orderkey
      |  FROM orders GROUP BY 1, 2),
      |e AS (SELECT event_id, user_id, ts FROM events)
      |SELECT e.event_id, e.user_id, r.last_orderkey,
      |  CAST(r.o_orderdate AS DATE) AS last_orderdate
      |FROM e ASOF LEFT JOIN r
      |  ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
      |ORDER BY event_id""".stripMargin

  /** CUBE with grouping indicators over the region/segment hierarchy. */
  val q20Cube: Q = (s, dir) => {
    val c = Catalog(s, dir)
    c.customer
      .join(broadcast(c.nation), col("c_nationkey") === col("n_nationkey"))
      .cube(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        exactSum(col("c_acctbal")).as("sum_acctbal"),
        grouping(col("n_name")).cast(LongType).as("g_nation"),
        grouping(col("c_mktsegment")).cast(LongType).as("g_segment"))
      .orderBy(col("n_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
  }

  val q20Sql: String =
    """SELECT n_name, c_mktsegment, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
      |  CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
      |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_segment
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY CUBE (n_name, c_mktsegment)
      |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin

  /** INTERSECT / EXCEPT set operations tagged into one relation. */
  val q21SetOps: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val custN = c.customer.select(col("c_nationkey").cast(LongType).as("nationkey"))
    val suppN = c.supplier.select(col("s_nationkey").cast(LongType).as("nationkey"))
    custN.intersect(suppN).withColumn("tag", lit("both"))
      .unionByName(custN.except(suppN).withColumn("tag", lit("cust_only")))
      .select(col("tag"), col("nationkey"))
      .orderBy(col("tag"), col("nationkey"))
  }

  val q21Sql: String =
    """SELECT 'both' AS tag, nationkey FROM (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
      |  INTERSECT
      |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
      |UNION ALL
      |SELECT 'cust_only', nationkey FROM (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
      |  EXCEPT
      |  SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
      |ORDER BY tag, nationkey""".stripMargin

  /** Predicate battery: LIKE / BETWEEN / IN, all pushable to the scan. */
  val q22Predicates: Q = (s, dir) =>
    Catalog(s, dir).part
      .filter(col("p_name").like("%a%"))
      .filter(col("p_size").between(10, 40))
      .filter(col("p_brand").isInCollection(Seq("Brand#1", "Brand#2", "Brand#3")))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        exactSum(col("p_retailprice")).as("sum_price"))
      .orderBy(col("p_brand"))

  val q22Sql: String =
    """SELECT p_brand, COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM part
      |WHERE p_name LIKE '%a%' AND p_size BETWEEN 10 AND 40
      |  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Window-function battery: lead / ntile / percent_rank / cume_dist /
    * first_value (exact integer-ratio doubles — engine-stable). */
  val q23WindowBattery: Q = (s, dir) => {
    val o = Catalog(s, dir).orders
    val wDate = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wPrice = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val wPriceVal = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"))
    o.select(col("o_orderkey"), col("o_custkey"),
        lead(col("o_totalprice"), 1).over(wDate).as("next_price"),
        ntile(4).over(wPrice).cast(LongType).as("quartile"),
        percent_rank().over(wPriceVal).as("pr"),
        cume_dist().over(wPriceVal).as("cd"),
        first_value(col("o_orderkey")).over(wDate).as("first_order"))
      .orderBy(col("o_orderkey"))
  }

  val q23Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
      |  CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile,
      |  percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice) AS pr,
      |  cume_dist() OVER (PARTITION BY o_custkey ORDER BY o_totalprice) AS cd,
      |  first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_order
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Date/time battery; dayofweek aligned to Spark's 1=Sunday. */
  val q24Datetime: Q = (s, dir) =>
    Catalog(s, dir).orders
      .select(col("o_orderkey"),
        date_add(col("o_orderdate"), 30).as("plus30"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast(DateType))
          .cast(LongType).as("days_since_95"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("month_start"),
        dayofweek(col("o_orderdate")).cast(LongType).as("dow"),
        last_day(col("o_orderdate")).as("month_end"),
        quarter(col("o_orderdate")).cast(LongType).as("qtr"),
        weekofyear(col("o_orderdate")).cast(LongType).as("woy"))
      .orderBy(col("o_orderkey"))

  val q24Sql: String =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) + 30 AS plus30,
      |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      |  CAST(weekofyear(o_orderdate) AS BIGINT) AS woy
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Null-handling battery: coalesce / nullif / greatest / least. */
  val q25NullFuncs: Q = (s, dir) =>
    Catalog(s, dir).customer
      .select(col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER"))
          .as("seg_or_other"),
        greatest(col("c_acctbal"), lit(0.0)).as("bal_floor0"),
        least(col("c_acctbal"), lit(1000.0)).as("bal_cap1k"),
        when(col("c_acctbal") < 0, lit(null).cast(DoubleType))
          .otherwise(col("c_acctbal")).as("bal_or_null"))
      .orderBy(col("c_custkey"))

  val q25Sql: String =
    """SELECT c_custkey,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
      |  greatest(c_acctbal, 0.0) AS bal_floor0,
      |  least(c_acctbal, 1000.0) AS bal_cap1k,
      |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_or_null
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Exact interpolated percentiles + sample stddev (rounded: the two
    * engines interpolate/accumulate with different fp op order). */
  val q26Percentile: Q = (s, dir) =>
    Catalog(s, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
        round(stddev_samp(col("l_quantity")), 3).as("sd_qty"))
      .orderBy(col("l_returnflag"))

  val q26Sql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
      |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
      |  round(stddev_samp(l_quantity), 3) AS sd_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Scalar-aggregate-subquery shape (TPC-H Q17): rows under 20% of
    * their group's average — expressed as a pre-aggregated broadcast
    * join (the scalable form of a correlated scalar subquery). */
  val q27ScalarSubquery: Q = (s, dir) => {
    val li = Catalog(s, dir).lineitem
    val avgQty = li.groupBy(col("l_partkey").as("ap_key"))
      .agg((exactSum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(broadcast(avgQty), col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_small"),
        exactSum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  val q27Sql: String =
    """WITH a AS (SELECT l_partkey AS ap_key,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, COUNT(*) AS n_small,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN a ON l_partkey = ap_key
      |WHERE l_quantity < 0.5 * avg_qty
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q3 shape: segment + date predicates (pushed to the scans),
    * customer->orders->lineitem join, exact-decimal revenue, top-20 by
    * revenue. The full classic OLAP pipeline in one query. */
  val q28Tpch3: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val cutoff = lit("1998-01-01").cast(TimestampType)
    val d = DecimalType(18, 2)
    val cu = c.customer.filter(col("c_mktsegment") === "BUILDING")
    val o = c.orders.filter(col("o_orderdate") < cutoff)
    val li = c.lineitem.filter(col("l_shipdate") >= cutoff)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cu, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast(DateType).as("odate"))
      .agg(sum(col("l_extendedprice").cast(d) *
        (lit(1).cast(d) - col("l_discount").cast(d)))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(20)
  }

  val q28Sql: String =
    """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS odate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate >= TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2
      |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q01_agg_pricing", q01AggPricing, q01Sql),
    QueryDef("q02_project_rename", q02ProjectRename, q02Sql),
    QueryDef("q03_dim_double_join", q03DimDoubleJoin, q03Sql),
    QueryDef("q04_harmonize_union", q04HarmonizeUnion, q04Sql),
    // drain == batch: same oracle text
    QueryDef("s01_stream_harmonize", s01StreamHarmonize, q04Sql),
    QueryDef("q05_case_decode", q05CaseDecode, q05Sql),
    QueryDef("q06_haversine", q06Haversine, q06Sql),
    QueryDef("q07_window", q07Window, q07Sql),
    QueryDef("q08_topk", q08TopK, q08Sql),
    QueryDef("q09_distinct", q09Distinct, q09Sql),
    QueryDef("q10_rollup", q10Rollup, q10Sql),
    QueryDef("q11_anti_join", q11AntiJoin, q11Sql),
    QueryDef("q12_semi_join", q12SemiJoin, q12Sql),
    QueryDef("q13_date_agg", q13DateAgg, q13Sql),
    QueryDef("q14_sessionize", q14Sessionize, q14Sql),
    QueryDef("q15_count_distinct", q15CountDistinct, q15Sql),
    // KMV since r9 — deterministic, replayable
    QueryDef("q16_approx_distinct", q16ApproxDistinct, q16Sql),
    QueryDef("q17_string_funcs", q17StringFuncs, q17Sql),
    QueryDef("q18_conditional_agg", q18ConditionalAgg, q18Sql),
    QueryDef("q19_asof_join", q19AsofJoin, q19Sql),
    QueryDef("q20_cube", q20Cube, q20Sql),
    QueryDef("q21_set_ops", q21SetOps, q21Sql),
    QueryDef("q22_predicates", q22Predicates, q22Sql),
    QueryDef("q23_window_battery", q23WindowBattery, q23Sql),
    QueryDef("q24_datetime", q24Datetime, q24Sql),
    QueryDef("q25_null_funcs", q25NullFuncs, q25Sql),
    QueryDef("q26_percentile", q26Percentile, q26Sql),
    QueryDef("q27_scalar_subquery", q27ScalarSubquery, q27Sql),
    QueryDef("q28_tpch_q3", q28Tpch3, q28Sql),
  )
}
