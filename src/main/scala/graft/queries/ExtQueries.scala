package graft.queries

import graft.catalog.Catalog
import graft.functions.GraftFunctions._
import graft.models.AuxStaging
import graft.operators.SkewJoin
import graft.pipeline.{Snapshots, VersionedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-2 extension of the core relational surface: reshaping (pivot /
  * unpivot / explode), grouping sets, correlated EXISTS, inequality
  * (range/banding) joins, ordered string aggregation, regex battery,
  * array functions, interval-range window frames, and the salted skew
  * join exposed as a checked query (its oracle is the PLAIN join — the
  * salt must be invisible in results by construction).
  *
  * Same contract as CoreQueries: deterministic final ORDER BY, exact
  * decimal arithmetic for double sums, aliases identical between the
  * Spark plan and the DuckDB oracle.
  */
object ExtQueries {

  /** Pivot: order counts per priority × status. Explicit value list so
    * the output schema is fixed at plan time (required at scale: no
    * driver-side distinct scan), null-filled to 0 to match the
    * conditional-aggregation oracle on empty cells. */
  val q29Pivot: Q = (s, dir) => {
    Catalog(s, dir).orders
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy(col("o_orderpriority"))
  }

  val q29Sql: String =
    """SELECT o_orderpriority,
      |  count(*) FILTER (o_orderstatus = 'F') AS "F",
      |  count(*) FILTER (o_orderstatus = 'O') AS "O",
      |  count(*) FILTER (o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Unpivot (melt): wide per-line metrics to long (metric, val) rows.
    * Map-only — at scale this is a free reshape, no shuffle. */
  val q30Unpivot: Q = (s, dir) => {
    Catalog(s, dir).lineitem
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
  }

  val q30Sql: String =
    """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey <= 100)
      |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |       'l_quantity' AS metric, l_quantity AS val FROM li
      |UNION ALL
      |SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'l_extendedprice', l_extendedprice FROM li
      |UNION ALL
      |SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'l_discount', l_discount FROM li
      |ORDER BY 1, 2, 3""".stripMargin

  /** posexplode: token stream with positions (the UDTF/generator shape).
    * Generator runs inside the scan stage — map-side fan-out. */
  val q31ExplodePos: Q = (s, dir) => {
    Catalog(s, dir).documents
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(tokens(lower(col("text")))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"), col("tok"))
      .orderBy(col("doc_id"), col("pos"))
  }

  val q31Sql: String =
    """WITH toks AS (SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
      |  FROM documents WHERE doc_id < 50)
      |SELECT * FROM (SELECT doc_id, unnest(list_transform(range(len(toks)),
      |  i -> {'pos': i, 'tok': toks[i+1]}), recursive := true)
      |FROM toks) ORDER BY doc_id, pos""".stripMargin

  /** GROUPING SETS: detail, subtotal and grand-total groupings in one
    * pass (single shuffle; Spark expands the sets in the aggregate). */
  val q32GroupingSets: Q = (s, dir) => {
    Catalog(s, dir).lineitem.createOrReplaceTempView("gs_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  val q32Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Salted skew join ([[SkewJoin.saltedInnerJoin]]) aggregated to a
    * stable result. The oracle is the PLAIN join: salting is a physical
    * fan-out that must not change semantics — this query checks that. */
  val q33SaltedJoin: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val li = c.lineitem.select(col("l_orderkey").as("okey"), col("l_extendedprice"))
    val o = c.orders.select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    SkewJoin.saltedInnerJoin(li, o, "okey", saltBuckets = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
           exactSum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  val q33Sql: String =
    """SELECT o_orderpriority, count(*) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Ordered string aggregation (LISTAGG shape): deterministic via
    * sort-before-join rather than relying on input order. */
  val q34StringAgg: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val n = c.nation
    val sp = c.supplier
    sp.join(broadcast(n), sp("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_supp"),
           array_join(array_sort(collect_list(col("s_name"))), "|").as("suppliers"))
      .orderBy(col("n_name"))
  }

  val q34Sql: String =
    """SELECT n_name, count(*) AS n_supp,
      |  string_agg(s_name, '|' ORDER BY s_name) AS suppliers
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Regex battery: extract / global replace / match-test / token pick.
    * All codegen'd built-ins; patterns are literals so Catalyst compiles
    * them once. */
  val q35Regex: Q = (s, dir) => {
    Catalog(s, dir).part
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("no_vowels"),
        col("p_brand").rlike("[0-9]").as("brand_has_digit"),
        element_at(split(col("p_type"), " "), -1).as("type_last"))
      .orderBy(col("p_partkey"))
  }

  val q35Sql: String =
    """SELECT p_partkey,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
      |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
      |  regexp_matches(p_brand, '[0-9]') AS brand_has_digit,
      |  string_split(p_type, ' ')[-1] AS type_last
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Correlated EXISTS / NOT EXISTS subqueries (rewritten by Catalyst to
    * semi/anti joins — the declarative form of q11/q12). */
  val q36Exists: Q = (s, dir) => {
    val c = Catalog(s, dir)
    c.customer.createOrReplaceTempView("ex_customer")
    c.orders.createOrReplaceTempView("ex_orders")
    s.sql(
      """SELECT c_custkey, c_name FROM ex_customer c
        |WHERE EXISTS (SELECT 1 FROM ex_orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (SELECT 1 FROM ex_orders o2
        |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin)
  }

  val q36Sql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** Inequality (banding / range) join against a tiny broadcast tier
    * dim: BroadcastNestedLoopJoin with the band predicate — the right
    * plan, since no equi-key exists. At 100 TB the tier side stays
    * bounded, so the broadcast holds at any fact scale. */
  val q37RangeJoin: Q = (s, dir) => {
    import s.implicits._
    val tiers = Seq(
      ("T1_low", 0.0, 100000.0),
      ("T2_mid", 100000.0, 300000.0),
      ("T3_high", 300000.0, 600000.0)).toDF("tier", "lo", "hi")
    Catalog(s, dir).orders
      .join(broadcast(tiers),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("tier"))
  }

  val q37Sql: String =
    """WITH tiers(tier, lo, hi) AS (VALUES
      |  ('T1_low', 0.0, 100000.0), ('T2_mid', 100000.0, 300000.0),
      |  ('T3_high', 300000.0, 600000.0))
      |SELECT tier, count(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Array function battery over the token array: distinct count,
    * slice+join, membership, null-safe sorted head. */
  val q38ArrayFuncs: Q = (s, dir) => {
    Catalog(s, dir).documents
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(
        col("doc_id"),
        size(array_distinct(col("toks"))).cast(LongType).as("n_distinct"),
        array_join(slice(col("toks"), 1, 3), " ").as("first3"),
        array_contains(col("toks"), "the").as("has_the"),
        get(sort_array(col("toks")), lit(0)).as("first_sorted"))
      .orderBy(col("doc_id"))
  }

  val q38Sql: String =
    """WITH toks AS (SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
      |  FROM documents WHERE doc_id < 300)
      |SELECT doc_id,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |  array_to_string(toks[1:3], ' ') AS first3,
      |  list_contains(toks, 'the') AS has_the,
      |  list_sort(toks)[1] AS first_sorted
      |FROM toks ORDER BY doc_id""".stripMargin

  /** Interval RANGE window frame: 30-day trailing revenue per customer,
    * frame bounds by VALUE (calendar interval), not row count — ties in
    * the order key land in the same frame, so the result is partition-
    * order independent (the property that matters under shuffles). */
  val q39IntervalWindow: Q = (s, dir) => {
    Catalog(s, dir).orders.filter(col("o_custkey") <= 100)
      .createOrReplaceTempView("win_orders")
    s.sql(
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS sum_30d
        |FROM win_orders ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  val q39Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
      |  AS DOUBLE) AS sum_30d
      |FROM orders WHERE o_custkey <= 100
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Approximate percentiles via GRID-RANK (the q16 counterpart for
    * quantiles, deterministic since r9 — VERDICT r8 next-#3, retiring
    * the rows-only status r1–r8's KLL sketch carried): values bucket
    * into fixed 50-unit grid cells, per-(group, cell) counts form the
    * constant-size mergeable state (one map-side-combined shuffle — the
    * thing q26's exact full-sort percentile can't do at 100 TB), and
    * p_q = lower edge of the first cell whose cumulative count reaches
    * q·n. Error is bounded by the grid step; state is bounded by the
    * value range / step (price-like columns — document the contract per
    * column). Integer cumulative-rank comparison (cum·100 >= q100·n)
    * and exact-double cell edges make every engine agree bit-for-bit,
    * which KLL's merge-order-dependent compactions never do. */
  val q40ApproxPercentile: Q = (s, dir) => {
    val cells = Catalog(s, dir).lineitem
      .select(col("l_returnflag"),
        floor(col("l_extendedprice").cast(DoubleType) / lit(50.0))
          .cast(LongType).as("cell"))
      .groupBy(col("l_returnflag"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val cum = Window.partitionBy(col("l_returnflag")).orderBy(col("cell"))
    cells
      .withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(byFlag))
      .groupBy(col("l_returnflag"))
      .agg(
        (min(when(col("cum") * 100 >= col("n") * 50, col("cell"))) * lit(50.0))
          .cast(DoubleType).as("p50_approx"),
        (min(when(col("cum") * 100 >= col("n") * 95, col("cell"))) * lit(50.0))
          .cast(DoubleType).as("p95_approx"),
        max(col("n")).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val q40Sql: String =
    """WITH c AS (SELECT l_returnflag,
      |    CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) / 50.0) AS BIGINT) AS cell,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |w AS (SELECT l_returnflag, cell, cnt,
      |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY cell) AS cum,
      |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
      |  FROM c)
      |SELECT l_returnflag,
      |  CAST(min(CASE WHEN cum*100 >= n*50 THEN cell END) * 50.0 AS DOUBLE)
      |    AS p50_approx,
      |  CAST(min(CASE WHEN cum*100 >= n*95 THEN cell END) * 50.0 AS DOUBLE)
      |    AS p95_approx,
      |  CAST(max(n) AS BIGINT) AS n_rows
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** Semi-structured JSON extraction (events.props is a JSON string):
    * path extraction + typed cast + aggregation. The extraction is a
    * codegen'd per-row parse — map-only before the tiny group-key
    * shuffle. */
  val q41JsonFuncs: Q = (s, dir) =>
    Catalog(s, dir).events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_k"),
           sum(col("k")).as("sum_k"),
           count(when(col("k") > 50, 1)).as("n_big"))
      .orderBy(col("event_type"))

  val q41Sql: String =
    """WITH j AS (SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events)
      |SELECT event_type, COUNT(k) AS n_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  COUNT(CASE WHEN k > 50 THEN 1 END) AS n_big
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Deterministic hash-based stratified sampling: keep a row iff
    * md5Long(id) % 100 < rate(stratum). Unlike rand()/TABLESAMPLE this
    * is reproducible across engines, partitionings and cluster sizes —
    * the only sampling you can audit at 100 TB — and it needs no
    * shuffle (pure filter, pushed to the scan's batch). Strata: 20% of
    * 'en' documents, 5% of everything else. */
  val q42DetSample: Q = (s, dir) =>
    Catalog(s, dir).documents
      .filter(pmod(md5Long(col("doc_id").cast(StringType)), lit(100L)) <
        when(col("lang") === "en", 20L).otherwise(5L))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  val q42Sql: String =
    """SELECT doc_id, lang, source FROM documents
      |WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100
      |  < CASE WHEN lang = 'en' THEN 20 ELSE 5 END
      |ORDER BY doc_id""".stripMargin

  /** FULL OUTER join with unmatched rows on BOTH sides (offset key
    * ranges force left-only and right-only outputs at EVERY scale
    * factor — custkeys start at 0 and grow with sf, so <=100 / >=50
    * always leaves 0-49 left-only and 101+ right-only): coalesced key
    * + typed nulls, the reconciliation-report shape. */
  val q43FullOuter: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val cu = c.customer.filter(col("c_custkey") <= 100)
      .select(col("c_custkey"), col("c_mktsegment"))
    val oa = c.orders.filter(col("o_custkey") >= 50)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(col("o_totalprice")).as("sum_price"))
    cu.join(oa, cu("c_custkey") === oa("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_mktsegment"), col("n_orders"), col("sum_price"))
      .orderBy(col("custkey"))
  }

  /** Demographic mart (VERDICT r2 missing #3): the NTA demographic
    * staging layer ([[AuxStaging.stageDemographics]], typed per the
    * reference's dict_nyc_econ_by_nta dictionary) exercised as a
    * checked query. A raw ALL-STRING econ-by-NTA feed is derived
    * deterministically from `customer` (standing in for the xlsx/CSV
    * civic upload, incl. unparseable 'NA' travel times), try-parsed and
    * validity-flagged by the staging model, joined to the nation/region
    * dims (broadcast), and aggregated to a per-region employment mart.
    * The rate comes from integer sums (one double division at the end)
    * so the result is bit-stable under any partitioning. */
  val q44DemographicMart: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val agg = c.customer.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("pop"),
           count(when(col("c_acctbal") > 0, 1)).as("lf"),
           count(when(col("c_acctbal") < 0, 1)).as("unemp"))
    val raw = agg.select(
      lit("NTA2020").as("GeoType"),
      concat(lit("NTA"), col("c_nationkey").cast(StringType)).as("GeoID"),
      concat(lit("B"), pmod(col("c_nationkey"), lit(5L)).cast(StringType))
        .as("Borough"),
      col("pop").cast(StringType).as("Pop16plE"),
      col("lf").cast(StringType).as("LFE"),
      col("unemp").cast(StringType).as("CvLFUEm1E"),
      when(pmod(col("c_nationkey"), lit(5L)) === 0, lit("NA"))
        .otherwise((pmod(col("pop"), lit(40L)) + 20).cast(StringType))
        .as("MnTrvTmE"))
    val staged = AuxStaging.stageDemographics(raw)
    val n = c.nation.select(col("n_nationkey"), col("n_regionkey"))
    val r = c.region.select(col("r_regionkey"), col("r_name"))
    staged.join(broadcast(n), staged("nta_num") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_ntas"),
           sum(col("pop_16plus")).as("pop_16plus"),
           sum(col("labor_force")).as("labor_force"),
           sum(col("unemployed")).as("unemployed"),
           round(sum(col("unemployed")).cast(DoubleType) /
             sum(col("labor_force")), 6).as("unemployment_rate"),
           count(when(!col("tt_valid"), 1)).as("n_missing_tt"))
      .withColumnRenamed("r_name", "region")
      .orderBy(col("region"))
  }

  val q44Sql: String =
    """WITH agg AS (SELECT c_nationkey, count(*) AS pop,
      |    count(*) FILTER (c_acctbal > 0) AS lf,
      |    count(*) FILTER (c_acctbal < 0) AS unemp
      |  FROM customer GROUP BY 1),
      |raw AS (SELECT 'NTA'||c_nationkey AS geoid,
      |    CAST(pop AS VARCHAR) AS pop_s, CAST(lf AS VARCHAR) AS lf_s,
      |    CAST(unemp AS VARCHAR) AS unemp_s,
      |    CASE WHEN c_nationkey % 5 = 0 THEN 'NA'
      |         ELSE CAST(pop % 40 + 20 AS VARCHAR) END AS tt_s
      |  FROM agg),
      |staged AS (SELECT TRY_CAST(substr(geoid, 4) AS BIGINT) AS nta_num,
      |    TRY_CAST(pop_s AS BIGINT) AS pop, TRY_CAST(lf_s AS BIGINT) AS lf,
      |    TRY_CAST(unemp_s AS BIGINT) AS unemp,
      |    TRY_CAST(tt_s AS DOUBLE) AS tt
      |  FROM raw)
      |SELECT r_name AS region, count(*) AS n_ntas,
      |  CAST(SUM(pop) AS BIGINT) AS pop_16plus,
      |  CAST(SUM(lf) AS BIGINT) AS labor_force,
      |  CAST(SUM(unemp) AS BIGINT) AS unemployed,
      |  round(CAST(SUM(unemp) AS DOUBLE) / SUM(lf), 6) AS unemployment_rate,
      |  count(*) FILTER (tt IS NULL) AS n_missing_tt
      |FROM staged JOIN nation ON n_nationkey = nta_num
      |JOIN region ON r_regionkey = n_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Social demographic mart (VERDICT r6 next-#4): the NTA SOCIAL
    * staging ([[AuxStaging.stageSocial]], typed per the reference's
    * dict_nyc_social_by_nta dictionary) exercised end-to-end like q44's
    * econ path. A raw ALL-STRING social-by-NTA feed is derived
    * deterministically from `customer` — including planted
    * family>households violations (every 7th NTA) and unparseable 'NA'
    * average household sizes (every 5th) — try-parsed and
    * validity-flagged by the staging model (quarantine semantics: rows
    * kept, flagged), joined to the broadcast nation/region dims, and
    * aggregated to a per-region household/education mart. Rates come
    * from integer sums with one double division at the end. */
  val q46SocialMart: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val agg = c.customer.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("hh"),
           count(when(col("c_acctbal") > 0, 1)).as("fam"),
           count(when(col("c_acctbal") < 0, 1)).as("u18"),
           count(when(col("c_mktsegment") === "BUILDING", 1)).as("s65"),
           count(when(col("c_acctbal") > 2000, 1)).as("bach"))
    val raw = agg.select(
      lit("NTA2020").as("GeoType"),
      concat(lit("NTA"), col("c_nationkey").cast(StringType)).as("GeoID"),
      concat(lit("N"), col("c_nationkey").cast(StringType)).as("GeogName"),
      concat(lit("B"), pmod(col("c_nationkey"), lit(5L)).cast(StringType))
        .as("Borough"),
      col("hh").cast(StringType).as("HH1E"),
      when(pmod(col("c_nationkey"), lit(7L)) === 0, col("hh") + 1)
        .otherwise(col("fam")).cast(StringType).as("Fam1E"),
      col("u18").cast(StringType).as("HH1plU18E"),
      col("s65").cast(StringType).as("HH1pl65plE"),
      when(pmod(col("c_nationkey"), lit(5L)) === 0, lit("NA"))
        .otherwise((pmod(col("hh"), lit(30L)) + 20).cast(StringType))
        .as("AvgHHSzE"),
      col("hh").cast(StringType).as("EA_P25plE"),
      col("bach").cast(StringType).as("EA_BchDHE"))
    val staged = AuxStaging.stageSocial(raw)
    val n = c.nation.select(col("n_nationkey"), col("n_regionkey"))
    val r = c.region.select(col("r_regionkey"), col("r_name"))
    staged.join(broadcast(n), staged("nta_num") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_ntas"),
           sum(col("households")).as("households"),
           sum(col("family_households")).as("family_households"),
           sum(col("hh_with_65plus")).as("hh_with_65plus"),
           sum(col("pop_25plus")).as("pop_25plus"),
           sum(col("bachelors_or_higher")).as("bachelors_or_higher"),
           round(sum(col("bachelors_or_higher")).cast(DoubleType) /
             sum(col("pop_25plus")), 6).as("bachelors_rate"),
           count(when(!col("hh_valid"), 1)).as("n_invalid_hh"),
           count(when(col("avg_household_size").isNull, 1)).as("n_missing_avg"))
      .withColumnRenamed("r_name", "region")
      .orderBy(col("region"))
  }

  val q46Sql: String =
    """WITH agg AS (SELECT c_nationkey, count(*) AS hh,
      |    count(*) FILTER (c_acctbal > 0) AS fam,
      |    count(*) FILTER (c_mktsegment = 'BUILDING') AS s65,
      |    count(*) FILTER (c_acctbal > 2000) AS bach
      |  FROM customer GROUP BY 1),
      |raw AS (SELECT 'NTA'||c_nationkey AS geoid,
      |    CAST(hh AS VARCHAR) AS hh_s,
      |    CAST(CASE WHEN c_nationkey % 7 = 0 THEN hh + 1 ELSE fam END
      |      AS VARCHAR) AS fam_s,
      |    CAST(s65 AS VARCHAR) AS s65_s,
      |    CASE WHEN c_nationkey % 5 = 0 THEN 'NA'
      |         ELSE CAST(hh % 30 + 20 AS VARCHAR) END AS avg_s,
      |    CAST(hh AS VARCHAR) AS p25_s, CAST(bach AS VARCHAR) AS bach_s
      |  FROM agg),
      |staged AS (SELECT TRY_CAST(substr(geoid, 4) AS BIGINT) AS nta_num,
      |    TRY_CAST(hh_s AS BIGINT) AS hh, TRY_CAST(fam_s AS BIGINT) AS fam,
      |    TRY_CAST(s65_s AS BIGINT) AS s65,
      |    TRY_CAST(avg_s AS DOUBLE) AS avg_sz,
      |    TRY_CAST(p25_s AS BIGINT) AS p25, TRY_CAST(bach_s AS BIGINT) AS bach
      |  FROM raw)
      |SELECT r_name AS region, count(*) AS n_ntas,
      |  CAST(SUM(hh) AS BIGINT) AS households,
      |  CAST(SUM(fam) AS BIGINT) AS family_households,
      |  CAST(SUM(s65) AS BIGINT) AS hh_with_65plus,
      |  CAST(SUM(p25) AS BIGINT) AS pop_25plus,
      |  CAST(SUM(bach) AS BIGINT) AS bachelors_or_higher,
      |  round(CAST(SUM(bach) AS DOUBLE) / SUM(p25), 6) AS bachelors_rate,
      |  count(*) FILTER (NOT (hh IS NOT NULL AND fam IS NOT NULL
      |    AND fam <= hh)) AS n_invalid_hh,
      |  count(*) FILTER (avg_sz IS NULL) AS n_missing_avg
      |FROM staged JOIN nation ON n_nationkey = nta_num
      |JOIN region ON r_regionkey = n_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Housing demographic mart (VERDICT r6 next-#4, housing half): the
    * NTA HOUSING staging ([[AuxStaging.stageHousing]], typed per the
    * reference's dict_nyc_housing_by_nta dictionary), same derived-feed
    * contract as q44/q46 — planted occupied+vacant!=total violations
    * (every 6th NTA) and 'NA' homeowner vacancy rates (every 5th) —
    * staged, joined to broadcast dims, aggregated per region with the
    * occupancy rate from integer sums. */
  val q47HousingMart: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val agg = c.customer.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("tot"),
           count(when(col("c_acctbal") > 0, 1)).as("occ"),
           count(when(col("c_acctbal") <= 0, 1)).as("vac"))
    val raw = agg.select(
      lit("NTA2020").as("GeoType"),
      concat(lit("NTA"), col("c_nationkey").cast(StringType)).as("GeoID"),
      concat(lit("N"), col("c_nationkey").cast(StringType)).as("GeogName"),
      concat(lit("B"), pmod(col("c_nationkey"), lit(5L)).cast(StringType))
        .as("Borough"),
      col("tot").cast(StringType).as("HU1E"),
      col("occ").cast(StringType).as("OcHU1E"),
      when(pmod(col("c_nationkey"), lit(6L)) === 0, col("vac") + 1)
        .otherwise(col("vac")).cast(StringType).as("VacHUE"),
      when(pmod(col("c_nationkey"), lit(5L)) === 0, lit("NA"))
        .otherwise((pmod(col("tot"), lit(90L)) + 5).cast(StringType))
        .as("HOVacRtE"),
      (pmod(col("tot"), lit(80L)) + 3).cast(StringType).as("RntVacRtE"))
    val staged = AuxStaging.stageHousing(raw)
    val n = c.nation.select(col("n_nationkey"), col("n_regionkey"))
    val r = c.region.select(col("r_regionkey"), col("r_name"))
    staged.join(broadcast(n), staged("nta_num") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_ntas"),
           sum(col("total_units")).as("total_units"),
           sum(col("occupied_units")).as("occupied_units"),
           sum(col("vacant_units")).as("vacant_units"),
           round(sum(col("occupied_units")).cast(DoubleType) /
             sum(col("total_units")), 6).as("occupancy_rate"),
           count(when(!col("units_valid"), 1)).as("n_invalid_units"),
           count(when(col("homeowner_vacancy_rate").isNull, 1))
             .as("n_missing_hov"))
      .withColumnRenamed("r_name", "region")
      .orderBy(col("region"))
  }

  val q47Sql: String =
    """WITH agg AS (SELECT c_nationkey, count(*) AS tot,
      |    count(*) FILTER (c_acctbal > 0) AS occ,
      |    count(*) FILTER (c_acctbal <= 0) AS vac
      |  FROM customer GROUP BY 1),
      |raw AS (SELECT 'NTA'||c_nationkey AS geoid,
      |    CAST(tot AS VARCHAR) AS tot_s, CAST(occ AS VARCHAR) AS occ_s,
      |    CAST(CASE WHEN c_nationkey % 6 = 0 THEN vac + 1 ELSE vac END
      |      AS VARCHAR) AS vac_s,
      |    CASE WHEN c_nationkey % 5 = 0 THEN 'NA'
      |         ELSE CAST(tot % 90 + 5 AS VARCHAR) END AS hov_s
      |  FROM agg),
      |staged AS (SELECT TRY_CAST(substr(geoid, 4) AS BIGINT) AS nta_num,
      |    TRY_CAST(tot_s AS BIGINT) AS tot, TRY_CAST(occ_s AS BIGINT) AS occ,
      |    TRY_CAST(vac_s AS BIGINT) AS vac, TRY_CAST(hov_s AS DOUBLE) AS hov
      |  FROM raw)
      |SELECT r_name AS region, count(*) AS n_ntas,
      |  CAST(SUM(tot) AS BIGINT) AS total_units,
      |  CAST(SUM(occ) AS BIGINT) AS occupied_units,
      |  CAST(SUM(vac) AS BIGINT) AS vacant_units,
      |  round(CAST(SUM(occ) AS DOUBLE) / SUM(tot), 6) AS occupancy_rate,
      |  count(*) FILTER (NOT (tot IS NOT NULL AND occ IS NOT NULL
      |    AND vac IS NOT NULL AND occ + vac = tot)) AS n_invalid_units,
      |  count(*) FILTER (hov IS NULL) AS n_missing_hov
      |FROM staged JOIN nation ON n_nationkey = nta_num
      |JOIN region ON r_regionkey = n_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Decennial-census mart (VERDICT r12 next-#6, closing the last
    * unstaged `ref/` dataset): [[AuxStaging.stageCensus]] exercised
    * end-to-end under the q44/q46/q47 contract. A raw ALL-STRING
    * census feed (GeoType/GeoID/counts with decade suffixes, exactly
    * the `2010_2020_and_Change` sheet's header surface) is derived
    * deterministically from `customer`, with planted violations of the
    * census's own identities — population != households+GQ (every
    * 11th NTA), occupied+vacant != units (every 13th), change !=
    * 2020-2010 (every 7th), an unparseable 'NA' household size (every
    * 5th), and a CT2020 decoy row the NTA filter must drop — then
    * staged, joined to broadcast dims, and aggregated per region with
    * the decade growth rate from integer sums. The REAL xlsx staging
    * is pinned by AuxStagingSpec over the reference workbook itself. */
  val q61CensusMart: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val agg = c.customer.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
           count(when(col("c_acctbal") > 0, 1)).as("pos"),
           count(when(col("c_acctbal") < 0, 1)).as("neg"))
    val raw = agg.select(
      when(pmod(col("c_nationkey"), lit(25L)) === 24, lit("CT2020"))
        .otherwise(lit("NTA2020")).as("GeoType"),
      concat(lit("NTA"), col("c_nationkey").cast(StringType)).as("GeoID"),
      concat(lit("NTA "), col("c_nationkey").cast(StringType)).as("Name"),
      concat(lit("B"), pmod(col("c_nationkey"), lit(5L)).cast(StringType))
        .as("Borough"),
      pmod(col("c_nationkey"), lit(3L)).cast(StringType).as("NTA Type"),
      (col("n") * 10).cast(StringType).as("Pop_10"),
      (col("n") * 10 + col("pos")).cast(StringType).as("Pop_20"),
      when(pmod(col("c_nationkey"), lit(7L)) === 0, col("pos") + 1)
        .otherwise(col("pos")).cast(StringType).as("Pop_Ch"),
      (col("n") * 10 + col("pos") - col("neg")).cast(StringType)
        .as("HHPop_20"),
      when(pmod(col("c_nationkey"), lit(11L)) === 0, col("neg") + 1)
        .otherwise(col("neg")).cast(StringType).as("GQ_20"),
      (col("n") * 4).cast(StringType).as("HUnits_20"),
      (col("n") * 3).cast(StringType).as("OcHU_20"),
      when(pmod(col("c_nationkey"), lit(13L)) === 0, col("n") + 1)
        .otherwise(col("n")).cast(StringType).as("VacHU_20"),
      when(pmod(col("c_nationkey"), lit(5L)) === 0, lit("NA"))
        .otherwise((pmod(col("n"), lit(30L)) + 10).cast(StringType))
        .as("AvHHSz_20"))
    val staged = AuxStaging.stageCensus(raw)
      // the real GeoID is BK0101-style (no embedded numeric key); the
      // synthesized feed uses the NTA<n> derived form, keyed like q44
      .withColumn("nta_num",
        when(col("nta_code").rlike("^NTA[0-9]+$"),
          substring(col("nta_code"), 4, 12).try_cast(LongType)))
    val n = c.nation.select(col("n_nationkey"), col("n_regionkey"))
    val r = c.region.select(col("r_regionkey"), col("r_name"))
    staged.join(broadcast(n), staged("nta_num") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_ntas"),
           sum(col("pop_2010")).as("pop_2010"),
           sum(col("pop_2020")).as("pop_2020"),
           round((sum(col("pop_2020")) - sum(col("pop_2010")))
             .cast(DoubleType) / sum(col("pop_2010")), 6).as("growth_rate"),
           count(when(!col("pop_identity_valid"), 1)).as("n_pop_violations"),
           count(when(!col("units_valid"), 1)).as("n_units_violations"),
           count(when(!col("change_valid"), 1)).as("n_change_violations"),
           count(when(col("avg_hh_size_2020").isNull, 1)).as("n_missing_avg"))
      .withColumnRenamed("r_name", "region")
      .orderBy(col("region"))
  }

  val q61Sql: String =
    """WITH agg AS (SELECT c_nationkey, count(*) AS n,
      |    count(*) FILTER (c_acctbal > 0) AS pos,
      |    count(*) FILTER (c_acctbal < 0) AS neg
      |  FROM customer GROUP BY 1),
      |raw AS (SELECT c_nationkey,
      |    CASE WHEN c_nationkey % 25 = 24 THEN 'CT2020' ELSE 'NTA2020' END
      |      AS geotype,
      |    CAST(n * 10 AS VARCHAR) AS p10_s,
      |    CAST(n * 10 + pos AS VARCHAR) AS p20_s,
      |    CAST(CASE WHEN c_nationkey % 7 = 0 THEN pos + 1 ELSE pos END
      |      AS VARCHAR) AS pch_s,
      |    CAST(n * 10 + pos - neg AS VARCHAR) AS hh_s,
      |    CAST(CASE WHEN c_nationkey % 11 = 0 THEN neg + 1 ELSE neg END
      |      AS VARCHAR) AS gq_s,
      |    CAST(n * 4 AS VARCHAR) AS hu_s,
      |    CAST(n * 3 AS VARCHAR) AS oc_s,
      |    CAST(CASE WHEN c_nationkey % 13 = 0 THEN n + 1 ELSE n END
      |      AS VARCHAR) AS vac_s,
      |    CASE WHEN c_nationkey % 5 = 0 THEN 'NA'
      |         ELSE CAST(n % 30 + 10 AS VARCHAR) END AS avg_s
      |  FROM agg),
      |staged AS (SELECT c_nationkey AS nta_num,
      |    TRY_CAST(p10_s AS BIGINT) AS p10, TRY_CAST(p20_s AS BIGINT) AS p20,
      |    TRY_CAST(pch_s AS BIGINT) AS pch, TRY_CAST(hh_s AS BIGINT) AS hh,
      |    TRY_CAST(gq_s AS BIGINT) AS gq, TRY_CAST(hu_s AS BIGINT) AS hu,
      |    TRY_CAST(oc_s AS BIGINT) AS oc, TRY_CAST(vac_s AS BIGINT) AS vac,
      |    TRY_CAST(avg_s AS DOUBLE) AS avg
      |  FROM raw WHERE geotype = 'NTA2020')
      |SELECT r_name AS region, count(*) AS n_ntas,
      |  CAST(SUM(p10) AS BIGINT) AS pop_2010,
      |  CAST(SUM(p20) AS BIGINT) AS pop_2020,
      |  round(CAST(SUM(p20) - SUM(p10) AS DOUBLE) / SUM(p10), 6)
      |    AS growth_rate,
      |  count(*) FILTER (NOT (p20 IS NOT NULL AND hh IS NOT NULL
      |    AND gq IS NOT NULL AND hh + gq = p20)) AS n_pop_violations,
      |  count(*) FILTER (NOT (hu IS NOT NULL AND oc IS NOT NULL
      |    AND vac IS NOT NULL AND oc + vac = hu)) AS n_units_violations,
      |  count(*) FILTER (NOT (p10 IS NOT NULL AND p20 IS NOT NULL
      |    AND pch IS NOT NULL AND p20 - p10 = pch)) AS n_change_violations,
      |  count(*) FILTER (avg IS NULL) AS n_missing_avg
      |FROM staged JOIN nation ON n_nationkey = nta_num
      |JOIN region ON r_regionkey = n_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Evictions mart (q64 — VERDICT r17 next-#2, the q61 census
    * pattern): [[AuxStaging.stageEvictions]] exercised end-to-end. The
    * reference strips the evictions data file
    * (`ref/1_SRC___AUX_NYC_EVICTION`, `.MISSING_LARGE_BLOBS`) and
    * ships only `dict_nyc_evictions.csv`, so the raw ALL-STRING feed
    * (Court Index Number / Borough / Executed Date M/d/yyyy /
    * Latitude / Longitude / Residential-Commercial / NTA — the
    * dictionary's surface) is synthesized deterministically from
    * `customer`, with planted violations of the dataset's own
    * identities: an unparseable 'PENDING' Executed Date (every 7th
    * key), an out-of-range latitude 999.0 (every 11th), a blank
    * longitude (every 13th), and a real-world-form 'BK0101' NTA
    * (every 17th) that the NTA<n> join-key pattern must drop. All
    * numeric strings are built by INTEGER concatenation on both
    * sides — no float rendering crosses the engine boundary. Staged,
    * joined to broadcast dims, aggregated per region with date
    * bounds from the parsed column. */
  val q64EvictionsMart: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val k = col("c_custkey")
    val raw = c.customer.select(
      concat(lit("K"), k.cast(StringType)).as("Court Index Number"),
      concat(lit("B"), pmod(col("c_nationkey"), lit(5L)).cast(StringType))
        .as("Borough"),
      (lit(10000L) + pmod(k, lit(200L))).cast(StringType).as("Eviction Zip"),
      when(pmod(k, lit(7L)) === 0, lit("PENDING"))
        .otherwise(concat((pmod(k, lit(12L)) + 1).cast(StringType), lit("/"),
          (pmod(k, lit(28L)) + 1).cast(StringType), lit("/2023")))
        .as("Executed Date"),
      when(pmod(k, lit(11L)) === 0, lit("999.0"))
        .otherwise(concat(lit("40."),
          lpad(pmod(k, lit(500L)).cast(StringType), 3, "0"))).as("Latitude"),
      when(pmod(k, lit(13L)) === 0, lit(""))
        .otherwise(concat(lit("-73."),
          lpad(pmod(k * 7, lit(1000L)).cast(StringType), 3, "0")))
        .as("Longitude"),
      when(pmod(k, lit(3L)) === 0, lit("Commercial"))
        .otherwise(lit("Residential")).as("Residential/Commercial"),
      when(pmod(k, lit(17L)) === 0, lit("BK0101"))
        .otherwise(concat(lit("NTA"), col("c_nationkey").cast(StringType)))
        .as("NTA"))
    val staged = AuxStaging.stageEvictions(raw)
      .withColumn("nta_num",
        when(col("nta").rlike("^NTA[0-9]+$"),
          substring(col("nta"), 4, 12).try_cast(LongType)))
    val n = c.nation.select(col("n_nationkey"), col("n_regionkey"))
    val r = c.region.select(col("r_regionkey"), col("r_name"))
    staged.join(broadcast(n), staged("nta_num") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_evictions"),
           count(when(col("residential_commercial") === "Residential", 1))
             .as("n_residential"),
           count(when(col("residential_commercial") === "Commercial", 1))
             .as("n_commercial"),
           count(when(!col("date_valid"), 1)).as("n_invalid_dates"),
           count(when(!col("coords_valid"), 1)).as("n_invalid_coords"),
           min(col("executed_date")).as("first_eviction"),
           max(col("executed_date")).as("last_eviction"))
      .withColumnRenamed("r_name", "region")
      .orderBy(col("region"))
  }

  val q64Sql: String =
    """WITH raw AS (SELECT c_custkey AS k, c_nationkey AS nk,
      |    CASE WHEN c_custkey % 7 = 0 THEN 'PENDING'
      |      ELSE CAST(c_custkey % 12 + 1 AS VARCHAR) || '/' ||
      |           CAST(c_custkey % 28 + 1 AS VARCHAR) || '/2023' END AS d_s,
      |    CASE WHEN c_custkey % 11 = 0 THEN '999.0'
      |      ELSE '40.' || lpad(CAST(c_custkey % 500 AS VARCHAR), 3, '0')
      |      END AS lat_s,
      |    CASE WHEN c_custkey % 13 = 0 THEN ''
      |      ELSE '-73.' || lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0')
      |      END AS lng_s,
      |    CASE WHEN c_custkey % 3 = 0 THEN 'Commercial'
      |      ELSE 'Residential' END AS rc,
      |    CASE WHEN c_custkey % 17 = 0 THEN NULL ELSE c_nationkey END AS nta
      |  FROM customer),
      |staged AS (SELECT nta, rc,
      |    CAST(try_strptime(d_s, '%-m/%-d/%Y') AS DATE) AS ed,
      |    TRY_CAST(lat_s AS DOUBLE) AS lat, TRY_CAST(lng_s AS DOUBLE) AS lng
      |  FROM raw),
      |f AS (SELECT nta, rc, ed, (ed IS NOT NULL) AS dv,
      |    (lat IS NOT NULL AND lng IS NOT NULL
      |      AND abs(lat) <= 90 AND abs(lng) <= 180) AS cv
      |  FROM staged)
      |SELECT r_name AS region, count(*) AS n_evictions,
      |  count(*) FILTER (rc = 'Residential') AS n_residential,
      |  count(*) FILTER (rc = 'Commercial') AS n_commercial,
      |  count(*) FILTER (NOT dv) AS n_invalid_dates,
      |  count(*) FILTER (NOT cv) AS n_invalid_coords,
      |  min(ed) AS first_eviction, max(ed) AS last_eviction
      |FROM f JOIN nation ON n_nationkey = nta
      |JOIN region ON r_regionkey = n_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Restaurant-inspections mart (q65 — the q64/q61 contract for the
    * OTHER stripped `ref/` dataset,
    * `ref/1_SRC___AUX_NYC_RESTAURANT|dict_nyc_restaurant_inspections.csv`):
    * [[AuxStaging.stageRestaurantInspections]] end-to-end. Raw feed
    * synthesized from `orders` (CAMIS = o_custkey, several inspections
    * per restaurant — the real feed's shape), with planted violations:
    * an out-of-dictionary BORO code '0' every 6th key (the no-ELSE
    * CASE decode must yield NULL, the reference's CASE idiom), an
    * unparseable 'N/A' inspection date every 19th orderkey, an 'NA'
    * score every 23rd, and a 'Q' grade every 5th (outside the accepted
    * grade set -> flagged, not nulled). Scores stage through the
    * dictionary's NUMERIC type (DECIMAL(38,9)) and are presented as
    * exact integer sums — no decimal crosses the output boundary. */
  val q65RestaurantMart: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val ok = col("o_orderkey")
    val ck = col("o_custkey")
    val raw = c.orders.select(
      ck.cast(StringType).as("CAMIS"),
      concat(lit("R"), ck.cast(StringType)).as("DBA"),
      pmod(ck, lit(6L)).cast(StringType).as("BORO"),
      concat(lit("C"), pmod(ck, lit(20L)).cast(StringType)).as("CUISINE DESCRIPTION"),
      when(pmod(ok, lit(19L)) === 0, lit("N/A"))
        .otherwise(concat((pmod(ok, lit(12L)) + 1).cast(StringType), lit("/"),
          (pmod(ok, lit(28L)) + 1).cast(StringType), lit("/2024")))
        .as("INSPECTION DATE"),
      when(pmod(ok, lit(23L)) === 0, lit("NA"))
        .otherwise(pmod(ok, lit(50L)).cast(StringType)).as("SCORE"),
      when(pmod(ok, lit(5L)) === 0, lit("Q"))
        .when(pmod(ok, lit(3L)) === 0, lit("A"))
        .when(pmod(ok, lit(3L)) === 1, lit("B"))
        .otherwise(lit("C")).as("GRADE"),
      concat(lit("40."), lpad(pmod(ok, lit(500L)).cast(StringType), 3, "0"))
        .as("Latitude"),
      concat(lit("-73."), lpad(pmod(ok * 3, lit(1000L)).cast(StringType), 3, "0"))
        .as("Longitude"),
      concat(lit("NTA"), pmod(ck, lit(25L)).cast(StringType)).as("NTA"))
    val staged = AuxStaging.stageRestaurantInspections(raw)
      .withColumn("nta_num",
        when(col("nta").rlike("^NTA[0-9]+$"),
          substring(col("nta"), 4, 12).try_cast(LongType)))
    val n = c.nation.select(col("n_nationkey"), col("n_regionkey"))
    val r = c.region.select(col("r_regionkey"), col("r_name"))
    staged.join(broadcast(n), staged("nta_num") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_inspections"),
           countDistinct(col("camis_id")).as("n_restaurants"),
           count(when(col("borough").isNull, 1)).as("n_unknown_boro"),
           count(when(!col("grade_valid"), 1)).as("n_invalid_grades"),
           count(when(col("inspection_date").isNull, 1)).as("n_bad_dates"),
           count(when(col("score").isNull, 1)).as("n_missing_scores"),
           sum(col("score").cast(LongType)).as("sum_score"),
           min(col("inspection_date")).as("first_inspection"),
           max(col("inspection_date")).as("last_inspection"))
      .withColumnRenamed("r_name", "region")
      .orderBy(col("region"))
  }

  val q65Sql: String =
    """WITH raw AS (SELECT o_orderkey AS k, o_custkey AS ck,
      |    CASE WHEN o_orderkey % 19 = 0 THEN 'N/A'
      |      ELSE CAST(o_orderkey % 12 + 1 AS VARCHAR) || '/' ||
      |           CAST(o_orderkey % 28 + 1 AS VARCHAR) || '/2024' END AS d_s,
      |    CASE WHEN o_orderkey % 23 = 0 THEN 'NA'
      |      ELSE CAST(o_orderkey % 50 AS VARCHAR) END AS sc_s,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'Q'
      |         WHEN o_orderkey % 3 = 0 THEN 'A'
      |         WHEN o_orderkey % 3 = 1 THEN 'B'
      |         ELSE 'C' END AS grade,
      |    CASE WHEN o_custkey % 6 = 0 THEN NULL
      |         WHEN o_custkey % 6 = 1 THEN 'MANHATTAN'
      |         WHEN o_custkey % 6 = 2 THEN 'BRONX'
      |         WHEN o_custkey % 6 = 3 THEN 'BROOKLYN'
      |         WHEN o_custkey % 6 = 4 THEN 'QUEENS'
      |         ELSE 'STATEN ISLAND' END AS boro,
      |    o_custkey % 25 AS nta
      |  FROM orders),
      |staged AS (SELECT ck, nta, boro, grade,
      |    CAST(try_strptime(d_s, '%-m/%-d/%Y') AS DATE) AS idate,
      |    CAST(TRY_CAST(sc_s AS DECIMAL(38,9)) AS BIGINT) AS score,
      |    COALESCE(grade IN ('A','B','C','N','Z','P'), false) AS gv
      |  FROM raw)
      |SELECT r_name AS region, count(*) AS n_inspections,
      |  count(DISTINCT ck) AS n_restaurants,
      |  count(*) FILTER (boro IS NULL) AS n_unknown_boro,
      |  count(*) FILTER (NOT gv) AS n_invalid_grades,
      |  count(*) FILTER (idate IS NULL) AS n_bad_dates,
      |  count(*) FILTER (score IS NULL) AS n_missing_scores,
      |  CAST(SUM(score) AS BIGINT) AS sum_score,
      |  min(idate) AS first_inspection, max(idate) AS last_inspection
      |FROM staged JOIN nation ON n_nationkey = nta
      |JOIN region ON r_regionkey = n_regionkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Hot-key salted join with REAL skew: 75% of lineitem rows map to
    * one key (the remainder spread over 97), joined to a small dim.
    * Exercises [[SkewJoin.saltedInnerJoin]]'s HOT path end-to-end —
    * sampled hot-key detection, salted fan-out of the hot rows, bounded
    * replication of the hot-key dim subset, cold-path plain join, and
    * the union — against a plain-join oracle (the salt must be
    * invisible). q33 covers the complementary no-skew case, where the
    * operator must degenerate to exactly the plain join. */
  val q45HotKeyJoin: Q = (s, dir) => {
    val li = Catalog(s, dir).lineitem.select(
      when(pmod(col("l_orderkey"), lit(4L)) =!= 0, lit(0L))
        .otherwise(pmod(col("l_orderkey"), lit(97L))).as("grp"),
      col("l_extendedprice"))
    val dim = s.range(97).select(col("id").as("grp"),
      concat(lit("g"), col("id")).as("label"))
    SkewJoin.saltedInnerJoin(li, dim, "grp", saltBuckets = 8)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_rows"),
           exactSum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("label"))
  }

  val q45Sql: String =
    """WITH dim AS (SELECT g AS grp, 'g'||g AS label
      |    FROM (SELECT unnest(range(0,97)) AS g)),
      |li AS (SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 0
      |    ELSE l_orderkey % 97 END AS grp, l_extendedprice FROM lineitem)
      |SELECT label, count(*) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM li JOIN dim USING (grp)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q48 — the staged geo surface driver-hash-checked (VERDICT r7
    * next-#4): deterministic md5-placed points in the unit square,
    * assigned to a literal polygon fixture through the SAME WKB parse +
    * broadcast ray-casting kernel the NTA dimension uses
    * ([[graft.geo.GeoJoin.assignZones]] over [[graft.geo.Wkb]] bytes,
    * ref `dbt/.../2_DIM___AUX_NYC` / `nyc_nta_zones.parquet`), while
    * the oracle replays the even-odd crossing rule EDGE BY EDGE in SQL
    * over the identical vertex relation. The fixture exercises every
    * semantic branch: a non-convex (L-shaped) ring, a hole, a
    * multipolygon, two OVERLAPPING zones (the deterministic
    * lowest-zone-key-wins scan order = the oracle's min(zone_key)),
    * and points in no zone (NULL). The oracle sees only the sf parquet
    * tables, so ONE Scala structure emits both the WKB bytes and the
    * SQL VALUES rows — the two sides cannot drift. Cross-engine float
    * safety: both engines evaluate the identical crossing expression
    * (x2−x1)·(y−y1)/(y2−y1)+x1 over identical doubles (md5-integer
    * coordinates /10^6; vertex literals exact in 2 decimals), so the
    * comparison is bit-deterministic with no rounding grid needed. */
  private val q48Zones: Seq[(String, Seq[Seq[Array[Double]]])] = Seq(
    // zone key -> polygons -> rings (outer first), flat (x, y), open
    "Z0_OVERLAP" -> Seq(Seq(
      Array(0.4, 0.4, 0.7, 0.4, 0.7, 0.7, 0.4, 0.7))),
    "Z1_LSHAPE" -> Seq(Seq(
      Array(0.0, 0.0, 0.5, 0.0, 0.5, 0.25, 0.25, 0.25, 0.25, 0.5, 0.0, 0.5))),
    "Z2_HOLE" -> Seq(Seq(
      Array(0.5, 0.5, 1.0, 0.5, 1.0, 1.0, 0.5, 1.0),
      Array(0.65, 0.65, 0.85, 0.65, 0.85, 0.85, 0.65, 0.85))),
    "Z3_MULTI" -> Seq(
      Seq(Array(0.0, 0.6, 0.2, 0.6, 0.2, 0.8, 0.0, 0.8)),
      Seq(Array(0.6, 0.0, 0.9, 0.0, 0.9, 0.3, 0.6, 0.3))))

  val q48GeoZones: Q = (s, dir) => {
    val zoneRows = q48Zones.map { case (k, polys) =>
      org.apache.spark.sql.Row(k,
        if (polys.size == 1) graft.geo.Wkb.writePolygon(polys.head)
        else graft.geo.Wkb.writeMultiPolygon(polys))
    }
    val zones = s.createDataFrame(
      java.util.Arrays.asList(zoneRows: _*),
      StructType(Seq(StructField("zone_key", StringType),
        StructField("wkb", BinaryType))))
    val pts = Catalog(s, dir).customer.select(
      col("c_custkey").as("id"),
      (md5Long(concat(lit("geox|"), col("c_custkey").cast(StringType)))
        % 1000001L / lit(1000000.0)).as("lng"),
      (md5Long(concat(lit("geoy|"), col("c_custkey").cast(StringType)))
        % 1000001L / lit(1000000.0)).as("lat"))
    graft.geo.GeoJoin.assignZones(pts, zones,
        "id", "lng", "lat", "zone_key", "wkb")
      .orderBy(col("id"))
  }

  /** Edge rows (xi, yi) -> (xj, yj) in EXACTLY the traversal order of
    * [[graft.geo.Wkb.inRing]] (j = previous vertex), emitted from the
    * same ring arrays the WKB is built from. */
  private lazy val q48EdgeValues: String = q48Zones.flatMap {
    case (k, polys) => polys.zipWithIndex.flatMap { case (rings, pIdx) =>
      rings.zipWithIndex.flatMap { case (ring, rIdx) =>
        val n = ring.length / 2
        (0 until n).map { i =>
          val j = (i + n - 1) % n
          s"('$k', $pIdx, $rIdx, ${rIdx > 0}, " +
            s"CAST(${ring(2 * i)} AS DOUBLE), CAST(${ring(2 * i + 1)} AS DOUBLE), " +
            s"CAST(${ring(2 * j)} AS DOUBLE), CAST(${ring(2 * j + 1)} AS DOUBLE))"
        }
      }
    }
  }.mkString(",\n    ")

  lazy val q48Sql: String = {
    def coord(seed: String) =
      s"(CAST(('0x'||substr(md5('$seed|'||c_custkey::VARCHAR),1,15)) AS BIGINT)" +
        " % 1000001) / CAST(1000000 AS DOUBLE)"
    s"""WITH pts AS (SELECT c_custkey AS id,
       |  ${coord("geox")} AS lng,
       |  ${coord("geoy")} AS lat FROM customer),
       |edges(zone_key, poly_id, ring_id, is_hole, x1, y1, x2, y2) AS (VALUES
       |    $q48EdgeValues),
       |crossings AS (SELECT p.id, e.zone_key, e.poly_id, e.ring_id, e.is_hole,
       |  CASE WHEN (e.y1 > p.lat) <> (e.y2 > p.lat)
       |    AND p.lng < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
       |  THEN 1 ELSE 0 END AS c
       |  FROM pts p CROSS JOIN edges e),
       |rings AS (SELECT id, zone_key, poly_id, ring_id, is_hole,
       |  sum(c) % 2 = 1 AS inside FROM crossings GROUP BY 1, 2, 3, 4, 5),
       |polys AS (SELECT id, zone_key, poly_id,
       |  bool_and(CASE WHEN is_hole THEN NOT inside ELSE inside END) AS contained
       |  FROM rings GROUP BY 1, 2, 3),
       |zm AS (SELECT id, min(zone_key) AS zone FROM polys
       |  WHERE contained GROUP BY 1)
       |SELECT p.id, p.lng, p.lat, z.zone
       |FROM pts p LEFT JOIN zm z ON z.id = p.id
       |ORDER BY p.id""".stripMargin
  }

  /** q49 — grid-bucketed radius self-join ([[graft.geo.GeoJoin
    * .radiusPairs]]): md5-placed points in a 1°×1° NYC-ish box, all
    * pairs within 3 km via cell-neighborhood candidates + the exact
    * q06 haversine kernel. The scale path q48's broadcast join scopes
    * out — candidates come from an equi-join on the grid key, never a
    * cross join (GeoSpec pins the plan). Cell sizes 0.03°/0.04°
    * satisfy the coverage contract at |lat| <= 41 (3/110.574 = 0.0271;
    * 3/(111.320·cos 41°) = 0.0357). The oracle replays grid assignment
    * → 3×3 neighbor explode → equi-join → round-3dp haversine
    * threshold. */
  val q49RadiusJoin: Q = (s, dir) => {
    val pts = Catalog(s, dir).customer.select(
      col("c_custkey").as("id"),
      (lit(40.0) + md5Long(concat(lit("glat|"), col("c_custkey").cast(StringType)))
        % 1000001L / lit(1000000.0)).as("lat"),
      (lit(-74.5) + md5Long(concat(lit("glng|"), col("c_custkey").cast(StringType)))
        % 1000001L / lit(1000000.0)).as("lng"))
    graft.geo.GeoJoin.radiusPairs(pts, "id", "lat", "lng",
        radiusKm = 3.0, latStepDeg = 0.03, lngStepDeg = 0.04)
      .orderBy(col("id1"), col("id2"))
  }

  lazy val q49Sql: String = {
    def coord(seed: String, base: String) =
      s"$base + (CAST(('0x'||substr(md5('$seed|'||c_custkey::VARCHAR),1,15)) AS BIGINT)" +
        " % 1000001) / CAST(1000000 AS DOUBLE)"
    val hav = "6371.0 * acos(least(1.0, greatest(-1.0, " +
      "cos(radians(l.lat1))*cos(radians(r.lat))*cos(radians(r.lng)-radians(l.lng1)) " +
      "+ sin(radians(l.lat1))*sin(radians(r.lat)))))"
    s"""WITH pts AS (SELECT c_custkey AS id,
       |  ${coord("glat", "40.0")} AS lat,
       |  ${coord("glng", "-74.5")} AS lng FROM customer),
       |cells AS (SELECT id, lat, lng,
       |  CAST(floor(lng / 0.04) AS BIGINT) AS cx,
       |  CAST(floor(lat / 0.03) AS BIGINT) AS cy FROM pts),
       |l AS (SELECT c.id AS id1, c.lat AS lat1, c.lng AS lng1,
       |  c.cx + dx.dx AS cx, c.cy + dy.dy AS cy
       |  FROM cells c, range(-1, 2) dx(dx), range(-1, 2) dy(dy)),
       |j AS (SELECT l.id1, r.id AS id2, round($hav, 3) AS dist_km
       |  FROM l JOIN cells r ON r.cx = l.cx AND r.cy = l.cy AND l.id1 < r.id)
       |SELECT id1, id2, dist_km FROM j WHERE dist_km <= 3.0
       |ORDER BY id1, id2""".stripMargin
  }

  val q43Sql: String =
    """WITH cu AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey <= 100),
      |oa AS (SELECT o_custkey, count(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |  FROM orders WHERE o_custkey >= 50 GROUP BY 1)
      |SELECT coalesce(c_custkey, o_custkey) AS custkey,
      |  c_mktsegment, n_orders, sum_price
      |FROM cu FULL OUTER JOIN oa ON c_custkey = o_custkey
      |ORDER BY custkey""".stripMargin

  /** q50 — both-sides-large point-in-polygon join
    * ([[graft.geo.GeoJoin.gridPolygonJoin]], VERDICT r8 next-#4):
    * customer-derived md5 points (q49's cloud) against supplier-derived
    * md5 diamond polygons — neither side broadcast; candidates from the
    * cell-key equi-join, containment from the even-odd ray cast the
    * oracle replays edge-by-edge (q48's kernel, computed geometry
    * instead of literal fixtures). Diamond half-widths 0.01–0.04° keep
    * every bbox within a 3×3 cell fan-out at the 0.03/0.04 grid. */
  val q50PolygonJoin: Q = (s, dir) => {
    val pts = Catalog(s, dir).customer.select(
      col("c_custkey").as("id"),
      (lit(40.0) + md5Long(concat(lit("glat|"), col("c_custkey").cast(StringType)))
        % 1000001L / lit(1000000.0)).as("lat"),
      (lit(-74.5) + md5Long(concat(lit("glng|"), col("c_custkey").cast(StringType)))
        % 1000001L / lit(1000000.0)).as("lng"))
    def h(seed: String) =
      md5Long(concat(lit(seed + "|"), col("s_suppkey").cast(StringType)))
    val zs = Catalog(s, dir).supplier.select(
        col("s_suppkey").as("zid"),
        (lit(40.0) + h("zlat") % 1000001L / lit(1000000.0)).as("clat"),
        (lit(-74.5) + h("zlng") % 1000001L / lit(1000000.0)).as("clng"),
        (lit(0.01) + h("zwla") % 101L / lit(100.0) * lit(0.03)).as("wlat"),
        (lit(0.01) + h("zwln") % 101L / lit(100.0) * lit(0.03)).as("wlng"))
      .select(col("zid"), array(
        struct((col("clat") + col("wlat")).as("lat"), col("clng").as("lng")),
        struct(col("clat").as("lat"), (col("clng") + col("wlng")).as("lng")),
        struct((col("clat") - col("wlat")).as("lat"), col("clng").as("lng")),
        struct(col("clat").as("lat"), (col("clng") - col("wlng")).as("lng")))
        .as("verts"))
    graft.geo.GeoJoin.gridPolygonJoin(pts, "id", "lat", "lng",
        zs, "zid", "verts", latStepDeg = 0.03, lngStepDeg = 0.04)
      .orderBy(col("pid"), col("zid"))
  }

  lazy val q50Sql: String = {
    def pcoord(seed: String, base: String) =
      s"$base + (CAST(('0x'||substr(md5('$seed|'||c_custkey::VARCHAR),1,15)) AS BIGINT)" +
        " % 1000001) / CAST(1000000 AS DOUBLE)"
    def zh(seed: String) =
      s"CAST(('0x'||substr(md5('$seed|'||s_suppkey::VARCHAR),1,15)) AS BIGINT)"
    s"""WITH pts AS (SELECT c_custkey AS pid,
       |    ${pcoord("glat", "40.0")} AS plat,
       |    ${pcoord("glng", "-74.5")} AS plng FROM customer),
       |zs AS (SELECT s_suppkey AS zid,
       |    40.0 + (${zh("zlat")} % 1000001) / CAST(1000000 AS DOUBLE) AS clat,
       |    -74.5 + (${zh("zlng")} % 1000001) / CAST(1000000 AS DOUBLE) AS clng,
       |    0.01 + (${zh("zwla")} % 101) / CAST(100 AS DOUBLE) * 0.03 AS wlat,
       |    0.01 + (${zh("zwln")} % 101) / CAST(100 AS DOUBLE) * 0.03 AS wlng
       |  FROM supplier),
       |pc AS (SELECT pid, plat, plng,
       |    CAST(floor(plng / 0.04) AS BIGINT) AS cx,
       |    CAST(floor(plat / 0.03) AS BIGINT) AS cy FROM pts),
       |zx AS (SELECT zid, clat, clng, wlat, wlng,
       |    unnest(range(CAST(floor((clng - wlng) / 0.04) AS BIGINT),
       |                 CAST(floor((clng + wlng) / 0.04) AS BIGINT) + 1)) AS cx
       |  FROM zs),
       |zc AS (SELECT zid, clat, clng, wlat, wlng, cx,
       |    unnest(range(CAST(floor((clat - wlat) / 0.03) AS BIGINT),
       |                 CAST(floor((clat + wlat) / 0.03) AS BIGINT) + 1)) AS cy
       |  FROM zx),
       |cand AS (SELECT p.pid, z.zid, p.plat, p.plng,
       |    z.clat, z.clng, z.wlat, z.wlng
       |  FROM pc p JOIN zc z USING (cx, cy)),
       |edges AS (SELECT pid, zid, plat, plng,
       |    CASE e WHEN 0 THEN clat+wlat WHEN 1 THEN clat
       |           WHEN 2 THEN clat-wlat ELSE clat END AS y1,
       |    CASE e WHEN 0 THEN clng WHEN 1 THEN clng+wlng
       |           WHEN 2 THEN clng ELSE clng-wlng END AS x1,
       |    CASE e WHEN 0 THEN clat WHEN 1 THEN clat-wlat
       |           WHEN 2 THEN clat ELSE clat+wlat END AS y2,
       |    CASE e WHEN 0 THEN clng+wlng WHEN 1 THEN clng
       |           WHEN 2 THEN clng-wlng ELSE clng END AS x2
       |  FROM cand, range(0, 4) t(e)),
       |cr AS (SELECT pid, zid, count(*) AS c FROM edges
       |  WHERE ((y1 > plat) <> (y2 > plat))
       |    AND plng < (x2 - x1) * (plat - y1) / (y2 - y1) + x1
       |  GROUP BY 1, 2)
       |SELECT pid, zid FROM cr WHERE c % 2 = 1 ORDER BY pid, zid""".stripMargin
  }

  /** Fixed-point PageRank ([[graft.operators.Graph.pageRankFixedPoint]])
    * over the customer-supplier trade graph: one undirected edge per
    * DISTINCT trading relationship in lineitem ⋈ orders (nodes encoded
    * 2·custkey / 2·suppkey+1), 6 power steps, damping 85/100, uniform
    * teleport, all arithmetic in BIGINT 1e-12 rank units — so the ranks
    * are a pure function of the graph and the oracle replays every step
    * (6 unrolled CTE blocks) to the exact unit. */
  val q51PageRank: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val trade = c.lineitem
      .join(c.orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
              (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = trade.unionByName(
      trade.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.Graph.pageRankFixedPoint(edges, iterations = 6)
      .orderBy(col("node"))
  }

  /** The shared DuckDB replay of [[graft.operators.Graph
    * .pageRankFixedPoint]]: `steps` unrolled power steps from an
    * `edges` CTE the caller defines (SYMMETRIC — the node set is read
    * off src alone, the contract q51's trade graph and d17's
    * syndication graph both satisfy). Ranks land in r`steps`. Every
    * r$i is MATERIALIZED: each step references its predecessor three
    * times (contrib, dangling mass, and the outer join), so CTE
    * inlining would expand the chain 3^steps-fold and never finish;
    * materialization keeps the oracle the same linear computation the
    * Spark side runs. */
  private[queries] def pageRankOracleCtes(steps: Int): String = {
    def step(i: Int): String =
      s"""contrib$i AS MATERIALIZED (
         |  SELECT e.dst, ((r.rank * 85) // 100) // r.outdeg AS c
         |  FROM r$i r JOIN edges e ON e.src = r.node WHERE r.outdeg > 0),
         |inf$i AS (SELECT dst, CAST(sum(c) AS BIGINT) AS s
         |  FROM contrib$i GROUP BY 1),
         |dang$i AS (SELECT COALESCE(CAST(sum((rank * 85) // 100) AS BIGINT),
         |    0) AS dm FROM r$i WHERE outdeg = 0),
         |r${i + 1} AS MATERIALIZED (SELECT r.node, r.outdeg,
         |    (SELECT t FROM tele) + COALESCE(i.s, 0)
         |      + (SELECT dm FROM dang$i) // (SELECT n FROM np) AS rank
         |  FROM r$i r LEFT JOIN inf$i i ON i.dst = r.node)""".stripMargin
    s"""nodes AS (SELECT DISTINCT src AS node FROM edges),
       |np AS (SELECT count(*) AS n FROM nodes),
       |deg AS (SELECT n.node, COALESCE(d.c, 0) AS outdeg FROM nodes n
       |  LEFT JOIN (SELECT src, count(*) AS c FROM edges GROUP BY 1) d
       |  ON n.node = d.src),
       |tele AS (SELECT ((1000000000000 * 15) // 100) // (SELECT n FROM np)
       |  AS t),
       |r0 AS MATERIALIZED (SELECT node, outdeg,
       |  1000000000000 // (SELECT n FROM np) AS rank FROM deg),
       |${(0 until steps).map(step).mkString(",\n")}""".stripMargin
  }

  lazy val q51Sql: String =
    s"""WITH trade AS (SELECT DISTINCT o_custkey * 2 AS src,
       |    l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS MATERIALIZED (SELECT src, dst FROM trade
       |  UNION ALL SELECT dst, src FROM trade),
       |${pageRankOracleCtes(6)}
       |SELECT node, rank FROM r6 ORDER BY node""".stripMargin

  /** KMV sketch set algebra ([[graft.operators.SketchOps
    * .kmvPairAlgebra]]): per-event-type distinct-user estimates plus
    * pairwise union and inclusion-exclusion intersection estimates, all
    * from k=64 KMV sketches of md5-hashed user ids — so every number,
    * including the compounded intersection error, replays exactly in
    * DuckDB from ranked distinct hashes. */
  val q52KmvAlgebra: Q = (s, dir) => {
    val ev = Catalog(s, dir).events
      .select(col("event_type").as("t"),
        md5Long(col("user_id").cast(StringType)).as("h"))
    graft.operators.SketchOps.kmvPairAlgebra(ev, "t", "h", k = 64)
      .orderBy(col("type_a"), col("type_b"))
  }

  lazy val q52Sql: String = {
    val h = "CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT)"
    s"""WITH ev AS (SELECT event_type AS t, $h AS h FROM events),
       |dh AS (SELECT DISTINCT t, h FROM ev),
       |rk AS (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h)
       |  AS rn, count(*) OVER (PARTITION BY t) AS nd FROM dh),
       |est1 AS (SELECT t,
       |    CASE WHEN any_value(nd) < 64 THEN CAST(any_value(nd) AS DOUBLE)
       |         ELSE 63.0 * 1152921504606846976.0 /
       |              CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
       |    END AS est FROM rk GROUP BY t),
       |types AS (SELECT DISTINCT t FROM ev),
       |tp AS (SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b
       |  ON a.t < b.t),
       |dhu AS (SELECT DISTINCT p.ta, p.tb, e.h FROM tp p
       |  JOIN ev e ON e.t IN (p.ta, p.tb)),
       |rku AS (SELECT ta, tb, h,
       |  row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn,
       |  count(*) OVER (PARTITION BY ta, tb) AS nd FROM dhu),
       |estu AS (SELECT ta, tb,
       |    CASE WHEN any_value(nd) < 64 THEN CAST(any_value(nd) AS DOUBLE)
       |         ELSE 63.0 * 1152921504606846976.0 /
       |              CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
       |    END AS est FROM rku GROUP BY ta, tb)
       |SELECT u.ta AS type_a, u.tb AS type_b, a.est AS est_a,
       |  b.est AS est_b, u.est AS est_union,
       |  a.est + b.est - u.est AS est_intersect
       |FROM estu u JOIN est1 a ON u.ta = a.t JOIN est1 b ON u.tb = b.t
       |ORDER BY type_a, type_b""".stripMargin
  }

  /** Bloom semi-join reduction ([[graft.operators.BloomJoin]]): orders
    * joined to a SELECTIVE customer dim (one mktsegment, positive
    * balance) through a deterministic md5 bloom prefilter on the fact
    * side. The oracle is the PLAIN join — the bloom must be invisible in
    * results (no false negatives by construction; false positives die in
    * the exact join), only the exchanged fact volume changes. */
  val q53BloomJoin: Q = (s, dir) => {
    val c = Catalog(s, dir)
    val dim = c.customer
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 7500)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    graft.operators.BloomJoin.bloomFilteredJoin(
        c.orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        dim, "o_custkey", "c_custkey")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val q53Sql: String =
    """SELECT o_orderkey, o_custkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 7500
      |ORDER BY o_orderkey""".stripMargin

  /** Z-order layout key ([[graft.functions.GraftFunctions.zValue]] /
    * [[graft.io.Bucketing.zorderLayout]]): the Morton interleave of
    * (user bucket, event-minute bucket) over events, aggregated to
    * curve-region counts — the clustering key whose write-time layout
    * lets file min/max stats prune on either dimension (ZorderSpec
    * measures the spread payoff; this query hash-checks the curve
    * arithmetic itself cross-engine). */
  val q54Zorder: Q = (s, dir) => {
    val ev = Catalog(s, dir).events
    val x = pmod(col("user_id"), lit(4096L))
    val y = pmod(expr("unix_micros(ts) div 60000000"), lit(4096L))
    ev.select(graft.functions.GraftFunctions.zValue(x, y, bits = 12)
        .as("z"))
      .groupBy(expr("z div 65536").as("z_region"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("z_region"))
  }

  lazy val q54Sql: String = {
    val terms = (0 until 12).map { i =>
      s"((x >> $i) & 1) * ${1L << (2 * i)} + ((y >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
    s"""WITH xy AS (SELECT user_id % 4096 AS x,
       |    (epoch_us(ts) // 60000000) % 4096 AS y FROM events),
       |zv AS (SELECT $terms AS z FROM xy)
       |SELECT z // 65536 AS z_region, count(*) AS n_events
       |FROM zv GROUP BY 1 ORDER BY z_region""".stripMargin
  }

  /** Hierarchy expansion ([[graft.operators.Graph.bfsDepths]]) — the
    * recursive-CTE shape Spark SQL lacks natively: customers form a
    * derived forest (parent = custkey div 7, roots below 7) and every
    * node reports its root and depth. One equi-join per LEVEL, frontier
    * checkpointed; the oracle is DuckDB's native WITH RECURSIVE. */
  val q55Hierarchy: Q = (s, dir) => {
    val c = Catalog(s, dir).customer
    val edges = c.filter(col("c_custkey") >= 7)
      .select(col("c_custkey").as("child"),
        expr("c_custkey div 7").as("parent"))
    val roots = c.filter(col("c_custkey") < 7)
      .select(col("c_custkey").as("node"))
    graft.operators.Graph.bfsDepths(edges, roots, maxDepth = 12)
      .orderBy(col("node"))
  }

  val q55Sql: String =
    """WITH RECURSIVE r AS (
      |  SELECT c_custkey AS node, c_custkey AS root, CAST(0 AS BIGINT)
      |    AS depth FROM customer WHERE c_custkey < 7
      |  UNION ALL
      |  SELECT c.c_custkey, r.root, r.depth + 1 FROM customer c
      |  JOIN r ON c.c_custkey // 7 = r.node WHERE c.c_custkey >= 7
      |)
      |SELECT node, root, depth FROM r ORDER BY node""".stripMargin

  /** Daily gap fill / resampling ([[graft.operators.TimeSeries
    * .gapFillDaily]]): every user's event stream densified to a
    * per-day calendar over their own active span, absent days as rows
    * with forward-filled values — the regularization pass feature
    * tables need. Exact decimal day sums keep the relation
    * hash-replayable; the oracle densifies with generate_series and
    * the same IGNORE NULLS window. */
  val q56GapFill: Q = (s, dir) =>
    graft.operators.TimeSeries.gapFillDaily(
        Catalog(s, dir).events, "ts", "user_id", "value")
      .withColumnRenamed("key", "user_id")
      .orderBy(col("user_id"), col("day"))

  val q56Sql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value
      |  FROM events),
      |pd AS (SELECT user_id, day, count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
      |  FROM ev GROUP BY 1, 2),
      |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
      |  FROM pd GROUP BY 1),
      |grid AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS
      |  TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
      |  AS day FROM span),
      |j AS (SELECT g.user_id, g.day,
      |  COALESCE(p.n_events, 0) AS n_events, p.day_value
      |  FROM grid g LEFT JOIN pd p USING (user_id, day))
      |SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events,
      |  day_value,
      |  last_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id
      |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS filled_value
      |FROM j ORDER BY user_id, day""".stripMargin

  /** Ordered funnel analysis with a conversion window: per user,
    * signup → first click WITHIN A DAY of the signup → first purchase
    * within a day of that click; users counted at the deepest stage
    * reached. Order + deadline are the point (a purchase before the
    * signup, or a click a week later, does not convert) — per-type
    * counts can't express either. Three conditional min-aggregations
    * chained by two user-keyed joins, all exact timestamp
    * comparisons. */
  val q57Funnel: Q = (s, dir) => {
    val ev = Catalog(s, dir).events
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("su_ts"))
    val ck = ev.filter(col("event_type") === "click").as("c")
      .join(su, Seq("user_id"))
      .filter(col("ts") >= col("su_ts") &&
        col("ts") < col("su_ts") + expr("INTERVAL 1 DAY"))
      .groupBy("user_id").agg(min(col("ts")).as("ck_ts"))
    val pu = ev.filter(col("event_type") === "purchase").as("p")
      .join(ck, Seq("user_id"))
      .filter(col("ts") >= col("ck_ts") &&
        col("ts") < col("ck_ts") + expr("INTERVAL 1 DAY"))
      .groupBy("user_id").agg(min(col("ts")).as("pu_ts"))
    su.join(ck, Seq("user_id"), "left").join(pu, Seq("user_id"), "left")
      .select(when(col("pu_ts").isNotNull, 3)
        .when(col("ck_ts").isNotNull, 2).otherwise(1).as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  val q57Sql: String =
    """WITH su AS (SELECT user_id, min(ts) AS su_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |ck AS (SELECT e.user_id, min(e.ts) AS ck_ts FROM events e
      |  JOIN su ON e.user_id = su.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= su.su_ts
      |    AND e.ts < su.su_ts + INTERVAL 1 DAY GROUP BY 1),
      |pu AS (SELECT e.user_id, min(e.ts) AS pu_ts FROM events e
      |  JOIN ck ON e.user_id = ck.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= ck.ck_ts
      |    AND e.ts < ck.ck_ts + INTERVAL 1 DAY GROUP BY 1),
      |st AS (SELECT su.user_id,
      |  CASE WHEN pu.pu_ts IS NOT NULL THEN 3
      |       WHEN ck.ck_ts IS NOT NULL THEN 2 ELSE 1 END AS stage
      |  FROM su LEFT JOIN ck ON su.user_id = ck.user_id
      |  LEFT JOIN pu ON su.user_id = pu.user_id)
      |SELECT stage, count(*) AS n_users FROM st
      |GROUP BY 1 ORDER BY stage""".stripMargin

  /** Generalized sequence-pattern matching
    * ([[graft.operators.SequenceMatch]]): q57's hand-written funnel as
    * ONE declarative stage list — here a 4-stage pattern (signup → view
    * within 2 days → click within 1 day → purchase of value ≥ 10 within
    * 1 day) with a non-type predicate on the last stage, reported
    * per-user with every stage timestamp. The operator compiles any N
    * stages to the chained conditional-min-aggregation plan q57
    * validated; a spec pins the 3-stage instance row-identical to
    * q57. */
  val q58SeqPattern: Q = (s, dir) => {
    import graft.operators.SequenceMatch.{funnel, Stage}
    funnel(Catalog(s, dir).events, "user_id", "ts", Seq(
        Stage("signup", col("event_type") === "signup"),
        Stage("view", col("event_type") === "view", Some("2 DAY")),
        Stage("click", col("event_type") === "click", Some("1 DAY")),
        Stage("purchase",
          col("event_type") === "purchase" && col("value") >= 10,
          Some("1 DAY"))))
      .orderBy(col("user_id"))
  }

  val q58Sql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS signup_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS view_ts FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'view' AND e.ts >= s1.signup_ts
      |    AND e.ts < s1.signup_ts + INTERVAL 2 DAY GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= s2.view_ts
      |    AND e.ts < s2.view_ts + INTERVAL 1 DAY GROUP BY 1),
      |s4 AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
      |  JOIN s3 ON e.user_id = s3.user_id
      |  WHERE e.event_type = 'purchase' AND e.value >= 10
      |    AND e.ts >= s3.click_ts
      |    AND e.ts < s3.click_ts + INTERVAL 1 DAY GROUP BY 1)
      |SELECT s1.user_id, s1.signup_ts, s2.view_ts, s3.click_ts,
      |  s4.purchase_ts,
      |  CASE WHEN s4.purchase_ts IS NOT NULL THEN 4
      |       WHEN s3.click_ts IS NOT NULL THEN 3
      |       WHEN s2.view_ts IS NOT NULL THEN 2 ELSE 1 END AS stage
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |LEFT JOIN s3 ON s1.user_id = s3.user_id
      |LEFT JOIN s4 ON s1.user_id = s4.user_id
      |ORDER BY s1.user_id""".stripMargin

  /** Cohort retention matrix — the product-analytics shape q57/q58
    * don't cover (no per-user ordering at all — two keyed aggregates):
    * users bucketed by the 7-day epoch week of their FIRST event
    * (integer `div` on epoch micros — pure arithmetic weeks, no
    * engine-specific calendar/timezone truncation in the hash gate),
    * activity deduplicated per (user, week), counts per (cohort,
    * offset) cell. Scale shape: two user-keyed map-side-combinable
    * aggregates, one user-keyed join, one cell-keyed count-distinct —
    * nothing holds per-user ordered state. */
  val q59CohortRetention: Q = (s, dir) => {
    val ev = Catalog(s, dir).events
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("wk"))
    val first = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
    val act = ev.distinct()
    act.join(first, Seq("user_id"))
      .withColumn("week_offset", col("wk") - col("cohort_week"))
      .groupBy("cohort_week", "week_offset")
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val q59Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
      |  FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, wk FROM e)
      |SELECT f.cohort_week, a.wk - f.cohort_week AS week_offset,
      |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
      |FROM a JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** HOPPING (sliding) time windows — the windowing shape the checked
    * surface lacked (tumbling lives in streaming, session windows in
    * q14/streaming, row windows in q23): 10-minute windows sliding
    * every 5, per event type, exact-decimal value sums. Spark's
    * `window(ts, w, s)` expands each row into its w/s covering windows
    * (an Expand node — map-only fan-out, then one keyed aggregate);
    * window starts ship as EPOCH MICROS so the oracle replays the
    * epoch-aligned slide arithmetic exactly (win_start = (us div s - j)
    * · s for j in 0..1, both always within the 2x window). */
  val q60HoppingWindow: Q = (s, dir) =>
    Catalog(s, dir).events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        exactSum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("win_start_us"), col("event_type"))

  val q60Sql: String =
    """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
      |w AS (SELECT (us // 300000000 - j) * 300000000 AS win_start_us,
      |  event_type, value
      |  FROM e, (SELECT unnest(range(0, 2)) AS j))
      |SELECT win_start_us, event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** VERSIONED + ZONE-MAPPED STORAGE READ (q62 — VERDICT r16 next-#1):
    * the r16 storage layer answering a query INSIDE the driver's hash
    * gate, not just under specs. The query builds a versioned table
    * from the raw orders feed — partitioned by an 8-way key bucket
    * (the tenant-dir stand-in), range-clustered within buckets so each
    * data file covers a narrow `od_day` (epoch-day) band and gets a
    * tight integral zone in the manifest — then lands a SECOND version
    * via a partition-scoped merge (bucket 0 restaged; buckets 1–7's
    * files KEPT, their zones inherited from v1's manifest), and
    * answers a tenant × time-range query through
    * [[VersionedTable.readPartitionsRange]]: partition-dir pruning on
    * the bucket, file-level min/max pruning on `od_day` inside the
    * surviving dirs. Pruning is invisible in results BY CONSTRUCTION
    * (the read re-applies the predicate to surviving rows), so the
    * oracle is the SAME range over the raw parquet — hash-identical
    * means the storage layer round-trips every byte AND the prune
    * never drops a matching file; VersionedTableSpec separately
    * asserts files are actually skipped (the index is real, not a
    * hint). Epoch-day integer arithmetic (`unix_micros div 86400e6`)
    * keeps the band replayable with zero calendar/timezone semantics
    * in the gate, per the q59/q60 contract. At 100 TB this is the
    * warehouse read path: dir pruning cuts tenants, zone maps cut
    * time, and the scan opens no footer of a skipped file. */
  // per-invocation temp table, bounded at one live copy per JVM
  // (graft.io.PerJvmTemp — review r17/r18)
  private val q62Tmp = new graft.io.PerJvmTemp.Slot("graft-q62-vt")

  val q62VersionedRange: Q = (s, dir) => {
    val root = q62Tmp.fresh().toString + "/orders_vt"
    val orders = Catalog(s, dir).orders
      .withColumn("bucket", pmod(col("o_orderkey"), lit(8L)))
      .withColumn("od_day", expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
    // range-cluster (bucket, day) before the partitioned write: the
    // zone map's pruning power IS the write layout — each task lands a
    // contiguous day slice in one bucket dir, so per-file day zones
    // are narrow instead of table-wide
    VersionedTable.write(s, root,
      orders.repartitionByRange(64, col("bucket"), col("od_day")),
      partitionBy = Seq("bucket"))
    VersionedTable.merge(s, root,
      orders.filter(col("bucket") === 0L).repartitionByRange(8, col("od_day")),
      uniqueKey = Seq("bucket", "o_orderkey"), partitionBy = Seq("bucket"))
    VersionedTable.readPartitionsRange(s, root, "bucket", Seq(0L, 2L, 5L),
        "od_day", 9496L, 9677L) // 1996-01-01 .. 1996-06-30, epoch days
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("od_day"), col("bucket"))
      .orderBy(col("o_orderkey"))
  }

  val q62Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  epoch_us(o_orderdate) // 86400000000 AS od_day,
      |  o_orderkey % 8 AS bucket
      |FROM orders
      |WHERE o_orderkey % 8 IN (0, 2, 5)
      |  AND epoch_us(o_orderdate) // 86400000000 BETWEEN 9496 AND 9677
      |ORDER BY o_orderkey""".stripMargin

  /** BLOOM-ZONE POINT LOOKUP inside the gate (q66 — VERDICT r17
    * next-#4, q62's shape for the THIRD index class): orders written
    * as a versioned table hash-scattered on the order key (so every
    * file's `ck_tag` min/max spans the whole customer range — min/max
    * zones PROVABLY cannot prune this probe, pinned in
    * VersionedTableSpec), with `ck_tag` declared a bloom column via
    * [[VersionedTable.setBloomColumns]]; three customer point lookups
    * then read through [[VersionedTable.readPoint]], whose file skips
    * come ONLY from the per-file "b" bloom zones. Oracle = the direct
    * scan with the same IN-list (the read re-applies the predicate to
    * surviving rows, so pruning is invisible in results by
    * construction — hash-identical means the bloom never drops a
    * matching file). At 100 TB this is the needle-in-haystack serving
    * read: partition dirs cut tenants, min/max cuts time, and the
    * bloom class cuts POINT probes min/max cannot. */
  private val q66Tmp = new graft.io.PerJvmTemp.Slot("graft-q66-vt")

  // DATA-DERIVED probe keys (review r18 — a hardcoded probe list goes
  // silently meaningless if the generator's key distribution changes):
  // three md5-rank-sampled customer keys that provably have orders,
  // replayed identically by the oracle's IN-subquery
  private def q66Probes(s: SparkSession, dir: String): Seq[Long] =
    Catalog(s, dir).orders.select(col("o_custkey")).distinct()
      .orderBy(md5(col("o_custkey").cast(StringType)), col("o_custkey"))
      .limit(3).collect().map(_.getLong(0)).toSeq

  val q66BloomPoint: Q = (s, dir) => {
    val root = q66Tmp.fresh().toString + "/orders_bloom"
    val orders = Catalog(s, dir).orders
      .withColumn("bucket", pmod(col("o_orderkey"), lit(4L)))
      .withColumn("ck_tag",
        concat(lit("C"), col("o_custkey").cast(StringType)))
    VersionedTable.setBloomColumns(s, root, Seq("ck_tag"))
    // hash-scatter on the ORDER key: every file spans ~the full
    // customer range, which is exactly the layout min/max cannot prune
    VersionedTable.write(s, root,
      orders.repartition(8, col("o_orderkey")), partitionBy = Seq("bucket"))
    q66Probes(s, dir).map(ck =>
        VersionedTable.readPoint(s, root, "ck_tag", s"C$ck"))
      .reduce(_ unionByName _)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("bucket"), col("ck_tag"))
      .orderBy(col("o_orderkey"))
  }

  val q66Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderkey % 4 AS bucket,
      |  'C' || CAST(o_custkey AS VARCHAR) AS ck_tag
      |FROM orders WHERE o_custkey IN (
      |  SELECT o_custkey FROM (
      |    SELECT DISTINCT o_custkey FROM orders
      |    ORDER BY md5(CAST(o_custkey AS VARCHAR)), o_custkey LIMIT 3))
      |ORDER BY o_orderkey""".stripMargin

  /** BUCKETED ZERO-EXCHANGE JOIN inside the gate (q63 — the q62
    * rationale applied to the OTHER storage layout this engine ships):
    * orders and customer are written as bucketBy(8)+sortBy catalog
    * tables on the customer key, then joined through
    * [[graft.io.Bucketing.bucketedJoin]] — which REFUSES (throws, so
    * the driver key goes red) if Catalyst plans an Exchange on either
    * side, making the no-shuffle property itself part of the
    * correctness gate, not just a spec assertion. The result is a
    * revenue-per-segment mart whose oracle is the PLAIN join: the
    * bucketed layout must be invisible in results by construction. At
    * 100 TB this is the recurring-join answer — the shuffle is paid
    * once at write time, every later run reads co-located buckets. */
  val q63BucketedJoin: Q = (s, dir) => {
    val c = Catalog(s, dir)
    // cross-JVM rebuild: clear BOTH the catalog entry and the managed
    // location (a prior JVM's table dir blocks saveAsTable otherwise)
    graft.io.Bucketing.dropWithLocation(s, "graft_q63_orders")
    graft.io.Bucketing.dropWithLocation(s, "graft_q63_cust")
    graft.io.Bucketing.writeBucketed(
      c.orders.select(col("o_custkey").as("custkey"), col("o_totalprice")),
      "graft_q63_orders", "custkey", buckets = 8)
    graft.io.Bucketing.writeBucketed(
      c.customer.select(col("c_custkey").as("custkey"), col("c_mktsegment")),
      "graft_q63_cust", "custkey", buckets = 8)
    graft.io.Bucketing.bucketedJoin(s, "graft_q63_orders",
        "graft_q63_cust", "custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val q63Sql: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** PARTITION-DIR BLOOM PRUNE inside the gate (q68 — the PLANS
    * round-19 candidate landed: manifests now also record, per
    * partition-dir chain, the bit-OR UNION of the member files' "b"
    * blooms under the synthetic key `@part/<chain>`, and every
    * range/point read consults the dir unions BEFORE any per-file
    * zone). The layout makes the dir level the star: orders are
    * partitioned by a CUSTOMER shard (`o_custkey % 8`) while files
    * within each dir are scattered on the order key — so a point probe
    * on the customer tag finds 7 of 8 dirs rejected by ONE dir-bloom
    * test each, with zero reader knowledge of the shard function (the
    * union rediscovers the layout correlation that partitionFiles
    * would need to be TOLD). Probe keys are the q66 derivation (3
    * md5-rank-sampled customers, oracle IN-subquery). Oracle = the
    * direct scan — pruning invisible by construction;
    * VersionedTableSpec asserts via [[VersionedTable.rangeFileStats]]
    * that whole dirs are skipped at the DIR level and that mixed dirs
    * (a bloom-less member) conservatively get no union. At 100 TB: P
    * dir probes replace F ≫ P per-file probes, and on split-manifest
    * object stores the skipped dirs' per-file sections are never even
    * read. */
  private val q68Tmp = new graft.io.PerJvmTemp.Slot("graft-q68-vt")

  val q68BloomDir: Q = (s, dir) => {
    val root = q68Tmp.fresh().toString + "/orders_dirbloom"
    val orders = Catalog(s, dir).orders
      .withColumn("shard", pmod(col("o_custkey"), lit(8L)))
      .withColumn("ck_tag",
        concat(lit("C"), col("o_custkey").cast(StringType)))
    VersionedTable.setBloomColumns(s, root, Seq("ck_tag"))
    // scatter on the ORDER key within shards: per-file min/max on
    // ck_tag spans each dir's whole customer slice, so inside a kept
    // dir the per-file blooms prune, and across dirs ONLY the dir
    // union does
    VersionedTable.write(s, root,
      orders.repartition(8, col("o_orderkey")), partitionBy = Seq("shard"))
    q66Probes(s, dir).map(ck =>
        VersionedTable.readPoint(s, root, "ck_tag", s"C$ck"))
      .reduce(_ unionByName _)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("shard"), col("ck_tag"))
      .orderBy(col("o_orderkey"))
  }

  val q68Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_custkey % 8 AS shard,
      |  'C' || CAST(o_custkey AS VARCHAR) AS ck_tag
      |FROM orders WHERE o_custkey IN (
      |  SELECT o_custkey FROM (
      |    SELECT DISTINCT o_custkey FROM orders
      |    ORDER BY md5(CAST(o_custkey AS VARCHAR)), o_custkey LIMIT 3))
      |ORDER BY o_orderkey""".stripMargin

  /** SCD2 SNAPSHOT CHAIN inside the gate (q67 — D7 was the last
    * query-shaped §2 row covered only by specs; the s01/q62 lesson is
    * that surfaces outside the driver gate drift silently). Orders are
    * recast as a mutable per-customer dimension: each order is one
    * observed VERSION of its customer's row (version timestamp = the
    * order key cast to an epoch-seconds instant — globally unique, so
    * the merge's equal-timestamp tiebreak provably never fires and the
    * whole chain is engine-independent), arriving in three merge
    * ticks (`o_orderkey % 3`). The query runs the REAL runtime —
    * [[graft.pipeline.Snapshots.initialize]] on an empty first state,
    * then three [[graft.pipeline.Snapshots.merge]] ticks — and emits
    * the full version history. The oracle replays dbt's timestamp
    * strategy from scratch in SQL: per-batch latest per key, monotone
    * acceptance across ticks (an incoming version NOT newer than the
    * current one is dropped, never inserted), then the [valid_from,
    * valid_to) chain via lead(). Timestamps travel as epoch-second
    * BIGINTs in the gate (the q59/q62 no-calendar contract); the open
    * version's valid_to is NULL rather than the 9999 sentinel so no
    * timezone-parsed constant crosses engines. At 100 TB each tick is
    * ONE full-outer hash join on the business key — O(|snapshot| +
    * |batch|), the same merge a Delta/Iceberg MERGE INTO would run. */
  // the q67/q69 SCD2 chain: three merge ticks over orders-as-versions
  private def scd2Chain(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val v = Catalog(s, dir).orders.select(
      col("o_custkey").as("k"),
      col("o_orderkey").as("vts"),
      col("o_totalprice").as("price"),
      pmod(col("o_orderkey"), lit(3L)).as("batch"))
    val empty = Snapshots.initialize(v.drop("batch").filter(lit(false)), "vts")
    (0L to 2L).foldLeft(empty)((snap, b) =>
      Snapshots.merge(snap, v.filter(col("batch") === b).drop("batch"),
        "k", "vts"))
  }

  val q67Scd2Snapshot: Q = (s, dir) =>
    scd2Chain(s, dir).select(col("k"), col("vts"), col("price"),
        when(col("is_current"), lit(null).cast(LongType))
          .otherwise(col("valid_to").cast(LongType)).as("valid_to_s"),
        col("is_current").cast(LongType).as("is_current"))
      .orderBy(col("k"), col("vts"))

  /** SCD2 POINT-IN-TIME READ (q69 — [[graft.pipeline.Snapshots.asOf]]
    * into the gate, completing the snapshot API q67 opened): the same
    * three-tick chain, read AS OF a DATA-DERIVED instant (epoch second
    * `max(o_orderkey) / 2` — deterministic, replayed by the oracle's
    * subquery, no wall-clock anywhere). Exactly the keys whose version
    * chain had started by t appear, each with the ONE version whose
    * [valid_from, valid_to) interval covers t — the "what did the
    * dimension look like last quarter" read every warehouse mart
    * eventually needs. */
  val q69SnapshotAsof: Q = (s, dir) => {
    val t = Catalog(s, dir).orders
      .agg(max(col("o_orderkey"))).head.getLong(0) / 2L
    Snapshots.asOf(scd2Chain(s, dir), new java.sql.Timestamp(t * 1000L))
      .select(col("k"), col("vts"), col("price"))
      .orderBy(col("k"))
  }

  val q69Sql: String =
    """WITH v AS (SELECT o_custkey AS k, o_orderkey AS ts,
      |    o_totalprice AS price, o_orderkey % 3 AS b FROM orders),
      |t AS (SELECT max(o_orderkey) // 2 AS t FROM orders),
      |pb AS (SELECT k, ts, price, b,
      |  row_number() OVER (PARTITION BY k, b ORDER BY ts DESC) AS rn FROM v),
      |lat AS (SELECT k, ts, price, b FROM pb WHERE rn = 1),
      |acc AS (SELECT k, ts, price, b, max(ts) OVER (PARTITION BY k ORDER BY b
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM lat),
      |kept AS (SELECT k, ts, price FROM acc WHERE pm IS NULL OR ts > pm),
      |ch AS (SELECT k, ts, price,
      |  lead(ts) OVER (PARTITION BY k ORDER BY ts) AS nts FROM kept)
      |SELECT CAST(k AS BIGINT) AS k, CAST(ts AS BIGINT) AS vts,
      |  CAST(price AS DOUBLE) AS price
      |FROM ch WHERE ts <= (SELECT t FROM t)
      |  AND (nts IS NULL OR (SELECT t FROM t) < nts)
      |ORDER BY k""".stripMargin

  val q67Sql: String =
    """WITH v AS (SELECT o_custkey AS k, o_orderkey AS ts,
      |    o_totalprice AS price, o_orderkey % 3 AS b FROM orders),
      |pb AS (SELECT k, ts, price, b,
      |  row_number() OVER (PARTITION BY k, b ORDER BY ts DESC) AS rn FROM v),
      |lat AS (SELECT k, ts, price, b FROM pb WHERE rn = 1),
      |acc AS (SELECT k, ts, price, b, max(ts) OVER (PARTITION BY k ORDER BY b
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM lat),
      |kept AS (SELECT k, ts, price FROM acc WHERE pm IS NULL OR ts > pm),
      |ch AS (SELECT k, ts, price,
      |  lead(ts) OVER (PARTITION BY k ORDER BY ts) AS nts FROM kept)
      |SELECT CAST(k AS BIGINT) AS k, CAST(ts AS BIGINT) AS vts,
      |  CAST(price AS DOUBLE) AS price, CAST(nts AS BIGINT) AS valid_to_s,
      |  CAST(CASE WHEN nts IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM ch ORDER BY k, vts""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    // grid-rank since r9 — deterministic
    QueryDef("q40_approx_percentile", q40ApproxPercentile, q40Sql),
    QueryDef("q62_versioned_range", q62VersionedRange, q62Sql),
    QueryDef("q63_bucketed_join", q63BucketedJoin, q63Sql),
    QueryDef("q66_bloom_point", q66BloomPoint, q66Sql),
    QueryDef("q67_scd2_snapshot", q67Scd2Snapshot, q67Sql),
    QueryDef("q68_bloom_dir", q68BloomDir, q68Sql),
    QueryDef("q69_snapshot_asof", q69SnapshotAsof, q69Sql),
    QueryDef("q60_hopping_window", q60HoppingWindow, q60Sql),
    QueryDef("q56_gap_fill", q56GapFill, q56Sql),
    QueryDef("q57_funnel", q57Funnel, q57Sql),
    QueryDef("q58_seq_pattern", q58SeqPattern, q58Sql),
    QueryDef("q59_cohort_retention", q59CohortRetention, q59Sql),
    QueryDef("q51_pagerank", q51PageRank, q51Sql),
    QueryDef("q52_kmv_algebra", q52KmvAlgebra, q52Sql),
    QueryDef("q53_bloom_join", q53BloomJoin, q53Sql),
    QueryDef("q54_zorder", q54Zorder, q54Sql),
    QueryDef("q55_hierarchy", q55Hierarchy, q55Sql),
    QueryDef("q50_polygon_join", q50PolygonJoin, q50Sql),
    QueryDef("q41_json_funcs", q41JsonFuncs, q41Sql),
    QueryDef("q42_det_sample", q42DetSample, q42Sql),
    QueryDef("q43_full_outer", q43FullOuter, q43Sql),
    QueryDef("q29_pivot", q29Pivot, q29Sql),
    QueryDef("q30_unpivot", q30Unpivot, q30Sql),
    QueryDef("q31_explode_pos", q31ExplodePos, q31Sql),
    QueryDef("q32_grouping_sets", q32GroupingSets, q32Sql),
    QueryDef("q33_salted_skew_join", q33SaltedJoin, q33Sql),
    QueryDef("q44_demographic_mart", q44DemographicMart, q44Sql),
    QueryDef("q45_hot_key_join", q45HotKeyJoin, q45Sql),
    QueryDef("q46_social_mart", q46SocialMart, q46Sql),
    QueryDef("q47_housing_mart", q47HousingMart, q47Sql),
    QueryDef("q61_census_mart", q61CensusMart, q61Sql),
    QueryDef("q64_evictions_mart", q64EvictionsMart, q64Sql),
    QueryDef("q65_restaurant_mart", q65RestaurantMart, q65Sql),
    QueryDef("q48_geo_zones", q48GeoZones, q48Sql),
    QueryDef("q49_radius_join", q49RadiusJoin, q49Sql),
    QueryDef("q34_string_agg", q34StringAgg, q34Sql),
    QueryDef("q35_regex_funcs", q35Regex, q35Sql),
    QueryDef("q36_exists_subquery", q36Exists, q36Sql),
    QueryDef("q37_range_join", q37RangeJoin, q37Sql),
    QueryDef("q38_array_funcs", q38ArrayFuncs, q38Sql),
    QueryDef("q39_interval_window", q39IntervalWindow, q39Sql),
  )
}
