package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Staging for the reference's auxiliary civic datasets (SURVEY.md §2.1
  * S6: evictions, restaurant inspections, NTA demographics — CSVs whose
  * dictionaries type many columns as STRING with dates/coordinates to
  * be parsed at stage time). The staging step is:
  *
  *   raw (all-string civic CSV) -> typed columns via try-parse ->
  *   validity flags instead of dropped rows (quarantine semantics).
  *
  * ANSI note: Spark 4 sessions run ANSI mode, where a bad `cast` throws
  * mid-job. Staging dirty civic data therefore uses try_* conversions
  * exclusively — a 100 TB ingest must never die on row 73 billion.
  */
object AuxStaging {

  /** try-parse a string column to date in the feeds' M/d/yyyy format. */
  def parseDate(c: Column): Column =
    try_to_timestamp(c, lit("M/d/yyyy")).cast(DateType)

  /** try-parse a numeric string (null on garbage, never ANSI error). */
  def parseDouble(c: Column): Column = c.try_cast(DoubleType)
  def parseLong(c: Column): Column = c.try_cast(LongType)

  /** Stage an evictions-shaped relation (dict: all 20 cols STRING;
    * Executed Date + Latitude/Longitude parsed here). */
  def stageEvictions(raw: DataFrame): DataFrame =
    raw.select(
      col("Court Index Number").as("court_index_number"),
      col("Borough").as("borough"),
      col("Eviction Zip").as("zip"),
      parseDate(col("Executed Date")).as("executed_date"),
      parseDouble(col("Latitude")).as("lat"),
      parseDouble(col("Longitude")).as("lng"),
      col("Residential/Commercial").as("residential_commercial"),
      col("NTA").as("nta"))
      .withColumn("coords_valid",
        col("lat").isNotNull && col("lng").isNotNull &&
          abs(col("lat")) <= 90 && abs(col("lng")) <= 180)
      .withColumn("date_valid", col("executed_date").isNotNull)

  /** Stage an NTA-demographics-shaped relation (the reference's
    * `ref/1_SRC___AUX_NYC_DEMOGRAPHIC|dict_nyc_econ_by_nta.csv` /
    * `xlsx_nyc_econ_data_by_nta.xlsx` `final_data` sheet: GeoType /
    * NTAType / GeoID / Borough STRING, employment counts INTEGER,
    * MnTrvTmE mean-travel-time numeric). Keeps NTA2020 rows, types the
    * employment columns, derives the unemployment rate from integer
    * sums (deterministic under any partitioning — no float agg), and
    * flags unparseable travel times instead of dropping rows. */
  def stageDemographics(raw: DataFrame): DataFrame =
    raw.filter(col("GeoType") === "NTA2020")
      .select(
        col("GeoID").as("nta_code"),
        // GeoID encodes the geography key ("NTA" + numeric suffix in
        // the derived feeds; BK0101-style in the civic upload, whose
        // trailing digits are NOT a key — pattern-guarded so only true
        // NTA<n> ids produce nta_num, everything else joins on nta_code)
        when(col("GeoID").rlike("^NTA[0-9]+$"),
          substring(col("GeoID"), 4, 12).try_cast(LongType)).as("nta_num"),
        col("Borough").as("borough"),
        parseLong(col("Pop16plE")).as("pop_16plus"),
        parseLong(col("LFE")).as("labor_force"),
        parseLong(col("CvLFUEm1E")).as("unemployed"),
        parseDouble(col("MnTrvTmE")).as("mean_travel_time_min"))
      .withColumn("unemployment_rate",
        when(col("labor_force") > 0,
          round(col("unemployed").cast(DoubleType) / col("labor_force"), 6)))
      .withColumn("counts_valid",
        col("pop_16plus").isNotNull && col("labor_force").isNotNull &&
          col("unemployed").isNotNull &&
          col("labor_force") <= col("pop_16plus") &&
          col("unemployed") <= col("labor_force"))
      .withColumn("tt_valid", col("mean_travel_time_min").isNotNull)

  /** Stage an NTA-housing-shaped relation (the reference's
    * `ref/1_SRC___AUX_NYC_DEMOGRAPHIC|dict_nyc_housing_by_nta.csv` /
    * `xlsx_nyc_housing_data_nta.xlsx` `housing_data_for_csv` sheet:
    * same GeoType/GeoID/Borough geography prefix as the econ dataset,
    * then HOUSING OCCUPANCY counts — HU1E total / OcHU1E occupied /
    * VacHUE vacant units — and the two vacancy-rate numerics). The
    * occupancy rate is derived from integer sums (deterministic under
    * any partitioning); occupied+vacant=total is checked as a validity
    * flag, not an assertion — ACS suppression can blank cells. */
  def stageHousing(raw: DataFrame): DataFrame =
    raw.filter(col("GeoType") === "NTA2020")
      .select(
        col("GeoID").as("nta_code"),
        when(col("GeoID").rlike("^NTA[0-9]+$"),
          substring(col("GeoID"), 4, 12).try_cast(LongType)).as("nta_num"),
        col("GeogName").as("nta_name"),
        col("Borough").as("borough"),
        parseLong(col("HU1E")).as("total_units"),
        parseLong(col("OcHU1E")).as("occupied_units"),
        parseLong(col("VacHUE")).as("vacant_units"),
        parseDouble(col("HOVacRtE")).as("homeowner_vacancy_rate"),
        parseDouble(col("RntVacRtE")).as("rental_vacancy_rate"))
      .withColumn("occupancy_rate",
        when(col("total_units") > 0,
          round(col("occupied_units").cast(DoubleType) / col("total_units"), 6)))
      .withColumn("units_valid",
        col("total_units").isNotNull && col("occupied_units").isNotNull &&
          col("vacant_units").isNotNull &&
          col("occupied_units") + col("vacant_units") === col("total_units"))

  /** Stage an NTA-social-shaped relation (the reference's
    * `ref/1_SRC___AUX_NYC_DEMOGRAPHIC|dict_nyc_social_by_nta.csv` /
    * `xlsx_nyc_social_data_by_nta.xlsx` `final_data` sheet: geography
    * prefix, HOUSEHOLD TYPE counts — HH1E total / Fam1E family /
    * HH1plU18E with-under-18 / HH1pl65plE with-65-plus, AvgHHSzE
    * average size — and EDUCATIONAL ATTAINMENT, EA_P25plE population
    * 25+ / EA_BchDHE bachelor's-or-higher). The attainment rate is
    * derived from integer sums; family<=total households is a validity
    * flag (quarantine semantics, rows kept). */
  def stageSocial(raw: DataFrame): DataFrame =
    raw.filter(col("GeoType") === "NTA2020")
      .select(
        col("GeoID").as("nta_code"),
        when(col("GeoID").rlike("^NTA[0-9]+$"),
          substring(col("GeoID"), 4, 12).try_cast(LongType)).as("nta_num"),
        col("GeogName").as("nta_name"),
        col("Borough").as("borough"),
        parseLong(col("HH1E")).as("households"),
        parseLong(col("Fam1E")).as("family_households"),
        parseLong(col("HH1plU18E")).as("hh_with_under18"),
        parseLong(col("HH1pl65plE")).as("hh_with_65plus"),
        parseDouble(col("AvgHHSzE")).as("avg_household_size"),
        parseLong(col("EA_P25plE")).as("pop_25plus"),
        parseLong(col("EA_BchDHE")).as("bachelors_or_higher"))
      .withColumn("bachelors_rate",
        when(col("pop_25plus") > 0,
          round(col("bachelors_or_higher").cast(DoubleType) / col("pop_25plus"), 6)))
      .withColumn("hh_valid",
        col("households").isNotNull && col("family_households").isNotNull &&
          col("family_households") <= col("households"))
      .withColumn("ea_valid",
        col("pop_25plus").isNotNull && col("bachelors_or_higher").isNotNull &&
          col("bachelors_or_higher") <= col("pop_25plus"))

  /** Stage a restaurant-inspections-shaped relation (the reference's
    * `ref/1_SRC___AUX_NYC_RESTAURANT|dict_nyc_restaurant_inspections.csv`:
    * CAMIS INTEGER, BORO coded 1-5, INSPECTION DATE STRING M/d/yyyy,
    * SCORE NUMERIC, GRADE STRING, Latitude/Longitude FLOAT). BORO is
    * decoded per the dictionary's code list with no ELSE (unknown
    * codes -> NULL, the reference's CASE idiom); GRADE outside the
    * accepted set is flagged, not nulled. */
  def stageRestaurantInspections(raw: DataFrame): DataFrame =
    raw.select(
      parseLong(col("CAMIS")).as("camis_id"),
      col("DBA").as("dba"),
      when(col("BORO") === "1", "MANHATTAN")
        .when(col("BORO") === "2", "BRONX")
        .when(col("BORO") === "3", "BROOKLYN")
        .when(col("BORO") === "4", "QUEENS")
        .when(col("BORO") === "5", "STATEN ISLAND").as("borough"),
      col("CUISINE DESCRIPTION").as("cuisine"),
      parseDate(col("INSPECTION DATE")).as("inspection_date"),
      col("SCORE").try_cast(DecimalType(38, 9)).as("score"),
      col("GRADE").as("grade"),
      parseDouble(col("Latitude")).as("lat"),
      parseDouble(col("Longitude")).as("lng"),
      col("NTA").as("nta"))
      // coalesce to a definite boolean: isin is NULL (not false) for
      // NULL grade, and ungraded inspections are common in the real
      // feed — a NULL flag would slip through !grade_valid quarantine
      // filters (every other validity flag here resolves definitely)
      .withColumn("grade_valid",
        coalesce(col("grade").isin("A", "B", "C", "N", "Z", "P"), lit(false)))
      .withColumn("coords_valid",
        col("lat").isNotNull && col("lng").isNotNull &&
          abs(col("lat")) <= 90 && abs(col("lng")) <= 180)

  /** Stage the DECENNIAL CENSUS relation (the reference's
    * `ref/xlsx_nyc_decennialcensusdata_2010_2020_nta.xlsx`, sheet
    * `2010_2020_and_Change` — the last staged `ref/` dataset without a
    * model, VERDICT r12 next-#6). The workbook's own `About` sheet is
    * the dictionary: GeoType/Borough/GeoID/Name STRING; `Pop`, `HHPop`,
    * `GQ`, `HUnits`, `OcHU`, `VacHU` counts with `_10`/`_20`/`_Ch`
    * decade suffixes; `AvHHSz` numeric. The banded sheet's header is
    * the row holding `GeoType`, below rows of prose. Keeps NTA2020 rows; try-
    * parses counts; derives the decade growth
    * rate from integer sums; and checks the census's OWN identities as
    * quarantine flags, never row drops: population = households +
    * group quarters, units = occupied + vacant, and change = 2020-2010
    * (the sheet ships `_Ch` precomputed — a violated identity marks a
    * hand-edited row). */
  def stageCensus(raw: DataFrame): DataFrame =
    raw.filter(col("GeoType") === "NTA2020")
      .select(
        col("GeoID").as("nta_code"),
        col("Name").as("nta_name"),
        col("Borough").as("borough"),
        parseLong(col("NTA Type")).as("nta_type"),
        parseLong(col("Pop_10")).as("pop_2010"),
        parseLong(col("Pop_20")).as("pop_2020"),
        parseLong(col("Pop_Ch")).as("pop_change"),
        parseLong(col("HHPop_20")).as("hh_pop_2020"),
        parseLong(col("GQ_20")).as("gq_pop_2020"),
        parseLong(col("HUnits_20")).as("housing_units_2020"),
        parseLong(col("OcHU_20")).as("occupied_units_2020"),
        parseLong(col("VacHU_20")).as("vacant_units_2020"),
        parseDouble(col("AvHHSz_20")).as("avg_hh_size_2020"))
      .withColumn("pop_growth_rate",
        when(col("pop_2010") > 0,
          round((col("pop_2020") - col("pop_2010")).cast(DoubleType) /
            col("pop_2010"), 6)))
      .withColumn("pop_identity_valid",
        col("pop_2020").isNotNull && col("hh_pop_2020").isNotNull &&
          col("gq_pop_2020").isNotNull &&
          col("hh_pop_2020") + col("gq_pop_2020") === col("pop_2020"))
      .withColumn("units_valid",
        col("housing_units_2020").isNotNull &&
          col("occupied_units_2020").isNotNull &&
          col("vacant_units_2020").isNotNull &&
          col("occupied_units_2020") + col("vacant_units_2020") ===
            col("housing_units_2020"))
      .withColumn("change_valid",
        col("pop_2010").isNotNull && col("pop_2020").isNotNull &&
          col("pop_change").isNotNull &&
          col("pop_2020") - col("pop_2010") === col("pop_change"))
}
