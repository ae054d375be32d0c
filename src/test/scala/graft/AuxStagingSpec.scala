package graft

import graft.models.AuxStaging
import org.apache.spark.sql.functions._

class AuxStagingSpec extends SparkSpec {
  import spark.implicits._

  test("evictions staging: try-parse dates/coords, quarantine flags, no ANSI errors") {
    val raw = Seq(
      ("C1", "BRONX", "10453", "3/14/2023", "40.85", "-73.91", "Residential", "BX01"),
      ("C2", "QUEENS", "11101", "not a date", "garbage", "-73.94", "Commercial", "QN31"),
      ("C3", "BROOKLYN", "11201", "12/1/2022", "140.0", "-73.99", "Residential", "BK09"))
      .toDF("Court Index Number", "Borough", "Eviction Zip", "Executed Date",
        "Latitude", "Longitude", "Residential/Commercial", "NTA")
    val staged = AuxStaging.stageEvictions(raw).cache()
    assert(staged.count() == 3, "dirty rows kept, not dropped")
    val byId = staged.collect().map(r => r.getString(0) -> r).toMap
    assert(byId("C1").getAs[Boolean]("coords_valid"))
    assert(byId("C1").getAs[java.sql.Date]("executed_date").toString == "2023-03-14")
    assert(!byId("C2").getAs[Boolean]("date_valid"), "unparseable date flagged")
    assert(!byId("C2").getAs[Boolean]("coords_valid"), "garbage latitude flagged")
    assert(!byId("C3").getAs[Boolean]("coords_valid"), "lat 140 out of range")
  }

  test("demographic staging: typed columns, rate from integer sums, flags") {
    val raw = Seq(
      ("NTA2020", "NTA7", "B2", "33164", "26053", "1938", "36.9"),
      ("NTA2020", "BK0102", "B3", "52924", "41524", "2507", "NA"),
      ("NTA2020", "NTA9", "B4", "100", "200", "10", "20.0"), // lf > pop
      ("Boro2020", "NTA8", "B3", "1", "1", "1", "1.0"))       // wrong GeoType
      .toDF("GeoType", "GeoID", "Borough", "Pop16plE", "LFE",
        "CvLFUEm1E", "MnTrvTmE")
    val staged = AuxStaging.stageDemographics(raw).cache()
    assert(staged.count() == 3, "non-NTA2020 geo rows excluded")
    val byCode = staged.collect().map(r => r.getString(0) -> r).toMap
    val r7 = byCode("NTA7")
    assert(r7.getAs[Long]("nta_num") == 7L)
    assert(r7.getAs[Long]("pop_16plus") == 33164L)
    assert(r7.getAs[Double]("unemployment_rate") == 0.074387)
    assert(r7.getAs[Boolean]("counts_valid") && r7.getAs[Boolean]("tt_valid"))
    val bk = byCode("BK0102")
    assert(bk.isNullAt(bk.fieldIndex("nta_num")),
      "civic-style GeoID has no numeric suffix -> NULL key, row kept")
    assert(!bk.getAs[Boolean]("tt_valid"), "'NA' travel time flagged")
    assert(!byCode("NTA9").getAs[Boolean]("counts_valid"),
      "labor force > population flagged")
  }

  test("demographic staging consumes the REAL reference xlsx via graft.io.Xlsx") {
    val real = "/root/reference/ref/xlsx_nyc_econ_data_by_nta.xlsx"
    assume(new java.io.File(real).exists())
    val raw = graft.io.Xlsx.readSheetDF(spark, real, "final_data")
    val staged = AuxStaging.stageDemographics(raw).cache()
    assert(staged.count() > 100, "real NTA2020 rows staged")
    assert(staged.filter(col("pop_16plus").isNull).count() == 0,
      "every real population value parses as a long")
    assert(staged.filter(col("unemployment_rate").isNotNull).count() > 100)
    assert(staged.filter(!col("counts_valid")).count() <
      staged.count() / 10, "real data overwhelmingly passes validity")
  }

  test("housing staging: typed counts, occupancy rate, units-sum flag") {
    val raw = Seq(
      ("NTA2020", "NTA7", "Name7", "B2", "1000", "900", "100", "2.1", "3.5"),
      ("NTA2020", "BK0102", "NameBK", "B3", "500", "450", "60", "NA", "1.0"), // 450+60 != 500
      ("Boro2020", "NTA8", "Name8", "B3", "1", "1", "0", "1.0", "1.0"))
      .toDF("GeoType", "GeoID", "GeogName", "Borough", "HU1E", "OcHU1E",
        "VacHUE", "HOVacRtE", "RntVacRtE")
    val staged = AuxStaging.stageHousing(raw).cache()
    assert(staged.count() == 2, "non-NTA2020 geo rows excluded")
    val byCode = staged.collect().map(r => r.getString(0) -> r).toMap
    val r7 = byCode("NTA7")
    assert(r7.getAs[Long]("nta_num") == 7L)
    assert(r7.getAs[Long]("total_units") == 1000L)
    assert(r7.getAs[Double]("occupancy_rate") == 0.9)
    assert(r7.getAs[Boolean]("units_valid"))
    val bk = byCode("BK0102")
    assert(bk.isNullAt(bk.fieldIndex("nta_num")))
    assert(bk.isNullAt(bk.fieldIndex("homeowner_vacancy_rate")),
      "'NA' rate nulled, row kept")
    assert(!bk.getAs[Boolean]("units_valid"), "occupied+vacant != total flagged")
  }

  test("social staging: household/attainment counts, rates, flags") {
    val raw = Seq(
      ("NTA2020", "NTA3", "Name3", "B1", "2000", "1200", "600", "500", "2.5", "3000", "1500"),
      ("NTA2020", "QN0201", "NameQN", "B4", "100", "200", "10", "10", "NA", "300", "400"))
      .toDF("GeoType", "GeoID", "GeogName", "Borough", "HH1E", "Fam1E",
        "HH1plU18E", "HH1pl65plE", "AvgHHSzE", "EA_P25plE", "EA_BchDHE")
    val staged = AuxStaging.stageSocial(raw).cache()
    val byCode = staged.collect().map(r => r.getString(0) -> r).toMap
    val r3 = byCode("NTA3")
    assert(r3.getAs[Long]("nta_num") == 3L)
    assert(r3.getAs[Double]("bachelors_rate") == 0.5)
    assert(r3.getAs[Boolean]("hh_valid") && r3.getAs[Boolean]("ea_valid"))
    val qn = byCode("QN0201")
    assert(!qn.getAs[Boolean]("hh_valid"), "family > total households flagged")
    assert(!qn.getAs[Boolean]("ea_valid"), "bachelors > pop 25+ flagged")
    assert(qn.isNullAt(qn.fieldIndex("avg_household_size")))
  }

  test("housing + social staging consume the REAL reference xlsx files") {
    val housing = "/root/reference/ref/xlsx_nyc_housing_data_nta.xlsx"
    val social = "/root/reference/ref/xlsx_nyc_social_data_by_nta.xlsx"
    assume(new java.io.File(housing).exists() && new java.io.File(social).exists())
    val h = AuxStaging.stageHousing(
      graft.io.Xlsx.readSheetDF(spark, housing, "housing_data_for_csv")).cache()
    assert(h.count() > 100, "real NTA2020 housing rows staged")
    assert(h.filter(col("total_units").isNull).count() == 0)
    assert(h.filter(col("occupancy_rate").isNotNull).count() > 100)
    val s = AuxStaging.stageSocial(
      graft.io.Xlsx.readSheetDF(spark, social, "final_data")).cache()
    assert(s.count() > 100, "real NTA2020 social rows staged")
    assert(s.filter(col("households").isNull).count() == 0)
    assert(s.filter(!col("hh_valid")).count() < s.count() / 10,
      "real data overwhelmingly passes validity")
  }

  test("census staging: typed decades, identities as flags, planted violations caught") {
    val raw = Seq(
      // well-formed NTA: 100 = 90 + 10, 40 = 30 + 10, 100 - 80 = 20
      ("NTA2020", "BK0101", "Greenpoint", "Brooklyn", "0",
        "80", "100", "20", "90", "10", "40", "30", "10", "2.5"),
      // population identity violated (90 + 11 != 100)
      ("NTA2020", "BK0102", "Williamsburg", "Brooklyn", "0",
        "10", "100", "90", "90", "11", "40", "30", "10", "2.1"),
      // change violated (20 - 15 != 6) and unparseable household size
      ("NTA2020", "QN0201", "Astoria", "Queens", "0",
        "15", "20", "6", "10", "10", "40", "30", "10", "NA"),
      // non-NTA geography: dropped by the filter, never staged
      ("CT2020", "36085990100", "tract", "Staten Island", "",
        "1", "1", "0", "1", "0", "1", "1", "0", "1.0")
    ).toDF("GeoType", "GeoID", "Name", "Borough", "NTA Type",
      "Pop_10", "Pop_20", "Pop_Ch", "HHPop_20", "GQ_20",
      "HUnits_20", "OcHU_20", "VacHU_20", "AvHHSz_20")
    val out = AuxStaging.stageCensus(raw).orderBy("nta_code").collect()
    assert(out.length === 3, "CT2020 row must be filtered, not quarantined")
    val byCode = out.map(r => r.getString(0) -> r).toMap
    assert(byCode("BK0101").getAs[Boolean]("pop_identity_valid"))
    assert(byCode("BK0101").getAs[Boolean]("units_valid"))
    assert(byCode("BK0101").getAs[Boolean]("change_valid"))
    assert(byCode("BK0101").getAs[Double]("pop_growth_rate") === 0.25)
    assert(!byCode("BK0102").getAs[Boolean]("pop_identity_valid"))
    assert(byCode("BK0102").getAs[Boolean]("units_valid"))
    assert(!byCode("QN0201").getAs[Boolean]("change_valid"))
    assert(byCode("QN0201").isNullAt(
      byCode("QN0201").fieldIndex("avg_hh_size_2020")),
      "an 'NA' household size try-parses to NULL, never an ANSI error")
  }

  test("census staging consumes the REAL reference xlsx (banded header)") {
    val real = "/root/reference/ref/xlsx_nyc_decennialcensusdata_2010_2020_nta.xlsx"
    assume(new java.io.File(real).exists)
    // the data sheet's header is row 8, under prose + merged band rows:
    // locate it by the GeoType marker; the repeated LandAcres column
    // (read by no staged column) takes a positional name
    val rows = graft.io.Xlsx.readSheet(real, "2010_2020_and_Change")
    val hi = rows.indexWhere(_.exists(c => c != null && c.trim == "GeoType"))
    val header = rows(hi).zipWithIndex.map { case (h, i) =>
      if (h == null || rows(hi).indexOf(h) != i) s"_c$i" else h.trim }
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.drop(hi + 1)
        .filterNot(_.forall(_ == null))
        .map(a => org.apache.spark.sql.Row.fromSeq(
          a.toSeq.padTo(header.length, null).take(header.length))).toList),
      org.apache.spark.sql.types.StructType(header.map(
        org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.StringType))))
    val staged = AuxStaging.stageCensus(raw).cache()
    assert(staged.count() === 262, "2020 NTA geography count")
    // the census's own identities hold on every real row — the planted
    // violations of the q61 fixture are the negative control
    assert(staged.filter(!col("pop_identity_valid") || !col("units_valid") ||
      !col("change_valid")).count() === 0)
    // citywide anchors: the published 2010/2020 NYC populations
    val sums = staged.agg(sum("pop_2010"), sum("pop_2020")).head
    assert(sums.getLong(0) === 8175133L && sums.getLong(1) === 8804190L)
    val gp = staged.filter(col("nta_code") === "BK0101").head
    assert(gp.getAs[String]("nta_name") === "Greenpoint")
    assert(gp.getAs[Long]("pop_2010") === 34719L &&
      gp.getAs[Long]("pop_2020") === 38980L)
    staged.unpersist()
  }

  test("restaurant staging: BORO decode, date/score parse, grade flags") {
    val raw = Seq(
      ("41234567", "CAFE A", "1", "Coffee", "5/14/2023", "12", "A", "40.71", "-74.00", "MN13"),
      ("4891", "CAFE B", "9", "Tea", "bad date", "not_a_score", "Q", "91.0", "-74.0", "QN31"))
      .toDF("CAMIS", "DBA", "BORO", "CUISINE DESCRIPTION", "INSPECTION DATE",
        "SCORE", "GRADE", "Latitude", "Longitude", "NTA")
    val staged = AuxStaging.stageRestaurantInspections(raw).cache()
    val a = staged.filter(col("dba") === "CAFE A").head
    assert(a.getAs[String]("borough") == "MANHATTAN", "dict code 1 decoded")
    assert(a.getAs[java.sql.Date]("inspection_date").toString == "2023-05-14")
    assert(a.getAs[java.math.BigDecimal]("score").longValue == 12L)
    assert(a.getAs[Boolean]("grade_valid") && a.getAs[Boolean]("coords_valid"))
    val b = staged.filter(col("dba") === "CAFE B").head
    assert(b.getAs[String]("borough") == null, "unknown BORO code -> NULL (no ELSE)")
    assert(b.isNullAt(b.fieldIndex("inspection_date")) &&
      b.isNullAt(b.fieldIndex("score")), "dirty values null, row kept")
    assert(!b.getAs[Boolean]("grade_valid") && !b.getAs[Boolean]("coords_valid"))
  }
}
