package graft

import graft.io.DictionaryIngest
import graft.operators.SkewJoin
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class IngestExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("dictionary-driven CSV: schema from dict, corrupt-row quarantine, renames") {
    val dir = Files.createTempDirectory("graft-dict")
    Files.writeString(dir.resolve("dict.csv"),
      """column_name,type,units
        |CAMIS,integer,id
        |DBA,Plain Text,name
        |SCORE,decimal,points
        |GRADE DATE,date,
        |Latitude,double,deg
        |""".stripMargin)
    Files.writeString(dir.resolve("data.csv"),
      """CAMIS,DBA,SCORE,GRADE DATE,Latitude
        |100,Cafe A,12.5,2023-05-01,40.71
        |101,Cafe B,not_a_number,2023-06-01,40.72
        |102,Cafe C,7,2023-07-02,40.73
        |""".stripMargin)
    val dict = DictionaryIngest.readDictionary(spark, dir.resolve("dict.csv").toString)
    assert(dict.map(_._1) == Seq("CAMIS", "DBA", "SCORE", "GRADE DATE", "Latitude"))
    val schema = DictionaryIngest.schemaFromDictionary(dict)
    assert(schema("CAMIS").dataType == LongType)
    assert(schema("SCORE").dataType == DecimalType(38, 9))
    assert(schema("GRADE DATE").dataType == DateType)

    val df = DictionaryIngest.readWithDictionary(
      spark, dir.resolve("data.csv").toString, dict).cache()
    assert(df.count() == 3)
    val corrupt = df.filter(col("_corrupt_record").isNotNull)
    assert(corrupt.count() == 1, "bad SCORE row quarantined, not dropped")
    assert(corrupt.head.getString(corrupt.head.fieldIndex("_corrupt_record"))
      .contains("not_a_number"))
    val good = df.filter(col("_corrupt_record").isNull)
    assert(good.count() == 2)

    val renamed = DictionaryIngest.applyRenames(good.drop("_corrupt_record"),
      Map("CAMIS" -> "camis_id", "GRADE DATE" -> "grade_date"))
    assert(renamed.columns.toSeq ==
      Seq("camis_id", "DBA", "SCORE", "grade_date", "Latitude"))
  }

  test("skew join: hot path engages on skewed data and equals plain join") {
    val left = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i))
      .toDF("k", "v") // key 1 is hot: 90% of rows
    val right = Seq((1L, "hot"), (950L, "cold")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).select("k", "v", "name")
    // sampleFraction=1.0: exact frequencies, so hot detection is
    // deterministic in the test (mean≈9.9, key 1 at 900 >> 8x mean)
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", 8,
      sampleFraction = 1.0)
    assert(salted.queryExecution.analyzed.toString.contains("Union"),
      "a 90%-hot key must route through the salted union path")
    val s2 = salted.select("k", "v", "name")
    assert(s2.count() == plain.count())
    assert(s2.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(s2).count() == 0)
  }

  test("skew join: uniform keys degenerate to the plain join (no union)") {
    val left = (1 to 500).map(i => (i.toLong % 50, i)).toDF("k", "v")
    val right = (0L until 50L).map(k => (k, s"n$k")).toDF("k", "name")
    val j = SkewJoin.saltedInnerJoin(left, right, "k", 8,
      sampleFraction = 1.0)
    assert(!j.queryExecution.analyzed.toString.contains("Union"),
      "no skew -> the operator must be exactly the plain join")
    val plain = left.join(right, Seq("k")).select("k", "v", "name")
    assert(j.select("k", "v", "name").exceptAll(plain).count() == 0)
    assert(plain.exceptAll(j.select("k", "v", "name")).count() == 0)
  }

  test("skew join: dominant-key and single-key skew get mitigation (median + share guard)") {
    // 2 distinct keys, 99%/1%: a MEAN-relative threshold provably never
    // fires here (mean is inflated by the hot key's own mass); the
    // median baseline + absolute-share guard must
    val left = (1 to 1000).map(i => (if (i <= 990) 1L else 2L, i)).toDF("k", "v")
    val right = Seq((1L, "dom"), (2L, "rare")).toDF("k", "name")
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", 8,
      sampleFraction = 1.0)
    assert(salted.queryExecution.analyzed.toString.contains("Union"),
      "a 99%-dominant key must route through the salted path")
    val plain = left.join(right, Seq("k")).select("k", "v", "name")
    val s2 = salted.select("k", "v", "name")
    assert(s2.exceptAll(plain).count() == 0 && plain.exceptAll(s2).count() == 0)

    // single distinct key: freq == median == total — only the share
    // guard can catch it, and it must (one reducer takes ALL rows
    // otherwise, the worst case the operator exists for)
    val left1 = (1 to 400).map(i => (7L, i)).toDF("k", "v")
    val right1 = Seq((7L, "only")).toDF("k", "name")
    val salted1 = SkewJoin.saltedInnerJoin(left1, right1, "k", 8,
      sampleFraction = 1.0)
    assert(salted1.queryExecution.analyzed.toString.contains("Union"),
      "a single-key relation is maximal skew and must be salted")
    assert(salted1.count() == 400)
  }

  test("skew join: NULL keys drop exactly as in a plain inner join") {
    val left = (1 to 100)
      .map(i => (if (i % 2 == 0) Some(1L) else None, i))
      .toDF("k", "v") // 50 rows of hot key 1, 50 NULL-key rows
    val right = Seq((Option(1L), "hot"), (Option.empty[Long], "null"))
      .toDF("k", "name")
    val plain = left.join(right, Seq("k")).select("k", "v", "name")
    // hotFactor forced low so key 1 takes the salted path with NULLs present
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", 4,
      sampleFraction = 1.0, hotFactor = 0.5)
    assert(salted.queryExecution.analyzed.toString.contains("Union"))
    assert(plain.count() == 50, "inner equi-join drops NULL keys")
    val s2 = salted.select("k", "v", "name")
    assert(s2.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(s2).count() == 0)
  }

  test("GraftExtensions: SQL functions usable after runtime registration") {
    // the spark.sql.extensions conf is static (new sessions only); the
    // runtime path registers on the live session
    GraftExtensions.register(spark)
    Seq((Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val cos = spark.sql("SELECT graft_cosine(a, b) AS c FROM vecs").head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    Seq("x y z w").toDF("t").createOrReplaceTempView("docs")
    val sh = spark.sql("SELECT graft_word_shingles(t, 3) AS s FROM docs")
      .head.getSeq[String](0)
    assert(sh.toSet == Set("x y z", "y z w"))
    // non-literal n is rejected at plan time with a clear message
    intercept[Exception] {
      spark.sql("SELECT graft_word_shingles(t, length(t)) FROM docs").collect()
    }
    // the sketch expressions match their DataFrame-path twins
    val sim = spark.sql("SELECT graft_simhash(t, 48) AS h FROM docs").head.getLong(0)
    val simDf = graft.operators.Dedup.simhash(
      Seq((1L, "x y z w")).toDF("id", "t"), "t", "id").head.getLong(1)
    assert(sim == simDf)
    val sig = spark.sql(
      "SELECT graft_minhash_sig(graft_word_shingles(t, 3), 4) AS s FROM docs")
      .head.getSeq[Long](0)
    assert(sig.length == 4 && sig.forall(_ >= 0))
    val mmin = spark.sql(
      "SELECT graft_md5_min(graft_word_shingles(t, 3)) AS m FROM docs")
      .head.getLong(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = Seq("x y z", "y z w")
      .map(g => graft.expressions.HashExpressions.md5Long60(md, g.getBytes("UTF-8")))
      .min
    assert(mmin == expected)
  }

  test("GraftExtensions: combinator functions (md5_long/dist/exact_sum) match the Column API") {
    GraftExtensions.register(spark)
    val df = Seq(
      ("a", 40.7128, -74.0060, 41.8781, -87.6298, 1.10),
      ("b", 40.7128, -74.0060, 40.7128, -74.0060, 2.20),
      ("c", 51.5074, -0.1278, 48.8566, 2.3522, 3.33))
      .toDF("id", "lat1", "lng1", "lat2", "lng2", "x")
    df.createOrReplaceTempView("combi")
    // md5_long: SQL form == Column combinator, row for row
    val viaSql = spark.sql("SELECT graft_md5_long(id) AS h FROM combi ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    val viaCol = df.select(graft.functions.GraftFunctions.md5Long(col("id")).as("h"))
      .orderBy(col("id")).collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaCol && viaSql.forall(_ >= 0))
    // dist_lat_lng: km default, mi via the 5th literal arg — bit-equal
    // to the Column API (same tree, same clamp)
    val dSql = spark.sql(
      "SELECT graft_dist_lat_lng(lat1, lng1, lat2, lng2) AS d, " +
      "graft_dist_lat_lng(lat1, lng1, lat2, lng2, 'mi') AS dmi " +
      "FROM combi ORDER BY id").collect()
    val dCol = df.select(
      graft.functions.GraftFunctions.distLatLng(
        col("lat1"), col("lng1"), col("lat2"), col("lng2"), "km").as("d"),
      graft.functions.GraftFunctions.distLatLng(
        col("lat1"), col("lng1"), col("lat2"), col("lng2"), "mi").as("dmi"))
      .orderBy(col("id")).collect()
    dSql.zip(dCol).foreach { case (s, c) =>
      assert(s.getDouble(0) == c.getDouble(0), "km bit-equal")
      assert(s.getDouble(1) == c.getDouble(1), "mi bit-equal")
    }
    assert(dSql(1).getDouble(0) == 0.0, "identical points -> 0, acos clamped")
    // a bad unit literal fails at PLAN time with the contract message
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dist_lat_lng(lat1, lng1, lat2, lng2, 'furlong') FROM combi")
        .collect()
    }
    assert(err.getMessage.contains("km") || err.getMessage.contains("unit"))
    // exact_sum / exact_avg: aggregate trees, decimal-exact like the API
    // (exact_avg is the exact sum over the count)
    val aggSql = spark.sql(
      "SELECT graft_exact_sum(x) AS s, graft_exact_avg(x) AS a FROM combi").head
    val aggCol = df.agg(
      graft.functions.GraftFunctions.exactSum(col("x")).as("s"),
      (graft.functions.GraftFunctions.exactSum(col("x")) / count(col("x")))
        .as("a")).head
    assert(aggSql.getDouble(0) == aggCol.getDouble(0))
    assert(aggSql.getDouble(0) == 6.63, "decimal-exact: 1.10+2.20+3.33")
    assert(aggSql.getDouble(1) == aggCol.getDouble(1))
    // and it groups like any aggregate
    val grouped = spark.sql(
      "SELECT id, graft_exact_sum(x) AS s FROM combi GROUP BY id ORDER BY id")
      .collect().map(_.getDouble(1)).toSeq
    assert(grouped == Seq(1.10, 2.20, 3.33))
  }

  test("GraftExtensions: repetition stats and PII redaction SQL forms match the engine path") {
    GraftExtensions.register(spark)
    Seq((1L, "a a B b Contact x@y.io or 555-123-4567 at 10.0.0.1 now"))
      .toDF("doc_id", "text").createOrReplaceTempView("rep_t")
    val st = spark.sql(
      "SELECT graft_repetition_stats(text) AS st FROM rep_t").head
      .getStruct(0)
    // 11 tokens lowercased: a a b b contact x@y.io or 555-123-4567 at 10.0.0.1 now
    assert(st.getLong(0) == 11L, "n_tokens")
    assert(st.getLong(2) == 2L, "top token (a or b) x2")
    val red = spark.sql("SELECT graft_redact_pii(text) AS r FROM rep_t").head.getString(0)
    assert(red == "a a B b Contact <EMAIL> or <PHONE> at <IP> now")
    // bit-equal to the Column API
    val viaCol = spark.table("rep_t")
      .select(graft.functions.GraftFunctions.redactPii(col("text"))).head.getString(0)
    assert(red == viaCol)
  }

  test("GraftExtensions: gopher stats / word spans / span hashes SQL forms match the engine path") {
    GraftExtensions.register(spark)
    Seq((1L, "The cat... sat #on the mat"))
      .toDF("doc_id", "text").createOrReplaceTempView("gop_t")
    val st = spark.sql("SELECT graft_gopher_stats(text) AS st FROM gop_t")
      .head.getStruct(0)
    assert(st.getLong(0) == 6L, "n_tokens")
    assert(st.getLong(3) == 2L, "symbol hits: one '...' + one '#'")
    val viaColSt = spark.table("gop_t")
      .select(graft.expressions.TextExpressions.gopherStats(col("text"))).head.getStruct(0)
    assert(st == viaColSt)
    val spans = spark.sql("SELECT graft_word_spans(text, 2) AS s FROM gop_t")
      .head.getSeq[String](0)
    assert(spans == spark.table("gop_t")
      .select(graft.expressions.TextExpressions.wordSpans(col("text"), 2))
      .head.getSeq[String](0))
    assert(spans.head == "the cat...", "lowercased internally, all positions")
    val hashes = spark.sql("SELECT graft_span_hashes(text, 2) AS h FROM gop_t")
      .head.getSeq[Long](0)
    assert(hashes == spark.table("gop_t")
      .select(graft.expressions.TextExpressions.spanHashes(col("text"), 2))
      .head.getSeq[Long](0))
    assert(hashes.length == spans.length)
  }

  test("GraftExtensions: wrong argument counts raise contract errors, not IndexOutOfBounds") {
    GraftExtensions.register(spark)
    Seq(("a", 1.0)).toDF("id", "x").createOrReplaceTempView("arity_t")
    // one under- and one over-application per builder family
    val cases = Seq(
      "SELECT graft_md5_long() FROM arity_t",
      "SELECT graft_md5_long(id, x) FROM arity_t",
      "SELECT graft_exact_sum(x, x) FROM arity_t",
      "SELECT graft_exact_avg() FROM arity_t",
      "SELECT graft_cosine(array(1.0)) FROM arity_t",
      "SELECT graft_simhash(id) FROM arity_t",
      "SELECT graft_md5_min() FROM arity_t")
    cases.foreach { q =>
      val err = intercept[Exception] { spark.sql(q).collect() }
      val msgs = Iterator.iterate(err: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.contains("argument"), s"$q -> $msgs")
      assert(!msgs.contains("IndexOutOfBounds"), s"$q -> $msgs")
    }
  }

  test("GraftExtensions: float arrays auto-cast; shingles case-match the engine path") {
    GraftExtensions.register(spark)
    // raw array<float> embeddings: the builder's explicit Cast must make
    // this correct, not silently read misaligned bytes
    Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
      .createOrReplaceTempView("fvecs")
    val cos = spark.sql("SELECT graft_cosine(a, b) AS c FROM fvecs").head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    // SQL-built shingles on MIXED-CASE text must equal the engine's
    // Dedup.wordShingles (which lowercases) — signatures built from SQL
    // and DataFrame paths must never diverge
    Seq("The Quick Brown fox").toDF("t").createOrReplaceTempView("mixed")
    val sqlSh = spark.sql("SELECT graft_word_shingles(t, 3) AS s FROM mixed")
      .head.getSeq[String](0).toSet
    val dfSh = Seq("The Quick Brown fox").toDF("t")
      .select(graft.operators.Dedup.wordShingles(col("t"), 3).as("s"))
      .head.getSeq[String](0).toSet
    assert(sqlSh == dfSh && sqlSh == Set("the quick brown", "quick brown fox"))
  }

  test("vector expressions: NULL array element yields NULL, never a fabricated value") {
    val df = Seq(
      (Array(Option(1.0), Option(0.0)), Array(Option(1.0), Option(0.0))),
      (Array(Option(1.0), Option.empty[Double]), Array(Option(1.0), Option(0.0))))
      .toDF("a", "b")
    val out = df.select(
      graft.expressions.VectorExpressions.cosine(col("a"), col("b")).as("c"),
      graft.expressions.VectorExpressions.dot(col("a"), col("b")).as("d"))
      .collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12 &&
      math.abs(out(0).getDouble(1) - 1.0) < 1e-12)
    assert(out(1).isNullAt(0) && out(1).isNullAt(1),
      "a NULL element would read as 0.0 and fabricate a similarity")
  }
}
