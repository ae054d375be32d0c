package graft

import graft.catalog.Catalog
import graft.operators.SequenceMatch
import graft.operators.SequenceMatch.Stage
import graft.queries.ExtQueries
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** [[SequenceMatch]] — the generalized funnel must (a) reproduce q57's
  * hand-written 3-stage funnel exactly when given its stage list, and
  * (b) honor per-stage predicates, per-transition windows, and ordering
  * on a hand-built event log. */
class SequenceMatchSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(min * 60000L)

  private val q57Stages = Seq(
    Stage("su", col("event_type") === "signup"),
    Stage("ck", col("event_type") === "click", Some("1 DAY")),
    Stage("pu", col("event_type") === "purchase", Some("1 DAY")))

  test("3-stage instance == q57's hand-written funnel, row for row") {
    val dir = "/root/testdata/sf0.001"
    // q57's output contract: keys counted by the deepest stage reached
    val general = SequenceMatch.funnel(
        Catalog(spark, dir).events, "user_id", "ts", q57Stages)
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
      .collect().toSeq
    val handWritten = ExtQueries.q57Funnel(spark, dir)
      .collect().toSeq
    assert(general == handWritten)
  }

  test("order matters: a stage-2 event before stage 1 does not match") {
    val ev = Seq(
      (1L, ts(10), "b"), (1L, ts(20), "a"), // b precedes a -> stage 1 only
      (2L, ts(10), "a"), (2L, ts(20), "b")  // in order -> stage 2
    ).toDF("k", "ts", "t")
    val got = SequenceMatch.funnel(ev, "k", "ts", Seq(
        Stage("a", col("t") === "a"), Stage("b", col("t") === "b")))
      .select("k", "stage").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 2))
  }

  test("per-transition window: a late stage-2 event misses the gap") {
    val ev = Seq(
      (1L, ts(0), "a"), (1L, ts(90), "b"),  // 90 min later > 1 hour gap
      (2L, ts(0), "a"), (2L, ts(30), "b")   // within the hour
    ).toDF("k", "ts", "t")
    val got = SequenceMatch.funnel(ev, "k", "ts", Seq(
        Stage("a", col("t") === "a"),
        Stage("b", col("t") === "b", Some("1 HOUR"))))
      .select("k", "stage").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 2))
  }

  test("first-occurrence semantics: stage matches take the EARLIEST " +
      "qualifying event") {
    val ev = Seq(
      (1L, ts(0), "a"), (1L, ts(5), "b"), (1L, ts(8), "b")
    ).toDF("k", "ts", "t")
    val got = SequenceMatch.funnel(ev, "k", "ts", Seq(
        Stage("a", col("t") === "a"),
        Stage("b", col("t") === "b")))
      .select("b_ts").head.getTimestamp(0)
    assert(got == ts(5))
  }

  test("keys that never enter stage 1 are absent; unreached stages " +
      "are null") {
    val ev = Seq(
      (1L, ts(0), "a"),
      (2L, ts(0), "b") // never matches stage 1
    ).toDF("k", "ts", "t")
    val rows = SequenceMatch.funnel(ev, "k", "ts", Seq(
        Stage("a", col("t") === "a"),
        Stage("b", col("t") === "b")))
      .collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L)
    assert(rows.head.isNullAt(rows.head.fieldIndex("b_ts")))
    assert(rows.head.getInt(rows.head.fieldIndex("stage")) == 1)
  }

  test("per-stage predicates beyond event type (value threshold)") {
    val ev = Seq(
      (1L, ts(0), "a", 0.0), (1L, ts(5), "b", 5.0),   // b below threshold
      (2L, ts(0), "a", 0.0), (2L, ts(5), "b", 50.0)
    ).toDF("k", "ts", "t", "v")
    val got = SequenceMatch.funnel(ev, "k", "ts", Seq(
        Stage("a", col("t") === "a"),
        Stage("b", col("t") === "b" && col("v") >= 10)))
      .select("k", "stage").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 2L -> 2))
  }

  test("duplicate stage names are rejected") {
    intercept[IllegalArgumentException] {
      SequenceMatch.funnel(Seq((1L, ts(0), "a")).toDF("k", "ts", "t"),
        "k", "ts", Seq(Stage("x", lit(true)), Stage("x", lit(true))))
    }
  }
}
