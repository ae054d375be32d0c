package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generalized ordered sequence-pattern matching — the MATCH_RECOGNIZE /
  * funnel shape: N ordered stages, each with its own row predicate and an
  * optional per-transition conversion window, matched per key with
  * first-occurrence semantics (stage i's match is the EARLIEST qualifying
  * event at-or-after stage i-1's match, optionally within `maxGap` of
  * it).
  *
  * Compilation: each stage is one conditional min-aggregation — filter
  * the events to the stage predicate, key-join the previous stage's
  * match timestamps, bound by the transition window, take min(ts) per
  * key — chained left-to-right (the plan shape q57's hand-written
  * 3-stage funnel validated). No window over a global event order, no
  * per-key sequence materialization: at 100 TB the cost is one
  * key-keyed shuffle per STAGE over the (already predicate-pruned)
  * stage events, and each successive stage only carries keys still in
  * the funnel, so stage relations shrink monotonically.
  *
  * Greedy-first-match note: min-chaining commits to the earliest stage-i
  * match even when a later stage-i event would let stage i+1 succeed
  * (the standard funnel semantics, and what every SQL funnel computes);
  * backtracking pattern search is a different (exponential-state)
  * contract, deliberately out of scope.
  */
object SequenceMatch {

  /** One funnel stage: `name` labels the output timestamp column
    * (`<name>_ts`); `predicate` selects the stage's candidate events;
    * `maxGap` (an SQL INTERVAL body, e.g. "1 DAY") bounds the
    * transition time from the previous stage's match — None means any
    * time at-or-after it. The first stage's maxGap is ignored (there is
    * no previous transition). */
  final case class Stage(name: String, predicate: Column,
                         maxGap: Option[String] = None)

  /** Per-key match report: (key, <stage1>_ts, …, <stageN>_ts, stage)
    * where `stage` is the deepest stage reached (1-based) and unreached
    * stages carry null timestamps. Keys that never match stage 1 are
    * absent — the funnel's population is stage-1 entrants. */
  def funnel(events: DataFrame, keyCol: String, tsCol: String,
             stages: Seq[Stage]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    require(stages.map(_.name).distinct.size == stages.size,
      s"stage names must be distinct: ${stages.map(_.name)}")
    val n = stages.size
    def tsName(i: Int) = s"${stages(i - 1).name}_ts"
    val first = events.filter(stages.head.predicate)
      .groupBy(col(keyCol)).agg(min(col(tsCol)).as(tsName(1)))
    val stageDfs = new scala.collection.mutable.ArrayBuffer[DataFrame]
    stageDfs += first
    (2 to n).foreach { i =>
      val st = stages(i - 1)
      val prevTs = col(tsName(i - 1))
      val window = st.maxGap
        .map(g => col(tsCol) < prevTs + expr(s"INTERVAL $g"))
        .getOrElse(lit(true))
      stageDfs += events.filter(st.predicate)
        .join(stageDfs(i - 2).select(col(keyCol), prevTs), Seq(keyCol))
        .filter(col(tsCol) >= prevTs && window)
        .groupBy(col(keyCol)).agg(min(col(tsCol)).as(tsName(i)))
    }
    val joined = stageDfs.tail
      .foldLeft(stageDfs.head)((acc, df) => acc.join(df, Seq(keyCol), "left"))
    // fold upward so the FINAL expression tests the deepest stage first
    val deepest = (2 to n).foldLeft(lit(1)) { (acc, i) =>
      when(col(tsName(i)).isNotNull, i).otherwise(acc)
    }
    joined.select(
      col(keyCol) +:
        (1 to n).map(i => col(tsName(i))) :+
        deepest.as("stage"): _*)
  }
}
