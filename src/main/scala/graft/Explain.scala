package graft

/** Formatted-plan dump for driver queries — the per-round plan audit
  * (`.explain("formatted")`). Audit targets: one scan per corpus
  * relation, BroadcastHashJoin on dim/query sides, pushed filters
  * reaching the parquet scan, no unexpected SortMergeJoin or cartesian,
  * WholeStageCodegen spans wide.
  *
  * Usage: `runMain graft.Explain <sfDir> <name>... | all`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Explain <sfDir> <queryName>... | all")
    val sfDir = args.head
    val names = args.tail.toSeq match {
      case Seq("all") => SparkEntry.selectKeys(None)
      case keys => SparkEntry.selectKeys(Some(keys.mkString(",")))
    }
    val spark = GraftSession(GraftSession.envCores(4))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
