package graft

/** t1-style smoke: builds a session the way the driver does, runs
  * SparkEntry.entry, and prints the row count (driver checks rows>0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n")
    spark.stop()
  }
}
