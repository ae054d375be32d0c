package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft SparkSession, so tests, the correctness
  * gate and the benchmarks plan every query under the same config.
  *
  * Its parameters are deployment settings only; a caller that needs an
  * extra conf chains it onto [[builder]].
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** @param master defaults to `local[cores]` */
  def builder(cores: Int, appName: String = "graft",
      master: Option[String] = None): SparkSession.Builder =
    SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // test-scale tables are single small parquet files; the default
      // 128MB split size would scan each on ONE core. At warehouse scale
      // files outnumber cores and the default is right.
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")

  /** [[builder]], created, with the log level at WARN. */
  def apply(cores: Int, appName: String = "graft",
      master: Option[String] = None): SparkSession = {
    val s = builder(cores, appName, master).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
