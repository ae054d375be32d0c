package graft.tools

/** A standalone writer PROCESS for the versioned-table multi-writer
  * contract (VERDICT r12 next-#3): commits `n` single-row merges into
  * `root`, each a distinct key, from its own JVM and its own
  * SparkSession — the cross-process actor the optimistic commit path
  * exists for (the per-root in-JVM lock can't see this writer; only
  * the manifest put-if-absent CAS serializes it against others).
  * Launched by VersionedTableMultiWriterSpec (two concurrent writer
  * JVMs) and the ClusterSmoke writer-vs-reader shape (one writer JVM
  * committing while the parent JVM's readers scan).
  *
  * args: root writerId nCommits. Prints one `[vtwriter]` line with the
  * committed version numbers; exits nonzero on any failure (including
  * exhausted optimistic retries).
  */
object VersionedWriterMain {

  /** Launch a writer as a separate JVM, inheriting this (forked)
    * JVM's classpath — ONE launcher for the multi-writer spec and the
    * ClusterSmoke shape (review r13: the 13-entry add-opens list was
    * duplicated; a JDK bump updating only one copy would break the
    * other harness silently). */
  def launch(root: String, writerId: String, nCommits: Int,
             xmx: String = "2g"): Process =
    launchJvm("graft.tools.VersionedWriterMain",
      Seq(root, writerId, nCommits.toString), xmx)

  /** Generic child-JVM launcher for cross-process harnesses
    * (this writer, the r15 publish/GC hammer) — one add-opens list. */
  def launchJvm(mainClass: String, args: Seq[String],
                xmx: String = "2g"): Process = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(java, s"-Xmx$xmx", "-cp",
      System.getProperty("java.class.path")) ++ addOpens ++
      (mainClass +: args))
    new ProcessBuilder(cmd: _*).inheritIO().start()
  }

  def main(args: Array[String]): Unit = {
    val Array(root, writerId, n) = args
    val spark = graft.GraftSession(2, s"vt-writer-$writerId")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      val versions = (1 to n.toInt).map { i =>
        graft.pipeline.VersionedTable.merge(spark, root,
          Seq((s"$writerId-$i", writerId, i.toLong)).toDF("key", "writer", "seq"),
          uniqueKey = Seq("key"))
      }
      println(s"[vtwriter] $writerId committed ${versions.mkString(",")}")
    } finally spark.stop()
  }
}
