package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def oracleJson(): String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    // `--oracles-only <sfDir> <outDir>`: dump oracle_sql.json WITHOUT
    // running a single query — proves the oracle strings are
    // order-independent (VERDICT r12 next-#1: the r12 t21 miss was an
    // oracle dump from a fresh JVM where no query had run). The literal
    // oracles self-serve from the ModelSidecar (or fit on demand), so
    // this path must produce byte-identical SQL to the full run.
    val (oraclesOnly, rest) = args.partition(_ == "--oracles-only")
    val Array(sfDir, outDir) = rest
    if (oraclesOnly.nonEmpty) {
      new java.io.File(outDir).mkdirs()
      graft.queries.DataQueries.setOracleDir(sfDir)
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
        oracleJson())
      shipSidecars(sfDir, outDir)
      return
    }
    // SPARK_GRAFT_ONLY=d14_x,q01_y dumps a subset (local iteration aid,
    // same contract as Bench's filter); the driver never sets it
    val names = SparkEntry.selectedKeys
    val spark = GraftSession(GraftSession.envCores(4))
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // OUTPUT row digests (VERDICT r13 next-#2 — driver-red forensics):
    // per query, a file of SORTED per-row xxhash64 digests plus
    // per-column min/max. When a driver hash goes red, diffing the
    // driver outDir's digest_<name>.txt against a local re-run
    // localizes the divergence to specific rows and columns in one
    // `diff`, instead of costing a blind round. Computed from the
    // WRITTEN parquet (what the driver actually compares), not the
    // in-memory plan. Digests are top-level FILES (not a subdir):
    // comparator implementations that enumerate outDir
    // SUBDIRECTORIES as query outputs (tools/validate.py did, and the
    // driver's copy may still) must never see a parquet-less dir.
    val digestDir = Paths.get(outDir)
    names
      .filter(name => Files.exists(Paths.get(outDir, name)))
      .foreach { name =>
        try {
          val df = spark.read.parquet(s"$outDir/$name")
          val cols = df.columns.sorted // the driver compare sorts by name
          val hashed = df.select(org.apache.spark.sql.functions.xxhash64(
            cols.map(c => org.apache.spark.sql.functions.col(c)
              .cast("string")): _*).as("h"))
          val rows = hashed.collect().map(_.getLong(0)).sorted
          val sb = new StringBuilder
          sb.append(s"rows=${rows.length} xor=${
            java.lang.Long.toHexString(rows.foldLeft(0L)(_ ^ _))}\n")
          // native-type min/max (cast AFTER aggregating — string
          // ordering would mislead on numerics) in ONE agg per query,
          // skipping unorderable columns by dtype (review r14: the
          // per-column agg launched hundreds of tiny jobs, each
          // re-reading the parquet)
          val orderable = df.schema.fields.filter(f =>
              org.apache.spark.sql.catalyst.expressions.RowOrdering
                .isOrderable(f.dataType))
            .map(_.name).toSet
          val ocols = cols.filter(orderable.contains)
          if (ocols.nonEmpty) {
            val aggs = ocols.flatMap { c =>
              Seq(org.apache.spark.sql.functions.min(
                    org.apache.spark.sql.functions.col(c)).cast("string"),
                  org.apache.spark.sql.functions.max(
                    org.apache.spark.sql.functions.col(c)).cast("string"))
            }
            val mm = df.agg(aggs.head, aggs.tail: _*).head
            ocols.zipWithIndex.foreach { case (c, i) =>
              sb.append(s"col $c min=${mm.getString(2 * i)} " +
                s"max=${mm.getString(2 * i + 1)}\n")
            }
          }
          cols.filterNot(orderable.contains)
            .foreach(c => sb.append(s"col $c unorderable\n"))
          rows.foreach(h => sb.append(java.lang.Long.toHexString(h)).append('\n'))
          Files.writeString(digestDir.resolve(s"digest_$name.txt"), sb.toString)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] digest $name failed: ${e.getMessage}")
        }
      }
    // literal-contract oracles (t21/t23) inline the model fitted for
    // the dir being dumped — pin it explicitly so a JVM that touched
    // other sf dirs can never leak another dir's literals
    graft.queries.DataQueries.setOracleDir(sfDir)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson())
    // the fitted-model sidecars travel WITH the dump they describe
    // (VERDICT r13 next-#1c): a red literal gate is then forensically
    // diffable — the exact integers the oracle inlined sit next to it
    shipSidecars(sfDir, outDir)
    // Content fingerprints (VERDICT r11 next-#2): the drift contract
    // covers schema; the two driver incidents to date (r9 events.ts,
    // r11 t21 suspect) were the generator's DATA changing under the
    // engine. One row count + one order-insensitive xxhash64 XOR digest
    // per input table, printed and dumped, makes "the testdata changed"
    // vs "the engine broke" decidable from a one-line diff next round.
    // Formula single-sourced with the sidecar provenance stamp
    // (graft.io.ContentFingerprint).
    val fps = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      .map { t =>
        val fp = graft.io.ContentFingerprint.of(spark, sfDir, t)
        println(s"[verify] fingerprint $t $fp")
        s"${q(t)}: ${q(fp)}"
      }
    // t33/t34 pre-flight: the unigram oracle's Viterbi DP unrolls to a
    // FIXED position count — a generator drift past it would otherwise
    // surface as an opaque hash red (the oracle also self-guards with
    // an error() CTE; this line is the one-line diagnosis next round's
    // diff sees first). Probe = max whitespace-token length over the
    // lowercased corpus, exactly the oracle's `max(len(w)) FROM udw`.
    // GraftFunctions.tokens, NOT a fresh Java \s split: Java \s also
    // splits on \x0B where the oracle's RE2 \s does not, and the probe
    // must see exactly the words the oracle's DP will see (review
    // r18). coalesce(0): an empty/degenerate corpus reads as probe 0,
    // never an NPE that kills the dump.
    val maxWordLen = {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(graft.functions.GraftFunctions
          .tokens(lower(col("text")))).as("w"))
        .agg(coalesce(max(length(col("w"))), lit(0)))
        .head.getInt(0)
    }
    val unroll = graft.queries.DataQueries.uniUnroll
    println(s"[verify] probe max_word_len $maxWordLen " +
      s"(t33/t34 DP unroll $unroll" +
      (if (maxWordLen > unroll) " — EXCEEDED, unigram oracles will error"
       else "") + ")")
    Files.writeString(Paths.get(s"$outDir/fingerprints.json"),
      (fps :+ s"${q("probe_max_word_len")}: ${
        q(s"$maxWordLen (unroll $unroll)")}").mkString("{", ",", "}"))
    spark.stop()
  }

  /** Copy the literal-model sidecars for `sfDir` next to the
    * oracle_sql.json they were inlined into — the model travels with
    * the dump it describes (VERDICT r13 next-#1c). */
  private def shipSidecars(sfDir: String, outDir: String): Unit =
    Seq(graft.io.ModelSidecar.nbPath(sfDir) -> "nb.model",
        graft.io.ModelSidecar.lrPath(sfDir) -> "lr.model")
      .foreach { case (src, dst) =>
        if (Files.exists(src))
          Files.copy(src, Paths.get(outDir, dst),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
}
