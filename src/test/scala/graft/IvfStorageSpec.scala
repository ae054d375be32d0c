package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Pins the IVF at-scale storage claim (PLANS.md): a corpus written
  * partitioned BY cell lets probe queries prune non-probed cells at the
  * SCAN — the property that makes nProbe/nCells the actual fraction of
  * the corpus read, not just the fraction compared. */
class IvfStorageSpec extends SparkSpec {
  import spark.implicits._

  test("cell-partitioned corpus: probe filter prunes partitions at the scan") {
    val vecs = (0 until 200).map { i =>
      val angle = i * math.Pi / 200.0
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val assigned = Similarity.cellAssignments(vecs, "embedding", "vec_id",
      Similarity.codebookOf(vecs, "embedding", "vec_id",
        Seq(0L, 50L, 100L, 150L)))
    val dir = Files.createTempDirectory("graft-ivf").toString + "/corpus"
    assigned.write.partitionBy("cell").parquet(dir)

    val stored = spark.read.parquet(dir)
    // probe the cells of centroids 0 and 50: codebook indices 0 and 1
    val probed = stored.filter(col("cell").isin(0L, 1L))
    val plan = probed.queryExecution.executedPlan.toString

    // partition pruning happens at PLANNING: the scan's PartitionFilters
    // carry the cell predicate, and only the probed dirs are selected
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"cell filter not pushed to partition pruning:\n$plan")
    val scanned = probed.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(scanned.contains(2),
      s"expected 2 of 4 cell dirs scanned, got $scanned")

    // and the probed relation is exactly the cells' content
    val expected = assigned.filter(col("cell").isin(0L, 1L)).count()
    assert(probed.count() == expected && expected > 0)
  }
}
