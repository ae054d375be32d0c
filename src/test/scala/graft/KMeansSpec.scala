package graft

import graft.operators.{KMeans, Similarity}
import org.apache.spark.sql.functions._

/** Deterministic k-means (e08): the fit must be a pure function of the
  * data — independent of partitioning and repeatable — and its cells
  * must cover the corpus through the shared NearestCellExpr contract. */
class KMeansSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val model =
    KMeans.fit(emb, "embedding", "vec_id", k = 16, dim = 64)

  test("fit is partitioning-independent and repeatable") {
    val again = KMeans.fit(emb.repartition(7, col("vec_id")),
      "embedding", "vec_id", k = 16, dim = 64)
    assert(model.centroids == again.centroids,
      "same corpus, different partitioning -> different centroids")
  }

  test("model shape: k centroids of width dim, finite, in the data's scale") {
    assert(model.k == 16)
    assert(model.centroids.forall(_.length == 64))
    // centroids are MEANS on the deterministic division grid — finite
    // and bounded by the data's element range (the L2 consumers' need;
    // the former un-divided int64 sums sat ~1e12 off-scale)
    assert(model.centroids.flatten.forall(x =>
      java.lang.Double.isFinite(x) && math.abs(x) <= 1.0))
  }

  test("L2-metric fit is deterministic and distinct from the cosine fit") {
    val l2 = KMeans.fit(emb, "embedding", "vec_id", k = 16, dim = 64,
      metric = KMeans.L2, seedTag = "pq0")
    val again = KMeans.fit(emb.repartition(5, col("vec_id")), "embedding",
      "vec_id", k = 16, dim = 64, metric = KMeans.L2, seedTag = "pq0")
    assert(l2.centroids == again.centroids)
    assert(l2.centroids != model.centroids,
      "different metric/tag must not reproduce the cosine fit")
  }

  test("packed PQ codebook: m sub-fits pack into k full-width rows") {
    val cb = KMeans.fitPqCodebook(emb, "embedding", "vec_id",
      m = 4, kCent = 16, dim = 64)
    assert(cb.size == 16 && cb.forall(_.length == 64))
    // slice j of packed row c is sub-centroid (j, c): the sub-fit on
    // slice 0 must reappear verbatim as the first 16 coords
    val sub0 = KMeans.fit(
      emb.select(col("vec_id"), slice(col("embedding").cast("array<double>"),
        1, 16).as("sv")),
      "sv", "vec_id", k = 16, dim = 16, metric = KMeans.L2, seedTag = "pq0")
    assert(cb.map(_.take(16)) == sub0.centroids.map(_.toSeq))
  }

  test("assignment covers the corpus with cells in 0..k-1") {
    val asg = Similarity.cellAssignments(emb, "embedding", "vec_id",
      model.centroids)
    assert(asg.count() == emb.count()) // no degenerate vectors in testdata
    val cells = asg.select("cell").distinct().collect().map(_.getLong(0))
    assert(cells.forall(c => c >= 0 && c < 16))
  }

  test("trained cells balance at least as well as the id-named stand-ins") {
    def maxCell(asg: org.apache.spark.sql.DataFrame): Long =
      asg.groupBy("cell").count().agg(max("count")).head.getLong(0)
    val trained = maxCell(
      Similarity.cellAssignments(emb, "embedding", "vec_id", model.centroids))
    val standIn = maxCell(
      Similarity.cellAssignments(emb, "embedding", "vec_id",
        Similarity.codebookOf(emb, "embedding", "vec_id", 0L until 16L)))
    // the reason the fit exists (VERDICT r6 next-#1): arbitrary corpus
    // rows as centroids let one attractor cell swallow the corpus
    assert(trained <= standIn,
      s"trained max cell $trained > stand-in max cell $standIn")
  }

  test("fit fails loudly when the corpus cannot yield k candidates") {
    import spark.implicits._
    // 3 distinct vectors can never produce 16 candidates
    val tiny = Seq.tabulate(3)(i => (i.toLong, Seq.tabulate(64)(j =>
      if (j == i) 1.0 else 0.0))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      KMeans.fit(tiny, "embedding", "vec_id", k = 16, dim = 64)
    }
    assert(e.getMessage.contains("candidates"))
  }
}
