package graft.tools

import graft.operators.{KMeans, Opq, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN recall@5 vs exact cosine top-5 — the quality evidence that
  * TRAINING the quantizers matters (r7) and that the OPQ rotation
  * earns its place in front of PQ (e11, r8). Isolated from
  * [[ScaleProbe]] so heap pressure from the timing stages cannot
  * distort it (VERDICT r7 next-#7 pattern), and so it can re-run alone.
  *
  * Two corpora:
  *  - isotropic: the synthetic embeddings as-is (near-iid dims, per-dim
  *    std within ±7%% of uniform) — rotation is recall-NEUTRAL here by
  *    construction, the expected result, because a random rotation of
  *    an isotropic cloud is statistically the same cloud;
  *  - anisotropic: the same vectors with an axis-aligned variance ramp
  *    (dim i scaled by 1 + i/8 — the covariance shape real embedding
  *    models produce and the case OPQ exists for, Ge et al. 2013 §1):
  *    plain PQ concentrates quantization error in the high-variance
  *    subspaces; the rotation spreads variance across all subspaces
  *    before the sub-fits, which must show as equal-or-better recall.
  *
  * Usage: runMain graft.tools.RecallProbe [sfDir]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession(32)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // `opq_curve`: parametric-OPQ convergence evidence (VERDICT r8 #6)
    // instead of the recall battery — distortion (the Ge 2013
    // objective) and recall@5 vs alternation count on the two corpora
    // where rotation matters; the curve must flatten.
    if (args.contains("opq_curve")) {
      val aniso = emb.select(col("vec_id"),
        expr("transform(embedding, (x, i) -> cast(x as double) * (1.0d + i / 8.0d))")
          .as("embedding"))
      val clust = emb.select(col("vec_id"),
        expr("transform(embedding, (x, i) -> cast(x as double) + " +
          "CASE WHEN i = CAST(label % 16 AS INT) * 4 THEN 6.0d ELSE 0.0d END)")
          .as("embedding"))
      for ((tag, df) <- Seq(("anisotropic", aniso), ("clustered", clust))) {
        val q = df.filter(pmod(col("vec_id"), lit(20L)) === 0)
        val exactL2 = Similarity.bruteForceTopKL2(df, q, "embedding",
            "vec_id", 5).select("query_id", "id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        for (a <- Seq(1, 2, 4)) {
          val (rP, cbP) = Opq.fitParametric(df, "embedding", "vec_id",
            m = 4, kCent = 16, dim = 64, alternations = a)
          val d = Opq.distortion(df, "embedding", "vec_id", rP, cbP, m = 4)
          val rotP = Opq.rotateDense(df, "embedding", "vec_id", rP)
          val hits = Similarity.pqAdcTopK(rotP,
              rotP.filter(col("id") % 20 === 0), "v", "id", 5, 4, cbP)
            .select("query_id", "id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val rec = if (exactL2.isEmpty) 1.0
            else hits.intersect(exactL2).size.toDouble / exactL2.size
          println(f"[recall] $tag%-12s opq_curve alternations=$a " +
            f"distortion=$d%.6f recall@5=$rec%.3f")
        }
      }
      spark.stop(); return
    }
    report("isotropic", emb)
    report("anisotropic", emb.select(col("vec_id"),
      expr("transform(embedding, (x, i) -> cast(x as double) * (1.0d + i / 8.0d))")
        .as("embedding")))
    // clustered: each label's vectors shifted +6.0 along one of 16 axis
    // directions (vector norms ~1, so clusters are far apart) — the
    // corpus shape real embedding models produce and the IVFADC (e12)
    // value case: the cell id absorbs the cluster offset, residual
    // codes only have to resolve the local cloud
    report("clustered", emb.select(col("vec_id"),
      expr("transform(embedding, (x, i) -> cast(x as double) + " +
        "CASE WHEN i = CAST(label % 16 AS INT) * 4 THEN 6.0d ELSE 0.0d END)")
        .as("embedding")))
    spark.stop()
  }

  private def report(tag: String, emb: DataFrame): Unit = {
    val q = emb.filter(pmod(col("vec_id"), lit(20L)) === 0)
    def hits(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // two exact baselines, one per metric family: the IVF trio ranks by
    // cosine, the PQ/ADC trio estimates SQUARED L2 — each is judged
    // against the exact top-5 of the metric it actually computes
    // (judging ADC against cosine conflates metric mismatch with
    // quantization error and drowns codebook-quality differences)
    val exactCos = hits(Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", 5))
    val exactL2 = hits(Similarity.bruteForceTopKL2(emb, q, "embedding", "vec_id", 5))
    def recall(exact: Set[(Long, Long)])(s: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 1.0 else s.intersect(exact).size.toDouble / exact.size
    val rc = recall(exactCos) _
    val rl = recall(exactL2) _

    val km = KMeans.fit(emb, "embedding", "vec_id", k = 16, dim = 64)
    val cbT = KMeans.fitPqCodebook(emb, "embedding", "vec_id",
      m = 4, kCent = 16, dim = 64)
    // the id-named stand-in quantizer: corpus rows 0..15 as a codebook
    val cbS = Similarity.codebookOf(emb, "embedding", "vec_id", 0L until 16L)
    val rStand = rc(hits(Similarity.ivfTopK(
      emb, q, "embedding", "vec_id", 5, cbS, nProbe = 2)))
    val rTrain = rc(hits(Similarity.ivfTopK(
      emb, q, "embedding", "vec_id", 5, km.centroids, nProbe = 2)))
    // PQ trio WITHOUT cell pruning (pqAdcTopK) so the number isolates
    // CODEBOOK quality — the thing e04-vs-e09-vs-e11 differ in; the
    // IVF-PQ composition re-adds the probe-pruning loss measured above
    val rPqStand = rl(hits(Similarity.pqAdcTopK(
      emb, q, "embedding", "vec_id", 5, 4, cbS)))
    val rPqTrain = rl(hits(Similarity.pqAdcTopK(
      emb, q, "embedding", "vec_id", 5, 4, cbT)))

    // e11: trained PQ over the OPQ-rotated corpus (ids unchanged;
    // orthogonal R preserves L2 up to the round-6 grid, so recall is
    // judged against the SAME unrotated exact-L2 top-5)
    val rot = Opq.rotate(emb, "embedding", "vec_id", Opq.reflectors(4, 64))
    val rotQ = rot.filter(col("id") % 20 === 0)
    val cbR = KMeans.fitPqCodebook(rot, "v", "id", m = 4, kCent = 16, dim = 64)
    val rOpq = rl(hits(Similarity.pqAdcTopK(
      rot, rotQ, "v", "id", 5, 4, cbR)))

    // parametric OPQ (Opq.fitParametric — the declared-divergence
    // alternation): must repair e11's loss wherever the random R
    // fights the data's structure
    val (rP, cbPm) = Opq.fitParametric(emb, "embedding", "vec_id",
      m = 4, kCent = 16, dim = 64, alternations = 2)
    val rotP = Opq.rotateDense(emb, "embedding", "vec_id", rP)
    val rOpqP = rl(hits(Similarity.pqAdcTopK(
      rotP, rotP.filter(col("id") % 20 === 0), "v", "id", 5, 4, cbPm)))

    println(f"[recall] $tag%-12s recall@5: ivf-vs-cos stand-in=$rStand%.3f " +
      f"trained=$rTrain%.3f | adc-vs-l2 pq-stand-in=$rPqStand%.3f " +
      f"pq-trained(e09)=$rPqTrain%.3f opq(e11)=$rOpq%.3f " +
      f"opq-parametric=$rOpqP%.3f (exact=1.0)")

    // second quantizer size (VERDICT r7 next-#5): kCent=64 sub-centroids
    // (24-bit codes) — the larger-codebook point on the recall/size
    // curve, and a less noise-dominated e09-vs-e11 comparison
    // l (oversample) scales with k — the k-means|| contract (l = 2k);
    // the default l=32 yields ~62 candidates for k=64 and fails loudly
    val cbT64 = KMeans.fitPqCodebook(emb, "embedding", "vec_id",
      m = 4, kCent = 64, dim = 64, oversample = 128)
    val r64Train = rl(hits(Similarity.pqAdcTopK(
      emb, q, "embedding", "vec_id", 5, 4, cbT64)))
    val cbR64 = KMeans.fitPqCodebook(rot, "v", "id",
      m = 4, kCent = 64, dim = 64, oversample = 128)
    val r64Opq = rl(hits(Similarity.pqAdcTopK(
      rot, rotQ, "v", "id", 5, 4, cbR64)))
    println(f"[recall] $tag%-12s recall@5 kcent=64: " +
      f"pq-trained=$r64Train%.3f opq=$r64Opq%.3f (exact=1.0)")

    // e12 vs e09 under the SAME cell pruning (nProbe=2 of 16): both
    // search the identical probed subset, so the row isolates what the
    // codes encode — raw vectors vs residuals (IVFADC's claim: with
    // inter-cell structure factored into the cell id, the same PQ
    // budget resolves local detail)
    val rIvfRaw = rl(hits(Similarity.ivfPqTopK(
      emb, q, "embedding", "vec_id", 5, km.centroids, 2, 4, cbT)))
    val residDf = Similarity.cellResiduals(emb, "embedding", "vec_id",
      km.centroids)
    val cbRes = KMeans.fitPqCodebook(residDf, "rv", "id",
      m = 4, kCent = 16, dim = 64)
    val rIvfResid = rl(hits(Similarity.ivfPqResidualTopK(
      emb, q, "embedding", "vec_id", 5, km.centroids, 2, 4, cbRes)))
    println(f"[recall] $tag%-12s recall@5 ivf-pq nprobe=2: " +
      f"raw-codes(e09)=$rIvfRaw%.3f residual(e12)=$rIvfResid%.3f (exact=1.0)")
  }
}
