package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Graph-family ANN (e40): NSW build + beam search pins.
  *
  * The hash gate proves cross-engine replay; these pin the OPERATOR
  * contracts the gate cannot see — structural bounds of the graph,
  * the beam's state bound, the honesty of the `hit` recall audit, and
  * partitioning-independence of the whole walk.
  */
class NswSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("nswGraph: degree bound, no self edges, deterministic under repartition") {
    val g = Similarity.nswGraph(emb, "embedding", "vec_id",
      nBits = 5, bands = 3, degree = 14).cache()
    try {
      assert(g.filter(col("src") === col("dst")).count() == 0)
      val overDegree = g.groupBy("src").count()
        .filter(col("count") > 14).count()
      assert(overDegree == 0, "every node keeps at most `degree` edges")
      // the build is a pure function of the data, not its layout
      val g2 = Similarity.nswGraph(emb.repartition(7), "embedding", "vec_id",
        nBits = 5, bands = 3, degree = 14)
      assert(g.exceptAll(g2).count() == 0 && g2.exceptAll(g).count() == 0,
        "edge list must not depend on partitioning")
    } finally g.unpersist()
  }

  test("nswBeamSearch: state bound, rank contiguity, self exclusion, honest hit audit") {
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val r = Similarity.nswBeamSearch(emb, queries, "embedding", "vec_id",
      nBits = 5, bands = 3, degree = 14, beamWidth = 16, hops = 6, k = 10)
      .cache()
    try {
      // never corpus-shaped: visited is bounded by 1 + hops*W*degree
      val maxVisited = r.agg(max("visited")).head.getLong(0)
      assert(maxVisited <= 1 + 6 * 16 * 14,
        s"beam state must stay bounded, saw $maxVisited")
      // ranks are 1..n' contiguous per query
      val badRanks = r.groupBy("query_id")
        .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
        .filter(col("mn") =!= 1L || col("mx") =!= col("n")).count()
      assert(badRanks == 0)
      assert(r.filter(col("id") === col("query_id")).count() == 0,
        "a query never answers itself")
      // the hit column IS membership in the exact top-10 — recomputed
      // here independently of the operator's own audit join
      val truth = Similarity.bruteForceTopK(emb, queries,
          "embedding", "vec_id", 10)
        .select(col("query_id"), col("id"), lit(1L).as("t"))
      val dis = r.join(truth, Seq("query_id", "id"), "left")
        .filter(col("hit") =!= coalesce(col("t"), lit(0L))).count()
      assert(dis == 0, "hit must equal exact-top-k membership")
      // the e40 operating point earns its keep (0.92 on this corpus;
      // floor at 0.8 so a testdata regeneration doesn't flake the pin)
      val (hits, n) = (r.agg(sum("hit")).head.getLong(0), r.count())
      assert(hits >= (n * 8) / 10,
        s"recall@10 degraded: $hits/$n — retune (nBits, bands, degree, W, hops)")
    } finally r.unpersist()
  }

  // the (4, 16) widths × (2, 6) hops × (1, 5) ks grid two tests read:
  // (w, h, k) -> (recall_ppm, scanned_ppm, n_hits, n_bf)
  private lazy val grid = Similarity.nswOperatingGrid(emb, None,
      emb.filter(col("vec_id") % 100 === 0), "embedding", "vec_id",
      ks = Seq(1, 5), nBits = 5, bands = 3, degree = 14,
      beamWidths = Seq(4, 16), hopsList = Seq(2, 6)).collect()
    .map(r => (r.getAs[Long]("n_probe"), r.getAs[Long]("r_shortlist"),
      r.getAs[Long]("k")) ->
      (r.getAs[Long]("recall_ppm"), r.getAs[Long]("scanned_ppm"),
        r.getAs[Long]("n_hits"), r.getAs[Long]("n_bf"))).toMap

  test("nswOperatingGrid: prefix-walk monotonicity and family-grid row shape") {
    val g = grid
    assert(g.size == 8, "2 widths x 2 hop counts x 2 ks")
    // a longer walk only ever ADDS visited nodes: recall and scanned
    // are non-decreasing in hops at fixed width (the prefix contract)
    for (w <- Seq(4L, 16L); kk <- Seq(1L, 5L)) {
      assert(g((w, 2L, kk))._1 <= g((w, 6L, kk))._1,
        s"recall must not drop with more hops (w=$w k=$kk)")
      assert(g((w, 2L, kk))._2 <= g((w, 6L, kk))._2,
        s"scanned must not drop with more hops (w=$w k=$kk)")
    }
    // hits bounded by both the answer size and the truth size
    g.foreach { case ((_, _, kk), (_, _, hits, nbf)) =>
      assert(hits <= nbf && nbf <= 5 * kk)
    }
  }

  test("nswOperatingGrid: every cell equals an independent walk of its width and hop count") {
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def clean(df: org.apache.spark.sql.DataFrame) = df.filter(
      Similarity.nonDegenerate(graft.functions.GraftFunctions
        .toDoubleArray(col("embedding")))).count()
    val (nQ, nCorpus) = (clean(queries), clean(emb))
    val truth = Similarity.bruteForceTopKExact(emb, queries, "embedding",
        "vec_id", 5)
      .select(col("query_id"), col("id"), col("rank").as("bfr"))
    // nswBeamSearch(beamWidth = w, hops = h) IS this one-level walk;
    // the graph is built once for the four walks
    val edges = Similarity.nswGraph(emb, "embedding", "vec_id",
      nBits = 5, bands = 3, degree = 14).cache()
    try for (w <- Seq(4, 16); h <- Seq(2, 6)) {
      val walk = Similarity.hnswSearch(emb, queries, "embedding", "vec_id",
          emb.select(col("vec_id").as("id")), Seq((edges, w, h)), k = 5)
        .cache()
      try {
        // scanned = every node the walk visited, summed over queries
        val visited = walk.groupBy("query_id").agg(max("visited").as("v"))
          .agg(sum("v")).head.getLong(0)
        for (kk <- Seq(1, 5)) {
          val (_, scannedPpm, hits, _) = grid((w.toLong, h.toLong, kk.toLong))
          assert(scannedPpm === 1000000L * visited / (nQ * nCorpus),
            s"scanned at w=$w h=$h")
          val walkHits = walk.filter(col("rank") <= kk)
            .join(truth.filter(col("bfr") <= kk), Seq("query_id", "id"))
            .count()
          assert(hits === walkHits, s"hits at w=$w h=$h k=$kk")
        }
      } finally walk.unpersist()
    } finally edges.unpersist()
  }

  test("nswOperatingGrid build fires the same jobs for 1 beam width as for 2") {
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def build(ws: Seq[Int]) = jobsIn(Similarity.nswOperatingGrid(emb, None,
      queries, "embedding", "vec_id", ks = Seq(1, 5), nBits = 5, bands = 3,
      degree = 14, beamWidths = ws, hopsList = Seq(2, 3)))
    val one = build(Seq(4))
    assert(one > 0, "the walk's hop cuts run while building")
    assert(build(Seq(4, 16)) === one)
  }

  test("nswUpsertEdges: incremental insert EQUALS the batch rebuild (e43's contract)") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val upserted = Similarity.nswUpsertEdges(base, delta,
      "embedding", "vec_id", nBits = 5, bands = 3, degree = 14)
    val rebuilt = Similarity.nswGraph(emb, "embedding", "vec_id",
      nBits = 5, bands = 3, degree = 14)
    // the top-degree dominance argument, checked edge-for-edge: a base
    // candidate the base build dropped is dominated by `degree` kept
    // ones, so merge-and-recap reconstructs the batch list exactly
    assert(upserted.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(upserted).count() == 0,
      "upsert must reproduce the batch-built graph edge-for-edge")
  }

  test("e44 hierarchy: nested levels, honest audit, fewer hops than the flat walk") {
    import graft.functions.GraftFunctions.md5Long
    val ids = emb.select(col("vec_id").as("id"))
    def members(m: Long) = ids.filter(
      pmod(md5Long(col("id").cast("string"), 7), lit(m)) === 0L)
    // the HNSW assignment is NESTED: every top-level node is a member
    // of every finer level (the descent's seed always exists below)
    assert(members(16L).exceptAll(members(4L)).count() == 0)
    val n2 = members(16L).count(); val n1 = members(4L).count()
    assert(n2 > 0 && n1 > n2, s"levels must thin: |L2|=$n2 |L1|=$n1")
    val r = graft.queries.DataQueries.e44HnswSearch(
      spark, "/root/testdata/sf0.001").cache()
    try {
      // honest audit: hit == exact-top-10 membership, recomputed
      val truth = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") % 100 === 0), "embedding", "vec_id", 10)
        .select(col("query_id"), col("id"), lit(1L).as("t"))
      assert(r.join(truth, Seq("query_id", "id"), "left")
        .filter(col("hit") =!= coalesce(col("t"), lit(0L))).count() == 0)
      // the hierarchy's point: bounded state with a SHORTER bottom walk
      // (4 wide hops vs e40's 6) still lands useful recall
      assert(r.agg(max("visited")).head.getLong(0) <=
        1 + (2 * 2 * 6) + (2 * 2 * 8) + (4 * 16 * 14))
      val (hits, n) = (r.agg(sum("hit")).head.getLong(0), r.count())
      assert(hits * 10 >= n * 7,
        s"hierarchical recall@10 degraded: $hits/$n")
    } finally r.unpersist()
  }

  test("nswBeamSearch is partitioning-independent end to end") {
    val queries = emb.filter(col("vec_id") % 250 === 0) // 2 queries: cheap
    val a = Similarity.nswBeamSearch(emb, queries, "embedding", "vec_id",
      nBits = 5, bands = 3, degree = 14, beamWidth = 8, hops = 3, k = 5)
    val b = Similarity.nswBeamSearch(emb.repartition(11), queries.repartition(3),
      "embedding", "vec_id",
      nBits = 5, bands = 3, degree = 14, beamWidth = 8, hops = 3, k = 5)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }
}
