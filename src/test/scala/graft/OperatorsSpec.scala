package graft

import graft.expressions.VectorExpressions
import graft.operators.{Dedup, Similarity}
import graft.operators.Similarity.IvfFamily
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // The coarse-cell and PQ codebooks the IVF grid tests share, fitted
  // once on the sf0.001 corpus. Both fits are deterministic, so each
  // test gets the codebook it would have fitted itself.
  private lazy val emb001 =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val cellCb = graft.operators.KMeans.fit(emb001, "embedding",
    "vec_id", k = 8, dim = 64, iters = 3).centroids
  private lazy val pqCb = graft.operators.KMeans.fitPqCodebook(emb001,
    "embedding", "vec_id", m = 4, kCent = 16, dim = 64, iters = 3)
  // e31 and e37 at sf0.001, each built once: the plan budget reads
  // their plans, the choice tests collect them
  private lazy val e31At001 = graft.queries.DataQueries.e31FamilyChoice(
    spark, "/root/testdata/sf0.001")
  private lazy val e37At001 = graft.queries.DataQueries.e37FilteredFamily(
    spark, "/root/testdata/sf0.001")

  test("wordShingles: distinct 3-grams, short docs -> empty") {
    val got = Seq("a b c d a b c d", "a b", "").toDF("t")
      .select(Dedup.wordShingles($"t", 3)).collect().map(_.getSeq[String](0))
    assert(got(0).toSet == Set("a b c", "b c d", "c d a", "d a b"))
    assert(got(1).isEmpty && got(2).isEmpty)
  }

  test("exact dedup: copies collapse to keeper with count") {
    val docs = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val d = Dedup.exactDuplicates(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(d == Set((1L, 2L), (3L, 1L)),
      "case/whitespace-normalized copies share a fingerprint; keeper = min id")
    assert(Dedup.dropExactDuplicates(docs, "text", "doc_id").count() == 2)
  }

  test("minhashPairs: planted near-dup found, unrelated docs not paired") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val other = "completely different words here about spark catalyst optimizer internals"
    val docs = Seq((1L, near1), (2L, near2), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("minhashPairs is exact-dedup-first: keeper pairs carry copy-count weights") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val docs = Seq(
      (1L, near1), (2L, near1), (3L, "The  Quick brown fox jumps over " +
        "the lazy dog again and again today"), // 3 normalized copies of near1
      (4L, near2), (5L, near2),                // 2 copies of near2
      (6L, "completely different words here about spark catalyst internals")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // exact copies never pair (d01's findings); the single keeper pair
    // represents 3x2 underlying doc pairs
    assert(got.toSeq == Seq((1L, 4L, 6L)))
  }

  test("expandGroups: keeper components reach every copy; exact-copy-only groups kept") {
    val near1 = "the quick brown fox jumps over the lazy dog again and again today"
    val near2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    val docs = Seq(
      (1L, near1), (2L, near2), (3L, near1),  // near-dup component {1,2} + copy 3 of 1
      (4L, "an unrelated exact duplicate pair of documents right here"),
      (5L, "an unrelated exact duplicate pair of documents right here"),
      (6L, "short doc"),                       // <3 tokens: never shingles
      (7L, "short doc"),                       // its exact copy: no fabricated group
      (8L, "completely different words here about spark catalyst internals")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .select(col("id1"), col("id2"))
    val mem = Dedup.fingerprintMembership(docs, "text", "doc_id", n = 3)
    val got = Dedup.expandGroups(Dedup.connectedComponents(pairs), mem)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L),
      "copies join their keeper's component; unpaired exact-dup group {4,5} " +
        "self-groups; shingle-less copies {6,7} and singleton 8 stay out")
  }

  test("simhash: identical docs identical signature; near-dups small hamming") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zzz yyy xxx www vvv uuu")).toDF("doc_id", "text")
    val sigs = Dedup.simhash(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("cosine expression: parallel=1, orthogonal=0, zero vector -> null") {
    val df = Seq(
      (Array(1.0, 0.0), Array(2.0, 0.0)),
      (Array(1.0, 0.0), Array(0.0, 3.0)),
      (Array(1.0, 1.0), Array(0.0, 0.0))).toDF("a", "b")
    val got = df.select(VectorExpressions.cosine($"a", $"b")).collect()
    assert(math.abs(got(0).getDouble(0) - 1.0) < 1e-12)
    assert(got(1).getDouble(0) == 0.0)
    assert(got(2).isNullAt(0), "zero-norm pair yields null, not NaN/error")
  }

  test("bruteForceTopK: nearest neighbor ranked first, query excluded") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0),
      "embedding", "vec_id", k = 2).collect()
    assert(res.map(_.getLong(2)).toSeq == Seq(1L, 2L),
      "ranked by cosine desc; self excluded")
    assert(res.map(_.getLong(1)).toSeq == Seq(1L, 2L))
  }

  test("e24 curve: monotone in probe width, full-width probe recovers brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 100 === 0)
    // e24's projection of the k=5 sweep
    val rows = Similarity.ivfOperatingSweepExact(emb, queries, "embedding",
        "vec_id", ks = Seq(5), codebook = cellCb, nProbes = Seq(1, 2, 4, 8))
      .select("n_probe", "n_queries", "n_hits", "recall_ppm", "scanned_ppm")
      .orderBy("n_probe").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 8L))
    // n_queries constant across the sweep
    assert(rows.map(_.getLong(1)).distinct.length == 1)
    // recall and scanned fraction both monotone non-decreasing in width
    val rec = rows.map(_.getLong(3)); val scn = rows.map(_.getLong(4))
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b }, rec.toSeq)
    assert(scn.zip(scn.tail).forall { case (a, b) => a <= b }, scn.toSeq)
    // probing EVERY cell scans the whole corpus and recovers the exact
    // brute-force list: recall_ppm == 1e6, scanned_ppm == 1e6
    val full = rows.last
    assert(full.getLong(4) == 1000000L, s"8-of-8 cells scanned ${full.getLong(4)} ppm")
    assert(full.getLong(3) == 1000000L, s"8-of-8 cells recall ${full.getLong(3)} ppm")
    // recall_ppm is the exact integer 1e6 * hits div n_bf, where n_bf
    // is the brute-force rows actually available (== k * nq on this
    // corpus where every query has >= k non-degenerate neighbors)
    rows.foreach { r =>
      assert(r.getLong(3) == 1000000L * r.getLong(2) / (5L * r.getLong(1)))
    }
  }

  test("intCosKey: matches an exact BigDecimal reference, signs and nulls") {
    import graft.expressions.VectorExpressions
    val vecs = Seq(
      (0L, Array(0.31f, -0.22f, 0.094f, 0.0f)),
      (1L, Array(-0.31f, 0.22f, -0.094f, 0.0f)), // antipode -> negative key
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),       // degenerate -> null
      (3L, Array(0.001f, 0.5f, -0.25f, 0.125f)),
      (4L, Array(0.31f, -0.22f, 0.094f, 1e-9f))) // ~parallel to 0
      .toDF("id", "v")
    val q = Seq((100L, Array(0.29f, -0.2f, 0.11f, 0.04f))).toDF("qid", "qv")
    val got = vecs.crossJoin(q)
      .select($"id", VectorExpressions.intCosKey($"v", $"qv").as("k"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    // reference: quantize exactly via BigDecimal, key = sign*isqrt((1e6*|dot|)^2 / (na*nb))
    def ref(a: Array[Float], b: Array[Float]): Option[Long] = {
      def qz(x: Float): Long = math.floor(x.toDouble * 100000L + 0.5).toLong
      val (qa, qb) = (a.map(qz), b.map(qz))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      val na = qa.map(x => x * x).sum; val nb = qb.map(x => x * x).sum
      if (na == 0L || nb == 0L) None else {
        val h = java.math.BigInteger.valueOf(1000000L * math.abs(dot))
        val z = h.multiply(h).divide(java.math.BigInteger.valueOf(na)
          .multiply(java.math.BigInteger.valueOf(nb)))
        val s = z.sqrt().longValueExact()
        Some(if (dot >= 0) s else -s)
      }
    }
    val qv = Array(0.29f, -0.2f, 0.11f, 0.04f)
    val vs = Map(0L -> Array(0.31f, -0.22f, 0.094f, 0.0f),
      1L -> Array(-0.31f, 0.22f, -0.094f, 0.0f),
      2L -> Array(0.0f, 0.0f, 0.0f, 0.0f),
      3L -> Array(0.001f, 0.5f, -0.25f, 0.125f),
      4L -> Array(0.31f, -0.22f, 0.094f, 1e-9f))
    vs.foreach { case (id, v) =>
      assert(got(id) == ref(v, qv), s"id=$id: ${got(id)} vs ${ref(v, qv)}")
    }
    assert(got(1L).exists(_ < 0L), "antipodal key must be negative")
    assert(got(2L).isEmpty, "degenerate vector must key to NULL")
    // |key| <= 1e6 always (floor of 1e6*|cos|)
    got.values.flatten.foreach(k => assert(math.abs(k) <= 1000000L))
  }

  test("e24 curve: each width's prefix re-rank equals an independent search") {
    // the sweep's efficiency trick (one candidate scan at max width,
    // re-rank per prefix) must be RESULT-identical to running
    // ivfTopK separately at each width. The independent search
    // and its brute-force truth rank on round-6 float cosines while the
    // sweep ranks on the exact-integer key; the shipped corpus has no
    // cosine tie at 1e-6 between rank-k and rank-k+1 candidates, so the
    // two orderings must agree here.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 100 === 0)
    val sweep = Similarity.ivfOperatingSweepExact(emb, queries, "embedding",
        "vec_id", ks = Seq(5), codebook = cellCb, nProbes = Seq(1, 2, 4))
      .orderBy("n_probe").collect()
    val bf = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", 5)
      .select($"query_id", $"id")
    Seq(1, 2, 4).zipWithIndex.foreach { case (np, i) =>
      val ivf = Similarity.ivfTopK(emb, queries, "embedding", "vec_id",
        k = 5, codebook = cellCb, nProbe = np).select($"query_id", $"id")
      val hits = bf.join(ivf, Seq("query_id", "id"), "left_semi").count()
      assert(sweep(i).getLong(3) == hits,
        s"nProbe=$np: sweep hits ${sweep(i).getLong(3)} != independent $hits")
    }
  }

  test("ivfOperatingSweepExact: every grid cell equals the independent single-point sweep; axes behave") {
    // the k axis must be FREE but exact: each (nProbe, k) row of the
    // 2-D grid — computed from ONE window pass and ONE conditional
    // aggregate for the whole grid — must equal the sweep run alone at
    // that (k, nProbe) point, and the surface must be monotone in
    // nProbe at fixed k (wider probes never lose hits)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 100 === 0)
    def cells(ks: Seq[Int], nProbes: Seq[Int]) =
      Similarity.ivfOperatingSweepExact(emb, queries, "embedding", "vec_id",
          ks = ks, codebook = cellCb, nProbes = nProbes)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val grid = cells(Seq(1, 5, 10), Seq(1, 2, 4))
    assert(grid.size == 9)
    for (np <- Seq(1, 2, 4); kk <- Seq(1, 5, 10)) {
      val pt = cells(Seq(kk), Seq(np))
      val cell @ (hits, nbf, rec, _) = grid((np.toLong, kk.toLong))
      assert(pt.size == 1 && cell == pt((np.toLong, kk.toLong)),
        s"(np=$np,k=$kk): grid $cell != independent ${pt.values.head}")
      assert(nbf > 0 && rec == 1000000L * hits / nbf)
    }
    // monotone in probe width at fixed depth
    Seq(1L, 5L, 10L).foreach { kk =>
      val h = Seq(1L, 2L, 4L).map(np => grid((np, kk))._1)
      assert(h.zip(h.tail).forall { case (a, b) => a <= b }, s"k=$kk: $h")
    }
  }

  test("ivfPqOperatingGrid3d: every k-matching cell equals the e26 2-D point; k axis consistent with its own baselines (r15)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 100 === 0)
    def grid(ks: Seq[Int]) = Similarity.ivfOperatingGrid(emb, None, queries,
        "embedding", "vec_id", ks = ks, cellCodebook = cellCb,
        families = Seq(IvfFamily.Pq(4, pqCb)), rs = Seq(5, 10),
        nProbes = Seq(1, 2))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val g3 = grid(Seq(1, 5))
    assert(g3.size == 8)
    // the k axis is free: at k=5 every (np, r) cell equals the e26
    // 2-D point (the single-k grid e26 slices), all four columns
    val g2 = grid(Seq(5))
    assert(g2.size == 4)
    for (np <- Seq(1L, 2L); r <- Seq(5L, 10L))
      assert(g3((np, r, 5L)) == g2((np, r, 5L)),
        s"(np=$np,r=$r,k=5): 3-D ${g3((np, r, 5L))} != 2-D ${g2((np, r, 5L))}")
    // every k=5 cell's hits equal the serving path composed from
    // already-gated operators: ivfPqTopK at k=r IS the ADC
    // shortlist; exact-key rerank of those ids to top-5, scored
    // against the exact-key brute force
    val bf = Similarity.bruteForceTopKExact(emb, queries, "embedding",
      "vec_id", 5).select($"query_id", $"id")
    val vecs = emb.select($"vec_id".as("id"),
      graft.functions.GraftFunctions.toDoubleArray($"embedding").as("v"))
    val qv = queries.select($"vec_id".as("query_id"),
      graft.functions.GraftFunctions.toDoubleArray($"embedding").as("qv"))
    for (np <- Seq(1, 2); r <- Seq(5, 10)) {
      val shortlist = Similarity.ivfPqTopK(emb, queries,
        "embedding", "vec_id", k = r, cellCodebook = cellCb, nProbe = np,
        m = 4, pqCodebook = pqCb).select($"query_id", $"id")
      val reranked = shortlist.join(vecs, Seq("id")).join(qv, Seq("query_id"))
        .withColumn("key", graft.expressions.VectorExpressions
          .intCosKey($"v", $"qv"))
        .filter($"key".isNotNull)
        .withColumn("frank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy($"key".desc, $"id".asc)))
        .filter($"frank" <= 5)
        .select($"query_id", $"id")
      val hits = bf.join(reranked, Seq("query_id", "id"), "left_semi").count()
      assert(g2((np.toLong, r.toLong, 5L))._1 == hits,
        s"(np=$np,r=$r): grid ${g2((np.toLong, r.toLong, 5L))._1} != composed $hits")
    }
    // per-depth denominators and ppm arithmetic exact
    g3.foreach { case ((np, r, kk), (h, nbf, rec, _)) =>
      assert(nbf > 0 && rec == 1000000L * h / nbf, s"($np,$r,$kk)")
      assert(h <= nbf)
    }
    // monotone axes: deeper shortlist (exact rerank over a superset)
    // and deeper k (both cutoff sets grow). The PROBE axis is NOT
    // monotone at fixed r — more probes dilute a fixed-depth ADC
    // shortlist and can push true neighbors out (the e26 finding the
    // grid exists to expose) — so no probe-axis assertion.
    for (np <- Seq(1L, 2L); kk <- Seq(1L, 5L))
      assert(g3((np, 5L, kk))._1 <= g3((np, 10L, kk))._1)
    for (np <- Seq(1L, 2L); r <- Seq(5L, 10L))
      assert(g3((np, r, 1L))._1 <= g3((np, r, 5L))._1)
  }

  test("lshBandingSweep: nested candidates along the divisor chain, exact bounds, formula integers") {
    val docs = graft.catalog.Catalog(spark, "/root/testdata/sf0.001").documents
    val rows = Dedup.lshBandingSweep(docs, "text", "doc_id",
        n = 3, k = 16, bandsList = Seq(1, 2, 4, 8), tauNum = 1, tauDen = 5)
      .orderBy("n_bands").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    rows.foreach { case (b, r, _, _, _, _, _) => assert(b * r == 16L) }
    // 1|2|4|8 is a divisor chain: a coarse band is a concatenation of
    // finer ones, so equality at b implies equality at every b' it
    // divides - candidate sets NEST and counts/hits are monotone
    val cands = rows.map(_._3); val hits = rows.map(_._5)
    assert(cands.zip(cands.tail).forall { case (a, c) => a <= c }, cands.toSeq)
    assert(hits.zip(hits.tail).forall { case (a, c) => a <= c }, hits.toSeq)
    // n_true constant; hits bounded by both sides; ppm formulas exact
    assert(rows.map(_._4).distinct.length == 1)
    rows.foreach { case (_, _, nc, nt, nh, rec, prec) =>
      assert(nh <= math.min(nc, nt))
      assert(rec == 1000000L * nh / math.max(1L, nt))
      assert(prec == 1000000L * nh / math.max(1L, nc))
    }
    assert(rows.map(_._4).head > 0L, "ground truth must be non-empty at sf0.001")
    // r=1 refused (single-min buckets go quadratic on common shingles)
    intercept[IllegalArgumentException] {
      Dedup.lshBandingSweep(docs, "text", "doc_id", 3, 16, Seq(16), 1, 5)
    }
    // the deployment form: a deterministic half-sample sweeps a strict
    // subset (same md5 coin on any engine/partitioning), counts bounded
    // by the full sweep's
    val sampled = Dedup.lshBandingSweep(docs, "text", "doc_id",
        n = 3, k = 16, bandsList = Seq(4), tauNum = 1, tauDen = 5,
        samplePpm = 500000L)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).head
    val full4 = rows.find(_._1 == 4L).get
    assert(sampled._1 <= full4._3 && sampled._2 <= full4._4 &&
      sampled._3 <= full4._5,
      s"sampled counts $sampled must bound by full (${full4._3}, ${full4._4}, ${full4._5})")
    val sampled2 = Dedup.lshBandingSweep(docs, "text", "doc_id",
        n = 3, k = 16, bandsList = Seq(4), tauNum = 1, tauDen = 5,
        samplePpm = 500000L)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).head
    assert(sampled == sampled2, "the md5 sample is deterministic")
  }

  test("embedding near-dup: threshold filters, id1 < id2") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.999f, 0.04f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
  }

  test("connectedComponents: chain + triangle + isolated pair label to min id") {
    // components: {1,2,3,4} (a 4-chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: empty pair input yields empty labels, no NPE") {
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.connectedComponents(pairs).count() == 0)
  }

  test("connectedComponentsDelta: folding new pairs == full rebuild") {
    // old graph: a 3-chain and an isolated pair
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(oldPairs)
    // batch: an edge MERGING the two old components, a brand-new
    // component, and an out-of-order edge attaching a SMALLER id (0)
    // to an existing component — the delta must re-label to the new min
    val newPairs = Seq((3L, 10L), (20L, 21L), (0L, 11L)).toDF("id1", "id2")
    def rel(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val delta = rel(Dedup.connectedComponentsDelta(labels, newPairs))
    val full = rel(Dedup.connectedComponents(
      oldPairs.unionByName(newPairs)))
    assert(delta == full, s"delta $delta != full rebuild $full")
    // everything merged into one 0-rooted component plus the new pair
    assert(delta == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 0L, 11L -> 0L, 20L -> 20L, 21L -> 20L))
  }

  test("simhash: token-less docs dropped (parity with exploded formulation)") {
    val docs = Seq((1L, "real text here"), (2L, "   "), (3L, "")).toDF("id", "text")
    val got = Dedup.simhash(docs, "text", "id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L))
    // and two empty docs must NOT pair at hamming 0
    val pairs = Dedup.simhashPairs(
      Seq((1L, " "), (2L, ""), (3L, "x")).toDF("id", "text"), "text", "id")
    assert(pairs.count() == 0)
  }

  test("sketch expressions honor nullable on empty input (coalesce works)") {
    graft.GraftExtensions.register(spark)
    Seq("a b").toDF("t").createOrReplaceTempView("short_docs")
    val r = spark.sql(
      """SELECT coalesce(graft_md5_min(graft_word_shingles(t, 3)), -1) AS m,
        |       graft_md5_min(graft_word_shingles(t, 3)) IS NULL AS isnull
        |FROM short_docs""".stripMargin).head
    assert(r.getLong(0) == -1L && r.getBoolean(1))
  }

  test("md5Min/minhashSig: null array elements skipped, all-null yields null") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_md5_min(array('a', CAST(NULL AS STRING))) AS m,
        |       graft_md5_min(array(CAST(NULL AS STRING))) AS mn,
        |       graft_minhash_sig(array('a', CAST(NULL AS STRING)), 2) AS s,
        |       graft_minhash_sig(array(CAST(NULL AS STRING)), 2) AS sn""".stripMargin).head
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(r.getLong(0) ==
      graft.expressions.HashExpressions.md5Long60(md, "a".getBytes("UTF-8")))
    assert(r.isNullAt(1) && !r.isNullAt(2) && r.isNullAt(3))
  }

  test("SQL graft_simhash lowercases internally: matches DataFrame path on mixed case") {
    graft.GraftExtensions.register(spark)
    Seq("Mixed CASE Text here").toDF("t").createOrReplaceTempView("mc_docs")
    val sqlH = spark.sql("SELECT graft_simhash(t, 48) FROM mc_docs").head.getLong(0)
    val dfH = Dedup.simhash(
      Seq((1L, "Mixed CASE Text here")).toDF("id", "text"), "text", "id")
      .head.getLong(1)
    assert(sqlH == dfH)
  }

  test("connectedComponents: long chain needs multiple propagation rounds") {
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 13 && got.forall(_._2 == 0L))
  }

  test("connectedComponents: 1000-node chain converges within maxIter (pointer doubling)") {
    // plain min-propagation would need ~1000 rounds; shortcutting must
    // close the chain in O(log n) — well inside the default maxIter=30
    val pairs = (0L until 1000L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 1001 && got.forall(_._2 == 0L))
  }

  test("ivfTopK: results come from probed cells only and rank correctly") {
    val vecs = (0 until 40).map { i =>
      val angle = i * math.Pi / 40.0
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val res = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 20),
      "embedding", "vec_id", k = 3, codebook = Similarity.codebookOf(vecs,
        "embedding", "vec_id", Seq(0L, 10L, 20L, 30L)), nProbe = 2)
    val ids = res.collect().map(_.getLong(2)).toSeq
    assert(ids.length == 3)
    assert(ids.forall(i => math.abs(i - 20) <= 12), s"neighbors near query: $ids")
  }

  test("codebookOf: named rows in id order, once each; a missing or zero-norm id fails loudly") {
    val vecs = Seq(
      (3L, Array(0f, 1f)), (1L, Array(1f, 0f)),
      (2L, Array(0f, 0f)), // zero-norm: never a centroid
      (5L, Array(1f, 1f))).toDF("vec_id", "embedding")
    def codebook(ids: Seq[Long]) =
      Similarity.codebookOf(vecs, "embedding", "vec_id", ids)
    // out of order and duplicated in, distinct rows in id order out
    assert(codebook(Seq(5L, 1L, 5L, 3L)) ==
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0)))
    def failure(ids: Seq[Long]) =
      intercept[IllegalArgumentException](codebook(ids)).getMessage
    val missing = failure(Seq(1L, 4L, 1L))
    assert(missing.contains("codebook resolved 1 of 2 centroid ids"), missing)
    val degenerate = failure(Seq(3L, 2L, 1L))
    assert(degenerate.contains("codebook resolved 2 of 3 centroid ids"),
      degenerate)
  }

  test("pqEncode: centroids self-encode at zero error; codes pick the nearest sub-codebook row") {
    // dim 4, m 2 -> subvectors of 2. Centroids 0/1 are axis-aligned.
    val vecs = Seq(
      (0L, Array(1f, 0f, 1f, 0f)),   // centroid 0
      (1L, Array(0f, 1f, 0f, 1f)),   // centroid 1
      (2L, Array(0.9f, 0.1f, 0.1f, 0.9f)), // sub0 near c0, sub1 near c1
      (3L, Array(0f, 1f, 1f, 0f))    // sub0 = c1's, sub1 = c0's
    ).toDF("vec_id", "embedding")
    val cb = Similarity.codebookOf(vecs, "embedding", "vec_id", Seq(0L, 1L))
    val out = Similarity.pqEncode(vecs, "embedding", "vec_id", m = 2, cb)
      .orderBy("id").collect()
    def codes(r: org.apache.spark.sql.Row) = r.getSeq[Long](1).toSeq
    assert(codes(out(0)) == Seq(0L, 0L) && out(0).getDouble(2) == 0.0)
    assert(codes(out(1)) == Seq(1L, 1L) && out(1).getDouble(2) == 0.0)
    assert(codes(out(2)) == Seq(0L, 1L))
    assert(out(2).getDouble(2) > 0.0, "off-centroid vector has reconstruction error")
    assert(codes(out(3)) == Seq(1L, 0L))
    // map-only: no Exchange in the encode plan
    val plan = Similarity.pqEncode(vecs, "embedding", "vec_id", m = 2, cb)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("pqAdcTopK: table-lookup distances rank codebook-identical vectors first") {
    // corpus on a circle; centroids at 4 compass points. ADC distance of
    // a query to a vector sharing its codes must be the MINIMUM (both
    // quantize to the same cells -> identical lookups).
    val vecs = (0 until 40).map { i =>
      val angle = i * 2 * math.Pi / 40.0
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat,
        math.cos(angle + 1).toFloat, math.sin(angle + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val res = Similarity.pqAdcTopK(vecs, vecs.filter($"vec_id" === 7),
      "embedding", "vec_id", k = 5, m = 2, codebook = Similarity.codebookOf(
        vecs, "embedding", "vec_id", Seq(0L, 10L, 20L, 30L)))
      .collect()
    assert(res.length == 5)
    assert(res.map(_.getLong(1)).toSeq == (1L to 5L), "ranks dense from 1")
    // neighbors on the circle quantize like the query; far points do not
    val ids = res.map(_.getLong(2)).toSeq
    assert(ids.forall(i => math.abs((i - 7 + 20) % 40 - 20) <= 10),
      s"ADC neighbors should come from the query's quadrant-ish: $ids")
    // scores are non-decreasing with rank
    val scores = res.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
    assert(scores == scores.sorted)
  }

  test("pqRerankTopK: with shortlist = corpus size the rerank equals exact brute force") {
    val vecs = (0 until 30).map { i =>
      val angle = i * 2 * math.Pi / 30.0
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat,
        math.cos(angle * 2).toFloat, math.sin(angle * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 3)
    val rer = Similarity.pqRerankTopK(vecs, q, "embedding", "vec_id",
        k = 5, shortlist = 29, m = 2, codebook = Similarity.codebookOf(
          vecs, "embedding", "vec_id", Seq(0L, 8L, 15L, 23L)))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    val bf = Similarity.bruteForceTopK(vecs, q, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(rer.toSeq == bf.toSeq,
      s"full-shortlist rerank must equal exact search:\n$rer\nvs\n$bf")
  }

  test("truncatedRerankTopK: full-corpus shortlist equals exact brute force") {
    val vecs = (0 until 30).map { i =>
      val angle = i * 2 * math.Pi / 30.0
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat,
        math.cos(angle * 2).toFloat, math.sin(angle * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 3)
    val tr = Similarity.truncatedRerankTopK(vecs, q, "embedding", "vec_id",
        k = 5, dPrime = 2, shortlist = 29)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    val bf = Similarity.bruteForceTopK(vecs, q, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(tr.toSeq == bf.toSeq,
      s"full-shortlist truncated rerank must equal exact search:\n${tr.toSeq}\nvs\n${bf.toSeq}")
  }

  test("truncatedRerankTopK: shortlist is by PREFIX score; degenerate prefix excluded") {
    // prefix (first 2 dims) of ids 1 and 2 vs query (1,0,...):
    //   id 1: prefix (0.9, 0.1) — high coarse score, tail far from query
    //   id 2: prefix (0.1, 0.9) — low coarse score, tail identical to query
    // With shortlist=1 only id 1 survives the coarse stage, even though
    // id 2's FULL cosine is higher — the approximation contract.
    // id 3 has a zero prefix (defined full cosine, undefined coarse) and
    // must be excluded by the degenerate-prefix filter, not ranked.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, -1.0f, 0.5f)),
      (2L, Array(0.1f, 0.9f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
    val narrow = Similarity.truncatedRerankTopK(vecs, q, "embedding", "vec_id",
        k = 1, dPrime = 2, shortlist = 1).collect()
    assert(narrow.map(_.getLong(2)).toSeq == Seq(1L),
      "shortlist=1 must keep the best PREFIX match")
    val wide = Similarity.truncatedRerankTopK(vecs, q, "embedding", "vec_id",
        k = 3, dPrime = 2, shortlist = 3).collect()
    assert(wide.map(_.getLong(2)).toSeq == Seq(2L, 1L),
      "full-dim rerank reorders; zero-prefix id 3 is excluded by contract")
  }

  test("pqRerankTopK: rerank orders the shortlist by TRUE cosine, not ADC distance") {
    val vecs = (0 until 40).map { i =>
      val angle = i * 2 * math.Pi / 40.0
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat,
        math.cos(angle + 1).toFloat, math.sin(angle + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val res = Similarity.pqRerankTopK(vecs, vecs.filter($"vec_id" === 7),
        "embedding", "vec_id", k = 5, shortlist = 15, m = 2,
        codebook = Similarity.codebookOf(vecs, "embedding", "vec_id",
          Seq(0L, 10L, 20L, 30L)))
      .collect()
    assert(res.length == 5)
    assert(res.map(_.getLong(1)).toSeq.sorted == (1L to 5L))
    val byRank = res.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
    assert(byRank == byRank.sorted.reverse, "cosine non-increasing with rank")
  }

  test("cellAssignments: map-only plan, identical to the window-formulation reference") {
    val vecs = (0 until 120).map { i =>
      val angle = i * 2 * math.Pi / 120.0
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat,
        math.cos(angle * 3).toFloat, math.sin(angle * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Seq(0L, 30L, 60L, 90L)
    val got = Similarity.cellAssignments(vecs, "embedding", "vec_id",
      Similarity.codebookOf(vecs, "embedding", "vec_id", cents))
    // zero Exchange: assignment must stay inside the scan stage
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must be map-only:\n$plan")
    // reference: the cross-join + row_number window formulation
    import graft.functions.GraftFunctions.toDoubleArray
    val c = vecs.select(col("vec_id").as("id"),
      toDoubleArray(col("embedding")).as("v"))
    val cc = c.filter(col("id").isInCollection(cents))
      .select(col("id").as("cell"), col("v").as("cv"))
    val ref = c.crossJoin(broadcast(cc))
      .withColumn("d", round(
        graft.expressions.VectorExpressions.cosine(col("v"), col("cv")), 6))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(col("d").desc, col("cell").asc)))
      .filter(col("rn") === 1)
      .select(col("id"), col("cell"))
    // cells are codebook indices 0..k-1, in centroid-id order
    val gotM = got.collect().map(r => r.getLong(0) -> cents(r.getLong(2).toInt)).toMap
    val refM = ref.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotM == refM, "compiled argmax must equal the window formulation")
  }

  test("ivfPqTopK: all probes == plain ADC; one probe stays in the query's cell") {
    def ring(i: Int) = {
      val angle = i * 2 * math.Pi / 40.0
      Array(math.cos(angle).toFloat, math.sin(angle).toFloat,
        math.cos(angle + 1).toFloat, math.sin(angle + 1).toFloat)
    }
    val vecs = (0 until 40).map(i => (i.toLong, ring(i)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 7)
    val cells = Seq(0L, 10L, 20L, 30L)
    // the coarse codebook: the four cell rows, in the corpus's doubles
    val cellCodebook = cells.map(c => ring(c.toInt).toSeq.map(_.toDouble))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
    // nProbe = all cells -> candidate set = whole corpus = pqAdcTopK
    val pqCodebook = Similarity.codebookOf(vecs, "embedding", "vec_id", cells)
    val full = rows(Similarity.ivfPqTopK(vecs, q, "embedding",
      "vec_id", k = 5, cellCodebook = cellCodebook, nProbe = 4, m = 2,
      pqCodebook = pqCodebook))
    val adc = rows(Similarity.pqAdcTopK(vecs, q, "embedding", "vec_id",
      k = 5, m = 2, codebook = pqCodebook))
    assert(full == adc, "all-probe IVF-PQ must equal plain ADC")
    // nProbe = 1 -> results confined to the query's own cell
    val one = Similarity.ivfPqTopK(vecs, q, "embedding", "vec_id",
      k = 5, cellCodebook = cellCodebook, nProbe = 1, m = 2,
      pqCodebook = pqCodebook)
      .collect().map(_.getLong(2)).toSet
    val asg = Similarity.cellAssignments(vecs, "embedding", "vec_id",
        cellCodebook)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val qCell = asg(7L)
    assert(one.forall(id => asg(id) == qCell),
      s"nProbe=1 results must come from the query's cell: $one")
  }

  test("semanticDedup: drops only within-cluster near-dups, keeper is lowest id") {
    // two tight clusters around orthogonal axes + one lone outlier;
    // ids 0 and 10 are the centroids
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i == 3) eps else 0f) }
    val a = Array(1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f)
    val rows = Seq(
      0L -> a, 1L -> jitter(a, 0.05f), 2L -> jitter(a, 0.1f),
      10L -> b, 11L -> jitter(b, 0.07f),
      20L -> Array(0f, 0f, 1f, 0f)) // alone in whichever cell it lands
    val vecs = rows.toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "embedding", "vec_id",
        codebook = Similarity.codebookOf(vecs, "embedding", "vec_id",
          Seq(0L, 10L)), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // cluster A: 1 and 2 drop with keeper 0; cluster B: 11 drops with
    // keeper 10; the outlier survives (no over-threshold cluster-mate)
    assert(out.toSeq == Seq((1L, 0L), (2L, 0L), (11L, 10L)), out.toSeq.toString)
  }

  test("semanticDedupDelta == global run under state-before-batch id remap; state never drops") {
    // ring corpus under a frozen 4-cell codebook; batch = every 3rd id.
    // Batch and state ids INTERLEAVE — exactly the shape where the old
    // `id1 < id2` rule was wrong (ADVICE r12): the delta's keeper rule
    // is (state-first, id asc), which equals the global rule applied
    // after remapping ids so every state id precedes every batch id.
    val codebook = Seq(
      Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(0.0, -1.0))
    val vecs = (0 until 90).map { i =>
      val angle = (i % 18) * 2 * math.Pi / 18.0
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val base = vecs.filter(pmod(col("vec_id"), lit(3L)) =!= 0)
    val batch = vecs.filter(pmod(col("vec_id"), lit(3L)) === 0)
    val state = graft.operators.Similarity.cellAssignments(
      base, "embedding", "vec_id", codebook)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    val delta = canon(Dedup.semanticDedupDelta(batch, state,
      "embedding", "vec_id", codebook, threshold = 0.9))
    // global equivalence under the order-embedding remap: state keeps
    // its ids, batch ids shift past every state id — the (state-first,
    // id asc) priority becomes plain id order, so the global
    // smaller-id rule restricted to batch-side drops must be identical
    val off = 1000L
    val remapped = vecs.withColumn("vec_id",
      when(pmod(col("vec_id"), lit(3L)) === 0, col("vec_id") + off)
        .otherwise(col("vec_id")))
    val global = canon(Dedup.semanticDedup(remapped, "embedding",
        "vec_id", codebook, threshold = 0.9)
      .filter(col("drop_id") >= off)
      .withColumn("drop_id", col("drop_id") - off)
      .withColumn("keeper_id", when(col("keeper_id") >= off,
        col("keeper_id") - off).otherwise(col("keeper_id"))))
    assert(delta === global)
    assert(delta.nonEmpty, "fixture must produce drops")
    // state ids never appear as drops
    val batchIds = batch.select("vec_id").as[Long].collect().toSet
    assert(delta.forall { case (drop, _, _, _) => batchIds.contains(drop) })
  }

  test("semanticDedupDelta: a larger-id state neighbor still keeps; re-sent ids never self-drop") {
    // the ADVICE r12 counterexample: the batch vector's ONLY state
    // near-duplicate has a LARGER id — under the old rule it silently
    // survived; it must drop with the state vector as keeper
    val codebook = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val state = graft.operators.Similarity.cellAssignments(
      Seq((5L, Array(1f, 0f)), (9L, Array(0f, 1f)))
        .toDF("vec_id", "embedding"),
      "embedding", "vec_id", codebook)
    val batch = Seq(
      (2L, Array(1f, 0f)), // only neighbor is state id 5 > 2 -> must drop
      (9L, Array(0f, 1f))  // re-sent id: only same-id neighbor -> survives
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedupDelta(batch, state, "embedding", "vec_id",
        codebook, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(out === Seq((2L, 5L)), out.toString)
  }

  test("rrfFuse: both-list ids outrank single-list peers; exact integer units; absence is NULL") {
    // sparse list: docs 1,2,3 at ranks 1,2,3; dense: docs 3,4 at 1,2.
    // doc 3 (rank 3 + rank 1) must fuse above doc 1 (rank 1 only):
    // floor(1e9/63)+floor(1e9/61) > floor(1e9/61).
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val b = Seq((3L, 1L), (4L, 2L)).toDF("doc_id", "rank")
    val out = graft.operators.Similarity
      .rrfFuse(a, b, "doc_id", "rank", kk = 60)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._5).toSeq
    def c(r: Long) = 1000000000L / (60L + r)
    assert(out === Seq(
      (3L, 3L, 1L, c(3) + c(1), 1L), // in both lists -> top
      (1L, 1L, -1L, c(1), 2L),       // sparse only, best rank
      (2L, 2L, -1L, c(2), 3L),       // rrf_u tie with doc 4 -> id asc
      (4L, -1L, 2L, c(2), 4L)),
      out.toString)
  }

  test("rrfFuse: a 0-based rank list fails loud; kk < 1 is rejected") {
    val a = Seq((1L, 0L), (2L, 1L)).toDF("doc_id", "rank")
    val b = Seq((1L, 1L)).toDF("doc_id", "rank")
    val ex = intercept[Exception] {
      graft.operators.Similarity.rrfFuse(a, b, "doc_id", "rank").collect()
    }
    assert(ex.getMessage.contains("1-based") ||
      Option(ex.getCause).exists(_.getMessage.contains("1-based")),
      ex.toString)
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.rrfFuse(b, b, "doc_id", "rank", kk = 0)
    }
  }

  test("d22 quality keeper: keepers are argmax-(quality, n_chars, -id) of their cluster; singletons keep themselves") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.DataQueries.d22QualityKeeper(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.nonEmpty)
    val prof = graft.operators.TextAnalysis.profile(
        graft.catalog.Catalog(spark, dir).documents, "text", "doc_id")
      .select(col("doc_id"), col("quality"), col("n_chars"))
      .as[(Long, Double, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // a keeper is always itself kept, members never are
    out.foreach { case (id, k, kept) =>
      assert((kept == 1L) == (id == k), s"doc $id keeper $k is_kept $kept") }
    // within each multi-doc cluster the keeper maximizes the policy key
    out.groupBy(_._2).filter(_._2.size > 1).foreach { case (k, members) =>
      val key = (id: Long) =>
        (prof(id)._1, prof(id)._2.toDouble, -id.toDouble)
      val best = members.map(_._1).maxBy(key)
      assert(best == k, s"cluster of $k: argmax is $best") }
    // some clusters exist and some docs survive on the real corpus
    assert(out.exists(_._3 == 0L) && out.count(_._3 == 1L) > 1)
  }

  test("semanticDedup: result is invariant to input partitioning") {
    val vecs = (0 until 60).map { i =>
      val angle = (i % 12) * 2 * math.Pi / 12.0
      (i.toLong, Array(math.cos(angle).toFloat, math.sin(angle).toFloat,
        (i / 12).toFloat * 0.01f, 1f))
    }.toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.semanticDedup(df, "embedding", "vec_id",
          codebook = Similarity.codebookOf(vecs, "embedding", "vec_id",
            Seq(0L, 3L, 6L, 9L)), threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1).toSeq
    assert(run(vecs) == run(vecs.repartition(7)))
  }

  test("bm25: tf monotone at equal length, rarer terms weigh more, partition-invariant") {
    import spark.implicits._
    // vocab: filler 'x' dominates (ranks 1); query terms at ranks 2-3
    // are 'common' (in many docs) and 'rare' (in few)
    val docs = (
      Seq(
        (1L, "common x x x x x x"),        // tf(common)=1
        (2L, "common common x x x x x"),   // tf(common)=2, same dl
        (3L, "rare x x x x x x"),          // tf(rare)=1, same dl
        (4L, "common rare x x x x x")
      ) ++ (5L to 20L).map(i => (i, "common x x x x x x"))
    ).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.bm25TopK(df, "text", "doc_id",
          termRankStart = 2, nTerms = 2, k = 20)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s = run(docs)
    assert(s(2L) > s(1L), "higher tf at equal doc length must score higher")
    assert(s(3L) > s(1L), "the rarer term must outweigh the common one")
    assert(s(4L) > s(3L), "matching both terms beats matching one")
    assert(s == run(docs.repartition(7)), "partitioning must not move a score")
  }

  test("d35 banding choice: cheapest CI-meeting config per target; honest flag when nothing meets") {
    // re-derive the choice's own contract from the measured relation
    // it selects over (the d32 sweep on the real sf0.001 corpus)
    val d32 = graft.queries.DataQueries.d32SweepCi(spark,
      "/root/testdata/sf0.001").collect()
      .map(r => (r.getAs[Long]("n_bands"), r.getAs[Long]("recall_lo_ppm")))
    val chosen = graft.queries.DataQueries.d35BandingChoice(spark,
      "/root/testdata/sf0.001").collect()
    assert(chosen.length === 3, "one row per target")
    chosen.foreach { r =>
      val (target, bands, lo, meets) = (r.getAs[Long]("target_ppm"),
        r.getAs[Long]("n_bands"), r.getAs[Long]("recall_lo_ppm"),
        r.getAs[Long]("meets_target"))
      if (meets == 1L) {
        assert(lo >= target, "a meets row must actually meet")
        // CHEAPEST: no fewer-bands config also meets
        assert(!d32.exists { case (b, l) => b < bands && l >= target },
          s"a cheaper config meets target $target")
      } else {
        // honest flag: NOTHING meets, and the row is the best available
        assert(!d32.exists(_._2 >= target),
          s"meets_target=0 but some config meets $target")
        assert(lo === d32.map(_._2).max, "best-available recall_lo")
      }
    }
  }

  test("e28 operating choice: per (k, target) the lexicographically cheapest meeting cell") {
    // re-derive the choice from the grid relation it selects over
    val grid = graft.queries.DataQueries.e27Grid3d(spark,
      "/root/testdata/sf0.001").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_probe"),
        r.getAs[Long]("r_shortlist"), r.getAs[Long]("recall_ppm"),
        r.getAs[Long]("scanned_ppm")))
    val chosen = graft.queries.DataQueries.e28OperatingChoice(spark,
      "/root/testdata/sf0.001").collect()
    assert(chosen.length === 6, "one row per (k, target)")
    chosen.foreach { c =>
      val (k, target) =
        (c.getAs[Long]("k"), c.getAs[Long]("target_ppm"))
      val cells = grid.filter(_._1 == k)
      val meeting = cells.filter(_._4 >= target)
      val expect =
        if (meeting.nonEmpty)
          meeting.minBy { case (_, np, r, _, sc) => (sc, r, np) }
        else cells.minBy { case (_, np, r, rec, sc) =>
          (1000000L - rec, sc, r, np) }
      assert((c.getAs[Long]("n_probe"), c.getAs[Long]("r_shortlist")) ===
        ((expect._2, expect._3)), s"choice for k=$k target=$target")
      assert(c.getAs[Long]("meets_target") ===
        (if (meeting.nonEmpty) 1L else 0L))
    }
  }

  test("cheapestMeetingCell: equal recall meets, best-available fallback, the caller's tail breaks a scanned tie") {
    // a hand-built grid (k, n_probe, r_shortlist, recall_ppm, scanned_ppm)
    val grid = Seq(
        (1L, 1L, 5L, 900000L, 100000L),
        (1L, 2L, 5L, 950000L, 200000L),
        (1L, 4L, 20L, 950000L, 150000L),
        (5L, 1L, 20L, 950000L, 300000L),
        (5L, 2L, 5L, 950000L, 300000L))
      .toDF("k", "n_probe", "r_shortlist", "recall_ppm", "scanned_ppm")
    val targets = Seq(900000L, 990000L).toDF("target_ppm")
    def choose(tail: Seq[org.apache.spark.sql.Column]) =
      Similarity.cheapestMeetingCell(grid, targets, Seq("k", "target_ppm"),
          tail).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("target_ppm")) ->
          ((r.getAs[Long]("n_probe"), r.getAs[Long]("r_shortlist"),
            r.getAs[Long]("meets")))).toMap
    val byDepth = choose(Seq($"r_shortlist".asc, $"n_probe".asc))
    assert(byDepth.size === 4, "one row per (k, target)")
    // recall_ppm == target_ppm meets, and that cell is the cheapest
    assert(byDepth((1L, 900000L)) === ((1L, 5L, 1L)))
    // nothing meets 99%: the smallest deficit wins over the cheapest
    // cell, and the cheaper of the two equal-deficit cells is returned
    assert(byDepth((1L, 990000L)) === ((4L, 20L, 0L)))
    // a scanned_ppm tie goes to the caller's cost tail
    assert(byDepth((5L, 900000L)) === ((2L, 5L, 1L)))
    assert(choose(Seq($"n_probe".asc))((5L, 900000L)) === ((1L, 20L, 1L)))
  }

  test("ivfFamilyOperatingGrids: shared-substrate cells equal the standalone grids exactly (r16, +bq r17)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 100 === 0)
    val (mins, scales) = Similarity.sqTrain(emb, "embedding", "vec_id")
    val thr = Similarity.bqTrain(emb, "embedding", "vec_id")
    def grid(families: Seq[IvfFamily]) = Similarity.ivfOperatingGrid(emb,
      None, queries, "embedding", "vec_id", ks = Seq(1, 5),
      cellCodebook = cellCb, families = families, rs = Seq(5, 10),
      nProbes = Seq(1, 2))
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(8), r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7)))
    val families = Seq(IvfFamily.Pq(4, pqCb), IvfFamily.Sq8(mins, scales),
      IvfFamily.Bq(thr))
    val shared = cells(grid(families)).toMap
    // the three single-family grids, run as one action
    val standalone = cells(families.map(f => grid(Seq(f)))
      .reduce(_ unionByName _))
    assert(shared.size === 24 && standalone.size === 24)
    standalone.foreach { case (k, v) =>
      assert(shared(k) === v, s"shared-substrate cell $k diverged")
    }
  }

  test("ivfBqOperatingGrid3d: full-depth shortlist recovers the exact IVF sweep; full probe width pins the e14 operating point (r17)") {
    // two pins, both exact by construction:
    //  (1) r >= every probed candidate -> the hamming ordering is
    //      irrelevant, the exact-key rerank sees all candidates, so the
    //      cell must equal the exact IVF sweep at (np, k) — the skeleton
    //      with the BQ scorer plugged in stays the gated skeleton;
    //  (2) nProbe = every cell -> IVF pruning is a no-op, the hamming
    //      shortlist is e14's FLAT shortlist, so the (r=20, k=5) cell's
    //      hit count must equal the recall of the standalone
    //      bqRerankTopK operating point measured against the same
    //      brute-force truth (VERDICT r16 next-#2's "done" bar).
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 100 === 0)
    val nCells = 8
    val thr = Similarity.bqTrain(emb, "embedding", "vec_id")
    val rFull = 600 // > corpus size
    val g = Similarity.ivfOperatingGrid(emb, None, queries, "embedding",
        "vec_id", ks = Seq(1, 5), cellCodebook = cellCb,
        families = Seq(IvfFamily.Bq(thr)), rs = Seq(20, rFull),
        nProbes = Seq(1, nCells))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(g.size == 8)
    val exact = Similarity.ivfOperatingSweepExact(emb, queries, "embedding",
        "vec_id", ks = Seq(1, 5), codebook = cellCb, nProbes = Seq(1, nCells))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    for (np <- Seq(1L, nCells.toLong); kk <- Seq(1L, 5L))
      assert(g((np, rFull.toLong, kk)) == exact((np, kk)),
        s"(np=$np,k=$kk): full-depth BQ cell != exact sweep")
    // pin (2): full width + bounded shortlist == the e14 operating point
    val bf5 = Similarity.bruteForceTopKExact(emb, queries, "embedding",
        "vec_id", 5)
      .select($"query_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e14Hits = Similarity.bqRerankTopK(emb, queries, "embedding",
        "vec_id", k = 5, shortlist = 20, thresholds = thr)
      .select($"query_id", $"id").collect()
      .count(r => bf5((r.getLong(0), r.getLong(1))))
    val (hits, nbf, rec, scn) = g((nCells.toLong, 20L, 5L))
    assert(hits === e14Hits.toLong,
      "full-width (r=20,k=5) cell must measure e14's operating point")
    assert(nbf === bf5.size.toLong && rec === 1000000L * hits / nbf)
    assert(scn === 1000000L, "probing every cell scans the full corpus")
  }

  test("ivfPqFilteredOperatingGrid3d: filtered truth, full-corpus denominator, selectivity column (r17)") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val en = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"lang" === "en").select($"doc_id".as("vec_id"))
    val queries = emb.filter($"vec_id" % 100 === 0)
    val nCells = 8
    val rFull = 600 // > corpus size
    val g = Similarity.ivfOperatingGrid(emb, Some(en), queries,
        "embedding", "vec_id", ks = Seq(5), cellCodebook = cellCb,
        families = Seq(IvfFamily.Pq(4, pqCb)), rs = Seq(5, rFull),
        nProbes = Seq(1, nCells))
      .collect()
    val nFull = emb.count()
    val nKept = emb.join(en, Seq("vec_id")).count()
    val expSel = 1000000L * nKept / nFull
    assert(nKept > 0 && nKept < nFull, "the predicate must actually filter")
    // the selectivity column is the survivor fraction, constant
    g.foreach(r => assert(r.getAs[Long]("selectivity_ppm") === expSel))
    // scanned can never exceed the pruned flat scan's cost — probing
    // EVERY cell touches exactly the survivors
    g.foreach(r =>
      assert(r.getAs[Long]("scanned_ppm") <= expSel, r.toString))
    val full = g.find(r => r.getAs[Long]("n_probe") == nCells.toLong &&
      r.getAs[Long]("r_shortlist") == rFull.toLong).get
    assert(full.getAs[Long]("scanned_ppm") === expSel)
    // the truth is the FILTERED search's truth: with every cell probed
    // and the whole shortlist reranked, recall is exactly 1
    assert(full.getAs[Long]("recall_ppm") === 1000000L)
    val bfN = Similarity.bruteForceTopKExact(emb.join(en, Seq("vec_id")),
      queries, "embedding", "vec_id", 5).count()
    g.foreach(r => assert(r.getAs[Long]("n_bf") === bfN,
      "denominator must be the filtered brute force"))
  }

  test("e36 filtered layout: the flat row costs the pruned scan; decision re-derives (r17)") {
    val dir = "/root/testdata/sf0.001"
    val cells = graft.queries.DataQueries.e35FilteredGrid(spark, dir)
      .collect().map(r => ("ivf_pq_filtered", r.getAs[Long]("k"),
        r.getAs[Long]("n_probe"), r.getAs[Long]("r_shortlist"),
        r.getAs[Long]("recall_ppm"), r.getAs[Long]("scanned_ppm"),
        r.getAs[Long]("selectivity_ppm")))
    val sel = cells.head._7
    val grid = cells ++ cells.map(_._2).distinct
      .map(k => ("flat_filtered", k, 0L, 0L, 1000000L, sel, sel))
    val chosen = graft.queries.DataQueries.e36FilteredLayout(spark, dir)
      .collect()
    assert(chosen.length === 6)
    chosen.foreach { c =>
      val (k, target) = (c.getAs[Long]("k"), c.getAs[Long]("target_ppm"))
      val meeting = grid.filter(g => g._2 == k && g._5 >= target)
      assert(meeting.nonEmpty) // flat always meets
      val expect = meeting.minBy { case (f, _, np, r, _, sc, _) =>
        (sc, r, np, f) }
      assert((c.getAs[String]("family"), c.getAs[Long]("n_probe"),
        c.getAs[Long]("r_shortlist")) === ((expect._1, expect._3,
        expect._4)), s"choice for k=$k target=$target")
      assert(c.getAs[Long]("index_worth_it") ===
        (if (expect._1 == "flat_filtered") 0L else 1L))
      // honesty: an indexed winner must beat the PRUNED scan, not 10^6
      if (c.getAs[Long]("index_worth_it") == 1L)
        assert(c.getAs[Long]("scanned_ppm") <
          c.getAs[Long]("selectivity_ppm"))
    }
  }

  test("ivfFilteredFamilyOperatingGrids: shared filtered substrate equals the standalone filtered PQ grid (r17)") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val en = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"lang" === "en").select($"doc_id".as("vec_id"))
    val queries = emb.filter($"vec_id" % 100 === 0)
    val (mins, scales) = Similarity.sqTrain(emb, "embedding", "vec_id")
    val thr = Similarity.bqTrain(emb, "embedding", "vec_id")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("family"), r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getAs[Long]("selectivity_ppm"))
    def grid(families: Seq[IvfFamily]) = Similarity.ivfOperatingGrid(emb,
      Some(en), queries, "embedding", "vec_id", ks = Seq(1, 5),
      cellCodebook = cellCb, families = families, rs = Seq(5, 10),
      nProbes = Seq(1, 2))
    val families = Seq(IvfFamily.Pq(4, pqCb), IvfFamily.Sq8(mins, scales),
      IvfFamily.Bq(thr))
    val shared = grid(families).collect()
    assert(shared.length === 24, "3 families x 8 cells")
    val sharedCells = shared.map(key).toMap
    // every family's filtered cells equal its single-family filtered
    // call (the three run as one action)
    val standalone = families.map(f => grid(Seq(f)))
      .reduce(_ unionByName _).collect().map(key)
    assert(standalone.length === 24)
    standalone.foreach { case (k, v) =>
      assert(sharedCells(k) === v, s"filtered substrate cell $k diverged")
    }
    // every family's truth and selectivity are the substrate's — one
    // filtered brute force, one survivor fraction
    assert(shared.map(_.getAs[Long]("selectivity_ppm")).distinct.length === 1)
    assert(shared.groupBy(r => r.getLong(2))
      .forall { case (_, rows) => rows.map(_.getLong(5)).distinct.length == 1 })
  }

  test("grid builds are lazy plans: no job beyond the ADC query collect, 1 probe width or 2") {
    val keep = emb001.filter($"vec_id" % 2 === 0).select($"vec_id")
    val queries = emb001.filter($"vec_id" % 100 === 0)
    val (mins, scales) = Similarity.sqTrain(emb001, "embedding", "vec_id")
    val thr = Similarity.bqTrain(emb001, "embedding", "vec_id")
    val (cb, pq) = (cellCb, pqCb) // fitted before any count starts
    def sweep(nps: Seq[Int]) = jobsIn(Similarity.ivfOperatingSweepExact(
      emb001, queries, "embedding", "vec_id", ks = Seq(1, 5), codebook = cb,
      nProbes = nps))
    val all = Seq(IvfFamily.Pq(4, pq), IvfFamily.Sq8(mins, scales),
      IvfFamily.Bq(thr))
    def grid(keepIds: Option[org.apache.spark.sql.DataFrame],
             families: Seq[IvfFamily], nps: Seq[Int]) =
      jobsIn(Similarity.ivfOperatingGrid(emb001, keepIds, queries,
        "embedding", "vec_id", ks = Seq(1, 5), cellCodebook = cb,
        families = families, rs = Seq(5, 10), nProbes = nps))
    def sq(nps: Seq[Int]) = grid(None, Seq(IvfFamily.Sq8(mins, scales)), nps)
    def families(nps: Seq[Int]) = grid(None, all, nps)
    def filtered(nps: Seq[Int]) = grid(Some(keep), all, nps)
    for (nps <- Seq(Seq(1), Seq(1, 2))) {
      assert(sweep(nps) === 0, s"sweep at $nps")
      assert(sq(nps) === 0, s"SQ8 grid at $nps")
      // the PQ scorer's bounded ADC query collect is the one job
      assert(families(nps) === 1, s"family grids at $nps")
      assert(filtered(nps) === 1, s"filtered family grids at $nps")
    }
  }

  test("e31/e37 plan budget: embeddings scans and NearestCell evaluations before any action") {
    // the composites' pre-execution plans (reading executedPlan fires
    // no job): one candidate pass per cell grid, the truth, one cell
    // population pass and one probe-rank pass each — not one corpus
    // pass per family scorer, per cell-size aggregate, per row count
    def budget(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case p => p
      }
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths
              .exists(_.getName == "embeddings.parquet") => f
      }.size
      val cells = plan.collect { case n => n.expressions.map(_.collect {
        case e: graft.expressions.NearestCellExpr => e }.size).sum }.sum
      (scans, cells)
    }
    for ((key, q) <- Seq("e31" -> e31At001, "e37" -> e37At001)) {
      val (scans, cells) = budget(q)
      assert(scans <= 14, s"$key scans embeddings.parquet $scans times")
      assert(cells <= 4, s"$key evaluates NearestCell in $cells places")
    }
  }

  test("e38 filtered choice: cheapest across FIVE families (OPQ + nsw unioned, r18) or the pruned scan") {
    val dir = "/root/testdata/sf0.001"
    val rows = e37At001.collect()
    val cells = rows.map(r => (r.getAs[String]("family"), r.getAs[Long]("k"),
        r.getAs[Long]("n_probe"), r.getAs[Long]("r_shortlist"),
        r.getAs[Long]("recall_ppm"), r.getAs[Long]("scanned_ppm"),
        r.getAs[Long]("selectivity_ppm")))
    // the union carries all five families — OPQ from its own rotated
    // substrate (VERDICT r17 next-#5: shared COLUMNS, not substrate),
    // nsw from its filtered full-graph walk (r18)
    assert(cells.map(_._1).distinct.sorted.toSeq ===
      Seq("ivf_bq", "ivf_pq", "ivf_sq8", "nsw", "opq_ivf_pq"))
    // rotation preserves ids and the predicate, and the graph walk
    // counts the same valid-survivor intersection — ONE selectivity
    assert(cells.map(_._7).distinct.length === 1)
    // the OPQ rows ARE the standalone filtered-OPQ grid's cells
    val standalone = graft.queries.DataQueries
      .e39FilteredOpqGrid(spark, dir).collect()
      .map(r => (r.getAs[Long]("n_probe"), r.getAs[Long]("r_shortlist"),
        r.getAs[Long]("k")) -> (r.getAs[Long]("recall_ppm"),
        r.getAs[Long]("scanned_ppm"))).toMap
    val opqRows = cells.filter(_._1 == "opq_ivf_pq")
    assert(opqRows.length === standalone.size)
    opqRows.foreach { c =>
      assert(standalone((c._3, c._4, c._2)) === ((c._5, c._6)),
        s"e37 OPQ cell (${c._3},${c._4},${c._2}) diverged from e39")
    }
    val sel = cells.head._7
    val grid = cells ++ cells.map(_._2).distinct
      .map(k => ("flat_filtered", k, 0L, 0L, 1000000L, sel, sel))
    val chosen = graft.queries.DataQueries.e38FilteredChoice(spark, dir)
      .collect()
    assert(chosen.length === 6)
    chosen.foreach { c =>
      val (k, target) = (c.getAs[Long]("k"), c.getAs[Long]("target_ppm"))
      val meeting = grid.filter(g => g._2 == k && g._5 >= target)
      assert(meeting.nonEmpty) // the pruned scan always meets
      val expect = meeting.minBy { case (f, _, np, r, _, sc, _) =>
        (sc, r, np, f) }
      assert((c.getAs[String]("family"), c.getAs[Long]("n_probe"),
        c.getAs[Long]("r_shortlist")) === ((expect._1, expect._3,
        expect._4)), s"choice for k=$k target=$target")
      if (c.getAs[Long]("index_worth_it") == 1L)
        assert(c.getAs[Long]("scanned_ppm") <
          c.getAs[Long]("selectivity_ppm"),
          "an indexed winner must beat the pruned scan")
    }
  }

  test("e33 layout choice: flat-exact competes as the always-feasible fallback (r16)") {
    val dir = "/root/testdata/sf0.001"
    def cells(df: org.apache.spark.sql.DataFrame, fam: String) =
      df.collect().map(r => (fam, r.getAs[Long]("k"),
        r.getAs[Long]("n_probe"), r.getAs[Long]("r_shortlist"),
        r.getAs[Long]("recall_ppm"), r.getAs[Long]("scanned_ppm")))
    val measured =
      cells(graft.queries.DataQueries.e27Grid3d(spark, dir), "ivf_pq") ++
      cells(graft.queries.DataQueries.e29SqGrid3d(spark, dir), "ivf_sq8") ++
      cells(graft.queries.DataQueries.e30OpqGrid3d(spark, dir), "opq_ivf_pq") ++
      cells(graft.queries.DataQueries.e34BqGrid3d(spark, dir), "ivf_bq") ++
      cells(graft.queries.DataQueries.e41NswGrid(spark, dir), "nsw")
    val grid = measured ++ measured.map(_._2).distinct
      .map(k => ("flat_exact", k, 0L, 0L, 1000000L, 1000000L))
    val chosen = graft.queries.DataQueries.e33LayoutChoice(spark, dir)
      .collect()
    assert(chosen.length === 6)
    chosen.foreach { c =>
      val (k, target) = (c.getAs[Long]("k"), c.getAs[Long]("target_ppm"))
      val meeting = grid.filter(g => g._2 == k && g._5 >= target)
      // flat always meets, so the fallback branch is unreachable and
      // meets is non-empty by construction
      assert(meeting.nonEmpty)
      val expect = meeting.minBy { case (f, _, np, r, _, sc) =>
        (sc, r, np, f) }
      assert((c.getAs[String]("family"), c.getAs[Long]("n_probe"),
        c.getAs[Long]("r_shortlist")) === ((expect._1, expect._3,
        expect._4)), s"choice for k=$k target=$target")
      assert(c.getAs[Long]("index_worth_it") ===
        (if (expect._1 == "flat_exact") 0L else 1L))
      // the decision is honest: an indexed winner must strictly beat
      // the flat scan's cost
      if (c.getAs[Long]("index_worth_it") == 1L)
        assert(c.getAs[Long]("scanned_ppm") < 1000000L)
    }
  }

  test("e32 tenant choice: table-driven targets, per-tenant cheapest meeting cell (r16)") {
    val dir = "/root/testdata/sf0.001"
    val grid = graft.queries.DataQueries.e27Grid3d(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_probe"),
        r.getAs[Long]("r_shortlist"), r.getAs[Long]("recall_ppm"),
        r.getAs[Long]("scanned_ppm")))
    val chosen = graft.queries.DataQueries.e32TenantChoice(spark, dir)
      .collect()
    assert(chosen.length === 50, "25 tenants x 2 ks")
    chosen.foreach { c =>
      val (tenant, k, target) = (c.getAs[Long]("tenant_id"),
        c.getAs[Long]("k"), c.getAs[Long]("target_ppm"))
      // the SLO table derivation is part of the contract
      assert(target === 500000L + (tenant % 5) * 100000L)
      val cells = grid.filter(_._1 == k)
      val meeting = cells.filter(_._4 >= target)
      val expect =
        if (meeting.nonEmpty)
          meeting.minBy { case (_, np, r, _, sc) => (sc, r, np) }
        else cells.minBy { case (_, np, r, rec, sc) =>
          (1000000L - rec, sc, r, np) }
      assert((c.getAs[Long]("n_probe"), c.getAs[Long]("r_shortlist")) ===
        ((expect._2, expect._3)), s"tenant=$tenant k=$k target=$target")
      assert(c.getAs[Long]("meets_target") ===
        (if (meeting.nonEmpty) 1L else 0L))
    }
    // tenants sharing a target tier must get the SAME decision — the
    // choice depends on the grid and the target only
    chosen.groupBy(c => (c.getAs[Long]("target_ppm"), c.getAs[Long]("k")))
      .foreach { case (_, rows) =>
        assert(rows.map(r => (r.getAs[Long]("n_probe"),
          r.getAs[Long]("r_shortlist"))).distinct.length === 1)
      }
  }

  test("ivfSqOperatingGrid3d: full-depth shortlist recovers the exact IVF sweep; axes and denominators behave (r16)") {
    // when r covers EVERY probed candidate, the SQ shortlist ordering
    // is irrelevant — the exact-key rerank sees all candidates, so the
    // cell must equal the exact IVF operating sweep at (np, k), all
    // four measured columns. That pins the whole skeleton (probe
    // stage, truth, rerank, denominators) to an already-gated
    // operator; the SQ scorer can then only affect BOUNDED shortlists.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 100 === 0)
    val (mins, scales) = Similarity.sqTrain(emb, "embedding", "vec_id")
    val rFull = 600 // > corpus size: every probed candidate survives
    val gsq = Similarity.ivfOperatingGrid(emb, None, queries, "embedding",
        "vec_id", ks = Seq(1, 5), cellCodebook = cellCb,
        families = Seq(IvfFamily.Sq8(mins, scales)), rs = Seq(5, rFull),
        nProbes = Seq(1, 2))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(gsq.size == 8)
    val exact = Similarity.ivfOperatingSweepExact(emb, queries, "embedding",
        "vec_id", ks = Seq(1, 5), codebook = cellCb, nProbes = Seq(1, 2))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    for (np <- Seq(1L, 2L); kk <- Seq(1L, 5L))
      assert(gsq((np, rFull.toLong, kk)) == exact((np, kk)),
        s"(np=$np,k=$kk): full-depth SQ cell ${gsq((np, rFull.toLong, kk))}" +
          s" != exact sweep ${exact((np, kk))}")
    // bounded shortlists: monotone in r and k; ppm arithmetic exact;
    // scanned_ppm is the FAMILY-INDEPENDENT probe-stage denominator
    gsq.foreach { case ((np, _, kk), (h, nbf, rec, scn)) =>
      assert(nbf > 0 && rec == 1000000L * h / nbf)
      assert(scn == exact((np, kk))._4, "scanned_ppm must match the " +
        "exact sweep's: same probe stage, same assignments")
    }
    for (np <- Seq(1L, 2L); kk <- Seq(1L, 5L))
      assert(gsq((np, 5L, kk))._1 <= gsq((np, rFull.toLong, kk))._1)
    for (np <- Seq(1L, 2L); r <- Seq(5L, rFull.toLong))
      assert(gsq((np, r, 1L))._1 <= gsq((np, r, 5L))._1)
  }

  test("e30 OPQ grid: shape, arithmetic, and monotone axes in the rotated space (r16)") {
    val g = graft.queries.DataQueries.e30OpqGrid3d(spark,
      "/root/testdata/sf0.001").collect()
      .map(r => (r.getAs[Long]("n_probe"), r.getAs[Long]("r_shortlist"),
        r.getAs[Long]("k")) ->
        (r.getAs[Long]("n_hits"), r.getAs[Long]("n_bf"),
          r.getAs[Long]("recall_ppm"), r.getAs[Long]("scanned_ppm"))).toMap
    assert(g.size == 8, "2 probes x 2 shortlists x 2 ks")
    g.foreach { case ((np, r, kk), (h, nbf, rec, scn)) =>
      assert(nbf > 0 && rec == 1000000L * h / nbf, s"($np,$r,$kk)")
      assert(h <= nbf && scn > 0 && scn <= 1000000L)
    }
    // deeper shortlist / deeper k only add candidates (probe axis is
    // NOT monotone at fixed r — the e26 dilution finding)
    for (np <- Seq(1L, 4L); kk <- Seq(1L, 5L))
      assert(g((np, 5L, kk))._1 <= g((np, 20L, kk))._1)
    for (np <- Seq(1L, 4L); r <- Seq(5L, 20L))
      assert(g((np, r, 1L))._1 <= g((np, r, 5L))._1)
    // scanned fraction grows with probe width (same query batch)
    for (r <- Seq(5L, 20L); kk <- Seq(1L, 5L))
      assert(g((1L, r, kk))._4 <= g((4L, r, kk))._4)
  }

  test("e31 family choice: per (k, target) the cheapest cell across ALL FIVE family grids") {
    // re-derive the decision from the five grid relations it unions
    val dir = "/root/testdata/sf0.001"
    def cells(df: org.apache.spark.sql.DataFrame, fam: String) =
      df.collect().map(r => (fam, r.getAs[Long]("k"),
        r.getAs[Long]("n_probe"), r.getAs[Long]("r_shortlist"),
        r.getAs[Long]("recall_ppm"), r.getAs[Long]("scanned_ppm")))
    val grid =
      cells(graft.queries.DataQueries.e27Grid3d(spark, dir), "ivf_pq") ++
      cells(graft.queries.DataQueries.e29SqGrid3d(spark, dir), "ivf_sq8") ++
      cells(graft.queries.DataQueries.e30OpqGrid3d(spark, dir), "opq_ivf_pq") ++
      cells(graft.queries.DataQueries.e34BqGrid3d(spark, dir), "ivf_bq") ++
      cells(graft.queries.DataQueries.e41NswGrid(spark, dir), "nsw")
    val chosen = e31At001.collect()
    assert(chosen.length === 6, "one row per (k, target)")
    chosen.foreach { c =>
      val (k, target) = (c.getAs[Long]("k"), c.getAs[Long]("target_ppm"))
      val ks = grid.filter(_._2 == k)
      val meeting = ks.filter(_._5 >= target)
      val expect =
        if (meeting.nonEmpty)
          meeting.minBy { case (f, _, np, r, _, sc) => (sc, r, np, f) }
        else ks.minBy { case (f, _, np, r, rec, sc) =>
          (1000000L - rec, sc, r, np, f) }
      assert((c.getAs[String]("family"), c.getAs[Long]("n_probe"),
        c.getAs[Long]("r_shortlist")) === ((expect._1, expect._3,
        expect._4)), s"choice for k=$k target=$target")
      assert(c.getAs[Long]("meets_target") ===
        (if (meeting.nonEmpty) 1L else 0L))
    }
  }
}
