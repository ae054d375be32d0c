package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MMR diverse rerank ([[Similarity.mmrRerank]], λ = 1/2): the greedy
  * selection must prefer a diverse moderately-relevant candidate over
  * a near-duplicate of what is already selected — the property plain
  * top-k lacks — with exact integer scores and deterministic
  * tie-breaks. */
class MmrSpec extends SparkSpec {
  import spark.implicits._

  // 3-D fixture: c1 is the clear top hit; c2 is c1's near-duplicate
  // (slightly lower relevance, cosine ~1 to c1); c3 points the other
  // way in the second dimension (lower relevance, but diverse).
  private val corpus = Seq(
    (1L, Seq(0.9f, 0.436f, 0.0f)),
    (2L, Seq(0.9f, 0.4359f, 0.01f)),
    (3L, Seq(0.88f, -0.47f, 0.0f)),
    (4L, Seq(0.1f, 0.0f, 0.99f))
  ).toDF("vec_id", "embedding")
  private val queries = Seq((100L, Seq(1.0f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("greedy pick diversifies: the near-duplicate loses to the diverse candidate") {
    val got = Similarity.mmrRerank(corpus, queries, "embedding", "vec_id",
        topN = 4, k = 3)
      .orderBy("query_id", "rank")
      .select("rank", "id").as[(Long, Long)].collect().toSeq
    // plain top-2 would be (c1, c2); MMR takes c3 at rank 2 because
    // score(c2) = rel(c2) - sim(c2,c1) ~ 0.9 - 1.0 < 0 while
    // score(c3) = 0.88 - 0.59 > 0
    assert(got.take(2) === Seq((1L, 1L), (2L, 3L)), got.toString)
    // rank 3 then goes to the orthogonal c4, not the near-dup c2:
    // score(c2) stays ~ -0.1, score(c4) = 0.1 - max(sim) stays higher
    assert(got(2) === ((3L, 4L)), got.toString)
  }

  test("rank 1 is the pure relevance argmax and its score is its relevance") {
    val row = Similarity.mmrRerank(corpus, queries, "embedding", "vec_id",
        topN = 4, k = 1)
      .select("id", "rel_u", "score_u").as[(Long, Long, Long)].head()
    assert(row._1 === 1L)
    assert(row._2 === row._3)
  }

  test("selection is partition-invariant and emits k rows per query") {
    def run(parts: Int) = Similarity.mmrRerank(corpus.repartition(parts),
        queries, "embedding", "vec_id", topN = 4, k = 3)
      .select("query_id", "rank", "id", "score_u")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val a = run(1)
    assert(a.length === 3)
    assert(a === run(5))
  }

  test("building the rerank fires no Spark job, and the action's jobs do not grow with k") {
    def rerank(k: Int) = Similarity.mmrRerank(corpus, queries, "embedding",
      "vec_id", topN = 4, k = k)
    assert(jobsIn(rerank(3)) === 0)
    def actionJobs(k: Int): (Int, Int) = {
      val df = rerank(k)
      var rows = 0
      (jobsIn { rows = df.collect().length }, rows)
    }
    val (jobs1, rows1) = actionJobs(1)
    val (jobs3, rows3) = actionJobs(3)
    assert((rows1, rows3) === ((1, 3)))
    assert(jobs1 > 0)
    assert(jobs1 === jobs3)
  }

  test("fewer candidates than k emits only the ranks it can fill") {
    // c5 is a zero vector (degenerate, never a candidate): 4 candidates
    val withZero = corpus.union(Seq((5L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding"))
    val got = Similarity.mmrRerank(withZero, queries, "embedding", "vec_id",
        topN = 5, k = 5)
      .select("rank", "id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 1L), (2L, 3L), (3L, 4L), (4L, 2L)), got.toString)
  }

  test("two queries in one batch each break an exact score_u tie by id ascending") {
    // per query: an exact copy of the query vector, then two mirror
    // images at 45° — equal relevance and equal similarity to the copy,
    // so rank 2 is an exact tie (score 0) that the lower id wins. The
    // higher id comes first in the input.
    val tieCorpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(1.0f, -1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (6L, Seq(0.0f, 0.0f, 1.0f, -1.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val tieQueries = Seq(
      (200L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (100L, Seq(1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(tieCorpus.repartition(3), tieQueries,
        "embedding", "vec_id", topN = 3, k = 3)
      .as[(Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    val diag = 707107L // micro(round(cos 45°, 6))
    assert(got === Seq(
      (100L, 1L, 1L, 1000000L, 1000000L), (100L, 2L, 2L, diag, 0L),
      (100L, 3L, 3L, diag, 0L),
      (200L, 1L, 4L, 1000000L, 1000000L), (200L, 2L, 5L, diag, 0L),
      (200L, 3L, 6L, diag, 0L)), got.toString)
  }

  test("output schema keeps its names and types for Long and Int ids") {
    def schemaOf(idType: DataType) = {
      def typed(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("vec_id", col("vec_id").cast(idType))
      Similarity.mmrRerank(typed(corpus), typed(queries), "embedding",
          "vec_id", topN = 4, k = 2)
        .schema.fields.map(f => f.name -> f.dataType).toSeq
    }
    for (t <- Seq(LongType, IntegerType))
      assert(schemaOf(t) === Seq("query_id" -> t, "rank" -> LongType,
        "id" -> t, "rel_u" -> LongType, "score_u" -> LongType))
  }

  test("greedy step: no pair row to the selected set is ineligible; a NULL score sorts last") {
    // c4 has no pair rows at all; c3's only pair row has a NULL sim;
    // c5 has a NULL relevance
    val cands = Array((4L, Some(11L)), (1L, Some(10L)), (2L, Some(9L)),
      (3L, Some(8L)), (5L, None))
    val pairs = Seq((2L, 1L, Some(5L)), (3L, 1L, None), (5L, 1L, Some(0L)),
      (5L, 2L, Some(0L)))
    val got = Similarity.mmrSelect(cands, pairs.iterator, k = 5)
    // rank 1 is the relevance argmax (c4 — it needs no pair row); every
    // later step needs a pair row to the selected set, so after c4 no
    // candidate is eligible and the query stops
    assert(got === Seq((1L, 4L, Some(11L), Some(11L))))
    val rest = Similarity.mmrSelect(cands.filter(_._1 != 4L), pairs.iterator, k = 5)
    assert(rest === Seq(
      (1L, 1L, Some(10L), Some(10L)),
      (2L, 2L, Some(9L), Some(4L)),
      // c3 (max sim NULL) and c5 (relevance NULL) both score NULL: the
      // lower id wins among NULLs
      (3L, 3L, Some(8L), None),
      (4L, 5L, None, None)), rest.toString)
  }
}
