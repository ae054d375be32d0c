package graft

import graft.expressions.TextExpressions
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer (t33/t34): the Viterbi
  * count expression's cost/tie semantics on hand-checked words, the
  * fit's coverage guarantees, and the pluggable-counter equivalence
  * with the per-doc stats report. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def countOf(word: String, costs: Map[String, Long], oov: Long,
                      maxLen: Int = 4): Long =
    Seq(word).toDF("w")
      .select(TextExpressions.unigramCount(col("w"), costs, oov, maxLen)
        .as("n"))
      .head.getLong(0)

  test("Viterbi count: cheapest segmentation wins; OOV chars cost the floor") {
    val costs = Map("ab" -> 10L, "a" -> 100L, "b" -> 100L)
    // "abab": ab+ab (20) beats a+b+a+b (400) and a+ba.. (no "ba")
    assert(countOf("abab", costs, oov = 1000L) === 2L)
    // "abc": c is OOV -> ab + [c] (1010) beats a+b+[c] (1200)
    assert(countOf("abc", costs, oov = 1000L) === 2L)
    // all-OOV word: one token per char
    assert(countOf("xyz", costs, oov = 1000L) === 3L)
    // empty word: zero tokens
    assert(countOf("", costs, oov = 1000L) === 0L)
  }

  test("Viterbi tie rule: equal cost goes to the smallest start (longest piece)") {
    // "aa" as one piece costs 100; as a+a costs 50+50 = 100 — tie.
    // The contract (ascending-i strict-less scan == the oracle's
    // ORDER BY cost, i) keeps the SMALLEST i at position 2: the
    // two-char piece. One token, not two.
    val costs = Map("aa" -> 100L, "a" -> 50L)
    assert(countOf("aa", costs, oov = 1000L) === 1L)
    // break the tie in favour of the chars and the count flips
    assert(countOf("aa", Map("aa" -> 101L, "a" -> 50L), oov = 1000L) === 2L)
  }

  test("words past the oracle's 16-position DP unroll still count exactly") {
    // the ORACLE unrolls its Viterbi DP to DataQueries.uniUnroll
    // positions and error()s self-describingly past it (ADVICE r17);
    // the SPARK expression has no such bound — pin that a word well
    // past the unroll segments exactly (26 OOV chars -> 26 tokens;
    // known pieces chain through a 20-char word)
    val long = "abcdefghijklmnopqrstuvwxyz" // 26 chars, all OOV
    assert(long.length > graft.queries.DataQueries.uniUnroll)
    assert(countOf(long, Map("zz" -> 1L), oov = 1000L) === 26L)
    val costs = Map("abcd" -> 10L, "a" -> 100L, "b" -> 100L, "c" -> 100L,
      "d" -> 100L)
    assert(countOf("abcd" * 5, costs, oov = 1000L) === 5L) // 20 chars
  }

  test("fit: char coverage floor, non-negative costs, count bounds on a real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (costs, oov) = TextAnalysis.fitUnigramLm(docs, "text", "doc_id")
    assert(costs.nonEmpty && oov >= 0L && costs.values.forall(_ >= 0L))
    // every character of every SAMPLE word is in the vocab (Kudo's
    // single-char coverage floor) — so sampled words never hit OOV
    val sampleChars = docs
      .filter(pmod(graft.functions.GraftFunctions.md5Long(
        col("doc_id").cast("string")), lit(20L)) === 0L)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "").as[String].collect()
      .flatMap(_.codePoints().toArray.map(cp =>
        new String(Character.toChars(cp)))).toSet
    sampleChars.foreach(c =>
      assert(costs.contains(c), s"single char '$c' missing from vocab"))
    // per-doc report: 1 <= pieces-per-word (each word is >= 1 token),
    // and at most the word's character count
    val st = TextAnalysis.unigramStats(docs, "text", "doc_id", costs, oov)
      .collect()
    assert(st.length === docs.count())
    st.foreach { r =>
      val (ws, uni) = (r.getAs[Long]("n_ws_tokens"),
        r.getAs[Long]("n_unigram_tokens"))
      assert(uni >= ws, s"every word is at least one piece: $r")
    }
  }

  test("fit driver: hand-checked seed and EM behaviour") {
    // one word "abab" (f=2), one word "cd" (f=1): candidate substrings
    // include ab/ba/abab/..., all chars a,b,c,d present
    val (costs, oov) = TextAnalysis.fitUnigramDriver(
      Seq(("abab", 2L), ("cd", 1L)), pieceMaxLen = 4, candVocab = 120,
      emIters = 2)
    Seq("a", "b", "c", "d").foreach(c => assert(costs.contains(c)))
    assert(costs.contains("abab") && costs.contains("ab"))
    // hard EM concentrates mass on each word's WINNING segmentation:
    // "abab" segments as the single piece (count 2+1) and "cd" as its
    // piece (count 1+1), while "ab" — subsumed by "abab" — falls to
    // the Laplace floor (count 1). Cheapest piece = the EM winner.
    assert(costs("abab") === costs.values.min)
    assert(costs("abab") < costs("cd") && costs("cd") < costs("ab"))
    // zero-E-count pieces all share the Laplace-floor cost
    assert(costs("ab") === costs("ba"))
    // OOV is the count-1 floor — exactly the Laplace-floor pieces' cost
    assert(oov === costs.values.max && oov === costs("ab"))
  }
}
