package graft

import graft.expressions.TextExpressions
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** WordPiece tokenizer (t36/t37): greedy longest-match-first semantics
  * on hand-checked words (the BERT rules — `##` continuations,
  * whole-word [UNK] on any unmatchable position), the fit's coverage
  * floor, and the pluggable-counter equivalence with the per-doc
  * report. */
class WordpieceSpec extends SparkSpec {
  import spark.implicits._

  private def countOf(word: String, vocab: Set[String],
                      maxLen: Int = 4): (Long, Long) = {
    val r = Seq(word).toDF("w")
      .select(TextExpressions.wordpieceCount(col("w"), vocab, maxLen)
        .as("wp"))
      .select(col("wp.tk"), col("wp.unk")).head
    (r.getLong(0), r.getLong(1))
  }

  test("greedy longest-match: the longest piece wins at every position") {
    val v = Set("un", "##aff", "##able", "##a", "##f", "##b", "##l", "##e",
      "u", "##n")
    // "unaffable": un + ##aff + ##able (3) — greedy takes the longest
    // at each step even though char-by-char also segments it
    assert(countOf("unaffable", v) === ((3L, 0L)))
    // initial vs continuation forms are distinct: "aff" unprefixed is
    // NOT in the vocab, so a word STARTING with "aff" has no initial
    // match at position 0 -> whole-word [UNK]
    assert(countOf("affable", v) === ((1L, 1L)))
  }

  test("whole-word [UNK]: one unmatchable position fails the word (not per-char OOV)") {
    val v = Set("ab", "##cd", "##c", "##d", "a", "##b")
    assert(countOf("abcd", v) === ((2L, 0L)))
    // 'x' has no continuation form -> the WHOLE word is 1 [UNK] token,
    // even though a prefix segmented fine (the t33 unigram would have
    // charged an OOV floor per char instead)
    assert(countOf("abxcd", v) === ((1L, 1L)))
    // empty word: zero tokens, not [UNK]
    assert(countOf("", v) === ((0L, 0L)))
  }

  test("greedy is NOT optimal-count: a longest-first prefix can cost extra pieces") {
    // "abc": greedy takes "ab" then needs ##c; with vocab {ab, ##c}
    // that's 2 — but remove ##c and greedy FAILS even though a+##b+##c
    // would... also fail (no ##b). Classic greedy-vs-DP shape: vocab
    // {abc-prefix "ab", "a", "##bc"} — greedy: ab -> needs ##c (absent)
    // -> [UNK]; the DP segmentation a + ##bc exists. BERT semantics
    // keep the greedy answer; pin it so nobody "fixes" it into Viterbi.
    val v = Set("ab", "a", "##bc")
    assert(countOf("abc", v) === ((1L, 1L)))
  }

  test("maxPieceLen bounds the match: a 5-char vocab piece is unreachable at maxLen 4") {
    val v = Set("abcde", "abcd", "##e")
    assert(countOf("abcde", v, maxLen = 4) === ((2L, 0L)), "abcd + ##e")
    assert(countOf("abcde", v, maxLen = 5) === ((1L, 0L)), "whole piece")
  }

  test("fit: sample single-char coverage in both forms; sample words never [UNK]") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = TextAnalysis.fitWordpieceVocab(docs, "text", "doc_id")
    assert(vocab.nonEmpty)
    val sampleWords = docs
      .filter(pmod(graft.functions.GraftFunctions.md5Long(
        col("doc_id").cast("string")), lit(20L)) === 0L)
      .select(explode(graft.functions.GraftFunctions
        .tokens(lower(col("text")))).as("w"))
      .as[String].collect().distinct
    // every SAMPLE word segments without [UNK] (char floor, both forms)
    val unks = sampleWords.filter(w => countOf(w, vocab)._2 == 1L)
    assert(unks.isEmpty, s"sample words must never [UNK]: ${unks.take(5).toSeq}")
  }
}
