package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Subword (BPE) tokenization ([[TextAnalysis.fitBpe]] /
  * [[TextAnalysis.bpeSymbols]] / [[TextAnalysis.bpeStats]]): hand-checked
  * fit ranks, encode equivalence between the driver loop and the Spark
  * expression chain, and the tokenizer parameterization of
  * tokenStats/packSequences/domainMixture (whitespace default pinned
  * unchanged). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("fit picks merges by weighted pair count, hand-checked") {
    // pairs: (a,b) 2*2+3=7, (b,a) 2, (b,c) 3 -> merge1 (a,b)
    // then: (ab,ab) 2, (ab,c) 3 -> merge2 (ab,c)
    val merges = TextAnalysis.fitBpeDriver(
      Seq(("abab", 2L), ("abc", 3L)), nMerges = 2)
    assert(merges == Seq(("a", "b"), ("ab", "c")))
  }

  test("merge application is left-to-right non-overlapping (the BPE " +
      "convention): aaa + merge (a,a) -> [aa, a]") {
    val merges = TextAnalysis.fitBpeDriver(Seq(("aaa", 5L)), nMerges = 1)
    assert(merges == Seq(("a", "a")))
    val got = Seq("aaa").toDF("w")
      .select(trim(TextAnalysis.bpeSymbols(col("w"), merges)).as("s"))
      .head.getString(0)
    assert(got == "aa a")
  }

  test("Spark encode chain reproduces the fit's own vocabulary states") {
    val words = Seq(("abab", 2L), ("abc", 3L), ("cab", 1L))
    val merges = TextAnalysis.fitBpeDriver(words, nMerges = 3)
    // drive the driver-side loop's final state independently
    def driverEncode(w: String): Seq[String] = {
      var s = " " + w.map(_.toString).mkString(" ") + " "
      merges.foreach { case (a, b) =>
        s = s.replace(s" $a $b ", s" $a$b ")
      }
      s.trim.split(" ").toSeq
    }
    val df = words.map(_._1).toDF("w")
      .select(col("w"),
        split(trim(TextAnalysis.bpeSymbols(col("w"), merges)), " ").as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.foreach { case (w, _) =>
      assert(df(w) == driverEncode(w), s"encode mismatch on '$w'")
    }
  }

  test("single-pass kernel == replace chain: edge cases the chain's " +
      "string semantics define") {
    // every quirk of the chain must reproduce in BpeEncodeExpr:
    //  - consumed separator: " a b a b " merges only the FIRST (a,b)
    //  - merge creating an earlier-rank pair: never re-merged
    //  - merge creating a LATER-rank pair: merged at its turn
    //  - duplicate ranks for one pair (re-learned): second pass fires
    //  - supplementary code points
    val cases = Seq(
      (Seq(("a", "b")), Seq("abab", "aabb", "ababab", "ba", "a", "")),
      (Seq(("a", "b"), ("ab", "ab")), Seq("abab", "ababab", "abababab")),
      (Seq(("b", "c"), ("a", "bc")), Seq("abc", "abcbc", "aabc")),
      // rank0 creates "ab"; rank1 (ab,c) fires later; rank2 (a,b) is a
      // duplicate pair at a later rank hitting rank0's survivors
      (Seq(("a", "b"), ("ab", "c"), ("a", "b")), Seq("ababc", "abab", "ababab")),
      (Seq(("😀", "x")), Seq("😀x😀x", "x😀")))
    for ((merges, words) <- cases; w <- words if w.nonEmpty) {
      val got = Seq(w).toDF("w")
        .select(array_join(TextAnalysis.bpeEncode(col("w"), merges), " "))
        .head.getString(0)
      val want = Seq(w).toDF("w")
        .select(trim(TextAnalysis.bpeSymbols(col("w"), merges)))
        .head.getString(0)
      assert(got == want, s"kernel vs chain on '$w' with $merges")
    }
  }

  test("single-pass kernel == replace chain on a fitted table over real words") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = TextAnalysis.fitBpe(docs, "text", "doc_id",
      vocabWords = 500, nMerges = 32, sampleMod = 1)
    val words = docs.select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "").distinct()
    val diff = words.select(
        array_join(TextAnalysis.bpeEncode(col("w"), merges), " ").as("k"),
        trim(TextAnalysis.bpeSymbols(col("w"), merges)).as("c"))
      .filter(col("k") =!= col("c"))
    assert(diff.count() === 0L, diff.take(3).toSeq.toString)
  }

  test("fit on documents is deterministic and bounded") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val m1 = TextAnalysis.fitBpe(docs, "text", "doc_id",
      vocabWords = 200, nMerges = 8)
    val m2 = TextAnalysis.fitBpe(docs, "text", "doc_id",
      vocabWords = 200, nMerges = 8)
    assert(m1 == m2 && m1.size == 8)
  }
}
