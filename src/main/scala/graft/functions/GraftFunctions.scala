package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar function layer. Every function here composes built-in
  * `org.apache.spark.sql.functions` Columns — no UDFs — so the whole
  * surface stays inside Catalyst optimization and whole-stage codegen.
  * This is the Spark-native rendering of the reference's Jinja macro
  * layer (its only "UDF surface"):
  *   - dist_lat_lng       -> [[distLatLng]]   (macros/dist_lat_lng.sql:1-23)
  *   - tlc_payment_type   -> [[tlcPaymentType]] (macros/tlc_payment_type.sql:5-16)
  *   - replace(col,'a','b') literal substitution -> [[replaceLit]]
  *     (models/2_DIM___AUX_TLC/LOCATION_ID_TO_NEIGHBORHOOD.sql:8)
  *
  * All functions are ANSI-mode safe (Spark 4 default): no unguarded
  * divisions, no narrowing casts that can overflow, no string->number
  * casts of dirty data.
  */
object GraftFunctions {

  // ---------------------------------------------------------------------
  // Reference-parity scalar functions
  // ---------------------------------------------------------------------

  /** Literal (non-regex) string substitution.
    * Reference: `replace(service_zone,'Boro','Green')`
    * (LOCATION_ID_TO_NEIGHBORHOOD.sql:8). Uses the literal-safe
    * `replace` built-in, not `regexp_replace`.
    */
  def replaceLit(c: Column, search: String, replacement: String): Column =
    replace(c, lit(search), lit(replacement))

  /** TLC payment-type code decode (macros/tlc_payment_type.sql:5-16).
    * No `otherwise` — unmapped codes yield NULL, matching the macro's
    * CASE with no ELSE. (The reference call site AUX_TLC_RIDES.sql:64
    * invokes a misnamed macro and would not compile; we implement the
    * intended behavior — see SURVEY.md §2.2.)
    */
  def tlcPaymentType(code: Column): Column =
    when(code === 1, "Credit card")
      .when(code === 2, "Cash")
      .when(code === 3, "No charge")
      .when(code === 4, "Dispute")
      .when(code === 5, "Unknown")
      .when(code === 6, "Voided trip")

  /** Great-circle (haversine, spherical-law-of-cosines form) distance
    * between two lat/lng pairs, unit "km" or "mi".
    * Reference: macros/dist_lat_lng.sql:1-23 — which is buggy as written
    * (the 'mi' branch emits empty SQL, the 'km' branch references a
    * nonexistent `radius` column); we implement the intended formula with
    * R=6371 km / 3959 mi and keep the macro's compile-time unit guard as
    * a plan-build-time require (exceptions.raise_compiler_error ->
    * IllegalArgumentException).
    */
  def distLatLng(lat1: Column, lng1: Column, lat2: Column, lng2: Column,
                 unit: String = "km"): Column = {
    require(unit == "km" || unit == "mi",
      s"distLatLng: unit must be 'km' or 'mi', got '$unit'")
    val r = if (unit == "km") 6371.0 else 3959.0
    // clamp the cos argument into [-1,1]: identical points can produce
    // 1.0000000000000002 from float error, and acos of that is NaN.
    val cosArg =
      cos(radians(lat1)) * cos(radians(lat2)) *
        cos(radians(lng2) - radians(lng1)) +
        sin(radians(lat1)) * sin(radians(lat2))
    lit(r) * acos(least(lit(1.0), greatest(lit(-1.0), cosArg)))
  }

  // ---------------------------------------------------------------------
  // Cross-engine deterministic hashing
  // ---------------------------------------------------------------------

  /** Deterministic 60-bit non-negative hash of a string column, identical
    * in Spark and DuckDB (both expose md5 as lowercase hex):
    *   Spark : conv(substr(md5(x),1,15),16,10)::long
    *   DuckDB: CAST('0x'||substr(md5(x),1,15) AS BIGINT)
    * Used everywhere determinism across engines matters (minhash seeds,
    * simhash bit sampling, dedup keys) instead of engine-native hash()
    * (murmur3 in Spark, different in DuckDB).
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Seeded variant: hash of `<seed>|<value>`. */
  def md5Long(c: Column, seed: Int): Column =
    md5Long(concat(lit(seed.toString), lit("|"), c))

  // ---------------------------------------------------------------------
  // Exact-arithmetic aggregation helpers (oracle-stable at any scale)
  // ---------------------------------------------------------------------

  /** Sum a double column exactly: cast to DECIMAL(18,2) (exact, order-
    * independent), sum, present as double. Bit-identical between Spark
    * and DuckDB regardless of partitioning / accumulation order — the
    * property that makes aggregate results hash-stable from sf0.001 to
    * 100 TB. DuckDB oracle form:
    *   CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)
    */
  def exactSum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  // ---------------------------------------------------------------------
  // Space-filling curves (data layout)
  // ---------------------------------------------------------------------

  /** Morton / Z-order value: interleave the low `bits` bits of two
    * non-negative keys (x at even positions, y at odd) — the
    * space-filling-curve clustering key that makes min/max file
    * statistics prune on BOTH dimensions at once (the data-layout lever
    * behind Delta/Iceberg OPTIMIZE ZORDER; here as a plain deterministic
    * column). Pure bit arithmetic, identical in any engine; DuckDB twin
    * per term: ((x >> i) & 1) * 2^(2i) + ((y >> i) & 1) * 2^(2i+1),
    * summed (disjoint bits, so + == OR). */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits=$bits")
    (0 until bits).map { i =>
      call_function("shiftright", x, lit(i)).bitwiseAND(lit(1L)) *
        lit(1L << (2 * i)) +
      call_function("shiftright", y, lit(i)).bitwiseAND(lit(1L)) *
        lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  // ---------------------------------------------------------------------
  // Text analysis (documents table; training-data pipeline surface)
  // ---------------------------------------------------------------------

  /** Whitespace tokens, empty strings removed. DuckDB twin:
    * list_filter(string_split_regex(x,'\s+'), t -> t <> '').
    * array_remove, not the filter() higher-order fn: identical result
    * (split yields no nulls), but fully codegen'd — HOFs dispatch an
    * interpreted lambda per element (PLANS.md round-1 lesson). */
  def tokens(c: Column): Column =
    // explicit char class == RE2 \s; Java \s would also split on \x0B
    // and diverge from the oracle (see HashExpressions.whitespace)
    array_remove(split(c, "[ \\t\\n\\f\\r]+"), "")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword-ish token count: runs of word chars or single
    * non-space punctuation, the standard pre-tokenizer regex shape.
    * DuckDB twin: len(regexp_extract_all(x, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')). */
  def bpeTokenCount(c: Column): Column =
    // explicit whitespace class inside the negation == RE2 \s (Java \s
    // adds \x0B, which would count as punctuation here but not in the
    // oracle's RE2 regexp_extract_all)
    size(regexp_extract_all(c,
      lit("[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"), lit(0)))

  /** Count of tokens that appear in `words`. */
  def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Count of whitespace tokens of lower(text) appearing in `words`, as
    * ONE compiled pass over the raw text ([[graft.expressions
    * .MarkerCountExpr]]) — the hot-path form of [[markerCount]]. */
  def markerCountText(text: Column, words: Seq[String]): Column =
    graft.expressions.TextExpressions.markerCount(text, words)

  /** Per-language function-word marker lists for the n-gram-free
    * language-ID heuristic. Public-knowledge function words; the
    * heuristic is what it is — the oracle replicates it exactly.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "es" -> Seq("el", "los", "de", "la", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"),
  )

  /** Language-ID: argmax of marker-word counts with a fixed priority
    * order (en > de > es > fr > und). Deterministic; ties resolve to the
    * earlier language in the list; all-zero scores -> 'und' (undetermined,
    * ISO 639-2 convention).
    */
  def langId(textCol: Column): Column =
    // NULL text -> 'und', matching the original combinator's
    // when(anyHit, ...).otherwise('und') null behavior
    coalesce(graft.expressions.TextExpressions.langId(textCol, langMarkers),
      lit("und"))

  /** Punctuation character count (anything not alnum/space). DuckDB twin:
    * len(regexp_extract_all(x, '[^A-Za-z0-9\s]')). */
  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[^A-Za-z0-9 \\t\\n\\f\\r]"), lit(0)))

  /** English stopword ratio among whitespace tokens (guarded division). */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "be", "this")

  /** Heuristic document-quality score in [0,1]:
    *   0.25 * (length in [50,10000])
    * + 0.25 * (mean token length in [2,12])
    * + 0.25 * (stopword ratio in [0.01,0.6])
    * + 0.25 * (punct ratio < 0.2)
    * Pure arithmetic on counts -> integer/boolean ops, exactly
    * reproducible in the DuckDB oracle.
    */
  def qualityScore(textCol: Column): Column = {
    val n = length(textCol)
    val nTok = tokenCount(textCol)
    val nStop = markerCountText(textCol, stopwords)
    val nPunct = punctCount(textCol)
    val safeTok = when(nTok > 0, nTok).otherwise(lit(1))
    // Σ token lengths == count of non-whitespace chars: one codegen'd
    // regexp_replace instead of an interpreted per-token aggregate()
    val meanTokLen = length(regexp_replace(lower(textCol), "[ \\t\\n\\f\\r]+", ""))
      .cast(DoubleType) / safeTok
    val stopRatio = nStop.cast(DoubleType) / safeTok
    val punctRatio = nPunct.cast(DoubleType) / when(n > 0, n).otherwise(lit(1))
    val b = (c: Column) => c.cast(IntegerType)
    (b(n >= 50 && n <= 10000) + b(meanTokLen >= 2.0 && meanTokLen <= 12.0) +
      b(stopRatio >= 0.01 && stopRatio <= 0.6) + b(punctRatio < 0.2))
      .cast(DoubleType) * 0.25
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key. DuckDB twin:
    *   md5(trim(regexp_replace(lower(x), '\s+', ' ', 'g'))). */
  def fingerprint(c: Column): Column =
    // explicit char class == RE2 \s (see tokens); the oracle twin uses
    // RE2 regexp_replace(..., '\s+', ' ', 'g')
    md5(trim(regexp_replace(lower(c), "[ \\t\\n\\f\\r]+", " ")))

  // ---------------------------------------------------------------------
  // PII detection / redaction (regex surface shared with the oracle)
  // ---------------------------------------------------------------------

  /** PII patterns, written to evaluate IDENTICALLY under Java regex
    * (Spark) and RE2 (DuckDB oracle): explicit char classes only — no
    * \d/\s/\w (Java's are Unicode-tinged), no lookaround (RE2 has
    * none). \b is the ASCII word boundary in both engines here because
    * every boundary-adjacent char in the patterns is ASCII. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** NNN-NNN-NNNN with -, . or space separators (NANP shape). */
  val phoneRe = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Count of pattern matches in a string column (non-overlapping,
    * leftmost-first — same in Java and RE2). */
  def patternCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast(LongType)

  /** Redact PII in-place: emails, then phones, then IPv4s, replaced by
    * type tags. Sequential replacement on the running text, so the
    * oracle twin is the same three nested regexp_replace(..., 'g')
    * calls in the same order. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipv4Re, "<IP>")

  /** Rolling polynomial hash over whitespace tokens, mod 1e9+7 (keeps the
    * accumulator ANSI-overflow-safe: max acc*31 + h < 31e9 + 1e9 << 2^63).
    * Left fold, so DuckDB's list_reduce with a prepended 0 matches:
    *   list_reduce(list_prepend(0, list_transform(toks, t -> h(t) % 1000000007)),
    *               (a, b) -> (a * 31 + b) % 1000000007)
    */
  def rollingHash(textCol: Column): Column =
    graft.expressions.TextExpressions.rollingHash(textCol)

  // ---------------------------------------------------------------------
  // Vector functions (embeddings table; ANN / near-dup surface)
  // ---------------------------------------------------------------------

  /** Cast a float-array column to double-array (embeddings are
    * list<float> on disk; all arithmetic happens in double to match the
    * DuckDB oracle). */
  def toDoubleArray(a: Column): Column =
    // native array cast, codegen'd element-wise — NOT the transform()
    // higher-order form, which dispatches an interpreted lambda per
    // element (the exact overhead class the vector expressions exist
    // to remove; this sat on every ANN hot path)
    a.cast(ArrayType(DoubleType))

  /** Deterministic pseudo-random hyperplane: component i is
    * md5("seed|i") (15 hex chars -> long, exactly [[md5Long]]) mod
    * 2000001 scaled to [-1, 1]. Computed driver-side — the hyperplane is
    * row-independent, so materializing it as a literal array lets the
    * per-row work be one codegen'd dot product instead of regenerating
    * 64 hash components through interpreted lambdas per row. */
  def hyperplane(seed: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { i =>
      val hex = md.digest(s"$seed|$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 2000001L) / 1000000.0 - 1.0
    }.toArray
  }

  /** Signed random-hyperplane sketch bit for LSH bucketing: sign of the
    * dot product with [[hyperplane]] — reproducible on any cluster, no
    * RNG state. `dim` must match the vector length. */
  def hyperplaneBit(vec: Column, seed: Int, dim: Int): Column = {
    val proj = graft.expressions.VectorExpressions.dot(
      vec, typedlit(hyperplane(seed, dim)))
    // empty vector -> 0, matching the oracle (list_sum([]) is NULL,
    // which fails the >= 0 test); dot() would report 0.0 >= 0 -> 1
    when(size(vec) > 0 && proj >= 0, 1).otherwise(0)
  }
}
