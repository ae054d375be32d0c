package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the vector hot path.
  *
  * The built-in route (`zip_with` + `aggregate` higher-order functions)
  * evaluates per element through interpreted lambda plumbing with boxed
  * Doubles — measured ~45x slower than this codegen'd loop on the
  * embedding near-dup self-join. A pairwise O(n^2) operator cannot
  * afford an interpreted inner loop at any scale, so this is the
  * "custom Expression with doGenCode beats UDF beats interpreted"
  * preference order applied (SURVEY.md §7.3).
  *
  * Results are bit-identical to the higher-order formulation: same
  * left-to-right double accumulation, same dot/(||a||*||b||) form.
  *
  * Mismatched array lengths truncate to the shorter input (lenient by
  * design; the corpora here are fixed-width). Note DuckDB's
  * list_cosine_similarity ERRORS on mismatch, so corrupt-width data
  * fails loudly on the oracle side rather than silently diverging.
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<double>; the Column wrappers below enforce it
  // upstream with an explicit cast (ExpectsInputTypes is private[sql]),
  // and checkInputDataTypes rejects anything else at ANALYSIS time — the
  // SQL-registered form would otherwise read 8-byte strides over a
  // 4-byte-packed float array and return garbage without erroring.
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkDoubleArrays(prettyName, left, right)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    // NULL array element -> NULL result (reading the null ordinal would
    // silently yield 0.0; DuckDB's list distance functions return
    // NULL/error on NULL elements — never fabricate a similarity)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0.0) dot / denom else null
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val dot = ctx.freshName("dot")
    val na = ctx.freshName("na")
    val nb = ctx.freshName("nb")
    val xv = ctx.freshName("xv")
    val yv = ctx.freshName("yv")
    val denom = ctx.freshName("denom")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      double $dot = 0.0, $na = 0.0, $nb = 0.0;
      boolean ${ev.isNull}_el = false;
      for (int $i = 0; $i < $n; $i++) {
        if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull}_el = true; break; }
        double $xv = $a.getDouble($i);
        double $yv = $b.getDouble($i);
        $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
      }
      double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
      if (!${ev.isNull}_el && $denom > 0.0) { ${ev.value} = $dot / $denom; }
      else { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd dot product over two double arrays (same loop, no norms). */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkDoubleArrays(prettyName, left, right)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // NULL array element -> NULL
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getDouble(i) * y.getDouble(i); i += 1
    }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val dot = ctx.freshName("dot")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      double $dot = 0.0;
      boolean ${ev.isNull}_el = false;
      for (int $i = 0; $i < $n; $i++) {
        if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull}_el = true; break; }
        $dot += $a.getDouble($i) * $b.getDouble($i);
      }
      if (${ev.isNull}_el) { ${ev.isNull} = true; } else { ${ev.value} = $dot; }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Product-quantization encode: split a `dim`-vector into `m`
  * subvectors; per subspace pick the codebook row with minimum squared
  * L2 distance (computed as ip(a,a) - 2ip(a,b) + ip(b,b), each inner
  * product a sequential left fold — bit-matching DuckDB's
  * list_inner_product over the same slices). Ties keep the LOWEST
  * codebook index. Returns struct(codes array<long>, err double) where
  * err is the left-fold (by subspace order) sum of per-subspace minimum
  * distances — the reconstruction error.
  *
  * The codebook is a driver-built literal (k rows, bounded by the
  * quantizer-size contract), so encoding is MAP-ONLY at any corpus
  * size — the property that makes PQ the memory-scale path for ANN
  * (codes are m bytes-ish per vector instead of dim doubles).
  * A vector whose width differs from the codebook's -> null.
  * CodegenFallback: the per-row m*k*sub flop loop dominates the one
  * virtual call.
  */
case class PqEncodeExpr(child: Expression, codebook: Seq[Seq[Double]], m: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(m >= 1, s"pq m must be >= 1, got $m")
  require(codebook.nonEmpty, "pq codebook must be non-empty")
  private val dim = codebook.head.length
  require(codebook.forall(_.length == dim),
    "pq codebook rows must share one width")
  require(dim % m == 0, s"vector dim $dim must divide into $m subspaces")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("codes",
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = false),
      nullable = false),
    org.apache.spark.sql.types.StructField("err", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val cb: Array[Array[Double]] =
    codebook.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) return null
    val sub = dim / m
    val codes = new Array[Long](m)
    var err = 0.0
    var j = 0
    while (j < m) {
      var best = -1
      var bestD = 0.0
      var c = 0
      while (c < cb.length) {
        var ipaa = 0.0; var ipab = 0.0; var ipbb = 0.0
        var i = j * sub
        val end = (j + 1) * sub
        while (i < end) {
          if (v.isNullAt(i)) return null
          val a = v.getDouble(i); val b = cb(c)(i)
          ipaa += a * a; ipab += a * b; ipbb += b * b
          i += 1
        }
        val d2 = ipaa - 2 * ipab + ipbb
        if (best < 0 || d2 < bestD) { best = c; bestD = d2 }
        c += 1
      }
      codes(j) = best.toLong
      err += bestD
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes), err)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid cell assignment in ONE compiled call per row: the
  * cell id whose centroid has the highest round-6dp cosine to the input
  * vector, lowest cell id on ties — EXACTLY the semantics of the
  * cross-join + row_number window formulation it replaces
  * (`round(cosine) DESC, cell ASC, rn = 1`), with the centroids as a
  * driver-built literal codebook (rows aligned with `cellIds`, which
  * must be ascending). The window version shuffles corpus×k rows on id
  * to pick a per-row argmax; this is a map-only projection — zero
  * shuffle at any corpus size, the same literal-codebook contract as
  * [[PqEncodeExpr]].
  *
  * Rounding matches Spark's round(x, 6) (BigDecimal HALF_UP) and
  * DuckDB's round (half away from zero — identical for the halves that
  * can arise here). Cosine is the same left-fold dot/(||a||·||b||) as
  * [[CosineSimilarityExpr]], truncating to the shorter width. NULL
  * element or degenerate input -> NULL (upstream filters exclude both).
  */
case class NearestCellExpr(child: Expression, codebook: Seq[Seq[Double]],
                           cellIds: Seq[Long], metric: String = "cos")
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(codebook.nonEmpty, "nearest-cell codebook must be non-empty")
  require(codebook.length == cellIds.length,
    s"codebook has ${codebook.length} rows for ${cellIds.length} cell ids")
  require(cellIds.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "cellIds must be strictly ascending (tie rule: lowest cell id wins)")
  // "cos": highest round-6dp cosine wins (the IVF/SemDeDup contract).
  // "l2": lowest round-6dp squared-L2 wins (the PQ-training geometry —
  // the same ipaa − 2·ipab + ipbb fold as PqEncodeExpr, so a k-means
  // trained under this metric optimizes exactly what encoding argmins).
  require(metric == "cos" || metric == "l2", s"unknown metric '$metric'")
  private val cbDim = codebook.head.length
  require(codebook.forall(_.length == cbDim),
    "nearest-cell codebook rows must share one width")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_cell"

  @transient private lazy val cb: Array[Array[Double]] =
    codebook.map(_.toArray).toArray
  @transient private lazy val cbNorm: Array[Double] =
    cb.map(r => math.sqrt(r.map(x => x * x).sum))
  // Σ c² per row as a sequential left fold — must match the oracle's
  // list_inner_product(c, c) accumulation exactly (the sqrt-based
  // cbNorm above cannot be squared back: sqrt then square re-rounds)
  @transient private lazy val cbSq: Array[Double] =
    cb.map { r =>
      var s = 0.0; var k = 0
      while (k < r.length) { s += r(k) * r(k); k += 1 }
      s
    }
  private val isCos = metric == "cos"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    // hoist the centroid-independent work out of the per-centroid loop:
    // one null scan + unbox + norm accumulation per ROW, not per
    // (row × centroid) — this is the hot map-only path the expression
    // exists to keep cheap. Codebook rows share one width (require
    // above), so the truncation length is fixed per row.
    val n = math.min(v.numElements(), cbDim)
    val xs = new Array[Double](n)
    var na = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val xv = v.getDouble(i)
      xs(i) = xv; na += xv * xv
      i += 1
    }
    var best = -1
    var bestD = 0.0
    var c = 0
    while (c < cb.length) {
      val row = cb(c)
      var dot = 0.0
      i = 0
      while (i < n) { dot += xs(i) * row(i); i += 1 }
      // TRUNCATED centroid slice when widths differ — the same
      // lenient-truncation semantics as CosineSimilarityExpr
      val truncated = n != row.length
      val raw =
        if (isCos) {
          val nb = if (truncated) {
            var s = 0.0; var k = 0
            while (k < n) { s += row(k) * row(k); k += 1 }
            math.sqrt(s)
          } else cbNorm(c)
          val denom = math.sqrt(na) * nb
          if (denom > 0.0) dot / denom else Double.NaN // skip below
        } else {
          val nbSq = if (truncated) {
            var s = 0.0; var k = 0
            while (k < n) { s += row(k) * row(k); k += 1 }
            s
          } else cbSq(c)
          na - 2 * dot + nbSq // the PqEncodeExpr / e04-oracle d² fold
        }
      // defense-in-depth: Similarity.nonDegenerate excludes non-finite
      // vectors upstream (dot(v,v) must be finite — ADVICE r6, mirrored
      // in every oracle's e CTE), so a NaN here is unreachable through
      // the operators; SQL users bypassing that filter still must not
      // crash the stage (BigDecimal.valueOf(NaN) throws) — skip the
      // candidate (all-NaN rows return NULL and drop from the join).
      // Cosine's zero-denominator candidates skip through the same
      // guard (NaN above).
      if (java.lang.Double.isFinite(raw)) {
        val d = java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        // cos maximizes, l2 minimizes; strict compare keeps the lowest
        // cell id on round-6dp ties in both
        if (best < 0 || (if (isCos) d > bestD else d < bestD)) {
          best = c; bestD = d
        }
      }
      c += 1
    }
    if (best < 0) null else cellIds(best)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Coarse-quantizer residual: v − centroid(cell), elementwise — the
  * IVFADC encoding input (Jégou et al. 2011; [[graft.operators
  * .Similarity.ivfPqResidualTopK]]). The centroid codebook is a
  * driver-built literal (rows = cells 0..k−1, the [[graft.operators
  * .KMeans.Model]] contract), `right` is the row's assigned cell id —
  * so the subtraction is MAP-ONLY at any corpus size. No rounding:
  * both engines subtract the identical parquet double from the
  * identical grid-exact centroid double, and one IEEE subtraction of
  * equal operands is equal everywhere. Width mismatch or out-of-range
  * cell -> NULL (the fixed-width corpus contract); NULL element ->
  * NULL. CodegenFallback: one virtual call around a dim-length loop. */
case class CellResidualExpr(left: Expression, right: Expression,
                            codebook: Seq[Seq[Double]])
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(codebook.nonEmpty, "residual codebook must be non-empty")
  private val dim = codebook.head.length
  require(codebook.forall(_.length == dim),
    "residual codebook rows must share one width")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), org.apache.spark.sql.types.LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, bigint), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cell_residual"

  @transient private lazy val cb: Array[Array[Double]] =
    codebook.map(_.toArray).toArray

  override def nullSafeEval(v0: Any, cell0: Any): Any = {
    val v = v0.asInstanceOf[ArrayData]
    val cell = cell0.asInstanceOf[Long]
    if (v.numElements() != dim || cell < 0 || cell >= cb.length) return null
    val c = cb(cell.toInt)
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      out(i) = v.getDouble(i) - c(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dense matrix-vector rotation w = R·v — the applicator for
  * [[graft.operators.Opq.fitParametric]]'s LEARNED orthogonal R (a
  * Householder product factors through [[HouseholderRotateExpr]]; a
  * Procrustes-updated R is a general dense orthogonal matrix). Rows of
  * `matrix` are driver-built literals, so application is MAP-ONLY
  * (dim² multiply-adds per row, left-fold per output coordinate).
  * Full precision, no rounding: the parametric fit is a
  * declared-divergence operator with no SQL replay. Width mismatch or
  * NULL element -> NULL. CodegenFallback. */
case class MatrixRotateExpr(child: Expression, matrix: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(matrix.nonEmpty, "rotation matrix must be non-empty")
  private val dim = matrix.head.length
  require(matrix.length == dim && matrix.forall(_.length == dim),
    "rotation matrix must be square")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_matrix_rotate"

  @transient private lazy val m: Array[Array[Double]] =
    matrix.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) return null
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      x(i) = v.getDouble(i)
      i += 1
    }
    val out = new Array[Double](dim)
    i = 0
    while (i < dim) {
      val row = m(i)
      var s = 0.0
      var j = 0
      while (j < dim) { s += row(j) * x(j); j += 1 }
      out(i) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Orthogonal rotation as a product of Householder reflections — the
  * OPQ pre-transform ([[graft.operators.Opq]]): w := w − (2·⟨u,w⟩/⟨u,u⟩)·u
  * applied for each reflector in order, then every coordinate rounded to
  * `dp` decimals (the cross-engine stability grid — the fit/search
  * pipeline downstream consumes only the rounded values). Each inner
  * product is a sequential left fold in index order, bit-matching
  * DuckDB's list_inner_product over the same lists; the scalar is
  * (2·⟨u,w⟩)/⟨u,u⟩ with exactly that association, mirrored in the
  * oracle's SQL. Reflectors are driver-built literals (md5-seeded,
  * data-independent), so rotation is MAP-ONLY at any corpus size.
  *
  * A vector whose width differs from the reflectors' -> NULL (the
  * fixed-width corpus contract, as [[PqEncodeExpr]]); NULL element ->
  * NULL. CodegenFallback: the p·dim flop loop dominates the virtual
  * call. */
case class HouseholderRotateExpr(child: Expression,
                                 reflectors: Seq[Seq[Double]], dp: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(reflectors.nonEmpty, "need at least one reflector")
  private val dim = reflectors.head.length
  require(reflectors.forall(_.length == dim),
    "reflectors must share one width")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_householder_rotate"

  @transient private lazy val us: Array[Array[Double]] =
    reflectors.map(_.toArray).toArray
  // ⟨u,u⟩ per reflector, same in-order fold the oracle's
  // list_inner_product(u, u) performs over identical doubles
  @transient private lazy val uSq: Array[Double] = us.map { u =>
    var s = 0.0; var i = 0
    while (i < u.length) { s += u(i) * u(i); i += 1 }
    require(s > 0.0, "degenerate (zero) reflector")
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) return null
    val w = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      w(i) = v.getDouble(i)
      i += 1
    }
    var r = 0
    while (r < us.length) {
      val u = us(r)
      var ip = 0.0
      i = 0
      while (i < dim) { ip += u(i) * w(i); i += 1 }
      val c = (2.0 * ip) / uSq(r)
      i = 0
      while (i < dim) { w(i) = w(i) - c * u(i); i += 1 }
      r += 1
    }
    i = 0
    while (i < dim) {
      w(i) = java.math.BigDecimal.valueOf(w(i))
        .setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue()
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(w)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {

  /** Analysis-time input check shared by the vector expressions: both
    * children must already be array<double> (the Column wrappers cast;
    * SQL users must CAST explicitly — accepting array<float> silently
    * would read misaligned bytes at runtime). */
  private[expressions] def checkDoubleArrays(
      name: String, left: Expression, right: Expression): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires two array<double> arguments " +
        s"(got ${left.dataType.simpleString}, ${right.dataType.simpleString}); " +
        "CAST(x AS ARRAY<DOUBLE>) float embeddings first")
  }
  /** Column wrappers (inputs must already be array<double>). Spark 4's
    * Column is API-agnostic; the classic bridge converts to/from the
    * catalyst Expression world. */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarityExpr(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProductExpr(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>"))))
  def pqEncode(v: Column, codebook: Seq[Seq[Double]], m: Int): Column =
    Bridge.column(PqEncodeExpr(
      Bridge.expression(v.cast("array<double>")), codebook, m))
  def nearestCell(v: Column, codebook: Seq[Seq[Double]],
                  cellIds: Seq[Long], metric: String = "cos"): Column =
    Bridge.column(NearestCellExpr(
      Bridge.expression(v.cast("array<double>")), codebook, cellIds, metric))
  def householderRotate(v: Column, reflectors: Seq[Seq[Double]],
                        dp: Int = 6): Column =
    Bridge.column(HouseholderRotateExpr(
      Bridge.expression(v.cast("array<double>")), reflectors, dp))
  def cellResidual(v: Column, cell: Column,
                   codebook: Seq[Seq[Double]]): Column =
    Bridge.column(CellResidualExpr(
      Bridge.expression(v.cast("array<double>")),
      Bridge.expression(cell.cast("bigint")), codebook))
  def matrixRotate(v: Column, matrix: Seq[Seq[Double]]): Column =
    Bridge.column(MatrixRotateExpr(
      Bridge.expression(v.cast("array<double>")), matrix))
  def intCosKey(a: Column, b: Column): Column =
    Bridge.column(IntCosKeyExpr(
      Bridge.expression(a.cast("array<double>")),
      Bridge.expression(b.cast("array<double>")), 100000L))
}

/** EXACT-INTEGER cosine ranking key — floor(1e6·|cos(aq, bq)|)·sign,
  * where aq/bq are the micro-quantized vectors
  * `floor(x·quant + 0.5)` (VERDICT r13 next-#1b: the e24 sweep's gate
  * aggregates ~4 windows of round(cosine,6) rank comparisons into 4
  * integer counts, so ONE cross-engine float flip anywhere in the
  * candidate lists flips the output; this key removes every
  * float-comparison surface from the gate).
  *
  * Why every step is engine-exact:
  *  - the inputs are float-origin embeddings: a 24-bit mantissa times
  *    quant ≤ 2^20 stays under 53 bits, so `x·quant + 0.5` and its
  *    floor are EXACT doubles — the quantized integers are
  *    bit-deterministic, no rounding, no contraction window;
  *  - dot/norms are integer sums (overflow-checked, loud);
  *  - key = sign(dot)·isqrt((10⁶·|dot|)² div (na·nb)) — by
  *    floor(√(floor(z))) = floor(√z), this IS floor(10⁶·|cos|) of the
  *    quantized vectors, computed in pure integer arithmetic
  *    (BigInteger for the 128-bit square; the final isqrt over
  *    z ≤ 10¹² uses a libm seed CORRECTED by integer comparisons, so
  *    the libm value cannot affect the result).
  *
  * NULL when either quantized vector is all-zero (the degenerate
  * contract — both engines must also FILTER such rows; a NULL key
  * would otherwise meet Spark's nulls-last-DESC vs DuckDB's
  * nulls-first-DESC defaults).
  *
  * Oracle twin (DataQueries.e24Sql): list_transform quantization,
  * list_inner_product over values < 2^53 (every partial sum exact in
  * a double, any order), HUGEINT square/divide, float-seeded
  * integer-clamped sqrt.
  */
case class IntCosKeyExpr(left: Expression, right: Expression, quant: Long)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(quant >= 1L && quant <= (1L << 20),
    s"quant must be in [1, 2^20] to keep float quantization exact, got $quant")

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkDoubleArrays(prettyName, left, right)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_int_cos_key"

  private val Scale = 1000000L

  override def nullSafeEval(a: Any, b: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val bv = b.asInstanceOf[ArrayData]
    // mismatched widths fail LOUDLY like the overflow guards below —
    // the DuckDB twin's list_inner_product errors on mismatch, and one
    // engine silently ranking a truncated prefix while the other
    // errors is exactly the divergence class this key exists to kill
    // (review r14)
    if (av.numElements() != bv.numElements())
      throw new ArithmeticException(
        s"$prettyName: vector widths differ " +
          s"(${av.numElements()} vs ${bv.numElements()})")
    val n = av.numElements()
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      // exact for float-origin values (24-bit mantissa · quant < 2^53)
      val qa = math.floor(av.getDouble(i) * quant + 0.5).toLong
      val qb = math.floor(bv.getDouble(i) * quant + 0.5).toLong
      // addExact/multiplyExact: out-of-contract magnitudes fail LOUDLY
      // (the ANSI posture), never wrap into a silently-wrong key
      dot = Math.addExact(dot, Math.multiplyExact(qa, qb))
      na = Math.addExact(na, Math.multiplyExact(qa, qa))
      nb = Math.addExact(nb, Math.multiplyExact(qb, qb))
      i += 1
    }
    if (na == 0L || nb == 0L) return null
    val h = java.math.BigInteger.valueOf(Math.multiplyExact(Scale, math.abs(dot)))
    val z = h.multiply(h)
      .divide(java.math.BigInteger.valueOf(na)
        .multiply(java.math.BigInteger.valueOf(nb)))
      .longValueExact() // ≤ 1e12 by Cauchy-Schwarz on the integers
    var s = math.sqrt(z.toDouble).toLong // seed only; clamp decides
    while ((s + 1L) * (s + 1L) <= z) s += 1L
    while (s > 0L && s * s > z) s -= 1L
    if (dot >= 0L) s else -s
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
