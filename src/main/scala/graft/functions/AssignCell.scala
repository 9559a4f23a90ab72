package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Nearest-centroid assignment as ONE per-row codegen'd expression — the
  * replacement for the N×k `crossJoin(broadcast(seeds))` + shuffled
  * `max(struct(cos, -cell))` argmax that every IVF/SemDeDup/k-means
  * assignment previously paid. Plan effect: the corpus is scanned once,
  * NOTHING shuffles (assignment is a projection), and the N×k row
  * explosion never exists.
  *
  * Bit-identity with the replaced formulation is by construction:
  *
  *  1. A DOUBLE-arithmetic prefilter scores all k centroids (plain IEEE
  *     dot/cosine — cheap) and keeps the cells within `margin` of the
  *     fast maximum. The margin (1e-6) exceeds the worst-case
  *     fast-vs-decimal cosine divergence by ~10⁷: per-term HALF_UP
  *     rounding at scale 16 contributes ≤ dim·5e-17 to the dot, IEEE
  *     summation error ≤ dim·ulp(|dot|) ≈ 5e-13 for unit-scale
  *     64-dim embeddings, and the norm/division propagation keeps the
  *     cosine gap under ~1e-12 — so any cell whose DECIMAL cosine could
  *     win is necessarily within 1e-6 of the fast max and survives.
  *  2. Survivors are rescored with the EXACT decimal contract — the same
  *     [[DecMath.decDotBoxed]]/[[DecMath.decDotMixed]] code path that
  *     [[DecimalDotExpr]] (= `Similarity.decDot`) runs, the same
  *     `dot / max(sqrt(vn2)·sqrt(cn2), 1e-12)` recomposition — and the
  *     argmax uses the same (cosine, -cell) order, ties to the smallest
  *     cell.
  *
  * `cn2s` MUST be the decimal-exact squared norms as Spark computed them
  * (collect them from a `Similarity.decNorm2` projection — k scalar rows,
  * the same bounded-driver-materialization class as the k-means model
  * collect), so the recomposed cosine is the identical double.
  *
  * A vector with a null element (or a length mismatch against every
  * centroid) yields a NULL cell — such rows do not occur in the gated
  * corpora and would poison the DataFrame formulation's cosine to null
  * anyway.
  */
case class AssignCellExpr(child: Expression,
                          centroids: Array[Array[Double]],
                          cn2s: Array[Double],
                          margin: Double) extends UnaryExpression {

  require(centroids.nonEmpty && centroids.length == cn2s.length,
    s"AssignCellExpr: ${centroids.length} centroids vs ${cn2s.length} norms")

  override def dataType: DataType = IntegerType

  // NULL possible for non-null input (null element / length mismatch) —
  // without this override codegen assigns to a literal-false isNull and
  // silently interpreter-falls-back (the DecimalDotExpr lesson)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"assign_cell expects array<float|double>, got ${other.simpleString}")
  }

  private lazy val vecIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    AssignCell.assign(v.asInstanceOf[ArrayData], vecIsFloat,
      centroids, cn2s, margin)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cents = ctx.addReferenceObj("centroids", centroids,
        "double[][]")
      val norms = ctx.addReferenceObj("cn2s", cn2s, "double[]")
      val r = ctx.freshName("cell")
      s"""
        |java.lang.Integer $r = graft.functions.AssignCell.assign(
        |  $v, $vecIsFloat, $cents, $norms, $margin);
        |if ($r == null) { ${ev.isNull} = true; }
        |else { ${ev.value} = $r.intValue(); }
      """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AssignCell {

  /** The per-row argmax: double prefilter, decimal rerank, (cos, -cell)
    * order. Static so generated code calls it directly. */
  def assign(v: ArrayData, vFloat: Boolean, cents: Array[Array[Double]],
             cn2s: Array[Double], margin: Double): java.lang.Integer = {
    val n = v.numElements()
    val xs = new Array[Double](n)
    var i = 0
    var fvn2 = 0.0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
      xs(i) = x
      fvn2 += x * x
      i += 1
    }
    val k = cents.length
    // pass 1: fast double cosines + running max
    val fast = new Array[Double](k)
    var fastMax = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      val ce = cents(c)
      if (ce.length == n) {
        var fdot = 0.0
        var j = 0
        while (j < n) { fdot += xs(j) * ce(j); j += 1 }
        val fc = fdot / math.max(math.sqrt(fvn2) * math.sqrt(cn2s(c)), 1e-12)
        fast(c) = fc
        if (fc > fastMax) fastMax = fc
      } else fast(c) = Double.NegativeInfinity
      c += 1
    }
    if (fastMax == Double.NegativeInfinity) return null // no length-matched cell
    // pass 2: decimal-exact rerank of the margin survivors
    val vn2Boxed = DecMath.decDotBoxed(v, vFloat, v, vFloat)
    if (vn2Boxed == null) return null
    val vn2 = vn2Boxed.doubleValue()
    var bestC = Double.NegativeInfinity
    var bestCell = -1
    c = 0
    while (c < k) {
      if (fast(c) >= fastMax - margin && cents(c).length == n) {
        val dot = DecMath.decDotMixed(v, vFloat, cents(c))
        if (dot != null) {
          val cos = dot.doubleValue() /
            math.max(math.sqrt(vn2) * math.sqrt(cn2s(c)), 1e-12)
          if (cos > bestC || (cos == bestC && c < bestCell)) {
            bestC = cos; bestCell = c
          }
        }
      }
      c += 1
    }
    if (bestCell < 0) null else java.lang.Integer.valueOf(bestCell)
  }
}
