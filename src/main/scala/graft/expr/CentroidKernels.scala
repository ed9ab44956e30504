package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `array<double>` vector → id of its nearest centroid by rounded cosine
  * (ties to the smaller id) — identical to the columnar
  * `Similarity.nearestCentroidColumnar` fold (cross-checked in tests),
  * but one fused primitive loop per row instead of an interpreted
  * `aggregate` lambda with a struct allocation per centroid. For a
  * 2^8..2^16-entry coarse codebook this fold dominates every IVF
  * assign/train/probe scan.
  *
  * Arithmetic contract (must stay bit-identical to the columnar twin the
  * oracle SQL mirrors): per centroid, the [[CosineSim]] accumulation
  * order (dot/na/nb in ascending dims, `sqrt(na)*sqrt(nb)`, 0.0 for zero
  * norms), then Spark `round(_, 6)` = BigDecimal HALF_UP. A length
  * mismatch or null element yields NULL (all centroids share the
  * codebook dim, so per-centroid nulls cannot differ).
  */
case class NearestCentroid(child: Expression, cents: Seq[(Long, Seq[Double])],
    rawScore: Boolean = false)
    extends UnaryExpression {
  require(cents.nonEmpty, "centroid set must be non-empty")

  @transient private lazy val ids: Array[Long] = cents.map(_._1).toArray
  @transient private lazy val vecs: Array[Array[Double]] = cents.map(_._2.toArray).toArray
  @transient private lazy val dim: Int = vecs(0).length

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<double>, got ${t.simpleString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_centroid"

  def kernel(arr: ArrayData): Any = {
    val n = arr.numElements()
    if (n != dim) return null
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      i += 1
    }
    val v = arr.toDoubleArray()
    var bestS = -2.0
    var bestC = Long.MaxValue
    var c = 0
    while (c < vecs.length) {
      val s = NearestCentroid.score(v, vecs(c), rawScore)
      if (s > bestS || (s == bestS && ids(c) < bestC)) { bestS = s; bestC = ids(c) }
      c += 1
    }
    bestC
  }

  override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ncn", this, classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      |Object r = $ref.kernel($c);
      |if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Long) r).longValue(); }
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {

  /** The scoring contract every IVF centroid choice shares (assign,
    * train, query probe): the [[CosineSim]] accumulation of `v` against
    * centroid `cv` (dot/na/nb in ascending dims, `sqrt(na)*sqrt(nb)`,
    * 0.0 for zero norms), then Spark `round(_, 6)` — BigDecimal.valueOf
    * (Double.toString), HALF_UP, NaN and infinities passed through.
    * Callers check `v.length == cv.length` (a mismatch is NULL upstream).
    *
    * rawScore: rank by the UNROUNDED cosine — bit-identical across
    * engines (same sequential IEEE ops), so an argmax carries no
    * round-boundary hazard (round-11 sf1 finding: a 7th-digit '5'
    * boundary rounded differently by the two engines and flipped an
    * assignment).
    */
  def score(v: Array[Double], cv: Array[Double], rawScore: Boolean): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var k = 0
    while (k < v.length) {
      val x = v(k); val y = cv(k)
      dot += x * y; na += x * x; nb += y * y
      k += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    val raw = if (d == 0.0) 0.0 else dot / d
    if (rawScore || raw.isNaN || raw.isInfinite) raw
    else java.math.BigDecimal.valueOf(raw)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}
