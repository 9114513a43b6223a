package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused nearest-centroid assignment for trained (k-means) centers:
  * argmax over cells of the squared-distance-monotone score
  * 2·c·x − ||c||² (ties to the smaller cell index), returning
  * struct(cell, ccos) where ccos = round(cos(vec, winner), 9) — the
  * centroid-cosine [[graft.operators.Dedup.semanticDedupKMeans]]'s
  * keepFarthest survivor rank uses.
  *
  * Same motivation and structure as [[NearestSeed]] (the composable
  * array-of-structs + array_max chain pays ~100x the k·d multiply-adds
  * in literal-array and struct-ordering overhead); the difference is the
  * metric — k-means assignment is Euclidean, which only coincides with
  * cosine on normalized vectors — and that the old formulation computed
  * ALL k centroid cosines per row to index one; here only the winner's
  * is computed. Accumulation order matches [[DoubleDotProduct]] (null
  * elements contribute 0, shorter-prefix length); ||c||² folds at
  * construction with the same sequential sum.
  */
case class NearestCenter(child: Expression, centers: Array[Array[Double]],
                         tieHigh: Boolean = false)
    extends UnaryExpression {

  require(centers.nonEmpty, "at least one center")

  @transient private lazy val cNorm2: Array[Double] = CellScore.norms2(centers)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${dt.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("ccos", DoubleType, nullable = false)))

  override def prettyName: String = "graft_nearest_center"


  def compute(a: Any): InternalRow = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    var bestScore = Double.NegativeInfinity
    var bestCell = 0
    var bestDot = 0.0
    var c = 0
    while (c < centers.length) {
      val d = CellScore.dot(v, n, centers(c))
      val score = d * 2 - cNorm2(c)
      if (CellScore.ranksBefore(score, bestScore, tieHigh)) {
        bestScore = score; bestCell = c; bestDot = d
      }
      c += 1
    }
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) { val x = v.getDouble(i); ss += x * x }
      i += 1
    }
    val ccos = NativeMath.roundHalfUp(
      bestDot / (math.sqrt(ss) * math.sqrt(cNorm2(bestCell))), 9)
    InternalRow(bestCell, ccos)
  }

  override protected def nullSafeEval(a: Any): Any = compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("nearestCenter", this, classOf[NearestCenter].getName)
      s"${ev.value} = $ref.compute($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCenter =
    copy(child = newChild)
}

/** Top-n cell ranking for an IVF probe: every cell's
  * [[NearestCenter]] score 2·c·x − ||c||² (the same fold, the same NaN
  * and ±0.0 order), sorted best first, and the first `n` cell ids
  * returned in rank order (fewer when there are fewer cells). Among
  * equal scores `tieHigh` ranks the HIGHER cell first — the order of
  * `reverse(array_sort(array(struct(score, cell))))` — and the default
  * ranks the lower cell first. `n = 1, tieHigh` is
  * `NearestCenter(tieHigh = true).cell`.
  *
  * The centers ride as one parameter, so a plan carries the index's
  * routing state as one node whatever its size; the composable form
  * spells the centroid matrix as cells × dims literal nodes (3.1M at
  * 4,096 × 768), which Catalyst walks in every optimizer rule. One pass
  * over the cells keeps a bounded sorted buffer of the best `n`, with
  * no per-row allocation beyond it. A null vector yields null (no cells).
  */
case class NearestCells(child: Expression, centers: Array[Array[Double]],
                        n: Int, tieHigh: Boolean = false)
    extends UnaryExpression {

  require(centers.nonEmpty && n >= 0, "at least one center, n >= 0")

  @transient private lazy val cNorm2: Array[Double] = CellScore.norms2(centers)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_nearest_cells"

  def compute(a: Any): ArrayData = {
    val v = a.asInstanceOf[ArrayData]
    val len = v.numElements()
    val k = math.min(n, centers.length)
    val topScore = new Array[Double](k)
    val topCell = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < centers.length && k > 0) {
      val score = CellScore.dot(v, len, centers(c)) * 2 - cNorm2(c)
      // cells arrive in ascending order, so ranksBefore's tie arm alone
      // decides whether an equal score goes ahead of (tieHigh) or behind
      // the lower cells already held
      var i =
        if (filled < k) { filled += 1; filled - 1 }
        else if (CellScore.ranksBefore(score, topScore(k - 1), tieHigh)) k - 1
        else -1
      if (i >= 0) {
        while (i > 0 && CellScore.ranksBefore(score, topScore(i - 1), tieHigh)) {
          topScore(i) = topScore(i - 1); topCell(i) = topCell(i - 1)
          i -= 1
        }
        topScore(i) = score; topCell(i) = c
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(topCell)
  }

  override protected def nullSafeEval(a: Any): Any = compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("nearestCells", this, classOf[NearestCells].getName)
      s"${ev.value} = $ref.compute($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

/** The cell score arithmetic and rank order [[NearestCenter]] and
  * [[NearestCells]] share.
  */
private[functions] object CellScore {

  /** ||c||² per center, the sequential sum the score subtracts. */
  def norms2(centers: Array[Array[Double]]): Array[Double] =
    centers.map(_.map(x => x * x).sum)

  /** x·c over the shorter prefix, null elements contributing 0 — the
    * [[DoubleDotProduct]] accumulation order.
    */
  def dot(v: ArrayData, len: Int, ctr: Array[Double]): Double = {
    val m = math.min(len, ctr.length)
    var d = 0.0
    var j = 0
    while (j < m) {
      if (!v.isNullAt(j)) d += v.getDouble(j) * ctr(j)
      j += 1
    }
    d
  }

  /** Does `score` rank ahead of `other`, `score` belonging to the
    * higher cell? Spark's struct ordering: NaN is GREATER than
    * everything and NaN == NaN ties; tieHigh lets the higher cell win a
    * tie (struct max over (score, cell)). Double.compare gives that
    * total order, but is only consulted when a NaN is present: for
    * finite scores the IEEE operators keep -0.0 == 0.0 a tie
    * (Double.compare would rank them, changing finite tie-breaks).
    * Without the NaN arm a NaN-poisoned vector, whose every score is
    * NaN, would fall through to cell 0, since IEEE `>`/`==` are false.
    */
  def ranksBefore(score: Double, other: Double, tieHigh: Boolean): Boolean =
    if (java.lang.Double.isNaN(score) || java.lang.Double.isNaN(other)) {
      val cmp = java.lang.Double.compare(score, other)
      cmp > 0 || (tieHigh && cmp == 0)
    } else score > other || (tieHigh && score == other)
}
