package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Per-(probe, cell) asymmetric-distance (ADC) table, built EXECUTOR-SIDE
  * for both IVF-PQ query forms
  * ([[graft.operators.Similarity.IvfPqIndex.rankedCandidates]] and
  * `topKJoin`): given a probe vector and one of its probed cells, emit
  * the flat m×k table where entry `s*k + c` is the exact squared
  * distance between the probe's residual subvector in subspace `s`
  * (probe − cellCenter, dims beyond either length contribute 0) and
  * codebook entry `c`, accumulated sequentially over the subvector.
  *
  * Centers and codebooks ride as JVM arrays baked into the expression
  * (dimension-sized index state, the [[NearestSeed]]/[[PqEncode]]
  * broadcast pattern); probes therefore stay a DataFrame at ANY
  * cardinality, and no query collects them to the driver.
  */
case class PqAdcTable(left: Expression, right: Expression,
                      centers: Array[Array[Double]],
                      codebooks: Array[Array[Array[Double]]], subDim: Int)
    extends BinaryExpression {

  require(centers.nonEmpty && codebooks.nonEmpty && subDim > 0 &&
    codebooks.forall(_.length == codebooks.head.length),
    "non-empty centers, m >= 1 subspaces with UNIFORM codebook size (the " +
      "flat s*k+c table layout requires it), subDim > 0")

  private val kCodes = codebooks.head.length

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, int), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_adc_table"

  def compute(a: Any, cellAny: Any): ArrayData = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    val center = centers(cellAny.asInstanceOf[Int])
    val m = codebooks.length
    val out = new Array[Double](m * kCodes)
    var s = 0
    while (s < m) {
      val book = codebooks(s)
      var c = 0
      while (c < book.length) {
        val ctr = book(c)
        var dist = 0.0
        var j = 0
        while (j < ctr.length) {
          val off = s * subDim + j
          val pv = if (off < n && !v.isNullAt(off)) v.getDouble(off) else 0.0
          val cv = if (off < center.length) center(off) else 0.0
          val diff = (pv - cv) - ctr(j)
          dist += diff * diff
          j += 1
        }
        out(s * kCodes + c) = dist
        c += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any, c: Any): Any = compute(a, c)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) => {
      val ref = ctx.addReferenceObj("pqAdcTable", this, classOf[PqAdcTable].getName)
      s"${ev.value} = $ref.compute($a, $c);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqAdcTable =
    copy(left = newLeft, right = newRight)
}

/** ADC lookup-sum — the per-pair hot loop of the distributed IVF-PQ join:
  * given a probe's flat m×k distance table ([[PqAdcTable]]) and a corpus
  * vector's packed per-subspace codes, the approximate distance is
  * `Σ_s table[s*k + codes[s]]` — m array reads and adds per candidate
  * pair, raw corpus floats never touched (the FAISS ADC contract). Sum
  * order is subspace-ascending, the same order `rankedCandidates`'
  * groupBy-sum sees its m rows in all-but-guaranteed; callers round to 6
  * decimals before ranking, which absorbs the associativity slack (the
  * shuffle-sum tie-determinism rule).
  */
case class PqAdcSum(left: Expression, right: Expression, kCodes: Int)
    extends BinaryExpression {

  require(kCodes >= 1, "kCodes >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<int>), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc_sum"

  def compute(tAny: Any, cAny: Any): Double = {
    val table = tAny.asInstanceOf[ArrayData]
    val codes = cAny.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += table.getDouble(s * kCodes + codes.getInt(s))
      s += 1
    }
    acc
  }

  override protected def nullSafeEval(t: Any, c: Any): Any = compute(t, c)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) => {
      val ref = ctx.addReferenceObj("pqAdcSum", this, classOf[PqAdcSum].getName)
      s"${ev.value} = $ref.compute($t, $c);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqAdcSum =
    copy(left = newLeft, right = newRight)
}
