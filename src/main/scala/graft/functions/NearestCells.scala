package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Native Catalyst expression: the ids of the `n` centroids nearest to
  * a float vector, ordered by (score asc, cid asc) — the IVF router.
  *
  * score(v, c) = dot(v, c) · −2 + |c|², the squared L2 distance up to
  * the rank-invariant |v|². The dot accumulates left to right in double
  * and skips null elements, exactly as [[DotProductFD]]; |c|² is the
  * left-to-right sum of the squared components. Ordering follows
  * Spark's sort of a double column: −0.0 equals 0.0, NaN sorts after
  * every number, and a null vector (all scores null, nulls first)
  * routes to cells 0 … n−1. The same [[NearestCells.topN]] does the
  * assignment step of driver-side Lloyd's training, so training and
  * routing share one definition of score and tie-break.
  *
  * The centroid matrix is a constructor constant handed to generated
  * code by reference, so one compiled class serves every model; a
  * literal-array form would re-generate and re-compile the projection
  * for each new matrix. */
case class NearestCells(child: Expression, cents: Array[Array[Double]], n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  private val cn2: Array[Double] = NearestCells.norms(cents)

  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_nearest_cells"
  override def toString: String = s"$prettyName($child, ${cents.length} cells, top $n)"

  override def eval(input: InternalRow): Any =
    NearestCells.topN(child.eval(input).asInstanceOf[ArrayData], cents, cn2, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val cs = ctx.addReferenceObj("cents", cents, "double[][]")
    val norms = ctx.addReferenceObj("cn2", cn2, "double[]")
    ev.copy(code = code"""
      |${v.code}
      |final ArrayData ${ev.value} = graft.functions.NearestCells.topN(
      |  ${v.isNull} ? null : ${v.value}, $cs, $norms, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

object NearestCells {

  /** `graft_nearest_cells(v, cents, n)` as a Column over the float-array
    * column `v`. */
  def column(v: Column, cents: Array[Array[Double]], n: Int): Column = {
    import org.apache.spark.sql.graft.ExpressionColumns.{column => toColumn, expression}
    toColumn(NearestCells(expression(v), cents, n))
  }

  /** |c|² per centroid, summed left to right. */
  def norms(cents: Array[Array[Double]]): Array[Double] =
    cents.map(c => c.map(x => x * x).sum)

  /** Spark's double ordering: −0.0 == 0.0, NaN after every number. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** The cells nearest to `v` (null: cells 0 … n−1), at most `n`. */
  def topN(v: ArrayData, cents: Array[Array[Double]], cn2: Array[Double],
      n: Int): ArrayData = {
    val m = math.min(n, cents.length)
    val ids = new Array[Int](m)
    if (v == null) {
      var i = 0
      while (i < m) { ids(i) = i; i += 1 }
    } else {
      val best = new Array[Double](m)
      var filled = 0
      var c = 0
      while (c < cents.length) {
        val sc = score(v, cents(c), cn2(c))
        // cids arrive ascending, so an equal score never displaces a
        // kept cell: insert before the first strictly worse entry
        var p = filled
        while (p > 0 && cmp(sc, best(p - 1)) < 0) p -= 1
        if (p < m) {
          val last = math.min(filled, m - 1)
          System.arraycopy(best, p, best, p + 1, last - p)
          System.arraycopy(ids, p, ids, p + 1, last - p)
          best(p) = sc
          ids(p) = c
          if (filled < m) filled += 1
        }
        c += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(ids)
  }

  /** dot(v, c) · −2 + |c|², the dot as [[DotProductFD]] computes it. */
  def score(v: ArrayData, c: Array[Double], cn2: Double): Double = {
    val len = math.min(v.numElements(), c.length)
    var acc = 0.0
    var i = 0
    while (i < len) {
      if (!v.isNullAt(i)) acc += v.getFloat(i).toDouble * c(i)
      i += 1
    }
    acc * -2.0 + cn2
  }
}
