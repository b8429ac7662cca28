package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The `nProbe` nearest IVF cells of `vec/nrm`, by the same
  * cosine-consistent distance the unrolled plan used
  * (`dᵢ = ‖cᵢ‖² − 2·(v·cᵢ)/‖v‖`, the per-row constant 1 dropped),
  * ties broken toward the lower cell index — output order is
  * ascending distance, so element 1 is the assignment cell.
  *
  * Same compile-time rationale as [[SignBuckets]]: unrolling nCells
  * literal-centroid dot products into `least()`/`array_sort` structs
  * generates O(cells·dim) Java per query — at the √n-derived 23-cell
  * config that is ~1.5k expression terms janino recompiles per plan.
  * Here the centroid matrix is one reference object and codegen is a
  * single call site at any cell count. */
case class CentroidCells(left: Expression, right: Expression,
                         centroids: Array[Array[Double]], nProbe: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (v, s) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got ${v.catalogString}, ${s.catalogString}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "centroid_cells"

  private lazy val normSq: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  def compute(vec: ArrayData, nrm: Double): ArrayData = {
    val k = math.min(nProbe, centroids.length)
    val n = vec.numElements()
    val bestD = Array.fill(k)(Double.PositiveInfinity)
    val bestC = Array.fill(k)(-1)
    var c = 0
    while (c < centroids.length) {
      val ctr = centroids(c)
      require(ctr.length == n,
        s"centroid_cells: vector dim $n != centroid dim ${ctr.length}")
      var dot = 0.0
      var i = 0
      while (i < n) { dot += vec.getDouble(i) * ctr(i); i += 1 }
      val d = normSq(c) - 2.0 * dot / nrm
      // insertion keeps ascending (d, cell) order; strict < plus
      // ascending scan order breaks ties toward the lower cell index
      var pos = k
      while (pos > 0 && d < bestD(pos - 1)) pos -= 1
      if (pos < k) {
        var j = k - 1
        while (j > pos) { bestD(j) = bestD(j - 1); bestC(j) = bestC(j - 1); j -= 1 }
        bestD(pos) = d; bestC(pos) = c
      }
      c += 1
    }
    // all-NaN distances (a NaN vector component passes the SQL
    // `nrm > 0` guard — Spark orders NaN above every real) never beat
    // the +Inf initializer; map the -1 sentinels to cell 0 rather
    // than letting a caller index coarse(-1)
    var j = 0
    while (j < k) { if (bestC(j) < 0) bestC(j) = 0; j += 1 }
    new GenericArrayData(bestC.take(k))
  }

  override def nullSafeEval(vec: Any, nrm: Any): Any =
    compute(vec.asInstanceOf[ArrayData], nrm.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("centroidCells", this, classOf[CentroidCells].getName)
    defineCodeGen(ctx, ev, (v, s) => s"$self.compute($v, $s)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CentroidCells =
    copy(left = l, right = r)
}

object CentroidCells {
  /** [[CentroidCells.compute]] over fixed centroids, for a driver path
    * that must order cells exactly as the plan does. */
  private[graft] def onDriver(centroids: Seq[Seq[Double]],
                              nProbe: Int): (ArrayData, Double) => ArrayData =
    CentroidCells(Literal.create(null, ArrayType(DoubleType)), Literal(0.0),
      centroids.map(_.toArray).toArray, nProbe).compute

  def centroidCells(vec: Column, nrm: Column, centroids: Seq[Seq[Double]],
                    nProbe: Int): Column =
    Bridge.column(CentroidCells(Bridge.expression(vec), Bridge.expression(nrm),
      centroids.map(_.toArray).toArray, nProbe))
}
