package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Native nearest-centroid kernel for the embedding-space hot path.
  *
  * Why it exists: the k-means/IVF assignment was a `greatest(struct(sim,
  * -cid), ...)` projection over k INDEPENDENT DotProduct expressions —
  * each traversing the vector array from scratch, so one assignment pass
  * costs k array walks plus a k-way struct comparison tree, and the plan
  * grows linearly in k (a 256-cell quantizer broadcast a ~1.2 MB task
  * binary and dominated the 1M-vector semantic-dedup wall time). This
  * kernel computes ALL k cosines in ONE loop over the vector (centroids
  * ride along as a plan-referenced object, the broadcast-small-model
  * pattern), returning struct(cell, sim).
  *
  * Argmax semantics are the greatest(struct(sim, -cid)) form it
  * replaces: per-centroid sim = dot(v, c) / (‖v‖·‖c‖) with left-to-right
  * summation (DotProduct's association), winner = max sim, ties broken
  * toward the SMALLEST centroid id (centroids are pre-sorted by id;
  * strict `Double.compare` keeps the first). NaN ordering matches Spark's
  * greatest (`Double.compare` puts NaN above every real), so a vector
  * with NaN COMPONENTS — all sims NaN — resolves to the smallest id in
  * both forms. The one place the forms differ is a zero-NORM vector:
  * Spark division by zero is NULL (non-ANSI) or DIVIDE_BY_ZERO (default
  * ANSI), never IEEE NaN, so the greatest form nulls every sim and falls
  * to the same smallest-id tiebreak (non-ANSI) or throws (ANSI) — the
  * kernel instead returns (smallest id, NaN) deterministically: same
  * cell, no throw, NaN instead of NULL in the sim. Zero-norm CENTROIDS
  * are rejected at construction (under NaN-largest ordering one would
  * swallow every vector — malformed model state fails fast, not
  * silently). Dimension mismatches throw rather than truncate.
  * VectorKernelsSpec pins all of the above against the struct-greatest
  * form under non-ANSI (IEEE-flavored) division.
  */
object VectorKernels {

  /** (cell id, cosine) of the nearest centroid. `cents`/`norms`/`ids`
    * MUST be sorted by id ascending (ties then resolve to min id); every
    * centroid must share the vector's dimension — mismatches throw
    * rather than truncate (centroids are uniform model state, so a
    * mismatch is malformed embedding data worth surfacing). */
  def nearestCentroid(v: ArrayData, cents: Array[Array[Double]],
      norms: Array[Double], ids: Array[Long]): InternalRow = {
    val arr = v.toDoubleArray()
    var s = 0.0
    var i = 0
    while (i < arr.length) { s += arr(i) * arr(i); i += 1 }
    val vn = math.sqrt(s)
    var best = 0
    var bestSim = Double.NaN
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      // Centroids are uniform model state derived from these vectors —
      // a dimension mismatch is malformed input, not a case to truncate
      // through silently (a partial dot would mis-assign and mask it).
      if (arr.length != cv.length) throw new IllegalArgumentException(
        s"nearest_centroid: vector dim ${arr.length} != centroid dim ${cv.length}")
      var dot = 0.0
      var j = 0
      val n = arr.length
      while (j < n) { dot += arr(j) * cv(j); j += 1 }
      val sim = dot / (vn * norms(c))
      // Double.compare orders NaN above every real — Spark's greatest
      // semantics; strict > keeps the FIRST (= smallest id) on ties
      if (c == 0 || java.lang.Double.compare(sim, bestSim) > 0) {
        best = c; bestSim = sim
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](ids(best), bestSim))
  }
}

/** struct(cell BIGINT, sim DOUBLE) of the nearest centroid by cosine. */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]],
    norms: Array[Double], ids: Array[Long]) extends UnaryExpression {
  require(cents.length > 0 && cents.length == norms.length &&
    cents.length == ids.length, "need >= 1 centroid with norms and ids")
  require(norms.forall(n => n > 0 && !n.isNaN),
    "zero/NaN-norm centroid: malformed model state (its NaN sim would " +
      "rank above every real sim and swallow every vector)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<DOUBLE>, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(v: Any): Any =
    VectorKernels.nearestCentroid(v.asInstanceOf[ArrayData], cents, norms, ids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val nRef = ctx.addReferenceObj("norms", norms, "double[]")
    val iRef = ctx.addReferenceObj("ids", ids, "long[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VectorKernels.nearestCentroid($v, $cRef, $nRef, $iRef)")
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
}

object NearestCentroid {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column API: centroids as (id, vector, norm) model-state triples —
    * any order; the expression sorts by id so tie-breaks are stable. */
  def nearest(v: Column, cents: Seq[(Long, Array[Double], Double)]): Column = {
    val sorted = cents.sortBy(_._1).toArray
    Bridge.column(NearestCentroid(Bridge.expression(v),
      sorted.map(_._2), sorted.map(_._3), sorted.map(_._1)))
  }
}
