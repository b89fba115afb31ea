package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Primitive-loop kernels for the sparse BigCLAM hot path.
  *
  * Why these exist: Spark higher-order functions (`transform`/`aggregate`/
  * `zip_with`) are never whole-stage-codegen'd — each lambda application
  * walks an interpreted expression tree and boxes every element. The sparse
  * line search evaluated 16 candidate steps × an O(nnz) fold × a map probe
  * per element **per edge row** through that interpreter; a thread dump of
  * the Email-Enron K=1000 run showed every executor thread inside
  * `ArrayTransform.nullSafeEval` and single tasks burning 40+ CPU-minutes.
  * These kernels do the same arithmetic as ONE tight JVM loop over the
  * sorted (index, value) arrays — the same treatment [[DotProduct]] gives
  * the dense dot.
  *
  * Bit-exactness contract (the HOF forms these replaced are the reference;
  * PropertySpec checks a full fitSparse iteration against a plain-Scala
  * re-derivation of the step): contributions accumulate in ascending-index
  * order, exactly like the HOF folds they replace; skipped dims correspond to
  * adding +0.0 in the HOF form, which is an exact FP no-op for the
  * non-negative products involved; clip/exp/log use the same
  * `java.lang.Math` entry points Catalyst's least/greatest/exp/log compile
  * to on non-NaN doubles.
  */
object SparseKernels {

  /** dot(a, b) of two sparse rows, both index-sorted: two-pointer merge,
    * O(nnz_a + nnz_b), no map build. */
  def sparseDot(ai: ArrayData, av: ArrayData, bi: ArrayData, bv: ArrayData): Double = {
    val na = ai.numElements()
    val nb = bi.numElements()
    var ia = 0
    var ib = 0
    var sum = 0.0
    while (ia < na && ib < nb) {
      val da = ai.getInt(ia)
      val db = bi.getInt(ib)
      if (da == db) { sum += av.getDouble(ia) * bv.getDouble(ib); ia += 1; ib += 1 }
      else if (da < db) ia += 1
      else ib += 1
    }
    sum
  }

  /** Per-edge candidate line-search terms, all steps in one pass.
    *
    * For each step t: dot_t = Σ_d clip(fu[d] + t·g[d], minF, maxF) · fv[d]
    * over d ∈ support(fu) ∪ support(g) (a merge walk of the two sorted
    * index arrays, with a third pointer advancing through fv's support);
    * term_t = log(1 − clip(exp(−dot_t), minP, maxP)) + dot_t.
    * Complexity O(nnz_fu + nnz_g + nnz_fv + matches × steps). */
  def stepTerms(ui: ArrayData, uv: ArrayData, gi: ArrayData, gv: ArrayData,
      vi: ArrayData, vv: ArrayData, steps: ArrayData,
      minF: Double, maxF: Double, minP: Double, maxP: Double): ArrayData = {
    val nu = ui.numElements()
    val ng = gi.numElements()
    val nv = vi.numElements()
    val ns = steps.numElements()
    val dots = new Array[Double](ns)
    var iu = 0
    var ig = 0
    var iv = 0
    while ((iu < nu || ig < ng) && iv < nv) {
      val du = if (iu < nu) ui.getInt(iu) else Int.MaxValue
      val dg = if (ig < ng) gi.getInt(ig) else Int.MaxValue
      val d = if (du < dg) du else dg
      while (iv < nv && vi.getInt(iv) < d) iv += 1
      if (iv < nv && vi.getInt(iv) == d) {
        val a = if (du == d) uv.getDouble(iu) else 0.0
        val g = if (dg == d) gv.getDouble(ig) else 0.0
        val w = vv.getDouble(iv)
        var s = 0
        while (s < ns) {
          var x = a + steps.getDouble(s) * g
          if (x < minF) x = minF
          if (x > maxF) x = maxF
          dots(s) += x * w
          s += 1
        }
      }
      if (du == d) iu += 1
      if (dg == d) ig += 1
    }
    val terms = new Array[Double](ns)
    var s = 0
    while (s < ns) {
      val dv = dots(s)
      // StrictMath, not Math: Catalyst's Exp/Log compile to StrictMath for
      // platform-independent results, and the intrinsic Math versions can
      // differ by 1 ulp — enough to fail the bit-exact parity tests
      var pc = StrictMath.exp(-dv)
      if (pc < minP) pc = minP
      if (pc > maxP) pc = maxP
      terms(s) = StrictMath.log(1.0 - pc) + dv
      s += 1
    }
    new GenericArrayData(terms)
  }

  /** Whole Armijo step selection for one node, one tight loop.
    *
    * base = merge of (ui, uv) and (gi, gv) by ascending index. For each
    * step t (in order): fnew = clip(a + t·g, minF, maxF) over base, zeros
    * dropped; llhNew = terms[s] − Σ fnew·sumF + Σ fnew·fu; accept the FIRST
    * step with llhNew ≥ llh + alpha·t·‖P(∇)‖². Returns (fi_new, fv_new) of
    * the accepted step, or null when no step passes (the node stays put).
    *
    * Replaces the per-node HOF pipeline (16-step filter × sparseFnewAt
    * transform × two aggregate folds probing `element_at(map_from_arrays(
    * ui, uv), i)`) whose map literal was REBUILT per element probe —
    * O(steps · nnz²) interpreted boxed evals per node, the measured
    * dominant cost of a sparse iteration once the per-edge terms went
    * native (98k-node power-law probe: ~1040 s/iter before). Bit-exact:
    * ascending-index accumulation, same clip comparisons, and dropped
    * zeros match the HOF's `filter(v =!= 0.0)` (Java `-0.0 != 0.0` is
    * false, exactly like Catalyst's equality there). */
  def lineStep(ui: ArrayData, uv: ArrayData, gi: ArrayData, gv: ArrayData,
      terms: ArrayData, steps: ArrayData, sumF: ArrayData,
      llh: Double, gnorm2: Double, alpha: Double,
      minF: Double, maxF: Double): InternalRow = {
    val nu = ui.numElements()
    val ng = gi.numElements()
    // merged support: index, fu value (a), gradient value (g)
    val bi = new Array[Int](nu + ng)
    val ba = new Array[Double](nu + ng)
    val bg = new Array[Double](nu + ng)
    var iu = 0
    var ig = 0
    var nb = 0
    while (iu < nu || ig < ng) {
      val du = if (iu < nu) ui.getInt(iu) else Int.MaxValue
      val dg = if (ig < ng) gi.getInt(ig) else Int.MaxValue
      val d = if (du < dg) du else dg
      bi(nb) = d
      ba(nb) = if (du == d) uv.getDouble(iu) else 0.0
      bg(nb) = if (dg == d) gv.getDouble(ig) else 0.0
      if (du == d) iu += 1
      if (dg == d) ig += 1
      nb += 1
    }
    val ns = steps.numElements()
    var s = 0
    while (s < ns) {
      val t = steps.getDouble(s)
      var dotSumF = 0.0
      var dotFu = 0.0
      var nnz = 0
      var j = 0
      while (j < nb) {
        var x = ba(j) + t * bg(j)
        if (x < minF) x = minF
        if (x > maxF) x = maxF
        if (x != 0.0) {
          dotSumF += x * sumF.getDouble(bi(j))
          dotFu += x * ba(j)
          nnz += 1
        }
        j += 1
      }
      val llhNew = terms.getDouble(s) - dotSumF + dotFu
      if (llhNew >= llh + alpha * t * gnorm2) {
        val fi = new Array[Int](nnz)
        val fv = new Array[Double](nnz)
        var k = 0
        j = 0
        while (j < nb) {
          var x = ba(j) + t * bg(j)
          if (x < minF) x = minF
          if (x > maxF) x = maxF
          if (x != 0.0) { fi(k) = bi(j); fv(k) = x; k += 1 }
          j += 1
        }
        return InternalRow(new GenericArrayData(fi), new GenericArrayData(fv))
      }
      s += 1
    }
    null
  }

  /** Per-node sparse gradient state — the graw/filter/cap/gnorm2 block of
    * `nodeStateSparse` as one loop. Support = sorted union of support(fu)
    * and the neighbor-gradient dims; per dim d:
    * v = (g_neigh(d) − sumF[d]) + fu(d) (that float association, exactly
    * like the HOF), kept unless pinned-at-a-bound-against-v OR v == 0
    * (the HOF's `projected(s) =!= 0.0` drops natural zeros too). With
    * cap m ≥ 0: keep the m largest by (|v| desc, index asc), re-sorted by
    * index. gnorm2 = Σv² over the kept entries in ascending-index order.
    *
    * Replaces a transform whose per-element `element_at(map, i)` probes
    * were linear scans of a per-row MapData plus an interpreted lambda —
    * O(nnz²) boxed evals per node, the same pathology [[lineStep]] fixed
    * in the line search. */
  def sparseGradState(ui: ArrayData, uv: ArrayData, gk: ArrayData, gvs: ArrayData,
      sumF: ArrayData, minF: Double, maxF: Double, cap: Int): InternalRow = {
    val ng = gk.numElements()
    // gradient dims arrive in collect_list order — sort (keys are unique)
    val ks = new Array[Int](ng)
    val vs = new Array[Double](ng)
    var i = 0
    while (i < ng) { ks(i) = gk.getInt(i); vs(i) = gvs.getDouble(i); i += 1 }
    // insertion sort by key: ng is a node's neighbor-dim count, small
    i = 1
    while (i < ng) {
      val k = ks(i); val v = vs(i)
      var j = i - 1
      while (j >= 0 && ks(j) > k) { ks(j + 1) = ks(j); vs(j + 1) = vs(j); j -= 1 }
      ks(j + 1) = k; vs(j + 1) = v
      i += 1
    }
    val nu = ui.numElements()
    val ki = new Array[Int](nu + ng)
    val kv = new Array[Double](nu + ng)
    var iu = 0
    var ig = 0
    var nk = 0
    while (iu < nu || ig < ng) {
      val du = if (iu < nu) ui.getInt(iu) else Int.MaxValue
      val dg = if (ig < ng) ks(ig) else Int.MaxValue
      val d = if (du < dg) du else dg
      val a = if (du == d) uv.getDouble(iu) else 0.0
      val g = if (dg == d) vs(ig) else 0.0
      val v = (g - sumF.getDouble(d)) + a
      val pinned = (a <= minF && v < 0.0) || (a >= maxF && v > 0.0)
      if (!pinned && v != 0.0) { ki(nk) = d; kv(nk) = v; nk += 1 }
      if (du == d) iu += 1
      if (dg == d) ig += 1
    }
    var n = nk
    if (cap >= 0 && nk > cap) {
      // order kept entries by (|v| desc, index asc), take cap, restore
      // index order — the topMByMagnitude contract
      val order = Array.range(0, nk).sortBy(j => (-StrictMath.abs(kv(j)), ki(j)))
      val sel = java.util.Arrays.copyOf(order, cap)
      java.util.Arrays.sort(sel)
      val si = new Array[Int](cap)
      val sv = new Array[Double](cap)
      var j = 0
      while (j < cap) { si(j) = ki(sel(j)); sv(j) = kv(sel(j)); j += 1 }
      System.arraycopy(si, 0, ki, 0, cap)
      System.arraycopy(sv, 0, kv, 0, cap)
      n = cap
    }
    var gnorm2 = 0.0
    i = 0
    while (i < n) { gnorm2 += kv(i) * kv(i); i += 1 }
    InternalRow(
      new GenericArrayData(java.util.Arrays.copyOf(ki, n)),
      new GenericArrayData(java.util.Arrays.copyOf(kv, n)),
      gnorm2)
  }

  private[functions] def checkIdxVal(pairs: Seq[(Expression, Expression)],
      name: String): TypeCheckResult = {
    val ok = pairs.forall { case (i, v) =>
      i.dataType.isInstanceOf[ArrayType] &&
        i.dataType.asInstanceOf[ArrayType].elementType == IntegerType &&
        v.dataType.isInstanceOf[ArrayType] &&
        v.dataType.asInstanceOf[ArrayType].elementType == DoubleType
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (ARRAY<INT>, ARRAY<DOUBLE>) index/value pairs, got " +
        pairs.map { case (i, v) =>
          s"(${i.dataType.catalogString}, ${v.dataType.catalogString})"
        }.mkString(", "))
  }
}

/** Native sparse·sparse dot over two (indices, values) pairs, both
  * index-sorted — codegen'd single merge loop (replaces the HOF
  * `SparseF.sparseDot` map-probe fold in the per-edge hot path). */
case class SparseDotProduct(ai: Expression, av: Expression,
    bi: Expression, bv: Expression) extends QuaternaryExpression {

  override def first: Expression = ai
  override def second: Expression = av
  override def third: Expression = bi
  override def fourth: Expression = bv

  override def checkInputDataTypes(): TypeCheckResult =
    SparseKernels.checkIdxVal(Seq((ai, av), (bi, bv)), prettyName)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "sparse_dot_product"

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    SparseKernels.sparseDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.SparseKernels.sparseDot($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): SparseDotProduct =
    copy(ai = newFirst, av = newSecond, bi = newThird, bv = newFourth)
}

object SparseDotProduct {
  import org.apache.spark.sql.graftbridge.Bridge
  def dot(ai: Column, av: Column, bi: Column, bv: Column): Column =
    Bridge.column(SparseDotProduct(Bridge.expression(ai), Bridge.expression(av),
      Bridge.expression(bi), Bridge.expression(bv)))
}

/** Native per-edge candidate-step terms for the sparse Armijo line search:
  * ARRAY<DOUBLE> of one neighbor-LLH term per step. 7-ary, so no
  * `nullSafeCodeGen` convenience exists; `CodegenFallback` keeps the
  * containing stage in whole-stage codegen and costs one eval dispatch per
  * row — noise next to the O(nnz × steps) kernel it invokes, and ~50×
  * cheaper than the boxed per-element lambda interpretation it replaced. */
case class SparseStepTermsExpr(ui: Expression, uv: Expression,
    gi: Expression, gv: Expression, vi: Expression, vv: Expression,
    steps: Expression, minF: Double, maxF: Double, minP: Double, maxP: Double)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(ui, uv, gi, gv, vi, vv, steps)

  override def checkInputDataTypes(): TypeCheckResult =
    SparseKernels.checkIdxVal(Seq((ui, uv), (gi, gv), (vi, vv)), prettyName) match {
      case TypeCheckResult.TypeCheckSuccess =>
        steps.dataType match {
          case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
          case t => TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects ARRAY<DOUBLE> steps, got ${t.catalogString}")
        }
      case fail => fail
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "sparse_step_terms"

  override def eval(input: InternalRow): Any = {
    val vals = new Array[AnyRef](7)
    var i = 0
    while (i < 7) {
      val v = children(i).eval(input)
      if (v == null) return null
      vals(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    SparseKernels.stepTerms(
      vals(0).asInstanceOf[ArrayData], vals(1).asInstanceOf[ArrayData],
      vals(2).asInstanceOf[ArrayData], vals(3).asInstanceOf[ArrayData],
      vals(4).asInstanceOf[ArrayData], vals(5).asInstanceOf[ArrayData],
      vals(6).asInstanceOf[ArrayData], minF, maxF, minP, maxP)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SparseStepTermsExpr =
    copy(ui = newChildren(0), uv = newChildren(1), gi = newChildren(2),
      gv = newChildren(3), vi = newChildren(4), vv = newChildren(5),
      steps = newChildren(6))
}

object SparseStepTermsExpr {
  import org.apache.spark.sql.graftbridge.Bridge
  def terms(ui: Column, uv: Column, gi: Column, gv: Column,
      vi: Column, vv: Column, steps: Column,
      minF: Double, maxF: Double, minP: Double, maxP: Double): Column =
    Bridge.column(SparseStepTermsExpr(
      Bridge.expression(ui), Bridge.expression(uv),
      Bridge.expression(gi), Bridge.expression(gv),
      Bridge.expression(vi), Bridge.expression(vv),
      Bridge.expression(steps), minF, maxF, minP, maxP))
}

/** Native per-node Armijo step selection (see [[SparseKernels.lineStep]]):
  * STRUCT<fi: ARRAY<INT>, fv: ARRAY<DOUBLE>> of the first accepted step's
  * new sparse row, or NULL when no candidate passes the Armijo bound. */
case class SparseLineStepExpr(ui: Expression, uv: Expression,
    gi: Expression, gv: Expression, terms: Expression, steps: Expression,
    sumF: Expression, llh: Expression, gnorm2: Expression,
    alpha: Double, minF: Double, maxF: Double)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] =
    Seq(ui, uv, gi, gv, terms, steps, sumF, llh, gnorm2)

  override def checkInputDataTypes(): TypeCheckResult =
    SparseKernels.checkIdxVal(Seq((ui, uv), (gi, gv)), prettyName) match {
      case TypeCheckResult.TypeCheckSuccess =>
        val arrOk = Seq(terms, steps, sumF).forall(_.dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        })
        val scalarOk = llh.dataType == DoubleType && gnorm2.dataType == DoubleType
        if (arrOk && scalarOk) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects ARRAY<DOUBLE> terms/steps/sumF and DOUBLE llh/gnorm2")
      case fail => fail
    }

  override def dataType: DataType = StructType(Seq(
    StructField("fi", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("fv", ArrayType(DoubleType, containsNull = false), nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "sparse_line_step"

  override def eval(input: InternalRow): Any = {
    val vals = new Array[AnyRef](9)
    var i = 0
    while (i < 9) {
      val v = children(i).eval(input)
      if (v == null) return null
      vals(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    SparseKernels.lineStep(
      vals(0).asInstanceOf[ArrayData], vals(1).asInstanceOf[ArrayData],
      vals(2).asInstanceOf[ArrayData], vals(3).asInstanceOf[ArrayData],
      vals(4).asInstanceOf[ArrayData], vals(5).asInstanceOf[ArrayData],
      vals(6).asInstanceOf[ArrayData],
      vals(7).asInstanceOf[Double], vals(8).asInstanceOf[Double],
      alpha, minF, maxF)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SparseLineStepExpr =
    copy(ui = newChildren(0), uv = newChildren(1), gi = newChildren(2),
      gv = newChildren(3), terms = newChildren(4), steps = newChildren(5),
      sumF = newChildren(6), llh = newChildren(7), gnorm2 = newChildren(8))
}

object SparseLineStepExpr {
  import org.apache.spark.sql.graftbridge.Bridge
  def step(ui: Column, uv: Column, gi: Column, gv: Column,
      terms: Column, steps: Column, sumF: Column, llh: Column, gnorm2: Column,
      alpha: Double, minF: Double, maxF: Double): Column =
    Bridge.column(SparseLineStepExpr(
      Bridge.expression(ui), Bridge.expression(uv),
      Bridge.expression(gi), Bridge.expression(gv),
      Bridge.expression(terms), Bridge.expression(steps),
      Bridge.expression(sumF), Bridge.expression(llh),
      Bridge.expression(gnorm2), alpha, minF, maxF))
}

/** Native per-node sparse gradient state (see
  * [[SparseKernels.sparseGradState]]): STRUCT<gi ARRAY<INT>,
  * gv ARRAY<DOUBLE>, gnorm2 DOUBLE> — the feasible (optionally capped)
  * gradient support and its projected norm. */
case class SparseGradStateExpr(ui: Expression, uv: Expression,
    gk: Expression, gvs: Expression, sumF: Expression,
    minF: Double, maxF: Double, cap: Int)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(ui, uv, gk, gvs, sumF)

  override def checkInputDataTypes(): TypeCheckResult =
    SparseKernels.checkIdxVal(Seq((ui, uv), (gk, gvs)), prettyName) match {
      case TypeCheckResult.TypeCheckSuccess =>
        sumF.dataType match {
          case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
          case t => TypeCheckResult.TypeCheckFailure(
            s"$prettyName expects ARRAY<DOUBLE> sumF, got ${t.catalogString}")
        }
      case fail => fail
    }

  override def dataType: DataType = StructType(Seq(
    StructField("gi", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("gv", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("gnorm2", DoubleType, nullable = false)))
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "sparse_grad_state"

  override def eval(input: InternalRow): Any = {
    val vals = new Array[AnyRef](5)
    var i = 0
    while (i < 5) {
      val v = children(i).eval(input)
      if (v == null) return null
      vals(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    SparseKernels.sparseGradState(
      vals(0).asInstanceOf[ArrayData], vals(1).asInstanceOf[ArrayData],
      vals(2).asInstanceOf[ArrayData], vals(3).asInstanceOf[ArrayData],
      vals(4).asInstanceOf[ArrayData], minF, maxF, cap)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SparseGradStateExpr =
    copy(ui = newChildren(0), uv = newChildren(1), gk = newChildren(2),
      gvs = newChildren(3), sumF = newChildren(4))
}

object SparseGradStateExpr {
  import org.apache.spark.sql.graftbridge.Bridge
  def grad(ui: Column, uv: Column, gk: Column, gvs: Column, sumF: Column,
      minF: Double, maxF: Double, cap: Int): Column =
    Bridge.column(SparseGradStateExpr(
      Bridge.expression(ui), Bridge.expression(uv),
      Bridge.expression(gk), Bridge.expression(gvs),
      Bridge.expression(sumF), minF, maxF, cap))
}
