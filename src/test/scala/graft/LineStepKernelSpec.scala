package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.functions.SparseKernels

/** Direct edge-case contracts for the native BigCLAM kernels (the parity
  * suites prove bit-equality against the HOF forms end-to-end; these pin
  * the corner behaviors those fits may not visit every run).
  */
class LineStepKernelSpec extends AnyFunSuite {
  private def ints(xs: Int*) = new GenericArrayData(xs.toArray)
  private def dbls(xs: Double*) = new GenericArrayData(xs.toArray)

  private val steps = dbls(1.0, 0.5, 0.25)

  test("lineStep returns null when no candidate passes the Armijo bound") {
    // terms so low that llhNew can never reach llh + alpha*t*gnorm2
    val r = SparseKernels.lineStep(
      ints(0), dbls(0.5), ints(0), dbls(1.0),
      dbls(-1e18, -1e18, -1e18), steps, dbls(1.0, 1.0),
      0.0, 1.0, 0.05, 0.0, 1000.0)
    assert(r == null)
  }

  test("lineStep takes the FIRST (largest-t) accepted step and clips at minF") {
    // gradient pushes dim 0 negative: fnew clips to 0 and drops out; dim 1
    // enters from the gradient side
    val r = SparseKernels.lineStep(
      ints(0), dbls(0.4), ints(0, 1), dbls(-1.0, 0.8),
      dbls(1e18, 1e18, 1e18), steps, dbls(0.0, 0.0),
      0.0, 0.0, 0.05, 0.0, 1000.0)
    assert(r != null)
    // t=1.0 accepted: dim0 = clip(0.4 - 1.0) = 0 -> dropped; dim1 = 0.8
    assert(r.getArray(0).toIntArray().toSeq == Seq(1))
    assert(r.getArray(1).toDoubleArray().toSeq == Seq(0.8))
  }

  test("sparseGradState sorts unordered gradient dims and merges with support") {
    // gm arrives in collect_list (arbitrary) order
    val st = SparseKernels.sparseGradState(
      ints(1), dbls(0.5), ints(3, 0), dbls(2.0, 4.0),
      dbls(1.0, 1.0, 1.0, 1.0), 0.0, 1000.0, -1)
    // dims: 0 -> (4-1)+0=3; 1 -> (0-1)+0.5=-0.5 (interior, kept); 3 -> (2-1)+0=1
    assert(st.getArray(0).toIntArray().toSeq == Seq(0, 1, 3))
    assert(st.getArray(1).toDoubleArray().toSeq == Seq(3.0, -0.5, 1.0))
    assert(math.abs(st.getDouble(2) - (9.0 + 0.25 + 1.0)) < 1e-12)
  }

  test("sparseGradState drops pinned-at-zero dims and natural zeros") {
    val st = SparseKernels.sparseGradState(
      ints(), dbls(), ints(0, 1), dbls(1.0, 5.0),
      dbls(5.0, 4.0), 0.0, 1000.0, -1)
    // dim0: (1-5)+0 = -4 at a=0 -> pinned, dropped; dim1: (5-4)+0 = 1 kept
    assert(st.getArray(0).toIntArray().toSeq == Seq(1))
    assert(st.getDouble(2) == 1.0)
  }

  test("sparseGradState cap keeps largest |v| with ties to the lower index") {
    val st = SparseKernels.sparseGradState(
      ints(0, 1, 2), dbls(0.5, 0.5, 0.5), ints(), dbls(),
      dbls(-2.0, -3.0, -2.0), 0.0, 1000.0, 2)
    // v = sumF-negated + fu: dim0 2.5, dim1 3.5, dim2 2.5 -> cap 2 keeps
    // dim1 (3.5) then the |v| tie 2.5/2.5 resolves to dim0; index-sorted out
    assert(st.getArray(0).toIntArray().toSeq == Seq(0, 1))
    assert(st.getArray(1).toDoubleArray().toSeq == Seq(2.5, 3.5))
  }
}
