package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.GraphOps
import graft.bigclam.BigClam

/** The engine against the reference's own bundled dataset
  * (facebook_combined: 4,039 nodes / 88,234 undirected edges, read-only) —
  * the loader contract, graph primitives at real scale, and a short
  * BigCLAM fit on a subgraph.
  */
class RealGraphSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val path = "/root/reference/data/facebook_combined.txt"

  private def available = new java.io.File(path).exists()

  test("edge-list loader reads facebook_combined with the documented counts") {
    assume(available)
    val raw = GraphOps.loadEdgeList(s, path)
    assert(raw.count() == 88234)
    val sym = GraphOps.symEdges(raw)
    assert(sym.count() == 2 * 88234) // each pair listed once in the file
    assert(GraphOps.degrees(sym).count() == 4039)
  }

  test("conductance + seeding run on the full real graph") {
    assume(available)
    val sym = GraphOps.symEdges(GraphOps.loadEdgeList(s, path)).cache()
    val phi = GraphOps.conductance(sym).cache()
    assert(phi.count() == 4039)
    val bad = phi.filter(col("phi") < 0).count()
    assert(bad == 0)
    val seeds = GraphOps.seedRank(sym)
    assert(seeds.count() > 0 && seeds.count() <= 4039)
    phi.unpersist(); sym.unpersist()
  }

  test("fitSparse runs a large-K (K=500) fit on a real subgraph with net LLH ascent") {
    assume(available)
    // the v3 capability shape (bigclamv3-7.scala:14-15,86: K=8,385): a K far
    // beyond what dense rows could ship efficiently — sparse rows keep the
    // payload at nnz ≈ ego-membership count, independent of K
    val raw = GraphOps.loadEdgeList(s, path)
      .filter(col("src") < 600 && col("dst") < 600)
    val sym = GraphOps.symEdges(raw).cache()
    val (fs, hist) = BigClam.fitSparse(sym, BigClam.Params(k = 500), iterations = 2)
    assert(hist.forall(v => !v.isNaN && !v.isInfinite))
    assert(hist.last > hist.head, s"no net ascent at K=500: $hist")
    val nNodes = sym.select("src").distinct().count()
    assert(fs.count() == nNodes)
    // rows stay genuinely sparse: max nnz well under K
    val maxNnz = fs.select(max(size(col("fi")))).collect()(0).getInt(0)
    assert(maxNnz > 0 && maxNnz < 500, s"max nnz $maxNnz not sparse at K=500")
    sym.unpersist()
  }

  test("fitSparse with supportCap bounds nnz at large K and still ascends") {
    assume(available)
    // the mid-fit densification fix: uncapped K=500 rows densify toward K
    // within ~2 iterations; the cap holds every row at <= m entries so the
    // per-edge cost is O(m) regardless of K
    val raw = GraphOps.loadEdgeList(s, path)
      .filter(col("src") < 600 && col("dst") < 600)
    val sym = GraphOps.symEdges(raw).cache()
    val cap = 32
    val (fs, hist) = BigClam.fitSparse(sym, BigClam.Params(k = 500),
      iterations = 3, supportCap = Some(cap))
    assert(hist.forall(v => !v.isNaN && !v.isInfinite))
    assert(hist.last > hist.head, s"no net ascent with cap=$cap: $hist")
    val maxNnz = fs.select(max(size(col("fi")))).collect()(0).getInt(0)
    assert(maxNnz <= cap, s"support cap violated: max nnz $maxNnz > $cap")
    sym.unpersist()
  }

  test("fitSparse stays checkpoint-flat over a long run on a real subgraph") {
    assume(available)
    val raw = GraphOps.loadEdgeList(s, path)
      .filter(col("src") < 300 && col("dst") < 300)
    val sym = GraphOps.symEdges(raw).cache()
    // no llhTol: runs all 12 iterations — the long-fit shape; the history
    // holds the 12 pre-update measures plus the final one
    val (f, hist) = BigClam.fitSparse(sym, BigClam.Params(k = 3), iterations = 12)
    assert(hist.size == 13)
    assert(hist.last > hist.head)
    // lineage stays truncated regardless of iteration count
    val planSize = f.queryExecution.optimizedPlan.collect { case n => n }.size
    assert(planSize <= 5, s"12-iteration fit plan not flat: $planSize")
    sym.unpersist()
  }

  test("BigCLAM fit runs on a real subgraph with finite non-decreasing-ish LLH") {
    assume(available)
    // induced subgraph on the first 600 node ids — a connected Facebook
    // ego-net region, big enough to be honest, small enough for CI
    val raw = GraphOps.loadEdgeList(s, path)
      .filter(col("src") < 600 && col("dst") < 600)
    val sym = GraphOps.symEdges(raw).cache()
    val (f, hist) = BigClam.fitSparse(sym, BigClam.Params(k = 4), iterations = 2)
    assert(hist.forall(v => !v.isNaN && !v.isInfinite))
    assert(hist.last > hist.head) // net ascent over the fit
    val nNodes = sym.select("src").distinct().count()
    assert(f.count() == nNodes)
    sym.unpersist()
  }
}
