package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bigclam.BigClam
import graft.graph.GraphOps

/** K-grid model selection (the v4 surface) and tolerance-based convergence. */
class ModelSelectionSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private lazy val edges = {
    import s.implicits._
    GraphOps.symEdges(
      Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
        .toDF("src", "dst")).cache()
  }

  test("log-spaced K grid matches the reference construction") {
    val g = BigClam.logSpacedK(50, 200, 10)
    assert(g.head == 50 && g.last == 200)
    assert(g == g.sorted && g == g.distinct)
    // log-spacing: ratios roughly constant
    val ratios = g.sliding(2).map { case Seq(a, b) => b.toDouble / a }.toSeq
    assert(ratios.forall(r => r > 1.0 && r < 1.35))
  }

  /** One grid walk on the toy: sorted grid, a grid K, sparse F rows, and
   *  the chosen K holding the best LLH. */
  private def checkGridWalk(cap: Option[Int]): Unit = {
    val r = BigClam.selectKSparse(edges, BigClam.Params(k = 2),
      minK = 2, maxK = 4, steps = 2, fitIterations = 2, supportCap = cap)
    val ks = r.points.map(_.k)
    assert(ks.nonEmpty)
    assert(ks == ks.sorted)
    assert(Set(2, 3, 4).contains(r.k))
    assert(r.f.count() == 6)
    assert(r.f.columns.toSet == Set("id", "fi", "fv")) // sparse rows
    val bestLlh = r.points.find(_.k == r.k).get.llh
    assert(r.points.forall(_.llh <= bestLlh + 1e-9), s"cap=$cap")
  }

  test("selectK walks the grid and returns the best-LLH fit") {
    checkGridWalk(cap = None)
  }

  test("selectKSparse mirrors selectK: same grid walk over the capped sparse fit") {
    checkGridWalk(cap = Some(2))
  }

  test("bigclam_select_k_smoke emits the evaluated grid as scalar rows") {
    val rows = BigClam.bigclam_select_k_smoke(s, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val ks = rows.map(_.getInt(0)).toSeq
    assert(ks == ks.sorted && ks == ks.distinct)
    assert(ks.forall(k => k >= 2 && k <= 6))
    // all output cells are scalars (driver-comparator constraint)
    rows.foreach { r => assert(r.get(1).isInstanceOf[Double]) }
  }

  test("selectK retains at most two factor DataFrames mid-grid") {
    // criterion="llh" (the default): one current F plus one best-so-far
    val r = BigClam.selectKSparse(edges, BigClam.Params(k = 2),
      minK = 2, maxK = 6, steps = 3, fitIterations = 1)
    assert(r.points.size >= 2) // the peak covers a mid-grid point
    assert(r.peakRetained <= 2,
      s"selectKSparse held ${r.peakRetained} factor DataFrames alive")
    assert(r.f.count() == 6)
  }

  test("fitSparse llhTol converges to the reference relative-LLH rule") {
    // a loose tolerance must stop well inside a generous budget, with the
    // stop condition actually satisfied between the last two LLH points
    // (on this 6-node toy the simultaneous-update fit keeps >1% LLH motion
    // indefinitely — the per-node Armijo note below — so the test tolerance
    // is 10%, which the iter-3→4 settling satisfies)
    val tol = 0.1
    val (f, hist) = BigClam.fitSparse(edges, BigClam.Params(k = 2),
      iterations = 30, llhTol = Some(tol))
    assert(hist.size >= 2 && hist.size < 31, s"never converged: ${hist.size}")
    val (a, b) = (hist(hist.size - 2), hist.last)
    assert(math.abs(1.0 - b / a) < tol, s"stop fired without convergence: $hist")
    assert(f.count() == 6)
    // llhTol must tighten monotonically: a stricter tol never stops earlier
    val (_, histTight) = BigClam.fitSparse(edges, BigClam.Params(k = 2),
      iterations = 30, llhTol = Some(1e-6))
    assert(histTight.size >= hist.size,
      s"tighter tol stopped earlier: ${histTight.size} < ${hist.size}")
    // shared prefix: convergence checking must not perturb the fit itself
    hist.dropRight(1).zip(histTight).foreach { case (x, y) =>
      assert(x == y, s"llhTol changed the fit path: $hist vs $histTight")
    }
  }

  test("fitSparse warmStart from its own init reproduces the cold fit exactly") {
    val p = BigClam.Params(k = 2)
    val (_, cold) = BigClam.fitSparse(edges, p, iterations = 3)
    val (_, warm) = BigClam.fitSparse(edges, p, iterations = 3,
      warmStart = Some(BigClam.initSparse(edges, p)))
    assert(cold == warm, s"warm-start path perturbed the fit: $cold vs $warm")
    // llhSparse on the final F of a tracked fit equals the recorded final
    // LLH (same state + same DECIMAL reduction)
    val (f, hist) = BigClam.fitSparse(edges, p, iterations = 2)
    assert(math.abs(BigClam.llhSparse(edges, f, p) - hist.last) <= 1e-9)
  }

  test("rankTopSeedsSpread picks non-adjacent seeds and fills deterministically") {
    import org.apache.spark.sql.functions._
    val ranked = GraphOps.seedRank(edges)
    val spread = GraphOps.rankTopSeedsSpread(ranked, edges, 2)
    assert(spread.count() == 2)
    val picked = spread.select("seed").collect().map(_.getLong(0)).toSet
    // pairwise non-adjacent on the two-triangle toy (one seed per triangle)
    val adjacentPairs = edges.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => picked(a) && picked(b) }
    assert(adjacentPairs.isEmpty, s"spread seeds adjacent: $picked")
    assert(picked.exists(_ <= 2) && picked.exists(_ >= 3),
      s"expected one seed per triangle, got $picked")
    // deterministic
    val again = GraphOps.rankTopSeedsSpread(ranked, edges, 2)
      .select("seed").collect().map(_.getLong(0)).toSet
    assert(again == picked)
    // rank column is gapless 1..k ascending by (phi, seed)
    val ranks = spread.orderBy("rank").collect().map(_.getAs[Int]("rank")).toSeq
    assert(ranks == Seq(1, 2))
    // the init seam: feeding rankTopSeeds' own selection through
    // initSparseFromSeeds reproduces initSparse exactly
    val p = BigClam.Params(k = 2)
    val viaSeam = BigClam.initSparseFromSeeds(edges, p,
      GraphOps.rankTopSeeds(ranked, 2)
        .select(col("seed"), (col("rank") - 1).as("c")))
    val direct = BigClam.initSparse(edges, p)
    assert(viaSeam.except(direct).count() == 0 && direct.except(viaSeam).count() == 0)
  }

  // two 5-cliques joined by one bridge edge — natural scale K=2: the
  // argmax partition at K=2 cuts only the bridge, K=1 is the single-part
  // floor (q = 0), K=4 cannot beat the two-clique cut (fragmenting a
  // clique loses intra-edge mass faster than ΣD_c² shrinks)
  private lazy val cliq = {
    import s.implicits._
    GraphOps.symEdges((
      (for (a <- 0 to 4; b <- (a + 1) to 4) yield (a.toLong, b.toLong)) ++
      (for (a <- 5 to 9; b <- (a + 1) to 9) yield (a.toLong, b.toLong)) ++
      Seq((4L, 5L))).toDF("src", "dst")).cache()
  }

  /** The walk's (k, llh, q) per evaluated grid point, in walk order. */
  private def curve(r: BigClam.SelectKResult): Vector[(Int, Double, Double)] =
    r.points.map(p => (p.k, p.llh, p.q)).toVector

  test("selectKSparse criterion=modularity walks the full grid and picks the q peak") {
    val r = BigClam.selectKSparse(cliq, BigClam.Params(k = 1),
      minK = 1, maxK = 4, steps = 2, fitIterations = 30,
      llhTol = Some(1e-4), criterion = "modularity")
    val probes = curve(r)
    assert(r.decidedBy == "modularity")
    assert(probes.map(_._1) == BigClam.logSpacedK(1, 4, 2),
      s"modularity must walk the FULL grid (no kTol stop): $probes")
    assert(probes.forall(p => !p._3.isNaN), s"q must be scored per K: $probes")
    assert(r.k == 2, s"q peak must be the two-clique cut: $probes")
    assert(r.f.count() == 10)
  }

  /** Reconstruct the documented auto dispatch from the walk's per-K curve
    * plus its own stop flags (round-16 ADVICE: the old oracle INFERRED the
    * stop from `probes.size < gridSize`, so a kTol fire landing exactly on
    * the last grid point was invisible — a latent false failure). The flags
    * are cross-checked against an independent recomputation of the gain
    * sequence from the curve, so the oracle is not circular: interior LLH
    * argmax → llh; kTol stop fired on a gain COLLAPSE (firing gain ≤
    * ElbowCollapseRatio × the prior gain; a fire with no prior gain carries
    * no shape evidence) → llh; otherwise (boundary-riding or saturating
    * monotone) → modularity. */
  private def expectDispatch(r: BigClam.SelectKResult, kTol: Double = 1e-3): String = {
    val probes = curve(r)
    val lastK = probes.last._1
    val llhPick = probes.maxBy(_._2) // first max wins ties, like bestL
    // independent stop-flag recomputation from the recorded curve: the
    // fire is the FIRST gain under kTol (the walk stops there — unless
    // escalation appended modularity-side points after a saturating fire)
    val gains = probes.map(_._2).sliding(2).collect {
      case Seq(a, b) => math.abs(1.0 - b / a) }.toVector
    val fireIdx = gains.indexWhere(_ < kTol)
    assert(r.kTolFired == (fireIdx >= 0),
      s"kTolFired=${r.kTolFired} but recomputed gains=$gains kTol=$kTol")
    if (fireIdx >= 0)
      assert(r.fireCollapse ==
          (fireIdx >= 1 && gains(fireIdx) <= 0.2 * gains(fireIdx - 1)),
        s"fireCollapse=${r.fireCollapse} gains=$gains fireIdx=$fireIdx")
    if (llhPick._1 != lastK || (r.kTolFired && r.fireCollapse)) "llh"
    else "modularity"
  }

  test("selectKSparse criterion=auto dispatches by the recorded LLH-curve evidence") {
    val r = BigClam.selectKSparse(edges, BigClam.Params(k = 2),
      minK = 2, maxK = 6, steps = 2, fitIterations = 20, llhTol = Some(1e-4),
      criterion = "auto")
    val probes = curve(r)
    assert(probes.forall(p => !p._3.isNaN), "auto must score q for every K")
    val expectBy = expectDispatch(r)
    assert(r.decidedBy == expectBy, s"probes=$probes decided=${r.decidedBy}")
    assert(r.escalations == 0 && probes.map(_._1) == BigClam.logSpacedK(2, 6, 2)
      .take(probes.size))
    val expectK =
      if (expectBy == "llh") probes.maxBy(_._2)._1 else probes.maxBy(_._3)._1
    assert(r.k == expectK, s"probes=$probes decided=${r.decidedBy} k=${r.k}")
  }

  test("selectKSparse criterion=auto: a kTol fire with no shape evidence goes to modularity") {
    // kTol = 0.9 swallows almost any relative gain, so the stop fires on
    // the FIRST measured gain (grid point 2) — there is no previous gain
    // to compare against, the fire carries no elbow evidence, and the
    // round-16 dispatch must route to modularity instead of handing the
    // stop boundary to the LLH argmax (the round-15 ADVICE blind spot:
    // kTolFired alone used to force "llh")
    val r = BigClam.selectKSparse(edges, BigClam.Params(k = 2),
      minK = 2, maxK = 8, steps = 3, fitIterations = 20, llhTol = Some(1e-4),
      kTol = 0.9, criterion = "auto")
    val probes = curve(r)
    assert(probes.size == 2,
      s"kTol=0.9 must stop the walk at the second point: $probes")
    assert(r.kTolFired && !r.fireCollapse,
      s"a first-gain fire carries no shape evidence: $r")
    // regardless of which side of the boundary the LLH argmax fell on,
    // the documented rule must hold; and when the argmax rides the stop
    // boundary the decision must be modularity (the fixed blind spot)
    assert(r.decidedBy == expectDispatch(r, kTol = 0.9),
      s"probes=$probes decided=${r.decidedBy}")
    if (probes.maxBy(_._2)._1 == probes.last._1)
      assert(r.decidedBy == "modularity",
        s"boundary argmax + no-evidence fire must dispatch modularity: $probes")
    assert(r.k == (if (r.decidedBy == "llh") probes.maxBy(_._2)._1
                   else probes.maxBy(_._3)._1))
  }

  test("selectKSparse criterion=auto on a hub-dominated power-law micro graph") {
    // the organic regime in miniature: a deterministic power-law graph
    // with no planted K. Whatever the LLH curve does here is itself
    // deterministic — the test pins that the dispatch follows the
    // documented rule for THIS curve (and on hub-dominated graphs that is
    // typically the boundary-riding branch, i.e. the modularity pick)
    val pl = GraphOps.symEdges(
      graft.graph.GraphGen.powerLawEdges(s, 300, 900)).cache()
    val r = BigClam.selectKSparse(pl, BigClam.Params(k = 2),
      minK = 2, maxK = 8, steps = 2, fitIterations = 25, llhTol = Some(1e-4),
      supportCap = Some(4), criterion = "auto")
    val probes = curve(r)
    val expectBy = expectDispatch(r)
    assert(r.decidedBy == expectBy, s"probes=$probes decided=${r.decidedBy}")
    val expectK = if (expectBy == "llh") probes.maxBy(_._2)._1
                  else probes.maxBy(_._3)._1
    assert(r.k == expectK, s"probes=$probes decided=${r.decidedBy} k=${r.k}")
  }

  test("RaceMemory arms only on consecutive decisive same-side verdicts") {
    def diag(ego: Double, split: Double) =
      BigClam.InitDiag("auto", if (split >= ego) "egosplit" else "ego", None,
        egoLlh = Some(ego), splitLlh = Some(split))
    val m = new BigClam.RaceMemory()
    m.observe(diag(-1.00e6, -1.005e6)) // grid-floor tie (0.5%): not decisive
    assert(m.sticky.isEmpty)
    m.observe(diag(-5e6, -2e6)) // egosplit decisive #1
    assert(m.sticky.isEmpty)
    m.observe(diag(-1.001e6, -1.0e6)) // close verdict resets the streak
    m.observe(diag(-5e6, -2e6)) // decisive #1 again
    assert(m.sticky.isEmpty, "a reset streak must need two fresh verdicts")
    m.observe(diag(-6e6, -2.2e6)) // decisive #2 -> armed
    assert(m.sticky.contains("egosplit"))
    m.observe(diag(-1e6, -9e6)) // armed is permanent within a walk
    assert(m.sticky.contains("egosplit"))
    // opposite-side decisive verdicts never accumulate into one streak
    val m2 = new BigClam.RaceMemory()
    m2.observe(diag(-5e6, -2e6))
    m2.observe(diag(-2e6, -5e6))
    m2.observe(diag(-5e6, -2e6))
    assert(m2.sticky.isEmpty)
    // non-race diags (manual init paths) are ignored
    val m3 = new BigClam.RaceMemory()
    m3.observe(BigClam.InitDiag("ego", "ego", None))
    assert(m3.sticky.isEmpty)
  }

  test("selectKSparse criterion=llh never pays the modularity pass") {
    val r = BigClam.selectKSparse(edges, BigClam.Params(k = 2),
      minK = 2, maxK = 4, steps = 2, fitIterations = 2)
    assert(r.points.nonEmpty && r.points.forall(_.q.isNaN),
      "default criterion must record q as NaN")
  }

  test("selectKSparse criterion=auto: a kTol fire on a genuine gain collapse keeps LLH the signal") {
    // the REAL collapse-fire path (round-17 item 2): not the kTol=0.9
    // degenerate (which fires on the FIRST gain and tests the no-evidence
    // branch), but a fire at a measured knee with a prior gain to collapse
    // against. Pass 1 measures the curve with no stop; kTol is then set
    // between the knee's pre/post gains so pass 2's fire lands exactly at
    // the knee — and, because the knee sits on the LAST grid point, the
    // old probe-count oracle would have called this fire invisible (the
    // round-16 ADVICE latent false failure, exercised for real here).
    val probes0 = curve(BigClam.selectKSparse(cliq, BigClam.Params(k = 1),
      minK = 1, maxK = 4, steps = 2, fitIterations = 30, llhTol = Some(1e-4),
      criterion = "modularity"))
    val gains = probes0.map(_._2).sliding(2).collect {
      case Seq(a, b) => math.abs(1.0 - b / a) }.toVector
    assert(gains.size == 2 && gains(1) <= 0.2 * gains(0),
      s"fixture must have a collapsing knee on the last gain: $gains")
    // between the two gains; on this fixture the K=4 fit converges to the
    // IDENTICAL two-community solution (gain exactly 0), where the
    // geometric mean degenerates to 0 and would never fire — halve the
    // pre-knee gain instead
    val kneeKTol =
      if (gains(1) > 0) math.sqrt(gains(0) * gains(1)) else gains(0) / 2
    val r = BigClam.selectKSparse(cliq, BigClam.Params(k = 1),
      minK = 1, maxK = 4, steps = 2, fitIterations = 30, llhTol = Some(1e-4),
      kTol = kneeKTol, criterion = "auto", escalateCap = 2)
    val probes = curve(r)
    assert(r.kTolFired && r.fireCollapse,
      s"the stop must fire AT the knee and register the collapse: $r")
    assert(r.decidedBy == "llh",
      s"a collapse fire is elbow evidence — LLH stays the signal: $r")
    assert(r.decidedBy == expectDispatch(r, kTol = kneeKTol))
    assert(r.k == probes.maxBy(_._2)._1, s"chosen K must be the LLH argmax")
    // the LLH side never escalates past a kTol fire: the stop IS the
    // reference's no-gain evidence (escalateCap=2 granted, none used)
    assert(r.escalations == 0 && probes.map(_._1) == probes0.map(_._1))
  }

  test("selectKSparse escalates a modularity boundary argmax to an interior q peak") {
    // mis-specified grid {1,2} on the two-clique graph: q(1)=0, q(2) is
    // the natural-scale peak — the walk's q argmax rides the grid
    // boundary, the exact evidence-free pick the capstone recorded at
    // K=8000. With escalateCap the walk extends one log step (to 4, the
    // declared grid's own stride), sees q(4) < q(2), and lands on the
    // interior peak a wider grid would have found.
    val r = BigClam.selectKSparse(cliq, BigClam.Params(k = 1),
      minK = 1, maxK = 2, steps = 1, fitIterations = 30, llhTol = Some(1e-4),
      criterion = "modularity", escalateCap = 2)
    val probes = curve(r)
    assert(probes.map(_._1) == Seq(1, 2, 4),
      s"one escalation step past maxK=2 at the grid's own stride: $r")
    assert(r.escalations == 1 && !r.boundaryPick,
      s"the escalated point turned the boundary pick interior: $r")
    assert(r.k == 2, s"interior q peak is the two-clique cut: $probes")
    // the escalated K=4 fit converges to the same two-community structure
    // (q ties exactly); the strict-improvement best rule keeps the FIRST
    // argmax, so the tie still turns the pick interior
    assert(probes(2)._3 <= probes(1)._3,
      s"q must not rise at the escalated K=4: $probes")
    assert(r.f.count() == 10)
  }

  test("selectKSparse escalateCap=0 leaves the pick flagged as boundary") {
    val r = BigClam.selectKSparse(cliq, BigClam.Params(k = 1),
      minK = 1, maxK = 2, steps = 1, fitIterations = 30, llhTol = Some(1e-4),
      criterion = "modularity")
    assert(r.k == 2 && r.boundaryPick && r.escalations == 0 &&
      r.points.map(_.k) == Seq(1, 2),
      s"default escalateCap=0 keeps recorded walks bit-identical but must " +
        s"flag the evidence-free boundary choice: $r")
  }

  test("selectKSparse llh-side escalation walks past maxK while the argmax rides the boundary") {
    // criterion=llh, grid exhausted mid-climb (no kTol fire): the
    // reference's walk-until-no-gain contract says the walk is not done —
    // escalation extends it; whether the escalated point turns the argmax
    // interior is the curve's business, the result must report it honestly
    val r = BigClam.selectKSparse(cliq, BigClam.Params(k = 1),
      minK = 1, maxK = 2, steps = 1, fitIterations = 30, llhTol = Some(1e-4),
      criterion = "llh", escalateCap = 1)
    val probes = curve(r)
    assert(r.escalations == 1 && probes.map(_._1) == Seq(1, 2, 4),
      s"boundary LLH argmax at K=2 must escalate once: $r")
    val argmax = probes.maxBy(_._2)._1
    assert(r.k == argmax)
    assert(r.boundaryPick == (argmax == 4), s"honest boundary flag: $r")
    assert(probes.forall(_._3.isNaN), "llh criterion never pays the q pass")
  }

  test("selectKSparse stateDir persists, replays, and resumes to the same choice") {
    val dir = java.nio.file.Files.createTempDirectory("selk_state").toString
    def walk() = BigClam.selectKSparse(cliq, BigClam.Params(k = 1),
      minK = 1, maxK = 4, steps = 2, fitIterations = 30,
      llhTol = Some(1e-4), criterion = "auto", stateDir = Some(dir))
    def replayed(r: BigClam.SelectKResult) = r.points.filter(_.replayed).map(_.k)
    val r1 = walk()
    val evaluated = r1.points.map(_.k)
    assert(replayed(r1).isEmpty, s"first pass fits everything live: $r1")
    assert(new java.io.File(dir, "meta.properties").exists())
    evaluated.foreach { kk =>
      assert(new java.io.File(dir, s"point_k$kk.properties").exists())
      assert(new java.io.File(dir, s"f_k$kk.parquet").exists())
    }
    // full replay: every point restored from the store, zero refits, the
    // returned best F reads from the store's parquet
    val r2 = walk()
    assert(replayed(r2) == evaluated, s"full replay: $r2")
    assert(r2.k == r1.k && curve(r2) == curve(r1) && r2.decidedBy == r1.decidedBy)
    assert(r2.f.count() == 10)
    // kill-and-resume: drop the LAST completed point (the crash window),
    // the resumed walk replays the prefix and refits only the tail —
    // deterministic fits land on the identical curve and choice
    val lastK = evaluated.last
    assert(new java.io.File(dir, s"point_k$lastK.properties").delete())
    val r3 = walk()
    assert(replayed(r3) == evaluated.dropRight(1), s"partial resume: $r3")
    assert(r3.k == r1.k && curve(r3) == curve(r1) && r3.decidedBy == r1.decidedBy)
    // a resume with drifted walk parameters must fail loudly, not splice
    intercept[IllegalArgumentException] {
      BigClam.selectKSparse(cliq, BigClam.Params(k = 1),
        minK = 1, maxK = 4, steps = 2, fitIterations = 31,
        llhTol = Some(1e-4), criterion = "auto", stateDir = Some(dir))
    }
  }

  test("fitConverged terminates and improves LLH overall") {
    // NOTE: per-node Armijo acceptance does not guarantee *joint* LLH
    // monotonicity under simultaneous updates — the reference has the same
    // property (all vertices updated per MBSGD pass, Bigclamv2.scala:209-217)
    // — so we assert termination + net improvement, not per-step ascent.
    // 9 updates at most: up to 9 pre-update measures plus the final one
    val (f, hist) = BigClam.fitSparse(edges, BigClam.Params(k = 2),
      iterations = 9, llhTol = Some(1e-3))
    assert(hist.size >= 2 && hist.size <= 10)
    assert(hist.last > hist.head, s"no net improvement: $hist")
    assert(f.count() == 6)
  }
}
