package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.graph.GraphOps
import graft.bigclam.BigClam

/** The reference's v4 workload — BigCLAM K-grid model selection
  * (/root/reference/codes/bigclam4-7.scala:16-20,225-266) — end-to-end on a
  * real edge-list file: walk a log-spaced K grid ascending, fit each K,
  * early-stop when the relative LLH gain drops below 1e-3, report the
  * chosen K and the full evaluated grid.
  *
  *   runMain graft.RunSelectK <edgeListPath> <minK> <maxK> <steps> <fitIters> [sparse|sparse:<m>] [stableTol] [hotDegCap=200]
  *
  * Every walk runs over [[BigClam.fitSparse]]; no mode (or `sparse`) fits
  * each grid point uncapped. `sparse:<m>` walks the grid over the capped
  * fit — the reference's own published grid (K=1000→9000) is only
  * reachable that way; `stableTol`
  * further lets each grid point stop on membership stability. `hotDegCap`
  * truncates hub egos inside the shared conductance seeding (default 200,
  * like every other scale main — uncapped, a power-law hub expands deg²
  * rows; pass 0 to disable on small/hubless graphs). */
object RunSelectK {
  def main(args: Array[String]): Unit = {
    if (args.length < 5) {
      System.err.println("usage: runMain graft.RunSelectK <edgeListPath> " +
        "<minK> <maxK> <steps> <fitIters> [sparse|sparse:<m>] [stableTol] " +
        "[hotDegCap=200] [llhTol=0 — 0 disables] " +
        "[heldFrac=0 — >0 runs the HELD-OUT sparse walk instead] " +
        "[modwalk=0 — 1 walks the grid printing fitted-argmax MODULARITY " +
        "per K instead of selecting] [initMode=ego|egosplit|auto] " +
        "[criterion=llh|modularity|auto — selection walk only] " +
        "[raceMemory=0|1 — initMode=auto selection walk only] " +
        "[escalateCap=0 — extra log steps past maxK while the deciding " +
        "argmax rides the grid boundary] " +
        "[stateDir=- — crash-resume directory: completed grid points " +
        "replay instead of refitting]")
      sys.exit(2)
    }
    val Array(path, minK, maxK, steps, iters) = args.take(5)
    val mode = args.lift(5).getOrElse("sparse")
    require(mode == "sparse" || mode.startsWith("sparse:"),
      s"mode must be sparse or sparse:<m>, got $mode")
    val supportCap = if (mode.startsWith("sparse:")) Some(mode.drop(7).toInt) else None
    val stableTol = args.lift(6).map(_.toDouble)
    val hotDegCap = Some(args.lift(7).map(_.toLong).getOrElse(200L)).filter(_ > 0)
    // distinguish "not provided" (held-out walk defaults to the reference's
    // 1e-4 rule) from an EXPLICIT 0 (the usage string promises it disables
    // the LLH stop — it must not be silently replaced by the default)
    val llhTolArg = args.lift(8).map(_.toDouble)
    val llhTol = llhTolArg.filter(_ > 0)
    val heldFrac = args.lift(9).map(_.toDouble).getOrElse(0.0)
    val modwalk = args.lift(10).contains("1")
    val initMode = args.lift(11).getOrElse("ego")
    val criterion = args.lift(12).getOrElse("llh")
    val raceMemory = args.lift(13).contains("1")
    val escalateCap = args.lift(14).map(_.toInt).getOrElse(0)
    val stateDir = args.lift(15).filter(_ != "-")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    // `synth:<nNodes>:<nEdges>[:beta]` regenerates the deterministic
    // power-law synthetic in place of an edge-list file — the organic-graph
    // walks (the 200k modularity fixture) are reproducible from the spec
    // alone, no ad-hoc dump file to keep alive across rounds
    val raw =
      if (path.startsWith("synth:")) {
        val ps = path.split(":")
        graft.graph.GraphGen.powerLawEdges(spark, ps(1).toLong, ps(2).toLong,
          beta = ps.lift(3).map(_.toDouble).getOrElse(0.5))
      } else GraphOps.loadEdgeList(spark, path)
    val edges = GraphOps.symEdges(raw).cache()
    val nEdges = edges.count()
    if (modwalk) {
      // MODULARITY walk (round-14 #4): the practitioner's K signal on
      // ORGANIC graphs, where round 13 established that both raw and
      // HELD-OUT likelihood rise monotonically in K (capacity always helps
      // when no planted K exists — held-out selection is a structured-cover
      // instrument). Newman modularity of the fitted argmax partition is
      // capacity-PENALIZED by construction — ΣD_c² shrinks as parts
      // multiply but the intra-edge mass W drops once real structure is
      // fragmented — so IF organic graphs have a natural scale, q(K) peaks
      // where LLH cannot. Every K fits to the same convergence rule; F is
      // discarded after scoring (nothing retained across grid points).
      val lt = if (llhTolArg.isDefined) llhTol else Some(1e-4)
      val ranked = graft.graph.GraphOps.seedRank(edges, hotDegCap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(f"[selectk] $path: $nEdges directed edges, MODULARITY walk " +
        s"(initMode=$initMode)")
      BigClam.logSpacedK(minK.toInt, maxK.toInt, steps.toInt).foreach { k =>
        val (fs, hist) = BigClam.fitSparse(edges, BigClam.Params(k = k),
          iterations = iters.toInt, ranked = Some(ranked),
          supportCap = supportCap, llhTol = lt, initMode = initMode,
          initProbe = d => println(s"[selectk]   K=$k init: " +
            s"requested=${d.requested} chosen=${d.chosen}" +
            d.cover.fold("")(c => s" $c")))
        val labels = fs.select(col("id").as("node"),
          graft.bigclam.SparseF.argmaxIndex(col("fi"), col("fv")).as("lab"))
        val row = GraphOps.modularity(edges, labels, s"k$k").collect()(0)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[selectk]   K=$k%-6d llh=${hist.last}%.4e " +
          f"parts=${row.getLong(1)}%-6d q=${row.getDouble(3)}%.4f " +
          f"(${hist.length} LLH points, $secs%.0f s)")
      }
      ranked.unpersist()
    } else if (heldFrac > 0) {
      // held-out walk (VERDICT r12 #5): the capacity-honest criterion on an
      // ORGANIC graph, where raw training LLH rises monotonically in K and
      // the reference's relative-gain stop never fires. Every grid K fits
      // on the same 1−heldFrac train split to the same convergence rule,
      // scored on held edges + an equal non-edge sample.
      val (hk, _, hcurve) = BigClam.selectKSparseHeldOut(edges,
        BigClam.Params(k = minK.toInt), minK = minK.toInt, maxK = maxK.toInt,
        steps = steps.toInt, heldFrac = heldFrac,
        fitIterations = iters.toInt,
        llhTol = if (llhTolArg.isDefined) llhTol else Some(1e-4),
        supportCap = supportCap, hotDegCap = hotDegCap)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[selectk] $path: $nEdges directed edges, HELD-OUT walk " +
        f"(frac=$heldFrac) in $secs%.1f s")
      hcurve.foreach { case (k, tr, ho) =>
        println(f"[selectk]   K=$k%-6d train_llh=$tr%.4e held_llh=$ho%.4e") }
      println(s"[selectk] held-out choice K=$hk")
    } else {
      var decidedBy = criterion
      var diag = Option.empty[BigClam.SelectKDiag]
      val (bestK, _, grid) =
        BigClam.selectKSparse(edges, BigClam.Params(k = minK.toInt),
          minK = minK.toInt, maxK = maxK.toInt, steps = steps.toInt,
          fitIterations = iters.toInt, supportCap = supportCap,
          stableTol = stableTol, hotDegCap = hotDegCap, llhTol = llhTol,
          initMode = initMode, criterion = criterion,
          // per-grid-point init provenance: which init was requested vs
          // chosen (race or memory), both race LLHs, where the loser was
          // abandoned — the capstone walk's audit trail
          initProbe = d => println(s"[selectk]   init: " +
            s"requested=${d.requested} chosen=${d.chosen} " +
            s"egoLlh=${d.egoLlh.getOrElse(Double.NaN)} " +
            s"splitLlh=${d.splitLlh.getOrElse(Double.NaN)} " +
            s"abandonedAt=${d.abandonedAtIter.getOrElse(-1)}"),
          criterionProbe = (k, llh, q) => println(
            f"[selectk]   K=$k%-6d llh=$llh%.4e" +
              (if (q.isNaN) "" else f" q=$q%.4f")),
          decisionProbe = d => decidedBy = d,
          raceMemory = raceMemory,
          escalateCap = escalateCap, stateDir = stateDir,
          diagProbe = d => diag = Some(d))
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[selectk] $path: $nEdges directed edges, grid " +
        s"${grid.map(_._1).mkString("{", ",", "}")} ($iters iters each) " +
        f"in $secs%.1f s")
      grid.foreach { case (k, llh) => println(f"[selectk]   K=$k%-6d llh=$llh%.2f") }
      println(s"[selectk] chosen K=$bestK" +
        (if (criterion == "llh") "" else s" (criterion=$criterion decided-by=$decidedBy)"))
      diag.foreach { d =>
        println(s"[selectk] decision: decided-by=${d.decidedBy} " +
          s"boundary_pick=${d.boundaryPick} kTolFired=${d.kTolFired} " +
          s"fireCollapse=${d.fireCollapse} " +
          s"escalations=${d.escalations}/${d.escalateCap} " +
          s"evaluated=${d.evaluated.mkString("{", ",", "}")}" +
          (if (d.replayed.isEmpty) ""
           else s" replayed=${d.replayed.mkString("{", ",", "}")}"))
      }
    }
    spark.stop()
  }
}
