package graft

import org.apache.spark.sql.SparkSession
import graft.graph.GraphOps
import graft.bigclam.BigClam

/** End-to-end BigCLAM on an edge-list text file — the reference's whole
  * pipeline (load → symmetrize → conductance-seeded init → projected
  * gradient ascent with Armijo line search → threshold/argmax communities)
  * as one command:
  *
  *   runMain graft.RunBigClam <edgeListPath> <K> <iterations> <outDir> [sparse|sparse:<m>] [stableTol] [llhTol] [ego|egosplit|auto]
  *
  * e.g. the graph bundled with the reference:
  *   runMain graft.RunBigClam /root/reference/data/facebook_combined.txt 8 3 /tmp/fb_out
  * The fit is always [[BigClam.fitSparse]]; no mode (or `sparse`) runs it
  * uncapped. `sparse:<m>` adds the per-row support cap (keep the m largest
  * entries) — the bounded-cost configuration for K in the thousands.
  * `stableTol` stops early once the per-iteration argmax membership churn
  * drops below the tolerance, making `iterations` a cap. `llhTol` (0
  * disables) stops at the reference's relative LLH rule. `initMode` picks
  * the cold-start init: `ego` (default, conductance whole-ego + padding) or
  * `egosplit` (spread seeds + LPA personas + no padding — the dense-cover
  * fix).
  */
object RunBigClam {
  def main(args: Array[String]): Unit = {
    val Array(path, kStr, itStr, outDir) = args.take(4)
    val mode = args.lift(4).getOrElse("sparse")
    require(mode == "sparse" || mode.startsWith("sparse:"),
      s"mode must be sparse or sparse:<m>, got $mode")
    val supportCap = if (mode.startsWith("sparse:")) Some(mode.drop(7).toInt) else None
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val edges = GraphOps.symEdges(GraphOps.loadEdgeList(spark, path)).cache()
    val nEdges = edges.count()
    val p = BigClam.Params(k = kStr.toInt)
    // scored through communitiesSparse (pair-identical to the dense rule
    // on fitted models, BigClamSpec) — at the v3 magnitude (K=8000 × 1M
    // nodes) a toDenseF here would materialize 64 GB of factor rows just
    // to threshold them
    val (fs, history) = BigClam.fitSparse(edges, p, iterations = itStr.toInt,
      supportCap = supportCap,
      stableTol = args.lift(5).map(_.toDouble).filter(_ > 0),
      llhTol = args.lift(6).map(_.toDouble).filter(_ > 0),
      initMode = args.lift(7).getOrElse("ego"))
    val com = BigClam.communitiesSparse(fs, edges, p)
    com.write.mode("overwrite").parquet(outDir)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[bigclam] $path: ${nEdges} directed edges, K=${p.k} " +
      f"($mode), ${itStr} iterations in $secs%.1f s")
    println(s"[bigclam] LLH history: ${history.map(v => f"$v%.2f").mkString(" -> ")}")
    println(s"[bigclam] memberships written to $outDir")
    spark.stop()
  }
}
