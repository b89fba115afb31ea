package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.{GraphGen, GraphOps}

/** The synthetic power-law generator behind the v3-scale `graft.Run bigclam` runs:
  * deterministic in its parameters, self-loop-free, in-range, and actually
  * skewed (the whole point — a uniform graph would not exercise hub
  * handling in seeding or AQE skew joins).
  */
class GraphGenSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def checksum(n: Long, e: Long, seed: Long = 42L): (Long, Long) = {
    val df = GraphGen.powerLawEdges(s, n, e, seed = seed)
      .agg(count(lit(1)).as("c"), expr("bit_xor(xxhash64(src, dst))").as("h"))
    val r = df.collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("deterministic in (nNodes, nEdges, seed); different seed differs") {
    val a = checksum(20000, 60000)
    val b = checksum(20000, 60000)
    val c = checksum(20000, 60000, seed = 43L)
    assert(a == b)
    assert(a != c)
    assert(a._1 > 50000) // only self-loops/duplicate draws drop out
  }

  test("no self-loops, ids in range, power-law degree skew") {
    val e = GraphGen.powerLawEdges(s, 20000, 60000).cache()
    assert(e.filter(col("src") === col("dst")).count() == 0)
    assert(e.filter(col("src") < 0 || col("src") >= 20000
      || col("dst") < 0 || col("dst") >= 20000).count() == 0)
    val deg = GraphOps.degrees(GraphOps.symEdges(e)).cache()
    val r = deg.agg(avg(col("degree")), max(col("degree"))).collect()(0)
    val (avgDeg, maxDeg) = (r.getDouble(0), r.getLong(1))
    assert(maxDeg > 20 * avgDeg, s"expected hub skew, got avg=$avgDeg max=$maxDeg")
    // the heaviest hubs are the low ids (truncated-Pareto head)
    val top = deg.orderBy(col("degree").desc).limit(1).collect()(0).getLong(0)
    assert(top < 100, s"max-degree node should be a low id, got $top")
    e.unpersist(); deg.unpersist()
  }

  test("planted partition: deterministic, in-range, intra edges stay in-block") {
    val a = GraphGen.plantedPartitionEdges(s, 1000, 4, 5000, 0).cache()
    // with zero inter draws every edge must stay inside its 250-id block
    assert(a.filter(expr("src DIV 250") =!= expr("dst DIV 250")).count() == 0)
    assert(a.filter(col("src") === col("dst")).count() == 0)
    assert(a.filter(col("src") < 0 || col("src") >= 1000
      || col("dst") < 0 || col("dst") >= 1000).count() == 0)
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(expr("bit_xor(xxhash64(src, dst))")).collect()(0).getLong(0)
    assert(h(GraphGen.plantedPartitionEdges(s, 1000, 4, 5000, 200)) ==
      h(GraphGen.plantedPartitionEdges(s, 1000, 4, 5000, 200)))
    assert(h(GraphGen.plantedPartitionEdges(s, 1000, 4, 5000, 200)) !=
      h(GraphGen.plantedPartitionEdges(s, 1000, 4, 5000, 200, seed = 7L)))
    // noise draws do cross blocks
    val b = GraphGen.plantedPartitionEdges(s, 1000, 4, 5000, 500)
    assert(b.filter(expr("src DIV 250") =!= expr("dst DIV 250")).count() > 0)
    a.unpersist()
    // truth shape: every node exactly once, communities 0..3
    val t = GraphGen.plantedTruth(s, 1000, 4)
    assert(t.count() == 1000 && t.select("node").distinct().count() == 1000)
    assert(t.select("community").distinct().count() == 4)
  }

  test("planted cover: memberships 1-3 per node with real overlap mass; AGM edges deterministic and richer for multi-shared pairs") {
    val truth = GraphGen.plantedCoverTruth(s, 2000, 8).cache()
    // every node covered; membership counts bounded 1..3; a real overlap mass
    val perNode = truth.groupBy("node").agg(count(lit(1)).as("m")).cache()
    assert(perNode.count() == 2000)
    val r = perNode.agg(min("m"), max("m"),
      sum(when(col("m") >= 2, 1L).otherwise(0L))).collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) <= 3L)
    assert(r.getLong(2) > 400L, s"overlap mass too thin: ${r.getLong(2)}")
    assert(truth.filter(col("community") < 0 || col("community") >= 8).count() == 0)
    // determinism of truth and edges; seed sensitivity
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(expr("bit_xor(xxhash64(src, dst))")).collect()(0).getLong(0)
    val e1 = GraphGen.plantedCoverEdges(s, 2000, 8, 0.3, 500)
    assert(h(e1) == h(GraphGen.plantedCoverEdges(s, 2000, 8, 0.3, 500)))
    assert(h(e1) != h(GraphGen.plantedCoverEdges(s, 2000, 8, 0.3, 500, seed = 7L)))
    // shape: no self-loops, in-range
    val e = GraphGen.plantedCoverEdges(s, 2000, 8, 0.3, 0).cache()
    assert(e.filter(col("src") === col("dst")).count() == 0)
    assert(e.filter(col("src") < 0 || col("src") >= 2000
      || col("dst") < 0 || col("dst") >= 2000).count() == 0)
    // the AGM link function: with zero noise, every edge shares >= 1
    // community, and pairs sharing k=2+ link strictly more often than k=1
    // pairs (P = 1 − (1−p)^k)
    val a = truth.select(col("community"), col("node").as("u"))
    val b = truth.select(col("community"), col("node").as("v"))
    val shared = a.join(b, Seq("community")).filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("k")).cache()
    val joined = shared.join(e,
      shared("u") === e("src") && shared("v") === e("dst"), "left")
      .select(col("k"), when(col("src").isNotNull, 1.0).otherwise(0.0).as("hit"))
    val rates = joined.groupBy("k").agg(avg("hit").as("rate"), count(lit(1)).as("n"))
      .orderBy("k").collect()
    val rate = rates.map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(rate(1L) - 0.3) < 0.02, s"k=1 rate off pSingle: ${rate(1L)}")
    assert(rate(2L) > rate(1L) + 0.1, s"k=2 not denser: $rate")
    // edges with zero shared communities cannot exist without noise draws
    val eKeyed = e.select(col("src").as("u"), col("dst").as("v"))
    assert(eKeyed.join(shared, Seq("u", "v"), "left_anti").count() == 0)
    truth.unpersist(); perNode.unpersist(); e.unpersist(); shared.unpersist()
  }

  test("label propagation recovers dense planted blocks") {
    val edges = GraphOps.symEdges(GraphGen.plantedPartitionEdges(s, 200, 4, 4000, 0))
    val lab = GraphOps.labelPropagation(edges, 5)
      .select(col("node"), col("lab").as("community"))
    val f1 = graft.bigclam.BigClam
      .scoreCommunities(lab, GraphGen.plantedTruth(s, 200, 4))
      .collect()(0).getAs[Double]("f1")
    assert(f1 > 0.9, s"LPA failed to recover planted blocks: F1 = $f1")
  }

  test("planted partition: non-dividing community count leaves a short last block, still consistent") {
    // 10 nodes / 3 communities -> blockSize 4: blocks {0..3} {4..7} {8,9}
    val t = GraphGen.plantedTruth(s, 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(t.map(_._2).toSeq == (0L until 10L))
    assert(t.groupBy(_._1).view.mapValues(_.length).toMap ==
      Map(0L -> 4, 1L -> 4, 2L -> 2))
    // generator respects the same short block: with zero noise every edge
    // stays inside a truth block, including the 2-node tail block's only
    // possible edge (8,9)
    val e = GraphGen.plantedPartitionEdges(s, 10, 3, 2000, 0).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(e.nonEmpty)
    val blockOf = (i: Long) => i / 4
    assert(e.forall { case (a, b) => blockOf(a) == blockOf(b) },
      s"cross-block intra edge: ${e.filter(p => blockOf(p._1) != blockOf(p._2)).take(3).toSeq}")
    assert(e.forall { case (a, b) => a >= 0 && a < 10 && b >= 0 && b < 10 && a != b })
    assert(e.exists { case (a, b) => blockOf(a) == 2 }, "tail block never drawn")
  }
}
