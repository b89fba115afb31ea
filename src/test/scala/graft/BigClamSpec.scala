package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.bigclam.BigClam
import graft.graph.GraphOps

/** BigCLAM invariants (SURVEY.md §5.4): ascent with Armijo acceptance means
  * total LLH is non-decreasing; projected updates keep F in [0, 1000];
  * threshold+argmax assignment covers every node.
  */
class BigClamSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  import s.implicits._

  private lazy val edges = GraphOps.symEdges(
    Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
      .toDF("src", "dst")).cache()

  /** Dense (id, f) rows of a fitSparse fit — the view dense callers read. */
  private def denseFit(k: Int, iterations: Int) = BigClam.toDenseF(
    BigClam.fitSparse(edges, BigClam.Params(k = k), iterations)._1, k)

  test("LLH is non-decreasing over fit iterations on the toy graph") {
    val (_, history) = BigClam.fitSparse(edges, BigClam.Params(k = 2), iterations = 3)
    assert(history.size == 4)
    history.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"LLH decreased: $history")
    }
  }

  test("factor entries stay within [minF, maxF] and are finite") {
    val f = denseFit(k = 2, iterations = 3)
    val vals = f.select(explode(col("f"))).as[Double].collect()
    assert(vals.nonEmpty)
    assert(vals.forall(v => !v.isNaN && !v.isInfinite && v >= 0.0 && v <= 1000.0))
  }

  test("communities cover all nodes with ids < K and recover the planted split") {
    val f = denseFit(k = 2, iterations = 5)
    val com = BigClam.communities(f, edges, BigClam.Params(k = 2))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Int]("community"))
    assert(com.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(com.map(_._2).forall(c => c >= 0 && c < 2))
    // planted communities {0,1,2} / {3,4,5}: triangle interiors must not share
    // every community with the opposite triangle's interior
    val byNode = com.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byNode(0L).intersect(byNode(4L)).isEmpty ||
      byNode(0L) != byNode(4L))
  }

  test("communitiesSparse matches dense communities pair-for-pair on a fitted model") {
    // the sparse scorer is the scale path (K=8000 × 1M nodes never
    // densifies); its contract is exact agreement with the dense rule on
    // any fitted model (no empty-support rows there)
    val p = BigClam.Params(k = 3)
    val (fs, _) = BigClam.fitSparse(edges, p, iterations = 5)
    val sparse = BigClam.communitiesSparse(fs, edges, p)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val dense = BigClam.communities(BigClam.toDenseF(fs, p.k), edges, p)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sparse == dense, s"sparse $sparse vs dense $dense")
    assert(sparse.nonEmpty)
  }

  test("communitiesSparse drops empty-support rows (documented divergence)") {
    import s.implicits._
    // an empty-support node is "unassigned" in the sparse rule (the dense
    // twin's community-0 assignment there is an argmax-over-zeros artifact)
    val fs = Seq(
      (0L, Seq(0), Seq(1.0)),
      (1L, Seq.empty[Int], Seq.empty[Double])).toDF("id", "fi", "fv")
    val got = BigClam.communitiesSparse(fs, edges, BigClam.Params(k = 2))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.forall(_._1 == 0L), s"empty row must emit nothing: ${got.toSeq}")
  }

  test("communityMembers inverts communities: every node listed once per membership, csv sorted") {
    val f = denseFit(k = 2, iterations = 5)
    val p = BigClam.Params(k = 2)
    val com = BigClam.communities(f, edges, p).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Int]("community")))
    val inv = BigClam.communityMembers(f, edges, p).collect()
      .map(r => (r.getAs[Int]("community"), r.getAs[Long]("n_members"),
        r.getAs[String]("members_csv")))
    // exact inversion: the exploded members equal the (node, community) rows
    val fromInv = inv.flatMap { case (c, _, csv) => csv.split(",").map(m => (m.toLong, c)) }
    assert(fromInv.sorted.toSeq == com.map(t => (t._1, t._2)).sorted.toSeq)
    inv.foreach { case (_, n, csv) =>
      val ms = csv.split(",").map(_.toLong).toSeq
      assert(ms.size.toLong == n)
      assert(ms == ms.sorted, s"members not sorted: $csv")
    }
  }

  test("smoke queries run under a second session (cache keyed per session)") {
    val s2 = s.newSession()
    val fit1 = BigClam.bigclam_fit_smoke(s, TestSpark.sf).limit(8).collect()
    val fit2 = BigClam.bigclam_fit_smoke(s2, TestSpark.sf).limit(8).collect()
    assert(fit1.map(_.toString).toSeq == fit2.map(_.toString).toSeq)
    assert(BigClam.bigclam_communities(s2, TestSpark.sf).limit(1).collect().nonEmpty)
  }

  test("all three dense smoke consumers share one cached fit per session") {
    val before = BigClam.smokeCacheSize
    BigClam.bigclam_fit_smoke(s, TestSpark.sf).limit(1).collect()
    BigClam.bigclam_communities(s, TestSpark.sf).limit(1).collect()
    BigClam.bigclam_community_members(s, TestSpark.sf).limit(1).collect()
    assert(BigClam.smokeCacheSize <= before + 1,
      s"smoke queries added more than one cache entry: $before -> ${BigClam.smokeCacheSize}")
  }

  test("localCheckpoint keeps the plan flat: 12-iteration F plan == 3-iteration F plan") {
    // the lineage guard (round-3 lesson): without the per-iteration
    // localCheckpoint the logical plan would grow with the iteration count
    val (f3, _) = BigClam.fitSparse(edges, BigClam.Params(k = 2), iterations = 3,
      trackHistory = false)
    val (f12, _) = BigClam.fitSparse(edges, BigClam.Params(k = 2), iterations = 12,
      trackHistory = false)
    def planSize(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case n => n }.size
    assert(planSize(f12) == planSize(f3),
      s"plan grew with iterations: ${planSize(f3)} -> ${planSize(f12)}")
    assert(planSize(f12) <= 5, s"final F plan not checkpoint-flat: ${planSize(f12)}")
  }

  test("deterministic conductance-only init: no random padding") {
    val f1 = BigClam.init(edges, BigClam.Params(k = 2)).orderBy("id").collect()
    val f2 = BigClam.init(edges, BigClam.Params(k = 2)).orderBy("id").collect()
    assert(f1.map(_.toString).toSeq == f2.map(_.toString).toSeq)
    // community 0 = ego of seed 0 = {0,1,2}; community 1 = ego of seed 4 = {3,4,5}
    val m = f1.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(m(0L) == Seq(1.0, 0.0) && m(1L) == Seq(1.0, 0.0) && m(2L) == Seq(1.0, 0.0))
    assert(m(4L) == Seq(0.0, 1.0) && m(5L) == Seq(0.0, 1.0) && m(3L) == Seq(0.0, 1.0))
  }

  test("fit and fitSparse fail fast on an empty edge set") {
    val sess = s
    import sess.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val e1 = intercept[IllegalArgumentException](
      BigClam.fitSparse(empty, BigClam.Params(k = 2), 1))
    assert(e1.getMessage.contains("non-empty edge set"))
    val e2 = intercept[IllegalArgumentException](
      BigClam.selectKSparse(empty, BigClam.Params(k = 2), 2, 4, 2))
    assert(e2.getMessage.contains("non-empty edge set"))
  }
}
