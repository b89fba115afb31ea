package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.GraphOps
import graft.bigclam.BigClam

/** Ego-splitting cold-start init: triangle-support persona components,
  * greedy max-coverage column allocation, and the cover-based init seam. */
class EgoSplitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def sym(rows: Seq[(Long, Long)]) = {
    import spark.implicits._
    GraphOps.symEdges(rows.toDF("src", "dst"))
  }

  // seed 0's ego = {1,2,3,4}; internal edges (1,2) and (3,4) only: two
  // triangle-support blocks {1,2} and {3,4}
  private val twoBlockEdges = sym(Seq(
    0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L,
    1L -> 2L, 3L -> 4L))

  test("egoSplitPersonasLPA splits communities a bridge node merges") {
    import spark.implicits._
    // seed 0's ego: clique A={1,2,3}, clique B={5,6,7}, bridge node 4 with
    // one support edge into each side (4-1, 4-5). Connected components
    // would merge everything through the bridge; LPA keeps two labels — the
    // bridge falls to one side, the cliques keep their own plurality.
    val edges = sym(Seq(
      0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L, 0L -> 5L, 0L -> 6L, 0L -> 7L,
      1L -> 2L, 1L -> 3L, 2L -> 3L,
      5L -> 6L, 5L -> 7L, 6L -> 7L,
      4L -> 1L, 4L -> 5L))
    val lpa = GraphOps.egoSplitPersonasLPA(edges, Seq(0L).toDF("seed"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val groups = lpa.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(groups == Set(Set(1L, 2L, 3L, 4L), Set(5L, 6L, 7L)), s"got $groups")
  }

  test("egoSplitPersonasLPA self-vote settles the two-node pair") {
    import spark.implicits._
    // classic LPA 2-cycle: without a self-vote, a lone support pair swaps
    // labels every round and lands on round-count parity
    val edges = sym(Seq(50L -> 51L, 50L -> 52L, 51L -> 52L))
    val got = GraphOps.egoSplitPersonasLPA(edges, Seq(50L).toDF("seed"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(51L -> 51L, 52L -> 51L), s"got $got")
  }

  test("egoSplitCover allocates split personas and whole-ego fallbacks") {
    import spark.implicits._
    // seed 0: two personas {1,2} and {3,4}; seed 20: triangle-free ego
    // {21,22} -> whole-ego fallback. A bridge 4-21 keeps the graph honest
    // (no effect on the split: 21 is not in seed 0's ego).
    val edges = sym(Seq(
      0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L, 1L -> 2L, 3L -> 4L,
      20L -> 21L, 20L -> 22L, 4L -> 21L))
    val ranked = Seq((0L, 0.1, 1), (20L, 0.2, 2)).toDF("seed", "phi", "rank")
    val (cover, diag) = GraphOps.egoSplitCover(edges, ranked, k = 3)
    val byCol = cover.collect().groupBy(_.getInt(0))
      .map { case (c, rows) => c -> rows.map(_.getLong(1)).toSet }
    // three columns, each a single-community subset + its seed
    assert(byCol.keySet == Set(0, 1, 2), s"got $byCol")
    val sets = byCol.values.toSet
    assert(sets == Set(Set(0L, 1L, 2L), Set(0L, 3L, 4L), Set(20L, 21L, 22L)),
      s"got $sets")
    // greedy max-coverage order: seed 0's first persona (rn=1, lower phi)
    // then seed 20's fallback (rn=1) then seed 0's second persona (rn=2)
    assert(byCol(0) == Set(0L, 1L, 2L) && byCol(1) == Set(20L, 21L, 22L) &&
      byCol(2) == Set(0L, 3L, 4L), s"got $byCol")
    // metadata records the allocator path and what it covered: 3 columns
    // over 7 distinct members; seed 0 split into 2 qualifying personas
    // (multi), seed 20 contributed its whole-ego fallback (single)
    assert(diag.allocator == "greedy" && diag.picked == 3 && diag.k == 3,
      s"got $diag")
    assert(diag.coveredNodes == 8L, s"got $diag") // {0,1,2}∪{0,3,4}∪{20,21,22}
    assert(diag.seeds == 2L && diag.personas == 3L &&
      diag.multiPersonaSeeds == 1L, s"got $diag")
    assert(math.abs(diag.multiPersonaFrac - 0.5) < 1e-12, s"got $diag")
  }

  test("egoSplitCover caps at k columns, preferring coverage") {
    import spark.implicits._
    val edges = sym(Seq(
      0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L, 1L -> 2L, 3L -> 4L,
      20L -> 21L, 20L -> 22L, 21L -> 22L))
    val ranked = Seq((0L, 0.1, 1), (20L, 0.2, 2)).toDF("seed", "phi", "rank")
    val (cover, diag) = GraphOps.egoSplitCover(edges, ranked, k = 2)
    val byCol = cover.collect().groupBy(_.getInt(0))
      .map { case (c, rows) => c -> rows.map(_.getLong(1)).toSet }
    // k=2: the two best-coverage personas win — one from each seed (seed
    // 0's second persona only adds 2 new members vs seed 20's 3)
    assert(byCol.values.toSet == Set(Set(0L, 1L, 2L), Set(20L, 21L, 22L)),
      s"got $byCol")
    assert(diag.allocator == "greedy" && diag.picked == 2 &&
      diag.coveredNodes == 6L, s"got $diag")
  }

  test("egoSplitCover past the collect guard runs the distributed greedy") {
    import spark.implicits._
    // force the guard with a 1-row limit: round 15 replaced the rank-order
    // fallback (which forfeited the greedy coverage property) with the
    // distributed greedy — the diag must say so and the PICKS must be the
    // driver greedy's, column for column
    val edges = sym(Seq(
      0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L, 1L -> 2L, 3L -> 4L,
      20L -> 21L, 20L -> 22L, 21L -> 22L))
    val ranked = Seq((0L, 0.1, 1), (20L, 0.2, 2)).toDF("seed", "phi", "rank")
    val (cover, diag) = GraphOps.egoSplitCover(edges, ranked, k = 2,
      maxCollectRows = 1L)
    val byCol = cover.collect().groupBy(_.getInt(0))
      .map { case (c, rows) => c -> rows.map(_.getLong(1)).toSet }
    val (coverRef, diagRef) = GraphOps.egoSplitCover(edges, ranked, k = 2)
    val byColRef = coverRef.collect().groupBy(_.getInt(0))
      .map { case (c, rows) => c -> rows.map(_.getLong(1)).toSet }
    assert(diagRef.allocator == "greedy")
    assert(byCol == byColRef, s"dist picks $byCol vs driver $byColRef")
    assert(diag.allocator == "greedy-dist" && diag.picked == 2 &&
      diag.coveredNodes == diagRef.coveredNodes && diag.memberRows > 1L,
      s"got $diag")
  }

  test("greedyAllocDistributed picks the exact driver-greedy sequence") {
    import spark.implicits._
    import scala.util.Random
    // random persona pools vs an in-test EAGER greedy reference (the exact
    // semantics of egoSplitCover's driver allocator: order personas by
    // (rn, phi, seed, comp), pick argmax marginal gain, ties to the
    // earliest order index, zero-gain personas still fill columns). The
    // 3-row batch budget forces many rounds through the θ-threshold logic
    // — including picks that DROPPED to θ and must wait for a fresh sort.
    for (seed <- Seq(3, 14, 27)) {
      val rnd = new Random(seed)
      val personas: Seq[(Long, Long, Set[Long])] = for {
        s <- 0L until 8L
        c <- 0L until (1 + rnd.nextInt(3)).toLong
      } yield (s, c, (0 until (1 + rnd.nextInt(6)))
        .map(_ => rnd.nextInt(25).toLong).toSet)
      val phi = (0L until 8L).map(s => s -> rnd.nextDouble()).toMap
      // rn: per-seed rank by (size desc, comp asc) — the production order
      val rnOf = personas.groupBy(_._1).flatMap { case (s, ps) =>
        ps.sortBy(p => (-p._3.size, p._2)).zipWithIndex
          .map { case (p, i) => (p._1, p._2) -> (i + 1) }
      }
      val members = personas.flatMap { case (s, c, us) =>
        us.map(u => (s, u, c)) }.toDF("seed", "u", "comp")
      val keys = personas.map { case (s, c, us) =>
        (s, c, us.size.toLong, phi(s), rnOf((s, c))) }
        .toDF("seed", "comp", "sz", "phi", "rn")
      // eager reference
      def eager(k: Int): Seq[(Long, Long)] = {
        val order = personas.map { case (s, c, us) =>
          ((rnOf((s, c)), phi(s), s, c), (s, c), us) }
          .sortBy(_._1).map(p => (p._2, p._3))
        val covered = scala.collection.mutable.HashSet.empty[Long]
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val used = scala.collection.mutable.HashSet.empty[Int]
        while (picked.size < k && used.size < order.size) {
          val (bi, _) = order.zipWithIndex
            .filterNot { case (_, i) => used(i) }
            .map { case ((key, us), i) => (i, us.count(m => !covered(m))) }
            .maxBy { case (i, g) => (g, -i) }
          used += bi
          picked += order(bi)._1
          order(bi)._2.foreach(covered += _)
        }
        picked.toSeq
      }
      for (k <- Seq(3, 7, personas.size + 2)) {
        val want = eager(k)
        val (got, _, ad) = GraphOps.greedyAllocDistributed(members, keys, k,
          batchRowBudget = 3L)
        val gotSeq = got.orderBy("c").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(gotSeq == want, s"seed=$seed k=$k: dist=$gotSeq eager=$want")
        assert(ad.rounds >= 1 && ad.maxBatchRows >= 0L, s"got $ad")
        // and with a roomy budget (single batch, θ = −1 path)
        val (got2, _, ad2) = GraphOps.greedyAllocDistributed(members, keys, k)
        val gotSeq2 = got2.orderBy("c").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(gotSeq2 == want, s"seed=$seed k=$k roomy: $gotSeq2 vs $want")
        assert(ad2.overshootRounds == 0, s"roomy budget must not overshoot: $ad2")
      }
    }
  }

  test("greedyAllocDistributed records the rank-1 budget escape hatch") {
    import spark.implicits._
    // one 10-member persona vs a budget of 3: the cum filter would exclude
    // it, the ord===1 hatch collects it anyway (a round must advance), and
    // the guard — computed from the candidate gains BEFORE the collect —
    // must record the overshoot instead of silently absorbing it. A second
    // disjoint 2-member persona stays within budget on its own round.
    val members = ((0L until 10L).map(u => (1L, u, 0L)) ++
      Seq((2L, 100L, 0L), (2L, 101L, 0L))).toDF("seed", "u", "comp")
    val keys = Seq((1L, 0L, 10L, 0.1, 1), (2L, 0L, 2L, 0.2, 1))
      .toDF("seed", "comp", "sz", "phi", "rn")
    val (got, coveredN, ad) = GraphOps.greedyAllocDistributed(
      members, keys, k = 2, batchRowBudget = 3L)
    val picks = got.orderBy("c").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(picks == Seq((1L, 0L), (2L, 0L)), s"got $picks")
    assert(coveredN == 12L)
    assert(ad.overshootRounds >= 1 && ad.maxBatchRows == 10L,
      s"the oversized rank-1 persona must be recorded as overshoot: $ad")
  }

  test("abandonWatcher: window discipline, hopeless kill, closer and close-race immunity") {
    // hopeless: flat far-below candidate — silent through the 20-measure
    // window, fires on the first verdict after it
    var hit = Option.empty[Int]
    val w1 = BigClam.abandonWatcher(-1e6, budget = 120, tol = 1e-4,
      onAbandon = at => hit = Some(at))
    for (it <- 1 to 20)
      assert(!w1(it, -1e7), s"no verdict inside the window (measure $it)")
    assert(w1(21, -1e7) && hit.contains(21))
    // fast closer: trailing 2× but rising hard (the recorded sparse-control
    // shape) — the projection clears the leader, never abandoned
    val w2 = BigClam.abandonWatcher(-1e6, budget = 120, tol = 1e-4)
    for (it <- 1 to 60)
      assert(!w2(it, -2.0e6 + 5e4 * it), s"closer wrongly abandoned at $it")
    // close race: flat candidate 0.05% under the leader sits inside the
    // 10·tol margin — never abandoned even with zero rate
    val w3 = BigClam.abandonWatcher(-1e6, budget = 120, tol = 1e-4)
    for (it <- 1 to 120)
      assert(!w3(it, -1.0005e6), s"close race wrongly abandoned at $it")
    // best-so-far is monotone: a sawtooth whose best reached the leader
    // never abandons, whatever the later dips do
    val w4 = BigClam.abandonWatcher(-1e6, budget = 120, tol = 1e-4)
    assert(!w4(1, -0.99e6))
    for (it <- 2 to 80)
      assert(!w4(it, -5e6), s"sawtooth wrongly abandoned at $it")
  }

  test("fitSparse llhWatch stops at the best iterate, like a stall stop") {
    val cliques = sym(Seq(
      1L -> 2L, 1L -> 3L, 2L -> 3L, 0L -> 1L, 0L -> 2L, 0L -> 3L,
      5L -> 6L, 5L -> 7L, 6L -> 7L, 0L -> 5L, 0L -> 6L, 0L -> 7L))
    val p = BigClam.Params(k = 2)
    // watcher fires at measure 3 → the fit returns its best F among the
    // first 3 measures; ascent is monotone here, so that is the F after 2
    // updates — bit-identical to a 2-iteration fit from the same init
    val (fa, ha) = BigClam.fitSparse(cliques, p, iterations = 10,
      llhWatch = Some((it, _) => it >= 3))
    assert(ha.size == 4, s"3 measures + the appended best: $ha") // abandoned at 3
    assert(ha.last == ha.take(3).max, "history.last must be the best measure")
    val (fb, _) = BigClam.fitSparse(cliques, p, iterations = 2)
    val a = fa.orderBy("id").collect().map(_.toString).toSeq
    val b = fb.orderBy("id").collect().map(_.toString).toSeq
    assert(a == b, "abandoned fit must hand back the best iterate")
  }

  test("fitSparse initMode=auto decides by the LLH race and records it") {
    // two 4-cliques sharing node 0 (the egosplit end-to-end fixture). The
    // REGIME validation (auto matches the best manual init on the dense
    // 10k/100 and sparse 4k/40 planted fixtures) lives in the recorded
    // `graft.Run bigclam init=auto` runs — a micro graph can't pin which regime
    // it "should" be in, so here we pin the MECHANISM: the probe fires,
    // both race LLHs and the split diag are recorded, the decision is the
    // argmax of the race, and the fit runs end-to-end either way.
    val cliques = sym(Seq(
      1L -> 2L, 1L -> 3L, 2L -> 3L, 0L -> 1L, 0L -> 2L, 0L -> 3L,
      5L -> 6L, 5L -> 7L, 6L -> 7L, 0L -> 5L, 0L -> 6L, 0L -> 7L))
    var seen = Option.empty[BigClam.InitDiag]
    val (fs, hist) = BigClam.fitSparse(cliques, BigClam.Params(k = 2),
      iterations = 30, llhTol = Some(1e-4), initMode = "auto",
      initProbe = d => seen = Some(d))
    assert(hist.nonEmpty && hist.last >= hist.head)
    assert(fs.count() == 7)
    val d = seen.getOrElse(fail("initProbe never fired"))
    assert(d.requested == "auto", s"got $d")
    assert(d.cover.isDefined, s"auto must measure the split: $d")
    val (e, sp) = (d.egoLlh.getOrElse(fail(s"no ego race LLH: $d")),
      d.splitLlh.getOrElse(fail(s"no split race LLH: $d")))
    val expect = if (sp >= e) "egosplit" else "ego"
    assert(d.chosen == expect, s"decision must be the race argmax: $d")
  }

  test("initMode=auto race is deterministic and returns the winning probe F") {
    // the race runs both inits as full candidate fits (1e-4 rule, cap
    // AutoRaceCap) and hands back the WINNER'S candidate F (race work is
    // reused, not replayed): the auto init must therefore equal a manual
    // warm-started candidate fit of the chosen mode, and a second auto
    // call must reproduce it exactly
    val block = sym(Seq(
      0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 2L, 2L -> 3L, 1L -> 3L))
    val p = BigClam.Params(k = 2)
    // raceBudget=8 keeps the micro-graph candidates cheap: at llh ≈ −0.004
    // the relative rules are jitter-dominated and a default-budget race
    // burns 2×120 iterations learning nothing
    val (fAuto, dAuto) = BigClam.initSparseByMode(block, p, None, "auto",
      raceBudget = 8)
    assert(dAuto.requested == "auto", s"got $dAuto")
    assert(dAuto.egoLlh.isDefined && dAuto.splitLlh.isDefined, s"got $dAuto")
    val (fAuto2, dAuto2) = BigClam.initSparseByMode(block, p, None, "auto",
      raceBudget = 8)
    assert(dAuto2.chosen == dAuto.chosen && dAuto2.egoLlh == dAuto.egoLlh &&
      dAuto2.splitLlh == dAuto.splitLlh, s"got $dAuto vs $dAuto2")
    val a = fAuto.orderBy("id").collect().map(_.toString).toSeq
    val b = fAuto2.orderBy("id").collect().map(_.toString).toSeq
    assert(a == b, "auto must be deterministic")
    // winner's probe F = the manual probe fit from the same raw init
    // (dispatching the chosen mode through initSparseByMode returns the
    // raw, unprobed init frame for both "ego" and "egosplit")
    val (raw, _) = BigClam.initSparseByMode(block, p, None, dAuto.chosen)
    val (fProbe, _) = BigClam.fitSparse(block, p, 8,
      llhTol = Some(1e-4), warmStart = Some(raw))
    val c = fProbe.orderBy("id").collect().map(_.toString).toSeq
    assert(a == c, "auto must hand back the winning probe F")
  }

  test("initSparseFromCover warms covered rows and pads the rest") {
    import spark.implicits._
    val cover = Seq((0, 1L), (0, 2L), (1, 3L), (1, 4L), (0, 3L))
      .toDF("c", "member")
    val f = BigClam.initSparseFromCover(twoBlockEdges,
      BigClam.Params(k = 2), cover)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getSeq[Double](2))).toMap
    assert(f(1L) == (Seq(0), Seq(1.0)))
    assert(f(2L) == (Seq(0), Seq(1.0)))
    assert(f(3L) == (Seq(0, 1), Seq(1.0, 1.0)), "multi-persona row keeps both")
    assert(f(4L) == (Seq(1), Seq(1.0)))
    // node 0 is uncovered: its fi is the deterministic xxhash64 padding
    val expect0 = (0 until 2).filter { i =>
      // same predicate as the init: pmod(xxhash64(id, i), 16) === 0 — read
      // the value back from Spark itself to avoid re-implementing the hash
      spark.range(1).select(
        pmod(xxhash64(lit(0L), lit(i)), lit(16)) === 0).collect()(0).getBoolean(0)
    }
    assert(f(0L)._1 == expect0, s"padding mismatch: ${f(0L)} vs $expect0")
  }

  test("initSparseFromCover pad=false leaves uncovered rows empty") {
    import spark.implicits._
    val cover = Seq((0, 1L), (0, 2L), (1, 3L), (1, 4L)).toDF("c", "member")
    val f = BigClam.initSparseFromCover(twoBlockEdges,
      BigClam.Params(k = 2), cover, pad = false)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getSeq[Double](2))).toMap
    assert(f(1L) == (Seq(0), Seq(1.0)) && f(3L) == (Seq(1), Seq(1.0)))
    // node 0 is uncovered: EMPTY support, not hash padding — the round-13
    // measured fix (padded uncovered rows hold ~K/16 random columns at 1.0
    // and blend every dense-cover cold fit into the F1<=0.44 basin)
    assert(f(0L) == (Seq.empty[Int], Seq.empty[Double]), s"got ${f(0L)}")
  }

  test("fitSparse initMode=egosplit runs end-to-end and grows empty rows") {
    // two 4-cliques sharing node 0: the egosplit init (spread seeds + LPA
    // personas + no padding) must produce a fit where each clique's nodes
    // argmax into a common column, and uncovered/empty rows acquire
    // support through neighbor dims (gradient support = fu ∪ neighbors)
    val cliques = sym(Seq(
      1L -> 2L, 1L -> 3L, 2L -> 3L, 0L -> 1L, 0L -> 2L, 0L -> 3L,
      5L -> 6L, 5L -> 7L, 6L -> 7L, 0L -> 5L, 0L -> 6L, 0L -> 7L))
    val (fs, hist) = BigClam.fitSparse(cliques, BigClam.Params(k = 2),
      iterations = 30, llhTol = Some(1e-4), initMode = "egosplit")
    assert(hist.nonEmpty && hist.last >= hist.head, "LLH must not regress")
    val rows = fs.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(rows.size == 7, s"every node needs a row, got ${rows.size}")
    // every node ends with non-empty support (empty rows grew)
    assert(rows.values.forall(_.nonEmpty), s"empty support rows: $rows")
  }

  test("initSparseFromSeeds is unchanged by the cover refactor") {
    import spark.implicits._
    val seeds = Seq((0L, 0), (3L, 1)).toDF("seed", "c")
    val viaSeeds = BigClam.initSparseFromSeeds(twoBlockEdges,
      BigClam.Params(k = 2), seeds)
    val ego = twoBlockEdges.join(seeds, col("src") === col("seed"))
      .select(col("c"), col("dst").as("member"))
      .union(seeds.select(col("c"), col("seed").as("member")))
      .distinct()
    val viaCover = BigClam.initSparseFromCover(twoBlockEdges,
      BigClam.Params(k = 2), ego)
    val a = viaSeeds.orderBy("id").collect().map(_.toString).toSeq
    val b = viaCover.orderBy("id").collect().map(_.toString).toSeq
    assert(a == b)
  }
}
