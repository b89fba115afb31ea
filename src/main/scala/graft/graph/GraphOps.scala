package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph primitives over an edge DataFrame (src BIGINT, dst BIGINT) — the
  * Spark-SQL re-expression of the reference's GraphX layer:
  * edge ingestion + symmetrize (/root/reference/codes/Bigclamv2.scala:14-16),
  * neighbor collection (Bigclamv2.scala:33), ego-net conductance with the
  * 0/1 guards (Bigclamv2.scala:42-53), and locally-minimal-conductance seed
  * ranking (Bigclamv2.scala:54-58, bigclamv3-7.scala:50-51).
  *
  * Divergence note: the reference's neighborhood-min at Bigclamv2.scala:56
  * takes `.min` over `(id, phi)` tuples, i.e. lexicographic by *id* first —
  * an apparent bug. We implement the intended semantics: per node, the
  * neighborhood member (self included) minimizing (phi, id), ranked by phi
  * ascending with id tiebreaks, which is deterministic and SQL-expressible.
  *
  * Scale stance: everything is join/agg based — no `collectAsMap`, no
  * whole-graph broadcast (the reference's ceiling, Bigclamv2.scala:34).
  * Declared queries run on a deterministic bounded subgraph (absolute
  * orderkey cutoffs) so bench cost is scale-invariant; the operators
  * themselves are linear in |E| and distribute by node key.
  */
object GraphOps {

  /** Whitespace edge-list text loader, mirroring GraphLoader.edgeListFile
    * semantics (/root/reference/codes/Bigclamv2.scala:14): `#` comment
    * lines skipped, lines split on runs of whitespace, first two tokens →
    * (src, dst) BIGINT. Distributed text scan — works unchanged on a
    * 100 TB edge dump. */
  def loadEdgeList(s: SparkSession, path: String): DataFrame =
    s.read.text(path)
      .filter(!col("value").startsWith("#") && length(trim(col("value"))) > 0)
      .select(split(trim(col("value")), "\\s+").as("t"))
      .select(
        element_at(col("t"), 1).cast("bigint").as("src"),
        element_at(col("t"), 2).cast("bigint").as("dst"))

  /** Bipartite edges derived from lineitem (FIXTURES.md §A): orders on the
    * left, suppliers offset by 100000 on the right. */
  def rawEdges(s: SparkSession, d: String, maxOrderKey: Long = Long.MaxValue): DataFrame = {
    val li = Tables.lineitem(s, d)
    val bounded = if (maxOrderKey == Long.MaxValue) li else li.filter(col("l_orderkey") < maxOrderKey)
    bounded.select(col("l_orderkey").as("src"), (col("l_suppkey") + 100000L).as("dst"))
  }

  /** Undirected graph as both directed rows, deduped — the symmetrize step.
    * One scan + explode, not a two-branch self-union (r18): the union form
    * read the upstream (a full lineitem scan for the unbounded consumers)
    * TWICE — once per direction. Emitting both directed rows from one pass
    * halves the scan work; the distinct is unchanged (same row set). */
  def symEdges(raw: DataFrame): DataFrame =
    raw.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()

  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))

  def q_graph_degree(s: SparkSession, d: String): DataFrame =
    degrees(symEdges(rawEdges(s, d)))
      .orderBy("node")
      .limit(5000)

  /** Neighbor-list collection; the list is emitted as a comma-joined string
    * (BIGINT→string is engine-stable, and the driver comparator cannot sort
    * raw array cells). */
  def q_graph_neighbors(s: SparkSession, d: String): DataFrame =
    symEdges(rawEdges(s, d))
      .filter(col("src") < 100)
      .groupBy(col("src").as("node"))
      .agg(array_join(sort_array(collect_list(col("dst"))), ",").as("neighbors"),
        count(lit(1)).as("n_neighbors"))
      .orderBy("node")

  /** Shared-supplier counts between order pairs (common-neighbor counting on
    * the bipartite graph), bounded to orderkey<500 so the self-join stays
    * constant-size across scale factors. */
  def q_graph_common_neighbors(s: SparkSession, d: String): DataFrame = {
    val e = rawEdges(s, d, 500).distinct()
    val a = e.select(col("src").as("u"), col("dst"))
    val b = e.select(col("src").as("v"), col("dst"))
    a.join(b, Seq("dst")).filter(col("u") < col("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common"))
      .orderBy("u", "v")
      .limit(5000)
  }

  /** Per-node triangle counts via the ordered-wedge algorithm: `proj` holds
    * each undirected edge once as (u, v) with u < v, so triangle (a<b<c) is
    * found exactly once by joining (a,b)⋈(b,c)⋈(a,c); the corner explode
    * credits each of its three nodes. Scale stance: two shuffle joins on
    * edge endpoints — never a per-node neighborhood-set intersection, so a
    * celebrity node costs what its wedge count costs, splittable by AQE,
    * instead of one task materializing its whole adjacency set. */
  def triangleCounts(proj: DataFrame): DataFrame = {
    val e1 = proj.select(col("u").as("a"), col("v").as("b"))
    val e2 = proj.select(col("u").as("b"), col("v").as("c"))
    val e3 = proj.select(col("u").as("a"), col("v").as("c"))
    e1.join(e2, "b").join(e3, Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Triangle counts on the unipartite co-supplier projection (orders
    * sharing >=1 supplier) of the bounded graph — the bipartite
    * order–supplier graph itself is triangle-free. */
  def q_graph_triangle_count(s: SparkSession, d: String): DataFrame =
    triangleCounts(coSupplierProj(s, d)).orderBy("node").limit(5000)

  /** The bounded co-supplier projection both triangle-family queries run
    * on, lineage-cut: triangleCounts consumes it from THREE join sides (and
    * clustering-coeff adds a degree pass), so without the cut the static
    * plan re-derives the projection self-join per consumer (13 and 17
    * exchanges respectively). After the cut each consumer reads one flat
    * |proj|-row scan. At open scale the projection would be written once as
    * a bucketed table instead — the cut is the single-job analog. */
  private def coSupplierProj(s: SparkSession, d: String): DataFrame = {
    val raw = rawEdges(s, d, 300).distinct()
    val a = raw.select(col("src").as("u"), col("dst"))
    val b = raw.select(col("src").as("v"), col("dst"))
    cutLineage(a.join(b, Seq("dst")).filter(col("u") < col("v"))
      .select("u", "v").distinct())
  }

  /** Link-prediction scores for order pairs sharing suppliers on the
    * bounded bipartite graph — the classic trio: common-neighbor count,
    * neighborhood Jaccard |N(u)∩N(v)| / |N(u)∪N(v)|, and Adamic–Adar
    * Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) (rare shared neighbors weigh more).
    * Every shared supplier has degree ≥ 2 by construction (it appears in a
    * pair), so 1/ln(deg) never divides by zero.
    *
    * Scale stance: candidate pairs come only from the shared-neighbor
    * join (common ≥ 1 — never all-pairs); degrees are two partial aggs
    * joined by key; the per-pair aggregation is map-side combinable. The
    * AA sum is a double sum rounded at 6 decimals (the q_agg_corr class
    * of determinism: order noise ~1e-15 against a 1e-6 grid). */
  def q_graph_link_predict(s: SparkSession, d: String): DataFrame = {
    val e = rawEdges(s, d, 500).distinct()
    val sdeg = e.groupBy("dst").agg(count(lit(1)).as("sdeg"))
    val odeg = e.groupBy("src").agg(count(lit(1)).as("odeg"))
    val a = e.select(col("src").as("u"), col("dst"))
    val b = e.select(col("src").as("v"), col("dst"))
    a.join(b, Seq("dst")).filter(col("u") < col("v"))
      .join(sdeg, Seq("dst"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("sdeg").cast("double"))).as("aa"))
      .join(odeg.select(col("src").as("u"), col("odeg").as("du")), Seq("u"))
      .join(odeg.select(col("src").as("v"), col("odeg").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("n_common"),
        (col("du") + col("dv") - col("n_common")).as("n_union"),
        round(col("n_common").cast("double") /
          (col("du") + col("dv") - col("n_common")), 6).as("jaccard"),
        round(col("aa"), 6).as("adamic_adar"))
      .orderBy("u", "v")
      .limit(5000)
  }

  /** Ego-net conductance for every node of the (bounded) graph, exactly the
    * reference formula: S = {u} ∪ N(u); cut = boundary edges; vol_S = 2 ×
    * internal edge-endpoints; vol_T = totalDeg − vol_S − 2·cut;
    * φ = 0 if vol_S=0, 1 if vol_T=0, else cut/min(vol_S, vol_T). */
  /** Ego membership (ego, member) and its edge expansion. `hotDegCap`
    * bounds the power-law blow-up: a degree-D member appearing in E egos
    * contributes E·D expansion rows through ONE join key — a celebrity node
    * (E ≈ D ≈ 10⁶ at 100 TB) turns that into a single 10¹²-row task. With
    * the cap, neighbors of degree > cap are dropped from OTHER nodes' ego
    * sets (each node always keeps itself), so total expansion is
    * ≤ (cap+1)·2|E| — linear in the edge count — at the cost of truncated-
    * ego (approximate) φ for nodes adjacent to hubs. Default None preserves
    * the exact declared semantics; AQE skew-split remains the runtime
    * backstop for moderate skew. */
  private[graft] def egoExpanded(edges: DataFrame, hotDegCap: Option[Long]): DataFrame =
    egoMembers(edges, hotDegCap)
      .join(edges.select(col("src").as("member"), col("dst").as("x")), Seq("member"))
      .select(col("ego"), col("member"), col("x"))

  private[graft] def egoMembers(edges: DataFrame, hotDegCap: Option[Long]): DataFrame = {
    val deg = degrees(edges)
    val neigh = edges.select(col("src").as("ego"), col("dst").as("member"))
    val bounded = hotDegCap match {
      case Some(cap) => neigh.join(
        broadcast(deg.filter(col("degree") > cap).select(col("node").as("member"))),
        Seq("member"), "left_anti")
      case None => neigh
    }
    bounded.union(deg.select(col("node").as("ego"), col("node").as("member")))
  }

  def conductance(edges: DataFrame, hotDegCap: Option[Long] = None): DataFrame = {
    val deg = degrees(edges)
    // single-row total volume, broadcast-joined in (keeps the plan lazy —
    // no driver-side collect, unlike the reference's sigmaDegres broadcast)
    val tot = deg.agg(sum(col("degree")).as("total_deg"))
    // ego membership (ego, member): self + neighbors (optionally hub-capped)
    val members = egoMembers(edges, hotDegCap)
    // expand: every edge (w, x) with w ∈ S_ego
    val expanded = egoExpanded(edges, hotDegCap)
    // outside flag: x ∉ S_ego
    val flags = expanded
      .join(members.select(col("ego"), col("member").as("x"), lit(1).as("inside")),
        Seq("ego", "x"), "left")
      .select(col("ego"), when(col("inside").isNull, 1L).otherwise(0L).as("outside"))
    flags.groupBy("ego")
      .agg(count(lit(1)).as("vol_full"), sum(col("outside")).as("cut"))
      .crossJoin(broadcast(tot))
      .select(
        col("ego").as("node"), col("cut"),
        (col("vol_full") - col("cut")).as("vol_s"),
        (col("total_deg") - (col("vol_full") - col("cut")) - lit(2) * col("cut")).as("vol_t"))
      .withColumn("phi",
        // vol_s=0 under a cap means the ego was truncated to a singleton
        // (all neighbors were dropped hubs) — report the WORST conductance,
        // not the reference's 0.0 best-cut guard, else hub-adjacent leaves
        // would outrank every real seed if capped φ ever fed seedRank. The
        // uncapped path keeps the reference guard verbatim (and on a
        // symmetric nonempty graph vol_s ≥ 2 there anyway).
        when(col("vol_s") === 0, if (hotDegCap.isDefined) 1.0 else 0.0)
          .when(col("vol_t") === 0, 1.0)
          .otherwise(col("cut").cast("double") / least(col("vol_s"), col("vol_t"))))
  }

  def q_graph_conductance(s: SparkSession, d: String): DataFrame =
    // cut once: conductance consumes the edge frame from five subtrees
    // (degrees, ego membership, expansion, the inside-flag join, totals)
    conductance(cutLineage(symEdges(rawEdges(s, d, 2000))))
      .select(col("node"), col("cut"), col("vol_s"), col("vol_t"), round(col("phi"), 6).as("phi"))
      .orderBy("node")

  /** Locally-minimal-conductance seed ordering: per node the (phi, id)-min
    * member of its closed neighborhood; distinct winners ranked ascending.
    * `hotDegCap` flows to conductance's ego-truncation guard — required on
    * power-law graphs where a hub's ego expansion is deg² rows. */
  def seedRank(edges: DataFrame, hotDegCap: Option[Long] = None): DataFrame = {
    val phi = conductance(edges, hotDegCap).select(col("node").as("member"), col("phi"))
    val deg = degrees(edges)
    val closed = edges.select(col("src").as("node"), col("dst").as("member"))
      .union(deg.select(col("node"), col("node").as("member")))
    closed.join(phi, Seq("member"))
      .groupBy("node")
      .agg(min(struct(col("phi"), col("member"))).as("best"))
      .select(col("best.member").as("seed"), col("best.phi").as("phi"))
      .distinct()
  }

  /** Rank the top-K rows of a seed frame by (phi, seed) ascending WITHOUT a
    * global window: `orderBy().limit(k)` is a distributed TakeOrdered (each
    * partition keeps k, the driver merges k·P candidates), and the ≤k
    * survivors are MODEL STATE — k rows, the same class of driver-side
    * object as BigCLAM's sumF or the IVF centroids — so they are collected
    * once and ranked in memory, returning a k-row literal frame. An
    * unpartitioned `row_number().over(...)` gives the same output but moves
    * EVERY candidate row to one WindowExec task (a single-task sort of |V|
    * rows at 100×), and a self-join rank over the limit would duplicate the
    * whole upstream conductance pipeline into both join sides (a limit is
    * not an exchange — AQE cannot reuse it). seedRank emits one row per
    * distinct seed, so (phi, seed) is duplicate-free and the rank gapless. */
  private[graft] def rankTopSeeds(seeds: DataFrame, k: Int): DataFrame = {
    val s = seeds.sparkSession
    import s.implicits._
    val top = seeds.orderBy(col("phi").asc, col("seed").asc).limit(k)
      .select(col("seed").cast("bigint"), col("phi").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (seed, phi) => (phi, seed) } // defensive re-sort
    top.zipWithIndex
      .map { case ((seed, phi), i) => (seed, phi, i + 1) }
      .toSeq.toDF("seed", "phi", "rank")
  }

  /** Spread variant of [[rankTopSeeds]]: greedy (phi, seed)-ascending seed
    * selection subject to pairwise NON-ADJACENCY, over a bounded candidate
    * pool. Motivation (round-12 planted-cover diagnosis): on dense
    * overlapping covers the plain top-K conductance seeds pile into the
    * cleanest blocks — at 10k nodes/K*=100 they touch only 67/100 planted
    * communities, and the cold fit collapses (F1 0.23 vs the warm-start
    * 1.0); the WORKING 4k/40 fixture has 90% seed coverage. Nodes sharing
    * a planted community are adjacent with probability ≥ pSingle, so
    * forbidding adjacent seed pairs biases selection toward distinct
    * blocks — the classic seed-spacing refinement, made deterministic.
    *
    * Scale shape: the pool is k·poolFactor rows (TakeOrdered — map-side
    * top-k, collected once: model-state-sized, the same class as
    * rankTopSeeds' k rows), and the pool's induced adjacency is fetched
    * with two broadcast semi-joins then counted BEFORE collecting; a pool
    * whose induced subgraph exceeds `maxInducedEdges` (hub-dense pools)
    * falls back to plain [[rankTopSeeds]] rather than gambling the driver.
    * If greedy independence yields fewer than k seeds, the remainder fills
    * with the best skipped candidates in rank order (never fails). */
  private[graft] def rankTopSeedsSpread(seeds: DataFrame, edges: DataFrame,
      k: Int, poolFactor: Int = 64,
      maxInducedEdges: Long = 8000000L): DataFrame = {
    val s = seeds.sparkSession
    import s.implicits._
    val pool = seeds.orderBy(col("phi").asc, col("seed").asc).limit(k * poolFactor)
      .select(col("seed").cast("bigint"), col("phi").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (seed, phi) => (phi, seed) }
    val poolDf = pool.map(_._1).toSeq.toDF("pid")
    val induced = edges
      .join(broadcast(poolDf.select(col("pid").as("src"))), Seq("src"), "left_semi")
      .join(broadcast(poolDf.select(col("pid").as("dst"))), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
    if (induced.count() > maxInducedEdges) {
      System.err.println(s"[rankTopSeedsSpread] WARN: induced pool adjacency " +
        s"exceeds $maxInducedEdges rows; falling back to plain rankTopSeeds")
      rankTopSeeds(seeds, k)
    } else {
      val adj = new scala.collection.mutable.HashMap[Long, scala.collection.mutable.HashSet[Long]]()
      induced.collect().foreach { r =>
        adj.getOrElseUpdate(r.getLong(0), scala.collection.mutable.HashSet.empty) += r.getLong(1)
      }
      val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      val skipped = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      val chosenSet = scala.collection.mutable.HashSet.empty[Long]
      pool.foreach { case cand @ (id, _) =>
        if (chosen.length < k) {
          if (adj.get(id).forall(ns => !ns.exists(chosenSet))) {
            chosen += cand; chosenSet += id
          } else skipped += cand
        }
      }
      val filled = (chosen ++ skipped.take(k - chosen.length)).take(k)
        .sortBy { case (seed, phi) => (phi, seed) }
      filled.zipWithIndex
        .map { case ((seed, phi), i) => (seed, phi, i + 1) }
        .toSeq.toDF("seed", "phi", "rank")
    }
  }

  /** Ego-splitting personas (the local-clustering step of Epasto et al.,
    * "Ego-splitting framework", KDD 2017 — here a cold-start INIT device,
    * not a full persona-graph pipeline): for each seed, label propagation
    * over the seed's TRIANGLE-support graph — u,v ∈ N(seed) linked iff
    * (u,v) ∈ E, i.e. {seed,u,v} is a triangle. A seed in 2-3 overlapping
    * communities would otherwise BLEND them into one ego init column; the
    * communities are near-disconnected inside the ego (two communities
    * sharing only the seed contribute no triangle through it), and LPA
    * also resists a node in A∩B bridging them: each round every member
    * adopts the plurality label of its support neighbors plus itself, so
    * a bridge falls to its denser side while both sides keep their own
    * labels (connected components merge through such a bridge — round 13
    * measured mean column purity 0.396 under components on the 10k/100
    * cover).
    *
    * Deterministic by construction: synchronous rounds, plurality broken
    * by (count desc, label asc) via one min(struct) agg, self-vote breaks
    * the classic 2-cycle oscillation, and the round count is FIXED (LPA
    * has no monotone witness, so a fixpoint loop could cycle; bounded
    * rounds keep the output a pure function of the graph). Round 1 from
    * singleton labels is exactly one hash-min step; plurality takes over
    * once labels coalesce.
    *
    * Returns (seed, u, comp): one row per ego member; comp values are
    * label ids, with no connectivity guarantee (harmless for init-column
    * use), and members in no triangle with a co-member keep their own id.
    * Scale shape: ego membership is one |E|-row join against the broadcast
    * seed list, and the support-edge build is the standard triangle join
    * (linear in triangles through seeds, never degree² per ego); both are
    * lineage-cut because every round reads them. */
  private[graft] def egoSplitPersonasLPA(edges: DataFrame, seedIds: DataFrame,
      rounds: Int = 8): DataFrame = {
    val nbr = cutLineage(
      edges.join(broadcast(seedIds.select(col("seed"))), col("src") === col("seed"))
        .select(col("seed"), col("dst").as("u")))
    val support = cutLineage(
      edges.select(col("src").as("u"), col("dst").as("v"))
        .join(nbr, Seq("u"))
        .join(nbr.select(col("seed"), col("u").as("v")), Seq("seed", "v"))
        .select(col("seed"), col("u"), col("v")))
    var labels = cutLineage(nbr.select(col("seed"), col("u"), col("u").as("comp")))
    var it = 0
    while (it < rounds) {
      val votes = support
        .join(labels.select(col("seed"), col("u").as("v"), col("comp")),
          Seq("seed", "v"))
        .select(col("seed"), col("u"), col("comp"))
        .union(labels.select(col("seed"), col("u"), col("comp")))
      val next = votes.groupBy("seed", "u", "comp").agg(count(lit(1)).as("n"))
        .groupBy("seed", "u")
        .agg(min(struct((-col("n")).as("negN"), col("comp"))).as("best"))
        .select(col("seed"), col("u"), col("best.comp").as("comp"))
      labels = cutLineage(next)
      it += 1
    }
    labels
  }

  /** Allocation + split diagnostics returned alongside every
    * [[egoSplitCover]] frame (the round-13 "nothing records which path a
    * fit took" sharp edge): `allocator` is "greedy" or "rank-fallback"
    * (the >maxCollectRows guard path, which silently forfeits the greedy
    * coverage property — now recorded instead of only WARNed); `picked`/`k`
    * is how many columns were actually allocated; `coveredNodes` the union
    * of allocated persona members; `seeds`/`personas`/`multiPersonaSeeds`
    * describe the split itself — multiPersonaSeeds (seeds whose ego split
    * into ≥2 qualifying personas) over seeds is the regime signal
    * `initMode="auto"` thresholds on (dense overlapping covers split;
    * sparse covers don't); `memberRows` is what the collect guard saw. */
  case class CoverDiag(allocator: String, picked: Int, k: Int,
      coveredNodes: Long, seeds: Long, personas: Long,
      multiPersonaSeeds: Long, memberRows: Long,
      alloc: Option[AllocDiag] = None) {
    def multiPersonaFrac: Double =
      if (seeds == 0L) 0.0 else multiPersonaSeeds.toDouble / seeds
    override def toString: String =
      f"CoverDiag(allocator=$allocator, picked=$picked/$k, " +
        f"coveredNodes=$coveredNodes, seeds=$seeds, personas=$personas, " +
        f"multiPersonaSeeds=$multiPersonaSeeds (frac=$multiPersonaFrac%.3f), " +
        f"memberRows=$memberRows" +
        alloc.map(a => s", $a").getOrElse("") + ")"
  }

  /** Per-run diagnostics of [[greedyAllocDistributed]], riding on
    * [[CoverDiag.alloc]] when that path ran: `rounds` outer batched-greedy
    * rounds; `maxBatchRows` the largest restricted-member batch any round
    * collected (computed driver-side from the candidate gains — per
    * persona, restricted rows = marginal gain — so the guard costs no
    * extra job); `overshootRounds` rounds where the batch exceeded
    * `batchRowBudget` via the rank-1 escape hatch. */
  case class AllocDiag(rounds: Int, maxBatchRows: Long,
      overshootRounds: Int) {
    override def toString: String =
      s"AllocDiag(rounds=$rounds, maxBatchRows=$maxBatchRows, " +
        s"overshootRounds=$overshootRounds)"
  }

  /** Allocate `k` init columns over ego-split personas: a (c, member) cover
    * frame for [[graft.bigclam.BigClam.initSparseFromCover]], c ∈ 0..k-1,
    * plus a [[CoverDiag]] recording which allocator ran and what it covered.
    * Candidate personas come from `rankedSeeds` (seed, phi, rank — e.g.
    * [[rankTopSeedsSpread]] output): each seed's ego splits into triangle-
    * support personas ([[egoSplitPersonasLPA]]); personas of size <
    * `minCompSize` are dropped UNLESS the seed has no qualifying component
    * at all, in which case its whole ego is one fallback persona (a
    * triangle-free ego gives only singletons — a blended whole-ego column
    * beats a 2-node one there). The seed itself joins every one of its
    * personas (it genuinely belongs to each of the communities its ego
    * touches — the ego-splitting "persona copies").
    *
    * Column assignment is GREEDY MAX-COVERAGE over persona member sets:
    * pick the persona adding the most not-yet-covered members, tie-broken
    * by (per-seed size rank, phi, seed, comp) — so every spread seed's
    * dominant persona ranks early, and a multi-community seed's SECOND
    * persona can win a column for a community no other seed reached (the
    * +18/100 coverage gap the round-12 arms could not close). The greedy
    * runs driver-side over one bounded collect: persona membership rows are
    * COUNTED first and past `maxCollectRows` the allocation falls back to
    * the distributed rank order (rn, phi, seed) — same guarded-collect
    * contract as [[rankTopSeedsSpread]].
    *
    * The greedy is LAZY (max-heap of stale gains): coverage gain is
    * submodular — once `covered` only grows, every persona's marginal gain
    * is non-increasing — so a popped candidate whose recomputed gain equals
    * its stored key is still the true argmax, and any candidate tied with
    * it at a smaller rank index would have popped first (heap order is
    * gain desc, rank-index asc — the exact eager tie order). Re-evaluating
    * only popped candidates replaces the eager scan's O(k · personas ·
    * set size) probes (billions at K in the thousands over a 2K-seed pool)
    * with near-linear work, picking the IDENTICAL sequence. */
  private[graft] def egoSplitCover(edges: DataFrame, rankedSeeds: DataFrame,
      k: Int, minCompSize: Int = 2,
      maxCollectRows: Long = 8000000L): (DataFrame, CoverDiag) = {
    val s = edges.sparkSession
    import s.implicits._
    val personas0 = egoSplitPersonasLPA(edges, rankedSeeds.select(col("seed")))
    val sized = personas0.groupBy("seed", "comp").agg(count(lit(1)).as("sz"))
    val seedMax = sized.groupBy("seed").agg(max(col("sz")).as("mx"))
    val qualifying = sized.join(seedMax, Seq("seed"))
      .filter(col("sz") >= minCompSize)
    val noBig = seedMax.filter(col("mx") < minCompSize).select("seed")
    // fallback personas: the whole ego as one component labeled -1
    val kept = personas0
      .join(qualifying.select(col("seed"), col("comp")), Seq("seed", "comp"),
        "left_semi")
      .unionByName(personas0.join(noBig, Seq("seed"), "left_semi")
        .select(col("seed"), col("u"), lit(-1L).as("comp")))
    // the seed belongs to each of its personas. Note the explicit column
    // order: the semi-join above moved its keys first, and the collect
    // below reads positionally.
    val members = cutLineage(kept.unionByName(
      kept.select(col("seed"), col("comp")).distinct()
        .select(col("seed"), col("seed").as("u"), col("comp")))
      .select(col("seed"), col("u"), col("comp")))
    val keys = members.groupBy("seed", "comp").agg(count(lit(1)).as("sz"))
      .join(rankedSeeds.select(col("seed"), col("phi")), Seq("seed"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("seed")
          .orderBy(col("sz").desc, col("comp").asc)))
    // split diagnostics (one small agg over the persona keys): the auto-init
    // regime signal plus the numbers CoverDiag records for the fit history
    val splitStats = keys.groupBy("seed").agg(count(lit(1)).as("np"))
      .agg(count(lit(1)).as("seeds"), sum(col("np")).as("personas"),
        sum(when(col("np") >= 2, 1L).otherwise(0L)).as("multi"))
      .collect()(0)
    val (nSeeds, nPersonas, nMulti) =
      (splitStats.getLong(0), splitStats.getLong(1), splitStats.getLong(2))
    val memberRows = members.count()
    val (chosen: DataFrame, allocator: String, coveredGreedy: Option[Long],
        allocDiag: Option[AllocDiag]) =
      if (memberRows > maxCollectRows) {
        // round-15 item 2: past the guard the allocation used to degrade to
        // rank order, forfeiting the greedy coverage property (measured
        // 95-vs-79/100 on dense covers). The distributed greedy keeps it:
        // same picks, bounded per-round collects, membership stays on the
        // executors.
        System.err.println(s"[egoSplitCover] persona membership " +
          s"($memberRows rows) exceeds $maxCollectRows; running the " +
          s"distributed greedy allocator")
        val (picks, coveredCount, ad) = greedyAllocDistributed(members, keys, k)
        (picks, "greedy-dist", Some(coveredCount), Some(ad))
      } else {
        val memRows = members.collect()
          .map(r => ((r.getLong(0), r.getLong(2)), r.getLong(1)))
          .groupBy(_._1).map { case (key, rows) => key -> rows.map(_._2).toSet }
        val order = keys
          .orderBy(col("rn"), col("phi"), col("seed"), col("comp"))
          .select(col("seed"), col("comp")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val covered = scala.collection.mutable.HashSet.empty[Long]
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        // lazy greedy: (staleGain, rankIdx) max-heap, gain desc then rank
        // idx asc — see the Scaladoc for why accept-if-unchanged reproduces
        // the eager scan's picks exactly
        val ord = Ordering.by[(Int, Int), (Int, Int)] { case (g, i) => (g, -i) }
        val pq = scala.collection.mutable.PriorityQueue.empty[(Int, Int)](ord)
        order.indices.foreach { i =>
          pq.enqueue((memRows.get(order(i)).map(_.size).getOrElse(0), i))
        }
        while (picked.length < k && pq.nonEmpty) {
          val (staleGain, idx) = pq.dequeue()
          val key = order(idx)
          val gain = memRows.get(key).map(_.count(m => !covered(m))).getOrElse(0)
          if (gain == staleGain) {
            picked += ((key._1, key._2, picked.length))
            memRows.get(key).foreach(_.foreach(covered += _))
          } else pq.enqueue((gain, idx))
        }
        (picked.toSeq.toDF("seed", "comp", "c"), "greedy",
          Some(covered.size.toLong), None)
      }
    val nPicked = chosen.count()
    val out = cutLineage(members.join(broadcast(chosen), Seq("seed", "comp"))
      .select(col("c").cast("int").as("c"), col("u").as("member"))
      .distinct())
    val coveredNodes = coveredGreedy.getOrElse(
      out.agg(countDistinct(col("member"))).collect()(0).getLong(0))
    (out, CoverDiag(allocator, nPicked.toInt, k, coveredNodes,
      nSeeds, nPersonas, nMulti, memberRows, allocDiag))
  }

  /** Distributed greedy max-coverage allocation — the past-the-collect-guard
    * twin of [[egoSplitCover]]'s driver lazy-greedy, picking the IDENTICAL
    * sequence (EgoSplitSpec pins pick-for-pick parity) while persona
    * membership never leaves the executors in bulk. `members` is the
    * (seed, u, comp) persona membership frame; `keys` the per-persona
    * (seed, comp, sz, phi, rn) keys.
    *
    * Shape: a BATCHED DISTRIBUTED LAZY GREEDY. Each round computes every
    * remaining persona's marginal gain against the covered set with one
    * anti-flag aggregation over `members`, sorts candidates by the eager
    * tie order (gain desc, then the global (rn, phi, seed, comp) rank
    * index ri), and collects only a bounded PREFIX of candidate member
    * rows RESTRICTED to uncovered nodes (≤ `batchRowBudget`). The driver
    * then runs the usual stale-gain lazy greedy inside the batch, but only
    * accepts a pick while it provably beats every persona OUTSIDE the
    * batch: outside gains are ≤ θ (the max excluded gain, measured once
    * per round) at round start and marginal gains only shrink as coverage
    * grows, so any in-batch pick with current gain > θ is the true global
    * argmax; a pick AT θ is accepted only if its round-start gain already
    * was θ — those candidates occupy the sort prefix among θ-gain
    * personas, so their rank index precedes every excluded θ-gain persona,
    * reproducing the eager tie order exactly. (A candidate that DROPPED to
    * θ may rank after an excluded θ-gain persona, so it waits for the next
    * round's fresh sort.) The first accepted pick of a fresh round is the
    * global argmax by construction, so every round advances ≥ 1 pick —
    * termination in ≤ k rounds, in practice a handful: a batch keeps
    * accepting until picks stop clearing θ.
    *
    * Cost model at scale: per round, one |members|-row aggregation + one
    * pool-sized sort window (persona KEYS, not members) + one ≤ budget
    * collect — the same per-round shape as the iterative graph fixpoints,
    * linear in postings. Driver state: the ≤ k picks and one batch of
    * restricted member rows. θ is read off the SAME windowed pass that
    * builds the batch (the windowed pool-sized frame is checkpointed once
    * and the max excluded gain is the first row past the cum cutoff —
    * gains are sorted desc, so no second |members|-row aggregation).
    *
    * ESCAPE HATCH: the rank-1 candidate is collected regardless of
    * `batchRowBudget` (`ord === 1` bypasses the cum filter) — without it a
    * single persona whose uncovered membership alone exceeds the budget
    * would deadlock the round. The "≤ budget" bound above is therefore
    * soft at the first candidate; overshoot is detected driver-side
    * before the collect (per persona, restricted rows = marginal gain, so
    * the batch size is the sum of collected candidates' gains — no extra
    * job), WARNed, and recorded in the returned [[AllocDiag]]. */
  private[graft] def greedyAllocDistributed(members: DataFrame,
      keys: DataFrame, k: Int,
      batchRowBudget: Long = 2000000L): (DataFrame, Long, AllocDiag) = {
    val s = members.sparkSession
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    // single-partition windows below run over persona KEYS — pool-sized
    // (seeds × personas-per-seed), orders of magnitude under `members`
    val rankedKeys = cutLineage(keys.select(col("seed"), col("comp"),
      col("sz"),
      row_number().over(W.orderBy(col("rn"), col("phi"), col("seed"),
        col("comp"))).as("ri")))
    val mem = cutLineage(members.select(col("seed"), col("comp"), col("u")))
    var covered = cutLineage(Seq.empty[Long].toDF("u"))
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    var exhausted = false
    var rounds = 0
    var maxBatchRows = 0L
    var overshootRounds = 0
    while (picked.length < k && !exhausted) {
      rounds += 1
      val pickedDF = broadcast(
        picked.map(p => (p._1, p._2)).toSeq.toDF("seed", "comp"))
      // marginal gain of every unpicked persona vs the covered set; the
      // left-join flag keeps fully-covered personas as gain-0 rows (the
      // driver greedy allocates them too when k exceeds useful coverage)
      val gains = mem.join(pickedDF, Seq("seed", "comp"), "left_anti")
        .join(covered.withColumn("cov", lit(1)), Seq("u"), "left")
        .groupBy("seed", "comp")
        .agg(sum(when(col("cov").isNull, 1L).otherwise(0L)).as("gain"))
        .join(rankedKeys, Seq("seed", "comp"))
      val ordW = W.orderBy(col("gain").desc, col("ri"))
      // one checkpointed pool-sized windowed pass feeds BOTH the candidate
      // batch and θ: cum is monotone in ord (sz >= 1), so the excluded set
      // is a contiguous suffix and its max gain — gains sorted desc — is
      // the FIRST excluded row's gain. The old left_anti + max re-ran the
      // full |members|-row gain aggregation a second time per round.
      val windowed = gains
        .withColumn("ord", row_number().over(ordW))
        .withColumn("cum", sum(col("sz")).over(ordW))
        .localCheckpoint(true) // read three times below
      val cand = windowed
        .filter(col("ord") === 1 || col("cum") <= batchRowBudget)
        .select(col("seed"), col("comp"), col("gain"), col("ri"))
      val candKeys = cand.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sortBy(_._4)
      if (candKeys.isEmpty) exhausted = true
      else {
        val thetaRow = windowed
          .filter(col("ord") =!= 1 && col("cum") > batchRowBudget)
          .orderBy(col("ord"))
          .select(col("gain")).limit(1).collect()
        val theta = if (thetaRow.isEmpty) -1L else thetaRow(0).getLong(0)
        // budget guard (no job: per persona, restricted rows = gain). The
        // rank-1 hatch is the only way past the budget — cum uses FULL
        // persona size sz >= restricted gain, so cum <= budget rows
        // cannot overshoot.
        val batchRows = candKeys.iterator.map(_._3).sum
        if (batchRows > maxBatchRows) maxBatchRows = batchRows
        if (batchRows > batchRowBudget) {
          overshootRounds += 1
          System.err.println(s"[greedyAllocDistributed] round $rounds: " +
            s"rank-1 candidate's restricted membership ($batchRows rows) " +
            s"exceeds batchRowBudget=$batchRowBudget; collecting it anyway " +
            s"(the escape hatch — a round must advance)")
        }
        val restricted = mem
          .join(broadcast(cand.select(col("seed"), col("comp"))),
            Seq("seed", "comp"), "left_semi")
          .join(covered, Seq("u"), "left_anti")
          .select(col("seed"), col("comp"), col("u"))
          .collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
          .groupBy(_._1).map { case (key, rows) => key -> rows.map(_._2).toSet }
        val ord = Ordering.by[(Long, Int), (Long, Int)] { case (g, i) => (g, -i) }
        val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Int)](ord)
        candKeys.zipWithIndex.foreach { case ((_, _, g, _), i) =>
          pq.enqueue((g, i))
        }
        val roundCovered = scala.collection.mutable.HashSet.empty[Long]
        var firstPick = true
        var roundOver = false
        while (picked.length < k && pq.nonEmpty && !roundOver) {
          val (stale, idx) = pq.dequeue()
          val (seed, comp, startGain, _) = candKeys(idx)
          val set = restricted.getOrElse((seed, comp), Set.empty[Long])
          val gain = set.count(m => !roundCovered(m)).toLong
          if (gain == stale) {
            if (firstPick || theta < 0L || gain > theta ||
                (gain == theta && startGain == theta)) {
              picked += ((seed, comp, picked.length))
              set.foreach(roundCovered += _)
              firstPick = false
            } else roundOver = true
          } else pq.enqueue((gain, idx))
        }
        if (roundCovered.nonEmpty)
          covered = cutLineage(covered.unionByName(
            roundCovered.toSeq.toDF("u")).distinct())
      }
    }
    val coveredCount = covered.count()
    (picked.toSeq.toDF("seed", "comp", "c"), coveredCount,
      AllocDiag(rounds, maxBatchRows, overshootRounds))
  }

  def q_graph_seed_rank(s: SparkSession, d: String): DataFrame =
    rankTopSeeds(
      seedRank(cutLineage(symEdges(rawEdges(s, d, 2000))))
        .select(col("seed"), round(col("phi"), 6).as("phi")), 20)
      .select(col("seed"), col("phi"), col("rank"))
      .orderBy("rank")

  /** Connected components by iterative hash-min label propagation: every
    * node starts labeled with its own id; each round a node takes the min
    * of its own label and its neighbors' labels; fixpoint = components
    * labeled by their minimum member id. Deterministic (min is order-free)
    * and the standard massive-graph formulation (the map-reduce "hash-min"
    * of Rastogi et al., also GraphX's connectedComponents Pregel loop):
    * each round is one |E|-row join + one node-keyed min agg, converging in
    * O(diameter) rounds. The driver loop only ever sees a single Boolean
    * per round (did any label change); labels stay distributed.
    *
    * `localCheckpoint` each round cuts lineage exactly like the BigCLAM fit
    * loop — without it the plan doubles per iteration and the driver pays
    * exponential planning (round-5 lesson, README "Exponential planning
    * stats"). */
  /** Eager lineage cut for iterative loops: localCheckpoint + RDD re-wrap,
    * so each round plans against a flat scan instead of a per-round-doubling
    * logical tree (round-5 "exponential planning stats" lesson). One shared
    * definition — CC, PageRank and the dedup-cluster materialization all
    * use this exact idiom, and its subtleties (eager storage level, the
    * re-wrap that truncates the plan) must not drift apart. Note the
    * checkpoint blocks stay registered until the RDD is unreferenced and
    * the ContextCleaner collects them — unlike cache(), nothing must be
    * remembered and manually unpersisted, but the release is GC-paced. */
  private[graft] def cutLineage(df: DataFrame): DataFrame =
    // flatCheckpoint, not a bare localCheckpoint: the bare form carries the
    // pre-checkpoint plan's estimated stats onto the new leaf, and a
    // checkpoint-per-round loop then compounds sizeInBytes exponentially
    // (the BigCLAM checkpointF lesson — driver planning explodes by round
    // ~10). The bridge rebuild keeps the internal-row RDD (no Row
    // round-trip) and the preserved partitioning, with fresh leaf stats.
    org.apache.spark.sql.graftbridge.Bridge.flatCheckpoint(df)

  /** Budget for the driver-side CC fast path, in DIRECTED edge rows: the
    * same bounded-collect class as the cover allocator's 2M-row per-round
    * batches (AllocDiag). The raw payload is 32 MB of long pairs, but the
    * collect materializes BOXED GenericRows (~100+ bytes each with the two
    * boxed Longs) — a few hundred MB transiently at the cap, well inside
    * the bench/driver heaps (8 g sbt default, 96 g run_main) but NOT the
    * "~32 MB" the raw arithmetic suggests; sized accordingly. Far over
    * every declared query's bounded subgraph either way. */
  private[graft] val ccDriverMaxRows = 2000000L

  /** Union-find CC on the driver over a collected edge frame — the
    * small-graph fast path of [[connectedComponents]]. Attaching the
    * larger root under the smaller keeps every root the MINIMUM member id
    * of its set, so labels are identical to the hash-min fixpoint's.
    * Returns an RDD-backed frame (never a LocalRelation — a 2M-row
    * literal would ride into every task closure). */
  private def driverComponents(edges: DataFrame, nRows: Long): DataFrame = {
    val s = edges.sparkSession
    val parent = new java.util.HashMap[Long, Long](math.max(16, nRows.toInt))
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.select(col("src"), col("dst")).collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    val out = parent.keySet().asScala.toSeq.map(n => (n.longValue(), find(n)))
    val parts = math.max(1, out.length / 500000 + 1)
    s.createDataFrame(s.sparkContext.parallelize(out, parts))
      .toDF("node", "comp")
  }

  /** `driverMaxRows` dispatches the small-graph fast path (default
    * [[ccDriverMaxRows]]; pass a negative value to force the distributed
    * fixpoint — the spec seam). */
  def connectedComponents(edges0: DataFrame, maxIter: Int = 50,
      driverMaxRows: Long = ccDriverMaxRows): DataFrame = {
    def cut(df: DataFrame): DataFrame = cutLineage(df)
    // materialize the edge frame ONCE before the loop: every propagation
    // round joins it, and without the cut each round re-derives the whole
    // upstream subtree — including any distinct/union shuffle inside a
    // symEdges — once per round (the same reason GraphX caches its graph
    // before Pregel). Already-flat inputs pay one cheap re-materialization.
    // Pre-partitioned by dst — the key every round's neighbor-min join
    // uses; the checkpoint preserves the partitioning, so the |E|-row side
    // of that join never re-exchanges inside the loop (one shuffle up
    // front instead of one per round).
    val edges = cut(edges0.repartition(col("dst")))
    // SIZE DISPATCH (the allocator's bounded-collect pattern, GraphOps
    // egoSplitCover / BigClam greedyAlloc): the fixpoint loop costs
    // O(log diameter) rounds of ~6 driver jobs each — pure fixed overhead
    // when the edge frame is small. Under the budget (directed rows, same
    // 2M-row class as the allocator's per-round collect), collect the
    // already-checkpointed edges ONCE and run union-find on the driver:
    // identical labels (min member id per component — exactly what the
    // hash-min fixpoint converges to), two jobs instead of dozens. Over
    // the budget — the 100 TB shape — the distributed loop runs unchanged.
    // the dispatch count only runs when the fast path is enabled — a
    // forced-distributed call (driverMaxRows < 0, the spec seam and the
    // large-graph stance) must not pay a wasted driver job per call
    if (driverMaxRows >= 0) {
      val nDirected = edges.count()
      if (nDirected <= driverMaxRows) return driverComponents(edges, nDirected)
    }
    // symmetric input ⇒ every node appears as src
    var labels = cut(edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("comp")))
    // hash-min labels are MONOTONE non-increasing, so Σcomp strictly
    // decreases on every round that changes anything — comparing the sum
    // (one agg over the fresh checkpoint) is an exact fixpoint witness and
    // replaces a join-based changed-row count (one fewer job per round).
    // Caveat: the witness is exact modulo Long wraparound — ids near 2^63
    // could in principle alias two label states to one sum; node ids from
    // any realistic id space (< 2^62 total mass per partitioned sum with
    // ANSI off) never get close. Empty input ⇒ sum(comp) is NULL ⇒ 0L.
    def labelSum(df: DataFrame): Long = {
      val row = df.agg(sum(col("comp"))).collect()(0)
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
    var prevSum = labelSum(labels)
    var changed = true
    var it = 0
    while (changed && it < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("node").as("dst"), col("comp")), Seq("dst"))
        .select(col("src").as("node"), col("comp"))
      val folded = neighborMin.union(labels)
        .groupBy("node").agg(min(col("comp")).as("comp"))
      // pointer jump (label doubling): replace each label with the label
      // ITS node held last round — labels_prev(folded(n)). A label is
      // always the id of a node in the same component (it started as self
      // and traveled only along edges) and labels_prev(c) <= c, so the
      // jump stays inside the component, keeps labels monotone
      // non-increasing, and doubles label reach per round — O(diameter)
      // rounds become O(log diameter); a 60-node path converges in ~7
      // rounds instead of tripping the 50-round cap. Jumping through the
      // CHECKPOINTED `labels` (not through `folded` itself) matters: a
      // folded-folded self-join would re-derive the |E|-row join+agg twice
      // per round.
      val jumped = folded
        .join(labels.select(col("node").as("comp"), col("comp").as("jump")), Seq("comp"))
        .select(col("node"), col("jump").as("comp"))
      val next = cut(jumped)
      val s = labelSum(next)
      changed = s != prevSum
      prevSum = s
      labels = next
      it += 1
    }
    // Exiting via the iteration cap with changes still in flight means the
    // labels are NOT components (a >maxIter-diameter path would silently
    // split); fail loudly rather than return wrong answers.
    if (changed)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds; " +
          s"graph diameter exceeds the cap — raise maxIter")
    labels
  }

  /** PageRank by damped power iteration: pr ← (1−d)/N + d·Σ_in pr/deg.
    * A fixed iteration count (default 3) keeps the computation exactly
    * SQL-unrollable for the oracle; real use calls more rounds or a
    * convergence test. Per round: one |E|-row join keyed src + one dst-keyed
    * sum — the GraphX/Pregel PageRank dataflow as two exchanges, both
    * AQE-splittable, nothing driver-side but the one N count and the
    * lineage cut. Constants: 0.15 and 0.85 are written as DOUBLE literals
    * on both engines (NOT `1.0 − d` in Scala, which is a different double
    * than literal 0.15 and would hash-mismatch the oracle at full
    * precision). */
  def pageRank(edges0: DataFrame, iterations: Int = 3): DataFrame = {
    def cut(df: DataFrame): DataFrame = cutLineage(df)
    // one edge materialization for the whole power iteration (see
    // connectedComponents — same per-round re-derivation otherwise),
    // pre-partitioned by src: the degree agg AND every round's contrib
    // join key on src, so neither re-exchanges the |E|-row frame
    val edges = cut(edges0.repartition(col("src")))
    // r18: checkpoint the degree frame too — it feeds EVERY round's contrib
    // join, and uncut it re-derived the |E|-row aggregation from the edge
    // checkpoint each round (a full edge scan per iteration). Cut once, each
    // round's join reads |V| flat rows instead; the n count below rides the
    // same materialization. Values unchanged: same rows, same per-round
    // join/sum shape (the float-summation shape the oracle pins).
    val deg = cut(degrees(edges))
    val n = deg.count()
    // empty graph: 1.0/n would poison every rank with Infinity — return the
    // (empty) node frame with the right schema instead
    if (n == 0) return deg.select(col("node"), lit(0.0).as("pr"))
    var pr = cut(deg.select(col("node"), (lit(1.0) / n).as("pr")))
    for (_ <- 1 to iterations) {
      val contrib = edges
        .join(pr.join(deg, Seq("node"))
          .select(col("node").as("src"), (col("pr") / col("degree")).as("c")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("c")).as("inflow"))
      pr = cut(pr.select("node").join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(0.15) / n + lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("pr")))
    }
    pr
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007) with a
    * FIXED round count — the other classic scalable community-detection
    * primitive next to BigCLAM's factor model. Fixed rounds make the
    * computation exactly SQL-unrollable for the oracle (the same design
    * choice as [[pageRank]]) AND sidestep synchronous LPA's known
    * oscillation on bipartite structure: the declared output is "labels
    * after R rounds", deterministic whether or not a fixpoint exists.
    * Tie rule: most frequent neighbor label, ties to the SMALLEST label id
    * — expressed as one max(struct(cnt, −lab)) aggregate, never a window.
    *
    * Scale stance: per round one |E|-row join keyed dst + two partial-agg
    * groupBys ((node, lab) counts, then the per-node argmax); the edge
    * frame is materialized once for the whole loop; labels lineage-cut per
    * round. Same shuffle shape as connectedComponents, O(rounds) not
    * O(diameter). */
  def labelPropagation(edges0: DataFrame, rounds: Int = 3,
      driverMaxRows: Long = ccDriverMaxRows): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // dst-partitioned: every round's label-fetch join keys on dst
    val edges = cutLineage(edges0.repartition(col("dst")))
    // size dispatch (see connectedComponents): the synchronous rounds and
    // the (count desc, label asc) argmax are EXACT INTEGER semantics, so
    // the driver mirror is result-identical (unlike PageRank/PPR, whose
    // double sums must keep the distributed plan's summation shape)
    if (driverMaxRows >= 0 && edges.count() <= driverMaxRows)
      return driverLpa(edges, rounds)
    var labels = cutLineage(edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab")))
    for (_ <- 1 to rounds) {
      val neigh = edges
        .join(labels.select(col("node").as("dst"), col("lab")), Seq("dst"))
        .select(col("src").as("node"), col("lab"))
      labels = cutLineage(neigh
        .groupBy("node", "lab").agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("b"))
        .select(col("node"), (-col("b.nl")).as("lab")))
    }
    labels
  }

  /** Driver-side synchronous LPA — the small-graph fast path of
    * [[labelPropagation]]: same per-round most-frequent-neighbor-label
    * update with the (count desc, label asc) tie rule, from one collect. */
  private def driverLpa(edges: DataFrame, rounds: Int): DataFrame = {
    val s = edges.sparkSession
    import scala.collection.mutable
    val es = edges.select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var labels = mutable.HashMap.empty[Long, Long]
    es.foreach { case (src, _) => labels(src) = src }
    for (_ <- 1 to rounds) {
      val counts = mutable.HashMap.empty[Long, mutable.HashMap[Long, Long]]
      es.foreach { case (src, dst) =>
        // labels.get, not labels(dst): on contract-violating non-symmetric
        // input a dst that never appears as src has no label — the
        // distributed path's inner join silently DROPS that row, so the
        // driver mirror must skip it too (not throw NoSuchElementException)
        labels.get(dst).foreach { lab =>
          val m = counts.getOrElseUpdate(src, mutable.HashMap.empty)
          m(lab) = m.getOrElse(lab, 0L) + 1L
        }
      }
      val next = mutable.HashMap.empty[Long, Long]
      counts.foreach { case (node, m) =>
        // max by (cnt, -lab): highest count, ties to the smallest label
        next(node) = m.maxBy { case (lab, cnt) => (cnt, -lab) }._1
      }
      labels = next
    }
    val out = labels.iterator.map { case (n, l) => (n, l) }.toSeq
    s.createDataFrame(s.sparkContext.parallelize(out, math.max(1, out.length / 500000 + 1)))
      .toDF("node", "lab")
  }

  /** 3-round LPA communities of the bounded bipartite subgraph —
    * oracle-checked against DuckDB's unrolled 3-round SQL twin. */
  def q_graph_lpa(s: SparkSession, d: String): DataFrame =
    labelPropagation(symEdges(rawEdges(s, d, 2000)), 3)
      .select(col("node"), col("lab").as("community"))
      .orderBy("node")
      .limit(5000)

  /** 3-round PageRank of the bounded bipartite subgraph; 9-decimal round
    * keeps ~6 significant digits at the ~1/N value scale while sitting far
    * above the ~1e-15 float-order noise between the engines. */
  def q_graph_pagerank(s: SparkSession, d: String): DataFrame =
    pageRank(symEdges(rawEdges(s, d, 2000)))
      .select(col("node"), round(col("pr"), 9).as("pr"))
      .orderBy("node")
      .limit(5000)

  /** Personalized PageRank (random walk with restart to a SEED SET) — the
    * neighborhood-relevance primitive behind related-item ranking, local
    * community scoring, and graph-based recommendation; distinct from
    * [[pageRank]] exactly in the reset vector: teleport mass returns to
    * the seeds (uniformly), not to every node, so rank concentrates in the
    * seeds' neighborhoods. Same fixed-3-iteration unrolled formulation as
    * global PR (SQL-expressible for the oracle, no oscillation concerns);
    * symmetric input ⇒ no dangling nodes by construction.
    *
    * Scale stance: identical shuffle shape to [[pageRank]] — per round one
    * |E|-row join keyed src + one partial-agg groupBy keyed dst; the seed
    * indicator is a pure projection (no seed-set join: the predicate
    * computes in-plan), the edge frame is materialized once for the loop,
    * ranks are lineage-cut per round. */
  def personalizedPageRank(edges0: DataFrame, seedPred: Column,
      iterations: Int = 3): DataFrame = {
    def cut(df: DataFrame): DataFrame = cutLineage(df)
    // src-partitioned for the same reason as pageRank (degree agg + the
    // per-round contrib join both key on src)
    val edges = cut(edges0.repartition(col("src")))
    // checkpointed for the same reason as pageRank's deg (r18): every
    // round's contrib join consumes it — cut once, not one |E|-row
    // re-aggregation per iteration
    val deg = cut(degrees(edges))
    val nSeeds = deg.filter(seedPred).count()
    require(nSeeds > 0, "personalized PageRank requires a non-empty seed set")
    val reset = when(seedPred, lit(1.0) / nSeeds).otherwise(lit(0.0))
    var pr = cut(deg.select(col("node"), reset.as("pr")))
    for (_ <- 1 to iterations) {
      val contrib = edges
        .join(pr.join(deg, Seq("node"))
          .select(col("node").as("src"), (col("pr") / col("degree")).as("c")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("c")).as("inflow"))
      pr = cut(pr.select("node").join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(0.15) * reset + lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("pr")))
    }
    pr
  }

  /** PPR over the bounded subgraph, seeds = nodes ≡ 0 (mod 100). Ranks are
    * reported in integer nano-units via floor(x·1e9 + 0.5) — NOT round():
    * the seed-restart arithmetic (0.15/|S|, 0.85 halvings) produces
    * TERMINATING decimals that land exactly on the 9-dp rounding midpoint,
    * where Spark's BigDecimal HALF_UP and DuckDB's round disagree on the
    * nearest-double input (caught by the sf0.1 oracle); floor(x + 0.5) is
    * IEEE-identical everywhere (the q_embed_quantize rule). */
  def q_graph_ppr(s: SparkSession, d: String): DataFrame =
    personalizedPageRank(symEdges(rawEdges(s, d, 2000)), col("node") % 100 === 0)
      .select(col("node"),
        floor(col("pr") * 1e9 + 0.5).cast("bigint").as("ppr_e9"))
      .orderBy("node")
      .limit(5000)

  /** Components of the bounded bipartite subgraph, labeled by min member. */
  def q_graph_cc(s: SparkSession, d: String): DataFrame =
    connectedComponents(symEdges(rawEdges(s, d, 2000)))
      .select(col("node"), col("comp").as("component"))
      .orderBy("node")
      .limit(5000)

  /** k-core decomposition by iterative peeling: repeatedly drop nodes of
    * degree < k (and their edges) until the survivor set is stable; what
    * remains is the maximal subgraph where every node has degree ≥ k — the
    * standard "dense part of the graph" extraction (degeneracy ordering,
    * community pre-filtering, spam/bot subgraph mining).
    *
    * Scale stance: each round is one partial-agg degree count + two
    * semi-joins keyed on the edge endpoints — no windows, no driver state
    * but the scalar edge count (the fixpoint witness, one job per round,
    * same idiom as connectedComponents' label sum). Lineage is cut per
    * round (`cutLineage`) so an O(rounds) loop cannot accumulate an
    * exponential plan. Round count is bounded by the peeling depth
    * (≤ max degeneracy ordering length), in practice tens of rounds on
    * power-law graphs. Input must be symmetric (both directed rows). */
  def kcore(edges: DataFrame, k: Int, maxIter: Int = 100,
      driverMaxRows: Long = ccDriverMaxRows): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var e = cutLineage(edges)
    var nEdges = e.count()
    // size dispatch (see connectedComponents): peeling is O(depth) rounds
    // of 3 jobs each — under the bounded-collect budget the whole loop
    // runs on the driver from one collect, identically
    if (driverMaxRows >= 0 && nEdges <= driverMaxRows)
      return driverKcore(e, k)
    var it = 0
    var stable = nEdges == 0L
    while (!stable && it < maxIter) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      val next = cutLineage(
        e.join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst"))
      val n = next.count()
      stable = n == nEdges // peeling strictly shrinks the edge set until done
      e = next
      nEdges = n
      it += 1
    }
    if (!stable)
      throw new IllegalStateException(
        s"kcore did not stabilize within $maxIter rounds")
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** Driver-side k-core peeling — the small-graph fast path of [[kcore]].
    * Same fixpoint (drop nodes of degree < k with their edges until
    * stable), same output (surviving node → surviving degree). */
  private def driverKcore(e: DataFrame, k: Int): DataFrame = {
    val s = e.sparkSession
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
    e.select(col("src"), col("dst")).collect().foreach { row =>
      adj.getOrElseUpdate(row.getLong(0), mutable.HashSet.empty) += row.getLong(1)
    }
    // queue-based peeling: equivalent to the round-synchronous fixpoint
    // (the k-core is unique — any removal order reaches it)
    val queue = mutable.Queue.empty[Long]
    adj.foreach { case (n, nbrs) => if (nbrs.size < k) queue += n }
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      adj.remove(n).foreach(_.foreach { m =>
        adj.get(m).foreach { mn =>
          if (mn.remove(n) && mn.size == k - 1) queue += m
        }
      })
    }
    val out = adj.iterator.map { case (n, nbrs) => (n, nbrs.size.toLong) }.toSeq
    s.createDataFrame(s.sparkContext.parallelize(out, math.max(1, out.length / 500000 + 1)))
      .toDF("node", "core_deg")
  }

  /** 3-core of the bounded bipartite subgraph. [no-oracle]: iterative
    * peeling has no DuckDB twin (recursive CTEs cannot re-aggregate a
    * shrinking set per step); invariant-tested instead — every surviving
    * node keeps degree ≥ 3 inside the core, and a hand-checked toy graph
    * pins exact membership. */
  def q_graph_kcore(s: SparkSession, d: String): DataFrame =
    kcore(symEdges(rawEdges(s, d, 2000)), 3)
      .orderBy("node")
      .limit(5000)

  /** Unweighted single-source BFS: hop distance from `source` for every
    * node within `maxDepth` hops. Level-synchronous frontier expansion —
    * each round joins the current frontier against the edge table, anti-
    * joins the already-visited set, and unions the survivors in at
    * depth+1. BFS's monotonicity makes the first arrival the final
    * distance, so no relaxation pass is needed.
    *
    * Scale stance: per round one join + one anti-join, both keyed on node
    * ids; driver state is the scalar frontier count (the loop-exit
    * witness); lineage cut per round. The visited set rides as a DataFrame
    * union — at 100 TB it would be checkpoint-compacted storage, not
    * driver memory. Unlike kcore this IS oracle-expressible: DuckDB's
    * recursive CTE walks (node, dist) pairs with the same depth guard and
    * min(dist) collapse. */
  def bfsDepth(edges0: DataFrame, source: Long, maxDepth: Int,
      driverMaxRows: Long = ccDriverMaxRows): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    // one edge materialization for the whole frontier expansion (see
    // connectedComponents)
    // pre-partition by the loop's join key: the checkpoint preserves the
    // partitioning, so every round's frontier⋈edges join shuffles ONLY the
    // (tiny) frontier side instead of re-exchanging the edge frame per round
    val edges = cutLineage(edges0.repartition(col("src")))
    // size dispatch (see connectedComponents): level-synchronous expansion
    // costs ~4 jobs per hop — under the bounded-collect budget the whole
    // walk runs on the driver from one collect, identically
    if (driverMaxRows >= 0 && edges.count() <= driverMaxRows)
      return driverBfs(edges, source, maxDepth)
    var frontier = cutLineage(Seq((source, 0)).toDF("node", "dist"))
    // dist stays a LAZY union of the per-round checkpointed frontiers: each
    // frontier is already materialized, so re-checkpointing the whole
    // visited set every round (the pre-r17 shape) only re-wrote O(|V|)
    // rows per round for nothing; the union of ≤ maxDepth flat scans keeps
    // the anti-join input bounded and the plan linear in depth, not
    // per-round-doubling. The loop witness is the new frontier's row count
    // (one cheap job over the fresh checkpoint — replaces the extra
    // limit(1).count() job per round).
    var dist = frontier
    var frontierN = 1L // the seed row, known without a job
    var depth = 0
    while (depth < maxDepth && frontierN > 0) {
      val next = cutLineage(
        frontier.join(edges, frontier("node") === edges("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("dist", lit(depth + 1)))
      frontierN = next.count()
      dist = dist.union(next)
      frontier = next
      depth += 1
    }
    dist
  }

  /** Driver-side BFS — the small-graph fast path of [[bfsDepth]]: same
    * level-synchronous first-arrival distances from one edge collect. */
  private def driverBfs(edges: DataFrame, source: Long, maxDepth: Int): DataFrame = {
    val s = edges.sparkSession
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    edges.select(col("src"), col("dst")).collect().foreach { row =>
      adj.getOrElseUpdate(row.getLong(0), mutable.ArrayBuffer.empty) += row.getLong(1)
    }
    val dist = mutable.HashMap(source -> 0)
    var frontier = Seq(source)
    var depth = 0
    while (depth < maxDepth && frontier.nonEmpty) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = depth + 1)
      depth += 1
    }
    val out = dist.iterator.map { case (n, d) => (n, d) }.toSeq
    s.createDataFrame(s.sparkContext.parallelize(out, math.max(1, out.length / 500000 + 1)))
      .toDF("node", "dist")
  }

  /** BFS hop distances from order node 1 on the bounded bipartite
    * subgraph, depth ≤ 10 (even hops are orders, odd hops suppliers). */
  def q_graph_bfs(s: SparkSession, d: String): DataFrame =
    bfsDepth(symEdges(rawEdges(s, d, 2000)), 1L, 10)
      .select(col("node"), col("dist").cast("int").as("dist"))
      .orderBy("node")
      .limit(5000)

  /** Degree distribution (degree → node count) of the full bipartite
    * graph — the first plot of any graph analysis. Two partial-agg
    * groupBys back to back; the second's key cardinality is the number of
    * DISTINCT degrees (tiny), so the final shuffle is negligible at any
    * graph size. */
  def q_graph_degree_dist(s: SparkSession, d: String): DataFrame =
    degrees(symEdges(rawEdges(s, d)))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")

  /** Newman modularity of a node partition over a symmetrized edge frame:
    * Q = W/(2m) − ΣD_c²/(2m)², with W = intra-partition directed rows and
    * D_c = degree mass of part c — the linear decomposition that needs ONE
    * exact integer sum per term instead of a per-community double sum
    * (order-dependent) over hundreds of parts. All sums are DECIMAL-exact;
    * the final expression is a fixed double op sequence, bit-identical
    * across engines. */
  private[graft] def modularity(edges: DataFrame, labels: DataFrame, name: String): DataFrame = {
    val el = edges
      .join(labels.select(col("node").as("src"), col("lab").as("la")), Seq("src"))
      .join(labels.select(col("node").as("dst"), col("lab").as("lb")), Seq("dst"))
    // ONE pass over the labeled edges: the per-part rollup carries both the
    // degree mass dc AND the intra-part row count, so the global fold gets
    // W, 2m, ΣD_c² and the part count without re-deriving `el` for a second
    // aggregate (the round-7 shape computed tot and d2 as separate subtrees
    // — the static plan re-derived the two label joins per consumer). All
    // sums stay integer/DECIMAL-exact; the closing double op sequence is
    // unchanged, so the oracle hash-matches bit-for-bit.
    val perPart = el.groupBy("la").agg(
      count(lit(1)).cast("decimal(18,0)").as("dc"),
      sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("wp"))
    perPart.agg(
      sum(col("dc")).as("m2"),
      sum(col("wp")).as("w"),
      sum((col("dc") * col("dc")).cast("decimal(38,0)")).as("sumd2"),
      count(lit(1)).as("n_parts"))
      .select(
        lit(name).as("partition"), col("n_parts"),
        (col("m2") / 2).cast("bigint").as("m"),
        round(col("w").cast("double") / col("m2").cast("double") -
          col("sumd2").cast("double") /
            (col("m2").cast("double") * col("m2").cast("double")), 6).as("q"))
  }

  /** Modularity scored for two partitions of the bounded subgraph: the
    * connected-components partition (every edge intra-part — the W term
    * saturates and Q = 1 − ΣD_c²/(2m)², its upper envelope) and a mod-10
    * node-hash partition (a null baseline whose cut term does real work —
    * expected ≈ 0 for a structure-blind partition). The two rows bracket
    * what a community-detection result (BigCLAM's argmax labels) should
    * score between.
    *
    * Scale stance: two label joins keyed on node + two partial-agg passes
    * per partition; the per-part degree masses collapse map-side; no
    * windows, nothing global. The cross join is 1-row × 1-row. */
  def q_graph_modularity(s: SparkSession, d: String): DataFrame = {
    // cut once: the CC loop joins e per round and each modularity pass
    // joins it twice more — without the cut the bounded scan+symmetrize
    // (distinct shuffle included) statically re-derives per consumer
    val e = cutLineage(symEdges(rawEdges(s, d, 1000)))
    val cc = connectedComponents(e).select(col("node"), col("comp").as("lab"))
    val hash = e.select(col("src").as("node")).distinct()
      .select(col("node"), pmod(col("node"), lit(10L)).as("lab"))
    modularity(e, cc, "cc").union(modularity(e, hash, "mod10"))
      .orderBy("partition")
  }

  /** Degree assortativity — the Pearson correlation of (deg(src), deg(dst))
    * over all directed rows of the symmetrized graph: do high-degree nodes
    * attach to high-degree nodes? (Newman 2002; negative for bipartite-ish
    * and star-heavy graphs.) All five moment sums are over INTEGER degree
    * products accumulated in DECIMAL(38,0) — exact in both engines — and
    * the correlation is then a fixed sequence of double ops on identical
    * inputs, so the single output row hash-matches DuckDB bit-for-bit.
    *
    * Scale stance: degrees are one partial agg; attaching them to edge
    * endpoints is two joins keyed src/dst (the standard pattern); the
    * moment agg is a single map-side-collapsible pass. Nothing global. */
  def q_graph_assortativity(s: SparkSession, d: String): DataFrame = {
    // fuse the symmetrize-dedup INTO the dst-keyed exchange the moment
    // pipeline needs anyway: explode both directions off one scan, shuffle
    // once by dst, and dedup in place — HashPartitioning(dst) satisfies
    // the (src, dst) dedup's clustering requirement, so dropDuplicates
    // adds NO second exchange (symEdges().repartition() would pay the
    // (src,dst) distinct exchange AND the dst exchange back to back).
    val raw = rawEdges(s, d)
    val undirected = raw.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    assortativityCore(cutLineage(
      undirected.repartition(col("dst")).dropDuplicates(Seq("src", "dst"))))
  }

  /** Core of [[q_graph_assortativity]] over any symmetrized edge frame —
    * separated so `graft.Run graph` can drive it on synthetic
    * multi-million-node graphs. */
  def assortativity(e: DataFrame): DataFrame = {
    // r18 restructure (guide §1.1 first-principles + §2.4): the former
    // shape consumed the symmetrized frame from THREE subtrees (a degree
    // agg + two endpoint joins) and relied on ReuseExchange to compute the
    // union+distinct once — which fired at sf0.001/4 but NOT under the
    // driver's sf0.1/32 config (r17 verdict: flat 2.06 s, the slowest
    // bench row; its job/stage profile showed the two ~5 task-s
    // symmetrize stages running twice). Only sxy = Σ_E d(src)·d(dst) genuinely needs joint
    // edge-level degree info; every other moment is a degree-vector
    // functional. So: ONE dst-keyed exchange up front, degrees and the
    // degree-attach join both consume that partitioning shuffle-free
    // (groupBy(dst) and the dst-equi-join are satisfied by
    // HashPartitioning(dst); shuffle_hash on the |V|-row degree side skips
    // the SMJ sorts), then per-src aggregates carry everything the single
    // output row needs:
    //   d_u  = deg(u)            (row count per src — the frame is
    //                             symmetric, every edge appears as src=u)
    //   sy_u = Σ_{v∈N(u)} d_v    qy_u = Σ_{v∈N(u)} d_v²
    //   n_edges = Σ d_u          sx = Σ d_u²   sxx = Σ d_u³
    //   sy = Σ sy_u              syy = Σ qy_u  sxy = Σ d_u·sy_u
    // All sums are exact INTEGER arithmetic in DECIMAL (same 38-digit
    // overflow contract as the per-edge form), so the five moments are
    // VALUE-IDENTICAL to the per-edge formulation and the final fixed
    // sequence of double ops hash-matches DuckDB exactly as before. The
    // single consumer chain needs no exchange reuse at all.
    // cutLineage, not ReuseExchange: `part` has two consumers (the degree
    // agg and the attach join), and exchange reuse across consumers is
    // exactly the mechanism that failed under the driver config (and
    // failed AGAIN for the bare repartition when first measured — task
    // time rose from 14 to 18-36 s with the symmetrize running twice).
    // The checkpoint preserves the dst partitioning, so both consumers
    // read one materialized frame shuffle-free.
    assortativityCore(cutLineage(e.repartition(col("dst"))))
  }

  /** Moment pipeline over a dst-partitioned MATERIALIZED symmetric frame
    * (both callers checkpoint; the two consumers below rely on the
    * preserved dst partitioning, not on exchange reuse). */
  private def assortativityCore(part: DataFrame): DataFrame = {
    val deg = part.groupBy("dst").agg(count(lit(1)).as("dy"))
    val dy = col("dy").cast("decimal(18,0)")
    val perSrc = part.join(deg.hint("shuffle_hash"), Seq("dst"))
      .groupBy("src")
      .agg(count(lit(1)).as("d"),
        sum(dy).as("sy_u"),
        sum((dy * dy).cast("decimal(38,0)")).as("qy_u"))
    val dd = col("d").cast("decimal(18,0)")
    val m = perSrc.agg(
      sum(col("d")).as("n_edges"),
      sum((dd * dd).cast("decimal(38,0)")).as("sx"),
      sum(col("sy_u")).as("sy"),
      sum((dd * col("sy_u")).cast("decimal(38,0)")).as("sxy"),
      sum((dd * dd * dd).cast("decimal(38,0)")).as("sxx"),
      sum(col("qy_u")).as("syy"))
    val n = col("n_edges").cast("double")
    def d0(c: Column) = c.cast("double")
    m.select(col("n_edges"),
      round((n * d0(col("sxy")) - d0(col("sx")) * d0(col("sy"))) /
        sqrt((n * d0(col("sxx")) - d0(col("sx")) * d0(col("sx"))) *
             (n * d0(col("syy")) - d0(col("sy")) * d0(col("sy")))), 6)
        .as("assortativity"))
  }

  /** Local clustering coefficient — cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    * on the co-supplier projection (same bounded unipartite graph as
    * q_graph_triangle_count); nodes with deg < 2 are excluded (cc
    * undefined). cc is an exact integer ratio evaluated in one double
    * division, so both engines produce the identical IEEE value.
    *
    * Scale stance: triangle counts come from the ordered-wedge joins
    * (never per-node set intersections — a celebrity node splits across
    * tasks); degrees are one partial agg over the projected edges; the
    * combine join is keyed on node. All linear in wedge count. The bounded
    * projection is lineage-cut once (coSupplierProj) so its self-join runs
    * once, not once per consumer; at open scale the projection would be
    * written once as a bucketed table and the wedge joins would read it
    * shuffle-free. */
  def q_graph_clustering_coeff(s: SparkSession, d: String): DataFrame = {
    val proj = coSupplierProj(s, d)
    // one explode instead of a u-side ∪ v-side union: the union form
    // statically re-derived the whole projection subtree per side
    val deg = proj.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(triangleCounts(proj), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round((coalesce(col("n_triangles"), lit(0L)) * 2).cast("double") /
          (col("degree") * (col("degree") - 1)), 6).as("clustering_coeff"))
      .orderBy("node")
      .limit(5000)
  }
}
