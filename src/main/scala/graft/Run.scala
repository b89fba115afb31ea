package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.bigclam.BigClam
import graft.graph.{GraphGen, GraphOps}
import graft.ops.{IncrementalDedup, TextOps, VectorOps}

/** One entry point for the end-to-end scenarios:
  *
  *   graft.Run <scenario> [key=value ...]
  *
  * e.g. `tools/run_main.sh graft.Run bigclam source=synth:100000:300000 k=100 iters=5 cap=16`.
  *
  * Scenarios (README "Scenarios" records a measured run of each):
  *  - `bigclam`: fit BigCLAM ([[BigClam.fitSparse]]) on an edge source.
  *  - `selectk`: the v4 K-grid walk ([[BigClam.selectKSparse]]).
  *  - `graph`: CC, PageRank, assortativity, LPA, PPR and the modularity
  *    bracket of the CC / LPA / mod-10 partitions.
  *  - `dedup`: persisted-state incremental dedup over arrival batches.
  *  - `semantic`: semantic dedup of a planted embedding-family lake.
  *  - `lsh`: LSH near-dup clustering of a mass-duplicated corpus.
  *
  * Edge sources (`source=`): an edge-list file path (the reference's
  * whitespace format), `synth:N:M[:beta]` (power-law graph),
  * `planted:N:K:pSingle:inter` (AGM overlapping cover) or
  * `partition:N:K:intra:inter` (disjoint planted partition). The two planted
  * sources carry their ground truth, so every scenario run on one also
  * prints F1 and Omega of its result against that truth.
  *
  * Numeric knobs where 0 means "off": `cap` (support cap), `stableTol`,
  * `llhTol`, `hotDegCap`. The session runs `local[SPARK_GRAFT_CPUS]`, or
  * `local[*]` when that is unset.
  */
object Run {
  private final case class Scenario(keys: Seq[String], body: (SparkSession, Args) => Unit)

  private lazy val scenarios: Map[String, Scenario] = Map(
    "bigclam" -> Scenario(Seq("source", "k", "iters", "cap", "stableTol",
      "llhTol", "init", "hotDegCap", "out"), bigclam),
    "selectk" -> Scenario(Seq("source", "minK", "maxK", "steps", "iters",
      "cap", "stableTol", "llhTol", "hotDegCap", "init", "criterion",
      "kTol", "escalateCap", "stateDir"), selectk),
    "graph" -> Scenario(Seq("source", "prIters", "lpaRounds"), graph),
    "dedup" -> Scenario(Seq("sfDir", "stateDir", "batches", "batch", "audit"), dedup),
    "semantic" -> Scenario(Seq("nVec", "k", "subBits", "threshold"), semantic),
    "lsh" -> Scenario(Seq("nFamilies", "r", "nBackground"), lsh))

  def usage: String = "usage: graft.Run <scenario> [key=value ...]\n" +
    scenarios.toSeq.sortBy(_._1).map { case (n, s) =>
      s"  $n: ${s.keys.mkString(" ")}" }.mkString("\n")

  /** Key=value arguments of one scenario; every getter names the key and
    * the value it could not parse. */
  final class Args private[Run] (scenario: String, kv: Map[String, String]) {
    private def parsed[T](key: String, what: String)(f: String => T): Option[T] =
      kv.get(key).map { v =>
        try f(v) catch { case _: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"$scenario: bad value for $key: '$v' (expected $what)") }
      }
    def str(key: String): Option[String] = kv.get(key)
    def str(key: String, default: String): String = kv.getOrElse(key, default)
    def int(key: String): Option[Int] = parsed(key, "an integer")(_.toInt)
    def int(key: String, default: Int): Int = int(key).getOrElse(default)
    def long(key: String, default: Long): Long =
      parsed(key, "an integer")(_.toLong).getOrElse(default)
    def double(key: String): Option[Double] = parsed(key, "a number")(_.toDouble)
    def double(key: String, default: Double): Double = double(key).getOrElse(default)
    def bool(key: String, default: Boolean): Boolean =
      parsed(key, "true or false")(_.toBoolean).getOrElse(default)
    def need(key: String): String = kv.getOrElse(key,
      throw new IllegalArgumentException(s"$scenario: missing required key $key"))
    /** `key` as a positive value; absent or 0 means off. */
    def posInt(key: String): Option[Int] = int(key).filter(_ > 0)
    def posLong(key: String, default: Long): Option[Long] = Some(long(key, default)).filter(_ > 0)
    def posDouble(key: String): Option[Double] = double(key).filter(_ > 0)
  }

  /** Split `<scenario> key=value ...`, rejecting an unknown scenario, a
    * token without `=`, and a key the scenario does not declare. */
  def parse(args: Seq[String]): (String, Args) = {
    val name = args.headOption.getOrElse(throw new IllegalArgumentException(usage))
    val sc = scenarios.getOrElse(name, throw new IllegalArgumentException(
      s"unknown scenario '$name' (known: ${scenarios.keys.toSeq.sorted.mkString(", ")})"))
    val kv = args.tail.map { a =>
      a.split("=", 2) match {
        case Array(k, v) if k.nonEmpty =>
          if (!sc.keys.contains(k)) throw new IllegalArgumentException(
            s"$name: unknown key '$k' (known: ${sc.keys.mkString(", ")})")
          k -> v
        case _ => throw new IllegalArgumentException(s"$name: expected key=value, got '$a'")
      }
    }
    (name, new Args(name, kv.toMap))
  }

  /** Run one scenario on `spark`; its report goes to stdout. */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val (name, a) = parse(args)
    scenarios(name).body(spark, a)
  }

  def main(args: Array[String]): Unit = {
    try parse(args.toSeq) catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage); System.err.println(usage); sys.exit(2) }
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
    val spark = SparkSession.builder()
      .master(s"local[${cpus.getOrElse("*")}]")
      .config("spark.sql.shuffle.partitions",
        cpus.getOrElse(Runtime.getRuntime.availableProcessors.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Wall clock since construction. */
  private final class Timer {
    private val t0 = System.nanoTime()
    def secs: Double = (System.nanoTime() - t0) / 1e9
    def lap[T](body: => T): (T, Double) = {
      val t = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t) / 1e9)
    }
  }

  /** Symmetrized, persisted edges, plus the planted (community, node)
    * truth and community count for the two planted sources. */
  private final case class Source(edges: DataFrame, truth: Option[DataFrame], k: Option[Int])

  private def source(spark: SparkSession, spec: String): Source = {
    def bad = throw new IllegalArgumentException(s"bad source '$spec' (expected a " +
      "path, synth:N:M[:beta], planted:N:K:pSingle:inter or partition:N:K:intra:inter)")
    def num[T](f: => T): T = try f catch { case _: NumberFormatException => bad }
    val (raw, truth, k) = spec.split(":").toSeq match {
      case Seq("synth", n, m, beta @ _*) if beta.size <= 1 =>
        (num(GraphGen.powerLawEdges(spark, n.toLong, m.toLong,
          beta = beta.headOption.fold(0.5)(_.toDouble))), None, None)
      case Seq("planted", n, k, p, inter) =>
        val (nn, kk) = num((n.toLong, k.toInt))
        (num(GraphGen.plantedCoverEdges(spark, nn, kk, p.toDouble, inter.toLong)),
          Some(GraphGen.plantedCoverTruth(spark, nn, kk)), Some(kk))
      case Seq("partition", n, k, intra, inter) =>
        val (nn, kk) = num((n.toLong, k.toInt))
        (num(GraphGen.plantedPartitionEdges(spark, nn, kk, intra.toLong, inter.toLong)),
          Some(GraphGen.plantedTruth(spark, nn, kk)), Some(kk))
      case Seq("synth" | "planted" | "partition", _*) => bad
      case _ => (GraphOps.loadEdgeList(spark, spec), None, None)
    }
    // truth first: plantedCoverEdges re-derives the cover, and caching it
    // before the edges fixes which plan (and row order) the edges cache gets
    val t = truth.map(_.persist(StorageLevel.MEMORY_AND_DISK))
    Source(GraphOps.symEdges(raw).persist(StorageLevel.MEMORY_AND_DISK), t, k)
  }

  /** F1 and Omega of a (community, node) cover against the planted truth. */
  private def score(tag: String, what: String, cover: DataFrame, truth: DataFrame): Unit = {
    val c = cover.persist(StorageLevel.MEMORY_AND_DISK)
    val s = BigClam.scoreCommunities(c, truth).collect()(0)
    val omega = BigClam.scoreCommunitiesOmega(c, truth).collect()(0).getAs[Double]("omega")
    println(f"[$tag] $what vs planted truth: F1=${s.getDouble(0)}%.4f omega=$omega%.4f " +
      f"(fitted-best ${s.getDouble(1)}%.4f over ${s.getLong(3)} communities, " +
      f"truth-best ${s.getDouble(2)}%.4f over ${s.getLong(4)} planted)")
    c.unpersist()
  }

  private def initText(d: BigClam.InitDiag): String =
    s"init: requested=${d.requested} chosen=${d.chosen} " +
      s"egoLlh=${d.egoLlh.getOrElse(Double.NaN)} " +
      s"splitLlh=${d.splitLlh.getOrElse(Double.NaN)} " +
      s"abandonedAt=${d.abandonedAtIter.getOrElse(-1)}" + d.cover.fold("")(c => s" $c")

  private def bigclam(spark: SparkSession, a: Args): Unit = {
    val spec = a.need("source")
    val iters = a.int("iters", 3)
    val cap = a.posInt("cap")
    val stableTol = a.posDouble("stableTol")
    val llhTol = a.posDouble("llhTol")
    val initMode = a.str("init", "ego")
    val hotCap = a.posLong("hotDegCap", 200L)
    val out = a.str("out")
    val kArg = a.int("k")
    val t = new Timer
    val src = source(spark, spec)
    val k = kArg.orElse(src.k).getOrElse(
      throw new IllegalArgumentException("bigclam: missing required key k"))
    val edges = src.edges
    println(f"[bigclam] $spec: ${edges.count()} directed edge rows (${t.secs}%.0f s)")
    val ranked = GraphOps.seedRank(edges, hotCap).persist(StorageLevel.MEMORY_AND_DISK)
    val p = BigClam.Params(k = k)
    val (fs0, history) = BigClam.fitSparse(edges, p, iterations = iters,
      ranked = Some(ranked), supportCap = cap, stableTol = stableTol,
      llhTol = llhTol, initMode = initMode,
      initProbe = d => println(s"[bigclam]   ${initText(d)}"))
    val fs = fs0.persist(StorageLevel.MEMORY_AND_DISK)
    val supp = fs.agg(count(lit(1)), avg(size(col("fi"))), max(size(col("fi"))),
      sum(when(size(col("fi")) > 0, 1L).otherwise(0L))).collect()(0)
    val monotone = history.sliding(2).forall(w =>
      w.length < 2 || w(1) >= w(0) - math.abs(w(0)) * 1e-12)
    println(s"[bigclam] LLH history: ${history.map(v => f"$v%.4e").mkString(" -> ")}")
    println(f"[bigclam] result: K=$k ${history.length} LLH points, " +
      s"final llh=${history.last}, monotone=$monotone, " +
      f"F rows=${supp.getLong(0)} active=${supp.getLong(3)} " +
      f"avg_nnz=${supp.getDouble(1)}%.2f max_nnz=${supp.getInt(2)} (${t.secs}%.1f s)")
    val com = BigClam.communitiesSparse(fs, edges, p)
    out.foreach { dir =>
      com.write.mode("overwrite").parquet(dir)
      println(s"[bigclam] memberships written to $dir")
    }
    src.truth.foreach(score("bigclam", s"K=$k fit", com, _))
    println(f"[bigclam] TOTAL ${t.secs}%.1f s")
  }

  private def selectk(spark: SparkSession, a: Args): Unit = {
    val spec = a.need("source")
    val minK = a.int("minK", 4)
    val maxK = a.int("maxK", 32)
    val steps = a.int("steps", 4)
    val iters = a.int("iters", 3)
    val cap = a.posInt("cap")
    val stableTol = a.posDouble("stableTol")
    val hotCap = a.posLong("hotDegCap", 200L)
    val llhTol = a.posDouble("llhTol")
    val initMode = a.str("init", "ego")
    val criterion = a.str("criterion", "llh")
    val kTol = a.double("kTol", 1e-3)
    val escalateCap = a.int("escalateCap", 0)
    val stateDir = a.str("stateDir")
    val t = new Timer
    val src = source(spark, spec)
    val edges = src.edges
    println(f"[selectk] $spec: ${edges.count()} directed edge rows (${t.secs}%.0f s)")
    val r = BigClam.selectKSparse(edges, BigClam.Params(k = minK), minK = minK,
      maxK = maxK, steps = steps, kTol = kTol, fitIterations = iters,
      supportCap = cap, stableTol = stableTol, hotDegCap = hotCap,
      llhTol = llhTol, initMode = initMode, criterion = criterion,
      escalateCap = escalateCap, stateDir = stateDir)
    println(f"[selectk] grid ${r.points.map(_.k).mkString("{", ",", "}")} " +
      f"($iters iters each) in ${t.secs}%.1f s:")
    r.points.foreach { p =>
      println(f"[selectk]   K=${p.k}%-6d llh=${p.llh}%.2f" +
        (if (p.q.isNaN) "" else f" q=${p.q}%.4f") + s" ${initText(p.init)}" +
        (if (p.replayed) " (replayed)" else ""))
    }
    // the reference's stop rule (bigclam4-7.scala:259) replayed on the
    // curve: the first SIGNED sub-1e-3 relative gain picks the stop-point K
    val ps = r.points
    val stopIdx = ps.indices.drop(1).find(i => 1.0 - ps(i).llh / ps(i - 1).llh < 1e-3)
    println(s"[selectk] reference-rule(1e-3) K=" +
      stopIdx.fold(s"${ps.last.k} (never stopped — grid boundary)")(i => s"${ps(i).k}"))
    println(s"[selectk] chosen K=${r.k}")
    println(s"[selectk] decision: decided-by=${r.decidedBy} " +
      s"boundary_pick=${r.boundaryPick} kTolFired=${r.kTolFired} " +
      s"fireCollapse=${r.fireCollapse} escalations=${r.escalations}/$escalateCap")
    src.truth.foreach(score("selectk", s"chosen K=${r.k} fit",
      BigClam.communitiesSparse(r.f, edges, BigClam.Params(k = r.k)), _))
    println(f"[selectk] TOTAL ${t.secs}%.1f s")
  }

  private def graph(spark: SparkSession, a: Args): Unit = {
    val spec = a.need("source")
    val prIters = a.int("prIters", 5)
    val rounds = a.int("lpaRounds", 5)
    val t = new Timer
    val src = source(spark, spec)
    val edges = src.edges
    val nEdges = edges.count()
    val nNodes = edges.select("src").distinct().count()
    println(f"[graph] $spec: $nNodes nodes, $nEdges directed edge rows (${t.secs}%.0f s)")

    val (comps, ccSecs) = t.lap {
      val cc = GraphOps.connectedComponents(edges)
        .select(col("node"), col("comp").as("lab")).persist(StorageLevel.MEMORY_AND_DISK)
      (cc, cc.groupBy("lab").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)), max(col("sz"))).collect()(0))
    }
    println(f"[graph] CC: ${comps._2.getLong(0)} components, " +
      f"giant=${comps._2.getLong(1)} ($ccSecs%.0f s)")
    val (pr, prSecs) = t.lap(GraphOps.pageRank(edges, prIters)
      .agg(sum(col("pr")), max(col("pr"))).collect()(0))
    println(f"[graph] PageRank($prIters): mass=${pr.getDouble(0)}%.4f " +
      f"top=${pr.getDouble(1)}%.6f ($prSecs%.0f s)")
    val (as, asSecs) = t.lap(GraphOps.assortativity(edges).collect()(0))
    println(f"[graph] assortativity: r=${as.getDouble(1)}%.6f over " +
      f"${as.getLong(0)} edge rows ($asSecs%.0f s)")
    val (lpa, lpaSecs) = t.lap {
      val l = GraphOps.labelPropagation(edges, rounds).persist(StorageLevel.MEMORY_AND_DISK)
      (l, l.groupBy("lab").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)), max(col("sz"))).collect()(0))
    }
    println(f"[graph] LPA($rounds): ${lpa._2.getLong(0)} labels, " +
      f"biggest=${lpa._2.getLong(1)} ($lpaSecs%.0f s)")
    // PPR is exactly mass-preserving on a symmetric graph (no dangling
    // nodes): Σpr stays 1 under the seed reset too
    val seeds: Column = col("node") % 1000 === 0
    val (ppr, pprSecs) = t.lap(GraphOps.personalizedPageRank(edges, seeds, 3)
      .agg(sum(col("pr")), sum(when(seeds, col("pr")))).collect()(0))
    println(f"[graph] PPR(3, seeds=node%%1000==0): mass=${ppr.getDouble(0)}%.4f " +
      f"seed_share=${ppr.getDouble(1)}%.4f ($pprSecs%.0f s)")
    val hash = edges.select(col("src").as("node")).distinct()
      .select(col("node"), pmod(col("node"), lit(10L)).as("lab"))
    GraphOps.modularity(edges, comps._1, "cc")
      .union(GraphOps.modularity(edges, lpa._1, "lpa"))
      .union(GraphOps.modularity(edges, hash, "mod10"))
      .orderBy("partition").collect()
      .foreach(r => println(f"[graph] modularity ${r.getString(0)}%-6s " +
        f"n_parts=${r.getLong(1)} q=${r.getDouble(3)}%.6f"))
    println(f"[graph] result: components=${comps._2.getLong(0)} " +
      f"pr_mass=${pr.getDouble(0)}%.4f lpa_labels=${lpa._2.getLong(0)}")
    src.truth.foreach(score("graph", s"LPA($rounds) partition",
      lpa._1.select(col("lab").as("community"), col("node")), _))
    println(f"[graph] TOTAL ${t.secs}%.1f s")
  }

  /** Split the documents table into `batches` arrival batches (doc_id mod
    * batches) and dedup each against the parquet state the earlier ones
    * persisted. With `batch` given, process only that batch against
    * whatever `stateDir` holds (separate JVMs show the state surviving).
    * The per-batch giant-near-family audit is on by default here (its cost
    * measured within run noise at 24x replication); the library default
    * stays `processBatch(audit = false)`. After the final batch, check the
    * accumulated decisions: one row per doc, globally unique kept md5s, and
    * a recorded near-dup reason for every hash group that kept nothing. */
  private def dedup(spark: SparkSession, a: Args): Unit = {
    val d = a.need("sfDir")
    val stateDir = a.need("stateDir")
    val nBatches = a.int("batches", 3)
    val only = a.int("batch")
    val audit = a.bool("audit", true)
    val t = new Timer
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    def runBatch(b: Int): Unit = {
      val batch = docs.filter(pmod(col("doc_id"), lit(nBatches.toLong)) === b)
      // the audit is computed eagerly from the batch's own pre-append
      // frames, so the append below can never feed it the batch's hashes
      val r = IncrementalDedup.processBatch(batch,
        IncrementalDedup.loadState(spark, stateDir), audit = audit)
      val dec = r.decisions.persist(StorageLevel.MEMORY_AND_DISK)
      val stats = dec.agg(count(lit(1)), sum(col("is_exact_dup")),
        sum(when(col("n_near") > 0, 1L).otherwise(0L)), sum(col("keep"))).collect()(0)
      IncrementalDedup.appendState(stateDir, b,
        IncrementalDedup.BatchResult(dec, r.acceptedHashes, r.acceptedPostings))
      println(f"[dedup] batch $b/$nBatches: ${stats.getLong(0)}%6d docs, " +
        f"${stats.getLong(1)}%5d exact-dup, ${stats.getLong(2)}%5d near-hit, " +
        f"${stats.getLong(3)}%6d accepted (${t.secs}%.1f s)")
      r.ceiling.filter(_.overCeilingShingles > 0).foreach { cd =>
        println(s"[dedup] batch $b ceiling audit: $cd" +
          (if (cd.flagged) "  <- AUDIT: probable giant near-family accepted" else ""))
      }
      dec.unpersist()
    }
    only.fold((0 until nBatches).foreach(runBatch))(runBatch)

    if (only.forall(_ == nBatches - 1)) {
      val decisions = spark.read.parquet(s"$stateDir/decisions")
      val n = decisions.count()
      val nDocs = docs.count()
      require(n == nDocs, s"decision rows $n != corpus docs $nDocs")
      require(decisions.select("doc_id").distinct().count() == nDocs,
        "a doc was decided more than once")
      val keptH = decisions.filter(col("keep") === 1)
        .join(docs, Seq("doc_id")).select(md5(col("text")).as("h"))
      val keptN = keptH.count()
      val keptD = keptH.distinct().count()
      require(keptN == keptD, s"kept docs share md5s: $keptN rows, $keptD distinct")
      val byH = decisions.join(docs, Seq("doc_id"))
        .select(md5(col("text")).as("h"), col("keep"), col("n_near"), col("is_exact_dup"))
        .groupBy("h").agg(sum(col("keep")).as("nk"),
          sum(when(col("n_near") > 0 && col("is_exact_dup") === 0, 1L)
            .otherwise(0L)).as("nreason"))
      val silent = byH.filter(col("nk") === 0 && col("nreason") === 0).count()
      require(silent == 0, s"$silent hash groups vanished with no recorded reason")
      val nH = byH.count()
      println(f"[dedup] AUDIT ok: $nDocs docs -> $keptN kept " +
        f"($nH distinct hashes, ${nH - keptD} groups near-dropped) (${t.secs}%.1f s)")
    }
    println(f"[dedup] TOTAL ${t.secs}%.1f s")
  }

  /** `nVec` 64-dim vectors in families of 10 sharing a base direction:
    * members 0-4 are exact copies, 5-9 carry a small perturbation (cosine
    * ≈ 0.9988 to the base). Requires zero cross-family merges and every
    * family's exact copies under one label; reports the perturbed-member
    * recall and where the misses went — another k-means cell (cross_cell),
    * another sign-LSH sub-bucket of the same cell (sub_split), or the same
    * block (in_block, threshold loss). `subBits` sign-LSH bits split hot
    * cells: with k cells alone, Σ(cell size)² at 1M vectors is ~2e9 pairs. */
  private def semantic(spark: SparkSession, a: Args): Unit = {
    val nVec = a.long("nVec", 1000000L)
    val k = a.int("k", 256)
    val subBits = a.int("subBits", 6)
    val threshold = a.double("threshold", 0.9)
    require(nVec % 10 == 0, "nVec must be a multiple of the family size 10")
    val dim = 64
    import spark.implicits._
    val t = new Timer
    // deterministic doubles in [-1, 1) via the full splitmix64 finalizer: a
    // single-multiply mixer leaves consecutive inputs nearly linear in the
    // top bits, which makes different family bases collinear
    def u(x0: Long): Double = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^= x >>> 31
      (x >>> 11) * (2.0 / (1L << 53)) - 1.0
    }
    val emb = spark.range(nVec).select(col("id")).as[Long]
      .mapPartitions(_.map { id =>
        val base = Array.tabulate(dim)(j => u(id / 10 * 131L + j))
        (id, if (id % 10 < 5) base else Array.tabulate(dim)(j => base(j) + 0.05 * u(id * 977L + j)))
      })
      .toDF("vec_id", "v")
    val planes = if (subBits > 0) VectorOps.hyperplanes(subBits, dim) else Nil
    val (labels0, assigned) = VectorOps.semanticDedupWithBlocks(emb, k, threshold, planes)
    val labels = labels0.persist(StorageLevel.MEMORY_AND_DISK)
    val n = labels.count()
    println(f"[semantic] $n labels over $nVec vectors, k=$k subBits=$subBits " +
      f"threshold=$threshold (${t.secs}%.1f s)")
    require(n == nVec, "labeling must cover every vector")
    // Spark's `/` on longs is double division: the family key needs floor
    def fam(c: Column) = floor(c / lit(10L)).cast("bigint")
    val cross = labels.filter(fam(col("canonical_id")) =!= fam(col("vec_id"))).count()
    require(cross == 0, s"cross-family merges: $cross")
    val split = labels.filter(col("vec_id") % 10 < 5)
      .groupBy(fam(col("vec_id"))).agg(countDistinct(col("canonical_id")).as("nl"))
      .filter(col("nl") =!= 1).count()
    require(split == 0, s"families whose exact copies split: $split")
    val merged = labels.filter(col("vec_id") % 10 >= 5 && col("n_cluster") > 1).count()
    println(f"[semantic] exact-copy families intact: all; perturbed members " +
      f"merged: $merged/${nVec / 2} (${merged * 100.0 / (nVec / 2)}%.2f%%)  TOTAL ${t.secs}%.1f s")
    // a missed member's block vs its family's exact-copy block (member fam*10)
    val missed = labels.filter(col("vec_id") % 10 >= 5 && col("n_cluster") === 1)
      .select(col("vec_id"))
    val memberBlk = assigned.select(fam(col("vec_id")).as("fam"),
      col("vec_id"), col("cell"), col("blk"))
    val baseBlk = assigned.filter(col("vec_id") % 10 === 0)
      .select(fam(col("vec_id")).as("fam"), col("cell").as("base_cell"), col("blk").as("base_blk"))
    val why = missed.join(memberBlk, Seq("vec_id")).join(baseBlk, Seq("fam"))
      .select(when(col("cell") =!= col("base_cell"), "cross_cell")
        .when(!(col("blk") <=> col("base_blk")), "sub_split")
        .otherwise("in_block").as("why"))
      .groupBy("why").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"[semantic] missed ${nVec / 2 - merged} decompose: " +
      Seq("cross_cell", "sub_split", "in_block").map(w => s"$w=${why.getOrElse(w, 0L)}").mkString(" "))
  }

  /** `nFamilies` families × `r` byte-identical documents plus `nBackground`
    * distinct ones (xxhash64 token streams, no input tables) through the
    * production [[TextOps.lshClusterLabels]]; every family must come back
    * as one full cluster. */
  private def lsh(spark: SparkSession, a: Args): Unit = {
    val nFamilies = a.int("nFamilies", 200)
    val r = a.int("r", 1000)
    val nBackground = a.int("nBackground", 5000)
    val t = new Timer
    def tokens(key: Column, salt: Int) =
      array_join(transform(sequence(lit(1), lit(60)),
        j => concat(lit("t"), pmod(xxhash64(key, j, lit(salt)), lit(99991)))), " ")
    val fams = spark.range(nFamilies.toLong * r)
      .select(col("id").as("doc_id"), tokens(expr(s"id DIV $r"), 1).as("text"))
    val bg = spark.range(nBackground)
      .select((col("id") + nFamilies.toLong * r).as("doc_id"), tokens(col("id"), 2).as("text"))
    val docs = fams.unionAll(bg).repartition(32).persist(StorageLevel.MEMORY_AND_DISK)
    println(f"[lsh] corpus: ${docs.count()} docs ($nFamilies families x $r copies " +
      f"+ $nBackground background) (${t.secs}%.0f s)")
    val (res, secs) = t.lap {
      val labels = TextOps.lshClusterLabels(docs).persist(StorageLevel.MEMORY_AND_DISK)
      val byFam = labels.groupBy(expr(s"doc_id DIV $r").as("fam"))
        .agg(countDistinct(col("canon_id")).as("n_canon"), count(lit(1)).as("n"))
      val out = (labels.count(), byFam.count(),
        byFam.filter(col("n_canon") =!= 1 || col("n") =!= r).count())
      labels.unpersist()
      out
    }
    val (nLabeled, intact, broken) = res
    println(f"[lsh] $nLabeled labeled docs, $intact/$nFamilies families intact, " +
      f"$broken broken ($secs%.1f s)")
    require(broken == 0 && intact == nFamilies.toLong, "family clusters broken")
    println(f"[lsh] TOTAL ${t.secs}%.1f s")
  }
}
