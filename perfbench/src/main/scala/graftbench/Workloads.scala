package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.bigclam.BigClam
import graft.graph.GraphOps

/** The declared query suite on the fixed seed-42 sf0.1 test tables (the
  * seed argument does not change its inputs). A pass runs one query per
  * family of `SparkEntry.queries` — the family's median-time query in a
  * full single pass — so every family is represented in a run that fits the
  * time budget. The BigCLAM smoke family is left to `bigclam_fit`; `--full`
  * runs all 135 queries. */
final class DeclaredSuite extends Workload {
  val Sample: Seq[String] = Seq(
    "q_scan_edge_text", "q_filter_in_null", "q_join_full", "q_agg_salted",
    "q_win_running", "q_sort_multi", "q_set_intersect", "q_math_funcs",
    "q_events_late_dedup", "q_graph_triangle_count", "q_dedup_simhash",
    "q_text_token_bpe", "q_sim_neardup_cosine", "q_multimodal_dedup")
  private val ExpectedFile = "declared_suite.tsv"
  /** A pass of the 14 queries took 7–12 s on a shared 4-core host. */
  val nominalPassS = 10.0

  def queries(b: Bench): Seq[String] =
    if (b.o.full) SparkEntry.queries.keys.toSeq.sorted else Sample

  def generate(b: Bench): Seq[(String, Long)] = Seq(
    "docs" -> b.spark.read.parquet(s"${b.data}/documents.parquet").count(),
    "vectors" -> b.spark.read.parquet(s"${b.data}/embeddings.parquet").count(),
    "lineitem_rows" -> b.spark.read.parquet(s"${b.data}/lineitem.parquet").count(),
    "queries_per_pass" -> queries(b).size.toLong)

  /** One untimed pass, so that every timed pass finds its generated code
    * compiled; `--full` skips it. */
  def warmUp(b: Bench): Unit = if (!b.o.full) pass(b)

  def pass(b: Bench): Unit = queries(b).foreach(b.query(_, b.data))

  def check(b: Bench): Seq[(String, Option[String])] = {
    val want = b.readExpected(ExpectedFile)
    val oracle = SparkEntry.oracleSql.keySet
    val got = b.digests(queries(b), b.data)
    if (b.o.record)
      b.writeExpected(ExpectedFile,
        "query\trows\thash (- = no-oracle query, row count only); sf0.1 seed-42 data",
        got.collect { case (q, Right(d)) => q -> (if (oracle(q)) d else d.copy(hash = "-")) })
    got.map {
      case (q, Left(cls)) => q -> Some(s"check threw $cls")
      case (q, Right(d)) => q -> (want.get(q) match {
        case None => Some("no expected digest committed")
        case Some(w) => Checks.compare(d, w)
      })
    }
  }

  def opSamples(b: Bench): Seq[Double] = b.timedOps("query").map(_.wallS)
  def rate(b: Bench, wallS: Double): Double = queries(b).size / wallS
}

/** The paper's pipeline on a com-youtube-shaped power-law graph generated
  * from the seed: seedRank → fitSparse (fixed iterations, support cap,
  * LLH history) → communitiesSparse written to parquet. */
final class BigClamFit extends Workload {
  val Nodes = 8000L
  val Draws = 24000L
  val K = 100
  val SupportCap = 16
  val Iterations = 6
  val HotDegCap = 200L
  /** A pass (seed, fit, communities) took 25–35 s on a shared 4-core host,
    * so a 20 s run makes one. */
  val nominalPassS = 30.0
  /** Relative tolerance on LLH equalities. It absorbs the order in which
    * per-node double terms are reduced across shuffle partitions, which
    * depends on the partition count (nproc): seed 1 gave bit-identical
    * LLHs in repeated 4-core runs and differed by 2e-15 with 2 cores. */
  val LlhRelTol = 1e-9
  /** Expected final LLH and community count per seed. */
  private val ExpectedFile = "bigclam_fit.tsv"
  private val params = BigClam.Params(k = K)
  private var edges: DataFrame = _
  private var directed = 0L
  private val fits = mutable.ArrayBuffer.empty[(DataFrame, Seq[Double], Double)]

  private def graphPath(b: Bench) = b.work.resolve("graph.parquet").toString
  private def outPath(b: Bench) = b.work.resolve("communities.parquet").toString

  def generate(b: Bench): Seq[(String, Long)] = {
    directed = Inputs.graph(b.spark, graphPath(b), Nodes, Draws, b.o.seed, b.cpus)
    Seq("nodes" -> Nodes, "edge_draws" -> Draws, "directed_edges" -> directed)
  }

  /** Loads the graph; the fit's code paths compile in the timed pass (the
    * first iteration, which holds most of that, is not a steady-state
    * sample). */
  def warmUp(b: Bench): Unit = {
    edges = b.spark.read.parquet(graphPath(b)).persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
  }

  def pass(b: Bench): Unit = {
    val ranked = b.op("bigclam.seed", "stage") { s =>
      val t0 = System.nanoTime()
      val r = GraphOps.seedRank(edges, Some(HotDegCap))
      s.buildNs = System.nanoTime() - t0
      r.persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    val fit = b.op("bigclam.fit", "stage") { s =>
      var cur = b.spans.open("bigclam.init", "phase")
      def next(n: String): Unit = {
        b.spans.close(cur)
        b.tracer.foreach(_.endOp(cur))
        cur = b.spans.open(n, "iter")
      }
      val t0 = System.nanoTime()
      try {
        BigClam.fitSparse(edges, params, Iterations, trackHistory = true,
          ranked = ranked, supportCap = Some(SupportCap),
          initProbe = _ => next("bigclam.iter1"),
          llhWatch = Some((it: Int, _: Double) => { next(s"bigclam.iter${it + 1}"); false }))
      } finally {
        s.buildNs = System.nanoTime() - t0
        b.spans.close(cur)
        b.tracer.foreach(_.endOp(cur))
      }
    }
    fit.foreach { case (fs, hist) =>
      b.op("bigclam.communities", "stage") { s =>
        val t0 = System.nanoTime()
        val c = BigClam.communitiesSparse(fs, edges, params)
        s.buildNs = System.nanoTime() - t0
        c.write.mode("overwrite").parquet(outPath(b))
      }
      fits += ((fs, hist, b.spans.all.filter(_.name == "bigclam.fit").last.wallS))
    }
    ranked.foreach(_.unpersist())
  }

  /** On a seed with values in `expected/bigclam_fit.tsv` (written by
    * `--record`) every pass must end at the committed final LLH and the
    * written memberships must hold the committed number of communities. On
    * any other seed the checks fall back to self-consistency: the final LLH
    * must equal `llhSparse` re-scored on the returned factors. Both ways the
    * LLH must never fall, and the written memberships must follow the
    * threshold-δ and argmax rule recomputed on the driver. */
  def check(b: Bench): Seq[(String, Option[String])] = {
    if (fits.isEmpty) return Seq("bigclam.fit:completed" -> Some("no fit completed"))
    val (fs, hist, _) = fits.last
    def rel(a: Double, c: Double) = math.abs(a - c) / math.max(math.abs(c), 1e-300)
    val ascent = fits.flatMap(_._2.sliding(2).collect {
      case Seq(a, c) if c < a - LlhRelTol * math.abs(a) => (a, c)
    })
    val written = b.spark.read.parquet(outPath(b))
    val nComm = written.select("community").distinct().count()
    val nRows = written.count()
    val (wantRows, wantComm) = communitiesOnDriver(fs)
    val file = b.bench.resolve("expected").resolve(ExpectedFile)
    val committed = Expected.load(file)
    if (b.o.record) Expected.save(file, committed + (b.o.seed -> ((hist.last, nComm))))
    b.extra("final_llh") = hist.last
    b.extra("communities") = nComm
    b.extra("llh_history") = hist
    val finals = fits.map(_._2.last).toSeq
    val fitChecks = committed.get(b.o.seed) match {
      case Some((llh, comm)) =>
        b.extra("bigclam_check") = "committed values"
        Seq(
          "bigclam.fit:final_llh" -> (if (finals.forall(v => rel(v, llh) <= LlhRelTol)) None
            else Some(s"final LLH ${finals.mkString(", ")} != committed $llh")),
          "bigclam.communities:count" -> (if (nComm == comm) None
            else Some(s"$nComm communities != committed $comm")))
      case None =>
        b.extra("bigclam_check") = "self-consistency (seed has no committed values)"
        val rescored = BigClam.llhSparse(edges, fs, params)
        Seq("bigclam.fit:final_llh" -> (if (rel(rescored, hist.last) <= LlhRelTol) None
          else Some(s"re-scored LLH $rescored != history ${hist.last}")))
    }
    Seq("bigclam.fit:llh_ascent" -> (if (ascent.isEmpty) None else Some(s"LLH fell: ${ascent.head}"))) ++
      fitChecks :+
      ("bigclam.communities:membership" -> (if (nRows == wantRows && nComm == wantComm && nComm > 0) None
        else Some(s"written $nRows rows / $nComm communities, expected $wantRows / $wantComm")))
  }

  /** The threshold-δ + argmax membership rule, recomputed on the driver
    * from the collected factors: (membership rows, distinct communities). */
  private def communitiesOnDriver(fs: DataFrame): (Long, Long) = {
    val r = edges.agg(countDistinct(col("src")), count(lit(1))).head()
    val (n, und) = (r.getLong(0).toDouble, r.getLong(1) / 2)
    val delta = math.sqrt(-math.log(1.0 - 2.0 * und / (n * (n - 1.0))))
    val rows = fs.select(col("fi"), col("fv")).collect().toSeq.flatMap { row =>
      val fi = row.getSeq[Int](0)
      val fv = row.getSeq[Double](1)
      if (fi.isEmpty) Nil
      else {
        val mx = fv.max
        if (mx < delta) Seq(fi(fv.indexOf(mx))) else fi.zip(fv).collect { case (c, v) if v >= delta => c }
      }
    }
    (rows.size.toLong, rows.distinct.size.toLong)
  }

  /** Spans opened inside the timed fits: init, then one per iteration. */
  private def fitPhases(b: Bench): Seq[Span] = {
    val fitIds = b.timedOps("stage").filter(_.name == "bigclam.fit").map(_.id).toSet
    b.spans.all.toSeq.filter(_.parent.exists(fitIds))
  }

  /** Iterations 2..Iterations: each runs the previous line search, the
    * checkpoint and the LLH measure. Iteration 1 (init checkpoint, no line
    * search) and the tail after the last measure (final LLH without the
    * persisted state) have other shapes. */
  private def steadyIters(b: Bench): Seq[Span] = {
    val other = Set("bigclam.iter1", s"bigclam.iter${Iterations + 1}")
    fitPhases(b).filter(s => s.kind == "iter" && !other(s.name))
  }

  def opSamples(b: Bench): Seq[Double] = steadyIters(b).map(_.wallS)

  def rate(b: Bench, wallS: Double): Double = {
    val fitS = Stats.quantile(fits.map(_._3).toSeq, 0.5)
    directed.toDouble * Iterations / fitS
  }

  override def layerExtras(b: Bench, layers: Map[Int, Layer]): Seq[(String, Double)] = {
    val timed = b.timedOps("stage")
    def med(name: String) = Stats.quantile(timed.filter(_.name == name).map(_.wallS), 0.5)
    val iters = steadyIters(b).map(s => layers(s.id))
    def imed(f: Layer => Double) = Stats.quantile(iters.map(f), 0.5)
    Seq(
      "bigclam.seed_s" -> med("bigclam.seed"),
      "bigclam.init_s" -> Stats.quantile(fitPhases(b).filter(_.name == "bigclam.init").map(_.wallS), 0.5),
      "bigclam.iter_jobs" -> imed(_.jobs.toDouble),
      "bigclam.iter_tasks" -> imed(_.tasks.toDouble),
      "bigclam.iter_plan_s" -> imed(l => (l.analysisMs + l.optimizationMs + l.physicalMs) / 1e3),
      "bigclam.iter_shuffle_mb" -> imed(l => (l.shuffleWrite + l.shuffleRead) / Trace.MB),
      "bigclam.communities_s" -> med("bigclam.communities"))
  }
}

/** `expected/bigclam_fit.tsv`: one `seed final_llh communities` line per
  * recorded seed. */
object Expected {
  def load(p: Path): Map[Long, (Double, Long)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(seed, llh, comm) = l.split("\t")
        seed.toLong -> ((llh.toDouble, comm.toLong))
      }.toMap

  def save(p: Path, m: Map[Long, (Double, Long)]): Unit = {
    val lines = "# seed\tfinal_llh\tcommunities" +: m.toSeq.sortBy(_._1).map {
      case (seed, (llh, comm)) => s"$seed\t$llh\t$comm"
    }
    Files.createDirectories(p.getParent)
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
