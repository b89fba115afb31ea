package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run: workload totals per pass for the
  * result line, and every span with its counters for the trace file. */
object LayerReport {

  /** The per-layer metric names, in the order they are printed. */
  val Names: Seq[String] = Seq(
    "build_s", "plan.analysis_s", "plan.optimization_s", "plan.physical_s",
    "plan.executions", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.job_wall_s", "sched.driver_gap_s", "task.run_s", "task.cpu_s",
    "task.gc_s", "task.deser_s", "shuffle.write_mb", "shuffle.read_mb",
    "shuffle.fetch_wait_s", "spill.mem_mb", "spill.disk_mb", "mem.peak_exec_mb",
    "driver.heap_peak_mb", "ckpt.created", "ckpt.live", "ckpt.live_mb",
    "bigclam.seed_s", "bigclam.init_s", "bigclam.iter_jobs", "bigclam.iter_tasks",
    "bigclam.iter_plan_s", "bigclam.iter_shuffle_mb", "bigclam.communities_s")

  private def units(n: String): String =
    if (n.endsWith("_s")) "s" else if (n.endsWith("_mb")) "MB" else "count"

  private def under(b: Bench, roots: Set[Int]): Seq[Span] = {
    val all = b.spans.all.toSeq
    val in = scala.collection.mutable.Set.empty[Int] ++ roots
    all.sortBy(_.id).foreach(s => if (s.parent.exists(in)) in += s.id)
    all.filter(s => in(s.id))
  }

  /** Counters of `top` and everything opened inside it. */
  private def counters(b: Bench, top: Span, layers: Map[Int, Layer]): Map[String, Double] = {
    val ls = under(b, Set(top.id)).map(s => layers(s.id))
    val jobs = ls.flatMap(_.jobIntervals)
    val plans = ls.flatMap(_.planIntervals)
    def sum(f: Layer => Long) = ls.map(f).sum.toDouble
    val jobWall = Intervals.length(jobs) / 1e3
    val own = layers(top.id)
    Map(
      "wall_s" -> top.wallS,
      "build_s" -> top.buildNs / 1e9,
      "plan.analysis_s" -> sum(_.analysisMs) / 1e3,
      "plan.optimization_s" -> sum(_.optimizationMs) / 1e3,
      "plan.physical_s" -> sum(_.physicalMs) / 1e3,
      "plan.executions" -> sum(_.executions),
      "sched.jobs" -> sum(_.jobs), "sched.stages" -> sum(_.stages),
      "sched.tasks" -> sum(_.tasks),
      "sched.job_wall_s" -> jobWall,
      "sched.driver_gap_s" -> (top.wallS - jobWall),
      "task.run_s" -> sum(_.runMs) / 1e3, "task.cpu_s" -> sum(_.cpuNs) / 1e9,
      "task.gc_s" -> sum(_.gcMs) / 1e3, "task.deser_s" -> sum(_.deserMs) / 1e3,
      "shuffle.write_mb" -> sum(_.shuffleWrite) / Trace.MB,
      "shuffle.read_mb" -> sum(_.shuffleRead) / Trace.MB,
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "spill.mem_mb" -> sum(_.spillMem) / Trace.MB,
      "spill.disk_mb" -> sum(_.spillDisk) / Trace.MB,
      "mem.peak_exec_mb" -> ls.map(_.peakExec).foldLeft(0L)(math.max) / Trace.MB,
      "driver.heap_peak_mb" -> ls.map(_.heapPeak).foldLeft(0L)(math.max) / Trace.MB,
      "ckpt.created" -> ls.flatMap(_.persisted).distinct.size.toDouble,
      "ckpt.live" -> own.liveAfter.toDouble,
      "ckpt.live_mb" -> own.liveBytesAfter / Trace.MB,
      "plan.wall_s" -> Intervals.length(plans) / 1e3,
      "plan.in_jobs_s" -> Intervals.overlap(plans, jobs) / 1e3)
  }

  private def topOps(b: Bench): Seq[Span] = {
    val ids = b.passes.map(_.id).toSet
    b.spans.all.toSeq.filter(_.parent.exists(ids))
  }

  /** Workload totals per pass (counts and times summed over the pass's
    * ops; peaks are maxima; live checkpoints are read after the last op). */
  def metrics(b: Bench, wl: Workload, layers: Map[Int, Layer]): Seq[(String, Double, String)] = {
    val ops = topOps(b).map(s => counters(b, s, layers))
    val n = math.max(b.passes.size, 1)
    val maxed = Set("mem.peak_exec_mb", "driver.heap_peak_mb")
    val last = Set("ckpt.live", "ckpt.live_mb")
    val base = Names.filterNot(_.startsWith("bigclam.")).map { k =>
      val v =
        if (maxed(k)) ops.map(_(k)).foldLeft(0.0)(math.max)
        else if (last(k)) ops.lastOption.map(_(k)).getOrElse(0.0)
        else ops.map(_(k)).sum / n
      k -> v
    }.toMap
    val extras = wl.layerExtras(b, layers).toMap
    Names.map(k => (k, base.getOrElse(k, extras.getOrElse(k, 0.0)), units(k)))
  }

  /** Every span with its counters and its self-time split: job wall,
    * planning outside any job, and the residual `driver_other_s` = wall −
    * job wall − planning outside jobs. The split adds up to the wall time by
    * construction; `plan_in_jobs_s` (planning while a job of the op ran,
    * as adaptive execution re-plans) and a negative residual are what it
    * would otherwise hide. */
  def write(b: Bench, wl: Workload, layers: Map[Int, Layer], out: Path,
      endToEnd: Seq[(String, Double)]): Unit = {
    val timed = under(b, b.passes.map(_.id).toSet)
    val spans = timed.map { s =>
      val c = counters(b, s, layers)
      val planOut = c("plan.wall_s") - c("plan.in_jobs_s")
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
        "parent" -> s.parent, "ok" -> s.ok) ++
        c.toSeq.sortBy(_._1) ++
        Seq("self" -> Json.Raw(Json.obj(Seq(
          "jobs_s" -> c("sched.job_wall_s"), "plan_outside_jobs_s" -> planOut,
          "plan_in_jobs_s" -> c("plan.in_jobs_s"),
          "driver_other_s" -> (c("sched.driver_gap_s") - planOut))))))
    }
    val totals = metrics(b, wl, layers).map { case (k, v, _) => k -> v }
    val doc = Json.obj(Seq("workload" -> b.o.workload, "seed" -> b.o.seed,
      "passes" -> b.passes.size,
      "end_to_end_traced" -> Json.Raw(Json.obj(endToEnd)),
      "per_layer" -> Json.Raw(Json.obj(totals)),
      "spans" -> Json.Raw(spans.mkString("[\n", ",\n", "\n]"))))
    Files.createDirectories(out.getParent)
    Files.write(out, (doc + "\n").getBytes(UTF_8))
  }
}
