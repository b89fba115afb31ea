package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark program: one workload per JVM, closed loop (one
  * client, the op after the previous one completes), `local[nproc]`.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --root <repo checkout> [--full] [--record]
  *
  * Prints a run stamp, a report with every named metric, and as its last
  * stdout line the result object `{correct, attempted, failed, metrics}`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: Path, full: Boolean, record: Boolean)

  def parse(argv: Array[String]): Opts = {
    val (flags, pairs) = argv.partition(a => a == "--full" || a == "--record")
    val m = pairs.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--root")).toAbsolutePath,
      flags.contains("--full"), flags.contains("--record"))
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    // target/ can hold stub classes whose query map is empty: a run
    // against them would time nothing and report success
    if (SparkEntry.queries.isEmpty) {
      System.err.println("ABORT: graft.SparkEntry.queries is empty — the " +
        "classpath holds stub classes, not the compiled library")
      sys.exit(3)
    }
    val wl: Workload = o.workload match {
      case "declared_suite" => new DeclaredSuite
      case "bigclam_fit" => new BigClamFit
      case other =>
        System.err.println(s"ABORT: unknown workload $other")
        sys.exit(2)
    }
    sys.exit(new Bench(o).run(wl))
  }
}

/** What a workload contributes; [[Bench]] owns timing, tracing, output. */
trait Workload {
  /** Nominal length of one pass. A run makes round(seconds / this) passes,
    * at least one: a count set by `--seconds` alone, so that every run of
    * the same command measures the same work whatever the host's speed. */
  def nominalPassS: Double
  /** Generate the inputs (timed as part of setup). Returns the input sizes
    * for the run stamp. */
  def generate(b: Bench): Seq[(String, Long)]
  /** Warm-up, part of setup: the first execution of each op's code. */
  def warmUp(b: Bench): Unit
  /** One pass of fixed work, every call made through [[Bench.op]]. */
  def pass(b: Bench): Unit
  /** Output checks, outside the timed region: (what, None or why wrong). */
  def check(b: Bench): Seq[(String, Option[String])]
  /** Per-op times of the timed passes (queries, or fit iterations). */
  def opSamples(b: Bench): Seq[Double]
  /** Work completed per second, given the median pass time. */
  def rate(b: Bench, wallS: Double): Double
  /** Per-layer numbers only this workload has. */
  def layerExtras(b: Bench, layers: Map[Int, Layer]): Seq[(String, Double)] = Nil
}

final class Bench(val o: Main.Opts) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val bench: Path = o.root.resolve("perfbench")
  val work: Path = bench.resolve("work").resolve(o.workload)
  val data: String = bench.resolve("data").resolve("sf0.1").toString
  var spark: SparkSession = _
  var spans: Spans = _
  var tracer: Option[Tracer] = None
  /** The pass spans of the timed region. */
  val passes = mutable.ArrayBuffer.empty[Span]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  private def now = System.nanoTime()

  /** A timed call into the library. A throwing op is counted as failed and
    * named with its exception class; the run goes on. */
  def op[T](name: String, kind: String)(body: Span => T): Option[T] = {
    tracer.foreach(_.resetHeap())
    val s = spans.open(name, kind)
    val r = try Some(body(s)) catch {
      case e: Throwable =>
        s.ok = false
        System.err.println(s"FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
    spans.close(s)
    tracer.foreach(_.endOp(s))
    r
  }

  /** A declared query: build the DataFrame (timed as build), run it into
    * the noop sink. */
  def query(name: String, dir: String): Option[Unit] = {
    val fn = SparkEntry.queries(name)
    op(name, "query") { s =>
      val t0 = now
      val df = fn(spark, dir)
      s.buildNs = now - t0
      df.write.format("noop").mode("overwrite").save()
    }
  }

  private def session(): SparkSession = {
    val sp = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    sp.sparkContext.setLogLevel("ERROR")
    sp
  }

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  def run(wl: Workload): Int = {
    Files.createDirectories(work)
    val t0 = now
    spark = session()
    spans = new Spans(spark)
    val sessionS = (now - t0) / 1e9
    val g0 = now
    val sizes = wl.generate(this)
    val genS = (now - g0) / 1e9
    if (o.trace) tracer = Some(new Tracer(spark))
    val w0 = now
    wl.warmUp(this)
    val warmS = (now - w0) / 1e9
    val setupS = sessionS + genS + warmS

    val nPasses = if (o.full) 1 else math.max(1, math.round(o.seconds / wl.nominalPassS).toInt)
    val r0 = now
    for (i <- 1 to nPasses) {
      val p = spans.open(s"pass$i", "pass")
      try wl.pass(this) finally spans.close(p)
      passes += p
    }
    val regionS = (now - r0) / 1e9
    val timed = {
      val ids = passes.map(_.id).toSet
      spans.all.toSeq.filter(_.parent.exists(ids))
    }
    val attempted = timed.size

    val checks = wl.check(this)
    val checkFails = checks.collect { case (k, Some(why)) => k -> why }
    checkFails.foreach { case (k, why) => System.err.println(s"CHECK FAILED $k: $why") }
    val layers = tracer.map { t => t.stop(); t.layers(spans.all.toSeq) }

    val wallS = median(passes.map(_.wallS).toSeq)
    val samples = wl.opSamples(this)
    val opP50 = Stats.quantile(samples, 0.5)
    val opP90 = Stats.quantile(samples, 0.9)
    val rate = wl.rate(this, wallS)
    // a timed execution fails when its op threw, or when the op's output
    // check failed (a check named `op:aspect` charges the op)
    val wrong = checkFails.map(_._1.takeWhile(_ != ':')).toSet
    val failedN = timed.count(s => !s.ok || wrong(s.name))
    val failedFrac = failedN.toDouble / math.max(attempted, 1)
    val okOps = timed.count(_.ok)

    val stamp = Stamp.json(this, sizes)
    println(s"""{"stamp":$stamp}""")
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed,
      "passes" -> passes.size, "pass_s" -> passes.map(_.wallS).toSeq,
      "timed_region_s" -> regionS,
      "ops_attempted" -> attempted, "ops_failed" -> failedN,
      "failed_frac" -> failedFrac, "checks" -> checks.size,
      "checks_failed" -> checkFails.map(_._1),
      "ops_threw" -> timed.filterNot(_.ok).map(_.name).distinct,
      "op_samples" -> samples.size, "op_samples_s" -> samples,
      "setup_session_s" -> sessionS, "setup_generate_s" -> genS,
      "setup_warmup_s" -> warmS)
    report ++= extra
    report ++= Stats.named(o.workload, wallS, opP50, opP90, rate, setupS)
    println(s"""{"report":${Json.obj(report.toSeq)}}""")

    val metrics: Seq[(String, Double, String)] = layers match {
      case None => Seq(
        ("setup_s", setupS, "s"), ("wall_s", wallS, "s"),
        ("op_p50_s", opP50, "s"),
        ("work_per_s", rate, "1/s"))
      case Some(ls) =>
        val out = LayerReport.metrics(this, wl, ls)
        LayerReport.write(this, wl, ls, work.resolve(s"trace-seed${o.seed}.json"),
          Seq("wall_s" -> wallS, "op_p50_s" -> opP50, "op_p90_s" -> opP90, "setup_s" -> setupS))
        out
    }
    val correct = failedN == 0
    val m = metrics.map { case (k, v, u) => k -> Json.obj(Seq("value" -> v, "unit" -> u)) }
    println(Json.obj(Seq("correct" -> correct, "attempted" -> math.max(attempted, 1),
      "failed" -> failedN, "metrics" -> Json.Raw(Json.obj(m.map { case (k, v) => k -> Json.Raw(v) })))))
    spark.stop()
    if (okOps <= 0) {
      System.err.println(s"ABORT: no op of ${o.workload} succeeded")
      4
    } else 0
  }

  /** Digest of each query's output on `dir`, or the class of what it threw. */
  def digests(qs: Seq[String], dir: String): Seq[(String, Either[String, Checks.Digest])] =
    qs.map { q =>
      q -> (try Right(Checks.digest(SparkEntry.queries(q)(spark, dir)))
            catch { case e: Throwable => Left(e.getClass.getName) })
    }

  def readExpected(file: String): Map[String, Checks.Digest] =
    Checks.load(bench.resolve("expected").resolve(file))

  def writeExpected(file: String, header: String, m: Seq[(String, Checks.Digest)]): Unit =
    Checks.save(bench.resolve("expected").resolve(file), header, m)

  /** Ops of the timed passes, in order (children of the pass spans). */
  def timedOps(kind: String): Seq[Span] = {
    val ids = passes.map(_.id).toSet
    spans.all.toSeq.filter(s => s.kind == kind && s.parent.exists(ids))
  }
}

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The metrics under the names the workloads are discussed with. */
  def named(w: String, wall: Double, p50: Double, p90: Double, rate: Double,
      setup: Double): Seq[(String, Any)] = {
    val common = Seq("setup_s" -> setup, "wall_s" -> wall)
    common ++ (w match {
      case "declared_suite" => Seq("query_p50_s" -> p50, "query_p90_s" -> p90, "queries_per_s" -> rate)
      case _ => Seq("iter_p50_s" -> p50, "iter_p90_s" -> p90, "edges_per_s" -> rate)
    })
  }
}

/** Minimal JSON writer (no dependency beyond the JDK). */
object Json {
  final case class Raw(s: String)
  def v(x: Any): String = x match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => v(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(v).mkString("[", ",", "]")
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case None => "null"
    case Some(x) => v(x)
    case other => v(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => v(k) + ":" + v(x) }.mkString("{", ",", "}")
}

object Stamp {
  def json(b: Bench, sizes: Seq[(String, Long)]): String = {
    val memKb = try Files.readAllLines(Paths.get("/proc/meminfo")).toArray
      .map(_.toString).find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
      catch { case _: Throwable => 0L }
    val commit = sys.env.getOrElse("GRAFTBENCH_COMMIT", "")
    Json.obj(Seq(
      "nproc" -> b.cpus, "mem_total_mb" -> memKb / 1024,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(a => a.startsWith("-XX") || a.startsWith("-Xm")).toSeq,
      "spark" -> b.spark.version, "commit" -> commit,
      "master" -> s"local[${b.cpus}]",
      "shuffle_partitions" -> b.spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "workload" -> b.o.workload, "seed" -> b.o.seed,
      "inputs" -> Json.Raw(Json.obj(sizes))))
  }
}
