package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the library. `tag` is the value of the
  * [[Trace.SpanKey]] local property while the span is open; jobs, stages
  * and tasks carry it, so the listener attributes them to the op exactly.
  * Query-planning events carry no local properties and are attributed by
  * time instead (the driver runs one op at a time). */
final class Span(val id: Int, val name: String, val kind: String,
    val parent: Option[Int], val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  /** Time inside the library call before it returned a DataFrame. */
  var buildNs: Long = 0L
  var ok: Boolean = true
  def wallS: Double = (endNs - startNs) / 1e9
  def tag: String = id.toString
}

/** Per-span counters, filled by [[Tracer]] (traced runs only). */
final class Layer {
  var analysisMs, optimizationMs, physicalMs = 0L
  var executions, jobs, stages, tasks = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Wall-clock intervals (ms) of the Catalyst phases attributed here. */
  val planIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var runMs, cpuNs, gcMs, deserMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spillMem, spillDisk = 0L
  var peakExec = 0L
  var heapPeak = 0L
  val persisted = mutable.Set.empty[Int]
  var liveAfter = 0
  var liveBytesAfter = 0L

  /** Union of the span's job intervals, seconds. */
  def jobWallS: Double = Intervals.length(jobIntervals.toSeq) / 1e3
}

/** Millisecond intervals `(start, end)`. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def length(xs: Seq[(Long, Long)]): Long = union(xs).map { case (s, e) => e - s }.sum

  /** Length of the time covered by both `a` and `b`. */
  def overlap(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long = {
    val ub = union(b)
    union(a).map { case (s, e) =>
      ub.map { case (s2, e2) => math.max(0L, math.min(e, e2) - math.max(s, s2)) }.sum
    }.sum
  }
}

object Trace {
  val SpanKey = "graftbench.span"
  val MB = 1024.0 * 1024.0
}

/** The span store. Untraced runs still keep spans (their timings are the
  * end-to-end metrics); only a traced run installs the listeners. */
final class Spans(spark: SparkSession) {
  private val sc = spark.sparkContext
  val all = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def open(name: String, kind: String): Span = {
    val s = new Span(all.size, name, kind, stack.headOption.map(_.id),
      System.nanoTime(), System.currentTimeMillis())
    all += s
    stack.push(s)
    sc.setLocalProperty(Trace.SpanKey, s.tag)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    require(stack.top eq s, s"span ${s.name} closed out of order")
    stack.pop()
    sc.setLocalProperty(Trace.SpanKey, stack.headOption.map(_.tag).orNull)
  }
}

/** SparkListener + QueryExecutionListener registered by the benchmark. */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val byTag = mutable.Map.empty[String, Layer]
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobTag = mutable.Map.empty[Int, (String, Long)]
  /** Per execution: latest phase start, analysis, optimization and
    * physical planning ms, and the phases' wall-clock intervals. */
  private val plans = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Seq[(Long, Long)])]
  @volatile private var heapMax = 0L
  @volatile private var sampling = true

  private def layer(tag: String): Layer = byTag.getOrElseUpdate(tag, new Layer)
  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Trace.SpanKey))).getOrElse("-")

  sc.addSparkListener(this)
  spark.listenerManager.register(this)
  private val heap = ManagementFactory.getMemoryMXBean
  private val sampler = new Thread(() => {
    while (sampling) {
      val u = heap.getHeapMemoryUsage.getUsed
      if (u > heapMax) heapMax = u
      Thread.sleep(5)
    }
  }, "graftbench-heap")
  sampler.setDaemon(true)
  sampler.start()

  /** Called when an op starts and after it ends (on the driver thread). */
  def resetHeap(): Unit = heapMax = heap.getHeapMemoryUsage.getUsed
  def endOp(s: Span): Unit = {
    org.apache.spark.graftbench.Bus.drain(sc)
    val l = synchronized(layer(s.tag))
    l.heapPeak = heapMax
    val persistent = sc.getPersistentRDDs
    l.liveAfter = persistent.size
    l.liveBytesAfter = sc.getRDDStorageInfo
      .filter(i => persistent.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
  }

  def stop(): Unit = {
    sampling = false
    sampler.join()
    org.apache.spark.graftbench.Bus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = tagOf(e.properties)
    jobTag(e.jobId) = (t, e.time)
    layer(t).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (t, start) =>
      layer(t).jobIntervals += ((start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val t = tagOf(e.properties)
    stageTag(e.stageInfo.stageId) = t
    val l = layer(t)
    l.stages += 1
    e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach(r => l.persisted += r.id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val l = layer(stageTag.getOrElse(e.stageId, "-"))
    l.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      l.runMs += m.executorRunTime
      l.cpuNs += m.executorCpuTime
      l.gcMs += m.jvmGCTime
      l.deserMs += m.executorDeserializeTime
      l.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      l.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      l.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      l.spillMem += m.memoryBytesSpilled
      l.spillDisk += m.diskBytesSpilled
      l.peakExec = math.max(l.peakExec, m.peakExecutionMemory)
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val at = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).max
    val iv = ph.values.map(p => (p.startTimeMs, p.startTimeMs + p.durationMs)).toSeq
    synchronized(plans += ((at, ms("analysis"), ms("optimization"), ms("planning"), iv)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  /** Layer counters of every span, planning events attributed to the
    * innermost span whose interval holds them. Call after [[stop]]. */
  def layers(all: Seq[Span]): Map[Int, Layer] = synchronized {
    for ((at, a, o, p, iv) <- plans) {
      val hit = all.filter(s => s.startMs <= at && at <= s.endMs)
      if (hit.nonEmpty) {
        val l = layer(hit.maxBy(_.startNs).tag)
        l.analysisMs += a; l.optimizationMs += o; l.physicalMs += p; l.executions += 1
        l.planIntervals ++= iv
      }
    }
    all.map(s => s.id -> byTag.getOrElse(s.tag, new Layer)).toMap
  }
}
