package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work the listeners counted while one span was the innermost open span. */
final class Work {
  var jobs, stages, tasks, tasksFailed = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var scanRows, cacheScanRows, exchanges, broadcastExchanges = 0L

  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksFailed += o.tasksFailed
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; waitMs += o.waitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    scanRows += o.scanRows; cacheScanRows += o.cacheScanRows
    exchanges += o.exchanges; broadcastExchanges += o.broadcastExchanges
    this
  }
}

/** A benchmark span (a call from the benchmark into one layer) or, with
  * layer "spark", a Spark job that ran inside one. Times are nanoTime.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      start: Long, var end: Long = -1L)

/** In-memory span recorder plus the listeners that count the work each span
  * caused. While stopped, `span` only runs its body and no listener is
  * registered, so untraced runs carry no tracing cost.
  *
  * Attribution: the listener bus is drained whenever a span opens or
  * closes, so every job, task and finished query is delivered while the span
  * that caused it is still the innermost open one. A job keeps the span that
  * was open when it started; its stages and tasks follow the job.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = t0Ns + (ms - t0Ms) * 1000000L

  private val spans = mutable.ArrayBuffer[Span]()
  private val work = mutable.HashMap[Int, Work]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val stageSubmitted = mutable.HashMap[Int, Long]()
  /** job span id → engine job description (`frontier:r<N>:<phase>` etc.) */
  private val jobDesc = mutable.HashMap[Int, String]()
  private val jobSpanOf = mutable.HashMap[Int, Int]()
  private var blockedNs = 0L
  private var open: List[Span] = Nil
  @volatile private var current = -1
  private var active = false

  def on: Boolean = active

  /** Nanoseconds the calling thread has spent waiting in listener-bus
    * drains: the time tracing adds to the traced code's critical path.
    */
  def blocked: Long = blockedNs

  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      drain()
      val s = lock(addSpan(open.headOption.fold(-1)(_.id), layer, name, System.nanoTime()))
      open = s :: open
      current = s.id
      try body
      finally {
        drain()
        s.end = System.nanoTime()
        open = open.tail
        current = open.headOption.fold(-1)(_.id)
      }
    }

  def start(): Unit = if (!active) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    active = true
  }

  def stop(): Unit = if (active) {
    drain()
    active = false
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
  }

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    BenchBridge.drainListeners(sc)
    blockedNs += System.nanoTime() - t0
  }
  private def lock[T](body: => T): T = synchronized(body)
  private def addSpan(parent: Int, layer: String, name: String, start: Long): Span = {
    val s = Span(spans.size, parent, layer, name, start)
    spans += s
    s
  }
  private def workOf(spanId: Int): Work = work.getOrElseUpdate(spanId, new Work)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      val js = addSpan(current, "spark", s"job ${e.jobId}", msToNs(e.time))
      jobSpanOf(e.jobId) = js.id
      desc.foreach(jobDesc(js.id) = _)
      e.stageIds.foreach(stageSpan(_) = current)
      workOf(current).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobSpanOf.remove(e.jobId).foreach(id => spans(id).end = msToNs(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock {
      stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
      workOf(stageSpan.getOrElse(e.stageInfo.stageId, current)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val w = workOf(stageSpan.getOrElse(e.stageId, current))
      w.tasks += 1
      if (e.taskInfo.failed) w.tasksFailed += 1
      stageSubmitted.get(e.stageId).foreach(s => w.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      var rows, cached, exchanges, broadcasts = 0L
      graft.PlanScan.foreachFileScan(qe.executedPlan) { s =>
        rows += s.metrics.get("numOutputRows").fold(0L)(_.value)
      }
      walk(qe.executedPlan) {
        case s: InMemoryTableScanExec => cached += s.metrics.get("numOutputRows").fold(0L)(_.value)
        case _: ShuffleExchangeLike => exchanges += 1
        case _: BroadcastExchangeLike => broadcasts += 1
        case _ => ()
      }
      lock {
        val w = workOf(current)
        w.scanRows += rows; w.cacheScanRows += cached
        w.exchanges += exchanges; w.broadcastExchanges += broadcasts
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Every node of an executed plan, through AQE's final plan and its
    * materialized query stages (the same traversal as `graft.PlanScan`).
    */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p.foreach { n =>
    f(n)
    n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ => ()
    }
  }

  // ---- reading the trace (after `stop`) ----

  def all: Seq[Span] = lock(spans.toList)

  def children(id: Int): Seq[Span] = all.filter(_.parent == id)

  /** Spans of one layer/name, optionally only below `root`. */
  def find(layer: String, name: String, root: Option[Int] = None): Seq[Span] =
    all.filter(s => s.layer == layer && s.name == name && root.forall(r => under(s, r)))

  def under(s: Span, root: Int): Boolean = {
    var p = s.id
    while (p >= 0 && p != root) p = spans(p).parent
    p == root
  }

  /** Work caused by `id` and every span below it. */
  def workBelow(id: Int): Work = lock {
    val total = new Work
    spans.iterator.filter(s => s.layer != "spark" && under(s, id))
      .foreach(s => work.get(s.id).foreach(total.add))
    total
  }

  /** The engine's own description of job span `id`, if it set one. */
  def descOf(id: Int): Option[String] = lock(jobDesc.get(id))

  def seconds(s: Span): Double = (s.end - s.start) / 1e9

  /** Length of the union of `[start, end)` intervals clipped to `within`. */
  def cover(ivs: Seq[(Long, Long)], within: Span): Long = {
    var total, hi = 0L
    var started = false
    ivs.map { case (a, b) => (math.max(a, within.start), math.min(b, within.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (!started || a > hi) { total += b - a; hi = b; started = true }
        else if (b > hi) { total += b - hi; hi = b }
      }
    total
  }

  /** Self time per layer below `root`, in seconds: a span's duration minus
    * what its children cover. Spark jobs are leaves; the "spark" entry is the
    * union of the job intervals under each span, so the entries add up to
    * the root's duration.
    */
  def selfSeconds(root: Int): Map[String, Double] = {
    val below = all.filter(s => under(s, root) && s.end >= s.start)
    val kids = below.groupBy(_.parent)
    val acc = mutable.Map[String, Long]().withDefaultValue(0L)
    below.filter(_.layer != "spark").foreach { s =>
      val ch = kids.getOrElse(s.id, Nil)
      val covered = cover(ch.map(c => (c.start, c.end)), s)
      acc(s.layer) += (s.end - s.start) - covered
      acc("spark") += cover(ch.filter(_.layer == "spark").map(c => (c.start, c.end)), s)
    }
    acc.map { case (k, v) => k -> v / 1e9 }.toMap
  }

  /** Writes every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val desc = descOf(s.id).fold("")(d => s""","desc":"${Json.escape(d)}"""")
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.escape(s.name)}",""" +
        s""""start_ns":${s.start - t0Ns},"end_ns":${s.end - t0Ns}$desc}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
