package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `module` names the layer its self time counts
  * towards; `parent` is the index of the span that caused it (-1 for
  * an operation's root span). Times are epoch milliseconds. */
final case class Span(name: String, module: String, start: Double,
    end: Double, parent: Int, op: Int)

/** Splits each operation into the modules it spent time in, from
  * outside the program: spans around the benchmark's own calls, plus
  * Spark's public listener APIs (jobs, tasks, SQL executions, query
  * planning phases, streaming progress) and [[CountingFileSystem]].
  *
  * Listener events arrive asynchronously, so [[begin]] and [[end]]
  * drain the listener bus before they read or reset anything: every
  * event an operation caused is delivered before its record is taken,
  * and none is left over for the next one. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  @volatile private var active = false
  @volatile private var fallback = "other"
  @volatile private var driver: Thread = Thread.currentThread

  // listener-side state for the current operation (several bus threads)
  private val counters = mutable.HashMap.empty[String, Double]
  private val execModule = mutable.LongMap.empty[String]
  private val execStart = mutable.LongMap.empty[(Long, Option[Long])]
  private val stageModule = mutable.HashMap.empty[Int, String]
  private val jobInfo = mutable.HashMap.empty[Int, (Long, String, Option[Long])]
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // SQL execution spans by execution id, with their root execution
  private val execSpans = mutable.LongMap.empty[(Span, Option[Long])]
  // job spans with their SQL execution
  private val jobSpans = mutable.ArrayBuffer.empty[(Span, Option[Long])]

  // benchmark-side spans, all operations (written out at the end)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var opId = -1
  private var opSpan = -1
  private var fs0 = Map.empty[String, Long]

  private def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v

  sc.addSparkListener(this)
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) Tracer.this.synchronized { planned(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      // idle polls report no rows: their count depends on timing
      if (active && e.progress.numInputRows > 0) Tracer.this.synchronized {
        val d = e.progress.durationMs
        streamPhases.foreach { case (phase, name) =>
          Option(d.get(phase)).foreach(v => add(name, v.doubleValue))
        }
      }
  })

  private def planned(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (catalystPhases.contains(phase)) add(s"sql.${phase}_ms", s.durationMs.toDouble)
    }
    val plans = Helper.collectWithSubqueries(qe.executedPlan) { case p => p }
    plans.foreach {
      case s: FileSourceScanExec =>
        s.metrics.get("numFiles").foreach(m => add("sources.files_read", m.value.toDouble))
      case s: BatchScanExec =>
        s.metrics.get("numFiles").foreach(m => add("sources.files_read", m.value.toDouble))
      case p if p.getClass.getName == "graft.plans.GroupedTopKExec" =>
        add("grouped_topk.hits", 1)
      case _ =>
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = if (active) synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execModule(e.executionId) = attribute(e.details)
        execStart(e.executionId) = (e.time, e.rootExecutionId.filter(_ != e.executionId))
      case e: SparkListenerSQLExecutionEnd =>
        execStart.remove(e.executionId).foreach { case (t0, root) =>
          execSpans(e.executionId) = (Span(s"sql ${e.executionId}",
            execModule(e.executionId), t0.toDouble, e.time.toDouble, -1, opId), root)
        }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val module = exec.flatMap(execModule.get).getOrElse(
      attribute(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull))
    e.stageIds.foreach(s => stageModule.getOrElseUpdate(s, module))
    jobInfo(e.jobId) = (e.time, module, exec)
    add("spark.jobs", 1)
    add(s"$module.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) synchronized {
    jobInfo.remove(e.jobId).foreach { case (t0, module, exec) =>
      jobSpans += ((Span(s"job ${e.jobId}", module, t0.toDouble, e.time.toDouble, -1, opId),
        exec))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
    add("spark.tasks", 1)
    taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
      add("spark.gc_ms", m.jvmGCTime.toDouble)
      add("spark.shuffle_bytes", (m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten).toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("spark.result_bytes", m.resultSize.toDouble)
      add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
      add("sources.rows_read", m.inputMetrics.recordsRead.toDouble)
      add(s"${stageModule.getOrElse(e.stageId, fallback)}.task_ms", m.executorRunTime.toDouble)
    }
  }

  /** The module of the first graft frame of a call site. A streaming
    * query pins the call site of all its work to its start() call, so
    * when that names no module, the stack of the thread that submits
    * the jobs (blocked in the job at this moment) is read instead;
    * work with neither counts towards the layer the benchmark calls. */
  private def attribute(callSite: String): String =
    moduleOf(callSite).filter(_ != "other")
      .orElse(moduleOf(driver.getStackTrace.mkString("\n")))
      .getOrElse(fallback)

  /** Starts operation `op`, whose Spark jobs `driver` submits; work
    * [[attribute]] finds no module for counts towards `module`. */
  def begin(op: Int, name: String, module: String, driver: Thread): Unit = {
    PerfbenchBus.drain(sc)
    synchronized {
      counters.clear(); execModule.clear(); execStart.clear(); stageModule.clear()
      jobInfo.clear(); taskIntervals.clear(); execSpans.clear(); jobSpans.clear()
    }
    fallback = module
    this.driver = driver
    opId = op
    fs0 = CountingFileSystem.snapshot()
    opSpan = spans.length
    spans += Span(name, "bench", nowMs, Double.NaN, -1, op)
    active = true
  }

  /** Times a benchmark call into `module` as a child span of the op. */
  def call[A](name: String, module: String)(f: => A): A = {
    val t0 = nowMs
    try f finally spans += Span(name, module, t0, nowMs, opSpan, opId)
  }

  /** Ends the current operation and returns its per-layer record. */
  def end(): Map[String, Double] = {
    val t1 = nowMs
    PerfbenchBus.drain(sc)
    active = false
    val root = spans(opSpan).copy(end = t1)
    spans(opSpan) = root
    val fs1 = CountingFileSystem.snapshot()
    synchronized {
      // parent each listener span: a job under its SQL execution, a
      // nested execution under its root, anything else under the
      // benchmark call span that contains it (else the op span)
      val first = spans.length
      val calls = (opSpan until first).filter(i => spans(i).parent == opSpan)
      def enclosing(s: Span): Int = calls.find(i =>
        spans(i).start <= s.start + 1 && s.end <= spans(i).end + 1).getOrElse(opSpan)
      val idx = mutable.LongMap.empty[Int]
      execSpans.toSeq.sortBy { case (_, (sp, root)) => (root.isDefined, sp.start) }
        .foreach { case (id, (sp, root)) =>
          idx(id) = spans.length
          spans += sp.copy(parent = root.flatMap(idx.get).getOrElse(enclosing(sp)))
        }
      jobSpans.foreach { case (sp, exec) =>
        spans += sp.copy(parent = exec.flatMap(idx.get).getOrElse(enclosing(sp)))
      }
      val busy = union(taskIntervals.map { case (a, b) =>
        (math.max(a.toDouble, root.start), math.min(b.toDouble, t1)) })
      val rec = mutable.HashMap.empty[String, Double] ++ counters
      rec("spark.driver_only_ms") = math.max(0.0, (t1 - root.start) - busy)
      fs1.foreach { case (k, v) => rec(s"fs.$k") = (v - fs0.getOrElse(k, 0L)).toDouble }
      rec("op_ms") = t1 - root.start
      selfTimes(opSpan, spans.length).foreach { case (m, v) => rec(s"self.$m") = v }
      rec.toMap
    }
  }

  /** Self time by module over spans [from, until): each span's duration
    * minus the part of it its child spans cover. */
  def selfTimes(from: Int, until: Int): Map[String, Double] = {
    val kids = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
    (from until until).foreach { i =>
      val p = spans(i).parent
      if (p >= 0) kids.getOrElseUpdate(p, mutable.ArrayBuffer.empty) +=
        ((math.max(spans(i).start, spans(p).start), math.min(spans(i).end, spans(p).end)))
    }
    (from until until).map { i =>
      val s = spans(i)
      s.module -> math.max(0.0, (s.end - s.start) - union(kids.getOrElse(i, Nil)))
    }.groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).sum }
  }

  def spansJson: String = Json.arr(spans.map(s => Json.obj(Seq(
    "name" -> Json.str(s.name), "module" -> Json.str(s.module),
    "start" -> Json.num(s.start), "end" -> Json.num(s.end),
    "parent" -> s.parent.toString, "op" -> s.op.toString))))
}

object Tracer {
  private object Helper extends AdaptiveSparkPlanHelper

  private val catalystPhases = Set("analysis", "optimization", "planning")
  private val streamPhases = Seq("latestOffset" -> "stream.latest_offset_ms",
    "queryPlanning" -> "stream.query_planning_ms", "addBatch" -> "stream.add_batch_ms",
    "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms")

  /** graft source file -> module name of the per-layer metrics. */
  val modules: Map[String, String] = Map(
    "Unify.scala" -> "unify", "QualityScorer.scala" -> "unify",
    "Curation.scala" -> "curation", "Dedup.scala" -> "dedup",
    "MergeOps.scala" -> "mergeops", "EventQueries.scala" -> "eventqueries",
    "AnnIndex.scala" -> "annindex", "Similarity.scala" -> "similarity")

  // "graft.x.Y.m(Y.scala:1)", with a class loader prefix ("app//")
  // when read from a live thread
  private val frame = """^\s*(?:\S*/)?graft\.[\w.$]+\(([\w.]+):\d+\)""".r

  /** Module of the first `graft.*` frame of a call site, if any. */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).flatMap(_.split("\n").iterator.collectFirst {
      case frame(file) => modules.getOrElse(file, "other")
    })

  /** Total length of the union of intervals (empty ones ignored). */
  def union(xs: Iterable[(Double, Double)]): Double = {
    var total, curA, curB = 0.0
    var open = false
    xs.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }
}
