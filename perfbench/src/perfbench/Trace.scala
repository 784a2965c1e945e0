package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch microseconds with nanoTime resolution. */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def us: Long = epoch0 + (System.nanoTime() - nano0) / 1000L
}

/** One timed interval. `trace` is the id of the root span of its batch
  * or page; `parent` is 0 for a root. Job spans are built from the
  * engine listener's job intervals. `adopts` marks a span that takes the
  * untagged engine events that happen while it is open. */
final class Span(val id: Long, val trace: Long, val parent: Long,
    val name: String, val layer: String, val start: Long, var end: Long,
    val thread: String, val adopts: Boolean = false) {
  def durMs: Double = (end - start) / 1000.0
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out at once; while `enabled` is off (untraced runs, and
  * set-up and warm-up of traced ones) every call is a plain pass-through.
  *
  * Spark jobs are attributed to spans through a thread-local job
  * property ([[Tracer.SpanKey]]), so concurrent clients stay apart. Jobs
  * started on threads the benchmark does not own (the streaming query's
  * execution thread) carry no such property; the listener keeps them
  * apart with their event time, and [[TraceReport]] gives them to the
  * adopting span whose interval holds that time. The ingest loop has one
  * batch in flight at a time, so that attribution is exact. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]

  def newId(): Long = ids.incrementAndGet()

  /** Id of the innermost open span on this thread (0 if none). */
  def current: Long = stack.get.headOption.map(_.id).getOrElse(0L)

  def span[T](name: String, layer: String, adoptsUntagged: Boolean = false)(
      body: => T): T = {
    if (!enabled) return body
    val outer = stack.get
    val id = newId()
    val s = new Span(id, outer.headOption.map(_.trace).getOrElse(id),
      outer.headOption.map(_.id).getOrElse(0L), name, layer, Clock.us, 0L,
      Thread.currentThread.getName, adoptsUntagged)
    val prevProp = sc.getLocalProperty(Tracer.SpanKey)
    stack.set(s :: outer)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    try body
    finally {
      s.end = Clock.us
      spans.add(s)
      stack.set(outer)
      sc.setLocalProperty(Tracer.SpanKey, prevProp)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Per-span counters from Spark's public listener events: jobs, stages
  * and tasks with their executor metrics, and per finished SQL
  * execution its planning phases, graft's own optimizer rules, file
  * scans and file writes.
  *
  * Events run on the listener bus, after the fact. A job or execution
  * without a span property gets a negative key of its own, with the time
  * it was posted in [[untagged]]; [[TraceReport]] maps those keys to
  * spans once the run is over. */
final class EngineListener extends SparkListener {
  import EngineListener.JobRec

  val jobs = new ConcurrentHashMap[Int, JobRec]
  /** Negative key of an untagged job or execution → its event time (µs). */
  val untagged = new ConcurrentHashMap[Long, Long]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val execSpan = new ConcurrentHashMap[Long, Long]
  private val counters = new ConcurrentHashMap[Long, mutable.Map[String, Double]]

  private def add(span: Long, key: String, v: Double): Unit = {
    val m = counters.computeIfAbsent(span, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(key) = m.getOrElse(key, 0.0) + v }
  }

  def countersOf(span: Long): Map[String, Double] =
    Option(counters.get(span)).map(m => m.synchronized(m.toMap))
      .getOrElse(Map.empty)

  private def untaggedKey(key: Long, timeMs: Long): Long = {
    untagged.put(key, timeMs * 1000L)
    key
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(untaggedKey(-1L - e.jobId, e.time))
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time * 1000L, 0L))
    e.stageIds.foreach(stageSpan.put(_, span))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execSpan.putIfAbsent(x.toLong, span))
    add(span, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageSpan.getOrDefault(e.stageInfo.stageId, 0L), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    add(span, "tasks", 1)
    if (m != null) {
      add(span, "executor_run_ms", m.executorRunTime.toDouble)
      add(span, "executor_cpu_ms", m.executorCpuTime / 1e6)
      add(span, "gc_ms", m.jvmGCTime.toDouble)
      add(span, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(span, "spill_mem_bytes", m.memoryBytesSpilled.toDouble)
      add(span, "spill_disk_bytes", m.diskBytesSpilled.toDouble)
      add(span, "input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val span =
        if (execSpan.containsKey(end.executionId)) execSpan.get(end.executionId)
        else untaggedKey(-(1L << 40) - end.executionId, end.time)
      // the QueryExecution rides on the event but is not part of its
      // public Scala signature
      val qe = try end.getClass.getMethod("qe").invoke(end)
          .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
        catch { case _: Throwable => null }
      if (qe != null) recordExecution(span, qe)
    case _ =>
  }

  private def recordExecution(span: Long,
      qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    add(span, "analysis_ms", phase("analysis"))
    add(span, "optimizer_ms", phase("optimization"))
    add(span, "physical_ms", phase("planning"))
    qe.tracker.rules.foreach { case (name, r) =>
      if (EngineListener.graftRules.exists(name.endsWith)) {
        add(span, "rule_ms", r.totalTimeNs / 1e6)
        add(span, "rule_effective", r.numEffectiveInvocations.toDouble)
      }
    }
    val plan = try qe.executedPlan catch { case _: Throwable => null }
    if (plan != null) walk(span, plan)
  }

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  private def walk(span: Long, p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(span, a.executedPlan)
      case q: QueryStageExec => walk(span, q.plan)
      case s: FileSourceScanExec =>
        val paths = s.relation.location.rootPaths.map(_.toString)
        add(span, "files_read", metric(s, "numFiles"))
        if (paths.exists(_.contains("/bronze")))
          add(span, "bronze_bytes_read", metric(s, "filesSize"))
        if (paths.exists(_.contains("/observations/")))
          add(span, "obs_rows_read", metric(s, "numOutputRows"))
      case w: DataWritingCommandExec =>
        val m = w.cmd.metrics
        def v(k: String) = m.get(k).map(_.value.toDouble).getOrElse(0.0)
        add(span, "files_written", v("numFiles"))
        add(span, "bytes_written", v("numOutputBytes"))
        w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand
              if i.outputPath.toString.contains("/observations/") =>
            add(span, "obs_rows_written", v("numOutputRows"))
            add(span, "obs_bytes_written", v("numOutputBytes"))
          case _ =>
        }
      case _ =>
    }
    p.children.foreach(walk(span, _))
    p.subqueries.foreach(walk(span, _))
  }
}

object EngineListener {
  final case class JobRec(id: Int, span: Long, start: Long, var end: Long)

  /** graft's own Catalyst rules (graft.plans). */
  val graftRules = Seq("WindowTopKRewrite", "TopKJoinPushdown",
    "FilterThroughTopK", "MergeFilterPushdown")
}

/** Structured Streaming progress, one entry per micro-batch. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

/** Turns recorded spans and listener counters into the trace file, the
  * self-time report and per-root roll-ups. */
final class TraceReport(tracer: Tracer, engine: EngineListener) {
  private val user = tracer.spans.asScala.toSeq

  /** Untagged key → the adopting span open at its event time. Event
    * times have millisecond resolution, hence the 1 ms slack. */
  private val owner: Map[Long, Long] = {
    val hosts = user.filter(_.adopts).sortBy(_.start)
    engine.untagged.asScala.toSeq.flatMap { case (k, t) =>
      hosts.find(s => s.start - 1000 <= t && t <= s.end).map(k -> _.id)
    }.toMap
  }
  private val ownedKeys: Map[Long, Seq[Long]] =
    owner.toSeq.groupBy(_._2).map { case (s, ks) => s -> ks.map(_._1) }

  val spans: Seq[Span] = {
    val byId = user.map(s => s.id -> s).toMap
    val jobSpans = engine.jobs.values.asScala.toSeq.filter(_.end > 0)
      .flatMap(j => byId.get(owner.getOrElse(j.span, j.span)).map { p =>
        new Span(tracer.newId(), p.trace, p.id, "job", "engine", j.start, j.end, "dag")
      })
    (user ++ jobSpans).sortBy(_.start)
  }
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Length of the union of intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total += curE - curS
    total / 1000.0
  }

  /** Span duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }
    s.durMs - (if (kids.isEmpty) 0.0 else unionMs(kids))
  }

  /** Wall time of `root` not covered by any Spark job in its subtree. */
  def driverOnlyMs(root: Span): Double = {
    val jobIv = subtree(root).filter(_.name == "job")
      .map(j => (math.max(j.start, root.start), math.min(j.end, root.end)))
      .filter { case (a, b) => b > a }
    root.durMs - (if (jobIv.isEmpty) 0.0 else unionMs(jobIv))
  }

  /** Listener counters of `s` and all its descendants. */
  def rolled(s: Span): Map[String, Double] =
    subtree(s).flatMap(x => x.id +: ownedKeys.getOrElse(x.id, Nil))
      .map(engine.countersOf).foldLeft(Map.empty[String, Double]) {
      (acc, m) => m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }

  /** (layer, name) → (count, total ms, self ms). */
  def selfTable: Seq[(String, String, Int, Double, Double)] =
    spans.groupBy(s => (s.layer, s.name)).toSeq.map { case ((l, n), ss) =>
      (l, n, ss.size, ss.map(_.durMs).sum, ss.map(selfMs).sum)
    }.sortBy(r => (r._1, r._2))

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s => Json.obj("trace" -> s.trace, "id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_us" -> s.start, "end_us" -> s.end,
      "self_us" -> math.round(selfMs(s) * 1000), "thread" -> s.thread))
    java.nio.file.Files.write(path, lines.asJava)
  }
}
