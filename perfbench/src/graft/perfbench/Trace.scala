package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine work attributed to one span. */
final class EngineStats {
  var taskCpuNs, gcMs, inputBytes, shuffleWriteBytes, spillBytes, stages, tasks,
    planningMs, triggers, commitMs, stateCommitMs, stateRows: Long = 0L

  def add(o: EngineStats): Unit = {
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    stages += o.stages; tasks += o.tasks; planningMs += o.planningMs
    triggers += o.triggers; commitMs += o.commitMs
    stateCommitMs += o.stateCommitMs; stateRows += o.stateRows
  }

  def toMap: Map[String, Any] = Map(
    "task_cpu_s" -> taskCpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "input_bytes" -> inputBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "stages" -> stages, "tasks" -> tasks,
    "planning_s" -> planningMs / 1e3, "triggers" -> triggers,
    "commit_ms" -> commitMs, "state_commit_ms" -> stateCommitMs,
    "state_rows" -> stateRows)
}

/** One call into a layer, made from the benchmark's own code. */
final class Span(val id: Long, val name: String, val parent: Option[Span],
    val pass: Int, val start: Long) {
  val trace: Long = parent.map(_.trace).getOrElse(id)
  @volatile var end: Long = 0L
  val stats = new EngineStats
  def wallS: Double = (end - start) / 1e9
}

/** Spans around layer calls plus the three listeners that attribute the
  * engine's events to them, registered once per session.
  *
  * Attribution never uses timestamps:
  *  - every span sets the job group `perfbench-<span id>` on the calling
  *    thread, so its jobs, stages and SQL executions carry the span id;
  *  - a streaming query's micro-batch jobs run under the job group
  *    `<runId>`, and `onQueryStarted` runs synchronously inside
  *    `start()` on the caller's thread, so the runId is bound to the span
  *    open on that thread at that moment;
  *  - planning phases arrive per `QueryExecution`; the execution-end
  *    event carries the same object with its SQL execution id, whose job
  *    group was announced at execution start. The two events reach
  *    their listeners in either order, so whichever comes first waits in
  *    an identity map for the other.
  *
  * When `active` is false (the untraced passes of a traced run) spans do
  * nothing and the listeners ignore events; it is flipped only between
  * passes, after the listener bus has drained.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0L)
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val byRunId = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()
  private val byExec = new ConcurrentHashMap[Long, Span]()
  private val planMs = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private val endedExec = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  val spans = ArrayBuffer.empty[Span]
  @volatile var active = false
  /** The benchmark pass the next spans belong to. */
  @volatile var pass = 0
  @volatile private var current: Option[Span] = None

  val unattributedStages = new AtomicLong(0L)
  val unattributedProgress = new AtomicLong(0L)
  val unattributedPlans = new AtomicLong(0L)

  private val Prefix = "perfbench-"

  private def spanOfGroup(group: String): Option[Span] =
    if (group == null) None
    else if (group.startsWith(Prefix)) Option(byId.get(group.drop(Prefix.length).toLong))
    else Option(byRunId.get(group))

  def span[A](name: String)(body: => A): A = {
    if (!active) return body
    val s = new Span(ids.incrementAndGet(), name, current, pass, System.nanoTime())
    byId.put(s.id, s)
    spans.synchronized(spans += s)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prev = current
    current = Some(s)
    sc.setJobGroup(Prefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      current = prev
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
    }
  }

  /** Delivers every event posted so far to the listeners. Planning
    * phases still waiting for their execution then count as unattributed.
    */
  def drain(): Unit = {
    PerfbenchBus.drain(sc)
    planMs.synchronized {
      unattributedPlans.addAndGet(planMs.size)
      planMs.clear(); endedExec.clear()
    }
  }

  private def attributePlan(exec: Long, ms: Long): Unit = {
    val s = byExec.get(exec)
    if (s == null) unattributedPlans.incrementAndGet()
    else s.stats.synchronized(s.stats.planningMs += ms)
  }

  /** A span's own stats plus those of every span below it. */
  def inclusive(s: Span): EngineStats = {
    val out = new EngineStats
    out.add(s.stats)
    spans.synchronized(spans.toList).filter(_.parent.contains(s))
      .foreach(c => out.add(inclusive(c)))
    out
  }

  /** Wall time of `s` not covered by its child spans. */
  def selfS(s: Span): Double = {
    val kids = spans.synchronized(spans.toList).filter(_.parent.contains(s))
      .map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    ((s.end - s.start) - covered) / 1e9
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val s = spanOfGroup(Option(e.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull)
      s.foreach(span => e.stageIds.foreach(id => byStage.put(id, span)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      val s = byStage.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.stats.synchronized {
        s.stats.taskCpuNs += m.executorCpuTime
        s.stats.gcMs += m.jvmGCTime
        s.stats.inputBytes += m.inputMetrics.bytesRead
        s.stats.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.stats.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.stats.tasks += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val s = byStage.get(e.stageInfo.stageId)
      if (s == null) unattributedStages.incrementAndGet()
      else s.stats.synchronized(s.stats.stages += 1)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if active =>
        x.jobGroupId.flatMap(spanOfGroup).foreach(s => byExec.put(x.executionId, s))
      case x: SparkListenerSQLExecutionEnd if active =>
        val qe = PerfbenchSql.queryExecution(x)
        if (qe != null) planMs.synchronized {
          val ms = planMs.remove(qe)
          if (ms != null) attributePlan(x.executionId, ms)
          else endedExec.put(qe, x.executionId)
        }
      case _ =>
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (active) current.foreach(s => byRunId.put(e.runId.toString, s))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) {
        val p = e.progress
        val s = byRunId.get(p.runId.toString)
        if (s == null) unattributedProgress.incrementAndGet()
        else s.stats.synchronized {
          val d = p.durationMs
          def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          s.stats.triggers += 1
          s.stats.commitMs += ms("walCommit") + ms("commitOffsets")
          s.stats.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
          // rows held after this trigger; the last trigger's count stands
          if (p.stateOperators.nonEmpty)
            s.stats.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (active) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      planMs.synchronized {
        val exec = endedExec.remove(qe)
        if (exec != null) attributePlan(exec, ms) else planMs.put(qe, ms)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  sc.addSparkListener(sparkListener)
  spark.streams.addListener(queryListener)
  spark.listenerManager.register(planListener)

  def spansJson: Seq[Map[String, Any]] = spans.synchronized(spans.toList).map { s =>
    Map("id" -> s.id, "name" -> s.name, "pass" -> s.pass, "parent" -> s.parent.map(_.id).getOrElse(0L),
      "trace" -> s.trace, "start_ns" -> s.start, "end_ns" -> s.end,
      "wall_s" -> s.wallS, "self_s" -> selfS(s), "engine" -> s.stats.toMap)
  }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
