package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A benchmark-side span around one call into a layer. Times are epoch
  * microseconds; `parent` is -1 for an operation's root span. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startUs: Long, endUs: Long, codegenClasses: Long = 0L, codegenNs: Long = 0L) {
  def durUs: Long = endUs - startUs
}

/** Executor-side totals of the tasks that ran for one span's jobs. */
final class TaskTotals {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  def add(o: TaskTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** Job and task events, keyed by the job group the tracer set for the span
  * that was open when each job started ("span-<id>"). */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long = -1L)
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val totals = new java.util.concurrent.ConcurrentHashMap[String, TaskTotals]()
  val flushed = new AtomicBoolean(false)

  private def tot(g: String): TaskTotals = totals.computeIfAbsent(g, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, g, e.time))
    e.stageIds.foreach(s => stageGroup.put(s, g))
    if (g.startsWith("span-")) tot(g).synchronized { tot(g).jobs += 1 }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) { j.endMs = e.time; if (j.group == "flush") flushed.set(true) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    if (g.startsWith("span-")) tot(g).synchronized { tot(g).stages += 1 }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "")
    val m = e.taskMetrics
    if (g.startsWith("span-") && m != null) {
      val t = tot(g)
      t.synchronized {
        t.tasks += 1; t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Keeps spans in memory while the traced phase runs; nothing is written
  * until the run ends. Disabled, every method is a pass-through, so the
  * plain phase pays no tracing cost. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = -1
  /** Query executions the benchmark forced itself (step 2), by span id. */
  val forced = mutable.ArrayBuffer.empty[(Int, QueryExecution)]
  /** Every executed query, as reported by Spark: (funcName, qe, ns). */
  val executed = new ConcurrentLinkedQueue[(String, QueryExecution, Long)]()
  val exec = new ExecListener

  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (enabled) executed.add((f, qe, ns))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Runs `body` as operation `i`, under a root span of layer `bench`. */
  def op[T](i: Int)(body: => T): T = {
    opId = i
    span("bench", "op")(body)
  }

  /** A span around one call into `layer`; Spark jobs started inside it are
    * attributed to it through the job group. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    stack = id :: stack
    sc.setJobGroup(s"span-$id", name)
    val (c0, n0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val t0 = nowUs
    try body
    finally {
      val t1 = nowUs
      spans += Span(id, parent, opId, layer, name, t0, t1,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, CodeGenerator.compileTime - n0)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-$p", "")
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Step 2 of an operation: force optimisation and physical planning, so
    * the action that follows is execution only. */
  def plan(df: DataFrame): DataFrame = {
    if (enabled) span("sql", "plan") {
      val qe = df.queryExecution
      qe.optimizedPlan; qe.executedPlan
      forced += ((stack.headOption.getOrElse(-1), qe))
    }
    df
  }

  /** Waits until the listener bus has delivered every event posted so far:
    * a marker job's end arrives after all earlier events on the queue. */
  def flush(): Unit = {
    val sc = spark.sparkContext
    exec.flushed.set(false)
    sc.setJobGroup("flush", "flush")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (!exec.flushed.get() && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  /** Job intervals as child spans of the span whose group started them. */
  def jobSpans: Seq[Span] = exec.jobs.values().asScala.toSeq
    .filter(j => j.group.startsWith("span-") && j.endMs >= 0)
    .flatMap { j =>
      val sid = j.group.stripPrefix("span-").toInt
      spans.find(_.id == sid).map(s =>
        Span(-1 - j.id, sid, s.op, "exec", "job", j.startMs * 1000L, j.endMs * 1000L))
    }

  /** Innermost span containing time `us`, if any. */
  def spanAt(us: Long): Option[Span] =
    spans.filter(s => s.startUs <= us && us <= s.endUs).sortBy(_.durUs).headOption
}

object Trace {
  /** A span's duration minus the part its children cover (children are
    * clipped to the parent and their overlaps merged). */
  def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.durUs - covered
  }

  /** File scans of a (possibly adaptive) physical plan, subqueries included. */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  def isWrite(funcName: String): Boolean = funcName == "command" || funcName == "save"
}
