package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of a traced run. Times are nanoseconds since the run
  * started; `parent` is the id of the enclosing span, -1 at top level. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, runId: String)

/** In-memory span recorder. Spans nest by call structure (a span opened
  * inside another one is its child) and are written out once, as JSON
  * lines, when the run ends. */
final class Tracer(val runId: String) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = System.nanoTime() - t0
    try body
    finally {
      stack = stack.tail
      spans += Span(id, name, start, System.nanoTime() - t0, parent, runId)
    }
  }

  def write(path: String): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"run":${Json.str(s.runId)}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** Task-level totals of the Spark jobs one call ran. */
final class JobStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L

  def +=(o: JobStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; bytesRead += o.bytesRead
  }
}

/** Collects job, stage and task metrics per job group (the benchmark sets
  * one job group per timed call). */
final class LayerListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, JobStats]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def stats(g: String) = byGroup.getOrElseUpdate(g, new JobStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    stats(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.bytesRead += m.inputMetrics.bytesRead
      }
    }
  }

  /** Remove and return the totals of one job group. */
  def take(group: String): JobStats = synchronized {
    byGroup.remove(group).getOrElse(new JobStats)
  }
}

/** Planning phases and exchange counts of every query execution that
  * reported since the last [[take]]. */
final class PlanListener extends QueryExecutionListener {
  private var planMs = 0L
  private var exchanges = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val ex = countExchanges(qe.executedPlan)
    synchronized { planMs += ms; exchanges += ex }
  }

  private def countExchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
    case s: QueryStageExec => countExchanges(s.plan)
    case c: CommandResultExec => countExchanges(c.commandPhysicalPlan)
    case e: ShuffleExchangeLike => 1 + e.children.map(countExchanges).sum
    case other => (other.children ++ other.subqueries).map(countExchanges).sum
  }

  /** (planning seconds, shuffle exchanges) since the previous call. */
  def take(): (Double, Long) = synchronized {
    val r = (planMs / 1e3, exchanges)
    planMs = 0; exchanges = 0
    r
  }
}

/** JVM-wide counters: collector time and heap high-water mark. */
object Jvm {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Sum of the heap pools' peak usage, in MiB. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Seconds since this JVM started. */
  def uptimeSeconds(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
