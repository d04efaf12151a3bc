package perfbench

import java.nio.file.{Files, Path}

import scala.util.Try

import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call: wall seconds and the call's outcome. */
final case class Timed[T](seconds: Double, result: Try[T]) {
  def ok: Boolean = result.isSuccess
}

/** What one workload measured in its timed window. `repSeconds` is one
  * repetition of the workload's closed loop, `calls` the latency of every
  * call (query, ETL step, micro-batch) timed in the window. */
final case class Measured(repSeconds: Double, calls: Seq[Double],
    attempted: Int, failed: Int)

/** Shared state of one benchmark run: the session, the run's private
  * directory, and the tracing switch. With tracing on, every timed call
  * runs inside a span and under its own job group, and the Spark and
  * query-execution listeners are registered; with tracing off neither
  * listener exists, so untimed and timed paths cost the same. */
final class Ctx(val spark: SparkSession, val runDir: Path, val benchDir: Path,
    val seed: Long, val tracer: Tracer) {
  val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  val jobs = new LayerListener
  val plans = new PlanListener
  private var tracing = false
  /** Collector seconds spent inside timed windows. */
  var gcInWindow = 0.0

  def traced: Boolean = tracing

  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) { sc.addSparkListener(jobs); spark.listenerManager.register(plans) }
    else {
      PerfbenchShim.drainListenerBus(sc)
      sc.removeSparkListener(jobs); spark.listenerManager.unregister(plans)
    }
    tracing = on
  }

  /** A fresh, empty directory under the run directory. */
  def freshDir(name: String): Path = {
    val d = runDir.resolve(name)
    graft.BenchUtil.deleteRecursively(d.toFile)
    Files.createDirectories(d)
  }

  /** Run `body` as one timed call under job group `group`. Failures are
    * returned, not thrown, and reported on stderr. */
  def time[T](group: String)(body: => T): Timed[T] = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val gc0 = Jvm.gcSeconds()
    val t0 = System.nanoTime()
    val r = Try(if (tracing) tracer.span(group)(body) else body)
    val sec = (System.nanoTime() - t0) / 1e9
    gcInWindow += Jvm.gcSeconds() - gc0
    sc.clearJobGroup()
    r.failed.foreach(e => System.err.println(s"[perfbench] $group failed: $e"))
    Timed(sec, r)
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = if (tracing) PerfbenchShim.drainListenerBus(sc)

  /** Materialize every column of `df` without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
