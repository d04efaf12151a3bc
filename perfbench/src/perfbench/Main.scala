package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.BenchUtil

/** Benchmark JVM entry point (launched by `perfbench/run.py`):
  *
  *   run <workload> <seed> <seconds> <trace 0|1> <benchDir> <runDir> <spanFile>
  *   selftest <benchDir> <runDir> <BENCHMARK.json>
  *   expect <benchDir> <runDir> <out.tsv>
  *
  * `run` prints one JSON result line last. With trace 0 it sets up the
  * named workload (inputs prepared, then one untimed checked
  * repetition), measures its closed loop for
  * `seconds`, and prints the end-to-end metrics. With trace 1 it sets up
  * the named workload, measures it untraced and then traced (the two
  * give the tracing overhead), then, traced, takes every
  * layer's metrics (the named workload's from its own decomposition, the
  * other workload's and the streaming layers' from small cold probes)
  * and prints the per-layer metrics; the spans go to `spanFile`. `expect` regenerates the
  * fleet's expected digests and costs.
  */
object Main {
  val Workloads = Seq("ea1141_etl", "query_fleet")

  def session(runDir: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        args.toList match {
          case "run" :: w :: seed :: secs :: trace :: bench :: run :: spans :: Nil =>
            require(Workloads.contains(w), s"unknown workload $w")
            this.run(w, seed.toLong, secs.toInt, trace == "1", Paths.get(bench),
              Paths.get(run), spans)
          case "selftest" :: bench :: run :: spec :: Nil =>
            SelfTest.run(Paths.get(bench), Paths.get(run), Paths.get(spec))
          case "expect" :: bench :: run :: out :: Nil =>
            expect(Paths.get(bench), Paths.get(run), out)
          case other =>
            throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
        }
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  private def workload(name: String, ctx: Ctx): Workload = name match {
    case "ea1141_etl" => new Etl(ctx)
    case "query_fleet" => new Fleet(ctx)
  }

  /** Prepare the inputs, then warm up once. Returns the warm-up's
    * output checks (attempted, failed). */
  private def setUp(name: String, w: Workload): (Int, Int) = {
    log(s"$name: session started")
    w.prepare()
    log(s"$name: inputs prepared")
    val checks = w.warmUp()
    log(s"$name: warmed up")
    checks
  }

  /** Progress line on stderr, stamped with JVM uptime. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${Jvm.uptimeSeconds()}%7.1f s  $msg")

  def run(name: String, seed: Long, seconds: Int, trace: Boolean, benchDir: Path,
      runDir: Path, spanFile: String): Unit = {
    val loadStart = BenchUtil.loadAvg1m()
    val ticks0 = BenchUtil.cpuTicks()
    val spark = session(runDir)
    val tracer = new Tracer(s"$name-seed$seed-${java.util.UUID.randomUUID.toString.take(8)}")
    val ctx = new Ctx(spark, runDir, benchDir, seed, tracer)
    val main = workload(name, ctx)
    main match {
      case f: Fleet => println(s"[perfbench] query_fleet sample: ${f.sample.mkString(" ")}; " +
        s"skipped (need the EA1141 reference archive): ${Fleet.Skipped.mkString(" ")}")
      case _ =>
    }
    val deadline = (s: Double) => System.nanoTime() + (s * 1e9).toLong

    if (!trace) {
      val (checked, wrong) = setUp(name, main)
      // Process start to the first timed call.
      val setupS = Jvm.uptimeSeconds()
      val m = main.measure(deadline(seconds))
      println(f"[perfbench] $name: ${m.calls.size} calls, rep ${m.repSeconds}%.3f s")
      println(Metrics.resultLine(Metrics.EndToEnd, Map(
        "setup_s" -> setupS,
        "rep_s" -> m.repSeconds,
        "call_iqm_s" -> Stats.interquartileMean(m.calls)),
        m.attempted + checked, m.failed + wrong))
    } else {
      val (checked, wrong) = setUp(name, main)
      ctx.gcInWindow = 0
      // Untraced, then traced: the overhead compares the two. Each
      // repetition still runs a little faster than the one before it, so
      // this order reads the overhead low rather than high.
      val plain = main.measure(deadline(seconds / 2.0))
      ctx.setTracing(true)
      val traced = tracer.span(s"$name.measure")(main.measure(deadline(seconds / 2.0)))
      ctx.setTracing(false)
      val gcS = ctx.gcInWindow
      log(s"measured untraced and traced")
      // The other workload's layers and the streaming layers come from
      // small cold probes, so that every traced run reports every layer.
      val probes: Seq[Probe] = Workloads.filterNot(_ == name).map {
        case "ea1141_etl" => new Etl(ctx)
        case "query_fleet" => new Fleet(ctx, size = 2)
      } :+ new Stream(ctx)
      ctx.setTracing(true)
      val layers = tracer.span("layers") {
        val own = main.layers()
        log(s"$name layers")
        val other = probes.flatMap { w => w.prepare(); val l = w.layers(); log(s"probe layers"); l }
        val fns = Micro.functions(ctx, benchDir.resolve("data").resolve("tables").toString)
        log("function layers")
        own ++ other ++ fns ++ Micro.connectedComponents(ctx)
      }
      ctx.setTracing(false)
      tracer.write(spanFile)
      val attempted = checked + plain.attempted + traced.attempted
      val failed = wrong + plain.failed + traced.failed
      println(Metrics.resultLine(Metrics.PerLayer, layers ++ Map(
        "jvm.gc_s" -> gcS,
        "jvm.heap_peak_mb" -> Jvm.heapPeakMb(),
        "host.steal_frac" -> BenchUtil.stealFrac(ticks0, BenchUtil.cpuTicks()),
        "host.load_start" -> loadStart,
        "trace.overhead_frac" -> (traced.repSeconds / plain.repSeconds - 1),
        "e2e.call_p50_s" -> Stats.median(plain.calls),
        "e2e.call_p90_s" -> Stats.percentile(plain.calls, 90),
        "e2e.calls" -> plain.calls.size.toDouble,
        "failed_frac" -> failed.toDouble / attempted), attempted, failed))
    }
    spark.stop()
  }

  /** Regenerate `fleet_expected.tsv`: every query except the skipped
    * ones, run once for its digest (which also warms it up), then timed
    * once through the noop sink (the cost the sample stratifies on). */
  def expect(benchDir: Path, runDir: Path, out: String): Unit = {
    val spark = session(runDir)
    val ctx = new Ctx(spark, runDir, benchDir, 0L, new Tracer("expect"))
    val dir = ctx.freshDir("tables")
    Fleet.copyTree(benchDir.resolve("data").resolve("tables"), dir)
    Fleet.fixtures()
    val fams = Fleet.families
    val names = graft.SparkEntry.queries.keys.toSeq.filterNot(Fleet.Skipped.contains).sorted
    def clean(before: Set[Int]): Unit = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }.values.foreach(_.unpersist(blocking = true))
    val digests = names.map { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val d = Fleet.digest(graft.SparkEntry.queries(q)(spark, dir.toString))
      clean(before)
      q -> d
    }.toMap
    val cost = names.map { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val t = ctx.time(q)(ctx.noop(graft.SparkEntry.queries(q)(spark, dir.toString)))
      t.result.get
      clean(before)
      q -> t.seconds
    }
    val lines = cost.map { case (q, sec) =>
      val (rows, dg) = digests(q)
      f"$q\t${fams(q)}\t$sec%.3f\t$rows\t$dg"
    }
    Files.writeString(Paths.get(out),
      ("query\tfamily\tcost_s\trows\tdigest" +: lines).mkString("", "\n", "\n"))
    spark.stop()
  }
}
