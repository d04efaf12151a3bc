package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry

/** `query_fleet`: a seeded sample of `SparkEntry.queries` over the fixed
  * tables in `perfbench/data/tables`, one query at a time, each built by
  * `fn(spark, dir)` and materialized through the `noop` sink.
  *
  * The sample takes one query from each of [[Fleet.Tiers]] cost tiers
  * (costs are listed in `perfbench/data/fleet_expected.tsv`), so every
  * seed mixes sub-second queries dominated by construction and planning
  * with the checkpoint- and shuffle-heavy graph, dedup and similarity
  * queries, and the pass time varies little between seeds. The untimed
  * warm-up builds the fixture trees and checks every sampled query's
  * output; the timed pass runs each query a second time. */
final class Fleet(ctx: Ctx, size: Int = Fleet.Tiers) extends Workload {
  import ctx.{sc, spark}

  private val queries = SparkEntry.queries
  val expected: Seq[Fleet.Expect] = Fleet.readExpected(ctx.benchDir)
  val sample: IndexedSeq[String] = Fleet.sample(expected, ctx.seed).take(size)
  private var dataDir: String = _
  private var tracedPass: Option[Map[String, Double]] = None

  def prepare(): Unit = {
    val dir = ctx.freshDir("fleet").resolve("tables")
    Fleet.copyTree(ctx.benchDir.resolve("data").resolve("tables"), dir)
    dataDir = dir.toString
    graft.Tables.documentsSpread(spark, dataDir)
  }

  /** Drop the RDDs a query persisted (its checkpoints), outside any
    * timed window; returns how many there were. */
  private def unpersistNew(before: Set[Int]): Int = {
    val fresh = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    fresh.values.foreach(_.unpersist(blocking = true))
    fresh.size
  }

  /** Untimed pass: build every sampled query and compare its row count
    * and order-insensitive digest with the expected ones. */
  def warmUp(): (Int, Int) = {
    Fleet.fixtures()
    (sample.size, sample.count(q => !check(q)))
  }

  private def check(q: String): Boolean = {
    val before = sc.getPersistentRDDs.keySet.toSet
    val want = expected.find(_.query == q).get
    val got = scala.util.Try(Fleet.digest(queries(q)(spark, dataDir)))
    val ok = got.toOption.contains((want.rows, want.digest))
    if (!ok) System.err.println(s"[perfbench] $q: got $got, expected (${want.rows},${want.digest})")
    unpersistNew(before)
    ok
  }

  /** One query call: construction and execution, timed as one latency.
    * With tracing on, also the call's job, stage and plan counters. */
  private def runQuery(q: String): (Double, Boolean, Map[String, Double]) = {
    val before = sc.getPersistentRDDs.keySet.toSet
    val built = ctx.time(s"$q.construct")(queries(q)(spark, dataDir))
    val exec = built.result.toOption.map(df => ctx.time(s"$q.exec")(ctx.noop(df)))
    val latency = built.seconds + exec.map(_.seconds).getOrElse(0.0)
    val ok = built.ok && exec.exists(_.ok)
    val checkpoints = unpersistNew(before)
    val stats =
      if (!ctx.traced) Map.empty[String, Double]
      else {
        ctx.drain()
        val c = ctx.jobs.take(s"$q.construct")
        val e = ctx.jobs.take(s"$q.exec")
        val (planS, exchanges) = ctx.plans.take()
        val all = new JobStats
        all += c; all += e
        Map("construct_s" -> built.seconds, "exec_s" -> exec.map(_.seconds).getOrElse(0.0),
          "latency_s" -> latency, "construct_jobs" -> c.jobs.toDouble,
          "checkpoint_rdds" -> checkpoints.toDouble, "plan_s" -> planS,
          "exchanges" -> exchanges.toDouble, "stages" -> all.stages.toDouble,
          "tasks" -> all.tasks.toDouble, "task_run_s" -> all.runMs / 1e3,
          "task_cpu_s" -> all.cpuNs / 1e9, "shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
          "spill_bytes" -> all.spillBytes.toDouble)
      }
    (latency, ok, stats)
  }

  /** Whole passes over the sample until the deadline, at least one.
    * `repSeconds` estimates one pass over the whole fleet: the sum of the
    * sampled queries' median latencies, scaled by the ratio of the
    * fleet's reference cost to the sample's (a ratio estimator over the
    * costs in `fleet_expected.tsv`, so that which queries a seed draws
    * moves the figure far less than how fast they run). */
  def measure(deadlineNs: Long): Measured = {
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passStats = mutable.ArrayBuffer.empty[Map[String, Double]]
    var i = 0
    var failed = 0
    while (i % sample.size != 0 || i == 0 || System.nanoTime() < deadlineNs) {
      val q = sample(i % sample.size)
      val (sec, ok, stats) = runQuery(q)
      lat.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += sec
      if (!ok) failed += 1
      if (ctx.traced && i < sample.size) passStats += stats
      i += 1
    }
    if (passStats.size == sample.size) tracedPass = Some(Fleet.sumStats(passStats.toSeq))
    Measured(
      repSeconds = lat.values.map(v => Stats.median(v.toSeq)).sum *
        expected.map(_.cost).sum / sample.map(q => expected.find(_.query == q).get.cost).sum,
      calls = lat.values.flatten.toSeq,
      attempted = i,
      failed = failed)
  }

  def layers(): Map[String, Double] = {
    if (tracedPass.isEmpty) ctx.tracer.span("fleet.pass")(measure(System.nanoTime()))
    val s = tracedPass.get
    val latency = s("latency_s")
    Map(
      "queries.construct_s" -> s("construct_s"),
      "queries.construct_jobs" -> s("construct_jobs"),
      "queries.checkpoint_rdds" -> s("checkpoint_rdds"),
      "queries.plan_s" -> s("plan_s"),
      "queries.stages" -> s("stages"),
      "queries.tasks" -> s("tasks"),
      "queries.slot_busy_frac" -> s("task_run_s") / (ctx.cores * latency),
      "queries.exec_s" -> s("exec_s"),
      "queries.exchanges" -> s("exchanges"),
      "queries.shuffle_write_bytes" -> s("shuffle_write_bytes"),
      "queries.spill_bytes" -> s("spill_bytes"),
      "queries.task_cpu_frac" -> s("task_cpu_s") / s("task_run_s"),
      "queries.construct_share" -> s("construct_s") / latency,
      "queries.exec_share" -> s("exec_s") / latency,
      "queries.sampled" -> sample.size.toDouble,
      "queries.skipped" -> Fleet.Skipped.size.toDouble)
  }
}

object Fleet {
  /** Queries that need the EA1141 reference archive, which the benchmark
    * does not ship: listed as skipped, never run. */
  val Skipped: Seq[String] = Seq("q_risk_join", "q_fup_asof")
  val Tiers = 10

  /** One line of `fleet_expected.tsv`: the query's family, its warm
    * latency when the file was made (the stratification key only), and
    * its expected row count and digest. */
  final case class Expect(query: String, family: String, cost: Double, rows: Long,
      digest: String)

  def readExpected(benchDir: Path): Seq[Expect] =
    scala.io.Source.fromFile(benchDir.resolve("data").resolve("fleet_expected.tsv").toFile)
      .getLines().filterNot(_.startsWith("query\t")).map { l =>
        val Array(q, f, c, n, d) = l.split("\t")
        Expect(q, f, c.toDouble, n.toLong, d)
      }.toSeq

  /** The queries in `Tiers` equal-count bands of rising cost. */
  def tiers(expected: Seq[Expect]): Seq[Seq[String]] = {
    val ranked = expected.sortBy(e => (e.cost, e.query)).map(_.query)
    (0 until Tiers).map(t => ranked.slice(t * ranked.size / Tiers, (t + 1) * ranked.size / Tiers))
  }

  /** One query per cost tier, drawn and ordered by the seed. The draw is
    * antithetic: a seeded rank u picks the u-th cheapest query of even
    * tiers and the u-th dearest of odd ones, so a draw of cheap queries
    * in one tier is balanced by dear ones in the next and the pass time
    * varies little between seeds. */
  def sample(expected: Seq[Expect], seed: Long): IndexedSeq[String] = {
    // Scrambled: java.util.Random's first draws from nearby seeds are close.
    val r = new scala.util.Random(scala.util.hashing.MurmurHash3.stringHash(s"fleet-$seed"))
    val u = r.nextDouble()
    val picks = tiers(expected).zipWithIndex.map { case (qs, k) =>
      qs(((if (k % 2 == 0) u else 1 - u) * qs.size).toInt.min(qs.size - 1))
    }
    r.shuffle(picks).toIndexedSeq
  }

  /** The binary fixture trees some queries scan, under java.io.tmpdir. */
  def fixtures(): Unit = {
    graft.sources.DicomFixtures.ensure()
    graft.sources.DicomNearDupFixtures.ensure()
    graft.sources.WavFixtures.ensure()
    graft.sources.VideoFixtures.ensure()
  }

  /** Family of each query: the `graft.queries` object that defines it. */
  def families: Map[String, String] = {
    import graft.queries._
    Seq("Relational" -> RelationalQueries.defs, "Agg" -> AggQueries.defs,
      "Join" -> JoinQueries.defs, "Window" -> WindowQueries.defs,
      "SetOp" -> SetOpQueries.defs, "Function" -> FunctionQueries.defs,
      "Event" -> EventQueries.defs, "Text" -> TextQueries.defs,
      "TrainPrep" -> TrainPrepQueries.defs, "Dedup" -> DedupQueries.defs,
      "Similarity" -> SimilarityQueries.defs, "Clinical" -> ClinicalQueries.defs,
      "Graph" -> GraphQueries.defs, "Sql" -> SqlQueries.defs)
      .flatMap { case (f, defs) => defs.keys.map(_ -> f) }.toMap
  }

  /** Row count and an order-insensitive digest of every column: the sums
    * of the low and high halves of each row's xxhash64. */
  def digest(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = d.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols: _*)
    val r = d.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    (r.getLong(0), s"${r.getLong(1)}:${r.getLong(2)}")
  }

  def sumStats(xs: Seq[Map[String, Double]]): Map[String, Double] =
    xs.head.keys.map(k => k -> xs.map(_(k)).sum).toMap

  def copyTree(from: Path, to: Path): Unit = {
    val files = Files.walk(from).toArray.map(_.asInstanceOf[Path])
    files.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
