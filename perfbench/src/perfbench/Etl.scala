package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.functions.input_file_name

import graft.pipeline.{ClinicalCsv, Ea1141Json, Ea1141Main, Ea1141Pipeline, VolumeScan}
import graft.sources.DicomLike

/** Seeded inputs and a traced decomposition of their processing into
  * layers. */
trait Probe {
  /** Write the inputs into a fresh directory. */
  def prepare(): Unit
  /** Per-layer metrics from calls into the layers' functions; called
    * with tracing on. */
  def layers(): Map[String, Double]
}

/** A benchmark workload: a probe whose processing is also measured as a
  * closed loop of timed calls with output checks. */
trait Workload extends Probe {
  /** Untimed calls with output checks, after [[prepare]]; returns the
    * checks (attempted, failed). */
  def warmUp(): (Int, Int)
  /** Closed loop of repetitions until `deadlineNs` (at least one). */
  def measure(deadlineNs: Long): Measured
}

/** `ea1141_etl`: the paper's own pipeline. One repetition is
  * `Ea1141Main.run("generate-mapping", ...)` followed by the 24
  * `load-truths` parameterizations over the mapping it wrote. */
final class Etl(ctx: Ctx, subjects: Int = 40) extends Workload {
  import ctx.spark

  private var planted: Cohort.Planted = _
  private var root: Path = _
  private var csvDir: Path = _
  private var out: Path = _
  private var expectedRecords: Map[String, String] = Map.empty
  private var expectedTruths: IndexedSeq[Seq[String]] = IndexedSeq.empty

  private def outJson = out.resolve("ea1141-mapping.json").toString
  private def truthsDir(i: Int) = out.resolve(s"truths_$i").toString

  def prepare(): Unit = {
    val dir = ctx.freshDir("etl")
    root = dir.resolve("images")
    csvDir = dir.resolve("clinical")
    out = dir.resolve("out")
    java.nio.file.Files.createDirectories(out)
    planted = Cohort.generate(ctx.seed, subjects, root, csvDir)
    expectedRecords = planted.records.map(r => r.uid -> Etl.canonical(r)).toMap
    expectedTruths = Cohort.TruthParams.map { case (g, s, d, m) =>
      Cohort.expectedTruths(planted.records, g, s, d, m)
    }.toIndexedSeq
  }

  private val devNull = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())
  private def quiet[T](body: => T): T = Console.withOut(devNull)(body)

  private def mappingCall(): Timed[Unit] = ctx.time("etl.generate-mapping") {
    quiet(Ea1141Main.run(spark,
      Array("generate-mapping", root.toString, csvDir.toString, outJson)))
  }

  private def truths(i: Int): Unit = {
    val (g, s, d, m) = Cohort.TruthParams(i)
    quiet(Ea1141Main.run(spark, Array("load-truths", outJson, g, s, d.toString,
      m.toString, truthsDir(i))))
  }

  private def truthsCall(i: Int): Timed[Unit] = ctx.time(s"etl.load-truths.$i")(truths(i))

  /** The written mapping holds exactly the planted records. */
  def checkMapping(): Boolean = {
    val got = Etl.records(outJson).map { case (uid, r) => uid -> Etl.canonical(r) }
    val ok = got == expectedRecords
    if (!ok) {
      val bad = (got.keySet ++ expectedRecords.keySet)
        .find(k => got.get(k) != expectedRecords.get(k))
      System.err.println(s"[perfbench] mapping mismatch: ${got.size} records vs " +
        s"${expectedRecords.size} planted; first differing uid $bad: " +
        s"got ${bad.flatMap(got.get)} want ${bad.flatMap(expectedRecords.get)}")
    }
    ok
  }

  /** How many label sets are wrong: calls that failed (`ran(i)` false)
    * and outputs that differ from their record-by-record derivation. The
    * outputs are read back in one scan. */
  def wrongTruths(ran: Seq[Boolean]): Int = {
    val done = ran.indices.filter(ran)
    val File = ".*/truths_(\\d+)/[^/]*$".r
    val got = scala.util.Try(spark.read.parquet(done.map(truthsDir): _*)
      .withColumn("_file", input_file_name()).collect().toSeq
      .groupBy(r => r.getString(3) match { case File(i) => i.toInt })
      .map { case (i, rs) => i -> rs.map { r =>
        Cohort.truthLine(r.getString(0), r.getSeq[String](1).zip(
          r.getSeq[scala.collection.Seq[Int]](2).map(_.toSeq)))
      }.sorted })
    got.failed.foreach(e => System.err.println(s"[perfbench] reading label sets: $e"))
    ran.indices.count { i =>
      val ok = ran(i) && got.toOption.exists(_.getOrElse(i, Nil) == expectedTruths(i))
      if (ran(i) && !ok) System.err.println(s"[perfbench] load-truths ${Cohort.TruthParams(i)}: " +
        s"${got.toOption.map(_.getOrElse(i, Nil).size)} groups vs ${expectedTruths(i).size} expected")
      !ok
    }
  }

  /** One repetition: (mapping seconds, truths seconds, failed calls). */
  private def rep(): (Double, Seq[Double], Int) = {
    val m = mappingCall()
    val mappingWrong = if (m.ok && checkMapping()) 0 else 1
    val ts = Cohort.TruthParams.indices.map(truthsCall)
    (m.seconds, ts.map(_.seconds), mappingWrong + wrongTruths(ts.map(_.ok)))
  }

  /** The mapping and all 24 label sets, checked, so the timed
    * repetitions meet every plan warm. The label sets run concurrently,
    * one per core, which shortens the set-up; each meets its plans cold
    * once either way. */
  def warmUp(): (Int, Int) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val m = mappingCall()
    val mappingWrong = if (m.ok && checkMapping()) 0 else 1
    val ran = Await.result(Future.traverse(Cohort.TruthParams.indices.toVector) { i =>
      Future(scala.util.Try(truths(i)).isSuccess)
    }, scala.concurrent.duration.Duration.Inf)
    (1 + ran.size, mappingWrong + wrongTruths(ran))
  }

  def measure(deadlineNs: Long): Measured = {
    val reps = mutable.ArrayBuffer.empty[(Double, Seq[Double], Int)]
    do reps += rep() while (System.nanoTime() < deadlineNs)
    Measured(
      repSeconds = Stats.median(reps.map(r => r._1 + r._2.sum).toSeq),
      calls = reps.flatMap(r => r._1 +: r._2).toSeq,
      attempted = reps.size * (1 + Cohort.TruthParams.size),
      failed = reps.map(_._3).sum)
  }

  /** Traced decomposition of one repetition into calls of the `sources`
    * and `pipeline` functions: the mapping, then the first label set
    * (biopsy, volume-wise, dbtOnly and mriExcluded set). Each
    * later step re-executes the earlier ones inside it (nothing is
    * cached), so a step's self time is its wall time minus the
    * separately timed steps it contains. */
  private def decomposed(): Map[String, Double] = {
    val rebase = s"file:$root/"
    def t(group: String)(body: => Unit): Double = {
      val r = ctx.time(group)(body)
      r.result.get
      r.seconds
    }
    val csvs = Cohort.CsvNames.map(n => csvDir.resolve(n).toString)
    def read() = csvs.map(ClinicalCsv.read(spark, _))
    def volumes() = DicomLike.volumes(VolumeScan.scan(spark, root.toString))
    val scan = t("sources.scan")(ctx.noop(volumes()))
    val csvRead = t("pipeline.csv_read")(read().foreach(ctx.noop))
    val labels = t("pipeline.truth_labels") {
      val Seq(s, tomo, mri) = read()
      ctx.noop(Ea1141Pipeline.truthLabels(s, tomo, mri))
    }
    def mapping() = {
      val Seq(s, tomo, mri) = read()
      Ea1141Pipeline.buildMapping(volumes(), s, tomo, mri, imageRoot = rebase)
    }
    val build = t("pipeline.build_mapping")(ctx.noop(mapping()))
    val sink = t("pipeline.json_sink")(Ea1141Json.writeMappingJson(mapping(), outJson))
    var jsonRead, truths, truthsSink = 0.0
    Cohort.TruthParams.zipWithIndex.take(1).foreach {
      case ((g, s, d, m), i) =>
        def written() = Ea1141Json.readMappingJson(spark, outJson)
        def gt() = Ea1141Pipeline.groundTruths(written(), g, s, d, m)
        jsonRead += t("pipeline.json_read")(ctx.noop(written()))
        truths += t("pipeline.ground_truths")(ctx.noop(gt()))
        truthsSink += t("pipeline.truths_sink")(gt().write.mode("overwrite").parquet(truthsDir(i)))
    }
    ctx.drain()
    val scanJobs = ctx.jobs.take("sources.scan")
    val mapJobs = new JobStats
    Seq("pipeline.csv_read", "pipeline.truth_labels", "pipeline.build_mapping",
      "pipeline.json_sink").foreach(g => mapJobs += ctx.jobs.take(g))
    Seq("pipeline.json_read", "pipeline.ground_truths", "pipeline.truths_sink")
      .foreach(ctx.jobs.take)
    Map(
      "sources.scan_s" -> scan,
      "sources.bytes_read" -> scanJobs.bytesRead.toDouble,
      "sources.jobs" -> scanJobs.jobs.toDouble,
      "pipeline.csv_read_s" -> csvRead,
      "pipeline.truth_labels_s" -> (labels - csvRead),
      "pipeline.build_mapping_s" -> (build - scan - labels),
      "pipeline.json_sink_s" -> (sink - build),
      "pipeline.jobs" -> mapJobs.jobs.toDouble,
      "pipeline.json_read_s" -> jsonRead,
      "pipeline.ground_truths_s" -> (truths - jsonRead),
      "pipeline.truths_sink_s" -> (truthsSink - truths))
  }

  def layers(): Map[String, Double] = {
    // One pass: a step that meets its plans cold carries their code
    // generation, so a self time can read slightly negative.
    val d = ctx.tracer.span("etl.decomposed")(decomposed())
    val scanned = VolumeScan.scan(spark, root.toString, withContent = false).count()
    val vols = DicomLike.volumes(VolumeScan.scan(spark, root.toString)).count()
    // Record and outcome counts of the mapping the pipeline wrote,
    // checked against the planted ones.
    val written = Etl.records(outJson)
    val labels = written.values.toSeq.flatMap(r => Seq("DBT_Outcome", "MRI_Outcome").map(r.get))
      .filter(v => v != null && !v.isNull).map(_.asText)
      .groupBy(identity).map { case (k, v) => k -> v.size }
    require(written.size == planted.records.size && labels == planted.labelCounts,
      s"written mapping: ${written.size} records, labels $labels; planted " +
        s"${planted.records.size} records, labels ${planted.labelCounts}")
    val pipelineSelf = Seq("pipeline.csv_read_s", "pipeline.truth_labels_s",
      "pipeline.build_mapping_s", "pipeline.json_sink_s", "pipeline.json_read_s",
      "pipeline.ground_truths_s", "pipeline.truths_sink_s").map(d).sum
    val total = pipelineSelf + d("sources.scan_s")
    d ++ Map(
      "sources.volumes" -> vols.toDouble,
      "sources.undecodable" -> (scanned - vols).toDouble,
      "sources.self_share" -> d("sources.scan_s") / total,
      "pipeline.self_share" -> pipelineSelf / total,
      "pipeline.records_out" -> written.size.toDouble,
      "pipeline.label.benign" -> labels.getOrElse("BENIGN", 0).toDouble,
      "pipeline.label.malignant" -> labels.getOrElse("MALIGNANT", 0).toDouble,
      "pipeline.label.unknown" -> labels.getOrElse("UNKNOWN", 0).toDouble)
  }
}

object Etl {
  private val Fields = Ea1141Json.recordSchema.fieldNames.toSeq

  /** The records of a written mapping JSON, by uid. */
  def records(path: String): Map[String, JsonNode] =
    new ObjectMapper().readTree(new java.io.File(path)).fields().asScala
      .map(e => e.getKey -> e.getValue).toMap

  /** Field-by-field rendering of one mapping record, as parsed JSON. */
  def canonical(n: JsonNode): String = Fields.map { f =>
    val v = n.get(f)
    if (v == null || v.isNull) "null"
    else if (v.isArray) v.elements().asScala.map(_.asText).mkString("[", ",", "]")
    else v.asText
  }.mkString("|")

  /** The same rendering of a planted record. */
  def canonical(r: Cohort.Record): String = Seq(
    r.patientId, r.studyUid, r.seriesUid, r.shape.mkString("[", ",", "]"),
    r.description, r.laterality.getOrElse("null"), r.imagePath, r.subject,
    r.dbtBirads.getOrElse("null"), r.mriBirads.getOrElse("null"),
    r.dbtOutcome.getOrElse("null"), r.mriOutcome.getOrElse("null")).mkString("|")
}
