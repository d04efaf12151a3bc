package graft.pipeline

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkTestBase
import graft.sources.DicomLike

/** The two CLI commands end to end over a small volume tree and the three
  * clinical CSVs: the printed counts match the written outputs, and every
  * Spark job a command starts produces output (no read-back of its own
  * output, no count pass after the write). */
class Ea1141MainSpec extends SparkTestBase {

  private val CallKey = "ea1141.spec.call"

  /** Jobs per tagged call, each with the physical plan of its SQL
    * execution. */
  private object Jobs extends SparkListener {
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val byCall = mutable.Map.empty[String, mutable.ArrayBuffer[(Int, Long)]]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(CallKey))).foreach { call =>
        val exec = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .map(_.toLong).getOrElse(-1L)
        synchronized(byCall.getOrElseUpdate(call, mutable.ArrayBuffer.empty) += (e.jobId -> exec))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
      case _ =>
    }
    /** (job id, plan of its SQL execution) in start order. */
    def of(call: String): Seq[(Int, String)] = {
      ListenerBusShim.drain(spark.sparkContext)
      synchronized(byCall.getOrElse(call, Nil).toSeq).sortBy(_._1)
        .map { case (job, exec) => job -> Option(plans.get(exec)).getOrElse("") }
    }
  }
  private lazy val listening = spark.sparkContext.addSparkListener(Jobs)

  /** Run one command tagged `call`; returns what it printed. */
  private def run(call: String, args: String*): String = {
    listening
    val out = new ByteArrayOutputStream
    spark.sparkContext.setLocalProperty(CallKey, call)
    try Console.withOut(new PrintStream(out, true, StandardCharsets.UTF_8)) {
      Ea1141Main.run(spark, args.toArray)
    } finally spark.sparkContext.setLocalProperty(CallKey, null)
    out.toString(StandardCharsets.UTF_8)
  }

  private def volume(root: Path, patient: String, study: String, uid: String,
      fields: Map[String, String]): Unit = {
    val dir = root.resolve(patient).resolve(study)
    Files.createDirectories(dir)
    val base = Map(
      "SOPInstanceUID" -> uid, "PatientID" -> patient,
      "StudyInstanceUID" -> s"st-$patient-$study", "SeriesInstanceUID" -> s"se-$uid",
      "Modality" -> "MG", "SeriesDescription" -> "Breast Tomosynthesis Image")
    val pixels = Array.tabulate[Byte](8 * 4 * 2)(i => ((i * 7 + uid.hashCode) & 0xff).toByte)
    Files.write(dir.resolve(s"$uid.dcm"), DicomLike.encode(base ++ fields, Seq(8, 4, 2), pixels))
  }

  private def csv(dir: Path, name: String, lines: String*): Unit =
    Files.writeString(dir.resolve(name), lines.mkString("", "\n", "\n"))

  /** Three subjects with volumes in their earliest study; a later study,
    * an F1 and an F2 drop, an undecodable file and a non-volume file. */
  private lazy val fixture: (Path, Path, Path) = {
    val base = Files.createTempDirectory("ea1141_main")
    val root = base.resolve("images")
    volume(root, "EA1141-1001", "19400101", "u1", Map("FrameLaterality" -> "R"))
    volume(root, "EA1141-1001", "19400101", "u2", Map("FrameLaterality" -> "L"))
    volume(root, "EA1141-1001", "19400604", "u9", Map("FrameLaterality" -> "R"))
    volume(root, "EA1141-1002", "19500101", "u3", Map("FrameLaterality" -> "R"))
    volume(root, "EA1141-1002", "19500101", "u7", Map("FrameLaterality" -> "L"))
    volume(root, "EA1141-1002", "19500101", "u4",
      Map("FrameLaterality" -> "L", "SliceThickness" -> "10"))
    volume(root, "EA1141-1003", "19600101", "u5", Map("FrameLaterality" -> "L"))
    volume(root, "EA1141-1003", "19600101", "u6",
      Map("FrameLaterality" -> "R", "Modality" -> "MR"))
    Files.writeString(root.resolve("EA1141-1003/19600101/bad.dcm"), "not a volume")
    Files.writeString(root.resolve("EA1141-1003/19600101/notes.txt"), "ignore me")
    val csvDir = Files.createDirectories(base.resolve("clinical"))
    csv(csvDir, "ea1141_year0_screening_derived.csv",
      "TOMO_BIRADS_YR0,MRI_BIRADS_YR0,SUBJECT_DE",
      "4,2,1001", "1,1,1002", "3,4,1003")
    csv(csvDir, "ea1141_year0_tomolesions_outcome.csv",
      "TOMO_LESIONBREAST_YR0,TOMO_LESIONOUTCOME_YR0,SUBJECT_DE",
      "1,Invasive,1001", "2,Benign,1003")
    csv(csvDir, "ea1141_year0_mrilesions_outcome.csv",
      "MRI_LESIONBREAST_YR0,MRI_LESIONOUTCOME_YR0,SUBJECT_DE",
      "2,DCIS,1003")
    (root, csvDir, Files.createDirectories(base.resolve("out")))
  }

  private def mappingJson = fixture._3.resolve("ea1141-mapping.json").toString

  private lazy val mappingRun: (String, Seq[(Int, String)]) = {
    val (root, csvDir, _) = fixture
    val printed = run("mapping", "generate-mapping", root.toString, csvDir.toString, mappingJson)
    (printed, Jobs.of("mapping"))
  }

  private def truthsArgs(scope: String, out: String): Seq[String] =
    Seq("load-truths", mappingJson, "biopsy", scope, "false", "false", out)

  private val Printed = """(?s).*wrote (\d+) .*""".r
  private def printedCount(s: String): Long = s match { case Printed(n) => n.toLong }

  test("generate-mapping prints the number of records it wrote") {
    val (printed, _) = mappingRun
    val written = new ObjectMapper().readTree(new java.io.File(mappingJson))
      .fieldNames().asScala.toSeq
    assert(written === Seq("u1", "u2", "u3", "u5", "u7"))
    assert(printedCount(printed) === written.size)
  }

  test("generate-mapping starts no job after its collect and never reads its output") {
    val (_, jobs) = mappingRun
    assert(jobs.nonEmpty)
    assert(!jobs.exists(_._2.contains("ea1141-mapping.json")),
      "a job read the mapping it had just written")
    // The collect is the execution that renders records (to_json, whose
    // kernel is StructsToJsonEvaluator); no job of another execution
    // starts after its first job.
    val collectFrom = jobs.indexWhere(_._2.contains("StructsToJson"))
    assert(collectFrom >= 0, jobs.map(_._2.linesIterator.next()).mkString("; "))
    assert(jobs.drop(collectFrom).map(_._2).distinct.size === 1)
    // 3 CSV header reads, then the collect: the min-study shuffle, 4
    // broadcasts (min study, the two lesion folds, the truth dimension)
    // and the result stage.
    assert(collectFrom === 3)
    assert(jobs.size === 9, jobs.map(_._2.linesIterator.next()).mkString("; "))
  }

  test("load-truths runs exactly two jobs and prints its group count") {
    mappingRun
    val out = fixture._3.resolve("truths_patient").toString
    val printed = run("truths", truthsArgs("patient-wise", out): _*)
    assert(printedCount(printed) === spark.read.parquet(out).count())
    assert(printedCount(printed) === 3L)
    val jobs = Jobs.of("truths")
    assert(jobs.size === 2, jobs.map(_._2.linesIterator.next()).mkString("; "))
  }

  test("concurrent load-truths calls on one session each print their own count") {
    mappingRun
    val scopes = Seq("volume-wise", "patient-wise")
    val printed = Await.result(Future.traverse(scopes) { scope =>
      Future(run(s"concurrent-$scope",
        truthsArgs(scope, fixture._3.resolve(s"truths_c_$scope").toString): _*))
    }, Duration.Inf)
    val counts = scopes.map(s => spark.read.parquet(fixture._3.resolve(s"truths_c_$s").toString).count())
    assert(counts === Seq(4L, 3L))
    assert(printed.map(printedCount) === counts)
  }
}
