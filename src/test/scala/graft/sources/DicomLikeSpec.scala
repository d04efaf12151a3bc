package graft.sources

import java.nio.file.{Files, Path}

import graft.SparkTestBase
import graft.pipeline.{Ea1141Pipeline, VolumeScan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions._

/** S1/S3/S4/S7 end-to-end: a synthesized
  * `<root>/<PatientID>/<StudyDate>/<uid>.dcm` tree scanned via the
  * binaryFile source, earliest-study-pruned, stub-decoded by the
  * DicomLike UDF, and run through the full mapping pipeline.
  */
class DicomLikeSpec extends SparkTestBase {
  import spark.implicits._

  private def writeVolume(root: Path, patient: String, study: String,
      uid: String, fields: Map[String, String], shape: Seq[Int] = Seq(60, 200, 100)): Unit = {
    val dir = root.resolve(patient).resolve(study)
    Files.createDirectories(dir)
    val base = Map(
      "SOPInstanceUID" -> uid, "PatientID" -> patient,
      "StudyInstanceUID" -> s"st-$patient-$study", "SeriesInstanceUID" -> s"se-$uid",
      "Modality" -> "MG", "SeriesDescription" -> "R CC Breast Tomosynthesis Image")
    val pixels = Array.tabulate[Byte](64)(i => ((i * 7 + uid.hashCode) & 0xff).toByte)
    Files.write(dir.resolve(s"$uid.dcm"), DicomLike.encode(base ++ fields, shape, pixels))
  }

  test("scan prunes to earliest study per patient; glob keeps only .dcm") {
    val root = Files.createTempDirectory("dicom_tree")
    writeVolume(root, "EA1141-1001", "19400604", "u1", Map("FrameLaterality" -> "R"))
    writeVolume(root, "EA1141-1001", "19400101", "u0", Map("FrameLaterality" -> "L"))
    writeVolume(root, "EA1141-1002", "19500101", "u2", Map("FrameLaterality" -> "R"))
    Files.write(root.resolve("EA1141-1001").resolve("19400101").resolve("notes.txt"),
      "ignore me".getBytes)

    val scanned = VolumeScan.scan(spark, root.toString)
    val paths = scanned.select("path").as[String].collect()
    assert(paths.length === 2)
    // min(study) per patient: 19400101 for 1001, 19500101 for 1002
    assert(paths.exists(_.endsWith("19400101/u0.dcm")))
    assert(paths.exists(_.endsWith("19500101/u2.dcm")))
    assert(!paths.exists(_.contains("19400604")))
    assert(!paths.exists(_.endsWith("notes.txt")))
  }

  test("metadata decode: null-safe nested extraction, shape + checksum") {
    val root = Files.createTempDirectory("dicom_meta")
    writeVolume(root, "EA1141-2001", "19400604", "u1",
      Map("FrameLaterality" -> "R", "SliceThickness" -> "1"), shape = Seq(67, 2457, 1996))
    // a corrupt file: wrong magic
    val dir = root.resolve("EA1141-2002").resolve("19400604")
    Files.createDirectories(dir)
    Files.write(dir.resolve("bad.dcm"), "not a volume".getBytes)

    val vols = DicomLike.withMeta(VolumeScan.scan(spark, root.toString))
    assert(vols.count() === 2)
    assert(vols.filter(col("meta").isNull).count() === 1) // corrupt -> NULL, not error
    val m = vols.filter(col("meta").isNotNull).select("meta.*")
    val row = m.head()
    assert(m.select("ImageShape").as[Seq[Int]].head() === Seq(67, 2457, 1996))
    assert(row.getAs[Int]("SliceThickness") === 1)
    assert(row.getAs[Long]("pixelBytes") === 64L)
    // missing optional tags -> NULL (try/except-to-None semantics)
    assert(row.getAs[String]("ViewModifier") === null)
  }

  test("frame sampling decodes per-slice pixel stats; features are bucket means") {
    val root = Files.createTempDirectory("dicom_frames")
    writeVolume(root, "EA1141-4001", "19400604", "u1",
      Map("FrameLaterality" -> "R"), shape = Seq(8, 10, 10)) // 8 slices, 64 payload bytes
    val scanned = VolumeScan.scan(spark, root.toString)

    val frames = DicomLike.sampleFrames(scanned, k = 4).collect()
    assert(frames.length === 4)
    assert(frames.map(_.getAs[Int]("slice")).toSeq === Seq(0, 2, 4, 6))
    assert(frames.forall(_.getAs[Long]("nBytes") === 8L)) // 64 bytes / 8 slices
    // real per-slice uint8 stats: independently recompute from the known
    // pixel formula pixels(i) = (i*7 + "u1".hashCode) & 0xff
    val pix = Array.tabulate(64)(i => (i * 7 + "u1".hashCode) & 0xff)
    frames.foreach { f =>
      val s = f.getAs[Int]("slice")
      val sl = pix.slice(s * 8, s * 8 + 8)
      assert(f.getAs[Int]("pxMin") === sl.min)
      assert(f.getAs[Int]("pxMax") === sl.max)
      assert(f.getAs[Double]("pxMean") === sl.sum.toDouble / 8)
    }

    val feats = DicomLike.extractFeatures(scanned, dim = 16).collect()
    assert(feats.length === 1)
    val v = feats.head.getAs[scala.collection.Seq[Float]]("features")
    assert(v.length === 16)
    // bucket means of uint8 intensities scaled into [0,1]
    assert(v.forall(x => x >= 0f && x <= 1f))
    val expected0 = (pix.slice(0, 4).sum.toDouble / 4 / 255.0).toFloat
    assert(v.head === expected0)
    // determinism: same bytes -> same features
    val again = DicomLike.extractFeatures(scanned, dim = 16).collect()
      .head.getAs[scala.collection.Seq[Float]]("features")
    assert(v === again)
  }

  test("decodeFrames: exact uint8 tensor on match, None on shape mismatch") {
    val pix = Array.tabulate[Byte](24)(i => ((i * 5 + 3) & 0xff).toByte)
    val bytes = DicomLike.encode(
      Map("SOPInstanceUID" -> "d1", "PatientID" -> "p1"), Seq(2, 3, 4), pix)
    val frames = DicomLike.decodeFrames(bytes, Seq(2, 3, 4))
    assert(frames.isDefined)
    assert(frames.get.length === 2)
    assert(frames.get.head.toSeq === pix.take(12).map(_ & 0xff).toSeq)
    assert(frames.get(1).toSeq === pix.drop(12).map(_ & 0xff).toSeq)
    // payload length ≠ product(shape) -> undecodable, not truncated
    assert(DicomLike.decodeFrames(bytes, Seq(2, 3, 5)).isEmpty)
    assert(DicomLike.decodeFrames("junk".getBytes, Seq(2, 3, 4)).isEmpty)
  }

  test("streaming ingest: a file-stream of volumes decodes incrementally") {
    // 100 TB trees land incrementally; the same decode runs as a
    // Structured Streaming source (binaryFile readStream), new files
    // picked up per micro-batch, frames decoded in-flight.
    val root = Files.createTempDirectory("dicom_stream")
    writeVolume(root, "EA1141-5001", "19400101", "s1",
      Map("FrameLaterality" -> "R"), shape = Seq(4, 4, 4)) // 64 B payload == product
    val schema = spark.read.format("binaryFile").load(root.toString).schema
    val stream = spark.readStream.format("binaryFile").schema(schema)
      .option("pathGlobFilter", "*.dcm").option("recursiveFileLookup", "true")
      .load(root.toString)
    val decoded = DicomLike.withFrames(stream)
      .filter(col("meta").isNotNull)
      .select(col("meta.SOPInstanceUID").as("uid"), size(col("frames")).as("n_frames"))
    val q = decoded.writeStream.format("memory")
      .queryName("dicom_stream_t").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeVolume(root, "EA1141-5002", "19400101", "s2",
        Map("FrameLaterality" -> "L"), shape = Seq(4, 4, 4))
      q.processAllAvailable()
      val rows = spark.table("dicom_stream_t").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(rows === Map("s1" -> 4, "s2" -> 4))
    } finally q.stop()
  }

  /** Decode-UDF calls in the optimized plan, subqueries included. */
  private def decodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p =>
      p.expressions.map(_.collect {
        case u: ScalaUDF if u.udfName.contains("dicom_meta") => u
      }.size).sum
    }.sum

  test("plan shape: each file is decoded once, whatever filters sit above") {
    val root = Files.createTempDirectory("dicom_plan")
    writeVolume(root, "EA1141-6001", "19400101", "p1",
      Map("FrameLaterality" -> "R"), shape = Seq(4, 4, 4))
    val scanned = VolumeScan.scan(spark, root.toString)
    val screening = Seq(("6001", "4", "2", 0L))
      .toDF("SUBJECT_DE", "TOMO_BIRADS_YR0", "MRI_BIRADS_YR0", "row_id")
    val tomo = Seq(("6001", "1", "Invasive", 0L))
      .toDF("SUBJECT_DE", "TOMO_LESIONBREAST_YR0", "TOMO_LESIONOUTCOME_YR0", "row_id")
    val mri = Seq(("6001", "2", "Benign", 0L))
      .toDF("SUBJECT_DE", "MRI_LESIONBREAST_YR0", "MRI_LESIONOUTCOME_YR0", "row_id")
    val mapping = Ea1141Pipeline.buildMapping(DicomLike.volumes(scanned), screening,
      tomo, mri, imageRoot = s"file:$root/")
    assert(decodes(mapping) === 1, mapping.queryExecution.optimizedPlan)
    assert(mapping.count() === 1)
    Seq(DicomLike.withFrames(scanned).filter(col("meta").isNotNull && size(col("frames")) > 0),
      DicomLike.sampleFrames(scanned, k = 2),
      DicomLike.extractFeatures(scanned, dim = 4)
    ).foreach(df => assert(decodes(df) === 1, df.queryExecution.optimizedPlan))
  }

  test("end-to-end: tree scan -> extraction -> mapping with truth labels") {
    val root = Files.createTempDirectory("dicom_e2e")
    writeVolume(root, "EA1141-3001", "19400604", "u1", Map("FrameLaterality" -> "R"))
    writeVolume(root, "EA1141-3001", "19400604", "u2",
      Map("FrameLaterality" -> "L", "SliceThickness" -> "10")) // F2-dropped
    writeVolume(root, "EA1141-3001", "19400604", "u3",
      Map("FrameLaterality" -> "L", "ViewModifier" -> "Spot Compression")) // F2-dropped
    writeVolume(root, "EA1141-3002", "19400604", "u4",
      Map("FrameLaterality" -> "R", "Modality" -> "MR")) // F1-dropped

    val screening = Seq(("3001", "4", "2", 0L), ("3002", "1", "1", 1L))
      .toDF("SUBJECT_DE", "TOMO_BIRADS_YR0", "MRI_BIRADS_YR0", "row_id")
    val tomo = Seq(("3001", "1", "Invasive carcinoma", 0L))
      .toDF("SUBJECT_DE", "TOMO_LESIONBREAST_YR0", "TOMO_LESIONOUTCOME_YR0", "row_id")
    val mri = Seq.empty[(String, String, String, Long)]
      .toDF("SUBJECT_DE", "MRI_LESIONBREAST_YR0", "MRI_LESIONOUTCOME_YR0", "row_id")

    val volumes = DicomLike.volumes(VolumeScan.scan(spark, root.toString))
    val mapping = Ea1141Pipeline.buildMapping(volumes, screening, tomo, mri,
      imageRoot = s"file:$root") // binaryFile paths are file: URIs
    val rows = mapping.collect().map(r => r.getAs[String]("uid") -> r).toMap
    assert(rows.keySet === Set("u1"))
    val u1 = rows("u1")
    assert(u1.getAs[String]("Subject_DE") === "3001")
    assert(u1.getAs[String]("DBT_BIRADS") === "4")
    assert(u1.getAs[String]("DBT_Outcome") === "MALIGNANT")
    assert(u1.getAs[String]("ImagePath").startsWith("$ROOT$/"))
  }
}
