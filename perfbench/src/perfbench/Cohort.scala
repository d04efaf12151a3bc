package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.sources.DicomLike

/** Seeded synthetic EA1141 cohort: a volume tree
  * `<root>/<PatientID>/<StudyDate>/<uid>.dcm` written with
  * `DicomLike.encode`, plus the three clinical CSVs the mapping joins,
  * under their published file and column names (`SUBJECT_DE` last).
  *
  * BIRADS codes, lesion prevalence and outcome vocabularies follow the
  * EA1141 tables described in FIXTURES.md §A. Every case the pipeline
  * must handle is planted at least once: later studies pruned by the
  * earliest-study rule, F1 drops (modality, 2-D shape, projection), F2
  * drops (SliceThickness 10, spot compression) next to a null
  * SliceThickness that must be kept, J4 laterality-mismatch erasures,
  * null laterality, undecodable files and non-volume files.
  *
  * The expected mapping is derived here, record by record, from what was
  * planted; [[Cohort.expectedTruths]] derives the 24 label-set outputs
  * from it. Neither uses Spark.
  */
object Cohort {

  /** One expected `ea1141-mapping.json` record. */
  final case class Record(uid: String, patientId: String, study: String,
      studyUid: String, seriesUid: String, shape: Seq[Int], description: String,
      laterality: Option[String], subject: String, dbtBirads: Option[String],
      mriBirads: Option[String], dbtOutcome: Option[String],
      mriOutcome: Option[String]) {
    def imagePath: String = s"$$ROOT$$/$patientId/$study/$uid.dcm"
  }

  /** What the generator wrote and what the pipeline must make of it. */
  final case class Planted(
      counts: Map[String, Int],
      records: Seq[Record]) {
    def count(k: String): Int = counts.getOrElse(k, 0)
    def labelCounts: Map[String, Int] =
      (records.flatMap(_.dbtOutcome) ++ records.flatMap(_.mriOutcome))
        .groupBy(identity).map { case (k, v) => k -> v.size }
  }

  val CsvNames: Seq[String] = Seq("ea1141_year0_screening_derived.csv",
    "ea1141_year0_tomolesions_outcome.csv", "ea1141_year0_mrilesions_outcome.csv")

  /** The 24 load-truths parameterizations:
    * (gtType, scope, dbtOnly, mriExcluded). */
  val TruthParams: Seq[(String, String, Boolean, Boolean)] = for {
    gt <- Seq("biopsy", "acr4+")
    scope <- Seq("volume-wise", "breast-wise", "patient-wise")
    dbtOnly <- Seq(true, false)
    mriExcluded <- Seq(true, false)
  } yield (gt, scope, dbtOnly, mriExcluded)

  private val TomoOutcomes = Seq("Invasive", "Benign",
    "Benign with atypia or high-risk lesion", "BIRADS 2 @ 6 months",
    "BIRADS 3 @ 6 months", "No biopsy", "No 6 month FUP imaging")
  private val MriOutcomes = TomoOutcomes ++ Seq("DCIS", "Unknown", ".F",
    "BIRADS 1 @ 6 months",
    "BI-RADS score downgraded due to targeted ultrasound after AB-MR MRI")

  /** BIRADS code drawn with the observed EA1141 year-0 frequencies. */
  private def birads(r: scala.util.Random, weights: Seq[Int]): String = {
    var x = r.nextInt(weights.sum)
    weights.indices.find { i => x -= weights(i); x < 0 }.map(i => (i + 1).toString).get
  }
  private val TomoBirads = Seq(296, 190, 5, 7, 2)
  private val MriBirads = Seq(259, 170, 34, 35, 2)

  private val Benign = Seq("BIRADS 1", "BIRADS 2", "BIRADS 3", "Benign",
    "No biopsy", "BI-RADS score downgraded")
  private val Malignant = Seq("Invasive", "DCIS")
  def classify(outcome: String): String =
    if (Benign.exists(outcome.contains)) "BENIGN"
    else if (Malignant.exists(outcome.contains)) "MALIGNANT"
    else "UNKNOWN"

  private final case class Lesion(subject: String, code: String, outcome: String)

  /** Write the cohort under `root` (volume tree) and `csvDir`, return the
    * planted bookkeeping. Same seed, same bytes. */
  def generate(seed: Long, subjects: Int, root: Path, csvDir: Path): Planted = {
    val r = new scala.util.Random(seed)
    val counts = mutable.Map.empty[String, Int].withDefaultValue(0)
    def plant(k: String): Unit = counts(k) += 1

    val ids = mutable.LinkedHashSet.empty[String]
    while (ids.size < subjects) ids += (1000000 + r.nextInt(9000000)).toString
    val subjectIds = ids.toIndexedSeq

    // --- clinical tables -------------------------------------------------
    // The last subject is never screened (all labels stay null); two
    // subjects get a second, later screening row that must be ignored.
    val screened = subjectIds.dropRight(1)
    val screenRows = mutable.ArrayBuffer.empty[(String, String, String)]
    screened.foreach(s => screenRows += ((s, birads(r, TomoBirads), birads(r, MriBirads))))
    screened.take(2).foreach { s =>
      screenRows += ((s, "5", "5")); plant("screening_duplicates")
    }
    val screen: Map[String, (String, String)] =
      screenRows.reverseIterator.map(t => t._1 -> (t._2, t._3)).toMap

    // Lesion rows: ~3% of subjects on tomosynthesis, ~17% on MRI, some
    // with a second row so that last-write-wins and mismatch erasure
    // both occur. Subject 0 gets a planted R-then-L tomo pair (the J4
    // trap) and subject 1 an MRI pair on one side.
    def lesions(rate: Double, outcomes: Seq[String]): Seq[Lesion] =
      screened.flatMap { s =>
        if (r.nextDouble() >= rate) Nil
        else Seq.fill(1 + (if (r.nextDouble() < 0.3) 1 else 0))(
          Lesion(s, if (r.nextBoolean()) "1" else "2", outcomes(r.nextInt(outcomes.size))))
      }
    val tomo = Seq(Lesion(screened(0), "1", "Benign"), Lesion(screened(0), "2", "Invasive")) ++
      lesions(0.03, TomoOutcomes)
    val mri = Seq(Lesion(screened(1), "2", "Benign"), Lesion(screened(1), "2", "DCIS")) ++
      lesions(0.166, MriOutcomes)
    val hasLesion = (tomo ++ mri).map(_.subject).toSet

    Files.createDirectories(csvDir)
    def csv(name: String, header: Seq[String], rows: Seq[Seq[String]]): Unit =
      Files.writeString(csvDir.resolve(name),
        (header +: rows).map(_.mkString(",")).mkString("", "\n", "\n"))
    csv(CsvNames(0), Seq("SCREEN_YR0_DAYS", "TOMO_BIRADS_YR0", "MRI_BIRADS_YR0",
        "MRI_BPE_YR0", "SUBJECT_DE"),
      screenRows.toSeq.map { case (s, d, m) =>
        Seq(r.nextInt(400).toString, d, m, Seq("1", "2", "N", ".M")(r.nextInt(4)), s) })
    csv(CsvNames(1), Seq("TOMO_LESIONNUM_YR0", "TOMO_LESIONBREAST_YR0",
        "TOMO_LESIONOUTCOME_YR0", "SUBJECT_DE"),
      tomo.zipWithIndex.map { case (l, i) => Seq((i + 1).toString, l.code, l.outcome, l.subject) })
    csv(CsvNames(2), Seq("MRI_LESIONNUM_YR0", "MRI_LESIONBREAST_YR0",
        "MRI_LESIONOUTCOME_YR0", "SUBJECT_DE"),
      mri.zipWithIndex.map { case (l, i) => Seq((i + 1).toString, l.code, l.outcome, l.subject) })

    // --- truth labels (the J2-J4 fold, sequentially) ---------------------
    def matches(lat: Option[String], code: String): Boolean =
      (lat.contains("R") && code == "1") || (lat.contains("L") && code == "2")
    def fold(subject: String, lat: Option[String], screenValue: Option[String],
        rows: Seq[Lesion]): (Option[String], Option[String]) =
      if (!screen.contains(subject)) (None, None)
      else rows.filter(_.subject == subject).foldLeft((screenValue, Option.empty[String])) {
        case ((b, _), l) if !matches(lat, l.code) => (None, None)
        case ((b, _), l) => (b, Some(classify(l.outcome)))
      }

    // --- volume tree -----------------------------------------------------
    val records = mutable.ArrayBuffer.empty[Record]
    var uidSeq = 0L
    def uid(): String = { uidSeq += 1; s"1.2.826.0.1.3680043.8.498.${seed.abs % 100000}.$uidSeq" }
    def write(dir: Path, name: String, bytes: Array[Byte]): Unit = {
      Files.createDirectories(dir); Files.write(dir.resolve(name), bytes)
    }
    val views = Seq("R" -> "CC", "L" -> "CC", "R" -> "MLO", "L" -> "MLO")

    subjectIds.zipWithIndex.foreach { case (s, i) =>
      val patient = s"EA1141-$s"
      val nStudies = if (r.nextDouble() < 0.3 || i == 2 || i == 3) 2 else 1
      val studies = Seq.fill(nStudies)((20150101 + r.nextInt(40000)).toString)
        .distinct.sorted
      val first = studies.head
      val studyUids = studies.map(_ => uid())
      if (studies.size > 1) plant("pruned_studies")

      // Volume spec: (laterality tag, view, modality, shape, thickness,
      // view modifier, description override).
      final case class Vol(lat: Option[String], view: String, modality: String,
          shape: Seq[Int], thickness: Option[Int], modifier: Option[String],
          projection: Boolean)
      def standard(lat: String, view: String): Vol =
        Vol(Some(lat), view, "MG", Seq(24 + r.nextInt(89), 8, 8), Some(1), None, false)

      studies.zip(studyUids).foreach { case (study, studyUid) =>
        val dir = root.resolve(patient).resolve(study)
        val earliest = study == first
        // Subject 3's earliest study holds only a report: zero volumes.
        if (earliest && i == 3) {
          write(dir, "report.txt", "no images".getBytes(StandardCharsets.UTF_8))
          plant("empty_earliest_study")
        } else {
          val vols = mutable.ArrayBuffer(views.map { case (l, v) => standard(l, v) }: _*)
          def maybe(rate: Double, force: Int)(v: => Vol, key: String): Unit =
            if (earliest && (i == force || r.nextDouble() < rate)) { vols += v; plant(key) }
          maybe(0.10, 4)(standard("R", "CC").copy(projection = true), "f1_projection")
          maybe(0.05, 5)(standard("L", "MLO").copy(modality = "OT"), "f1_modality")
          maybe(0.05, 6)(standard("R", "MLO").copy(shape = Seq(8, 8)), "f1_two_d")
          maybe(0.05, 7)(standard("L", "CC").copy(thickness = Some(10)), "f2_thickness10")
          maybe(0.04, 8)(standard("R", "CC").copy(modifier = Some("Spot Compression")), "f2_spot")
          maybe(0.08, 9)(standard("L", "MLO").copy(thickness = None), "null_thickness_kept")
          // Null laterality only where a lesion row erases a BIRADS, so
          // the label query drops it before the breast-wise key.
          if (hasLesion(s)) maybe(0.3, 0)(standard("R", "CC").copy(lat = None), "null_laterality")
          vols.foreach { v =>
            val u = uid()
            val lat = v.lat.getOrElse("")
            val desc = s"${if (lat.isEmpty) "" else lat + " "}${v.view} Breast Tomosynthesis " +
              (if (v.projection) "Projection" else "Image")
            val series = uid()
            val fields = Map("SOPInstanceUID" -> u, "PatientID" -> patient,
              "StudyInstanceUID" -> studyUid, "SeriesInstanceUID" -> series,
              "Modality" -> v.modality, "SeriesDescription" -> desc) ++
              v.lat.map("FrameLaterality" -> _) ++
              v.thickness.map("SliceThickness" -> _.toString) ++
              v.modifier.map("ViewModifier" -> _)
            val pixels = new Array[Byte](v.shape.product)
            r.nextBytes(pixels)
            write(dir, s"$u.dcm", DicomLike.encode(fields, v.shape, pixels))
            plant(if (earliest) "volumes_earliest" else "volumes_pruned")
            val kept = earliest && v.modality == "MG" && v.shape.size == 3 && !v.projection &&
              !v.thickness.contains(10) && !v.modifier.contains("Spot Compression")
            if (kept) {
              val sc = screen.get(s)
              val (db, dbx) = fold(s, v.lat, sc.map(_._1), tomo)
              val (mb, mbx) = fold(s, v.lat, sc.map(_._2), mri)
              if (sc.isDefined && db.isEmpty) plant("j4_dbt_erasures")
              if (sc.isDefined && mb.isEmpty) plant("j4_mri_erasures")
              records += Record(u, patient, study, studyUid, series, v.shape, desc,
                v.lat, s, db, mb, dbx, mbx)
            }
          }
          if (earliest && (i == 10 || r.nextDouble() < 0.02)) {
            write(dir, s"${uid()}.dcm", "not a volume".getBytes(StandardCharsets.UTF_8))
            plant("undecodable")
          }
          if (r.nextDouble() < 0.03) {
            write(dir, "notes.txt", "reader notes".getBytes(StandardCharsets.UTF_8))
            plant("non_volume_files")
          }
        }
      }
    }
    Planted(counts.toMap, records.sortBy(_.uid).toSeq)
  }

  /** Expected label-set output of one load-truths call, as canonical
    * `key|uid,uid|[a,b][a,b]` lines sorted by key — the label query's
    * semantics applied record by record. */
  def expectedTruths(records: Seq[Record], gtType: String, scope: String,
      dbtOnly: Boolean, mriExcluded: Boolean): Seq[String] = {
    val groups = mutable.Map.empty[String, mutable.ArrayBuffer[(String, Seq[Int])]]
    records.foreach { rec =>
      (rec.dbtBirads, rec.mriBirads) match {
        case (Some(bd), Some(bm)) =>
          val global =
            if (!dbtOnly) Some(if (bd >= bm) bd else bm)
            else if (mriExcluded) (if (bm > bd) None else Some(bd))
            else Some(bd)
          global.filter(_.nonEmpty).map(_.toInt).foreach { gb =>
            val truth: Option[Seq[Int]] = gtType match {
              case "biopsy" =>
                val bad = (o: Option[String]) => o.isEmpty || o.contains("UNKNOWN")
                val d = if (rec.dbtOutcome.contains("MALIGNANT")) 1 else 0
                val m = if (rec.mriOutcome.contains("MALIGNANT")) 1 else 0
                val outcome =
                  if (gb < 3) Some(0)
                  else if (bad(rec.dbtOutcome) && bad(rec.mriOutcome)) None
                  else if (!dbtOnly) Some(math.max(d, m))
                  else if (mriExcluded) (if (m > d) None else Some(d))
                  else Some(d)
                outcome.map(o => if (o == 1) Seq(0, 1) else Seq(1, 0))
              case "acr4+" => Some(if (gb > 3) Seq(0, 1) else Seq(1, 0))
            }
            truth.foreach { t =>
              val key = scope match {
                case "volume-wise" => rec.uid
                case "breast-wise" => s"${rec.subject}_${rec.study}_${rec.laterality.get.toUpperCase}"
                case "patient-wise" => s"${rec.subject}_${rec.study}"
              }
              groups.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ((rec.uid, t))
            }
          }
        case _ => ()
      }
    }
    groups.toSeq.map { case (k, es) => truthLine(k, es.sortBy(_._1).toSeq) }.sorted
  }

  def truthLine(key: String, entries: Seq[(String, Seq[Int])]): String =
    key + "|" + entries.map(_._1).mkString(",") + "|" +
      entries.map(_._2.mkString("[", ",", "]")).mkString

  /** SHA-256 over every file under `root` (relative path + bytes). */
  def treeDigest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(root).filter(Files.isRegularFile(_)).toArray
      .map(_.asInstanceOf[Path]).sortBy(p => root.relativize(p).toString)
    files.foreach { f =>
      md.update(root.relativize(f).toString.getBytes(StandardCharsets.UTF_8))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
