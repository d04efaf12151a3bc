package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Checks of the benchmark's own code, without Spark: order statistics,
  * generator determinism, the planted-case bookkeeping, and agreement of
  * the metric registry with `BENCHMARK.json`. Prints one line per check
  * and a summary line; throws on the first failure. */
object SelfTest {
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).recover { case e =>
      System.err.println(s"[selftest] $name threw $e"); false
    }.get
    if (!ok) throw new AssertionError(s"self-test failed: $name")
    passed += 1
    println(s"[selftest] ok  $name")
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def run(benchDir: Path, runDir: Path, specPath: Path): Unit = {
    // Order statistics (reference values from numpy's linear method).
    check("median of odd and even samples") {
      close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0) &&
        close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5) &&
        close(Stats.median(Seq(7.0)), 7.0)
    }
    check("percentile interpolates between order statistics") {
      val xs = (1 to 11).map(_.toDouble)
      close(Stats.percentile(xs, 90), 10.0) && close(Stats.percentile(xs, 0), 1.0) &&
        close(Stats.percentile(xs, 100), 11.0) &&
        close(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 90), 3.7)
    }
    check("interquartile mean drops a quarter at each end") {
      close(Stats.interquartileMean((1 to 8).map(_.toDouble)), 4.5) &&
        close(Stats.interquartileMean(Seq(100.0, 1.0, 2.0, 3.0, 4.0, -50.0, 5.0)), 3.0) &&
        close(Stats.interquartileMean(Seq(2.0, 9.0)), 5.5)
    }
    check("percentile rejects an empty sample") {
      scala.util.Try(Stats.percentile(Nil, 50)).isFailure
    }

    // Generators: same seed, same bytes; another seed, other bytes.
    def cohort(seed: Long, tag: String) = {
      val d = runDir.resolve(s"cohort_$tag")
      val p = Cohort.generate(seed, 60, d.resolve("images"), d.resolve("clinical"))
      (p, Cohort.treeDigest(d))
    }
    val (p1, d1) = cohort(7, "a")
    val (p2, d2) = cohort(7, "b")
    val (p3, d3) = cohort(8, "c")
    check("cohort: same seed gives the same bytes") { d1 == d2 && p1 == p2 }
    check("cohort: another seed gives other bytes") { d1 != d3 && p1.records != p3.records }
    check("stream feed: seeded key shift, time-ordered equal slices") {
      val rows = (0 until 50).map { i =>
        org.apache.spark.sql.Row(i.toLong, new java.sql.Timestamp(1700000000000L + (i * 37 % 50) * 1000L),
          (i % 7).toLong, "click", 1.0, "{}")
      }
      val f = Stream.feed(rows, 3, 4)
      val ts = f.map(_.map(_.getTimestamp(1).getTime))
      f == Stream.feed(rows, 3, 4) && f != Stream.feed(rows, 4, 4) &&
        f.map(_.size) == Seq(12, 13, 12, 13) &&
        ts.sliding(2).forall { case Seq(a, b) => a.max <= b.min } &&
        f.flatten.map(_.getLong(0)).sorted == rows.map(_.getLong(0) + 4000000000L)
    }
    check("fleet sample: one query per tier, seeded") {
      val exp = Fleet.readExpected(benchDir)
      val s1 = Fleet.sample(exp, 1)
      s1 == Fleet.sample(exp, 1) && s1.size == Fleet.Tiers &&
        Fleet.tiers(exp).forall(t => t.count(s1.contains) == 1) &&
        (2 to 6).exists(s => Fleet.sample(exp, s) != s1) &&
        s1.forall(q => !Fleet.Skipped.contains(q))
    }

    // Planted-case bookkeeping.
    check("cohort: every case is planted") {
      Seq("pruned_studies", "empty_earliest_study", "f1_projection", "f1_modality",
        "f1_two_d", "f2_thickness10", "f2_spot", "null_thickness_kept",
        "null_laterality", "undecodable", "j4_dbt_erasures", "j4_mri_erasures",
        "screening_duplicates").forall(k => p1.count(k) >= 1)
    }
    check("cohort: kept records = earliest volumes minus F1/F2 drops") {
      val dropped = Seq("f1_projection", "f1_modality", "f1_two_d", "f2_thickness10",
        "f2_spot").map(p1.count).sum
      p1.records.size == p1.count("volumes_earliest") - dropped
    }
    check("cohort: null-thickness volumes are kept, null laterality has no BIRADS pair") {
      p1.records.count(_.laterality.isEmpty) == p1.count("null_laterality") &&
        p1.records.filter(_.laterality.isEmpty)
          .forall(r => r.dbtBirads.isEmpty || r.mriBirads.isEmpty)
    }
    check("cohort: files on disk match the bookkeeping") {
      val files = Files.walk(runDir.resolve("cohort_a").resolve("images")).iterator().asScala
        .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
      files.count(_.endsWith(".dcm")) == p1.count("volumes_earliest") +
        p1.count("volumes_pruned") + p1.count("undecodable")
    }
    check("cohort: label counts add up to the non-null outcomes") {
      p1.labelCounts.values.sum ==
        p1.records.count(_.dbtOutcome.isDefined) + p1.records.count(_.mriOutcome.isDefined)
    }
    check("expected truths follow the label-query rules on fixed records") {
      def rec(uid: String, lat: String, db: String, mb: String, dbx: Option[String]) =
        Cohort.Record(uid, "EA1141-1", "20160101", "s", "x", Seq(24, 8, 8), "d", Some(lat),
          "1", Some(db), Some(mb), dbx, None)
      val rs = Seq(rec("u1", "L", "1", "2", None), rec("u2", "R", "4", "2", Some("MALIGNANT")),
        rec("u3", "R", "2", "3", None))
      Cohort.expectedTruths(rs, "biopsy", "volume-wise", true, true) ==
        Seq("u2|u2|[0,1]") &&
        Cohort.expectedTruths(rs, "acr4+", "breast-wise", false, false) ==
          Seq("1_20160101_L|u1|[1,0]", "1_20160101_R|u2,u3|[0,1][1,0]") &&
        Cohort.expectedTruths(rs, "biopsy", "patient-wise", false, true) ==
          Seq("1_20160101|u1,u2|[1,0][0,1]")
    }

    // Registry vs BENCHMARK.json.
    val spec = new ObjectMapper().readTree(specPath.toFile)
    def listed(key: String): Seq[(String, String)] =
      spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    check("end-to-end metric names and units match BENCHMARK.json") {
      listed("end_to_end") == Metrics.EndToEnd
    }
    check("per-layer metric names and units match BENCHMARK.json") {
      listed("per_layer") == Metrics.PerLayer
    }
    check("workloads match BENCHMARK.json") {
      spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Main.Workloads
    }
    println(s"""{"selftest":"ok","passed":$passed}""")
  }
}
