package graft.pipeline

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** User-facing entry points mirroring the reference's two programs, so a
  * reference user can run the same jobs against this engine:
  *
  *   generate-mapping <imageRoot> <csvDir> <outJson>
  *     — `generate_mapping.py.__main__` (`:159-169`): scan the volume
  *       tree, derive labels, sink the uid->record JSON map.
  *   load-truths <mappingJson> <gtType> <scope> <dbtOnly> <mriExcluded> <outDir>
  *     — `get_ea1141_dbt_truths` (`load_ground_truths.py:3`): the label
  *       query at any of the 24 parameterizations, written as parquet.
  *
  * `csvDir` holds the three clinical CSVs by their published names.
  *
  * Each command prints how many rows it wrote. The count comes from the
  * pass that writes the output, never from reading it back: the mapping
  * counts the rows it collected for the JSON document, and `load-truths`
  * counts its label groups with an [[Observation]] on the parquet write.
  * So every Spark job a command starts produces output.
  */
object Ea1141Main {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("ea1141")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "generate-mapping" :: imageRoot :: csvDir :: outJson :: Nil =>
      val volumes = graft.sources.DicomLike.volumes(VolumeScan.scan(spark, imageRoot))
      // binaryFile paths are file: URIs; rebase the URI prefix (slash
      // included) so ImagePath comes out `$ROOT$/<patient>/...` exactly
      // like the reference's str.replace with a trailing-slash root.
      val rebaseRoot =
        (if (imageRoot.contains(":")) imageRoot else s"file:$imageRoot") +
          (if (imageRoot.endsWith("/")) "" else "/")
      val mapping = Ea1141Pipeline.buildMapping(
        volumes,
        ClinicalCsv.read(spark, s"$csvDir/ea1141_year0_screening_derived.csv"),
        ClinicalCsv.read(spark, s"$csvDir/ea1141_year0_tomolesions_outcome.csv"),
        ClinicalCsv.read(spark, s"$csvDir/ea1141_year0_mrilesions_outcome.csv"),
        imageRoot = rebaseRoot)
      val records = Ea1141Json.writeMappingJson(mapping, outJson)
      println(s"[ea1141] wrote $records records to $outJson")

    case "load-truths" :: mappingJson :: gtType :: scope :: dbtOnly :: mriExcluded :: outDir :: Nil =>
      val mapping = Ea1141Json.readMappingJson(spark, mappingJson)
      val truths = Ea1141Pipeline.groundTruths(mapping, gtType, scope,
        dbtOnly.toBoolean, mriExcluded.toBoolean)
      // A uniquely named Observation per call: calls may run concurrently
      // on one session, and each must read its own write's metrics.
      val written = Observation()
      truths.observe(written, count(lit(1)).as("groups"))
        .write.mode("overwrite").parquet(outDir)
      println(s"[ea1141] wrote ${written.get("groups")} label groups to $outDir")

    case other =>
      throw new IllegalArgumentException(
        s"""usage: generate-mapping <imageRoot> <csvDir> <outJson>
           |     | load-truths <mappingJson> <gtType> <scope> <dbtOnly> <mriExcluded> <outDir>
           |got: ${other.mkString(" ")}""".stripMargin)
  }
}
