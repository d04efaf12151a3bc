package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** IO for the uid -> record JSON document map (S6 parse, S8 sink) —
  * the shape of `ea1141-mapping.json` (FIXTURES.md §A).
  */
object Ea1141Json {

  /** Spark schema of one mapping record (FIXTURES.md §A). */
  val recordSchema: StructType = StructType(Seq(
    StructField("PatientID", StringType),
    StructField("StudyInstanceUID", StringType),
    StructField("SeriesInstanceUID", StringType),
    StructField("ImageShape", ArrayType(IntegerType)),
    StructField("SeriesDescription", StringType),
    StructField("FrameLaterality", StringType),
    StructField("ImagePath", StringType),
    StructField("Subject_DE", StringType),
    StructField("DBT_BIRADS", StringType),
    StructField("MRI_BIRADS", StringType),
    StructField("DBT_Outcome", StringType),
    StructField("MRI_Outcome", StringType)))

  /** Parse a whole-file JSON map into one row per volume: the top-level
    * map explodes into (uid, fields...) — `json.loads(...).items()` in
    * the reference (`load_ground_truths.py:23`).
    *
    * Scale note: a single JSON document is inherently one task; at scale
    * the mapping would be stored as JSONL/parquet (one record per line)
    * and this becomes a plain parallel scan — the downstream plan is
    * identical either way.
    */
  def readMappingJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", true).text(path)
      // The parse sits inside the generator, so it runs once per read.
      // Parsed into its own column first, it would be copied into the
      // not-null/non-empty filter Spark infers below an explode.
      .select(explode(from_json(col("value"), MapType(StringType, recordSchema)))
        .as(Seq("uid", "r")))
      .select(col("uid") +: recordSchema.fieldNames.toIndexedSeq.map(f => col(s"r.$f")): _*)

  /** Production shape: one record per line (`{"uid": ..., fields...}`),
    * read as a plain parallel JSON scan — the scale path documented on
    * [[readMappingJson]] (a single JSON map document is inherently one
    * task; JSONL splits across the cluster). */
  def readMappingJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(recordSchema.add(StructField("uid", StringType))).json(path)
      .select(col("uid") +: recordSchema.fieldNames.toIndexedSeq.map(col): _*)

  /** Sink the mapping back to a single JSON map document (S8,
    * `generate_mapping.py:168-169`) — golden-format compatible. Returns
    * the number of records written.
    *
    * The records are ordered by uid on the driver, after `collect()`,
    * in Spark's string order (unsigned UTF-8 bytes, as `orderBy(uid)`
    * would sort them; Java's `String.compareTo` compares UTF-16 units
    * and disagrees above U+FFFF). The document is assembled on the
    * driver anyway, and a Spark range sort would add a sampling job
    * that reads and decodes every volume, then a shuffle of the same
    * input. */
  def writeMappingJson(mapping: DataFrame, path: String): Long = {
    // ignoreNullFields=false: the reference's json.dump writes explicit
    // nulls (28 DBT_BIRADS / 2000 DBT_Outcome nulls in the golden file).
    val entries = mapping
      .select(col("uid"),
        to_json(struct(recordSchema.fieldNames.toIndexedSeq.map(col): _*),
          Map("ignoreNullFields" -> "false")).as("j"))
      .collect()
      .map(r => (UTF8String.fromString(r.getString(0)), r.getString(1)))
      .sortBy(_._1)(uidOrder)
      .map { case (uid, j) => s""""$uid": $j""" }
    val out = entries.mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), out)
    entries.length
  }

  /** Spark's ascending string order: nulls first, then unsigned UTF-8
    * bytes. */
  private val uidOrder: Ordering[UTF8String] = (a, b) =>
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else a.binaryCompare(b)
}
