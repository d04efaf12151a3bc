package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkTestBase

/** The mapping JSON sink and reader: the driver-side uid sort writes the
  * same bytes as a Spark `orderBy(uid)`, and a read parses the document
  * once. */
class Ea1141JsonSpec extends SparkTestBase {

  /** Records under uids on which Java's UTF-16 `compareTo` and UTF-8 byte
    * order disagree: U+1F600 is a surrogate pair (0xD83D...) and sorts
    * before U+FF01 in UTF-16, after it in UTF-8 (F0 vs EF). */
  private val uids = Seq("1.2.10", "1.2.9", "b", "B", "！", "😀",
    "a😀", "a！", "é", "é", "", null)

  private def mapping(): DataFrame = {
    val schema = Ea1141Json.recordSchema.add("uid", StringType)
    val rows = uids.zipWithIndex.map { case (u, i) =>
      Row(s"EA1141-$i", s"st$i", s"se$i", Seq(8, 4, 2), "Tomo",
        if (i % 3 == 0) null else "R", s"$$ROOT$$/p$i/$u.dcm", s"$i",
        if (i % 2 == 0) "4" else null, "2", null, "BENIGN", u)
    }
    spark.createDataFrame(rows.asJava, schema).repartition(5)
  }

  /** The sink as written with a Spark range sort. */
  private def writeWithOrderBy(df: DataFrame, path: String): Unit = {
    val entries = df
      .select(col("uid"),
        to_json(struct(Ea1141Json.recordSchema.fieldNames.toIndexedSeq.map(col): _*),
          Map("ignoreNullFields" -> "false")).as("j"))
      .orderBy(col("uid"))
      .collect()
      .map(r => s""""${r.getString(0)}": ${r.getString(1)}""")
    Files.writeString(Paths.get(path), entries.mkString("{\n", ",\n", "\n}"))
  }

  test("the driver-side sort writes the same bytes as orderBy(uid)") {
    val dir = Files.createTempDirectory("ea1141_json")
    val driverSorted = dir.resolve("driver.json").toString
    val sparkSorted = dir.resolve("spark.json").toString
    assert(Ea1141Json.writeMappingJson(mapping(), driverSorted) === uids.size)
    writeWithOrderBy(mapping(), sparkSorted)
    val got = Files.readAllBytes(Paths.get(driverSorted))
    assert(got.sameElements(Files.readAllBytes(Paths.get(sparkSorted))))
    // The uids above do exercise the disagreement: UTF-8 order puts
    // U+FF01 first, String.compareTo would not.
    val text = new String(got, "UTF-8")
    assert(text.indexOf("\"！\"") < text.indexOf("\"😀\""))
    assert("😀".compareTo("！") < 0)
  }

  test("plan shape: a read parses the document once, under the label query too") {
    val path = Files.createTempDirectory("ea1141_json_read").resolve("m.json").toString
    Ea1141Json.writeMappingJson(mapping().filter(col("uid").isNotNull), path)
    def parses(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collectWithSubqueries { case p =>
        p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
      }.sum
    val read = Ea1141Json.readMappingJson(spark, path)
    assert(parses(read) === 1, read.queryExecution.optimizedPlan)
    assert(read.count() === uids.size - 1)
    val labels = Ea1141Pipeline.groundTruths(read, "biopsy", "patient-wise", dbtOnly = false,
      mriExcluded = false)
    assert(parses(labels) === 1, labels.queryExecution.optimizedPlan)
  }
}
