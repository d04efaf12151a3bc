package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Stage pricing for q_prefix_filter_join (round-14 verdict item 3):
  * times each pipeline leg in isolation so the optimization targets
  * the measured cost, not the plan's visual bulk.
  * Run: `runMain graft.queries.AbPrefixJoin <dir> [reps]`.
  */
object AbPrefixJoin {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.Tables.documentsSpread(spark, dir)
    catch { case NonFatal(e) => System.err.println(s"[ab] documentsSpread failed: $e") }

    def time(name: String)(mk: => DataFrame): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        sec
      }
      println(f"[ab] $name%-24s ${ts.min}%6.2f s  (all: ${ts.map(t => f"$t%.2f").mkString(", ")})")
    }

    def docs = graft.Tables.documentsSpread(spark, dir)
    def repsAb = {
      val classes = docs.groupBy(sha2(col("text"), 256).as("dg"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_members"))
        .select(col("doc_id"), col("n_members"))
      docs.join(classes, Seq("doc_id"))
    }
    def sized = repsAb
      .select(col("doc_id"), col("n_members"),
        graft.functions.GraftFunctions.hashed_shingles(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("n", size(col("toks")))
    def invOf(szd: DataFrame) = {
      val ex = szd.select(col("doc_id"), col("n"), explode(col("toks")).as("h"))
      val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
      ex.join(dfreq, Seq("h"))
        .withColumn("rk", row_number().over(wDoc))
        .filter(col("rk") <= col("n") - expr("(n + 1) DIV 2") + 1)
        .select(col("doc_id"), col("h"))
    }

    time("sized")(sized)
    time("inv")(invOf(sized))
    time("cand-distinct") {
      val inv = invOf(sized)
      inv.toDF("id_a", "h").join(inv.toDF("id_b", "h"), Seq("h"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
    }
    time("full-query") {
      graft.SparkEntry.queries("q_prefix_filter_join")(spark, dir)
    }
    spark.stop()
  }
}
