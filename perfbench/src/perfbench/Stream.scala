package perfbench

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.EventStreams

/** The streaming probe: a seeded, key-shifted replica of the `events` table
  * in `perfbench/data/tables`, split by time into `files` parquet files
  * with rising modification times, drained by three stateful queries with
  * `maxFilesPerTrigger = 1`, so state crosses every file boundary:
  *
  *   - `EventStreams.tumblingCounts` (append),
  *   - `EventStreams.dedupEvents` chained into 5-minute session windows
  *     (append),
  *   - `EventStreams.userStatsTws` on the RocksDB state store (update).
  *
  * One drain runs all three from scratch (fresh checkpoints). Each
  * query's final sink content must equal its batch twin over the same
  * input, restricted to what the final watermark has closed. */
final class Stream(ctx: Ctx, files: Int = Stream.Files) extends Probe {
  import ctx.spark
  import spark.implicits._

  private var src: String = _

  private val schema = Stream.Schema

  def prepare(): Unit = {
    val dir = ctx.freshDir("stream")
    val staged = dir.resolve("staged").toString
    val table = graft.Tables.events(spark, ctx.benchDir.resolve("data").resolve("tables").toString)
      .select(schema.fieldNames.toSeq.map(col): _*)
      .withColumn("ts", col("ts").cast(TimestampType))
    val slices = Stream.feed(table.collect().toSeq, ctx.seed, files)
    val rows = slices.zipWithIndex.flatMap { case (rs, i) => rs.map(r => Row.fromSeq(r.toSeq :+ i)) }
    spark.createDataFrame(rows.asJava, schema.add("slice", IntegerType))
      .coalesce(1).write.partitionBy("slice").parquet(staged)
    // One file per slice, in slice order; the file source takes files
    // oldest first, so modification times follow the slices.
    val srcDir = Files.createDirectories(dir.resolve("events"))
    val t0 = System.currentTimeMillis() - files * 1000L
    (0 until files).foreach { i =>
      val part = new java.io.File(staged, s"slice=$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val dst = srcDir.resolve(f"part-$i%05d.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }
    graft.BenchUtil.deleteRecursively(new java.io.File(staged))
    src = srcDir.toString
  }

  private def input(): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

  /** The three pipelines as (name, output mode, query over an events
    * frame); the same functions give the batch twins, except that batch
    * deduplication is `dropDuplicates` (the watermark-scoped form is
    * streaming-only). */
  private val pipelines: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("tumbling", "append", in => EventStreams.tumblingCounts(in)),
    ("dedup_session", "append", in =>
      (if (in.isStreaming) EventStreams.dedupEvents(in) else in.dropDuplicates("event_id"))
        .groupBy(col("user_id"), session_window(col("ts"), "5 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("sess_start"),
          col("w.end").as("sess_end"), col("n_events"))),
    ("tws", "update", in =>
      EventStreams.userStatsTws(in.select(col("user_id"), col("value")).as[(Long, Double)])
        .toDF("user_id", "n_events", "total_cents")))

  /** Drain one pipeline: final sink rows, progress. */
  private def drain(name: String, mode: String, q: DataFrame => DataFrame)
      : (Seq[Row], Array[StreamingQueryProgress]) = {
    val sink = mutable.ArrayBuffer.empty[Row]
    val ckpt = ctx.freshDir(s"ckpt_$name").toString
    // transformWithState needs the RocksDB store; the other two run on
    // Spark's default store, as a user's query would.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      if (mode == "update") Stream.RocksDb else Stream.HdfsBacked)
    val query = q(input()).writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        sink ++= b.collect()
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    query.awaitTermination()
    val out =
      if (mode == "update") sink.groupBy(_.get(0)).values.map(_.last).toSeq
      else sink.toSeq
    (out, query.recentProgress)
  }

  /** Sink content as sorted `|`-joined rows, compared line for line. */
  private def lines(rs: Seq[Row]): Seq[String] = rs.map(_.toSeq.mkString("|")).sorted

  /** Batch twin of one pipeline over the whole input, keeping only the
    * windows/sessions the streaming run's final watermark closed. */
  private def batchTwin(name: String, q: DataFrame => DataFrame,
      watermark: Timestamp): Seq[String] = {
    // The watermark filter runs on the collected rows: as a DataFrame
    // filter on the session end, Catalyst pushes it below the session
    // merge (the window is a grouping key), where it drops the later
    // events of a session and splits it.
    val endCol = Map("tumbling" -> "w_end", "dedup_session" -> "sess_end").get(name)
    val all = q(spark.read.schema(schema).parquet(src)).collect().toSeq
    lines(endCol.fold(all)(c => all.filter(r => !r.getAs[Timestamp](c).after(watermark))))
  }

  private def watermarkOf(p: Array[StreamingQueryProgress]): Timestamp =
    p.reverseIterator.flatMap(x => Option(x.eventTime.get("watermark")))
      .map(s => Timestamp.from(java.time.Instant.parse(s))).nextOption()
      .getOrElse(new Timestamp(0L))

  /** Drain the three pipelines; (progress reports, failed pipelines). */
  private def drainAll(): (Seq[StreamingQueryProgress], Int) = {
    var failed = 0
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    pipelines.foreach { case (name, mode, q) =>
      val r = ctx.time(s"stream.$name")(drain(name, mode, q))
      r.result.toOption match {
        case None => failed += 1
        case Some((out, p)) =>
          progress ++= p
          val want = batchTwin(name, q, watermarkOf(p))
          val got = lines(out)
          if (got != want) {
            failed += 1
            System.err.println(s"[perfbench] stream $name: ${got.size} sink rows, " +
              s"${want.size} in the batch twin; sink only: ${got.diff(want).take(3)}; " +
              s"twin only: ${want.diff(got).take(3)}")
          }
      }
    }
    (progress.toSeq, failed)
  }

  def layers(): Map[String, Double] = {
    val (p, failed) = ctx.tracer.span("stream.drain")(drainAll())
    require(failed == 0, s"$failed stream pipelines failed or differ from their batch twins")
    def dur(keys: String*): Double =
      p.map(x => keys.map(k => x.durationMs.asScala.get(k).map(_.longValue).getOrElse(0L)).sum)
        .sum / 1e3
    val ops = p.flatMap(_.stateOperators)
    // State size at the end of each query's drain: its last progress.
    val last = p.groupBy(_.id).values.map(_.last).toSeq
    val wall = dur("triggerExecution")
    Map(
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.plan_s" -> dur("queryPlanning"),
      "streaming.offsets_s" -> dur("latestOffset", "getBatch"),
      "streaming.commit_s" -> dur("walCommit", "commitOffsets"),
      "streaming.state_rows" -> last.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mem_bytes" -> last.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum.toDouble,
      "streaming.state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
      "streaming.batches" -> p.size.toDouble,
      "streaming.rows_dropped_late" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble,
      "streaming.input_rows" -> p.map(_.numInputRows).sum.toDouble,
      "streaming.add_batch_share" -> dur("addBatch") / wall)
  }
}

object Stream {
  val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val HdfsBacked = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  val Files = 2

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The stream's input files: `events` rows ([[Schema]]) with event_id
    * and user_id shifted by a seeded offset, ordered by time and cut into
    * `files` slices of equal size (oldest first). */
  def feed(events: Seq[Row], seed: Long, files: Int): Seq[Seq[Row]] = {
    val k = Math.floorMod(seed, 100000L) + 1
    def micros(r: Row) = {
      val i = r.getTimestamp(1).toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    val sorted = events.sortBy(r => (micros(r), r.getLong(0))).map { r =>
      Row(r.getLong(0) + k * 1000000000L, r.get(1), r.getLong(2) + k * 1000000L,
        r.get(3), r.get(4), r.get(5))
    }
    (0 until files).map(i =>
      sorted.slice(i * sorted.size / files, (i + 1) * sorted.size / files))
  }
}
