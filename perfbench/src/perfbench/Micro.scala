package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.DedupClusters

/** Layer probes that no workload loop isolates: the native expressions
  * of `graft.functions`, timed per row over fixed `documents` and
  * `embeddings` columns, and `DedupClusters.connectedComponents` on a
  * seeded graph. */
object Micro {

  /** ns per row of each native expression: the median of three timed
    * aggregations over cached, replicated inputs. */
  def functions(ctx: Ctx, tables: String, copies: Int = 5): Map[String, Double] = {
    import ctx.spark
    val reps = spark.range(copies).withColumnRenamed("id", "copy")
    val docs = spark.read.parquet(s"$tables/documents.parquet").select(col("doc_id"), col("text"))
    val text = docs.crossJoin(reps)
      .select(col("text"), GraftFunctions.hashed_shingles(col("text")).as("sh"))
    val emb = spark.read.parquet(s"$tables/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    // Each vector paired with the next one (wrapping), replicated.
    val pairs = emb.as("a").join(emb.as("b"),
        (col("a.vec_id") + 1) % lit(n) === col("b.vec_id"))
      .select(col("a.embedding").as("e1"), col("b.embedding").as("e2"))
      .crossJoin(reps)
    // Shingle sets paired with the next document's, for intersections.
    val shPairs = docs.select(col("doc_id"), GraftFunctions.hashed_shingles(col("text")).as("sh"))
    val shJoined = shPairs.as("a").join(shPairs.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
      .select(col("a.sh").as("s1"), col("b.sh").as("s2")).crossJoin(reps)

    def timed(name: String, in: DataFrame, expr: Column): (String, Double) = {
      val cached = in.cache()
      val rows = cached.count()
      val secs = (1 to 3).map { _ =>
        ctx.time(s"functions.$name")(cached.agg(sum(expr)).collect()).seconds
      }
      cached.unpersist(blocking = true)
      s"functions.$name.ns_per_row" -> Stats.median(secs) * 1e9 / rows
    }
    Map(
      timed("cosine_sim", pairs, GraftFunctions.cosine_sim(col("e1"), col("e2"))),
      timed("squared_l2", pairs, GraftFunctions.sq_l2(col("e1"), col("e2"))),
      timed("minhash_slots", text, size(GraftFunctions.min_hash_slots(col("sh"), 8))),
      timed("hashed_shingles", text, size(GraftFunctions.hashed_shingles(col("text")))),
      timed("squash_non_alnum", text, length(GraftFunctions.squash_non_alnum(col("text")))),
      timed("set_intersect_size", shJoined,
        GraftFunctions.set_intersect_size(col("s1"), col("s2"))))
  }

  /** Connected components of a fixed graph read from parquet, as the
    * dedup queries feed it: disjoint 8-node chains, so pointer jumping
    * needs a few rounds; every round runs a fixed set of Spark jobs, so
    * the job count tracks the rounds. (Seeded random graphs with shortcuts
    * were tried first: on some seeds the operator spent minutes in
    * Catalyst's size estimation of its nested joins.) */
  def connectedComponents(ctx: Ctx, nodes: Int = 4000, chain: Int = 8): Map[String, Double] = {
    import ctx.spark
    import spark.implicits._
    val dir = ctx.freshDir("graph")
    (0 until nodes).filter(_ % chain != chain - 1).map(i => (i.toLong, i + 1L))
      .toDF("src", "dst").write.parquet(dir.resolve("edges").toString)
    spark.range(nodes).toDF("id").write.parquet(dir.resolve("nodes").toString)
    val edges = spark.read.parquet(dir.resolve("edges").toString)
    val ids = spark.read.parquet(dir.resolve("nodes").toString)
    val before = ctx.sc.getPersistentRDDs.keySet.toSet
    val t = ctx.time("operators.connected_components")(
      ctx.noop(DedupClusters.connectedComponents(ids, edges)))
    t.result.get
    ctx.sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      .values.foreach(_.unpersist(blocking = true))
    ctx.drain()
    Map("operators.connected_components_s" -> t.seconds,
      "operators.cc_jobs" -> ctx.jobs.take("operators.connected_components").jobs.toDouble)
  }
}
