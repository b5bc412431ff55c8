package kgbench

import org.apache.spark.sql.SparkSession

/** The gate queries, run in dup-link's traced run over seeded tables in the
  * engine's synthetic star schema: the `SparkEntry.queries` the pipeline
  * workloads never reach (the `graft.ops` simhash, all-pairs Jaccard,
  * MinHash, embedding-LSH and k-means/IVF kernels, the retrieval query and
  * two relational ones). One closed loop: a warm-up pass that digests each
  * query's rows (checked against the pins for the default seed), then a
  * timed `count()` per query under a job group of its own. */
object Gate {
  val Names: Seq[String] = Seq("dedup_jaccard", "dedup_minhash_lsh", "dedup_embedding",
    "kg_retrieval_hybrid_rel", "dedup_resolve", "sim_ivf_kmeans", "dedup_simhash_near",
    "q_window_firsthit", "q3_join_topk")
  val Docs = 500
  val DupShare = 0.1

  def layer(q: String): String =
    if (graft.OpsQueries.queries.contains(q)) "ops"
    else if (graft.KgQueries.queries.contains(q)) "kg"
    else "sql"

  def run(spark: SparkSession, a: Main.Args, tracer: Tracer,
          listener: GroupListener): (Map[String, Double], Map[String, Any]) = {
    val sc = spark.sparkContext
    val dir = a.work.resolve("gate")
    Inputs.gateTables(spark, a.seed, Docs, DupShare).foreach { case (t, df) =>
      Inputs.writeOne(spark, df, dir.resolve(s"$t.parquet"))
    }
    val queries = graft.SparkEntry.queries
    val digests = Names.map(q => q -> Checks.digest(queries(q)(spark, dir.toString))).toMap
    val expect = Expected.forRun("gate", a.seed)
    digests.foreach { case (q, d) => Checks.pinned(expect, q, d) }
    Names.foreach { q =>
      sc.setJobGroup("q." + q, q)
      try tracer.span("q." + q) { queries(q)(spark, dir.toString).count() }
      finally sc.clearJobGroup()
    }
    GroupListener.drain(sc)
    val secs = Names.map(q => q -> tracer.total("q." + q)).toMap
    def layerS(l: String) = Names.filter(layer(_) == l).map(secs).sum
    val groups = listener.sum(_.startsWith("q."))
    (secs.map { case (q, s) => s"q.${q}_s" -> s } ++ Map(
      "gate.sql_s" -> layerS("sql"), "gate.ops_s" -> layerS("ops"), "gate.kg_s" -> layerS("kg"),
      "gate.jobs" -> groups.jobs.toDouble,
      "gate.shuffle_mb" -> groups.shuffleWrite / GroupListener.Mb),
      Map("query_s" -> secs, "digests" -> digests,
        "query_s_p50" -> Stats.median(secs.values.toSeq)))
  }
}
