package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft._
import graft.kg._

/** Dev profiling main: time each pipeline stage separately. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val dims = time("dims") { val d = Dims.snapshot(spark); d.stratDim.count(); d }
    val stratTerms = Dims.pinnedStrat.map(_.strat_name).toArray ++
      KgQueries.EntTerms ++ Dims.syntheticStrat(45000).map(_.strat_name)
    val client = Inference.defaultClient(
      stratTerms,
      Dims.gazetteer.map(_.name).toArray ++ KgQueries.LocTerms,
      Dims.pinnedMinerals.map(_.mineral).toArray)

    val pages = time("pages") {
      val p = Bench.scalingPages(spark, sfDir, 2, 12)
        .repartition(cores * 2, col("url"))
        .withColumn("hashed_text", sha2(col("text"), 256)).cache()
      p.count(); p
    }
    val raw = time("inference") {
      val r = Inference.run(pages, client, 200).cache(); r.count(); r
    }
    val parsed = time("parse") {
      val p = PostProcess.triplesDf(raw.toDF()).cache(); p.count(); p
    }
    val alias = time("aliasDim") {
      val a = Linker.aliasDim(dims).cache(); a.count(); a
    }
    val aligned = time("align") {
      val a = Linker.align(parsed, alias).cache(); a.count(); a
    }
    val canonical = time("canonicalize") {
      val c = Canonicalizer(aligned).cache(); c.count(); c
    }
    val hydrated = time("hydrate") {
      val h = Hydrator.hydratePrepared(canonical, Hydrator.prepare(dims),
        java.sql.Timestamp.valueOf("2024-06-01 00:00:00")); h.count(); h
    }
    spark.stop()
  }
}
