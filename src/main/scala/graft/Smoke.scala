package graft

import org.apache.spark.sql.SparkSession

/** Dev smoke main mirroring the driver's entry check: run the flagship
  * pipeline, print row count and a sample, dump the physical plan. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = Bench.hostCpus().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(5, truncate = 60)
    if (args.contains("--explain")) df.explain("formatted")
    spark.stop()
  }
}
