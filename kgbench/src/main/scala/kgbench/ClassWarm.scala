package kgbench

/** A short engine run whose loaded classes seed the JVM class-data archive
  * `run.py` builds, so each benchmark run starts Spark faster. */
object ClassWarm {
  def main(argv: Array[String]): Unit = {
    val a = Main.Args("crawl-bulk", 0L, 1, trace = false,
      java.nio.file.Paths.get(argv(0)).toAbsolutePath)
    Main.deleteTree(a.work)
    val spark = Main.session(a)
    try {
      val dims = graft.kg.Dims.tiny(spark)
      graft.kg.KgPipeline.run(spark, graft.kg.Pages.fixtures(spark), dims,
        graft.kg.Inference.pinnedClient, graft.kg.KgPipeline.Config(numPartitions = 2))
        .triples.count()
    } finally spark.stop()
    Main.deleteTree(a.work)
  }
}
