package graft.sources

import graft.SparkSpec
import graft.kg._
import org.apache.spark.sql.functions._

class FormatsSpec extends SparkSpec {

  private lazy val triples = {
    val dims = Dims.tiny(spark)
    val client = Inference.defaultClient(
      Dims.pinnedStrat.map(_.strat_name).toArray,
      Dims.gazetteer.map(_.name).toArray,
      Dims.pinnedMinerals.map(_.mineral).toArray)
    KgPipeline.run(spark, Pages.fixtures(spark), dims, client,
      KgPipeline.Config(numPartitions = 2)).triples.cache()
  }

  private val key = Seq("url", "subj_name", "predicate", "obj_name", "obj_kind")

  test("triples round-trip identically through every supported format") {
    val want = triples.select(key.map(col): _*).collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    val outDir = tempDir("fmt")
    Formats.Supported.foreach { fmt =>
      Formats.writeTriples(triples, outDir, fmt)
      val got = Formats.readTriples(spark, outDir, fmt)
        .select(key.map(col): _*).collect().map(_.toSeq).toSet
      assert(got === want, s"format $fmt")
    }
  }

  test("bucketed layout prunes url point lookups in orc too") {
    val outDir = tempDir("fmtorc")
    Formats.writeTriples(triples, outDir, "orc")
    // layout: one directory per url_bucket, like the parquet sink
    val buckets = new java.io.File(s"$outDir/triples_orc").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(buckets.nonEmpty && buckets.forall(_.startsWith("url_bucket=")))
    val oneUrl = "https://fixtures.graft/sauk"
    val n = spark.read.orc(s"$outDir/triples_orc")
      .filter(col("url") === oneUrl).count()
    assert(n > 0)
  }

  test("unsupported format is rejected, not stubbed") {
    intercept[IllegalArgumentException] {
      Formats.writeTriples(triples, "/tmp/never", "avro")
    }
  }
}
