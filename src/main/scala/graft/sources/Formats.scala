package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-format table export/import for the triples sink (SURVEY S9/S11).
  *
  * The reference exports its cache table as a single format; a production
  * KG store is consumed by heterogeneous downstreams, so the sink supports
  * every columnar/row format shipped with Spark in this environment:
  * parquet (default; the Iceberg stand-in), ORC (built-in native reader
  * with predicate pushdown + vectorization, same 64-way url-bucket layout)
  * and JSON-lines (interchange; provenance structs serialize naturally).
  * spark-avro is an external module absent from /opt/spark/jars, so avro
  * is intentionally not offered rather than stubbed.
  *
  * All writers keep the KG store's `url_bucket` partition column
  * (graft.kg.KgPipeline.bucketed) so point lookups by url prune to one
  * bucket regardless of format (FIXTURES.md §5).
  */
object Formats {

  val Supported: Set[String] = Set("parquet", "orc", "json")

  def writeTriples(triples: DataFrame, outDir: String, format: String = "parquet"): Unit = {
    require(Supported.contains(format), s"unsupported format $format (${Supported.mkString("/")})")
    graft.kg.KgPipeline.bucketed(triples)
      .write.mode("append").partitionBy("url_bucket")
      .format(format).save(s"$outDir/triples_$format")
  }

  def readTriples(spark: SparkSession, outDir: String, format: String = "parquet"): DataFrame = {
    require(Supported.contains(format), s"unsupported format $format")
    spark.read.format(format).load(s"$outDir/triples_$format").drop("url_bucket")
  }
}
