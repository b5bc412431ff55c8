package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

/** Parquet table loaders for the driver-generated synthetic star schema
  * (see /root/repo/TESTDATA.md). All reads go through here so filters and
  * projections push down to a single parquet scan per table.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Scale-adaptive scan spread — optimization guide §2.5 ("input skew:
    * one huge unsplittable file … repartition immediately after the
    * read"). The sandbox tables are single sub-MB parquet files, so every
    * scan is ONE task and the downstream per-row compute (tokenize +
    * per-token md5, shingling, JSON parse, dot products) serializes on one
    * core no matter how many the cluster has — the round-7 job audit
    * measured the simhash fingerprint stage as a single 1.5 s task with 31
    * idle cores. When the scan yields fewer tasks than the cluster's
    * parallelism, hash-repartition on the table's row key right after the
    * read: the narrow compute spreads across the cluster, and because the
    * key is the row key, downstream per-key aggregations and joins keyed
    * the same way satisfy their clustering from this one exchange (guide
    * §2.4 "two operations keyed the same way can share one exchange").
    * At production scale the scan has >= parallelism splits and this is
    * the identity — no shuffle is ever added for data that already
    * parallelizes. Keyed (never round-robin) so row placement is
    * deterministic under task retries (guide §2.5, SPARK-38388 note).
    * Filters written above this still push down to the parquet scan —
    * PushDownPredicates moves them through RepartitionByExpression
    * (plan-audited: PushedFilters unchanged). Spread never executes its
    * input: a frame whose plan holds an exchange or a subquery comes back
    * unchanged, because asking such a frame for its partition count runs
    * its upstream stages (AQE) only to discard them. */
  def spread(spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    // .rdd is illegal on a streaming frame and would run an exchange's stages
    if (df.isStreaming || !exchangeFree(df)) return df
    val p = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p, col(key)) else df
  }

  /** No shuffle or broadcast exchange and no subquery in the physical
    * plan. AQE wraps only plans that hold one of those. A cached input is
    * a leaf here: its own stages run once, for the cache. */
  private def exchangeFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case p => p.subqueries.nonEmpty
    }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
