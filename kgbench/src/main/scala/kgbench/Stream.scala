package kgbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.kg.{Inference, KgPipeline}
import graft.sources.SnapshotStore
import graft.streaming.StreamingKg

/** The incremental cycle, run in crawl-bulk's traced run on top of the
  * snapshot store its first untraced pass committed: crawl segments stream
  * through `StreamingKg.rawParsedStream` into `snapshotSinkWithFailures`,
  * one segment per micro-batch, each batch starting after the previous one
  * committed. The model is a [[FakeEndpoint]] with a fixed per-call latency
  * and transient faults; one seeded page's batch exhausts the client's
  * retries. The cycle ends with `redriveFailed` and `compactStoreFiles`.
  *
  * Checks: the re-drive heals every failed page, and compaction keeps the
  * triples' digest. Its `transport.*` metrics replace the batch pass's,
  * whose client makes no transport calls. */
object StreamCycle {
  val Segments = 3
  val PagesPerSegment = 8
  val MicroBatch = 4
  val LatencyMs = 20
  val TransientRate = 0.2

  def run(spark: SparkSession, a: Main.Args, boot: Boot, store: Path, tracer: Tracer,
          listener: GroupListener): (Map[String, Double], Map[String, Any]) = {
    val sc = spark.sparkContext
    val dir = store.toString
    val in = a.work.resolve("stream/in")
    val segments = Inputs.streamSegments(a.seed, Segments, PagesPerSegment)
    segments.zipWithIndex.foreach { case (seg, i) =>
      Inputs.writeOne(spark, Inputs.toDf(spark, seg, withFixtures = false),
        in.resolve(f"segment-$i%02d.parquet"))
    }
    val allPages = spark.read.parquet(in.toString)
    val client = new Inference.TransportClient("kgbench-llm",
      FakeEndpoint("stream", a.seed, TransientRate, LatencyMs,
        stuckAttempts = StreamCycle.ClientAttempts))
    val version0 = SnapshotStore.currentVersion(spark, dir)

    val source = spark.readStream.schema(StreamingKg.PageSchema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val sink = StreamingKg.snapshotSinkWithFailures(
      StreamingKg.rawParsedStream(source, boot.dims, client, MicroBatch,
        promptDicts = Some(boot.prompt)), dir, boot.dims)
    val query = tracer.span("stream") {
      val q = sink.writer.option("checkpointLocation", a.work.resolve("stream/ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally sink.release()
      q
    }
    val progress = query.recentProgress.filter(_.numInputRows > 0).toSeq
    def durS(key: String) = progress.map(p => p.durationMs.getOrDefault(key, 0L) / 1e3)
    Checks.require(progress.size == Segments,
      s"stream ran ${progress.size} micro-batches with input, expected $Segments")

    def failedUrls = SnapshotStore.read(spark, dir, "failed")
      .map(_.select("url").distinct().count()).getOrElse(0L)
    val failedBefore = failedUrls
    Checks.require(failedBefore > 0, "no page of the stream failed; the re-drive has nothing to do")
    sc.setJobGroup("redrive", "redrive")
    try tracer.span("redrive") {
      StreamingKg.redriveFailed(spark, dir, allPages, boot.dims, client)
    } finally sc.clearJobGroup()
    val failedAfter = failedUrls
    Checks.require(failedAfter == 0, s"$failedAfter of $failedBefore failed pages not healed")

    def triplesDigest = Checks.digest(SnapshotStore.read(spark, dir, "triples").get
      .select(KgPipeline.TripleColumns.map(col): _*))
    val before = triplesDigest
    sc.setJobGroup("compact", "compact")
    try tracer.span("compact") { KgPipeline.compactStoreFiles(spark, dir) }
    finally sc.clearJobGroup()
    Checks.require(triplesDigest == before, "compaction changed the triples")

    val ep = FakeEndpoint.state("stream")
    val addBatch = durS("addBatch")
    val commitS = durS("triggerExecution")
    (Map(
      "stream.batches" -> progress.size.toDouble,
      "stream.rows_per_batch" -> progress.map(_.numInputRows).sum.toDouble / progress.size,
      "stream.add_batch_s.p50" -> Stats.median(addBatch),
      "stream.plan_s.p50" -> Stats.median(durS("queryPlanning")),
      "redrive.self_s" -> tracer.self("redrive"),
      "redrive.healed_frac" -> (failedBefore - failedAfter).toDouble / failedBefore,
      "compact.self_s" -> tracer.self("compact"),
      "compact.files_after" -> SnapshotStore.fileCount(spark, dir, "triples").toDouble,
      "transport.calls" -> ep.calls.get.toDouble,
      "transport.retries" -> ep.retries.get.toDouble,
      "transport.faults" -> ep.faults.get.toDouble,
      "transport.busy_frac" -> ep.busyNanos.get / 1e9 /
        (tracer.total("stream") * Runtime.getRuntime.availableProcessors)),
      Map("batch_commit_s" -> commitS, "add_batch_s" -> addBatch,
        "failed_before_redrive" -> failedBefore,
        "versions" -> (SnapshotStore.currentVersion(spark, dir) - version0),
        "endpoint" -> ep.snapshot))
  }

  /** `Inference.TransportClient`'s default attempt limit. */
  val ClientAttempts = 3
}
