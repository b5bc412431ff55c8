package kgbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.{Dims, Fixtures, HtmlText, Inference, KgPipeline, PostProcess}
import graft.sources.SnapshotStore

/** A batch workload: generated pages, a client, a pipeline `Config` and the
  * commit protocol that writes one pass's output into a fresh directory. */
sealed trait Workload {
  def name: String
  def pages(seed: Long): Seq[Inputs.Page]
  def client(seed: Long, endpointId: String): Inference.InferenceClient
  def config(boot: Boot, nproc: Int): KgPipeline.Config
  /** The engine's own commit entry point (the untraced pass). */
  def commit(spark: SparkSession, pages: DataFrame, boot: Boot,
             client: Inference.InferenceClient, out: Path, cfg: KgPipeline.Config): Unit
  /** The traced pass's commit of staged outputs, the same tables. */
  def commitStaged(spark: SparkSession, pages: DataFrame, triples: DataFrame, out: Path): Unit
  def triples(spark: SparkSession, out: Path): DataFrame
  /** Alignment tiers 2-3 and RDF settings the traced run measures beside
    * the staged chain ([[Staged.tiers]]), if any. */
  def tiers: Option[Staged.Tiers] = None
  /** Urls the commit marked done. */
  def done(spark: SparkSession, out: Path): DataFrame
  /** Lineage rows of the committed pass. */
  def lineage(spark: SparkSession, out: Path): DataFrame
  def manifestFiles(spark: SparkSession, out: Path): (Long, Long)
  /** Layers the traced run measures beside the staged chain, on its own
    * inputs: per-layer metrics and a detail entry. */
  def probe(spark: SparkSession, a: Main.Args, boot: Boot, fusedOut: Path,
            tracer: Tracer, listener: GroupListener): (Map[String, Double], Map[String, Any])
  /** Seconds since start after which the traced run skips the probe. */
  def probeStartLimitS: Double
}

/** crawl-bulk: `KgPipeline.runAndCommitSnapshot` over long pages into a
  * fresh snapshot store, default `Config` (tier-1 alignment,
  * canonicalization on, no dedup, no RDF) and `Inference.defaultClient`
  * over the full dictionaries. The north-rule pages/sec job, and the
  * no-change control for dedup and transport. Its traced run also streams
  * the incremental cycle ([[StreamCycle]]) into the committed store. */
object CrawlBulk extends Workload {
  val name = "crawl-bulk"
  val BaseDocs = 60
  val Repl = 2
  val Amp = 12

  def pages(seed: Long): Seq[Inputs.Page] = Inputs.crawlPages(seed, BaseDocs, Repl, Amp)

  def client(seed: Long, endpointId: String): Inference.InferenceClient =
    Inference.defaultClient(
      Dims.pinnedStrat.map(_.strat_name).toArray ++ graft.KgQueries.EntTerms ++
        Dims.syntheticStrat(45000).map(_.strat_name),
      Dims.gazetteer.map(_.name).toArray ++ graft.KgQueries.LocTerms,
      Dims.pinnedMinerals.map(_.mineral).toArray)

  def config(boot: Boot, nproc: Int): KgPipeline.Config = boot.config(2 * nproc)

  def commit(spark: SparkSession, pages: DataFrame, boot: Boot,
             client: Inference.InferenceClient, out: Path, cfg: KgPipeline.Config): Unit =
    KgPipeline.runAndCommitSnapshot(spark, pages, boot.dims, client, out.toString, cfg)

  def commitStaged(spark: SparkSession, pages: DataFrame, triples: DataFrame,
                   out: Path): Unit = {
    def bucketed(df: DataFrame) = df.withColumn("url_bucket", KgPipeline.urlBucket(col("url")))
    SnapshotStore.commit(spark, out.toString,
      Map("triples" -> bucketed(triples), "done" -> bucketed(pages.select("url"))),
      partitionBy = Map("triples" -> Seq("url_bucket"), "done" -> Seq("url_bucket")))
  }

  private def table(spark: SparkSession, out: Path, t: String) =
    SnapshotStore.read(spark, out.toString, t).get
  def triples(spark: SparkSession, out: Path): DataFrame =
    table(spark, out, "triples").select(KgPipeline.TripleColumns.map(col): _*)
  def done(spark: SparkSession, out: Path): DataFrame = table(spark, out, "done").select("url")
  def lineage(spark: SparkSession, out: Path): DataFrame = table(spark, out, "lineage")
  def manifestFiles(spark: SparkSession, out: Path): (Long, Long) = {
    val t = SnapshotStore.fileCount(spark, out.toString, "triples").toLong
    (t, t + Seq("done", "lineage").map(SnapshotStore.fileCount(spark, out.toString, _)).sum)
  }

  def probe(spark: SparkSession, a: Main.Args, boot: Boot, fusedOut: Path,
            tracer: Tracer, listener: GroupListener): (Map[String, Double], Map[String, Any]) = {
    val (m, d) = StreamCycle.run(spark, a, boot, fusedOut, tracer, listener)
    (m, Map("stream" -> d))
  }
  val probeStartLimitS = 95.0
}

/** dup-link: `KgPipeline.runAndCommit` (the parquet sink plus done-set)
  * over short pages, a share of them boilerplate near-duplicates in one
  * hot MinHash bucket, with the dedup gate, alignment tiers 2 (fuzzy) and
  * 3 (cosine), canonicalization and RDF on. The model is a zero-latency
  * [[FakeEndpoint]] behind `Inference.TransportClient`, wrapped in
  * `FixtureClient` so fixture pages keep their recordings; its answers
  * carry surface noise and a share of its bodies are malformed (healed by
  * the client's retry). Its traced run also times the gate queries
  * ([[Gate]]). */
object DupLink extends Workload {
  val name = "dup-link"
  val Pages = 150
  val DupShare = 0.2
  val TransientRate = 0.1
  val DedupMinJaccard = 0.7
  override val tiers: Option[Staged.Tiers] =
    Some(Staged.Tiers(fuzzyMinJaccard = 0.6, cosineMinSim = 0.8))

  def pages(seed: Long): Seq[Inputs.Page] = Inputs.shortPages(seed, Pages, DupShare)

  def client(seed: Long, endpointId: String): Inference.InferenceClient =
    new Inference.FixtureClient(Inference.FixtureClient.referenceRecordings,
      new Inference.TransportClient("kgbench-llm",
        FakeEndpoint(endpointId, seed, TransientRate)))

  def config(boot: Boot, nproc: Int): KgPipeline.Config =
    boot.config(2 * nproc).copy(dedupMinJaccard = Some(DedupMinJaccard))

  def commit(spark: SparkSession, pages: DataFrame, boot: Boot,
             client: Inference.InferenceClient, out: Path, cfg: KgPipeline.Config): Unit =
    KgPipeline.runAndCommit(spark, pages, boot.dims, client, out.toString, cfg)

  def commitStaged(spark: SparkSession, pages: DataFrame, triples: DataFrame,
                   out: Path): Unit = {
    def bucketed(df: DataFrame) = df.withColumn("url_bucket", KgPipeline.urlBucket(col("url")))
    bucketed(triples).write.partitionBy("url_bucket").parquet(out.resolve("triples").toString)
    bucketed(pages.select("url")).write.partitionBy("url_bucket")
      .parquet(out.resolve("checkpoint/done").toString)
  }

  def triples(spark: SparkSession, out: Path): DataFrame =
    spark.read.parquet(out.resolve("triples").toString)
      .select(KgPipeline.TripleColumns.map(col): _*)
  def done(spark: SparkSession, out: Path): DataFrame =
    spark.read.parquet(out.resolve("checkpoint/done").toString).select("url")
  def lineage(spark: SparkSession, out: Path): DataFrame =
    spark.read.parquet(out.resolve("lineage").toString)
  def manifestFiles(spark: SparkSession, out: Path): (Long, Long) = {
    def files(sub: String) =
      if (!java.nio.file.Files.exists(out.resolve(sub))) 0L
      else java.nio.file.Files.walk(out.resolve(sub))
        .filter(_.toString.endsWith(".parquet")).count()
    val t = files("triples")
    (t, t + files("checkpoint/done") + files("lineage"))
  }

  def probe(spark: SparkSession, a: Main.Args, boot: Boot, fusedOut: Path,
            tracer: Tracer, listener: GroupListener): (Map[String, Double], Map[String, Any]) = {
    val (m, d) = Gate.run(spark, a, tracer, listener)
    (m, Map("gate" -> d))
  }
  val probeStartLimitS = 120.0
}

/** Runs a batch workload: set-up, then timed passes of the whole input,
  * each committed into a fresh directory, until `--seconds` have been
  * measured. There is no separate warm-up pass: on a 4-core host one pass
  * is 10-30 s, nearly all of it per-job planning, code generation and
  * broadcast work rather than per-page work, and the run budget has no room
  * for a second one. The first pass therefore includes the JIT and code
  * generation a fresh job pays once. */
object Batch {
  val MaxPasses = 8

  /** `session` is the wall and Java-thread CPU seconds the session took. */
  def run(w: Workload, spark: SparkSession, a: Main.Args, session: (Double, Double),
          heap: HeapPeak): Main.Outcome = {
    val nproc = Runtime.getRuntime.availableProcessors
    val generated = w.pages(a.seed)
    val input = Inputs.writeOne(spark, Inputs.toDf(spark, generated, withFixtures = true),
      a.work.resolve("input/pages.parquet"))
    val nPages = generated.size + Fixtures.FixturePages.size
    def pages = spark.read.parquet(input.toString)

    Main.log("setup")
    val (t0, c0, p0) = (System.nanoTime(), Cpu.mark(), Cpu.processNs)
    val boot = Boot.build(spark, () => w.client(a.seed, "setup"))
    val setupWallS = session._1 + (System.nanoTime() - t0) / 1e9
    val setupCpuS = session._2 + Cpu.javaSince(c0) / 1e9
    val bootProcessCpuS = (Cpu.processNs - p0) / 1e9
    val bootParts = boot.seconds + ("boot.session_s" -> session._1)
    val cfg = w.config(boot, nproc)
    val client = w.client(a.seed, "run")

    val region = new Main.Region(heap)
    // per pass: wall s, Java-thread CPU ms, process CPU ms
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var heapPeak = 0.0
    while (passes.isEmpty || (region.wallNs < a.seconds * 1e9 && passes.size < MaxPasses)) {
      Main.log(s"pass ${passes.size}")
      val (w0, c0, p0) = (region.wallNs, region.cpuNs, region.processNs)
      region.start()
      w.commit(spark, pages, boot, client, a.work.resolve(s"out-${passes.size}"), cfg)
      region.stop()
      heapPeak = math.max(heapPeak, heap.peakMb)
      passes += (((region.wallNs - w0) / 1e9, (region.cpuNs - c0) / 1e6,
        (region.processNs - p0) / 1e6))
    }

    Main.log("checks")
    val checked = passes.indices.map(i => check(spark, w, a.work.resolve(s"out-$i"), nPages))
    Checks.require(checked.map(_.digests).distinct.size == 1,
      s"passes disagree: ${checked.map(_.digests).distinct}")
    val first = checked.head
    val expect = Expected.forRun(w.name, a.seed)
    first.digests.foreach { case (k, v) => Checks.pinned(expect, k, v) }

    val walls = passes.map(_._1).toSeq
    val e2e = Map(
      "cpu_ms_per_page" -> Stats.median(passes.map(_._2 / nPages).toSeq),
      "setup_s" -> setupCpuS,
      "peak_heap_mb" -> heapPeak)
    val detail = Map[String, Any]("pages" -> nPages, "passes" -> passes.size,
      "pages_per_s" -> Stats.median(walls.map(nPages / _)),
      "pass_wall_s" -> walls, "pass_process_cpu_ms" -> passes.map(_._3).toSeq,
      "setup_wall_s" -> setupWallS,
      "boot_process_cpu_s" -> bootProcessCpuS,
      "digests" -> first.digests, "boot" -> bootParts,
      "endpoint" -> FakeEndpoint.state("run").snapshot) ++ first.counts

    val (perLayer, traceDetail) =
      if (!a.trace) (Map.empty[String, Double], Map.empty[String, Any])
      else {
        val (m, d) = traced(w, spark, a, boot, cfg, pages, generated, first)
        (m ++ bootParts, d)
      }
    Main.Outcome(e2e, PerLayer.complete(perLayer), nPages,
      first.counts("failed_pages"), detail ++ traceDetail)
  }

  /** What [[check]] found in one committed pass. */
  final case class Checked(digests: Map[String, String], counts: Map[String, Long],
                           withTriples: Long)

  /** Golden parity and page conservation of one committed pass; returns
    * the digests of its triples (and RDF) and its page counts. */
  def check(spark: SparkSession, w: Workload, out: Path, nPages: Long): Checked = {
    val tri = w.triples(spark, out)
    val r = tri.agg(count_distinct(col("url")),
      Checks.saukCol +: Checks.digestCols(tri): _*).collect().head
    val withTriples = r.getLong(0)
    Checks.saukGolden(Checks.saukTriples(r, 1))
    val digests = Map("digest" -> Checks.digestOf(r, at = 2))
    val stages = w.lineage(spark, out).groupBy("stage")
      .agg(sum("input_rows"), sum("output_rows"), sum("failed_rows")).collect()
      .map(r => r.getString(0) -> (0 to 2).map(i => if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)))
      .toMap.withDefaultValue(Seq(0L, 0L, 0L))
    val failed = stages("infer")(2) + stages("parse")(2)
    val dropped = stages("dedup")(2)
    val parsedOk = stages("parse")(1)
    val done = w.done(spark, out).distinct().count()
    // the extract stage counts the pages the dedup gate kept
    Checks.require(stages("extract")(0) + dropped == nPages,
      s"pages in $nPages != extracted ${stages("extract")(0)} + dedup-dropped $dropped")
    Checks.require(done + failed == nPages,
      s"pages in $nPages != marked done $done + failed $failed")
    Checks.require(parsedOk + dropped + failed == nPages,
      s"pages in $nPages != parsed $parsedOk + dedup-dropped $dropped + failed $failed")
    // a parsed page with an empty triplet list commits no triples
    Checks.require(withTriples >= 1 && withTriples <= parsedOk,
      s"pages with triples $withTriples not in [1, parsed $parsedOk]")
    Checked(digests, Map("failed_pages" -> failed, "dedup_dropped" -> dropped,
      "parsed_pages" -> parsedOk, "pages_with_triples" -> withTriples, "marked_done" -> done),
      withTriples)
  }

  /** The traced run: the resume anti-join against the first pass's done
    * set, then the stage-by-stage pass, the workload's alignment tiers 2-3
    * and RDF, and its probe. The staged output must equal the untraced
    * (fused) passes' output. Returns the per-layer metrics and the detail
    * entries (spans under `spans`). */
  def traced(w: Workload, spark: SparkSession, a: Main.Args, boot: Boot,
             cfg: KgPipeline.Config, pages: DataFrame, generated: Seq[Inputs.Page],
             fused: Checked): (Map[String, Double], Map[String, Any]) = {
    val sc = spark.sparkContext
    val nproc = Runtime.getRuntime.availableProcessors
    val listener = new GroupListener
    sc.addSparkListener(listener)
    val tracer = new Tracer
    val staged = new Staged(spark, tracer)
    val counted = new CountingClient(w.client(a.seed, "traced"), "traced")
    val fusedOut = a.work.resolve("out-0")
    val out = a.work.resolve("out-traced")
    Main.log("traced pass")
    // what a resumed run pays before its first page: every page is done
    val left = staged.step("resume") {
      pages.join(broadcast(w.done(spark, fusedOut)), Seq("url"), "left_anti").count()
    }
    Checks.require(left == 0, s"resume left $left of the committed pages to do")
    tracer.span("pass") {
      val tri = staged.run(pages, boot, counted, cfg)
      staged.step("commit") { w.commitStaged(spark, pages, tri, out) }
    }
    val tracedWall = tracer.total("pass")
    val stagedDigests = Map("digest" -> Checks.digest(w.triples(spark, out)))
    Checks.require(stagedDigests == fused.digests,
      s"staged output $stagedDigests != fused ${fused.digests}")
    val stagedWithTriples = staged.outputs("explode").select("url").distinct().count()
    Checks.require(stagedWithTriples == fused.withTriples,
      s"pages with triplets $stagedWithTriples != pages with committed triples ${fused.withTriples}")
    val tiersRun = w.tiers.filter(_ => optional("alignment tiers 2-3 and RDF", TiersStartLimitS))
    tiersRun.foreach(staged.tiers(boot, _))
    GroupListener.drain(sc)
    val m = stageMetrics(tracer, listener, staged)
    staged.release()
    if (tiersRun.nonEmpty) {
      Checks.require(m("align.linked_frac") >= m("align.t1_linked_frac"),
        s"tiers 2-3 unlinked names: ${m("align.linked_frac")} < ${m("align.t1_linked_frac")}")
      Checks.require(m("rdf.triples") > 0, "no RDF triples")
    }
    val cs = CountingClient.state("traced")
    val ep = FakeEndpoint.state("traced")
    // the staged pass's own jobs
    val all = listener.sum(g => g != "" && g != "resume" && !Staged.TierStages(g))
    val (tripleFiles, manifest) = w.manifestFiles(spark, out)
    val htmlMb = generated.map(p => HtmlText.render(p.text, p.lang).length.toLong).sum /
      GroupListener.Mb
    val core = m ++ Map(
      "extract.html_mb" -> htmlMb,
      "infer.client_s" -> cs.nanos.get / 1e9,
      "infer.requests" -> cs.requests.get.toDouble,
      "infer.batches" -> cs.batches.get.toDouble,
      "transport.calls" -> ep.calls.get.toDouble,
      "transport.retries" -> ep.retries.get.toDouble,
      "transport.faults" -> ep.faults.get.toDouble,
      "transport.busy_frac" -> ep.busyNanos.get / 1e9 / (tracer.total("infer") * nproc),
      "pipeline.resume_s" -> tracer.self("resume"),
      "commit.self_s" -> tracer.self("commit"),
      "commit.files" -> tripleFiles.toDouble,
      "commit.mb_written" -> listener.group("commit").outBytes / GroupListener.Mb,
      "commit.manifest_files" -> manifest.toDouble,
      "spark.jobs" -> all.jobs.toDouble, "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble, "spark.task_cpu_s" -> all.cpuNs / 1e9,
      "spark.gc_s" -> all.gcMs / 1e3, "spark.shuffle_mb" -> all.shuffleWrite / GroupListener.Mb,
      "spark.spill_mb" -> all.spill / GroupListener.Mb,
      "spark.slot_busy_frac" -> all.runMs / 1e3 / (tracedWall * nproc))
    val (probed, probeDetail) =
      if (optional("probe", w.probeStartLimitS)) w.probe(spark, a, boot, fusedOut, tracer, listener)
      else (Map.empty[String, Double], Map.empty[String, Any])
    sc.removeSparkListener(listener)
    (core ++ probed, probeDetail ++ Map("traced_wall_s" -> tracedWall,
      "skipped" -> skipped.toSeq, "spans" -> tracer.records))
  }

  /** A run must end within 180 s. The traced run's parts beside the staged
    * chain start only while that leaves room for them in a slow phase of
    * the host, when they take up to 1.75 times their usual 20-40 s; a
    * skipped part's metrics read 0 and its name is listed in the detail
    * line's `skipped`. */
  val TiersStartLimitS = 120.0
  private val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
  private def optional(part: String, startLimitS: Double): Boolean = {
    val go = Main.elapsedS <= startLimitS
    Main.log(if (go) part else s"$part skipped")
    if (!go) skipped += part
    go
  }

  /** Per-stage metrics of a [[Staged]] pass, read from its spans, its
    * job groups and its persisted stage outputs. */
  def stageMetrics(tracer: Tracer, listener: GroupListener,
                   staged: Staged): Map[String, Double] = {
    def cpu(g: String) = listener.group(g).cpuNs / 1e9
    def mb(gs: String*) = gs.map(listener.group(_).shuffleWrite).sum / GroupListener.Mb
    val out = staged.outputs
    def frac(df: DataFrame, cond: org.apache.spark.sql.Column): Double = {
      val r = df.agg(count(lit(1)), sum(when(cond, 1L).otherwise(0L))).collect().head
      if (r.getLong(0) == 0) 0.0 else r.getLong(1).toDouble / r.getLong(0)
    }
    val aligned = out.get("align.t3").orElse(out.get("align.t2")).getOrElse(out("align.t1"))
    val canon = out("canon")
    Map(
      "extract.self_s" -> tracer.self("extract"), "extract.task_cpu_s" -> cpu("extract"),
      "dedup.self_s" -> tracer.self("dedup"), "dedup.task_cpu_s" -> cpu("dedup"),
      "dedup.shuffle_mb" -> mb("dedup"),
      "dedup.spill_mb" -> listener.group("dedup").spill / GroupListener.Mb,
      "dedup.dropped_pages" -> out.get("dedup").map(d => out("extract").count() - d.count())
        .getOrElse(0L).toDouble,
      "infer.self_s" -> tracer.self("infer"), "infer.task_cpu_s" -> cpu("infer"),
      "parse.self_s" -> (tracer.self("parse") + tracer.self("explode")),
      "parse.ok_frac" -> frac(out("parse"), col("parse_status") === PostProcess.StatusOk),
      "parse.triplets" -> out("explode").count().toDouble,
      "align.t1_self_s" -> tracer.self("align.t1"),
      "align.t2_self_s" -> tracer.self("align.t2"),
      "align.t3_self_s" -> tracer.self("align.t3"),
      "align.t1_linked_frac" -> frac(out("align.t1"), col("obj_linked")),
      "align.linked_frac" -> frac(aligned, col("obj_linked")),
      "align.shuffle_mb" -> mb("align.t1", "align.t2", "align.t3"),
      "canon.self_s" -> tracer.self("canon"),
      "canon.jobs" -> listener.group("canon").jobs.toDouble,
      "canon.clusters" -> canon.select("entity_cluster_id").distinct().count().toDouble,
      "canon.merged_frac" -> frac(canon, col("obj_final") =!= col("obj_canonical")),
      "hydrate.self_s" -> tracer.self("hydrate"),
      "hydrate.hit_frac" -> frac(out("hydrate"),
        coalesce(col("strat_name_id").cast("string"), col("mineral_id").cast("string"),
          col("lith_id").cast("string")).isNotNull),
      "rdf.self_s" -> tracer.self("rdf"),
      "rdf.triples" -> out.get("rdf").map(_.count()).getOrElse(0L).toDouble,
      "pipeline.repartition_mb" -> mb("repartition"))
  }
}
