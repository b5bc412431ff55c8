package kgbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kg.{Canonicalizer, Dims, HtmlText, Hydrator, Inference, KgPipeline, Linker,
  MentionScanner, PostProcess, Rdf}

/** The traced form of `KgPipeline.run`: the same public stage functions in
  * the order the pipeline composes them, each reading the previous stage's
  * persisted output, materializing its own under a job group of its own
  * and inside a span of the same name. Only the benchmark's files are
  * instrumented; the engine runs unchanged. */
final class Staged(spark: SparkSession, tracer: Tracer) {
  private val sc = spark.sparkContext
  private val held = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  /** Frames the tier-3 alignment persisted for itself. */
  private val tierCached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Each stage's persisted output, by stage name. */
  def outputs: Map[String, DataFrame] = held.toMap

  /** Run `body` as stage `name`: its jobs carry the job group `name`. */
  def stage(name: String)(body: => DataFrame): DataFrame = tracer.span(name) {
    sc.setJobGroup(name, name)
    try {
      val out = body.persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      held(name) = out
      out
    } finally sc.clearJobGroup()
  }

  def step[T](name: String)(body: => T): T = tracer.span(name) {
    sc.setJobGroup(name, name)
    try body finally sc.clearJobGroup()
  }

  def release(): Unit = {
    (held.values ++ tierCached).foreach(_.unpersist(blocking = false))
    held.clear(); tierCached.clear()
  }

  /** Every stage of `KgPipeline.run` for `cfg` over `pages` (no
    * checkpoint, broadcast tier-1 alignment, no RDF); returns the triples. */
  def run(pages: DataFrame, boot: Boot, client: Inference.InferenceClient,
          cfg: KgPipeline.Config): DataFrame = tracer.span("pipeline") {
    require(!cfg.saltedAlign && cfg.fuzzyAlignMinJaccard.isEmpty &&
      cfg.cosineAlignMinSim.isEmpty && !cfg.emitRdf && cfg.checkpointDir.isEmpty,
      "the staged chain covers broadcast tier-1 alignment without RDF only")
    val extractUdf = udf((html: Array[Byte]) => HtmlText.extract(html))
    val slim = stage("extract") {
      pages.withColumn("extracted_text", extractUdf(col("html")))
        .withColumn("extract_ok", col("extracted_text") === col("text"))
        .drop("text", "html")
        .withColumnRenamed("extracted_text", "text")
        .withColumn("hashed_text", sha2(col("text"), 256))
    }
    val deduped = cfg.dedupMinJaccard match {
      case Some(minJ) =>
        val withId = slim.withColumn("doc_id", xxhash64(col("url")))
        val keep = stage("dedup") {
          val losers = graft.ops.Dedup
            .dedupe(withId.select("doc_id", "text"), minJ, cfg.canonLocalProbe)
            .filter(!col("keep")).select(col("doc_id").as("drop_id"))
          withId.join(losers, withId("doc_id") === losers("drop_id"), "left")
            .filter(col("drop_id").isNull).drop("drop_id", "doc_id")
        }
        keep
      case None => slim
    }
    val extracted = stage("repartition") {
      deduped.repartition(cfg.numPartitions, col("url"))
    }
    val raw = stage("infer") {
      Inference.run(extracted, client, cfg.microBatch, cfg.promptDicts.get).toDF()
    }
    val rawParsed = stage("parse") { PostProcess.withParsed(raw) }
    val parsed = stage("explode") { PostProcess.explodeParsed(rawParsed) }
    val t1 = stage("align.t1") { Linker.align(parsed, boot.alias) }
    val canonical = stage("canon") {
      if (cfg.canonicalize) Canonicalizer(t1, cfg.canonLocalProbe)
      else t1.withColumn("obj_final", col("obj_canonical"))
        .withColumn("entity_cluster_id", xxhash64(col("obj_kind"), col("obj_canonical")))
    }
    val hydrated = stage("hydrate") {
      Hydrator.hydratePrepared(canonical, boot.prepared, cfg.jobStart)
    }
    hydrated.select(KgPipeline.TripleColumns.map(col): _*)
  }

  /** Alignment tiers 2 (fuzzy) and 3 (cosine) over the chain's tier-1
    * output, and RDF over its hydrated output, as stages of their own:
    * the calls `KgPipeline.run` makes when `Config` turns them on, measured
    * beside the committed chain rather than inside it. On a 4-core host
    * they more than double a pass, which the untraced runs' time budget
    * cannot hold. */
  def tiers(boot: Boot, t: Staged.Tiers): Unit = {
    val t2 = stage("align.t2") {
      Linker.alignFuzzy(held("align.t1"), boot.alias, t.fuzzyMinJaccard)
    }
    stage("align.t3") {
      Linker.alignCosine(t2, boot.alias, t.cosineMinSim, registerCached = tierCached += _)
    }
    stage("rdf") { Rdf.fromHydrated(held("hydrate"), boot.dims).toDF() }
  }
}

object Staged {
  /** The `KgPipeline.Config` settings of alignment tiers 2 and 3. */
  final case class Tiers(fuzzyMinJaccard: Double, cosineMinSim: Double)

  val TierStages: Set[String] = Set("align.t2", "align.t3", "rdf")
}

/** Job bootstrap artifacts, built once per job before the first page. */
final case class Boot(dims: Dims.Snapshot, alias: DataFrame,
                      prepared: Hydrator.Prepared,
                      prompt: Seq[Inference.HandlerDict],
                      client: Inference.InferenceClient,
                      seconds: Map[String, Double]) {
  def config(numPartitions: Int): KgPipeline.Config =
    KgPipeline.Config(numPartitions = numPartitions, prebuiltAlias = Some(alias),
      preparedDims = Some(prepared), promptDicts = Some(prompt))
}

object Boot {
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** The bootstrap every page workload pays: full-size dimension snapshot,
    * alias table, hydration keys, prompt dictionaries with their mention
    * automatons, and the client's first call. */
  def build(spark: SparkSession, client: () => Inference.InferenceClient): Boot = {
    val (dims, dimsS) = timed {
      val d = Dims.snapshot(spark).persisted()
      Seq(d.stratDim, d.mineralDim, d.intervalDim, d.gazetteerDim, d.stratGpsDim,
        d.lithDim).foreach(_.count())
      d
    }
    val (alias, aliasS) = timed {
      val a = Linker.aliasDim(dims).cache(); a.count(); a
    }
    val (prepared, prepS) = timed {
      val p = Hydrator.prepare(dims).cached()
      Seq(p.stratKeyed, p.mineralKeyed, p.gaz, p.lithKeyed).foreach(_.count())
      p
    }
    // the prompt dictionaries and their executor-cached automatons
    val (prompt, promptS) = timed {
      val p = Inference.promptDictsFromDims(dims)
      p.foreach { case (h, terms) => MentionScanner(terms, h.ignoreCase) }
      p
    }
    val (c, clientS) = timed {
      val c = client()
      c.infer(Seq(Inference.Request("https://warm.graft/", "warm",
        "The Shakopee Formation overlies the St. Peter in Minnesota.", "en")))
      c
    }
    Boot(dims, alias, prepared, prompt, c, Map("boot.dims_s" -> dimsS,
      "boot.alias_s" -> aliasS, "boot.prepare_s" -> prepS,
      "boot.prompt_dicts_s" -> promptS, "boot.client_warm_s" -> clientS))
  }
}

/** Counts a client's calls from outside: requests, batches and seconds
  * spent inside `infer`, summed over tasks (JVM-wide, keyed by id). */
final class CountingClient(inner: graft.kg.Inference.InferenceClient, id: String)
    extends graft.kg.Inference.InferenceClient {
  def modelId: String = inner.modelId
  def infer(batch: Seq[graft.kg.Inference.Request]): Seq[String] = {
    val t0 = System.nanoTime()
    try inner.infer(batch)
    finally CountingClient.add(id, batch.size, System.nanoTime() - t0)
  }
}

object CountingClient {
  final class State {
    val requests, batches, nanos = new java.util.concurrent.atomic.AtomicLong()
  }
  private val states = new java.util.concurrent.ConcurrentHashMap[String, State]()
  def state(id: String): State = states.computeIfAbsent(id, _ => new State)
  private def add(id: String, n: Int, ns: Long): Unit = {
    val s = state(id); s.requests.addAndGet(n); s.batches.incrementAndGet(); s.nanos.addAndGet(ns)
  }
}
