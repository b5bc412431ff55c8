package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The per-page stage chain, wired once for every skin — the batch
  * pipeline ([[KgPipeline.run]], and through it the streaming re-drive),
  * the streaming sink's micro-batches
  * (graft.streaming.StreamingKg.snapshotSinkWithFailures), and the
  * compaction re-hydration:
  *
  *   parsed → explode → tier 1 (broadcast) → [tier 2 fuzzy]
  *   → [tier 3 cosine] → canonicalize | identity → hydrate
  *
  * One value per job, built from `(dims, cfg)`. It owns the static side of
  * every stage: the alias table, the prepared hydration keys, and the
  * derived dictionary of each tier `cfg` turns on (a tier that is off
  * derives nothing). Every tier is a per-name function of these static
  * sides, so a micro-batch and a batch run over the same pages link
  * identically — batch ≡ streaming parity holds by construction.
  *
  * Two lifetimes:
  *  - `StageChain(dims, cfg)`: a one-shot batch plan. Static sides stay
  *    uncached plan fragments, and the aligned frame is persisted as the
  *    batch stage boundary (canonicalization and the run's several outputs
  *    each read it).
  *  - `StageChain.cached(dims, cfg)`: a long-lived chain serving a
  *    stream's micro-batches. No chain runs on a streaming frame: the
  *    sink applies it to each micro-batch, a batch frame. The static
  *    sides it builds are cached once per query, since every micro-batch
  *    would otherwise re-derive them, and [[release]] unpersists them.
  *    The aligned frame is not persisted: a micro-batch is read once by
  *    its commit.
  * A prebuilt alias or prepared dims passed in `cfg` stays the caller's:
  * the chain neither caches nor releases it. */
final class StageChain private (dims: Dims.Snapshot, cfg: KgPipeline.Config,
                                longLived: Boolean) {
  // Static sides are built on first use: a chain that only hydrates (the
  // compaction) never derives the alias table.
  private val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private def own(df: DataFrame): DataFrame = synchronized {
    if (longLived) { val c = df.cache(); owned += c; c } else df
  }

  private lazy val alias = cfg.prebuiltAlias.getOrElse(own(Linker.aliasDim(dims)))
  private lazy val prepared = cfg.preparedDims.getOrElse(Hydrator.prepare(dims).map(own))
  private lazy val fuzzyDict = cfg.fuzzyAlignMinJaccard.map(_ => own(Linker.fuzzyDict(alias)))
  private lazy val stopGrams = for { d <- fuzzyDict; cap <- cfg.fuzzyStopGramMaxDf }
    yield own(Linker.stopGrams(d, cap))
  private lazy val cosineDict = cfg.cosineAlignMinSim.map(_ => own(Linker.cosineDict(alias)))

  /** Map a pre-explode parsed frame (PostProcess.withParsed) to hydrated
    * triples. `registerCached` receives the one frame a pass persists, a
    * one-shot chain's aligned boundary, so the pass's owner unpersists it
    * when its outputs have landed; a long-lived chain persists nothing. */
  def apply(rawParsed: DataFrame,
            registerCached: DataFrame => Unit = _ => ()): DataFrame = {
    val parsed = PostProcess.explodeParsed(rawParsed)
    val t1 = Linker.align(parsed, alias)
    val t2 = cfg.fuzzyAlignMinJaccard.fold(t1)(Linker.alignFuzzy(t1, alias, _,
      cfg.fuzzyStopGramMaxDf, prebuiltDict = fuzzyDict, prebuiltStopGrams = stopGrams))
    val t3 = cfg.cosineAlignMinSim.fold(t2)(Linker.alignCosine(t2, alias, _,
      prebuiltDict = cosineDict))
    val aligned =
      if (longLived) t3
      else { val p = t3.persist(StorageLevel.MEMORY_AND_DISK); registerCached(p); p }
    val canonical =
      if (cfg.canonicalize) Canonicalizer(aligned, cfg.canonLocalProbe)
      else aligned.withColumn("obj_final", col("obj_canonical"))
        .withColumn("entity_cluster_id", xxhash64(col("obj_kind"), col("obj_canonical")))
    hydrate(canonical)
  }

  /** The hydration step alone (J3). `requestedAt` overrides the provenance
    * timestamp source (Hydrator.hydratePrepared): a re-hydration pass keeps
    * each stored row's own timestamp instead of stamping `cfg.jobStart`. */
  def hydrate(canonical: DataFrame, requestedAt: Option[Column] = None): DataFrame =
    Hydrator.hydratePrepared(canonical, prepared, cfg.jobStart, requestedAt = requestedAt)

  /** Unpersist the static sides this chain cached (idempotent). */
  def release(): Unit = synchronized {
    owned.foreach(_.unpersist(blocking = false))
    owned.clear()
  }
}

object StageChain {
  /** A one-shot batch chain (see the class doc). */
  def apply(dims: Dims.Snapshot, cfg: KgPipeline.Config): StageChain =
    new StageChain(dims, cfg, longLived = false)

  /** A long-lived chain with cached static sides; the owner calls
    * [[StageChain.release]] when the stream stops. */
  def cached(dims: Dims.Snapshot, cfg: KgPipeline.Config): StageChain =
    new StageChain(dims, cfg, longLived = true)

  private val extractUdf = udf((html: Array[Byte]) => HtmlText.extract(html))

  /** Extract stage: html → `text` + `hashed_text`, with `extract_ok`
    * checking the extracted text byte-for-byte against a golden `text`
    * column when the pages carry one (input_hint: byte-identical text per
    * url). Drops `html` and the golden text on the spot: only the slim
    * rows move on, so no later shuffle carries the raw html. */
  def extract(pages: DataFrame): DataFrame = {
    val withText = pages.withColumn("extracted_text", extractUdf(col("html")))
    // direct byte equality — hashing both sides would cost two extra
    // sha256 passes per page for the same answer
    val checked =
      if (pages.columns.contains("text"))
        withText.withColumn("extract_ok", col("extracted_text") === col("text"))
      else withText.withColumn("extract_ok", lit(true))
    checked.drop("text", "html")
      .withColumnRenamed("extracted_text", "text")
      .withColumn("hashed_text", sha2(col("text"), 256))
  }

  /** Output projection: the triples table's columns (FIXTURES.md §5). */
  def triples(hydrated: DataFrame): DataFrame =
    hydrated.select(KgPipeline.TripleColumns.map(col): _*)

  /** (url, failed_stage) for the pages of a pre-explode parsed frame whose
    * infer or parse stage failed — the per-doc "NA" failure rows the
    * commits keep out of the done set (KgPipeline.Result.failedUrls). */
  def failedUrls(rawParsed: DataFrame): DataFrame =
    rawParsed.filter(col("parse_status") =!= PostProcess.StatusOk)
      .select(col("url"), PostProcess.failedStage(col("parse_status")).as("failed_stage"))
}
