package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG construction (BASELINE.json north_rule; SURVEY.md §3.3):
  *
  *   pages → repartition(hash(url)) → resume anti-join → html→text extract
  *   → batched inference (mapPartitions) → lenient parse/explode
  *   → broadcast alignment join → connected-components
  *   canonicalization → hydration joins → triples table
  *   [+ RDF materialization] + per-partition lineage/metrics rows.
  *
  * The extract step and the parse → hydrate chain live in [[StageChain]],
  * shared with the streaming skin (graft.streaming.StreamingKg); this
  * object wires the batch-only stages around them: resume, dedup gate,
  * repartition, inference, lineage, RDF and the commits.
  *
  * Scale posture (designed for 10^12 pages / 1000 executors, tested at
  * local[N]):
  *  - one explicit url-hash repartition up front; every later stage either
  *    preserves partitioning (narrow) or shuffles on aggregation keys,
  *  - all enrichment joins broadcast dictionary-sized dims — zero shuffle
  *    of the page-cardinality side,
  *  - resume is a left_anti join against the checkpoint table (SURVEY J1):
  *    re-running after failure processes only missing urls, and because
  *    every stage is deterministic the union of runs equals one clean run,
  *  - lineage/metrics are per-partition rows computed from
  *    spark_partition_id() over the pass's persisted frames — the parsed
  *    boundary (extract, infer, parse) and the hydrated output (triples) —
  *    so counting re-runs no stage and collects no data rows on the driver.
  */
object KgPipeline {

  /** Url-hash bucket count of the one store layout: every url-keyed table
    * (the parquet sink's triples and done set; a snapshot store's triples,
    * done and failed) is partitioned by it, and the bucket-sharded resume
    * mode selects by it (the parquet stand-in for an Iceberg `bucket(url)`
    * partition transform). */
  val UrlBuckets = 64

  /** The bucket of a url — MUST match the sink partitioning everywhere. */
  def urlBucket(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(url), lit(UrlBuckets))

  /** `df` with its `url_bucket` partition column (recomputed from `url`,
    * replacing any stale copy) — the one place the column is derived. */
  private[graft] def bucketed(df: DataFrame): DataFrame =
    df.withColumn("url_bucket", urlBucket(col("url")))

  /** A store table is url-keyed — staged under `url_bucket=N/` — iff it
    * has a `url` column. */
  private def urlKeyed(df: DataFrame): Boolean = df.columns.contains("url")

  /** Commit KG-store tables in one atomic snapshot
    * (graft.sources.SnapshotStore.commit: `append` tables add files,
    * `replace` tables' files become their full content). This is the store
    * layout, decided once: a table with a `url` column (triples, done,
    * failed) is staged under `url_bucket=N/` directories, so every reader
    * can prune its file list by bucket ([[readBuckets]]); any other table
    * (lineage) is staged flat. Every KG-store writer commits through here. */
  private[graft] def commitStore(spark: SparkSession, dir: String,
                                 append: Map[String, DataFrame],
                                 replace: Map[String, DataFrame] = Map.empty,
                                 meta: Map[String, String] = Map.empty,
                                 requireVersion: Option[Int] = None): Int = {
    def stage(ts: Map[String, DataFrame]) =
      ts.map { case (t, df) => t -> (if (urlKeyed(df)) bucketed(df) else df) }
    graft.sources.SnapshotStore.commit(spark, dir, stage(append), stage(replace),
      meta = meta,
      partitionBy = (append ++ replace).collect {
        case (t, df) if urlKeyed(df) => t -> Seq("url_bucket")
      },
      requireVersion = requireVersion)
  }

  /** Read a url-keyed store table's files for the given buckets only: the
    * manifest prunes to their `url_bucket=N/` files before any IO. Files
    * without a marker (written before every url-keyed table was
    * partitioned) may hold any bucket and are kept, so the result can hold
    * rows of other buckets — pruning saves IO, it never filters rows. None
    * when no file survives. */
  private[graft] def readBuckets(spark: SparkSession, dir: String, table: String,
                                 buckets: Seq[Int],
                                 version: Option[Int] = None): Option[DataFrame] = {
    val markers = buckets.map(b => s"url_bucket=$b/")
    graft.sources.SnapshotStore.read(spark, dir, table, version,
      f => !f.contains("url_bucket=") || markers.exists(f.contains))
  }

  final case class Config(
      numPartitions: Int = 32,
      microBatch: Int = 200,
      // Some(minJaccard) => tier-2 fuzzy alignment (Linker.alignFuzzy):
      // names tier-1 leaves unlinked get a char-3-gram Jaccard argmax
      // against the dictionary — the deterministic stand-in for the
      // reference's sub-normalization embedding matches
      // (alignment.py:110-119). Off by default: it links strictly more
      // than normalization equality, so turning it on changes outputs.
      fuzzyAlignMinJaccard: Option[Double] = None,
      // Some(cap) => drop dictionary grams with document frequency > cap
      // from tier-2 candidate generation (Linker.alignFuzzy stop-gram
      // lever; scoring stays exact). Only read when fuzzyAlignMinJaccard
      // is set.
      fuzzyStopGramMaxDf: Option[Int] = None,
      // Some(minSim) => tier-3 cosine alignment (Linker.alignCosine): names
      // still unlinked after the earlier tiers get the reference's own kNN
      // geometry — argmax cosine against the broadcast known-entity
      // embedding matrix, swap iff sim >= minSim (alignment.py:110-119,
      // under the deterministic hashed-gram embedding). Off by default for
      // the same reason as the fuzzy tier.
      cosineAlignMinSim: Option[Double] = None,
      canonicalize: Boolean = true,
      // false => entity space is known-unbounded (open-vocabulary web
      // extraction): go straight to distributed CC, skip the driver probe.
      canonLocalProbe: Boolean = true,
      // Some(minJaccard) => corpus dedup gate BEFORE extraction work is
      // spent on duplicates (the standard training-data gate): MinHash-LSH
      // candidates → candidate-restricted Jaccard → CC resolution over the
      // extracted text; only each duplicate cluster's min-id winner flows
      // into inference. Drops are counted in the lineage `dedup` stage.
      dedupMinJaccard: Option[Double] = None,
      // This is the done-set scale path: the resume anti-join always pins
      // the done-set as a broadcast, and bucket shards keep each run's
      // slice of a page-cardinality done-set small enough to stay one
      // (PLANS.md round 8).
      // Some(buckets) => bucket-sharded operation (the 10^12-url resume
      // shape PLANS.md round-4 named): this run processes ONLY pages whose
      // url bucket (pmod(xxhash64(url), 64) — the same transform the
      // triples/done sinks partition by) is in the set, and the done-set
      // read prunes to exactly those bucket directories at the parquet
      // scan (static partition pruning — no full done-set scan, and the
      // per-shard done subset is 1/64th, so the anti-join stays a
      // broadcast with no exchange of the page side long after the FULL
      // done-set outgrew broadcast). Scope: sharding is exact for the
      // per-page stages (resume, extract, infer, parse, align, hydrate —
      // all per-url or broadcast-dim work). The corpus-GLOBAL stages see
      // only the shard: canonicalization clusters within the shard (a
      // cross-shard surface-variant pair collapses at the periodic
      // compaction pass, exactly like the streaming path) and the
      // dedupMinJaccard gate dedups within the shard only — run the
      // corpus dedup BEFORE sharding when exact global dedup matters.
      // Union-of-shards parity is tested on the default config's per-page
      // path; None = process everything.
      buckets: Option[Seq[Int]] = None,
      emitRdf: Boolean = false,
      checkpointDir: Option[String] = None,
      jobStart: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
      // Prebuilt bootstrap artifacts (dictionary dedup windows, alias
      // normalization) — build + cache once per job, reuse across runs.
      prebuiltAlias: Option[DataFrame] = None,
      preparedDims: Option[Hydrator.Prepared] = None,
      // Prompt stage (SURVEY P2; reference: text2graph/llm.py:281-311):
      // handlers whose known-entity system prompts are built per page
      // before the client call. None => derive both reference handlers'
      // dictionaries from the dim snapshot (one driver-side collect of the
      // dictionary columns — bootstrap, not per-page work); Some(Seq())
      // disables prompting.
      promptDicts: Option[Seq[Inference.HandlerDict]] = None) {
    require(numPartitions > 0, s"numPartitions must be > 0, got $numPartitions")
    // 0 would otherwise fail only at task time, inside Iterator.grouped
    require(microBatch > 0, s"microBatch must be > 0, got $microBatch")
    // <= 0 links or dedups everything; > 1 silently links nothing
    Seq("fuzzyAlignMinJaccard" -> fuzzyAlignMinJaccard,
        "cosineAlignMinSim" -> cosineAlignMinSim,
        "dedupMinJaccard" -> dedupMinJaccard).foreach { case (name, v) =>
      v.foreach(t => require(t > 0.0 && t <= 1.0, s"$name must be in (0, 1], got $t"))
    }
    // a cap of 0 silently drops every gram
    fuzzyStopGramMaxDf.foreach(c => require(c > 0, s"fuzzyStopGramMaxDf must be > 0, got $c"))

    /** Tier 1 is always the broadcast join. Kept only for the kgbench
      * benchmark's `Staged.run` guard; delete it when kgbench runs the
      * engine's own chain (ROADMAP direction 1). */
    def saltedAlign: Boolean = false

    /** This config with the corpus-wide stages cleared, for an incremental
      * pass — a streaming micro-batch or a failure re-drive. Such a pass
      * sees only its own pages, so it defers canonicalization to
      * compaction (StreamingKg.compactCanonicalize) and corpus dedup to
      * StreamingKg.compactDedup, and it runs no shard filter, resume
      * checkpoint or RDF output of its own. */
    def incremental: Config = copy(canonicalize = false, dedupMinJaccard = None,
      buckets = None, checkpointDir = None, emitRdf = false)
  }

  final case class Result(
      triples: DataFrame,
      lineage: DataFrame,
      rdf: Option[Dataset[Model.RdfTriple]],
      // (url, failed_stage) rows for pages that failed the infer or parse
      // stage (failed_stage = "infer": empty raw after retry exhaustion;
      // "parse": unsalvageable model output) — the per-doc failure state
      // the reference keeps as "NA" placeholder rows
      // (chtc/preprocess_extraction_direct.py:99-110). The commit entry
      // points EXCLUDE these from the done-set, so a failed page is
      // re-driven by the next run instead of being silently marked done
      // with zero triples.
      failedUrls: DataFrame,
      // Unpersists this run's cached intermediates (dedup marks, parsed,
      // aligned, hydrated) and its inference broadcast. Call AFTER all
      // outputs have materialized — a long-lived session (e.g. one
      // SparkSession serving many runs) leaks the cached frames otherwise;
      // the commit entry points below call it for you.
      cleanup: () => Unit = () => ())

  /** Columns of the output triples table (FIXTURES.md §5). */
  val TripleColumns: Seq[String] = Seq(
    "url", "hashed_text", "model_id", "prompt_version",
    "subj_name", "subj_lat", "subj_lon",
    "predicate", "obj_name", "obj_canonical", "obj_final", "obj_kind",
    "obj_linked", "entity_cluster_id",
    "strat_name", "strat_name_long", "rank", "strat_name_id", "concept_id",
    "b_age", "t_age", "b_period", "t_period",
    "mineral", "mineral_id", "mineral_type", "formula", "formula_source",
    "elements",
    "lith", "lith_id", "lith_type", "lith_group", "lith_class",
    "provenance", "requested_at")

  def run(spark: SparkSession, pages0: DataFrame, dims: Dims.Snapshot,
          client: Inference.InferenceClient, cfg: Config = Config()): Result = {

    // J1: resume anti-join against previously committed urls — FIRST, so
    // already-done pages are pruned before any per-page work.
    val pages = resume(pages0, cfg.checkpointDir.flatMap(readDone(spark, _, cfg)), cfg)

    // Extract stage (StageChain.extract): runs BEFORE the repartition and
    // drops `html` + the golden column on the spot — shuffling both the raw
    // html and the text would double the heaviest data movement of the
    // whole job (pages are the only page-cardinality shuffle there is).
    val slim = StageChain.extract(pages)

    // Optional corpus dedup gate (training-data hygiene): runs on the
    // extracted text BEFORE any inference tokens are spent on duplicates.
    // Doc ids are content-derived url hashes; the loser set (keep = false)
    // is duplicate-cluster members only — tiny next to the corpus — so the
    // marking join broadcasts under AQE. Both frames persist: `withId`
    // because Dedup.dedupe scans the docs several times (minhash tokens,
    // Jaccard tokens, sizes), `marked` because the lineage stats and the
    // downstream pipeline each consume it.
    val (deduped, dedupStats, dedupCached) = cfg.dedupMinJaccard match {
      case Some(minJ) =>
        val withId = slim.withColumn("doc_id", xxhash64(col("url")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val losers = graft.ops.Dedup
          .dedupe(withId.select("doc_id", "text"), minJ, cfg.canonLocalProbe)
          .filter(!col("keep")).select(col("doc_id").as("drop_id"))
        val marked = withId
          .join(losers, withId("doc_id") === losers("drop_id"), "left")
          .withColumn("dedup_keep", col("drop_id").isNull)
          .drop("drop_id", "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val stats = marked
          .groupBy(spark_partition_id().as("partition_id"))
          .agg(count(lit(1)).as("input_rows"),
            sum(when(col("dedup_keep"), 0L).otherwise(1L)).as("failed_rows"))
          .withColumn("stage", lit("dedup"))
          .withColumn("output_rows", col("input_rows") - col("failed_rows"))
        (marked.filter(col("dedup_keep")).drop("dedup_keep"), Some(stats),
          Seq(withId, marked))
      case None => (slim, None, Seq.empty[DataFrame])
    }

    // B1: explicit url-hash partitioning of the slim rows — the unit of
    // downstream work distribution + lineage.
    val extracted = deduped.repartition(cfg.numPartitions, col("url"))

    // P2 + B2/B3: prompt construction + batched inference in mapPartitions.
    // The client and its dictionaries ship in one broadcast that
    // Result.cleanup unpersists with the run's caches.
    val prompting = cfg.promptDicts
      .getOrElse(Inference.promptDictsFromDims(dims))
    val shipped = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.broadcast.Broadcast[_]]
    val raw = Inference.run(extracted, client, cfg.microBatch, prompting, shipped += _)

    // P3/P4/P5: lenient parse → validated triples. The PRE-explode frame is
    // the persisted stage boundary — the downstream triple chain explodes
    // it, and the page bookkeeping (the extract/infer/parse lineage stages
    // + Result.failedUrls) reads its extract_ok and parse_status columns,
    // all off one cache; without a persist every action would re-run
    // extract+inference+parse from the scan (the reference commits exactly
    // this intermediate to its cache table, chtc/db.py:56-66). Disk-backed
    // so it degrades gracefully when the raw set outgrows executor memory
    // at scale.
    val rawParsed = PostProcess.withParsed(raw.toDF())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // J2 alignment tiers → CC canonicalization → J3 hydration: the shared
    // chain. Its aligned stage boundary persists; Result.cleanup releases
    // it with the run's other caches.
    // The hydrated output is the pass's output boundary: the triples, their
    // lineage count and the RDF each read it, so hydration runs once.
    val chainCached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val hydrated = StageChain(dims, cfg)(rawParsed, chainCached += _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val triples = StageChain.triples(hydrated)

    // Lineage/metrics: one row per partition per stage (replaces the
    // reference's job_id bookkeeping + "NA" failure placeholders,
    // chtc/db.py:26-66). ONE aggregation over the persisted pre-explode
    // frame yields the three page stages: it keeps the url repartition's
    // partitioning, and it carries each page's extract check through
    // inference. Infer and parse are the reference's per-doc "NA" failure
    // bookkeeping (preprocess_extraction_direct.py:99-110): a page with an
    // empty raw failed `infer` (retry exhaustion is deterministic
    // downstream of TransportClient's empty-raw degradation); a page whose
    // non-empty raw yields no triplet list failed `parse`. A
    // legitimately-empty page (valid JSON, zero triplets) fails neither —
    // the distinction the raw-count bookkeeping alone cannot make.
    val pageCounts = rawParsed
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("n_in"),
        sum(when(col("extract_ok"), 0L).otherwise(1L)).as("n_extract_failed"),
        sum(when(col("parse_status") === PostProcess.StatusInferFailed, 1L)
          .otherwise(0L)).as("n_infer_failed"),
        sum(when(col("parse_status") === PostProcess.StatusParseFailed, 1L)
          .otherwise(0L)).as("n_parse_failed"))
    val pageStats = pageCounts.select(
      lit("extract").as("stage"), col("partition_id"),
      col("n_in").as("input_rows"),
      (col("n_in") - col("n_extract_failed")).as("output_rows"),
      col("n_extract_failed").as("failed_rows"))
    val inferStats = pageCounts.select(
      lit("infer").as("stage"), col("partition_id"),
      col("n_in").as("input_rows"),
      (col("n_in") - col("n_infer_failed")).as("output_rows"),
      col("n_infer_failed").as("failed_rows"))
    val parseStats = pageCounts.select(
      lit("parse").as("stage"), col("partition_id"),
      (col("n_in") - col("n_infer_failed")).as("input_rows"),
      (col("n_in") - col("n_infer_failed") - col("n_parse_failed")).as("output_rows"),
      col("n_parse_failed").as("failed_rows"))
    val tripleStats = triples
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("output_rows"))
      .withColumn("stage", lit("triples"))
      .withColumn("input_rows", lit(null).cast("long"))
      .withColumn("failed_rows", lit(0L))
    val lineage = dedupStats.foldLeft(
        pageStats.unionByName(inferStats).unionByName(parseStats)
          .unionByName(tripleStats))(
        (acc, d) => acc.unionByName(d))
      .withColumn("job_start", lit(cfg.jobStart))
      .select("stage", "partition_id", "input_rows", "output_rows",
              "failed_rows", "job_start")

    val rdf = if (cfg.emitRdf) Some(Rdf.fromHydrated(hydrated, dims)) else None
    val cached = dedupCached ++ chainCached :+ rawParsed :+ hydrated
    Result(triples, lineage, rdf, StageChain.failedUrls(rawParsed),
      () => {
        cached.foreach(_.unpersist(blocking = false))
        shipped.foreach(_.unpersist(blocking = false))
      })
  }

  /** Run + commit: write triples and lineage, then mark urls done so a
    * subsequent run with the same checkpointDir is incremental
    * (idempotent re-entry — running twice yields the same table). Triples
    * and the done set are written `url_bucket`-partitioned, the store
    * layout of [[commitStore]]: point lookups by url prune to one bucket
    * and a bucket-sharded resume reads only its shard's done directories.
    * The run's caches are released whether or not the writes succeed. */
  def runAndCommit(spark: SparkSession, pages: DataFrame, dims: Dims.Snapshot,
                   client: Inference.InferenceClient, outDir: String,
                   cfg: Config = Config()): Unit = {
    val checkpoint = s"$outDir/checkpoint"
    val todo = resume(pages, readDone(spark, checkpoint, cfg), cfg)
    val res = run(spark, todo, dims, client, cfg.copy(checkpointDir = None))
    try {
      bucketed(res.triples)
        .write.mode("append").partitionBy("url_bucket").parquet(s"$outDir/triples")
      res.lineage.write.mode("append").parquet(s"$outDir/lineage")
      res.rdf.foreach(_.write.mode("append").parquet(s"$outDir/rdf"))
      // commit the done-set last: urls become "done" only after data landed.
      // Only this run's urls are appended, so the checkpoint table doesn't
      // accumulate duplicates across resumed runs. Urls that FAILED infer or
      // parse this run are excluded — they stay not-done, so the next run's
      // resume anti-join re-drives them (the reference's re-drivable "NA"
      // placeholder semantics; with a deterministic client they fail again,
      // with a healed transport they heal).
      bucketed(todo.select("url").join(broadcast(res.failedUrls), Seq("url"), "left_anti"))
        .write.mode("append").partitionBy("url_bucket").parquet(s"$checkpoint/done")
    } finally res.cleanup()
  }

  /** Run + snapshot-commit: triples, lineage and the resume `done` set
    * publish in ONE atomic snapshot through [[commitStore]] (the
    * Iceberg-commit stand-in). Compared to [[runAndCommit]]'s
    * write-data-then-mark-done two-step (the reference's shape,
    * chtc/db.py:56-66), a crash anywhere here leaves the store exactly at
    * the previous snapshot: no partial data, no done-urls without data,
    * and a re-run converges to the same final table (exactly-once with
    * deterministic stages). The run's caches are released whether or not
    * the commit succeeds. */
  def runAndCommitSnapshot(spark: SparkSession, pages: DataFrame, dims: Dims.Snapshot,
                           client: Inference.InferenceClient, tableDir: String,
                           cfg: Config = Config()): Int = {
    // Done-set read: in bucket-sharded mode the manifest prunes the file
    // list to the shard's buckets before any IO.
    val done = cfg.buckets.fold(graft.sources.SnapshotStore.read(spark, tableDir, "done"))(
      readBuckets(spark, tableDir, "done", _))
    val todo = resume(pages, done, cfg)
    val res = run(spark, todo, dims, client, cfg)
    // failed-url exclusion: same re-drivable semantics as runAndCommit —
    // the snapshot's done table never claims a page whose infer/parse
    // failed this run
    try commitStore(spark, tableDir, append = Map(
      "triples" -> res.triples,
      "lineage" -> res.lineage,
      "done" -> todo.select("url").join(broadcast(res.failedUrls), Seq("url"), "left_anti")))
    finally res.cleanup()
  }

  /** Small-file compaction for a KG snapshot store (the
    * `rewrite_data_files` maintenance job): every [[runAndCommitSnapshot]]
    * run and every streaming micro-batch APPENDS files, so a long-lived
    * store's manifest file list — and with it scan planning and per-file
    * open cost — grows without bound even at stable data volume. This
    * rewrites the store's current content into a compact file set in one
    * replace-mode snapshot: the url-keyed tables (triples, done, failed)
    * are staged in the [[commitStore]] layout — the bucket recomputed from
    * `url`, since staging strips partition columns from the file data — at
    * roughly one file per bucket, so manifest pruning keeps working and
    * unmarked files of older stores converge to the layout; lineage
    * coalesces to a bounded count. Row sets are byte-identical — pure
    * layout maintenance, schedule-composable; [[graft.sources
    * .SnapshotStore.expireSnapshots]] reclaims the replaced files. Returns
    * the committed version, None when the store holds no data. */
  def compactStoreFiles(spark: SparkSession, tableDir: String): Option[Int] = {
    val readVersion = graft.sources.SnapshotStore.currentVersion(spark, tableDir)
    val present = Seq("triples", "done", "lineage", "failed").flatMap { t =>
      graft.sources.SnapshotStore.read(spark, tableDir, t, Some(readVersion)).map(t -> _)
    }.toMap
    if (present.isEmpty) None
    else Some(commitStore(spark, tableDir, append = Map.empty,
      replace = present.map { case (t, df) =>
        t -> (if (urlKeyed(df)) df.repartition(UrlBuckets, urlBucket(col("url"))) else df.coalesce(8))
      },
      meta = Map("compaction" -> "rewrite"), requireVersion = Some(readVersion)))
  }

  /** The pages a run still owes: the configured bucket shard (no-op when
    * bucket sharding is off), minus the done set when there is one — a
    * broadcast left-anti join, so the page side never shuffles. Every
    * resume ([[run]]'s checkpoint, [[runAndCommit]],
    * [[runAndCommitSnapshot]]) goes through here. */
  private def resume(pages: DataFrame, done: Option[DataFrame], cfg: Config): DataFrame = {
    val scoped = cfg.buckets.fold(pages)(bs =>
      pages.filter(urlBucket(col("url")).isin(bs.map(_.toLong): _*)))
    done.foldLeft(scoped)((todo, d) =>
      todo.join(broadcast(d.select("url")), Seq("url"), "left_anti"))
  }

  /** The parquet sink's done set under `checkpoint`, None before its first
    * commit. In bucket-sharded mode the url_bucket predicate is a
    * PARTITION filter: the scan reads only the shard's bucket directories
    * (verified executed-plan evidence in PLANS.md round-5 —
    * `PartitionFilters: [url_bucket IN (...)]`, no full done-set IO). */
  private def readDone(spark: SparkSession, checkpoint: String, cfg: Config): Option[DataFrame] =
    Some(new org.apache.hadoop.fs.Path(s"$checkpoint/done"))
      .filter(p => p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      .map { p =>
        val done = spark.read.parquet(p.toString)
        cfg.buckets.fold(done)(bs => done.filter(col("url_bucket").isin(bs.map(_.toLong): _*)))
      }
}
