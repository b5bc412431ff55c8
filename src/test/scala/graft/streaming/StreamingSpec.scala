package graft.streaming

import graft.SparkSpec
import graft.kg._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dims = Dims.tiny(spark)
  private def client = Inference.defaultClient(
    Dims.pinnedStrat.map(_.strat_name).toArray,
    Dims.gazetteer.map(_.name).toArray,
    Dims.pinnedMinerals.map(_.mineral).toArray)

  /** Streams `pagesDir` through rawParsedStream → snapshotSinkWithFailures
    * to completion (AvailableNow) and returns the fresh store's dir. */
  private def sinkRun(pagesDir: String,
                      c: Inference.InferenceClient = client,
                      cfg: KgPipeline.Config = KgPipeline.Config()): String = {
    val storeDir = tempDir("sinkstore")
    val ckpt = tempDir("sinkckpt")
    val stream = StreamingKg.pagesStream(spark, pagesDir)
    assert(stream.isStreaming)
    val sink = StreamingKg.snapshotSinkWithFailures(
      StreamingKg.rawParsedStream(stream, dims, c),
      storeDir, dims, cfg)
    try {
      val q = sink.writer.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "streaming query did not finish in 60 s")
    } finally sink.release()
    storeDir
  }

  /** (files carrying a `url_bucket=` marker, all files) of a store table
    * in the head manifest. */
  private def marked(dir: String, table: String): (Int, Int) = {
    import graft.sources.SnapshotStore
    (SnapshotStore.fileCount(spark, dir, table, _.contains("url_bucket=")),
      SnapshotStore.fileCount(spark, dir, table))
  }

  private def fixturePagesDir(): String = {
    val dir = tempDir("pagestream")
    Pages.fixtures(spark).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming triple extraction matches batch semantics per row") {
    import graft.sources.SnapshotStore
    val triples = SnapshotStore.read(spark, sinkRun(fixturePagesDir()), "triples").get
    val got = triples
      .filter(col("url") === "https://fixtures.graft/sauk")
      .select("subj_name", "predicate", "obj_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === Fixtures.SaukGoldenTriples)
    // alignment ran: canonical column exists and the long-form entity linked
    val shak = triples.filter(col("obj_name") === "Shakopee Formation").collect()
    assert(shak.forall(_.getAs[Boolean]("obj_linked")))
  }

  test("streaming hydration: streamed rows equal the batch pipeline's hydrated triples") {
    // The streamed output unit is the HYDRATED triplet with the batch
    // pipeline's exact schema (reference: text2graph/schema.py:441-447);
    // only global canonicalization is deferred to compaction, so the batch
    // comparator runs canonicalize = false.
    import graft.sources.SnapshotStore
    val cfg = KgPipeline.Config(numPartitions = 4)
    val got = SnapshotStore.read(spark, sinkRun(fixturePagesDir(), cfg = cfg), "triples").get
    assert(got.columns.toSeq === KgPipeline.TripleColumns)
    val batch = KgPipeline.run(spark, Pages.fixtures(spark), dims, client,
      cfg.copy(canonicalize = false)).triples
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(KgPipeline.TripleColumns.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(got) === rows(batch))
  }

  test("snapshot sink: per-batch atomic commits, replayed batch is a no-op") {
    import graft.sources.SnapshotStore
    val storeDir = sinkRun(fixturePagesDir())

    val v = SnapshotStore.currentVersion(spark, storeDir)
    assert(v >= 1)
    val committed = SnapshotStore.read(spark, storeDir, "triples").get
    assert(committed.filter(col("url") === "https://fixtures.graft/sauk").count() > 0)
    assert(SnapshotStore.readSnapshot(spark, storeDir, v).meta.contains("batch_id"))

    // replay semantics: re-committing an already-committed batch id skips
    val n1 = committed.count()
    val replayed = StreamingKg.commitBatchTables(storeDir,
      Map("triples" -> committed.limit(1)), batchId = 0)
    assert(replayed.isEmpty)
    assert(SnapshotStore.read(spark, storeDir, "triples").get.count() === n1)
    // a NEW batch id commits and appends
    val next = StreamingKg.commitBatchTables(storeDir,
      Map("triples" -> committed.limit(1)), batchId = 999)
    assert(next.contains(v + 1))
    assert(SnapshotStore.read(spark, storeDir, "triples").get.count() === n1 + 1)
  }

  test("streaming failure bookkeeping: failed urls commit atomically with triples") {
    import graft.sources.SnapshotStore
    val pagesDir = tempDir("failsrc")
    def page(u: String, t: String) =
      (u, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        HtmlText.render(t, "en"), t, "en")
    Seq(
      page("https://t/ok", "Shakopee Formation in Minnesota."),
      page("https://t/fail-infer", "Text one."),
      page("https://t/fail-parse", "Text two."))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(pagesDir)
    graft.kg.HealToggle.healed = false
    val storeDir = sinkRun(pagesDir, new graft.kg.HealToggle.HealingClient)

    // one atomic snapshot carries BOTH tables
    val failed = SnapshotStore.read(spark, storeDir, "failed").get
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(failed === Map(
      "https://t/fail-infer" -> "infer", "https://t/fail-parse" -> "parse"))
    val triples = SnapshotStore.read(spark, storeDir, "triples").get
    assert(triples.columns.toSeq === KgPipeline.TripleColumns)
    assert(triples.select("url").collect().map(_.getString(0)).toSet ===
      Set("https://t/ok"))
    // replay protection covers the multi-table commit too
    val v = SnapshotStore.currentVersion(spark, storeDir)
    assert(StreamingKg.commitBatchTables(storeDir,
      Map("triples" -> triples.limit(1)), batchId = 0).isEmpty)
    assert(SnapshotStore.currentVersion(spark, storeDir) === v)
    // no Config on this path: a zero batch size fails at plan time
    assertThrows[IllegalArgumentException](StreamingKg.rawParsedStream(
      StreamingKg.pagesStream(spark, pagesDir), dims,
      new graft.kg.HealToggle.HealingClient, microBatch = 0))
  }

  test("failed-url re-drive: healed transport converges the store and empties the log") {
    import graft.sources.SnapshotStore
    val pagesDir = tempDir("redrivesrc")
    def page(u: String, t: String) =
      (u, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        HtmlText.render(t, "en"), t, "en")
    val pagesDf = Seq(
      page("https://t/ok", "Shakopee Formation in Minnesota."),
      page("https://t/fail-infer", "Text one."),
      page("https://t/fail-parse", "Text two."))
      .toDF("url", "warc_ts", "html", "text", "lang")
    pagesDf.write.mode("overwrite").parquet(pagesDir)
    // 1. stream with a DOWN transport: 2 pages land in the failure log
    graft.kg.HealToggle.healed = false
    val storeDir = sinkRun(pagesDir, new graft.kg.HealToggle.HealingClient)
    assert(SnapshotStore.read(spark, storeDir, "failed").get.count() === 2L)
    // the sink stages both url-keyed tables in the url_bucket layout
    def assertLayout(): Unit = Seq("triples", "failed").foreach { t =>
      val (m, n) = marked(storeDir, t)
      assert(m === n, s"$m of $n $t files carry a url_bucket marker")
    }
    assert(marked(storeDir, "triples")._2 > 0 && marked(storeDir, "failed")._2 > 0)
    assertLayout()
    // 2. transport heals; first re-drive sees a corpus MISSING one failed
    //    page — that url's log row is carried, the other heals
    graft.kg.HealToggle.healed = true
    val partial = spark.read.parquet(pagesDir)
      .filter(col("url") =!= "https://t/fail-parse")
    val v1 = StreamingKg.redriveFailed(spark, storeDir, partial, dims,
      new graft.kg.HealToggle.HealingClient)
    assert(v1.nonEmpty)
    val logAfter1 = SnapshotStore.read(spark, storeDir, "failed").get
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(logAfter1 === Map("https://t/fail-parse" -> "parse"))
    assertLayout()
    // 3. second re-drive with the full corpus: the store CONVERGES to the
    //    all-healthy run's triples and the failure log is EMPTY
    val v2 = StreamingKg.redriveFailed(spark, storeDir,
      spark.read.parquet(pagesDir), dims, new graft.kg.HealToggle.HealingClient)
    assert(v2.nonEmpty)
    val healthy = KgPipeline.run(spark, spark.read.parquet(pagesDir), dims,
      new graft.kg.HealToggle.HealingClient,
      KgPipeline.Config(numPartitions = 2, canonicalize = false)).triples
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(KgPipeline.TripleColumns.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(SnapshotStore.read(spark, storeDir, "triples").get) === rows(healthy))
    assert(SnapshotStore.read(spark, storeDir, "failed").forall(_.count() === 0L))
    // the emptied log lists no file; the healed triples keep the layout
    assertLayout()
    assert(marked(storeDir, "failed")._2 === 0)
    // the re-drive's bucket read: a bucket set without a stored url's
    // bucket opens none of that bucket's files, and its own bucket finds it
    val okBucket = Seq("https://t/ok").toDF("url")
      .select(KgPipeline.urlBucket(col("url"))).head().getLong(0).toInt
    val others = KgPipeline.readBuckets(spark, storeDir, "triples",
      (0 until KgPipeline.UrlBuckets).filterNot(_ == okBucket))
    assert(others.toSeq.flatMap(_.inputFiles).forall(!_.contains(s"url_bucket=$okBucket/")))
    val own = KgPipeline.readBuckets(spark, storeDir, "triples", Seq(okBucket)).get
    assert(own.inputFiles.nonEmpty &&
      own.inputFiles.forall(_.contains(s"url_bucket=$okBucket/")))
    assert(own.filter(col("url") === "https://t/ok").count() > 0)
    // 4. with an empty log the job is a no-op (None — nothing to re-drive)
    assert(StreamingKg.redriveFailed(spark, storeDir,
      spark.read.parquet(pagesDir), dims,
      new graft.kg.HealToggle.HealingClient).isEmpty)
  }

  test("streaming alignment tiers: micro-batch fuzzy+cosine equal the batch pipeline") {
    import graft.sources.SnapshotStore
    val pagesDir = tempDir("tiersrc")
    // dim knows only "Waldron Shale"; tier-1 misses the misspelling, the
    // capped fuzzy tier scores it below its bar (Jaccard 9/13 < 0.75) and
    // the cosine tier links it (sim 0.859 >= 0.8) — inside a micro-batch
    val text = "The Waldron Shael is exposed near Minnesota."
    Seq(("https://t/tier-stream",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        HtmlText.render(text, "en"), text, "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(pagesDir)
    def tierClient = Inference.defaultClient(
      Dims.pinnedStrat.map(_.strat_name).toArray :+ "Waldron Shael",
      Dims.gazetteer.map(_.name).toArray, Array())
    val tiers = KgPipeline.Config(numPartitions = 2, fuzzyAlignMinJaccard = Some(0.75),
      fuzzyStopGramMaxDf = Some(2), cosineAlignMinSim = Some(0.8))
    val streamed = SnapshotStore.read(spark, sinkRun(pagesDir, tierClient, tiers), "triples").get
    val on = streamed.filter(col("obj_name") === "Waldron Shael").collect().head
    assert(on.getAs[Boolean]("obj_linked"))
    assert(on.getAs[String]("obj_final") === "Waldron Shale")
    assert(on.getAs[Long]("strat_name_id") === 4260L)
    // exact parity with the batch pipeline on the same pages: the tiers
    // are per-name functions of the static dictionary, so micro-batch
    // scoping is semantics-free (canonicalization stays in compaction)
    val batch = KgPipeline.run(spark,
      spark.read.parquet(pagesDir), dims, tierClient,
      tiers.copy(canonicalize = false)).triples
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(KgPipeline.TripleColumns.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(streamed) === rows(batch))
  }

  test("compaction: cross-batch surface variants collapse to one canonical entity") {
    import graft.sources.SnapshotStore
    val dir = tempDir("compact")
    def aligned(url: String, name: String) = Seq(
      (url, "h", "m", "Minnesota", "contains", name, "strat", name, false))
      .toDF("url", "hashed_text", "model_id", "subj_name", "predicate",
        "obj_name", "obj_kind", "obj_canonical", "obj_linked")
    def commit(dir: String, df: org.apache.spark.sql.DataFrame, batchId: Long) =
      StreamingKg.commitBatchTables(dir, Map("triples" -> df), batchId)
    // two micro-batches carry dictionary-UNKNOWN variants of one entity —
    // per-batch alignment cannot unify them, only global CC can
    def twoBatches(dir: String): Unit = {
      commit(dir, aligned("u1", "Foo Formation"), 0)
      commit(dir, aligned("u2", "foo formation."), 1)
    }
    def canonMap(dir: String) = SnapshotStore.read(spark, dir, "triples").get
      .select("obj_name", "obj_canonical").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    twoBatches(dir)
    val before = SnapshotStore.read(spark, dir, "triples").get

    val v = StreamingKg.compactCanonicalize(spark, dir, dims)
    assert(v.contains(3))
    // the rewrite stages triples in the url_bucket layout
    assert(marked(dir, "triples") === ((2, 2)))
    val after = SnapshotStore.read(spark, dir, "triples").get
    // schema-stable rewrite: canonicalization folds into obj_canonical, the
    // column set never drifts from the stream's append schema
    assert(after.columns.toSeq === before.columns.toSeq)
    val canon = canonMap(dir)
    assert(canon("Foo Formation") === "Foo Formation")
    assert(canon("foo formation.") === "Foo Formation")
    // an open-vocabulary store (no driver probe) compacts to the same map
    val openDir = tempDir("compactopen")
    twoBatches(openDir)
    assert(StreamingKg.compactCanonicalize(spark, openDir, dims,
      KgPipeline.Config(canonLocalProbe = false)).contains(3))
    assert(canonMap(openDir) === canon)
    // the batch_id watermark survives the replace-mode commit: a restarted
    // query replaying its last micro-batch must still be skipped
    assert(SnapshotStore.readSnapshot(spark, dir, 3).meta.get("batch_id")
      .contains("1"))
    assert(commit(dir, aligned("u2", "foo formation."), 1).isEmpty)
    // and later micro-batches append the same schema readably
    commit(dir, aligned("u3", "FOO formation"), 2)
    val mixed = SnapshotStore.read(spark, dir, "triples").get
    assert(mixed.columns.toSeq === before.columns.toSeq && mixed.count() === 3)
    // time travel: the pre-compaction version is still readable, uncompacted
    val old = SnapshotStore.read(spark, dir, "triples", Some(2)).get
    assert(old.count() === 2)
    assert(old.filter(col("obj_canonical") === "foo formation.").count() === 1)
  }

  test("cross-shard dedup compaction: sharded runs + compactDedup equal one dedup-gated run") {
    import graft.sources.SnapshotStore
    // Near-dup CHAIN A ~ X ~ B (adjacent Jaccard 0.6 ≥ 0.5; J(A,B) = 1/3 —
    // connected only through the bridge X) + unique C. Filler words were
    // chosen so both adjacent pairs share a MinHash band deterministically
    // (md5-seeded signatures, so candidate generation is reproducible).
    val tA = "Shakopee Formation is found in Minnesota cobalt dolomite halite quebec basalt sierra"
    val tX = "Shakopee Formation is found in Minnesota quebec basalt sierra golf foxtrot zulu"
    val tB = "Shakopee Formation is found in Minnesota golf foxtrot zulu emerald papa uniform"
    val tC = "Powell Dolomite underlies the river bluffs near Minnesota today entirely"
    // Role assignment at runtime from the deterministic hashes: A = global
    // min doc_id (the cluster winner everywhere), X = the bridge sharing
    // A's shard (and LOSING its within-shard dedup: doc_id(X) > doc_id(A)),
    // B in a DIFFERENT shard — so the sharded gates never see the A~X~B
    // chain whole, and only through the bridge X (already dropped in shard
    // 1) does the global pass know B duplicates A.
    val pool = (0 until 24).map(i => s"https://t/compact/$i")
    val info = pool.map { u =>
      val r = Seq(u).toDF("u")
        .select(KgPipeline.urlBucket(col("u")), xxhash64(col("u")))
        .collect().head
      (u, r.getLong(0), r.getLong(1))
    }.sortBy(_._3)
    val (uA, bA, _) = info(0)
    val (uX, bX, _) = info(1)
    val (uB, _, _) = info.drop(2).find(t => t._2 != bA && t._2 != bX).get
    val uC = info.drop(2).find(t => t._1 != uB).get._1
    val shard1 = Seq(bA, bX).distinct.map(_.toInt)
    val shard2 = (0 until 64).filterNot(shard1.contains)
    def page(u: String, t: String) =
      (u, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        HtmlText.render(t, "en"), t, "en")
    val pages = Seq(page(uA, tA), page(uX, tX), page(uB, tB), page(uC, tC))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val full = tempDir("dedupfull")
    val shard = tempDir("dedupshard")
    val cfg = KgPipeline.Config(numPartitions = 2, canonicalize = false,
      dedupMinJaccard = Some(0.5))
    KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, full, cfg)
    KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, shard,
      cfg.copy(buckets = Some(shard1)))
    KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, shard,
      cfg.copy(buckets = Some(shard2)))
    def urls(dir: String) = SnapshotStore.read(spark, dir, "triples").get
      .select("url").distinct().collect().map(_.getString(0)).toSet
    // the documented gap is REAL pre-compaction: B survives its shard (its
    // duplicate cluster spans shards), while the unsharded gate dropped it
    assert(urls(full) === Set(uA, uC))
    assert(urls(shard) === Set(uA, uB, uC))
    // global compaction over the SAME corpus closes it
    val v = StreamingKg.compactDedup(spark, shard,
      pages.select("url", "text"), minJaccard = 0.5)
    assert(v.nonEmpty)
    def rows(dir: String) = SnapshotStore.read(spark, dir, "triples").get
      .select("url", "subj_name", "predicate", "obj_name", "obj_final")
      .collect().map(_.toSeq).toSet
    assert(rows(shard) === rows(full))
    // the rewritten triples stay in the url_bucket layout
    val (m, n) = marked(shard, "triples")
    assert(n > 0 && m === n)
    // meta + lineage record the drop
    val snap = SnapshotStore.readSnapshot(spark, shard, v.get)
    assert(snap.meta.get("compaction").contains("dedup"))
    assert(snap.meta.get("dedup_dropped_urls").contains("1"))
    assert(snap.meta("dedup_dropped_triples").toLong > 0L)
    val lin = SnapshotStore.read(spark, shard, "lineage").get
      .filter(col("stage") === "compact_dedup").collect()
    assert(lin.length === 1)
    assert(lin.head.getAs[Long]("failed_rows") ===
      snap.meta("dedup_dropped_triples").toLong)
    // done is untouched: duplicates were PROCESSED — never re-drive them
    assert(SnapshotStore.read(spark, shard, "done").get
      .select("url").distinct().count() === 4L)
    // idempotent: a second compaction over the same corpus drops nothing
    val v2 = StreamingKg.compactDedup(spark, shard,
      pages.select("url", "text"), minJaccard = 0.5)
    assert(SnapshotStore.readSnapshot(spark, shard, v2.get)
      .meta("dedup_dropped_triples") === "0")
    assert(rows(shard) === rows(full))
    // --compact-dedup's threshold reaches Dedup.dedupe unchecked by Config
    assertThrows[IllegalArgumentException](StreamingKg.compactDedup(spark, shard,
      pages.select("url", "text"), minJaccard = 0.0))
  }

  test("compaction re-hydration preserves each row's original requested_at provenance") {
    import graft.sources.SnapshotStore
    val dir = tempDir("compactprov")
    // rows committed by an earlier run carry THAT run's timestamp...
    val t1 = java.sql.Timestamp.valueOf("2023-03-03 03:03:03")
    val committed = KgPipeline.run(spark, Pages.fixtures(spark), dims, client,
      KgPipeline.Config(numPartitions = 2, canonicalize = false, jobStart = t1))
      .triples.select(KgPipeline.TripleColumns.map(col): _*)
    StreamingKg.commitBatchTables(dir, Map("triples" -> committed), 0)
    // ...and a LATER compaction that re-hydrates with its own jobStart
    // must not restamp them: requested_at and every provenance-hop
    // timestamp keep the original run's value (ADVICE r5)
    val t2 = java.sql.Timestamp.valueOf("2025-05-05 05:05:05")
    StreamingKg.compactCanonicalize(spark, dir, dims,
      KgPipeline.Config(jobStart = t2))
    val after = SnapshotStore.read(spark, dir, "triples").get
    assert(after.columns.toSeq === KgPipeline.TripleColumns)
    assert(after.count() === committed.count())
    val stamps = after.select(col("requested_at"),
        expr("transform(provenance, h -> h.requested)").as("hops"))
      .collect()
    assert(stamps.nonEmpty)
    stamps.foreach { r =>
      assert(r.getTimestamp(0) === t1)
      r.getSeq[java.sql.Timestamp](1).foreach(h => assert(h === t1))
    }
    // hydration columns survived the round trip (joined on the same names)
    val shak = after.filter(col("obj_name") === "Shakopee Formation").collect()
    assert(shak.nonEmpty && shak.forall(_.getAs[Long]("strat_name_id") === 1278L))
  }
}
