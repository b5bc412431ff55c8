package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CanonicalizerSpec extends SparkSpec {
  import spark.implicits._

  test("connected components: min-label over a chain and a star") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (20L, 21L))
      .toDF("src", "dst")
    val got = Canonicalizer.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    assert(got(11L) === 10L && got(12L) === 10L)
    assert(got(21L) === 20L)
  }

  test("alignment fixtures cluster to their canonicals (test_alignment.py)") {
    val dims = Dims.tiny(spark)
    val triples = Seq(
      ("u1", "h1", "m", "Minnesota", "contains", "Abbey head bed.", "strat"),
      ("u2", "h2", "m", "Minnesota", "contains", "Gold", "mineral"),
      ("u3", "h3", "m", "Minnesota", "contains", "Abbey Head Bed", "strat"))
      .toDF("url", "hashed_text", "model_id", "subj_name", "predicate", "obj_name", "obj_kind")
    val aligned = Linker.align(triples, Linker.aliasDim(dims))
    val canon = Canonicalizer(aligned)
    val byName = canon.select("obj_name", "obj_canonical", "obj_final")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // reference: "Abbey head bed." → "Abbey Head Bed", "Gold" → "gold"
    assert(byName("Abbey head bed.")._1 === "Abbey Head Bed")
    assert(byName("Gold")._1 === "gold")
    // CC gives both surface forms the same cluster-canonical
    assert(byName("Abbey head bed.")._2 === byName("Abbey Head Bed")._2)
  }

  test("distributed path without the driver probe equals the local path") {
    val dims = Dims.tiny(spark)
    val triples = Seq(
      ("u1", "h1", "m", "Minnesota", "contains", "Abbey head bed.", "strat"),
      ("u2", "h2", "m", "Minnesota", "contains", "Gold", "mineral"),
      ("u3", "h3", "m", "Minnesota", "contains", "Abbey Head Bed", "strat"))
      .toDF("url", "hashed_text", "model_id", "subj_name", "predicate", "obj_name", "obj_kind")
    val aligned = Linker.align(triples, Linker.aliasDim(dims))
    // a three-name space fits the name probe, so canonicalize clusters in
    // the driver union-find; distributedCanonicalize is the path a space
    // past MaxLocalNames takes
    def rows(canon: org.apache.spark.sql.DataFrame) = canon.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val local = rows(Canonicalizer.canonicalize(aligned))
    assert(rows(Canonicalizer.distributedCanonicalize(aligned)) === local)
    assert(local.map(_._3) === Set("Abbey Head Bed", "gold"))
  }

  test("distributedComponents: rounds run to convergence, same output as probed") {
    // plus a 25-vertex path: its far end is 24 hops from the minimum, so the
    // distributed rounds must run until no label changes
    val path = (100L until 124L).map(v => (v, v + 1))
    val edges = (Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (20L, 21L)) ++ path)
      .toDF("src", "dst")
    val probed = Canonicalizer.connectedComponents(edges)
    val unprobed = Canonicalizer.distributedComponents(edges)
    // the probed path collapses a small graph to a driver LocalRelation;
    // the distributed rounds leave a distributed result (the min-label
    // rounds localCheckpoint → LogicalRDD) — i.e. no driver collect happened
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    assert(probed.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(unprobed.queryExecution.optimizedPlan.collectLeaves()
      .forall(!_.isInstanceOf[LocalRelation]))
    val l = probed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = unprobed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l(124L) === 100L)
    assert(d === l)
  }
}

/** JVM-shared prompt capture (local-mode executor threads share this
  * object even though task closures are serialized). */
object PromptCapture {
  val prompts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  final class CapturingClient(inner: Inference.InferenceClient)
      extends Inference.InferenceClient {
    val modelId = inner.modelId
    def infer(batch: Seq[Inference.Request]): Seq[String] = {
      batch.foreach(r => prompts.add(r.prompt))
      inner.infer(batch)
    }
  }
}

/** JVM-shared failure toggle + deterministic per-url failing client for the
  * NA-semantics tests (local-mode tasks share the JVM, like PromptCapture).
  */
object HealToggle {
  @volatile var healed = false
  final class HealingClient extends Inference.InferenceClient {
    val modelId = "healing-v0"
    def infer(batch: Seq[Inference.Request]): Seq[String] = batch.map { r =>
      if (!HealToggle.healed && r.url.endsWith("/fail-infer")) ""
      else if (!HealToggle.healed && r.url.endsWith("/fail-parse"))
        "garbled model output without any json"
      else
        """{"triplets": [{"location": "Minnesota", "relationship": "contains", "stratigraphic_name": "Shakopee Formation"}]}"""
    }
  }
}

class KgPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dims = Dims.tiny(spark)
  private def client = Inference.defaultClient(
    Dims.pinnedStrat.map(_.strat_name).toArray,
    Dims.gazetteer.map(_.name).toArray,
    Dims.pinnedMinerals.map(_.mineral).toArray ++ Chem.UsgsFormulas.keys)

  private lazy val result = {
    val pages = Pages.fixtures(spark)
    KgPipeline.run(spark, pages, dims, client,
      KgPipeline.Config(numPartitions = 4, canonicalize = true))
  }
  private lazy val triples = result.triples.cache()

  test("golden parity: P/R >= 0.95 vs the 10-triplet reference fixture") {
    val got = triples
      .filter(col("url") === "https://fixtures.graft/sauk")
      .select("subj_name", "predicate", "obj_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val want = Fixtures.SaukGoldenTriples
    val tp = got.intersect(want).size.toDouble
    val precision = if (got.isEmpty) 0 else tp / got.size
    val recall = tp / want.size
    assert(precision >= 0.95, s"precision $precision, got=$got")
    assert(recall >= 0.95, s"recall $recall")
  }

  test("SMITHVILLE hydration matches the pinned record (test_llm.py:7-32)") {
    val row = triples.filter(col("obj_final") === "Smithville").collect().head
    assert(row.getAs[String]("strat_name") === "Smithville")
    assert(row.getAs[String]("strat_name_long") === "Smithville Formation")
    assert(row.getAs[String]("rank") === "Fm")
    assert(row.getAs[Long]("strat_name_id") === 5933L)
    assert(row.getAs[Long]("concept_id") === 3863L)
    assert(row.getAs[Double]("b_age") === 471.2834)
    assert(row.getAs[Double]("t_age") === 465.5)
    assert(row.getAs[String]("b_period") === "Ordovician")
    assert(row.getAs[String]("t_period") === "Ordovician")
  }

  test("mineral pipeline: gold hydrated with formula and elements") {
    val row = triples.filter(col("url") === "https://fixtures.graft/gold").collect().head
    assert(row.getAs[String]("obj_kind") === "mineral")
    assert(row.getAs[String]("obj_final") === "gold")
    assert(row.getAs[String]("formula") === "Au")
    assert(row.getAs[Seq[String]]("elements") === Seq("Au"))
    assert(row.getAs[String]("subj_name") === "Minnesota")
    // gazetteer hydration: Minnesota lat in (40, 50) (test_llm.py:96-99)
    val lat = row.getAs[Double]("subj_lat")
    assert(lat > 40 && lat < 50)
  }

  test("lenient-parse pages contribute salvaged rows, never failures") {
    val byUrl = triples.groupBy("url").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byUrl("https://fixtures.graft/bare-list") === 1L)
    assert(byUrl("https://fixtures.graft/trailing") === 1L)
    assert(byUrl("https://fixtures.graft/invalid-row") === 1L)
  }

  test("extract invariant: html→text is byte-identical per url") {
    val lin = result.lineage.filter(col("stage") === "extract")
      .agg(sum("failed_rows")).collect().head.getLong(0)
    assert(lin === 0L)
  }

  test("lineage has per-partition rows for every stage") {
    val stages = result.lineage.select("stage").distinct()
      .collect().map(_.getString(0)).toSet
    assert(stages === Set("extract", "infer", "parse", "triples"))
  }

  test("lineage reads only the pass's cached frames, once its triples landed") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    object Plans extends AdaptiveSparkPlanHelper {
      // leaves below AQE's wrappers; a reused exchange stands for its child
      def leaves(p: SparkPlan): Seq[SparkPlan] = collect(p) {
        case r: ReusedExchangeExec => leaves(r.child)
        case l if l.children.isEmpty && !l.isInstanceOf[AdaptiveSparkPlanExec] &&
          !l.isInstanceOf[QueryStageExec] => Seq(l)
      }.flatten
    }
    val res = KgPipeline.run(spark, Pages.fixtures(spark), dims, client,
      KgPipeline.Config(numPartitions = 2))
    try {
      res.triples.count()
      val lineage = res.lineage
      lineage.collect()
      val leaves = Plans.leaves(lineage.queryExecution.executedPlan)
      assert(leaves.nonEmpty)
      assert(leaves.forall(_.isInstanceOf[InMemoryTableScanExec]),
        leaves.map(_.nodeName).mkString(", "))
    } finally res.cleanup()
  }

  test("an extract mismatch reaches lineage; the page is still parsed") {
    val pages = Seq(("https://t/mismatch", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      HtmlText.render("A", "en"), "B", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val r = KgPipeline.run(spark, pages, dims, client, KgPipeline.Config(numPartitions = 2))
    try {
      val byStage = r.lineage.groupBy("stage")
        .agg(sum("input_rows"), sum("output_rows"), sum("failed_rows")).collect()
        .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
      assert(byStage("extract") === ((1L, 0L, 1L)))
      assert(byStage("parse") === ((1L, 1L, 0L)))
      assert(r.failedUrls.count() === 0L)
    } finally r.cleanup()
  }

  test("merged object join: a name keyed in several dims hydrates only its own kind") {
    val key = Seq("Sandstone").toDF("n").select(Linker.normName(col("n"))).head().getString(0)
    val p = Hydrator.prepare(dims)
    // one normalized name in all three object dims: a strat, a mineral and a lith
    val shared = Hydrator.Prepared(
      stratKeyed = p.stratKeyed.limit(1).withColumn("join_norm", lit(key)),
      mineralKeyed = p.mineralKeyed.filter(col("mineral_id").isNotNull).limit(1)
        .withColumn("join_norm", lit(key)),
      gaz = p.gaz,
      lithKeyed = p.lithKeyed.filter(col("join_norm") === key))
    val triples = Seq(
      ("https://t/m", "m0", "Minnesota", "contains", Model.ObjKind.Mineral, "Sandstone"),
      ("https://t/l", "m0", "Minnesota", "contains", Model.ObjKind.Lith, "Sandstone"))
      .toDF("url", "model_id", "subj_name", "predicate", "obj_kind", "obj_final")
    val rows = Hydrator.hydratePrepared(triples, shared,
        java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
      .collect().map(r => r.getAs[String]("obj_kind") -> r).toSeq
    assert(rows.size === 2)
    val byKind = rows.toMap
    val (mineral, lith) = (byKind(Model.ObjKind.Mineral), byKind(Model.ObjKind.Lith))
    assert(!mineral.isNullAt(mineral.fieldIndex("mineral_id")))
    assert(mineral.isNullAt(mineral.fieldIndex("lith_id")))
    assert(mineral.isNullAt(mineral.fieldIndex("strat_name_id")))
    assert(lith.getAs[Long]("lith_id") === 10L)
    assert(lith.isNullAt(lith.fieldIndex("mineral_id")))
    assert(lith.isNullAt(lith.fieldIndex("strat_name_id")))
  }

  test("USGS fallback: fluorspar gets Mindat formula when Macrostrat misses") {
    val pages = Seq(("https://t/usgs", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      HtmlText.render("There is fluorspar in Wisconsin.", "en"),
      "There is fluorspar in Wisconsin.", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val r = KgPipeline.run(spark, pages, dims, client, KgPipeline.Config(numPartitions = 2))
    val row = r.triples.collect().head
    assert(row.getAs[String]("obj_kind") === "mineral")
    assert(row.getAs[String]("formula") === "CaF2")
    assert(row.getAs[String]("formula_source") === "Mindat")
    assert(row.getAs[Seq[String]]("elements") === Seq("Ca", "F"))
  }

  test("lithology kind: pinned record hydrates exact-name first-hit (schema.py:63-98)") {
    // a raw output carrying the third record type flows the whole pipeline
    val raw = """{"triplets": [{"location": "Wisconsin", "relationship": "contains", "lithology_name": "Sandstone."}]}"""
    val text = "lith test page"
    val recClient = new Inference.FixtureClient(
      Map(Inference.FixtureClient.sha256(text) -> raw), client)
    val pages = Seq(("https://t/lith", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      HtmlText.render(text, "en"), text, "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val r = KgPipeline.run(spark, pages, dims, recClient, KgPipeline.Config(numPartitions = 2))
    val row = r.triples.collect().head
    assert(row.getAs[String]("obj_kind") === "lith")
    // "Sandstone." aligns to the dim name, hydrates the pinned record
    assert(row.getAs[String]("lith") === "sandstone")
    assert(row.getAs[Long]("lith_id") === 10L)
    assert(row.getAs[String]("lith_type") === "siliciclastic")
    assert(row.getAs[String]("lith_class") === "sedimentary")
    // lithology provenance hop present with the lith_id url
    val prov = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("provenance")
    assert(prov.exists(p => p.getAs[String]("source_url").endsWith("/defs/lithologies?lith_id=10")))
  }

  test("provenance chain: oldest-to-newest hops, conditional on hydration") {
    val row = triples.filter(col("url") === "https://fixtures.graft/gold").collect().head
    val chain = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("provenance")
      .map(_.getAs[String]("source_name"))
    // extractor → model → prompt handler → Macrostrat (gold hit) → GeocodeAPI
    assert(chain === Seq("GraftTextExtractor", "graft-fixture+graft-heuristic-v1",
      "PromptHandler", "Macrostrat", "GeocodeAPI"))
    val unhydrated = triples.filter(col("obj_final") === "Black Rock").collect().head
    val chain2 = unhydrated.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("provenance")
      .map(_.getAs[String]("source_name"))
    // subject "southern and eastern flanks..." has no gazetteer row → no geo hop
    assert(chain2 === Seq("GraftTextExtractor", "graft-fixture+graft-heuristic-v1",
      "PromptHandler", "Macrostrat"))
  }

  test("prompt stage: gallium pre-annotation reaches the client; version in provenance") {
    PromptCapture.prompts.clear()
    val pages = Seq(("https://t/gallium", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      HtmlText.render("There is gallium near Madison, WI.", "en"),
      "There is gallium near Madison, WI.", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val capturing = new PromptCapture.CapturingClient(client)
    val r = KgPipeline.run(spark, pages, dims, capturing, KgPipeline.Config(numPartitions = 2))
    val row = r.triples.collect().head
    // prompt_version lands in the output column and the provenance array
    assert(row.getAs[String]("prompt_version") === "stratname_v3+mineral_v0")
    val provVersions = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("provenance")
      .map(p => p.getAs[String]("source_name") -> p.getAs[String]("source_version")).toMap
    assert(provVersions("PromptHandler") === "stratname_v3+mineral_v0")
    // the dictionary pre-annotation (known-entities CSV) reached the client
    import scala.jdk.CollectionConverters._
    val prompts = PromptCapture.prompts.asScala.toSeq
    assert(prompts.nonEmpty)
    assert(prompts.exists(p => p.contains("gallium") && p.contains("[INST]")))
  }

  test("plan discipline: no sort-merge/nested-loop/cartesian anywhere in the pipeline") {
    // regression guard for the PLANS.md audit: every enrichment join must
    // stay broadcast; any SMJ/BNLJ/cartesian appearing here means a hint
    // or a key extraction silently broke. The second run's pages are
    // resumed (as runAndCommit resumes them) against a checkpoint that
    // already holds a done set, so the resume anti-join is held to the
    // same rule.
    val outDir = tempDir("kgplanresume")
    val cfg = KgPipeline.Config(numPartitions = 2)
    KgPipeline.runAndCommit(spark,
      Pages.fixtures(spark).filter(col("url") === "https://fixtures.graft/sauk"),
      dims, client, outDir, cfg)
    Seq(None, Some(s"$outDir/checkpoint")).foreach { checkpointDir =>
      val pages = checkpointDir.fold(Pages.fixtures(spark))(c =>
        KgPipeline.resume(Pages.fixtures(spark), KgPipeline.readDone(spark, c, cfg), cfg))
      val res = KgPipeline.run(spark, pages, dims, client, cfg)
      val plan = res.triples.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"), plan.linesIterator.take(40).mkString("\n"))
      assert(!plan.contains("CartesianProduct"))
      assert(!plan.contains("BroadcastNestedLoopJoin"))
      assert(plan.contains("BroadcastHashJoin"))
      assert(checkpointDir.isEmpty || plan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")), plan)
    }
  }

  test("semantic query vector: driver-side Scala equals the engine expression") {
    import graft.KgQueries
    val q = KgQueries.SemanticQuery
    val driverSide = KgQueries.semanticQueryVector(q).toSeq
    // featurize the SAME string through the engine's column expressions
    val engineSide = {
      import org.apache.spark.sql.functions._
      val tok = Seq((1L, q)).toDF("doc_id", "text")
        .select(col("doc_id"),
          explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
        .withColumn("b", substring(md5(col("tok")), 1, 1))
      val sums = "0123456789abcdef".map(h =>
        sum(when(col("b") === h.toString, 1).otherwise(0)).cast("double").as(s"c$h"))
      tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
        .drop("doc_id").collect()(0).toSeq.map(_.asInstanceOf[Double])
    }
    assert(engineSide === driverSide)
  }

  test("dedupFirst: duplicate pages drop before inference; lineage counts the drop") {
    val pages = Pages.fixtures(spark)
    val dup = pages.filter(col("url") === "https://fixtures.graft/sauk")
      .withColumn("url", lit("https://fixtures.graft/sauk-copy"))
    val both = pages.unionByName(dup)
    val res = KgPipeline.run(spark, both, dims, client,
      KgPipeline.Config(numPartitions = 4, dedupMinJaccard = Some(0.9)))
    val urls = res.triples.select("url").distinct()
      .collect().map(_.getString(0)).toSet
    // exactly ONE of the two byte-identical pages produced triples
    assert(urls.count(Set("https://fixtures.graft/sauk",
      "https://fixtures.graft/sauk-copy")) === 1)
    // the drop is visible in lineage: dedup stage, one failed row
    val dedupStage = res.lineage.filter(col("stage") === "dedup")
      .agg(sum("input_rows"), sum("failed_rows")).collect()(0)
    assert(dedupStage.getLong(0) === 7) // 6 fixture pages + the copy
    assert(dedupStage.getLong(1) === 1)
    // without the gate, both duplicates spend inference and emit triples
    val res2 = KgPipeline.run(spark, both, dims, client,
      KgPipeline.Config(numPartitions = 4))
    val urls2 = res2.triples.select("url").distinct()
      .collect().map(_.getString(0)).toSet
    assert(urls2.contains("https://fixtures.graft/sauk") &&
      urls2.contains("https://fixtures.graft/sauk-copy"))
    assert(res2.lineage.filter(col("stage") === "dedup").count() === 0)
  }

  test("resume: second run is incremental and idempotent") {
    val outDir = tempDir("kgresume")
    val pages = Pages.fixtures(spark)
    KgPipeline.runAndCommit(spark, pages, dims, client, outDir,
      KgPipeline.Config(numPartitions = 4))
    val n1 = spark.read.parquet(s"$outDir/triples").count()
    // re-run with the same checkpoint: all urls done → no new rows
    KgPipeline.runAndCommit(spark, pages, dims, client, outDir,
      KgPipeline.Config(numPartitions = 4))
    val n2 = spark.read.parquet(s"$outDir/triples").count()
    assert(n1 === n2)
  }

  test("resume after partial failure: union of runs equals one clean run") {
    val cleanDir = tempDir("kgclean")
    val partialDir = tempDir("kgpartial")
    val pages = Pages.fixtures(spark)
    // ground truth: one clean run over everything
    KgPipeline.runAndCommit(spark, pages, dims, client, cleanDir,
      KgPipeline.Config(numPartitions = 4))
    // simulate a crashed first attempt that committed only 2 urls
    val firstHalf = pages.filter(
      col("url").isin("https://fixtures.graft/sauk", "https://fixtures.graft/gold"))
    KgPipeline.runAndCommit(spark, firstHalf, dims, client, partialDir,
      KgPipeline.Config(numPartitions = 4))
    // recovery: re-run over the FULL input with the same checkpoint
    KgPipeline.runAndCommit(spark, pages, dims, client, partialDir,
      KgPipeline.Config(numPartitions = 4))
    val key = Seq("url", "subj_name", "predicate", "obj_name")
    val clean = spark.read.parquet(s"$cleanDir/triples")
      .select(key.map(col): _*).collect().map(_.toSeq).toSet
    val recovered = spark.read.parquet(s"$partialDir/triples")
      .select(key.map(col): _*).collect().map(_.toSeq).toSet
    assert(recovered === clean)
  }

  test("infer/parse failures: lineage counts them; failed urls re-driven after heal (NA semantics)") {
    // The reference keeps failed documents visible as "NA" placeholder rows
    // (chtc/preprocess_extraction_direct.py:99-110); here the equivalents
    // are the infer/parse lineage stages + Result.failedUrls + the
    // done-set exclusion that makes a failed page re-drivable.
    val outDir = tempDir("kgfail")
    def page(u: String, t: String) =
      (u, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        HtmlText.render(t, "en"), t, "en")
    val pages = Seq(
      page("https://t/ok", "Shakopee Formation in Minnesota."),
      page("https://t/fail-infer", "Text one."),
      page("https://t/fail-parse", "Text two."))
      .toDF("url", "warc_ts", "html", "text", "lang")
    HealToggle.healed = false
    val r1 = KgPipeline.run(spark, pages, dims, new HealToggle.HealingClient,
      KgPipeline.Config(numPartitions = 2))
    val failed = r1.lineage.filter(col("stage").isin("infer", "parse"))
      .groupBy("stage").agg(sum("failed_rows").as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(failed === Map("infer" -> 1L, "parse" -> 1L))
    assert(r1.failedUrls.collect()
      .map(r => r.getString(0) -> r.getAs[String]("failed_stage")).toMap ===
      Map("https://t/fail-infer" -> "infer", "https://t/fail-parse" -> "parse"))
    // a legitimately-empty page is NOT a failure: zero triples, status ok
    r1.cleanup()

    KgPipeline.runAndCommit(spark, pages, dims, new HealToggle.HealingClient,
      outDir, KgPipeline.Config(numPartitions = 2))
    val done1 = spark.read.parquet(s"$outDir/checkpoint/done")
      .select("url").collect().map(_.getString(0)).toSet
    assert(done1 === Set("https://t/ok")) // failures never marked done
    assert(spark.read.parquet(s"$outDir/triples").count() === 1L)

    // endpoint heals → the next incremental run re-drives ONLY the failed
    // urls (ok is behind the done-set) and marks them done
    HealToggle.healed = true
    KgPipeline.runAndCommit(spark, pages, dims, new HealToggle.HealingClient,
      outDir, KgPipeline.Config(numPartitions = 2))
    val done2 = spark.read.parquet(s"$outDir/checkpoint/done")
      .select("url").collect().map(_.getString(0)).toSet
    assert(done2 === Set("https://t/ok", "https://t/fail-infer", "https://t/fail-parse"))
    val t2 = spark.read.parquet(s"$outDir/triples")
    assert(t2.count() === 3L)
    assert(t2.filter(col("url") === "https://t/ok").count() === 1L) // not re-run
  }

  test("legitimately-empty page is ok, not an infer/parse failure") {
    val pages = Seq(("https://t/empty", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      HtmlText.render("Nothing relevant here.", "en"), "Nothing relevant here.", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    // HeuristicClient emits {"triplets": []} for a no-mention page — valid,
    // zero triplets: the raw-count bookkeeping alone could not tell this
    // from a parse failure
    val r = KgPipeline.run(spark, pages, dims, client, KgPipeline.Config(numPartitions = 2))
    assert(r.failedUrls.count() === 0L)
    val failedByStage = r.lineage.filter(col("stage").isin("infer", "parse"))
      .agg(sum("failed_rows")).collect().head.getLong(0)
    assert(failedByStage === 0L)
    assert(r.triples.count() === 0L)
    r.cleanup()
  }

  test("alias key tier can never displace an exact strat name (ADVICE r4)") {
    // Record A's contracted long-name alias ("Foo Formation" → "Foo Fm",
    // tier 2, id 1) collides with record B's EXACT short name ("Foo Fm",
    // tier 0, id 2). Pure min-id first-hit would let the alias steal the
    // exact key; the tier ordering must hand it to B.
    val a = Dims.pinnedStrat.head.copy(strat_name = "Alpha",
      strat_name_long = "Foo Formation", strat_name_id = 1L, concept_id = 1L)
    val b = Dims.pinnedStrat.head.copy(strat_name = "Foo Fm",
      strat_name_long = "Foo Fm", strat_name_id = 2L, concept_id = 2L)
    val keyed = Hydrator.prepare(dims.copy(stratDim = Seq(a, b).toDF())).stratKeyed
    val exact = keyed.filter(col("join_norm") === "foo fm").collect()
    assert(exact.length === 1)
    assert(exact.head.getAs[Long]("strat_name_id") === 2L)
    // tier 1 (exact long name) still beats tier 3 (B's expanded alias
    // "Foo Fm" → "Foo Formation") on the same key
    val viaLong = keyed.filter(col("join_norm") === "foo formation").collect()
    assert(viaLong.head.getAs[Long]("strat_name_id") === 1L)
    // and an alias key nobody owns exactly still hydrates (tier 2 fills it)
    val keyedPinned = Hydrator.prepare(dims).stratKeyed
    assert(keyedPinned.filter(col("join_norm") === "shakopee fm").count() === 1L)
  }

  test("bucket-sharded resume: disjoint bucket runs union to one full run; done layout prunes") {
    val outFull = tempDir("kgbucketfull")
    val outShard = tempDir("kgbucketshard")
    val pages = Pages.fixtures(spark)
    // canonicalize = false: sharding is exact for the per-page stages;
    // canonicalization is corpus-global by nature and runs per-shard in
    // bucket mode (cross-shard variants collapse at compaction — the
    // Config.buckets scaladoc scope), so the parity claim is on the
    // per-page path
    KgPipeline.runAndCommit(spark, pages, dims, client, outFull,
      KgPipeline.Config(numPartitions = 2, canonicalize = false))
    // the same corpus as two disjoint bucket shards (the 10^12-url
    // operating mode: each run broadcasts only its shard's done subset)
    KgPipeline.runAndCommit(spark, pages, dims, client, outShard,
      KgPipeline.Config(numPartitions = 2, canonicalize = false,
        buckets = Some(0 until 32)))
    KgPipeline.runAndCommit(spark, pages, dims, client, outShard,
      KgPipeline.Config(numPartitions = 2, canonicalize = false,
        buckets = Some(32 until 64)))
    def rows(dir: String) = spark.read.parquet(s"$dir/triples")
      .select("url", "subj_name", "predicate", "obj_name", "obj_final")
      .collect().map(_.toSeq).toSet
    assert(rows(outShard) === rows(outFull))
    def doneUrls(dir: String) = spark.read.parquet(s"$dir/checkpoint/done")
      .select("url").collect().map(_.getString(0)).toSet
    assert(doneUrls(outShard) === doneUrls(outFull))
    // the done-set landed url_bucket-partitioned, and a sharded read is a
    // PARTITION filter (pruned at the scan, not a post-scan row filter)
    assert(new java.io.File(s"$outShard/checkpoint/done").listFiles()
      .exists(_.getName.startsWith("url_bucket=")))
    val sharded = spark.read.parquet(s"$outShard/checkpoint/done")
      .filter(col("url_bucket").isin((0L until 32L): _*)).select("url")
    val plan = sharded.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("url_bucket"))
    // re-running a shard is incremental (its urls are behind the done-set)
    val n1 = spark.read.parquet(s"$outShard/triples").count()
    KgPipeline.runAndCommit(spark, pages, dims, client, outShard,
      KgPipeline.Config(numPartitions = 2, canonicalize = false,
        buckets = Some(0 until 32)))
    assert(spark.read.parquet(s"$outShard/triples").count() === n1)
  }

  test("snapshot-store sharded resume: manifest prunes done files to the shard; union parity") {
    import graft.sources.SnapshotStore
    val full = tempDir("snapfull")
    val shard = tempDir("snapshard")
    val pages = Pages.fixtures(spark)
    KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, full,
      KgPipeline.Config(numPartitions = 2, canonicalize = false))
    KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, shard,
      KgPipeline.Config(numPartitions = 2, canonicalize = false,
        buckets = Some(0 until 32)))
    KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, shard,
      KgPipeline.Config(numPartitions = 2, canonicalize = false,
        buckets = Some(32 until 64)))
    // union-of-shards parity against the unsharded atomic-commit run
    def t(dir: String) = SnapshotStore.read(spark, dir, "triples").get
      .select("url", "subj_name", "predicate", "obj_name", "obj_final")
      .collect().map(_.toSeq).toSet
    assert(t(shard) === t(full))
    def doneUrls(dir: String) = SnapshotStore.read(spark, dir, "done").get
      .select("url").collect().map(_.getString(0)).toSet
    assert(doneUrls(shard) === doneUrls(full))
    // the done table staged url_bucket-partitioned, so the MANIFEST itself
    // prunes a sharded read's file list — the store-level counterpart of
    // the parquet checkpoint's PartitionFilters evidence: the shard's
    // marker set keeps a strict, non-empty subset of the files
    val totalFiles = SnapshotStore.fileCount(spark, shard, "done")
    val markers = (0 until 32).map(b => s"url_bucket=$b/")
    val prunedFiles = SnapshotStore.fileCount(spark, shard, "done",
      f => markers.exists(f.contains))
    assert(totalFiles > 0)
    assert(SnapshotStore.fileCount(spark, shard, "done",
      _.contains("url_bucket=")) === totalFiles) // every file is partitioned
    assert(prunedFiles > 0 && prunedFiles < totalFiles)
    // re-running a shard against the pruned done read is incremental: the
    // new snapshot appends no triples
    val before = SnapshotStore.read(spark, shard, "triples").get.count()
    KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, shard,
      KgPipeline.Config(numPartitions = 2, canonicalize = false,
        buckets = Some(0 until 32)))
    assert(SnapshotStore.read(spark, shard, "triples").get.count() === before)
  }

  test("a store commit that throws still releases the run's caches") {
    // the publish fails (the manifest dir is a plain file) after the run's
    // caches materialized while staging; a re-run after a commit conflict
    // must not leak one set of caches per attempt
    val dir = tempDir("snapfail")
    assert(new java.io.File(dir, "snapshots").createNewFile())
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    intercept[Exception](KgPipeline.runAndCommitSnapshot(spark, Pages.fixtures(spark),
      dims, client, dir, KgPipeline.Config(numPartitions = 2)))
    assert(sc.getPersistentRDDs.size === before)
  }

  test("store file compaction: rows identical, fewer files, bucket layout re-established") {
    import graft.sources.SnapshotStore
    val dir = tempDir("snaprewrite")
    // amplified corpus (240 urls across all buckets) so each sharded
    // commit's multi-task staging leaves several files per bucket — the
    // append-per-run accumulation the rewrite exists to collapse
    val base = Pages.fixtures(spark)
    val pages = (0 until 40)
      .map(i => base.withColumn("url", concat(col("url"), lit(s"/$i"))))
      .reduce(_ unionByName _)
    Seq(0 until 16, 16 until 40, 40 until 64).foreach { bs =>
      KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, dir,
        KgPipeline.Config(numPartitions = 4, canonicalize = false,
          buckets = Some(bs)))
    }
    def rows(v: Option[Int] = None) = SnapshotStore.read(spark, dir, "triples", v).get
      .select("url", "subj_name", "predicate", "obj_name", "obj_final")
      .collect().map(_.toSeq).toSet
    // a failure log staged flat, as a store written before the one layout
    // holds it: the rewrite converges it to the url_bucket layout too
    val failedRows = pages.select(col("url"), lit("infer").as("failed_stage")).limit(20)
    SnapshotStore.commit(spark, dir, Map("failed" -> failedRows))
    def failed() = SnapshotStore.read(spark, dir, "failed").get.collect().toSet
    val beforeFailed = failed()
    val beforeRows = rows()
    val beforeFiles = SnapshotStore.fileCount(spark, dir, "triples") +
      SnapshotStore.fileCount(spark, dir, "done")
    val v = KgPipeline.compactStoreFiles(spark, dir)
    assert(v.nonEmpty)
    // byte-identical row sets, strictly fewer files, layout preserved
    assert(rows() === beforeRows)
    assert(failed() === beforeFailed)
    val afterFiles = SnapshotStore.fileCount(spark, dir, "triples") +
      SnapshotStore.fileCount(spark, dir, "done")
    assert(afterFiles < beforeFiles)
    Seq("triples", "done", "failed").foreach { t =>
      val n = SnapshotStore.fileCount(spark, dir, t)
      assert(n > 0 && SnapshotStore.fileCount(spark, dir, t,
        _.contains("url_bucket=")) === n, t)
    }
    // a later sharded run still resumes incrementally off the rewritten
    // done table (nothing re-processes; version still advances)
    val n = SnapshotStore.read(spark, dir, "triples").get.count()
    KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, dir,
      KgPipeline.Config(numPartitions = 4, canonicalize = false,
        buckets = Some(0 until 16)))
    assert(SnapshotStore.read(spark, dir, "triples").get.count() === n)
    // time travel still shows the pre-rewrite layout
    assert(rows(Some(v.get - 1)) === beforeRows)
  }

  test("tier-2 fuzzy alignment: misspelled unit links + hydrates; off by default") {
    val text = "The Waldron Shael is exposed near Minnesota."
    val page = Seq(("https://t/fuzzy",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      HtmlText.render(text, "en"), text, "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    // the client's dictionary knows the misspelling (extraction emits it);
    // the DIM does not (tier-1 alignment leaves it unlinked)
    val fuzzClient = Inference.defaultClient(
      Dims.pinnedStrat.map(_.strat_name).toArray :+ "Waldron Shael",
      Dims.gazetteer.map(_.name).toArray, Array())
    val off = KgPipeline.run(spark, page, dims, fuzzClient,
      KgPipeline.Config(numPartitions = 2)).triples
      .filter(col("obj_name") === "Waldron Shael").collect().head
    assert(!off.getAs[Boolean]("obj_linked"))
    assert(off.getAs[Any]("strat_name_id") == null)
    val on = KgPipeline.run(spark, page, dims, fuzzClient,
      KgPipeline.Config(numPartitions = 2,
        fuzzyAlignMinJaccard = Some(0.6))).triples
      .filter(col("obj_name") === "Waldron Shael").collect().head
    // J("waldron shael","waldron shale") = 9/13 ≈ 0.69 ≥ 0.6 → linked, and
    // the cluster canonicalizes to the DICTIONARY name (prefer-linked
    // rule), so hydration lands on the pinned Waldron Shale record
    assert(on.getAs[Boolean]("obj_linked"))
    assert(on.getAs[String]("obj_final") === "Waldron Shale")
    assert(on.getAs[Long]("strat_name_id") === 4260L)
  }

  test("stop-gram cap: exact scores preserved; aggressive cap still links Waldron Shael") {
    val alias = Seq(
      ("waldron shale", "Waldron Shale"),
      ("shakopee formation", "Shakopee Formation"),
      ("roubidoux formation", "Roubidoux Formation"),
      ("gold", "gold"))
      .toDF("alias_norm", "canonical")
      .withColumn("kind", lit(Model.ObjKind.Strat))
    val names = Seq("Waldron Shael", "Shakopee Formatoin", "Waldrop Q")
      .toDF("n")
      .select(lit("https://t/cap").as("url"), lit("h").as("hashed_text"),
        lit("m").as("model_id"), lit("Indiana").as("subj_name"),
        lit("is in").as("predicate"),
        col("n").as("obj_name"), lit(Model.ObjKind.Strat).as("obj_kind"))
    val aligned = Linker.align(names, alias)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("obj_name", "obj_canonical", "obj_linked")
        .collect().map(_.toSeq).toSet
    val uncapped = rows(Linker.alignFuzzy(aligned, alias, minJaccard = 0.5))
    // a cap high enough to drop nothing must take the capped code path to
    // the identical output (the exact-rescoring rejoin equals the
    // count-based intersection)
    val slack = rows(Linker.alignFuzzy(aligned, alias, minJaccard = 0.5,
      stopGramMaxDf = Some(1000)))
    assert(slack === uncapped)
    // cap=1 drops every gram shared by >1 alias ("ation", "forma..." —
    // both Formation entries); "waldron shale"'s own grams are unique in
    // the dictionary, so the misspelling still links with its exact score
    val aggressive = Linker.alignFuzzy(aligned, alias, minJaccard = 0.5,
      stopGramMaxDf = Some(1))
    val waldron = aggressive.filter(col("obj_name") === "Waldron Shael").collect().head
    assert(waldron.getAs[String]("obj_canonical") === "Waldron Shale")
    assert(waldron.getAs[Boolean]("obj_linked"))
  }

  test("stop-gram list on the gate fixture: exactly the shared-suffix grams; prebuilt path agrees") {
    // the kg_align_fuzzy_capped gate's dictionary: four "... formation"
    // aliases (all ending in 'a') + one unrelated name. At cap=3 the stop
    // set must be exactly the 9 grams of the shared " formation" suffix —
    // hand-derived, pinning that the gate's cap genuinely engages
    val alias = Seq("waldron shale", "alpha formation", "beta formation",
        "gamma formation", "delta formation")
      .toDF("alias_norm")
      .withColumn("canonical", col("alias_norm"))
      .withColumn("kind", lit(Model.ObjKind.Strat))
    val dict = Linker.fuzzyDict(alias)
    val stop = Linker.stopGrams(dict, 3).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(stop === Set(" fo", "a f", "ati", "for", "ion", "mat", "orm",
      "rma", "tio").map((Model.ObjKind.Strat, _)))
    // passing the precomputed list (the streaming sink's bootstrap path)
    // yields the identical alignment as deriving it in-call
    val names = Seq("Alpha Formaton", "Epsilon Formation").toDF("n")
      .select(lit("https://t/capstop").as("url"), lit("h").as("hashed_text"),
        lit("m").as("model_id"), lit("Indiana").as("subj_name"),
        lit("is in").as("predicate"),
        col("n").as("obj_name"), lit(Model.ObjKind.Strat).as("obj_kind"))
    val aligned = Linker.align(names, alias)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("obj_name", "obj_canonical", "obj_linked")
        .collect().map(_.toSeq).toSet
    val derived = rows(Linker.alignFuzzy(aligned, alias, minJaccard = 0.6,
      stopGramMaxDf = Some(3)))
    val prebuilt = rows(Linker.alignFuzzy(aligned, alias, minJaccard = 0.6,
      stopGramMaxDf = Some(3), prebuiltDict = Some(dict),
      prebuiltStopGrams = Some(Linker.stopGrams(dict, 3))))
    assert(prebuilt === derived)
    assert(derived === Set(
      Seq("Alpha Formaton", "alpha formation", true),
      Seq("Epsilon Formation", "Epsilon Formation", false)))
  }

  test("prompt-dictionary bootstrap: shared accessor is bounded and fails fast past the cap") {
    val dicts = Inference.promptDictsFromDims(dims)
    assert(dicts.map(_._1) === Seq(Prompts.StratV3, Prompts.MineralV0))
    assert(dicts.head._2.contains("Shakopee"))
    // past the cap: fail-fast with the capped-slice remedy in the
    // message — never an unbounded driver collect
    val e = intercept[IllegalArgumentException] {
      Inference.promptDictsFromDims(dims, maxTerms = 2)
    }
    assert(e.getMessage.contains("driver-collect bound"))
    assert(e.getMessage.contains("promptDicts"))
  }

  private def out_rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet

  test("tier-3 cosine alignment: argmax over the matrix links misspellings only") {
    val alias = Seq(
      ("abbey head bed", "Abbey Head Bed"),
      ("shakopee formation", "Shakopee Formation"),
      ("everton formation", "Everton Formation"))
      .toDF("alias_norm", "canonical")
      .withColumn("kind", lit(Model.ObjKind.Strat))
    val names = Seq("Abbey Haed Bed.", "Evertn Formation",
        "totally unrelated zq", "Shakopee Formation")
      .toDF("n")
      .select(lit("https://t/cos").as("url"), lit("h").as("hashed_text"),
        lit("m").as("model_id"), lit("Minnesota").as("subj_name"),
        lit("is in").as("predicate"),
        col("n").as("obj_name"), lit(Model.ObjKind.Strat).as("obj_kind"))
    val outDf = Linker.alignCosine(Linker.align(names, alias), alias)
      .select("obj_name", "obj_canonical", "obj_linked")
    // the dictionary matrix is a broadcast build side — scoring never
    // shuffles the name side (the only exchanges serve distinct/argmax)
    val plan = outDf.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    val out = out_rows(outDf)
    assert(out === Set(
      ("Abbey Haed Bed.", "Abbey Head Bed", true),       // sim 0.825
      ("Evertn Formation", "Everton Formation", true),   // argmax beats shakopee 0.67
      ("totally unrelated zq", "totally unrelated zq", false), // max sim ≤ 0.3
      ("Shakopee Formation", "Shakopee Formation", true))) // tier-1, untouched
    // a sky-high threshold links nothing beyond the exact tier
    val strict = Linker.alignCosine(Linker.align(names, alias), alias, minSim = 0.99)
    assert(strict.filter(col("obj_linked")).count() === 1)
  }

  test("tier-3 cosine alignment wired through the pipeline config") {
    val text = "The Waldron Shael is exposed near Minnesota."
    val page = Seq(("https://t/cos-pipe",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      HtmlText.render(text, "en"), text, "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val cosClient = Inference.defaultClient(
      Dims.pinnedStrat.map(_.strat_name).toArray :+ "Waldron Shael",
      Dims.gazetteer.map(_.name).toArray, Array())
    // same fixture as the fuzzy tier: dim knows only "Waldron Shale";
    // cosine(waldron shael, waldron shale) = 0.859 >= 0.8 links it, and
    // prefer-linked canonicalization + hydration land on the dim record
    val on = KgPipeline.run(spark, page, dims, cosClient,
      KgPipeline.Config(numPartitions = 2,
        cosineAlignMinSim = Some(0.8))).triples
      .filter(col("obj_name") === "Waldron Shael").collect().head
    assert(on.getAs[Boolean]("obj_linked"))
    assert(on.getAs[String]("obj_final") === "Waldron Shale")
    assert(on.getAs[Long]("strat_name_id") === 4260L)
  }

  test("fixture corpus: canonicalization is identity on per-page TTLs " +
      "(kg_search_to_graph_slow's shared-oracle premise)") {
    def ttl(canon: Boolean) = {
      val res = KgPipeline.run(spark, Pages.fixtures(spark), dims, client,
        KgPipeline.Config(numPartitions = 2, emitRdf = true, canonicalize = canon))
      Rdf.toTtl(res.rdf.get).select("url", "ttl")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(ttl(true) === ttl(false),
      "kg_search_to_graph_slow (canonicalize=false, like the reference's " +
        "per-paragraph slow path) shares kg_search_to_graph's oracle on the " +
        "premise that corpus canonicalization is identity over the fixture " +
        "TTLs — a fixture edit broke that premise")
  }

  test("Config rejects out-of-range parameters at construction") {
    import KgPipeline.Config
    val bad: Seq[() => Config] = Seq(
      () => Config(numPartitions = 0),
      () => Config(microBatch = 0),
      () => Config(fuzzyAlignMinJaccard = Some(0.0)),
      () => Config(fuzzyAlignMinJaccard = Some(1.5)),
      () => Config(cosineAlignMinSim = Some(-0.1)),
      () => Config(cosineAlignMinSim = Some(1.01)),
      () => Config(dedupMinJaccard = Some(0.0)),
      () => Config(dedupMinJaccard = Some(2.0)),
      () => Config(fuzzyStopGramMaxDf = Some(0)))
    bad.foreach(c => assertThrows[IllegalArgumentException](c()))
    // the closed upper boundary stays valid (kg_pipeline_dedup runs with it)
    assert(Config(dedupMinJaccard = Some(1.0)).dedupMinJaccard === Some(1.0))
  }
}

class RdfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dims = Dims.tiny(spark)
  private def client = Inference.defaultClient(
    Dims.pinnedStrat.map(_.strat_name).toArray,
    Dims.gazetteer.map(_.name).toArray,
    Dims.pinnedMinerals.map(_.mineral).toArray)

  private lazy val rdf = {
    val pages = Pages.fixtures(spark)
      .filter(col("url").isin("https://fixtures.graft/sauk", "https://fixtures.graft/gold"))
    KgPipeline.run(spark, pages, dims, client,
      KgPipeline.Config(numPartitions = 2, emitRdf = true)).rdf.get.cache()
  }

  test("strat object node typed by Macrostrat rank (G2/G3)") {
    val smithville = rdf.filter(col("subj") === s"${Rdf.MSL}SmithvilleFormation")
    val types = smithville.filter(col("pred") === s"${Rdf.RDF_}type")
      .select("obj").collect().map(_.getString(0)).toSet
    assert(types.contains(s"${Rdf.GSGU}Formation"))
  }

  test("labels carry @en language tag (G4)") {
    val labels = rdf.filter(col("pred") === s"${Rdf.RDFS_}label" && col("lang") === "en")
    assert(labels.count() > 0)
  }

  test("deposition age links interval class (G6)") {
    val dep = rdf.filter(col("obj") === s"${Rdf.GST}OrdovicianPeriod").count()
    assert(dep > 0)
  }

  test("lithology objects emit rock-material typing + name/type/class label") {
    val hydrated = Seq(
      ("https://t/lith", "Wisconsin", "contains", "lith", "sandstone",
        "sandstone", "siliciclastic", "sedimentary"))
      .toDF("url", "subj_name", "predicate", "obj_kind", "obj_final",
        "lith", "lith_type", "lith_class")
    val got = Rdf.fromHydrated(hydrated, dims).collect()
    val node = s"${Rdf.XDD}Sandstone"
    assert(got.exists(t => t.subj == node && t.pred == s"${Rdf.RDF_}type" &&
      t.obj == s"${Rdf.GSOG}Rock_Material"))
    assert(got.exists(t => t.subj == node && t.pred == s"${Rdf.RDFS_}label" &&
      t.obj == "sandstone, siliciclastic, sedimentary" && t.lang == "en"))
    // hydrated-from-dim => Macrostrat provenance chain attaches
    assert(got.exists(t => t.subj == node && t.pred == s"${Rdf.PROV}wasGeneratedBy"))
  }

  test("non-period intervals map too: Early Ordovician epoch, Mississippian sub-period (G6)") {
    // the reference's INTERVAL_LOOKUP covers every Macrostrat interval type
    // (stratigraphy.py:68-86); an epoch-valued b_period must emit a
    // deposition triple, not silently drop.
    val hydrated = Seq(
      ("https://t/epoch", "EpochTest", "overlies", "strat", "EpochTest",
        "Early Ordovician", "Early Ordovician"),
      ("https://t/subperiod", "SubPeriodTest", "overlies", "strat", "SubPeriodTest",
        "Mississippian", "Mississippian"))
      .toDF("url", "subj_name", "predicate", "obj_kind", "obj_final",
        "b_period", "t_period")
    val got = Rdf.fromHydrated(hydrated, dims).collect()
    assert(got.exists(t => t.pred == s"${Rdf.GSOC}occupiesTimeDirectly" &&
      t.obj == s"${Rdf.GST}EarlyOrdovicianEpoch"))
    assert(got.exists(t => t.obj == s"${Rdf.GST}MississippianSub-Period"))
    assert(got.exists(t => t.obj == "Deposition during Early Ordovician" && t.lang == "en"))
  }

  test("WKT literal format is byte-exact (G9, general.py:231)") {
    val wkt = rdf.filter(col("pred") === s"${Rdf.GSOC}hasDataValue" &&
        col("obj").startsWith("( POINT "))
      .select("obj").collect().map(_.getString(0))
    assert(wkt.nonEmpty)
    // Minnesota: lon first, then lat, space-padded parens
    assert(wkt.contains("( POINT -93.3655 46.4419 )"))
  }

  test("rank relations: Jasper Member isPartOf Everton Formation shape (G5)") {
    val partOf = rdf.filter(col("pred") === s"${Rdf.GSOC}isPartOf")
      .select("subj", "obj").collect().map(r => (r.getString(0), r.getString(1)))
    // Jasper (Mbr) sits under fm=Everton: member node isPartOf enclosing fm
    assert(partOf.exists { case (s, o) =>
      s.contains("Jasper") && o.contains("Everton") })
  }

  test("deterministic: two emissions are identical (G11 bnode labels)") {
    val a = rdf.collect().map(_.toString).sorted
    val pages = Pages.fixtures(spark)
      .filter(col("url").isin("https://fixtures.graft/sauk", "https://fixtures.graft/gold"))
    val again = KgPipeline.run(spark, pages, dims, client,
      KgPipeline.Config(numPartitions = 2, emitRdf = true)).rdf.get
    val b = again.collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("TTL serialization emits prefixed Turtle per page") {
    val ttl = Rdf.toTtl(rdf).filter(col("url") === "https://fixtures.graft/gold")
      .select("ttl").collect().head.getString(0)
    assert(ttl.startsWith("@prefix rdf:"))
    assert(ttl.contains("gsog:Rock_Material"))
    assert(ttl.contains("\"gold, native element, Au\"@en"))
  }
}
