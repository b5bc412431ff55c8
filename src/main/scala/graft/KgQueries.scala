package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._

/** Driver-gate queries for the KG-construction operators (SURVEY.md §2),
  * expressed over the synthetic `documents` corpus so each has a DuckDB
  * oracle. The full-fidelity pipeline (reference fixtures, golden triplets,
  * hydration, RDF) is exercised by the ScalaTest suites; these queries prove
  * the same operators on driver-checkable data.
  */
object KgQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Small scan dictionary drawn from the synthetic corpus vocabulary. */
  val LocTerms: Seq[String] = Seq("spark", "table", "window", "stream")
  val EntTerms: Seq[String] = Seq("join", "merge", "hash", "scan", "filter")

  private def mentionsDf(s: SparkSession, dir: String, terms: Seq[String]): DataFrame =
    mentionsOf(s, Tables.documents(s, dir), terms)

  /** Mention scan over a CALLER-SUPPLIED doc frame: lets gates that only
    * consume mentions of a filtered slice (e.g. the hybrid retrieval
    * topic filter) push the row filter into the parquet scan instead of
    * Aho-Corasick-scanning the full corpus text and discarding the
    * mentions at a later join. */
  private def mentionsOf(s: SparkSession, docs: DataFrame, terms: Seq[String]): DataFrame = {
    val termsArr = terms.toArray
    import s.implicits._
    // NOT spread: with the gate queries' 4-9-term dictionaries the
    // Aho-Corasick pass over the local corpus is ~0.1 s serial, and a
    // spread's exchange + 32-task stages measured strictly slower
    // (kg_align 0.57 -> 0.92 in the round-7 job audit); callers that scan
    // with heavier downstream aggregation (hybridScored) spread their doc
    // slice themselves before passing it in
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val scanner = MentionScanner(termsArr, ignoreCase = false)
        it.flatMap { case (id, text) =>
          scanner.findAll(text).map(m => (id, m.word))
        }
      }.toDF("doc_id", "term")
  }

  /** Per-doc DISTINCT loc-term and ent-term sets from ONE combined
    * Aho-Corasick scan, docs having both kinds only — the shared scaffold
    * of the co-occurrence gate queries (kg_triples, kg_graph_by_page),
    * whose former two-scan + join form paid the corpus text pass twice.
    * Sorted sets make downstream pair expansion deterministic. */
  private def cooccurrenceSets(s: SparkSession, dir: String): DataFrame =
    mentionsDf(s, dir, LocTerms ++ EntTerms)
      .groupBy("doc_id")
      .agg(
        sort_array(collect_set(
          when(col("term").isin(LocTerms: _*), col("term")))).as("subjs"),
        sort_array(collect_set(
          when(col("term").isin(EntTerms: _*), col("term")))).as("objs"))
      .filter(size(col("subjs")) > 0 && size(col("objs")) > 0)

  private def sqlList(terms: Seq[String]): String =
    terms.map(t => s"('$t')").mkString(", ")

  /** Pinned-golden TSV → SQL VALUES rows. Used for the kg_rdf_triples and
    * kg_rdf_ttl oracles — the gate analogue of the reference's golden TTL
    * files (tests/fixtures/test_triplet_to_rdf_*.ttl at
    * tests/test_gkm.py:107-117): the fixture pipeline's output frozen over
    * FULL literal identity (object term + is-literal flag + lang tag +
    * datatype — what the reference's isomorphism check compares,
    * tests/test_gkm.py:114-117). Parity with the reference's asserted atoms
    * is proven by GoldenTtlSpec/RdfSpec and the independently hand-derived
    * kg_rdf_golden_slice; the frozen sets catch regression of the other
    * ~550 rows at the gate. Regenerate via graft.tools.GoldenRdf after
    * intentional changes. */
  private def goldenTsvValues(resource: String, boolCols: Set[Int] = Set.empty): String = {
    val in = getClass.getResourceAsStream(resource)
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    def q(v: String) = "'" + v.replace("'", "''") + "'"
    try src.getLines().map { line =>
      // quote by COLUMN position, never by value — a varchar field whose
      // value happens to be "true" (e.g. an xsd:boolean literal object)
      // must stay a string
      val fields = line.split("\t", -1)
      fields.zipWithIndex
        .map { case (f, i) => if (boolCols(i)) f else q(f) }
        .mkString("(", ", ", ")")
    }.mkString(", ")
    finally src.close()
  }
  private lazy val goldenRdfValues =
    goldenTsvValues("/golden/kg_rdf_triples.tsv", boolCols = Set(4)) // obj_is_literal
  private lazy val goldenTtlValues = goldenTsvValues("/golden/kg_rdf_ttl.tsv")

  /** Per-session gate bootstrap cache: the tiny dim snapshot, its prepared
    * (first-hit-deduped) hydration keys and the alias dim are identical
    * across every KG gate query — building them once per session removes
    * the dominant fixed cost of the chain-running queries (dedup windows +
    * broadcast builds were 27% of the visible gate wall at sf0.1). The
    * keys and the alias come back inside a base Config that each query
    * `.copy`s. */
  // Entries for STOPPED sessions are evicted on every access (a weak-key
  // map would not work here: the cached DataFrames strongly reference
  // their session, so the value would pin the key) — a long-lived driver
  // JVM holds at most the live sessions' bootstraps plus dead entries only
  // until the next gate-query call.
  private def evictStopped[V](m: java.util.concurrent.ConcurrentHashMap[SparkSession, V]): Unit = {
    val it = m.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
  }
  private val dimCache = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, (Dims.Snapshot, KgPipeline.Config)]()
  private def cachedDims(s: SparkSession): (Dims.Snapshot, KgPipeline.Config) = {
    evictStopped(dimCache)
    dimCache.computeIfAbsent(s, s => {
      // coalesce(1) before caching: the tiny gate dims otherwise cache at
      // shuffle-partition granularity (the firstHit window exchanges), so
      // every broadcast build in every chain query read ~32 near-empty
      // cached blocks — task count, not data. One partition per dim reads
      // one block per build. Values unchanged (coalesce sits after the
      // window/dedup computation); gate-only — the pipeline's own
      // bootstrap path is untouched.
      def c1(df: DataFrame) = df.coalesce(1)
      val dims = Dims.tiny(s).map(c1).persisted()
      val prepared = Hydrator.prepare(dims).map(c1).cached()
      (dims, KgPipeline.Config(prebuiltAlias = Some(c1(Linker.aliasDim(dims)).cache()),
        preparedDims = Some(prepared)))
    })
  }

  /** Tier-1 align → canonicalize → hydrate of hand-built triples over the
    * cached alias and hydration keys. */
  private def hydrateCached(s: SparkSession, triples: DataFrame): DataFrame = {
    val (_, base) = cachedDims(s)
    val canonical = Canonicalizer(Linker.align(triples, base.prebuiltAlias.get))
    Hydrator.hydratePrepared(canonical, base.preparedDims.get, base.jobStart)
  }

  /** Per-session fixture-pipeline result, shared by every gate query that
    * reads the fixture pipeline's output (RDF full set, TTL documents,
    * hand-derived slice, geocode, strat-GPS) — one pipeline
    * materialization, many sinks, exactly the reuse a production job gets
    * from its persisted stage boundary. */
  private val resultCache = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, KgPipeline.Result]()
  private def fixtureResult(s: SparkSession): KgPipeline.Result = {
    evictStopped(resultCache)
    resultCache.computeIfAbsent(s, s => {
      val (dims, base) = cachedDims(s)
      val client = Inference.pinnedClient
      val res = KgPipeline.run(s, Pages.fixtures(s), dims, client,
        base.copy(numPartitions = 4, emitRdf = true))
      // `triples` already reads the run's persisted hydrated output
      res.copy(rdf = res.rdf.map(_.persist()))
    })
  }
  private def fixtureRdf(s: SparkSession) = fixtureResult(s).rdf.get

  /** Deterministic retrieval scorer shared by the two search_to_graph
    * entry points (§3.2): whole-word case-insensitive mention counts of
    * the question terms over the fixture corpus, bounded top-SearchK. */
  private def searchScored(s: SparkSession): DataFrame = {
    import s.implicits._
    val terms = SearchQuestionTerms.toArray
    Pages.fixtures(s)
      .select(col("url"), col("text")).as[(String, String)]
      .mapPartitions { it =>
        val scanner = MentionScanner(terms, ignoreCase = true)
        it.map { case (url, text) => (url, scanner.findAll(text).size.toLong) }
      }.toDF("url", "score")
      .filter(col("score") > 0)
      .orderBy(desc("score"), col("url")).limit(SearchK)
  }

  val queries: Map[String, Q] = Map(
    // P11 + §7.2-1: page synthesis + the byte-identical extract invariant.
    // extracted_hash is computed by running extract(render(text)) — it can
    // only equal DuckDB's sha256(text) if the html→text roundtrip is exact.
    "kg_pages" -> { (s, dir) =>
      val extractHash = udf((html: Array[Byte]) =>
        Inference.FixtureClient.sha256(HtmlText.extract(html)))
      Pages.fromDocuments(s, dir)
        .select(col("url"), extractHash(col("html")).as("hashed_text"), col("lang"))
    },

    // P1: dictionary mention scan (Aho-Corasick vs per-term regex oracle).
    "kg_mentions" -> { (s, dir) =>
      mentionsDf(s, dir, LocTerms ++ EntTerms)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("n"))
    },

    // B3-lite + P4/P5 shape: deterministic co-occurrence triple rule —
    // (location term, 'co_occurs_with', entity term) per doc where both
    // occur whole-word. ONE combined mention scan (the former per-side
    // mentionsDf ran the Aho-Corasick pass over the full corpus twice and
    // joined the sides): each doc's distinct loc and ent term sets come
    // from a single aggregation and the per-doc cross product is two
    // explodes — the same (subj, obj) row set the distinct+join produced.
    "kg_triples" -> { (s, dir) =>
      cooccurrenceSets(s, dir)
        .select(col("doc_id"), explode(col("subjs")).as("subj"), col("objs"))
        .select(col("doc_id"), col("subj"),
          lit("co_occurs_with").as("predicate"), explode(col("objs")).as("obj"))
    },

    // J2: normalized-alias alignment join (broadcast).
    "kg_align" -> { (s, dir) =>
      import s.implicits._
      // surface-form variants of corpus terms: original, Title-case, dotted
      val ents = mentionsDf(s, dir, EntTerms).distinct()
        .withColumn("surface", explode(array(col("term"), initcap(col("term")),
          concat(col("term"), lit(".")))))
      val alias = EntTerms.map(t => (t, s"canon_$t")).toDF("alias", "canonical")
      ents.join(broadcast(alias),
          Linker.normName(col("surface")) === Linker.normName(col("alias")), "left")
        .select(col("doc_id"), col("surface"),
          coalesce(col("canonical"), col("surface")).as("obj_canonical"))
    },

    // J2, tier-2 fuzzy (alignment.py:110-119 sub-normalization linking,
    // made deterministic): a misspelled name links to its dictionary
    // canonical via char-3-gram Jaccard argmax iff J >= 0.6; an exact name
    // stays a tier-1 link; a below-threshold name stays unlinked. Oracle
    // rows hand-derived: norm("waldron shael") shares 9 of its 11 distinct
    // 3-grams with "waldron shale" (11 grams) → J = 9/13 ≈ 0.692 >= 0.6;
    // "Waldrop Q" (7 grams) shares 4 → J = 4/14 ≈ 0.286 < 0.6.
    "kg_align_fuzzy" -> { (s, dir) =>
      import s.implicits._
      val alias = Seq(
        ("waldron shale", "Waldron Shale"),
        ("shakopee formation", "Shakopee Formation"),
        ("gold", "gold"))
        .toDF("alias_norm", "canonical")
        .withColumn("kind", lit(Model.ObjKind.Strat))
      val names = Seq("Waldron Shale", "Waldron Shael", "Waldrop Q")
        .toDF("n")
        .select(lit("https://q/fuzzy").as("url"), lit("h").as("hashed_text"),
          lit("m").as("model_id"), lit("Indiana").as("subj_name"),
          lit("is in").as("predicate"),
          col("n").as("obj_name"), lit(Model.ObjKind.Strat).as("obj_kind"))
      Linker.alignFuzzy(Linker.align(names, alias), alias, minJaccard = 0.6)
        .select(col("obj_name").as("name"), col("obj_canonical"), col("obj_linked"))
    },

    // J2 tier-2 with the stop-gram cap ENGAGED (stopGramMaxDf = 3): the
    // web-scale skew lever proven at the driver gate. Dictionary: "waldron
    // shale" + four "... formation" aliases, so every gram of the shared
    // " formation" suffix (" fo" for orm rma mat ati tio ion, plus "a f" —
    // all five formation names end in 'a') has df = 4 > 3 and is a stop
    // gram (9 total). Hand-derived candidate arithmetic (distinct char
    // 3-grams of the normalized names):
    //  - "Waldron Shael": 9 shared non-stop grams with "waldron shale" →
    //    candidate survives the cap, exact J = 9/13 ≈ 0.692 >= 0.6 → links.
    //  - "Alpha Formaton": shares alp/lph/pha/"ha " (df=1) with "alpha
    //    formation" → candidate survives, exact J = 10/15 ≈ 0.667 → links;
    //    its beta/gamma/delta candidates (uncapped J = 6/18 ≈ 0.333) share
    //    ONLY stop grams and are never generated.
    //  - "Epsilon Formation": its four formation candidates (uncapped
    //    J = 8/20 = 0.4 < 0.6) share only stop grams — pruned from
    //    generation; the one surviving candidate ("on " with waldron
    //    shale, J = 1/25) is far below threshold → stays unlinked.
    // The cap provably changes candidate GENERATION (7 of 9 uncapped
    // candidate pairs never form) but not the emitted links — the oracle
    // rows are the uncapped fixture's semantics.
    "kg_align_fuzzy_capped" -> { (s, dir) =>
      import s.implicits._
      val alias = Seq(
        ("waldron shale", "Waldron Shale"),
        ("alpha formation", "Alpha Formation"),
        ("beta formation", "Beta Formation"),
        ("gamma formation", "Gamma Formation"),
        ("delta formation", "Delta Formation"))
        .toDF("alias_norm", "canonical")
        .withColumn("kind", lit(Model.ObjKind.Strat))
      val names = Seq("Waldron Shale", "Waldron Shael", "Alpha Formaton",
          "Epsilon Formation")
        .toDF("n")
        .select(lit("https://q/fuzzycap").as("url"), lit("h").as("hashed_text"),
          lit("m").as("model_id"), lit("Indiana").as("subj_name"),
          lit("is in").as("predicate"),
          col("n").as("obj_name"), lit(Model.ObjKind.Strat).as("obj_kind"))
      Linker.alignFuzzy(Linker.align(names, alias), alias, minJaccard = 0.6,
          stopGramMaxDf = Some(3))
        .select(col("obj_name").as("name"), col("obj_canonical"), col("obj_linked"))
    },

    // J2 tier-3 — the reference's kNN-cosine alignment geometry itself
    // (alignment.py:110-119) under the deterministic hashed char-3-gram
    // embedding: argmax cosine against the broadcast known-entity matrix,
    // swap iff sim >= 0.8, through the REAL tier-1 → tier-3 chain. The
    // oracle recomputes the IDENTICAL featurization and kernel in DuckDB
    // (md5 bucketing, 64-dim gram histograms, list_dot_product): gram
    // counts are small exact ints and sqrt/mult/div are correctly rounded,
    // so sims are bit-identical across engines — the threshold and argmax
    // decisions need no rounding epsilon.
    "kg_align_cosine" -> { (s, dir) =>
      import s.implicits._
      val alias = CosineAliasDict.toDF("alias_norm", "canonical")
        .withColumn("kind", lit(Model.ObjKind.Strat))
      val names = CosineTestNames.toDF("n")
        .select(lit("https://q/cosine").as("url"), lit("h").as("hashed_text"),
          lit("m").as("model_id"), lit("Minnesota").as("subj_name"),
          lit("is in").as("predicate"),
          col("n").as("obj_name"), lit(Model.ObjKind.Strat).as("obj_kind"))
      Linker.alignCosine(Linker.align(names, alias), alias, minSim = 0.8)
        .select(col("obj_name").as("name"), col("obj_canonical"), col("obj_linked"))
    },

    // The COMPOSED corpus-dedup pipeline gate (Config.dedupMinJaccard):
    // a 60-doc corpus slice plus exact copies of the first 20 docs runs the
    // full extract → dedup gate (MinHash-LSH → candidate Jaccard → CC) →
    // inference pipeline; the client emits one triple per page whose object
    // is the page's token-SET fingerprint. At threshold 1.0 the duplicate
    // clusters are exactly the token-set-equality classes (max 30 distinct
    // tokens/doc ⇒ no non-equal pair can round to 1.0), so the kept
    // fingerprints and the inference-side drop count are deterministic even
    // though the per-cluster WINNER (min url-hash) is an engine detail the
    // oracle never needs to know.
    "kg_pipeline_dedup" -> { (s, dir) =>
      import s.implicits._
      val (dims, cfg) = cachedDims(s)
      val render = udf((t: String, l: String) => HtmlText.render(t, l))
      val base = Tables.documents(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"), col("text"), col("lang"))
      def pagesOf(prefix: String, d: org.apache.spark.sql.DataFrame) =
        d.select(concat(lit(prefix), col("doc_id")).as("url"),
          timestamp_seconds(lit(1704067200L) + col("doc_id")).as("warc_ts"),
          col("text"), col("lang"))
      val pages = pagesOf("https://synthetic.graft/doc/", base)
        .unionByName(pagesOf("https://synthetic.graft/dup/",
          base.filter(col("doc_id") < 20)))
        .withColumn("html", render(col("text"), col("lang")))
      val res = KgPipeline.run(s, pages, dims, SetFingerprintClient,
        cfg.copy(numPartitions = 4, dedupMinJaccard = Some(1.0),
          canonicalize = false, promptDicts = Some(Seq())))
      val kept = res.triples.select(col("obj_name").as("kept_fp"), lit(1L).as("n"))
      val drops = res.lineage.filter(col("stage") === "dedup")
        .agg(coalesce(sum("failed_rows"), lit(0L)).cast("long").as("n"))
        .select(lit("__dropped__").as("kept_fp"), col("n"))
      // materialize eagerly (bounded: one row per kept page + one summary
      // row), then release this run's cached pipeline intermediates — each
      // invocation builds a fresh pipeline, so without the cleanup a
      // multi-pass harness (Bench warmup + timed) leaks 4 cached frames
      // per pass into the shared session
      val out = kept.unionByName(drops).localCheckpoint(true)
      res.cleanup()
      out
    },

    // The failure-bookkeeping pipeline gate (SURVEY B7; the reference's
    // re-drivable "NA" placeholder semantics,
    // chtc/preprocess_extraction_direct.py:99-110): a deterministic flaky
    // client fails 4 of 40 pages at the infer stage (empty raw — the
    // TransportClient retry-exhaustion degradation) and 4 at the parse
    // stage (unsalvageable output); the lineage stage rows and the
    // failed-url set must count exactly those pages, derivable from doc_id
    // arithmetic alone.
    "kg_pipeline_failures" -> { (s, dir) =>
      val (dims, base) = cachedDims(s)
      val render = udf((t: String, l: String) => HtmlText.render(t, l))
      val pages = Tables.documents(s, dir).filter(col("doc_id") < 40)
        .select(concat(lit("https://synthetic.graft/doc/"), col("doc_id")).as("url"),
          timestamp_seconds(lit(1704067200L) + col("doc_id")).as("warc_ts"),
          col("text"), col("lang"))
        .withColumn("html", render(col("text"), col("lang")))
      val res = KgPipeline.run(s, pages, dims, FlakyClient,
        base.copy(numPartitions = 4, canonicalize = false,
          promptDicts = Some(Seq())))
      val stages = res.lineage
        .filter(col("stage").isin("extract", "infer", "parse", "triples"))
        .groupBy("stage")
        .agg(sum("input_rows").as("input_rows"),
          sum("output_rows").as("output_rows"),
          sum("failed_rows").as("failed_rows"))
      val failed = res.failedUrls.agg(count(lit(1)).as("n"))
        .select(lit("failed_urls").as("stage"),
          lit(null).cast("long").as("input_rows"),
          col("n").as("output_rows"), lit(0L).as("failed_rows"))
      val out = stages.unionByName(failed).localCheckpoint(true)
      res.cleanup()
      out
    },

    // Recall gate on the reference's OWN eval artifact
    // (data/testset_micro.parquet.gzip, 30 real xDD paragraphs transcribed
    // in EvalSet): the full extraction pipeline — render→extract roundtrip,
    // mention scan, prompt-free heuristic inference, parse, tier-1 align —
    // runs over messy real-world text (unicode punctuation, column-layout
    // line breaks, OCR artifacts) with the 30 formation names as the strat
    // dictionary. The oracle is HAND-DERIVED from the extractor's specified
    // matching rule, never from engine output: found(row) ⇔ formation_name
    // occurs whole-word (ASCII \b boundaries, case-sensitive — the strat
    // scanner's exact semantics, MentionScanner scaladoc) in its paragraph.
    // 27 of 30 rows are present; the 3 misses are case-only (the artifact
    // spells "Unicoi/Ravenscrag formation" capitalized while the paragraph
    // has lowercase 'formation'; "Mcleary" vs the paragraph's "McLeary") —
    // the achievable bound of any case-exact extractor, which the gate pins
    // exactly. Location anchors: the heuristic emits a triple only when a
    // location mention precedes/follows the entity, so the location
    // dictionary is the ubiquitous function words ("the", "of") — present
    // in every found paragraph (verified in the oracle derivation), making
    // the gate a pure object-recall measurement.
    "kg_eval_recall" -> { (s, dir) =>
      import s.implicits._
      val rows = EvalSet.testsetMicro
      val (dims, base) = cachedDims(s)
      val render = udf((t: String, l: String) => HtmlText.render(t, l))
      val pages = rows.map(r => (s"https://xdd.ref/${r.paperId}", r.paragraph))
        .toDF("url", "text")
        .withColumn("warc_ts", timestamp_seconds(lit(1704067200L)))
        .withColumn("lang", lit("en"))
        .withColumn("html", render(col("text"), col("lang")))
        .select("url", "warc_ts", "html", "text", "lang")
      val client = new Inference.HeuristicClient(
        rows.map(_.formationName).toArray, Array("the", "of"), Array())
      val evalAlias = rows.map(_.formationName).toDF("canonical")
        .select(Linker.normName(col("canonical")).as("alias_norm"),
          col("canonical"), lit(Model.ObjKind.Strat).as("kind"))
      val res = KgPipeline.run(s, pages, dims, client,
        base.copy(numPartitions = 4, canonicalize = false,
          promptDicts = Some(Seq()), prebuiltAlias = Some(evalAlias)))
      val found = res.triples
        .filter(col("obj_kind") === Model.ObjKind.Strat)
        .select(col("url").as("f_url"), col("obj_name"), col("obj_linked"))
        .distinct()
      val out = rows.map(r => (r.formationName, s"https://xdd.ref/${r.paperId}"))
        .toDF("formation_name", "e_url")
        .join(found, col("e_url") === col("f_url") &&
          col("formation_name") === col("obj_name"), "left")
        .select(col("formation_name"), col("f_url").isNotNull.as("found"),
          coalesce(col("obj_linked"), lit(false)).as("linked"))
        .localCheckpoint(true)
      res.cleanup()
      out
    },

    // CC canonicalization: cluster surface variants, canonical = lexical min
    // of the cluster. Spark runs the real iterative connected-components;
    // the oracle computes the same clusters via the normalized key (exactly
    // equal at this scale because the edge set is the normalization star).
    "kg_canonical" -> { (s, dir) =>
      val variants = mentionsDf(s, dir, EntTerms)
        .select(col("term")).distinct()
        .withColumn("name", explode(array(col("term"), initcap(col("term")),
          concat(col("term"), lit(".")))))
        .withColumn("obj_kind", lit("strat"))
        .withColumn("obj_name", col("name"))
        .withColumn("obj_canonical", col("name"))
        .withColumn("obj_linked", lit(false))
      Canonicalizer.canonicalize(variants.select("obj_kind", "obj_name", "obj_canonical", "obj_linked"))
        .select(col("name"), col("canonical_name"))
    },

    // J3: hydration join with first-hit dedup (row_number over priority).
    "kg_hydrate" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val dim = Seq(
        ("join", 1L, "op"), ("join", 7L, "dup-op"), ("merge", 2L, "op"),
        ("hash", 3L, "fn"), ("scan", 4L, "op"), ("filter", 5L, "op"))
        .toDF("name", "dim_id", "category")
      val w = Window.partitionBy(col("name")).orderBy(col("dim_id"))
      val firstHit = dim.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      mentionsDf(s, dir, EntTerms).groupBy("doc_id", "term")
        .agg(count(lit(1)).as("n"))
        .join(broadcast(firstHit), col("term") === col("name"), "left")
        .select(col("doc_id"), col("term"), col("n"), col("dim_id"), col("category"))
    },

    // J3/S5, rank-suffix fuzzy tier (the reference's exact=False loose
    // match, schema.py:133-141 + macrostrat.py:87-115): abbreviated strat
    // surface forms ("Shakopee Fm") run the REAL align → canonicalize →
    // hydrate chain and land on the pinned record via the contracted-
    // long-name alias key; a name outside the dim stays unhydrated.
    // Oracle rows hand-derived from the pinned dim (Dims.pinnedStrat),
    // never from engine output.
    "kg_hydrate_fuzzy" -> { (s, dir) =>
      import s.implicits._
      val surfaces = Seq(
        "Shakopee Fm", "Roubidoux Fm", "Smithville Formation", "Nonesuch Fm")
        .toDF("s_name")
        .select(
          lit("https://q/strat-fuzzy").as("url"), lit("h").as("hashed_text"),
          lit("m").as("model_id"), lit("Minnesota").as("subj_name"),
          lit("is in").as("predicate"),
          col("s_name").as("obj_name"), lit(Model.ObjKind.Strat).as("obj_kind"))
      hydrateCached(s, surfaces)
        .select(col("obj_name").as("name"), col("strat_name"),
          col("strat_name_long"), col("rank"), col("strat_name_id"),
          col("concept_id"), col("b_age"), col("t_age"))
    },

    // Lithology pipeline kind (schema.py:63-98, EntityType.LITHOLOGY):
    // surface variants of the pinned lith vocabulary run the REAL align →
    // canonicalize → hydrate chain against the lith dim (exact-name,
    // first-hit). Self-contained — the lith dim is a pinned constant, so
    // the oracle inlines the same rows.
    "kg_lith_hydrate" -> { (s, dir) =>
      import s.implicits._
      val variants = Dims.pinnedLith.map(_.lith).toDF("lith_name")
        .withColumn("surface", explode(array(col("lith_name"),
          initcap(col("lith_name")), concat(col("lith_name"), lit(".")))))
        .select(
          lit("https://q/lith").as("url"), lit("h").as("hashed_text"),
          lit("m").as("model_id"), lit("Wisconsin").as("subj_name"),
          lit("contains").as("predicate"),
          col("surface").as("obj_name"), lit(Model.ObjKind.Lith).as("obj_kind"))
      hydrateCached(s, variants).select(col("obj_name").as("surface"), col("obj_final"),
        col("lith"), col("lith_id"), col("lith_type"), col("lith_class"))
    },

    // S6: geocode lookup — the distinct subject locations of the fixture
    // pipeline with their gazetteer coordinates (null-keeping on miss, the
    // reference's schema.py:142-144 behavior). Oracle VALUES are
    // hand-derived from SaukRawOutput's location strings x the pinned
    // gazetteer rows — never engine output.
    "kg_geocode" -> { (s, dir) =>
      fixtureResult(s).triples
        .select("subj_name", "subj_lat", "subj_lon").distinct()
    },

    // S7: GPS from strat units — centroid coordinates joined by the
    // hydrated unit's long name (Hydrator.stratGps). Oracle VALUES
    // hand-derived: the ten Sauk strat long names x the pinned strat-GPS
    // dim (hits: Shakopee + Smithville only).
    "kg_strat_gps" -> { (s, dir) =>
      val (dims, _) = cachedDims(s)
      Hydrator.stratGps(fixtureResult(s).triples, dims)
        .filter(col("strat_name_long").isNotNull)
        .select("strat_name_long", "clat", "clng").distinct()
    },

    // S6+S7 composed: per-page entity coordinates — the reference's
    // geolocate_model_graph_extraction (geolocation/postprocessing.py:5-29)
    // attaches entity_coords from BOTH sources: subject geocode (serpapi →
    // our gazetteer join) and strat-unit GPS (StratNameGPSLookup → our
    // strat-GPS dim join). Located entities only, like the reference's
    // if-hit inserts. Oracle VALUES hand-derived per fixture page.
    "kg_entity_coords" -> { (s, dir) =>
      val t = fixtureResult(s).triples
      val (dims, _) = cachedDims(s)
      val subj = t.filter(col("subj_lat").isNotNull)
        .select(col("url"), col("subj_name").as("entity"),
          col("subj_lat").as("lat"), col("subj_lon").as("lon"))
      val strat = Hydrator.stratGps(t, dims).filter(col("clat").isNotNull)
        .select(col("url"), col("strat_name_long").as("entity"),
          col("clat").as("lat"), col("clng").as("lon"))
      subj.unionByName(strat).distinct()
    },

    // P7 + P8: formula -> element extraction and the USGS-exclusive
    // fallback, through the REAL align -> canonicalize -> hydrate chain.
    // fluorspar is absent from the Macrostrat mineral dim and must pick up
    // its Mindat formula (schema.py:358-372 ordering); elements in the
    // oracle were hand-derived from the formulas (schema.py:301-337 scan
    // semantics), not from the engine.
    "kg_elements" -> { (s, dir) =>
      import s.implicits._
      val minerals = Seq("gold", "gallium", "Agrinierite", "fluorspar")
        .toDF("m_name")
        .select(
          lit("https://q/minerals").as("url"), lit("h").as("hashed_text"),
          lit("m").as("model_id"), lit("Minnesota").as("subj_name"),
          lit("contains").as("predicate"),
          col("m_name").as("obj_name"), lit(Model.ObjKind.Mineral).as("obj_kind"))
      hydrateCached(s, minerals)
        .select(col("obj_name").as("name"), col("mineral"), col("formula"),
          col("formula_source"),
          // array_join'd so any row-hashing comparator (which cannot
          // canonicalize ndarray cells) can sort/hash the column.
          array_join(col("elements"), ",").as("elements"))
    },

    // G2/P6: entity-name formatting to URI-safe node ids — via the native
    // codegen'd Catalyst expression (graft.plans.Expressions), not a UDF.
    "kg_entity_uri" -> { (s, dir) =>
      mentionsDf(s, dir, EntTerms).select(col("term")).distinct()
        .select(col("term"),
          concat(lit(Rdf.MSL), graft.plans.Expressions.entity_name(col("term"))).as("uri"))
    },

    // S1: retrieval — top-k docs by query-term relevance (deterministic
    // mention-count scoring replacing the reference's vector search).
    "kg_retrieval_topk" -> { (s, dir) =>
      mentionsDf(s, dir, Seq("spark", "join"))
        .groupBy("doc_id").agg(count(lit(1)).as("score"))
        .orderBy(desc("score"), col("doc_id"))
        .limit(10)
    },

    // S1, semantic variant (askxdd.py:77-120 with_near_text): rank pages by
    // COSINE of text embeddings instead of raw term counts. Embeddings are
    // deterministic hashed bag-of-words (dim i = count of tokens whose
    // md5 starts with hex digit i) — the engine-portable stand-in for a
    // model embedding column; the ranking machinery (vector featurize →
    // cosine → top-k) is the real thing and runs on the same codegen'd
    // dot_product expression as the similarity stack.
    "kg_retrieval_semantic" -> { (s, dir) =>
      // spread is value-safe here: the embedding dims are integer token
      // counts (exact in doubles), the cosine is per-row
      val docs = Tables.spread(s, Tables.documents(s, dir), "doc_id")
      val emb = hashedBowEmb(docs)
      val qv = semanticQueryVector(SemanticQuery)
      val qNorm = math.sqrt(qv.map(x => x * x).sum)
      val qCol = array(qv.map(lit): _*)
      emb.select(col("doc_id"),
          round(graft.ops.Similarity.dot(col("embedding"), qCol) /
            (graft.ops.Similarity.norm(col("embedding")) * lit(qNorm)), 4).as("score"))
        .orderBy(desc("score"), col("doc_id"))
        .limit(10)
    },

    // S1, HYBRID fusion (askxdd.py:77-120: Weaviate hybrid search — one
    // query ranked by BOTH the lexical and the vector index, fused, under a
    // topic filter): each scorer returns its bounded TOP-K result list
    // (TakeOrderedAndProject — never a global rank over the candidate set,
    // which at corpus scale is unbounded), the two lists full-outer join on
    // doc id, and a doc's fused score sums alpha/(60+rank) over the lists
    // that returned it — Weaviate's reciprocal-rank fusion of two result
    // lists, alpha = 0.5. Integer ranks with doc_id tie-break keep both
    // engines exact; score-normalization fusion would ride on
    // cross-engine fp drift.
    "kg_retrieval_hybrid" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val scored = hybridScored(s, dir)
      // top-K list per scorer: orderBy+limit compiles to TakeOrdered; the
      // rank window then runs over the ALREADY-BOUNDED K-row list
      def topList(by: String, rank: String) = scored
        .orderBy(desc(by), col("doc_id")).limit(HybridK)
        .withColumn(rank, row_number().over(
          Window.orderBy(desc(by), col("doc_id"))))
        .select(col("doc_id"), col(rank))
      topList("lex_score", "rank_lex")
        .join(topList("sem_score", "rank_sem"), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(coalesce(lit(0.5) / (lit(60) + col("rank_sem")), lit(0.0)) +
            coalesce(lit(0.5) / (lit(60) + col("rank_lex")), lit(0.0)) +
            lit(1e-9), 6).as("score"))
        .orderBy(desc("score"), col("doc_id"))
        .limit(10)
    },

    // S1, HYBRID fusion mode 2 (askxdd.py:77-120): Weaviate's OTHER fusion
    // algorithm, relativeScoreFusion — each scorer's bounded top-K list is
    // min-max normalized to [0,1] over that list, and the fused score is
    // alpha*norm_vector + (1-alpha)*norm_lexical with Weaviate's default
    // alpha = 0.75. Same scale shape as the RRF variant: TakeOrdered lists,
    // a 1-row broadcast min/max per list (never a global scan), full-outer
    // fuse. Normalization inputs are exact on both engines (integer lex
    // counts, round(,4) cosines), so the min-max division is the same IEEE
    // op both sides; round(,6) pins the fused score. A degenerate all-equal
    // list normalizes to 1.0 (documented choice, mirrored in the oracle).
    "kg_retrieval_hybrid_rel" -> { (s, dir) =>
      val scored = hybridScored(s, dir)
      def topNorm(by: String, norm: String) = {
        val top = scored.orderBy(desc(by), col("doc_id")).limit(HybridK)
          .select(col("doc_id"), col(by).cast("double").as("sc"))
        val mm = top.agg(min(col("sc")).as("mn"), max(col("sc")).as("mx"))
        top.crossJoin(broadcast(mm))
          .select(col("doc_id"),
            when(col("mx") === col("mn"), lit(1.0))
              .otherwise((col("sc") - col("mn")) / (col("mx") - col("mn")))
              .as(norm))
      }
      topNorm("lex_score", "norm_lex")
        .join(topNorm("sem_score", "norm_sem"), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(lit(0.75) * coalesce(col("norm_sem"), lit(0.0)) +
            lit(0.25) * coalesce(col("norm_lex"), lit(0.0)) + lit(1e-9), 6)
            .as("score"))
        .orderBy(desc("score"), col("doc_id"))
        .limit(10)
    },

    // §3.2 END-TO-END: POST /search_to_graph_fast (api/engine.py:52-62 →
    // llm.py:410-441) — one query through the reference's cached entry point:
    // retrieval ranks the corpus against the question (askxdd.py:77-120),
    // the bounded top-k result list probes the TRIPLET CACHE by page key
    // (llm.py:369-407 — our triples store IS that cache, SURVEY §3.2), and
    // each hit returns its per-paragraph graph serialized as a Turtle
    // document (llm.py:437-441). Retrieval is the deterministic whole-word
    // case-insensitive mention-count scorer over the fixture corpus; the
    // probe joins the SAME per-page TTL documents kg_rdf_ttl gates. Oracle:
    // retrieval scores hand-counted from the fixture texts, TTL hashes from
    // the pinned golden set — a two-sided check on the retrieval half.
    "kg_search_to_graph" -> { (s, dir) =>
      searchScored(s).join(Rdf.toTtl(fixtureRdf(s)), Seq("url"))
        .select(col("url"), col("score"), md5(col("ttl")).as("ttl_md5"))
    },

    // §3.1 SLOW entry point: POST /search_to_graph_slow (api/engine.py:
    // 38-48 → llm.py llm_graph_from_search) — the same retrieval ranks the
    // corpus, but instead of probing the triplet cache the bounded top-k
    // pages run LIVE extraction: the full prompt → inference → parse →
    // align → hydrate → RDF pipeline over just the retrieved pages, then
    // per-paragraph TTL. Like the reference's slow path, this run has NO
    // corpus-global stage (llm_graph_from_search extracts each paragraph
    // in isolation — canonicalization is this engine's compaction-level
    // addition, so canonicalize=false here), which makes the output
    // slice-independent BY CONSTRUCTION. It can therefore share
    // kg_search_to_graph's oracle verbatim given one premise — corpus
    // canonicalization is identity on the fixture TTLs — pinned by its own
    // spec test, so a fixture edit that breaks it fails with a clear
    // message, not a confusing oracle mismatch. A gate-proven twin across
    // ENTRY POINTS rather than physical plans.
    "kg_search_to_graph_slow" -> { (s, dir) =>
      val scored = searchScored(s).localCheckpoint(true) // bounded: ≤ SearchK rows
      val (dims, base) = cachedDims(s)
      val client = Inference.pinnedClient
      val top = Pages.fixtures(s).join(broadcast(scored.select("url")), Seq("url"))
      val res = KgPipeline.run(s, top, dims, client,
        base.copy(numPartitions = 4, emitRdf = true, canonicalize = false))
      val out = scored.join(Rdf.toTtl(res.rdf.get), Seq("url"))
        .select(col("url"), col("score"), md5(col("ttl")).as("ttl_md5"))
        .localCheckpoint(true)
      res.cleanup()
      out
    },

    // §2.8 driver-gated STREAMING: a real Structured Streaming query —
    // file source → extract → prompt → infer → parse
    // (StreamingKg.rawParsedStream) → tier-1 align → hydrate → exactly-once
    // snapshot commit (StreamingKg.snapshotSinkWithFailures), AvailableNow
    // trigger — over the fixture corpus, gated on the Sauk page's full
    // triple set as read back from the committed store. The oracle rows
    // are HAND-DERIVED: the 10 (subj, pred, obj) triplets are the
    // reference's recorded extraction output (tests/conftest.py
    // transcription, Fixtures.SaukGoldenTriples); every object is a
    // dictionary alias (pinned dims), so obj_linked=true; strat_name_id per
    // object read off the pinned dim rows (Dims.pinnedStrat) by the
    // firstHit key rule. The engine never produced these values — a
    // two-sided check that the STREAMING path extracts, links and hydrates
    // exactly what batch fidelity demands.
    "kg_stream_triples" -> { (s, dir) =>
      import graft.streaming.StreamingKg
      val tmps = Seq("gatestreampages", "gatestreamstore", "gatestreamckpt")
        .map(java.nio.file.Files.createTempDirectory(_))
      val Seq(pagesDir, storeDir, ckptDir) = tmps.map(_.toString)
      Pages.fixtures(s).write.mode("overwrite").parquet(pagesDir)
      val (dims, base) = cachedDims(s)
      val sink = StreamingKg.snapshotSinkWithFailures(
        StreamingKg.rawParsedStream(StreamingKg.pagesStream(s, pagesDir),
          dims, Inference.pinnedClient),
        storeDir, dims, base)
      try {
        val q = sink.writer.option("checkpointLocation", ckptDir)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        // a timed-out query is still committing: reading the store then
        // would return a PARTIAL result
        if (!q.awaitTermination(180000)) {
          q.stop()
          sys.error("kg_stream_triples: streaming query did not finish in 180 s")
        }
        // the snapshot is eager, so the temp dirs can go in the finally
        graft.sources.SnapshotStore.read(s, storeDir, "triples").get
          .filter(col("url") === "https://fixtures.graft/sauk")
          .select(col("subj_name"), col("predicate"), col("obj_name"),
            col("obj_linked"), col("strat_name_id"))
          .localCheckpoint(true)
      } finally {
        sink.release()
        tmps.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
      }
    },

    // GraphOutput regrouping: the reference's output unit is a per-paragraph
    // graph (schema.py:432-447 GraphOutput = text hash + triplet list); this
    // regroups the exploded triples back to one row per page with a sorted,
    // deterministic triplet-key digest.
    // ONE combined mention scan + a narrow per-doc pair expansion (the
    // former per-side mentionsDf scans, join and second groupBy are gone):
    // the triplet keys of a doc are the cross product of its two sorted
    // term sets, so the count is size(subjs) x size(objs) and the sorted
    // key list is computed per row — identical values.
    "kg_graph_by_page" -> { (s, dir) =>
      val tkeys = flatten(transform(col("subjs"), sj =>
        transform(col("objs"), ob =>
          concat_ws("|", sj, lit("co_occurs_with"), ob))))
      cooccurrenceSets(s, dir)
        .select(col("doc_id"),
          (size(col("subjs")).cast("long") * size(col("objs"))).as("n_triplets"),
          concat_ws(";", array_sort(tkeys)).as("graph_key"))
    },

    // G1-G11: full RDF materialization over the reference fixture pages,
    // gated on FULL literal identity (term + is-literal + lang + datatype —
    // what the reference's isomorphism assert compares,
    // tests/test_gkm.py:114-117) against the pinned golden set.
    "kg_rdf_triples" -> { (s, dir) =>
      fixtureRdf(s).toDF()
        .select("url", "subj", "pred", "obj", "obj_is_literal", "lang", "datatype")
    },

    // S12: the TTL serializer itself, gated — one Turtle document per page,
    // hashed (a serialization regression that graph-row checks can't see —
    // prefix table, term quoting, escaping, line order — flips the hash).
    "kg_rdf_ttl" -> { (s, dir) =>
      Rdf.toTtl(fixtureRdf(s)).select(col("url"), md5(col("ttl")).as("ttl_md5"))
    },

    // Two-sided RDF oracle (the pinned golden set is engine-generated; this
    // one is NOT): the object-node + type + label rows for all ten
    // Sauk-fixture strat triplets AND the gold-fixture mineral triplet,
    // hand-derived from reference semantics alone —
    // object_node_stratigraphy (stratigraphy.py:14-26: MSL + entity_name of
    // strat_name_long-else-strat_name), stratigraphic_type (:89-114:
    // RANK_LOOKUP[rank]), stratigraphic_label (:117-131: long name, @en),
    // object_node_mineral + mineral_type (mineral.py:8-35: XDD +
    // entity_name(mineral); Rock_Material + GSRM class typing;
    // "name, type, formula"@en label) applied to the pinned Macrostrat dim
    // rows. The oracle VALUES below were written by hand from those
    // functions; the engine never produced them.
    "kg_rdf_golden_slice" -> { (s, dir) =>
      val stratNodes = SaukObjectNodes.map(Rdf.MSL + _)
      val preds = col("pred").isin(Rdf.RDF_ + "type", Rdf.RDFS_ + "label")
      fixtureRdf(s).toDF()
        .filter(preds && (
          (col("url") === "https://fixtures.graft/sauk" &&
            col("subj").isin(stratNodes: _*)) ||
          (col("url") === "https://fixtures.graft/gold" &&
            col("subj") === Rdf.XDD + "Gold")))
        .select("subj", "pred", "obj", "obj_is_literal", "lang", "datatype")
    }
  )

  private val HexDigits = "0123456789abcdef"

  /** Hashed bag-of-words embedding per doc: dim i = count of token
    * OCCURRENCES whose md5 begins with hex digit i. Occurrences are
    * pre-counted per (doc_id, tok) — a map-side partial aggregation that
    * collapses the occurrence stream before any exchange — so the md5 runs
    * once per distinct (doc, token) pair (~150k at sf0.1) instead of once
    * per occurrence (~18M); the tf-weighted sums are definitionally the
    * former per-occurrence conditional sums. */
  private def hashedBowEmb(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("b", substring(md5(col("tok")), 1, 1))
    val sums = (0 until 16).map(i =>
      sum(when(col("b") === HexDigits(i).toString, col("tf")).otherwise(lit(0L)))
        .cast("double").as(s"c$i"))
    tf.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        array((0 until 16).map(i => col(s"c$i")): _*).as("embedding"))
  }

  /** The retrieval question for the semantic gate query. */
  val SemanticQuery = "spark join table window stream"

  /** DuckDB twin of [[hybridScored]]: the CTE chain ending in
    * `scored(doc_id, lex_score, sem_score)`, shared by both hybrid-fusion
    * oracles. Emitted WITHOUT the leading WITH so callers can append their
    * fusion-specific CTEs. */
  private lazy val hybridScoredSql: String = {
    val qv = semanticQueryVector(SemanticQuery)
    val qNorm = math.sqrt(qv.map(x => x * x).sum)
    val sums = (0 until 16)
      .map(i => s"sum(CASE WHEN b = '${HexDigits(i)}' THEN 1 ELSE 0 END)::DOUBLE")
      .mkString(", ")
    val qvSql = qv.mkString("[", ", ", "]")
    val topics = HybridTopics.map(t => s"'$t'").mkString(", ")
    s"""docs AS (
            SELECT doc_id, text FROM documents WHERE source IN ($topics)),
          lex AS (
            SELECT doc_id,
              len(regexp_extract_all(text, '\\bspark\\b')) +
              len(regexp_extract_all(text, '\\bjoin\\b')) AS lex_score
            FROM docs),
          tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
            FROM docs),
          b AS (SELECT doc_id, substr(md5(tok), 1, 1) AS b FROM tok),
          emb AS (SELECT doc_id, [$sums] AS emb FROM b GROUP BY doc_id),
          sem AS (
            SELECT docs.doc_id,
              coalesce(round(list_dot_product(emb, $qvSql) /
                (sqrt(list_dot_product(emb, emb)) * $qNorm), 4), -1.0) AS sem_score
            FROM docs LEFT JOIN emb ON docs.doc_id = emb.doc_id),
          scored AS (
            SELECT lex.doc_id, lex_score, sem_score
            FROM lex JOIN sem ON lex.doc_id = sem.doc_id)"""
  }

  /** §3.2's question terms + result-list size for the composed
    * search_to_graph gate query (scored over the fixture corpus, whose
    * cached graphs the golden TTL set pins). */
  val SearchQuestionTerms: Seq[String] = Seq("minnesota", "formation")
  val SearchK = 3

  /** kg_align_cosine fixtures: a small known-entity dictionary
    * (normalized alias → canonical) and surface forms covering tier-1
    * exact linking, tier-3 misspelling recovery at sim >= 0.8, and an
    * unrelated name no tier may link. */
  val CosineAliasDict: Seq[(String, String)] = Seq(
    ("abbey head bed", "Abbey Head Bed"),
    ("shakopee formation", "Shakopee Formation"),
    ("everton formation", "Everton Formation"),
    ("st. peter sandstone", "St. Peter Sandstone"),
    ("quartz", "quartz"),
    // sub-gram-length alias: exercises charGrams' whole-name fallback on
    // the dictionary side (oracle mirrors it in the ag CTE)
    ("au", "Gold Au"))
  val CosineTestNames: Seq[String] = Seq(
    "Abbey Haed Bed.", "Shakope Formation", "Evertn Formation",
    "St Peter Sandstone", "totally unrelated zq", "Shakopee Formation",
    // short names: "Au." links tier-1 exact after normalization; "qz"
    // exercises the whole-name-gram fallback on the unlinked side (its one
    // bucket, 56, matches no alias mass -> stays unlinked)
    "Au.", "qz")

  /** The hybrid gate's topic filter (askxdd.py's topic_list containment
    * predicate, over the corpus `source` facet) and per-scorer result-list
    * size (Weaviate fuses the two bounded top-K lists, never a global
    * ranking of the candidate set). */
  val HybridTopics: Seq[String] = Seq("src0", "src1", "src2", "src3", "src4")
  val HybridK = 100

  /** Hashed bag-of-words featurization of a query string — dim i counts the
    * query tokens whose md5 begins with hex digit i (the same rule the
    * per-document embeddings use, so driver-side Scala and the two engines
    * agree byte-for-byte). */
  def semanticQueryVector(q: String): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val v = new Array[Double](16)
    q.split(" ").filter(_.nonEmpty).foreach { t =>
      val h = md.digest(t.getBytes("UTF-8"))
      v(((h(0) >> 4) & 0xf)) += 1.0
    }
    v
  }

  /** Shared scaffold of the two hybrid-fusion gate queries: the
    * topic-filtered corpus scored by BOTH rankers — lexical mention count
    * and semantic cosine of the hashed bag-of-words embedding against the
    * question vector. localCheckpointed because both bounded top-K lists
    * consume it; without the pin the mention scan + embedding aggregation
    * would run twice per execution. Token-less docs get sem_score −1
    * (a vector index never returns them). */
  private def hybridScored(s: SparkSession, dir: String): DataFrame = {
    // filter first (pushed to the scan), then spread the slice so the
    // mention scan + embedding aggregation parallelize (integer counts —
    // exact); the three consumers below share the one exchange via
    // ReuseExchange
    val docs = Tables.spread(s,
      Tables.documents(s, dir).filter(col("source").isin(HybridTopics: _*)), "doc_id")
    // scan only the topic slice: non-topic docs' mentions were discarded
    // by the left join below anyway, so filtering first (pushed to the
    // parquet scan) drops 3/4 of the Aho-Corasick text pass — same rows
    val lex = mentionsOf(s, docs, Seq("spark", "join"))
      .groupBy("doc_id").agg(count(lit(1)).as("lex_score"))
    val emb = hashedBowEmb(docs)
    val qv = semanticQueryVector(SemanticQuery)
    val qNorm = math.sqrt(qv.map(x => x * x).sum)
    val qCol = array(qv.map(lit): _*)
    docs.select("doc_id")
      .join(lex, Seq("doc_id"), "left")
      .join(emb, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lex_score"), lit(0L)).as("lex_score"),
        coalesce(round(graft.ops.Similarity.dot(col("embedding"), qCol) /
          (graft.ops.Similarity.norm(col("embedding")) * lit(qNorm)), 4),
          lit(-1.0)).as("sem_score"))
      .localCheckpoint(true)
  }

  /** The ten Sauk-triplet object nodes, by reference rule (entity_name of
    * the hydrated strat_name_long): hand-derivable from SaukRawOutput +
    * the pinned dim rows, independent of the engine. */
  val SaukObjectNodes: Seq[String] = Seq(
    "ShakopeeFormation", "RoubidouxFormation", "JeffersonCityDolomite",
    "CotterDolomite", "PowellDolomite", "SmithvilleFormation",
    "BlackRockFormation", "EvertonFormation", "JasperMember", "SaukSequence")

  /** One-triple-per-page inference client whose object is the page's
    * token-set fingerprint (sha256 over the sorted distinct tokens): makes
    * the dedup-gated pipeline's kept set observable content-keyed, so the
    * oracle never depends on which cluster member the min-url-hash winner
    * rule picks. Tokenization mirrors graft.ops.Dedup.tokens exactly. */
  private object SetFingerprintClient extends kg.Inference.InferenceClient {
    val modelId = "fingerprint-echo-v0"
    def infer(batch: Seq[kg.Inference.Request]): Seq[String] = batch.map { r =>
      val fp = kg.Inference.FixtureClient.sha256(
        r.text.split(" ").filter(_.nonEmpty).distinct.sorted.mkString(" "))
      s"""{"triplets": [{"location": "PAGE", "relationship": "kept", "stratigraphic_name": "$fp"}]}"""
    }
  }

  /** Deterministic flaky client for the failure-lineage gate: the page's
    * numeric url suffix picks the outcome — ≡3 (mod 10) yields an empty raw
    * (exactly what TransportClient degrades to after retry exhaustion,
    * Inference.scala), ≡4 (mod 10) yields output no cleanup can salvage,
    * everything else one valid triplet. */
  private object FlakyClient extends kg.Inference.InferenceClient {
    val modelId = "flaky-echo-v0"
    def infer(batch: Seq[kg.Inference.Request]): Seq[String] = batch.map { r =>
      val id = r.url.substring(r.url.lastIndexOf('/') + 1).toLong
      id % 10 match {
        case 3 => ""
        case 4 => "model refused: cannot extract triplets from this text"
        case _ =>
          s"""{"triplets": [{"location": "PAGE", "relationship": "ok", "stratigraphic_name": "doc$id"}]}"""
      }
    }
  }

  private val oraclesBase: Map[String, String] = Map(
    "kg_pages" ->
      """SELECT 'https://synthetic.graft/doc/' || doc_id AS url,
         sha256(text) AS hashed_text, lang FROM documents""",
    "kg_mentions" ->
      s"""SELECT doc_id, term, n FROM (
          SELECT doc_id, term,
            len(regexp_extract_all(text, '\\b' || term || '\\b')) AS n
          FROM documents CROSS JOIN (VALUES ${sqlList(LocTerms ++ EntTerms)}) t(term))
          WHERE n > 0""",
    "kg_triples" ->
      s"""WITH locs AS (
            SELECT DISTINCT doc_id, term AS subj FROM documents
            CROSS JOIN (VALUES ${sqlList(LocTerms)}) t(term)
            WHERE regexp_matches(text, '\\b' || term || '\\b')),
          ents AS (
            SELECT DISTINCT doc_id, term AS obj FROM documents
            CROSS JOIN (VALUES ${sqlList(EntTerms)}) t(term)
            WHERE regexp_matches(text, '\\b' || term || '\\b'))
          SELECT locs.doc_id, subj, 'co_occurs_with' AS predicate, obj
          FROM locs JOIN ents ON locs.doc_id = ents.doc_id""",
    "kg_align" ->
      s"""WITH ents AS (
            SELECT DISTINCT doc_id, term FROM documents
            CROSS JOIN (VALUES ${sqlList(EntTerms)}) t(term)
            WHERE regexp_matches(text, '\\b' || term || '\\b')),
          surfaces AS (
            SELECT doc_id, unnest([term, upper(term[1]) || term[2:], term || '.']) AS surface
            FROM ents),
          alias AS (SELECT alias, 'canon_' || alias AS canonical
                    FROM (VALUES ${sqlList(EntTerms)}) a(alias))
          SELECT doc_id, surface,
            coalesce(canonical, surface) AS obj_canonical
          FROM surfaces LEFT JOIN alias
            ON regexp_replace(regexp_replace(lower(trim(surface)), '\\.+$$', ''), '\\s+', ' ', 'g')
             = regexp_replace(regexp_replace(lower(trim(alias)), '\\.+$$', ''), '\\s+', ' ', 'g')""",
    "kg_canonical" ->
      s"""WITH terms AS (
            SELECT DISTINCT term FROM documents
            CROSS JOIN (VALUES ${sqlList(EntTerms)}) t(term)
            WHERE regexp_matches(text, '\\b' || term || '\\b')),
          variants AS (
            SELECT unnest([term, upper(term[1]) || term[2:], term || '.']) AS name
            FROM terms),
          keyed AS (
            SELECT name,
              regexp_replace(regexp_replace(lower(trim(name)), '\\.+$$', ''), '\\s+', ' ', 'g') AS norm
            FROM variants)
          SELECT name, min(name) OVER (PARTITION BY norm) AS canonical_name
          FROM keyed""",
    "kg_hydrate" ->
      s"""WITH m AS (
            SELECT doc_id, term,
              len(regexp_extract_all(text, '\\b' || term || '\\b')) AS n
            FROM documents CROSS JOIN (VALUES ${sqlList(EntTerms)}) t(term)),
          dim AS (
            SELECT name, dim_id, category FROM (
              SELECT name, dim_id, category,
                row_number() OVER (PARTITION BY name ORDER BY dim_id) AS rn
              FROM (VALUES ('join', 1, 'op'), ('join', 7, 'dup-op'),
                ('merge', 2, 'op'), ('hash', 3, 'fn'), ('scan', 4, 'op'),
                ('filter', 5, 'op')) d(name, dim_id, category))
            WHERE rn = 1)
          SELECT doc_id, term, n, dim_id, category
          FROM (SELECT * FROM m WHERE n > 0) m
          LEFT JOIN dim ON m.term = dim.name""",
    // hand-derived from Dims.pinnedStrat: Shakopee 1278/1279 479.0/470.0,
    // Roubidoux 5871/3842 480.0/475.0, Smithville 5933/3863
    // 471.2834/465.5 (tests/test_llm.py:7-32); Nonesuch misses.
    "kg_hydrate_fuzzy" ->
      """SELECT * FROM (VALUES
           ('Shakopee Fm', 'Shakopee', 'Shakopee Formation', 'Fm', 1278, 1279, 479.0, 470.0),
           ('Roubidoux Fm', 'Roubidoux', 'Roubidoux Formation', 'Fm', 5871, 3842, 480.0, 475.0),
           ('Smithville Formation', 'Smithville', 'Smithville Formation', 'Fm', 5933, 3863, 471.2834, 465.5),
           ('Nonesuch Fm', NULL::VARCHAR, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT, NULL::BIGINT, NULL::DOUBLE, NULL::DOUBLE)
         ) t(name, strat_name, strat_name_long, "rank", strat_name_id, concept_id, b_age, t_age)""",
    // hand-derived (gram arithmetic in the query's comment): exact name →
    // tier-1 link; J=9/13 misspelling → tier-2 link; J=4/14 → unlinked
    "kg_align_fuzzy" ->
      """SELECT * FROM (VALUES
           ('Waldron Shale', 'Waldron Shale', true),
           ('Waldron Shael', 'Waldron Shale', true),
           ('Waldrop Q', 'Waldrop Q', false)
         ) t(name, obj_canonical, obj_linked)""",
    // hand-derived (gram arithmetic in the query's comment): the cap prunes
    // 7 of 9 candidate pairs (those sharing only " formation"-suffix stop
    // grams) but survivors re-score exactly, so emitted links equal the
    // uncapped semantics: J=9/13 and J=10/15 link, J<=0.4 rows don't
    "kg_align_fuzzy_capped" ->
      """SELECT * FROM (VALUES
           ('Waldron Shale', 'Waldron Shale', true),
           ('Waldron Shael', 'Waldron Shale', true),
           ('Alpha Formaton', 'Alpha Formation', true),
           ('Epsilon Formation', 'Epsilon Formation', false)
         ) t(name, obj_canonical, obj_linked)""",
    // Full re-derivation of the tier-1 + tier-3 chain in DuckDB: identical
    // normalization, gram extraction, md5 bucketing, 64-dim gram
    // histograms, cosine kernel, threshold and argmax — no engine output
    // and no epsilon (see the query comment on bit-identical sims).
    "kg_align_cosine" -> {
      val hex = "0123456789abcdef"
      val dim = Linker.CosineDim
      val sums = (0 until dim)
        .map(d => s"sum(CASE WHEN b = $d THEN 1 ELSE 0 END)::DOUBLE")
        .mkString(", ")
      val uvals = CosineTestNames.map(n => s"('$n')").mkString(", ")
      val avals = CosineAliasDict.map { case (a, c) => s"('$a', '$c')" }.mkString(", ")
      def bucket(g: String) =
        s"((strpos('$hex', substring(md5($g), 1, 1)) - 1) * 16 + " +
          s"(strpos('$hex', substring(md5($g), 2, 1)) - 1)) % $dim"
      s"""WITH u(name) AS (VALUES $uvals),
            d(anorm, canonical) AS (VALUES $avals),
            un AS (SELECT name,
              regexp_replace(regexp_replace(lower(trim(name)), '\\.+$$', ''), '\\s+', ' ', 'g') AS nrm
              FROM u),
            t1 AS (SELECT un.name, un.nrm, d.canonical AS exact_c
              FROM un LEFT JOIN d ON un.nrm = d.anorm),
            ug AS (SELECT name,
              unnest(CASE WHEN length(nrm) >= 3
                THEN list_distinct([substring(nrm, i, 3) for i in generate_series(1, length(nrm) - 2)])
                ELSE [nrm] END) AS g
              FROM t1 WHERE exact_c IS NULL),
            ub AS (SELECT name, ${bucket("g")} AS b FROM ug),
            uv AS (SELECT name, [$sums] AS v FROM ub GROUP BY name),
            ag AS (SELECT anorm, canonical,
              unnest(CASE WHEN length(anorm) >= 3
                THEN list_distinct([substring(anorm, i, 3) for i in generate_series(1, length(anorm) - 2)])
                ELSE [anorm] END) AS g
              FROM d),
            ab AS (SELECT anorm, canonical, ${bucket("g")} AS b FROM ag),
            av AS (SELECT anorm, canonical, [$sums] AS v
              FROM ab GROUP BY anorm, canonical),
            scored AS (SELECT uv.name, av.anorm, av.canonical,
              list_dot_product(uv.v, av.v) /
                (sqrt(list_dot_product(uv.v, uv.v)) * sqrt(list_dot_product(av.v, av.v))) AS sim
              FROM uv CROSS JOIN av),
            best AS (SELECT name, canonical FROM (
              SELECT name, canonical,
                row_number() OVER (PARTITION BY name ORDER BY sim DESC, anorm) AS rn
              FROM scored WHERE sim >= 0.8) WHERE rn = 1)
          SELECT t1.name AS name,
            coalesce(t1.exact_c, best.canonical, t1.name) AS obj_canonical,
            (t1.exact_c IS NOT NULL OR best.canonical IS NOT NULL) AS obj_linked
          FROM t1 LEFT JOIN best ON t1.name = best.name"""
    },
    // dedup semantics at threshold 1.0 = token-set equality classes: one
    // kept fingerprint per class, drops = members - classes. Replicates the
    // gate's tokenization (split on space, drop empties, distinct) exactly;
    // the recursive-CTE minhash replication is proven by dedup_resolve.
    "kg_pipeline_dedup" ->
      """WITH corpus AS (
           SELECT 'https://synthetic.graft/doc/' || doc_id AS url, text
           FROM documents WHERE doc_id < 60
           UNION ALL
           SELECT 'https://synthetic.graft/dup/' || doc_id AS url, text
           FROM documents WHERE doc_id < 20),
         tok AS (
           SELECT DISTINCT url, tok FROM (
             SELECT url, unnest(string_split(text, ' ')) AS tok FROM corpus)
           WHERE tok <> ''),
         fp AS (
           SELECT url, sha256(string_agg(tok, ' ' ORDER BY tok)) AS kept_fp
           FROM tok GROUP BY url),
         classes AS (SELECT kept_fp, count(*) AS members FROM fp GROUP BY kept_fp),
         -- token-less (whitespace-only) pages never enter the LSH (no
         -- tokens => no signature => no candidate pairs), so the engine
         -- keeps EVERY one of them and the client fingerprints each empty
         -- token set as sha256('') — one kept row per empty page
         empties AS (
           SELECT c.url FROM corpus c LEFT JOIN tok ON tok.url = c.url
           WHERE tok.url IS NULL)
         SELECT kept_fp, 1::BIGINT AS n FROM classes
         UNION ALL
         SELECT sha256('') AS kept_fp, 1::BIGINT AS n FROM empties
         UNION ALL
         SELECT '__dropped__' AS kept_fp,
           (SELECT coalesce(sum(members - 1), 0)::BIGINT FROM classes) AS n""",
    // stage arithmetic from doc_id alone: of the 40 pages, ids ≡3 (mod 10)
    // fail infer (empty raw), ids ≡4 fail parse (unsalvageable raw), the
    // rest emit exactly one triplet each; failed_urls = infer + parse
    // failures (the set excluded from the done-set commit).
    "kg_pipeline_failures" ->
      """WITH n AS (
           SELECT count(*)::BIGINT AS total,
             sum(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END)::BIGINT AS inf,
             sum(CASE WHEN doc_id % 10 = 4 THEN 1 ELSE 0 END)::BIGINT AS par
           FROM documents WHERE doc_id < 40)
         SELECT 'extract' AS stage, total AS input_rows, total AS output_rows, 0::BIGINT AS failed_rows FROM n
         UNION ALL SELECT 'infer', total, total - inf, inf FROM n
         UNION ALL SELECT 'parse', total - inf, total - inf - par, par FROM n
         UNION ALL SELECT 'triples', NULL::BIGINT, total - inf - par, 0::BIGINT FROM n
         UNION ALL SELECT 'failed_urls', NULL::BIGINT, inf + par, 0::BIGINT FROM n""",
    // hand-derived from the extractor's specified matching rule (whole-word
    // ASCII-boundary, case-sensitive) applied to the transcribed reference
    // eval paragraphs — see the query comment; the 3 false rows are the
    // artifact's own case mismatches ("Unicoi/Ravenscrag formation"
    // lowercase in text, "McLeary" vs the artifact's "Mcleary"), i.e. the
    // deterministic extractor's achievable bound: recall 27/30
    "kg_eval_recall" ->
      """SELECT * FROM (VALUES
           ('Spiral Creek Formation', true, true),
           ('Seymour Canal Formation', true, true),
           ('Serra da Boa Vista Formation', true, true),
           ('Otaraoa Formation', true, true),
           ('Marjum Formation', true, true),
           ('Leatham Formation', true, true),
           ('Murdock Mountain Formation', true, true),
           ('German Rancho Formation', true, true),
           ('Unicoi Formation', false, false),
           ('Coyote Butte Formation', true, true),
           ('Hattiesburg Formation', true, true),
           ('Martinsville Formation', true, true),
           ('Rush Springs Formation', true, true),
           ('Pedawan Formation', true, true),
           ('Clifty Formation', true, true),
           ('Eagle Ford Formation', true, true),
           ('Ravenscrag Formation', false, false),
           ('Smalls Falls Formation', true, true),
           ('Au Train Formation', true, true),
           ('Sepur Formation', true, true),
           ('Itaim Formation', true, true),
           ('Sierra Buttes Formation', true, true),
           ('Guanajibo Formation', true, true),
           ('Spearfish Formation', true, true),
           ('Mcleary Formation', false, false),
           ('Tiangua Formation', true, true),
           ('Swope Formation', true, true),
           ('Huizachal Formation', true, true),
           ('Mitu Formation', true, true),
           ('Parachucla Formation', true, true)
         ) t(formation_name, found, linked)""",
    "kg_lith_hydrate" -> {
      val lithValues = kg.Dims.pinnedLith
        .map(r => s"('${r.lith}', ${r.lith_id}, '${r.lith_type}', '${r.lith_class}')")
        .mkString(", ")
      s"""WITH lithdim AS (
            SELECT * FROM (VALUES $lithValues) d(lith, lith_id, lith_type, lith_class)),
          variants AS (
            SELECT unnest([lith, upper(lith[1]) || lith[2:], lith || '.']) AS surface
            FROM lithdim),
          keyed AS (
            SELECT surface,
              regexp_replace(regexp_replace(lower(trim(surface)), '\\.+$$', ''), '\\s+', ' ', 'g') AS norm
            FROM variants)
          -- every variant normalizes onto a dictionary name, so the whole
          -- cluster is LINKED and canonicalizes to the dictionary entity
          -- (prefer-linked rule; the reference swaps to the matched name) —
          -- obj_final IS the lith dim name
          SELECT surface, lith AS obj_final, lith, lith_id, lith_type, lith_class
          FROM keyed JOIN lithdim ON norm = lith"""
    },
    "kg_geocode" ->
      """SELECT * FROM (VALUES
           ('Minnesota', 46.4419, -93.3655),
           ('northern Arkansas', 36.2, -92.5),
           ('Reelfoot rift of southeastern Missouri and northeastern Missouri', NULL::DOUBLE, NULL::DOUBLE),
           ('southern and eastern flanks of the Ozark dome', NULL::DOUBLE, NULL::DOUBLE)
         ) t(subj_name, subj_lat, subj_lon)""",
    "kg_strat_gps" ->
      """SELECT * FROM (VALUES
           ('Shakopee Formation', 44.8, -93.5),
           ('Smithville Formation', 36.05, -91.2),
           ('Roubidoux Formation', NULL::DOUBLE, NULL::DOUBLE),
           ('Jefferson City Dolomite', NULL::DOUBLE, NULL::DOUBLE),
           ('Cotter Dolomite', NULL::DOUBLE, NULL::DOUBLE),
           ('Powell Dolomite', NULL::DOUBLE, NULL::DOUBLE),
           ('Black Rock Formation', NULL::DOUBLE, NULL::DOUBLE),
           ('Everton Formation', NULL::DOUBLE, NULL::DOUBLE),
           ('Jasper Member', NULL::DOUBLE, NULL::DOUBLE),
           ('Sauk Sequence', NULL::DOUBLE, NULL::DOUBLE)
         ) t(strat_name_long, clat, clng)""",
    // Hand-derived: triplets transcribed from the reference's recorded
    // Sauk output (tests/conftest.py); linked flags + ids read off the
    // pinned dictionary rows, never from the engine.
    "kg_stream_triples" ->
      """SELECT * FROM (VALUES
           ('Minnesota', 'unconformable contact', 'Shakopee Formation', true, 1278),
           ('southern and eastern flanks of the Ozark dome', 'includes', 'Roubidoux', true, 5871),
           ('southern and eastern flanks of the Ozark dome', 'includes', 'Jefferson City', true, 5872),
           ('southern and eastern flanks of the Ozark dome', 'includes', 'Cotter', true, 5873),
           ('southern and eastern flanks of the Ozark dome', 'includes', 'Powell', true, 5874),
           ('southern and eastern flanks of the Ozark dome', 'includes', 'Smithville', true, 5933),
           ('southern and eastern flanks of the Ozark dome', 'includes', 'Black Rock', true, 5934),
           ('southern and eastern flanks of the Ozark dome', 'includes', 'Everton', true, 5875),
           ('northern Arkansas', 'contains', 'Jasper Member', true, 5876),
           ('Reelfoot rift of southeastern Missouri and northeastern Missouri', 'may be a correlative conformity', 'Sauk', true, 5877)
         ) t(subj_name, predicate, obj_name, obj_linked, strat_name_id)""",
    "kg_entity_coords" ->
      """SELECT * FROM (VALUES
           ('https://fixtures.graft/sauk', 'Minnesota', 46.4419, -93.3655),
           ('https://fixtures.graft/sauk', 'northern Arkansas', 36.2, -92.5),
           ('https://fixtures.graft/sauk', 'Shakopee Formation', 44.8, -93.5),
           ('https://fixtures.graft/sauk', 'Smithville Formation', 36.05, -91.2),
           ('https://fixtures.graft/shakopee', 'Minnesota', 46.4419, -93.3655),
           ('https://fixtures.graft/shakopee', 'Shakopee Formation', 44.8, -93.5),
           ('https://fixtures.graft/gold', 'Minnesota', 46.4419, -93.3655),
           ('https://fixtures.graft/bare-list', 'Minnesota', 46.4419, -93.3655),
           ('https://fixtures.graft/bare-list', 'Shakopee Formation', 44.8, -93.5),
           ('https://fixtures.graft/trailing', 'Minnesota', 46.4419, -93.3655),
           ('https://fixtures.graft/trailing', 'Shakopee Formation', 44.8, -93.5),
           ('https://fixtures.graft/invalid-row', 'Minnesota', 46.4419, -93.3655),
           ('https://fixtures.graft/invalid-row', 'Shakopee Formation', 44.8, -93.5)
         ) t(url, entity, lat, lon)""",
    "kg_elements" ->
      """SELECT * FROM (VALUES
           ('gold', 'gold', 'Au', 'Macrostrat', 'Au'),
           ('gallium', 'gallium', 'Ga', 'Macrostrat', 'Ga'),
           ('Agrinierite', 'Agrinierite', 'K2(Ca,Sr)[(UO2)3O3(OH)2]2·5H2O', 'Macrostrat', 'Ca,H,K,O,Sr,U'),
           ('fluorspar', NULL::VARCHAR, 'CaF2', 'Mindat', 'Ca,F')
         ) t(name, mineral, formula, formula_source, elements)""",
    "kg_entity_uri" ->
      s"""SELECT DISTINCT term,
          'https://macrostrat.org/lexicon/' || upper(term[1]) || term[2:] AS uri
          FROM documents CROSS JOIN (VALUES ${sqlList(EntTerms)}) t(term)
          WHERE regexp_matches(text, '\\b' || term || '\\b')""",
    "kg_graph_by_page" ->
      s"""WITH locs AS (
            SELECT DISTINCT doc_id, term AS subj FROM documents
            CROSS JOIN (VALUES ${sqlList(LocTerms)}) t(term)
            WHERE regexp_matches(text, '\\b' || term || '\\b')),
          ents AS (
            SELECT DISTINCT doc_id, term AS obj FROM documents
            CROSS JOIN (VALUES ${sqlList(EntTerms)}) t(term)
            WHERE regexp_matches(text, '\\b' || term || '\\b')),
          t AS (
            SELECT locs.doc_id, subj || '|co_occurs_with|' || obj AS tkey
            FROM locs JOIN ents ON locs.doc_id = ents.doc_id)
          SELECT doc_id, count(*) AS n_triplets,
            string_agg(tkey, ';' ORDER BY tkey) AS graph_key
          FROM t GROUP BY doc_id""",
    "kg_retrieval_semantic" -> {
      val qv = semanticQueryVector(SemanticQuery)
      val qNorm = math.sqrt(qv.map(x => x * x).sum)
      val sums = (0 until 16)
        .map(i => s"sum(CASE WHEN b = '${HexDigits(i)}' THEN 1 ELSE 0 END)::DOUBLE")
        .mkString(", ")
      val qvSql = qv.mkString("[", ", ", "]")
      s"""WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
            FROM documents),
          b AS (SELECT doc_id, substr(md5(tok), 1, 1) AS b FROM tok),
          emb AS (SELECT doc_id, [$sums] AS emb FROM b GROUP BY doc_id)
          SELECT doc_id,
            round(list_dot_product(emb, $qvSql) /
              (sqrt(list_dot_product(emb, emb)) * $qNorm), 4) AS score
          FROM emb ORDER BY score DESC, doc_id LIMIT 10"""
    },
    "kg_retrieval_hybrid" -> {
      s"""WITH $hybridScoredSql,
          lex_top AS (
            SELECT doc_id, row_number() OVER (ORDER BY lex_score DESC, doc_id) AS rank_lex
            FROM (SELECT * FROM scored ORDER BY lex_score DESC, doc_id LIMIT $HybridK)),
          sem_top AS (
            SELECT doc_id, row_number() OVER (ORDER BY sem_score DESC, doc_id) AS rank_sem
            FROM (SELECT * FROM scored ORDER BY sem_score DESC, doc_id LIMIT $HybridK))
          SELECT coalesce(lex_top.doc_id, sem_top.doc_id) AS doc_id,
            round(coalesce(0.5 / (60 + rank_sem), 0.0) +
              coalesce(0.5 / (60 + rank_lex), 0.0) + 1e-9, 6) AS score
          FROM lex_top FULL OUTER JOIN sem_top ON lex_top.doc_id = sem_top.doc_id
          ORDER BY score DESC, doc_id LIMIT 10"""
    },
    // Relative-score fusion: same scored CTE, min-max normalize each top-K
    // list (all-equal list -> 1.0, the engine-side documented choice), fuse
    // 0.75*sem + 0.25*lex.
    "kg_retrieval_hybrid_rel" -> {
      s"""WITH $hybridScoredSql,
          lex_top AS (
            SELECT doc_id, lex_score::DOUBLE AS sc
            FROM scored ORDER BY lex_score DESC, doc_id LIMIT $HybridK),
          sem_top AS (
            SELECT doc_id, sem_score::DOUBLE AS sc
            FROM scored ORDER BY sem_score DESC, doc_id LIMIT $HybridK),
          lex_n AS (
            SELECT doc_id, CASE WHEN mx = mn THEN 1.0
              ELSE (sc - mn) / (mx - mn) END AS norm_lex
            FROM (SELECT doc_id, sc, min(sc) OVER () AS mn, max(sc) OVER () AS mx
                  FROM lex_top)),
          sem_n AS (
            SELECT doc_id, CASE WHEN mx = mn THEN 1.0
              ELSE (sc - mn) / (mx - mn) END AS norm_sem
            FROM (SELECT doc_id, sc, min(sc) OVER () AS mn, max(sc) OVER () AS mx
                  FROM sem_top))
          SELECT coalesce(lex_n.doc_id, sem_n.doc_id) AS doc_id,
            round(0.75 * coalesce(norm_sem, 0.0) +
              0.25 * coalesce(norm_lex, 0.0) + 1e-9, 6) AS score
          FROM lex_n FULL OUTER JOIN sem_n ON lex_n.doc_id = sem_n.doc_id
          ORDER BY score DESC, doc_id LIMIT 10"""
    },
    "kg_retrieval_topk" ->
      """SELECT doc_id, score FROM (
           SELECT doc_id,
             len(regexp_extract_all(text, '\bspark\b')) +
             len(regexp_extract_all(text, '\bjoin\b')) AS score
           FROM documents)
         WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""",
    // Retrieval half hand-counted from the fixture texts (whole-word,
    // case-insensitive "minnesota"/"formation" hits: Sauk 2+3, Shakopee 1+1,
    // gold 1+0, the three parser fixtures 0 — engine never consulted); TTL
    // half from the pinned golden set, like kg_rdf_ttl.
    "kg_search_to_graph" ->
      s"""SELECT h.url AS url, CAST(h.score AS BIGINT) AS score,
            g.ttl_md5 AS ttl_md5
          FROM (VALUES ('https://fixtures.graft/gold', 1),
                       ('https://fixtures.graft/sauk', 5),
                       ('https://fixtures.graft/shakopee', 2)) h(url, score)
          JOIN (VALUES $goldenTtlValues) g(url, ttl_md5) ON h.url = g.url""",
    "kg_rdf_triples" ->
      s"SELECT * FROM (VALUES $goldenRdfValues) t(url, subj, pred, obj, obj_is_literal, lang, datatype)",
    "kg_rdf_ttl" ->
      s"SELECT * FROM (VALUES $goldenTtlValues) t(url, ttl_md5)",
    "kg_rdf_golden_slice" -> {
      // HAND-DERIVED from reference semantics (never engine output):
      // per Sauk triplet, hydrate by name against the pinned dim rows, then
      //   node  = MSL + entity_name(strat_name_long)   [stratigraphy.py:14-26]
      //   type  = RANK_LOOKUP[rank]                    [stratigraphy.py:89-114]
      //   label = Literal(strat_name_long, lang="en")  [stratigraphy.py:117-131]
      val derived: Seq[(String, String, String)] = Seq(
        // (object node,            gsgu rank class, label)
        ("ShakopeeFormation",      "Formation",  "Shakopee Formation"),
        ("RoubidouxFormation",     "Formation",  "Roubidoux Formation"),
        ("JeffersonCityDolomite",  "Formation",  "Jefferson City Dolomite"),
        ("CotterDolomite",         "Formation",  "Cotter Dolomite"),
        ("PowellDolomite",         "Formation",  "Powell Dolomite"),
        ("SmithvilleFormation",    "Formation",  "Smithville Formation"),
        ("BlackRockFormation",     "Formation",  "Black Rock Formation"),
        ("EvertonFormation",       "Formation",  "Everton Formation"),
        ("JasperMember",           "Member",     "Jasper Member"),
        ("SaukSequence",           "Supergroup", "Sauk Sequence"))
      val rows = derived.flatMap { case (node, rankCls, label) => Seq(
        s"('${kg.Rdf.MSL}$node', '${kg.Rdf.RDF_}type', '${kg.Rdf.GSGU}$rankCls', false, '', '')",
        s"('${kg.Rdf.MSL}$node', '${kg.Rdf.RDFS_}label', '$label', true, 'en', '')")
      } ++ Seq(
        // mineral family, by hand from mineral.py:8-35 + the pinned gold
        // dim row (mineral=gold, type=native element, formula=Au):
        //   node  = XDD + entity_name("gold") = XDD + "Gold"
        //   types = gsog:Rock_Material and gsrm:<entity_name(mineral)>
        //   label = "gold, native element, Au"@en
        s"('${kg.Rdf.XDD}Gold', '${kg.Rdf.RDF_}type', '${kg.Rdf.GSOG}Rock_Material', false, '', '')",
        s"('${kg.Rdf.XDD}Gold', '${kg.Rdf.RDF_}type', '${kg.Rdf.GSRM}Gold', false, '', '')",
        s"('${kg.Rdf.XDD}Gold', '${kg.Rdf.RDFS_}label', 'gold, native element, Au', true, 'en', '')")
      s"SELECT * FROM (VALUES ${rows.mkString(", ")}) t(subj, pred, obj, obj_is_literal, lang, datatype)"
    }
  )

  /** kg_search_to_graph_slow shares kg_search_to_graph's oracle SQL
    * verbatim. */
  val oracles: Map[String, String] =
    oraclesBase +
      ("kg_search_to_graph_slow" -> oraclesBase("kg_search_to_graph"))
}
