package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity linking against the known-entity dictionary (SURVEY.md J2).
  *
  * The reference embeds the extracted object name with a sentence
  * transformer and swaps it for the argmax-cosine known entity iff
  * similarity >= 0.95, else keeps the original
  * (reference: text2graph/alignment.py:110-119; applied at llm.py:234-245).
  * The >=0.95 regime is, observationally, normalization-level equality —
  * the reference's own tests exercise exactly that:
  * "Abbey head bed." → "Abbey Head Bed", "Gold" → "gold"
  * (reference: tests/test_alignment.py:7-23). We therefore link by a
  * deterministic normalized-key join (BASELINE.json north_star mandates the
  * broadcast alias dictionary + salted-key skew-safe hash join; embedding
  * weights are nondeterministic and the binaries are absent from the repo).
  *
  * Two physical strategies, same semantics:
  *  - [[align]]: broadcast hash join — the right plan while the dictionary
  *    is dictionary-sized (~52k names ≈ few MB). Broadcast joins cannot
  *    skew regardless of probe-side key distribution.
  *  - [[alignSalted]]: shuffle hash join with explicit key salting for the
  *    case where the dictionary outgrows broadcast (e.g. cross-lingual
  *    alias tables at web scale). Head entities ("Minnesota"-type keys,
  *    SURVEY.md §4) would make single reducers hot; salting the probe key
  *    with pmod(xxhash64(url), S) and replicating the build side S times
  *    bounds any reducer at 1/S of a hot key.
  */
object Linker {

  /** Normalization defining the high-confidence match regime: lowercase,
    * trim, strip trailing sentence periods, collapse whitespace. */
  def normName(c: Column): Column =
    regexp_replace(regexp_replace(lower(trim(c)), "\\.+$", ""), "\\s+", " ")

  /** Alias dictionary from the dim snapshot: canonical names + long-form
    * aliases, discriminated by entity type. One row per (norm key, kind),
    * first-hit deduped so the join can never fan out
    * (reference first-hit semantics: text2graph/schema.py:141 hit[0]). */
  def aliasDim(dims: Dims.Snapshot): DataFrame = {
    // Both the short and the long form are known-entity names in their own
    // right (the reference's 45,646-name list mixes them); a swap targets
    // the matched *name*, exactly like the embedding argmax returns a name
    // from the list ("Abbey head bed." → "Abbey Head Bed",
    // tests/test_alignment.py:8-10).
    val strat = dims.stratDim.select(
      col("strat_name").as("alias"), col("strat_name").as("canonical"),
      lit(Model.ObjKind.Strat).as("kind"), col("strat_name_id").as("priority"))
    val stratLong = dims.stratDim.select(
      col("strat_name_long").as("alias"), col("strat_name_long").as("canonical"),
      lit(Model.ObjKind.Strat).as("kind"), col("strat_name_id").as("priority"))
    val minerals = dims.mineralDim.select(
      col("mineral").as("alias"), col("mineral").as("canonical"),
      lit(Model.ObjKind.Mineral).as("kind"), col("mineral_id").as("priority"))
    val liths = dims.lithDim.select(
      col("lith").as("alias"), col("lith").as("canonical"),
      lit(Model.ObjKind.Lith).as("kind"), col("lith_id").as("priority"))
    val usgs = {
      val spark = dims.mineralDim.sparkSession
      import spark.implicits._
      Chem.UsgsFormulas.keys.toSeq.sorted.toDF("alias")
        .select(col("alias"), col("alias").as("canonical"),
          lit(Model.ObjKind.Mineral).as("kind"), lit(999999L).as("priority"))
    }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("kind"), col("alias_norm"))
      .orderBy(col("priority"), col("alias"))
    strat.unionByName(stratLong).unionByName(minerals).unionByName(liths)
      .unionByName(usgs)
      .withColumn("alias_norm", normName(col("alias")))
      .filter(col("alias_norm") =!= "")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("alias_norm", "canonical", "kind")
  }

  /** Broadcast alignment join. Adds `obj_canonical` (swapped on match, the
    * original extracted name otherwise — reference keeps the raw name below
    * threshold, llm.py:242-245) and `obj_linked` (whether a swap happened).
    */
  def align(triples: DataFrame, alias: DataFrame): DataFrame = {
    val a = broadcast(alias.withColumnRenamed("kind", "alias_kind"))
    triples
      .withColumn("obj_norm", normName(col("obj_name")))
      .join(a, col("obj_norm") === a("alias_norm") &&
                col("obj_kind") === a("alias_kind"), "left")
      .withColumn("obj_canonical", coalesce(col("canonical"), col("obj_name")))
      .withColumn("obj_linked", col("canonical").isNotNull)
      .drop("alias_norm", "canonical", "alias_kind", "obj_norm")
  }

  /** Distinct character 3-grams of a (normalized) name; names shorter than
    * 3 contribute themselves as their only gram. Pure expression work —
    * fuses into the scan, no UDF. */
  def charGrams(c: Column): Column =
    when(length(c) >= 3,
      array_distinct(transform(sequence(lit(0), length(c) - lit(3)),
        i => c.substr(i + lit(1), lit(3)))))
      .otherwise(array(c))

  /** Tier-2 fuzzy alignment (deterministic stand-in for the reference's
    * sub-normalization embedding matches, alignment.py:110-119: the argmax
    * cosine over the known-entity list links misspellings like
    * "Abbey Haed Bed" → "Abbey Head Bed"). Applies ONLY to names tier-1
    * ([[align]]/[[alignSalted]]) left unlinked:
    *
    *   unlinked names × alias dictionary → candidate pairs via a char-3-gram
    *   equi-join on (kind, gram) — never all-pairs — → Jaccard from shared
    *   gram counts (|A∩B| / (|A|+|B|−|A∩B|)) → threshold gate at
    *   `minJaccard` → argmax per name, ties broken by lexical min alias.
    *
    * Candidate generation is the same bucketed-equi-join family as the
    * MinHash-LSH dedup path: each side explodes its distinct grams once and
    * the join shuffles (kind, gram) keys, so cost scales with gram
    * postings, not |unlinked|×|dictionary|.
    *
    * `stopGramMaxDf = Some(cap)` is the web-scale skew lever: grams whose
    * DICTIONARY-side document frequency exceeds the cap (the "for"/"ati"
    * inside every "...Formation" — the head keys a skewed open-vocabulary
    * corpus hammers) are dropped from candidate GENERATION only; surviving
    * candidate pairs then rejoin their full gram arrays and score by exact
    * `array_intersect` Jaccard, so every emitted link carries the same
    * exact score as the uncapped path (parity-tested). The only semantic
    * delta is recall: a pair sharing ONLY stop grams is never considered —
    * by construction such a pair's Jaccard is dominated by the corpus-wide
    * suffix, not the name. Off by default; skew measurement in PLANS.md
    * round-5 (tools/FuzzySkew).
    *
    * Output schema equals [[align]]'s: `obj_canonical` swapped and
    * `obj_linked` set for tier-2 hits, untouched rows pass through. */
  def alignFuzzy(aligned: DataFrame, alias: DataFrame,
                 minJaccard: Double = 0.6,
                 stopGramMaxDf: Option[Int] = None,
                 prebuiltDict: Option[DataFrame] = None,
                 prebuiltStopGrams: Option[DataFrame] = None): DataFrame = {
    val unlinked = aligned.filter(!col("obj_linked"))
      .select(col("obj_kind").as("f_kind"), col("obj_name").as("f_name"))
      .distinct()
      .withColumn("f_norm", normName(col("f_name")))
      .withColumn("f_grams", charGrams(col("f_norm")))
      .withColumn("f_size", size(col("f_grams")))
    val probe = unlinked.select(col("f_kind"), col("f_name"), col("f_size"),
      explode(col("f_grams")).as("gram"))
    val dict = prebuiltDict.getOrElse(fuzzyDict(alias))
    val build = dict.select(col("a_kind"), col("alias_norm"),
      col("canonical").as("a_canonical"), col("a_size"),
      explode(col("a_grams")).as("gram"))
    val scored = stopGramMaxDf match {
      case None =>
        // grams are DISTINCT per side, so the pair's row count IS |A∩B|
        probe
          .join(build, probe("gram") === build("gram") &&
            col("f_kind") === col("a_kind"))
          .groupBy("f_kind", "f_name", "f_size", "alias_norm", "a_canonical", "a_size")
          .agg(count(lit(1)).as("gram_inter"))
          .withColumn("jaccard", col("gram_inter") /
            (col("f_size") + col("a_size") - col("gram_inter")))
          .filter(col("jaccard") >= minJaccard)
      case Some(cap) =>
        // stop-gram list from the dictionary side only (deterministic,
        // corpus-independent): df = how many aliases contain the gram.
        // Batch-independent like the dictionary itself, so long-running
        // callers (the streaming sink) precompute it once via [[stopGrams]]
        // instead of re-aggregating the dictionary every micro-batch.
        val stop = prebuiltStopGrams.getOrElse(stopGrams(dict, cap))
        val bSel = build.join(stop,
          col("a_kind") === col("s_kind") && col("gram") === col("s_gram"), "left_anti")
        val pSel = probe.join(stop,
          col("f_kind") === col("s_kind") && col("gram") === col("s_gram"), "left_anti")
        // candidate pairs from the capped join — every posting list is now
        // bounded by the cap, so no reducer sees a hot gram
        val cand = pSel
          .join(bSel, pSel("gram") === bSel("gram") && col("f_kind") === col("a_kind"))
          .select("f_kind", "f_name", "alias_norm", "a_canonical").distinct()
        // exact Jaccard for the survivors: rejoin the full (small, per-name)
        // gram arrays — capped candidate generation, uncapped scoring
        cand
          .join(unlinked.select(col("f_kind").as("u_kind"),
            col("f_name").as("u_name"), col("f_grams"), col("f_size")),
            col("f_kind") === col("u_kind") && col("f_name") === col("u_name"))
          .join(dict.select(col("a_kind").as("d_kind"),
            col("alias_norm").as("d_alias"), col("a_grams"), col("a_size")),
            col("f_kind") === col("d_kind") && col("alias_norm") === col("d_alias"))
          .withColumn("gram_inter",
            size(array_intersect(col("f_grams"), col("a_grams"))).cast("long"))
          .withColumn("jaccard", col("gram_inter") /
            (col("f_size") + col("a_size") - col("gram_inter")))
          .filter(col("jaccard") >= minJaccard)
          .select("f_kind", "f_name", "f_size", "alias_norm", "a_canonical",
            "a_size", "gram_inter", "jaccard")
    }
    // argmax per unlinked name: max Jaccard, ties to the lexical-min alias
    // (deterministic, like every first-hit rule in this engine) — one
    // map-side-combined min(struct) over (−jaccard, alias, canonical)
    val best = scored
      .groupBy(col("f_kind"), col("f_name"))
      .agg(min(struct((-col("jaccard")).as("nj"),
        col("alias_norm").as("alias_norm"),
        col("a_canonical").as("a_canonical"))).as("m"))
      .select(col("f_kind"), col("f_name"), col("m.a_canonical").as("fuzzy_canonical"))
    applyTierSwap(aligned, best, "fuzzy_canonical")
  }

  /** Tier-2's derived dictionary frame (gram arrays + sizes) — a pure
    * function of the alias table. [[alignFuzzy]] derives it per call;
    * long-running callers (the streaming sink, which would otherwise
    * re-derive it every micro-batch) pass a persisted copy via
    * `prebuiltDict`. */
  def fuzzyDict(alias: DataFrame): DataFrame =
    alias
      .select(col("kind").as("a_kind"), col("alias_norm"), col("canonical"))
      .withColumn("a_grams", charGrams(col("alias_norm")))
      .withColumn("a_size", size(col("a_grams")))

  /** The stop-gram list for [[alignFuzzy]]'s capped candidate generation —
    * grams whose dictionary document frequency exceeds `cap`, derived from
    * a [[fuzzyDict]] frame. A pure function of the dictionary (never the
    * corpus), so it is computed once per job; streaming callers persist it
    * alongside the prebuilt dict and pass it via `prebuiltStopGrams`. */
  def stopGrams(dict: DataFrame, cap: Int): DataFrame =
    dict.select(col("a_kind"), explode(col("a_grams")).as("gram"))
      .groupBy(col("a_kind").as("s_kind"), col("gram").as("s_gram"))
      .agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") > cap)
      .select("s_kind", "s_gram")

  /** Shared rebind of a tier's argmax winners onto the aligned triples:
    * left-join `best(f_kind, f_name, <canon>)` against the STILL-unlinked
    * rows only, swap obj_canonical for the winner where one exists, update
    * obj_linked. The `!obj_linked` term lives in the JOIN condition so an
    * already-linked row can never pick up a tier row, and the
    * coalesce(when(...)) keeps the original canonical where the tier found
    * nothing. Used by every tier past tier-1 ([[alignFuzzy]],
    * [[alignCosine]]) — the linked-flag edge cases live in ONE place. */
  private def applyTierSwap(aligned: DataFrame, best: DataFrame,
                            canon: String): DataFrame =
    aligned
      .join(best, col("obj_kind") === best("f_kind") &&
        col("obj_name") === best("f_name") && !col("obj_linked"), "left")
      .withColumn("obj_canonical",
        coalesce(when(!col("obj_linked"), col(canon)), col("obj_canonical")))
      .withColumn("obj_linked", col("obj_linked") || col(canon).isNotNull)
      .drop("f_kind", "f_name", canon)

  /** Dimensionality of the hashed char-3-gram embedding used by
    * [[alignCosine]]. 64 buckets separate misspellings (sim 0.82-0.95 on
    * the fixture set) from unrelated names (≤0.3); 16 is measurably too
    * coarse (an unrelated name reached 0.66). */
  val CosineDim = 64

  /** Bucket ids of a normalized name's distinct char-3-grams: bucket =
    * first two hex digits of md5(gram) mod [[CosineDim]]. Pure expression
    * work. */
  def gramBuckets(normCol: Column): Column =
    transform(charGrams(normCol),
      g => pmod(conv(substring(md5(g), 1, 2), 16, 10).cast("int"), lit(CosineDim)))

  /** Dense [[CosineDim]]-vector from a bucket-id array: component d counts the
    * grams in bucket d. A per-name histogram, not an aggregation — stays
    * inside the projection. The native codegen'd kernel
    * (graft.plans.Expressions.BucketHistogramExpr) walks the bucket array
    * once; the composed form [[bucketVectorHof]] it replaced walks it
    * [[CosineDim]] times (parity-tested bit-for-bit in ExpressionsSpec). */
  def bucketVector(bucketsCol: Column): Column =
    graft.plans.Expressions.bucket_histogram(bucketsCol, CosineDim)

  /** Composed higher-order-function form of [[bucketVector]] — the
    * engine-portable fallback, and the parity oracle for the native
    * kernel. Identical on every non-null input; on a NULL bucket array
    * (which no featurization path produces) the native form is null while
    * this form yields an array of null counts (size(null) = null per
    * bucket) — pinned in ExpressionsSpec. */
  def bucketVectorHof(bucketsCol: Column): Column =
    array((0 until CosineDim).map(d =>
      size(filter(bucketsCol, b => b === lit(d))).cast("double")): _*)

  /** Tier-3 cosine alignment — the reference's own alignment geometry
    * (alignment.py:110-119): embed the still-unlinked name, score it
    * against the ENTIRE known-entity embedding matrix, swap for the argmax
    * entity iff cosine >= `minSim`, else keep the original. The reference's
    * sentence-transformer embeddings (nondeterministic weights; binaries
    * absent from the repo) are replaced by a deterministic hashed
    * char-3-gram bag ([[gramBuckets]]/[[bucketVector]]); the kNN machinery
    * — broadcast embedding matrix, one-pass codegen'd cosine kernel,
    * min-struct argmax, threshold gate — is the real thing.
    *
    * Physical shape: the dictionary matrix broadcasts (the reference's 45k
    * names × 64 doubles ≈ 23 MB — the same in-RAM matrix alignment.py
    * scans), and scoring is a map over the bounded broadcast: no shuffle
    * anywhere except the distinct() on unlinked names and the per-name
    * argmax aggregate (map-side combined). Per-name cost is O(|dict|·dim),
    * exactly the reference's dense matmul. When the dictionary outgrows a
    * broadcast, `lshPrune = Some((planes, bands))` replaces the full scan
    * with hyperplane-LSH sign-bucket candidate generation (an equi-join on
    * (kind, band, band-signature) — the same bucketed family as
    * [[alignFuzzy]]'s gram join and ops.Similarity's near-dup path) before
    * exact re-scoring; see [[cosineLshCandidates]]. Approximate by nature
    * (a name whose argmax entity shares no band signature is missed), so
    * off by default; recall/cost measured in tools/CosinePrune.
    *
    * Determinism: gram counts are small exact ints, so dot/norms are exact
    * in double and sqrt/mult/div are correctly rounded — sims are
    * bit-reproducible (and bit-equal to an engine repeating the same
    * arithmetic, which the gate oracle does). Ties break to the
    * lexical-min alias. Output schema equals [[align]]'s.
    *
    * @param registerCached receives every frame the LSH-prune path
    *        persists (the probe/dict sides feed two subtrees each, so they
    *        must cache — see [[cosineLshCandidates]]), so the OWNER of the
    *        run can unpersist them: the batch pipeline adds them to
    *        Result.cleanup, the streaming sink releases them at the end of
    *        each micro-batch. Without a hook the caches outlived the run —
    *        a long-running stream accumulated one pair per micro-batch
    *        (ADVICE round 5). Default no-op is for short-lived dev tools. */
  def alignCosine(aligned: DataFrame, alias: DataFrame,
                  minSim: Double = 0.8,
                  lshPrune: Option[(Int, Int)] = None,
                  prebuiltDict: Option[DataFrame] = None,
                  registerCached: DataFrame => Unit = _ => ()): DataFrame = {
    val unlinked = cosineUnlinked(aligned)
    val dict = prebuiltDict.getOrElse(cosineDict(alias))
    val pairs = lshPrune match {
      case None =>
        unlinked.join(broadcast(dict), col("f_kind") === col("a_kind"))
      case Some((planes, bands)) =>
        cosineLshCandidates(unlinked, dict, planes, bands, registerCached)
    }
    val scored = pairs
      .withColumn("sim",
        graft.plans.Expressions.cosine_sim(col("f_vec"), col("a_vec")))
      .filter(col("sim") >= minSim)
    val best = scored.groupBy("f_kind", "f_name")
      .agg(min(struct((-col("sim")).as("ns"),
        col("alias_norm").as("alias_norm"),
        col("a_canonical").as("a_canonical"))).as("m"))
      .select(col("f_kind"), col("f_name"),
        col("m.a_canonical").as("cos_canonical"))
    applyTierSwap(aligned, best, "cos_canonical")
  }

  /** The still-unlinked surface forms with their [[bucketVector]] gram
    * embeddings — [[alignCosine]]'s probe side, shared with
    * tools/CosinePrune so the tool measures the engine's actual vector
    * space. */
  private[graft] def cosineUnlinked(aligned: DataFrame): DataFrame =
    aligned.filter(!col("obj_linked"))
      .select(col("obj_kind").as("f_kind"), col("obj_name").as("f_name"))
      .distinct()
      .withColumn("f_bks", gramBuckets(normName(col("f_name"))))
      .withColumn("f_vec", bucketVector(col("f_bks")))
      .drop("f_bks")

  /** The alias dictionary with its gram embeddings — [[alignCosine]]'s
    * build side, shared with tools/CosinePrune. */
  private[graft] def cosineDict(alias: DataFrame): DataFrame =
    alias
      .select(col("kind").as("a_kind"), col("alias_norm"),
        col("canonical").as("a_canonical"))
      .withColumn("a_bks", gramBuckets(col("alias_norm")))
      .withColumn("a_vec", bucketVector(col("a_bks")))
      .drop("a_bks")

  /** Hyperplane-LSH candidate generation for [[alignCosine]] — the
    * past-broadcast scale path. Gram-count vectors are NONNEGATIVE, so
    * sign-LSH against raw dictionary vectors would put every vector on the
    * positive side of every plane (dot of nonneg vectors is always >= 0)
    * and prune nothing; the planes are therefore DIFFERENCE vectors of
    * consecutive lexically-ordered dictionary embeddings,
    * h_i = v(2i) − v(2i+1) — genuine separating planes ("is this name's
    * histogram closer to entity 2i or 2i+1"), deterministic in any engine.
    *
    *   1. signature: bit_i = sign(v · h_i), banded into `bands` groups —
    *      the banding trick shared with MinHash-LSH and lshNearDup. The
    *      plane table is BOUNDED (≤ `planes` rows of [[CosineDim]] doubles — tens
    *      of KB), so it is collected once on the driver (a guarded bounded
    *      collect, like the canonicalizer probes) and inlined as literals:
    *      each side's signature is then a pure projection +
    *      posexplode(bands) — no extra shuffle, no fan-out join;
    *   2. candidates: equi-join on (kind, band, band signature) — never
    *      all-pairs; a name meets only dictionary entries sharing SOME
    *      band's full bit pattern;
    *   3. the caller re-scores candidates with the EXACT cosine kernel, so
    *      pruning affects recall only, never a produced sim value. The
    *      candidate→vector rehydration joins are plain equi-joins (NO
    *      broadcast hint — this path exists precisely because the
    *      dictionary outgrew one; AQE still broadcasts at small scale). */
  private[graft] def cosineLshCandidates(unlinked: DataFrame, dict: DataFrame,
                                         planes: Int, bands: Int,
                                         registerCached: DataFrame => Unit = _ => ()): DataFrame = {
    require(planes > 0 && bands > 0 && planes % bands == 0,
      s"lshPrune needs planes > 0 divisible by bands, got ($planes, $bands)")
    val rows = planes / bands
    // Both sides feed two subtrees each (signature + candidate
    // rehydration) whose exchanges differ, so ReuseExchange cannot
    // deduplicate them — persist so the gram featurization (the heaviest
    // projection in the path's operating regime) runs once per side, and
    // hand each NEWLY persisted frame to registerCached so the caller can
    // release it (an already-persisted input — the streaming bootstrap's
    // prebuilt dict — is left alone: its owner manages its lifetime). The
    // seed collect below materializes the dict cache as a side effect.
    import org.apache.spark.storage.StorageLevel
    def persistOwned(df: DataFrame): DataFrame =
      if (df.storageLevel == StorageLevel.NONE) {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK); registerCached(p); p
      } else df
    val u = persistOwned(unlinked)
    val d = persistOwned(dict)
    // Deterministic bounded plane build: the first 2·planes dictionary
    // vectors in (kind, alias) lexical order, paired consecutively. A
    // dictionary smaller than 2·planes yields fewer planes — the LAST
    // band(s) then carry fewer (or zero) bits than requested, i.e. the
    // effective (planes, bands) clamps to the dictionary size; callers
    // configuring a measured operating point (PLANS.md round-5) should
    // size planes ≤ |dict|/2.
    val seed = d.orderBy(col("a_kind"), col("alias_norm"))
      .limit(2 * planes).select("a_vec").collect()
      .map(_.getSeq[Double](0).toArray)
    val hyper: Array[Seq[Double]] = seed.grouped(2).collect {
      case Array(a, b) => a.zip(b).map { case (x, y) => x - y }.toSeq
    }.toArray
    if (hyper.isEmpty) // degenerate (<2 entries): nothing to prune with —
      return u.join(broadcast(d), col("f_kind") === col("a_kind"))
    val nBands = (hyper.length + rows - 1) / rows
    def sig(vec: String, b: Int): Column = concat(
      (b * rows until math.min((b + 1) * rows, hyper.length)).map { i =>
        when(graft.ops.Similarity.dot(col(vec), typedLit(hyper(i))) >= 0,
          lit("1")).otherwise(lit("0"))
      }: _*)
    def withSigs(df: DataFrame, vec: String, k1: String, k2: String) =
      df.select(col(k1), col(k2),
        posexplode(array((0 until nBands).map(b => sig(vec, b)): _*))
          .as(Seq("band", "band_sig")))
    val uSig = withSigs(u, "f_vec", "f_kind", "f_name")
    val dSig = withSigs(d, "a_vec", "a_kind", "alias_norm")
    uSig.join(dSig, col("f_kind") === col("a_kind") &&
        uSig("band") === dSig("band") && uSig("band_sig") === dSig("band_sig"))
      .select("f_kind", "f_name", "alias_norm")
      .distinct()
      .join(u, Seq("f_kind", "f_name"))
      .join(d.withColumnRenamed("a_kind", "f_kind"),
        Seq("f_kind", "alias_norm"))
  }

  /** Skew-safe shuffle variant: salt the probe key S ways, replicate the
    * build side S times, join on (key, salt). Identical output to [[align]].
    */
  def alignSalted(triples: DataFrame, alias: DataFrame, saltBuckets: Int = 16): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val salts = (0 until saltBuckets).toDF("salt")
    val build = alias.withColumnRenamed("kind", "alias_kind")
      .crossJoin(salts) // S replicas of the dictionary
    val probe = triples
      .withColumn("obj_norm", normName(col("obj_name")))
      .withColumn("salt", pmod(xxhash64(col("url")), lit(saltBuckets)).cast("int"))
    probe
      .hint("shuffle_hash")
      .join(build,
        probe("obj_norm") === build("alias_norm") &&
          probe("obj_kind") === build("alias_kind") &&
          probe("salt") === build("salt"), "left")
      .withColumn("obj_canonical", coalesce(col("canonical"), col("obj_name")))
      .withColumn("obj_linked", col("canonical").isNotNull)
      .drop("alias_norm", "canonical", "alias_kind", "obj_norm")
      .drop(probe("salt")).drop(build("salt"))
  }
}
