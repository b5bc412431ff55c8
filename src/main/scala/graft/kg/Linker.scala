package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
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
  * deterministic normalized-key join; embedding weights are
  * nondeterministic and the binaries are absent from the repo.
  *
  * Tier 1 ([[align]]) is a broadcast hash join: the dictionary is
  * dictionary-sized (~52k names ≈ a few MB), and a broadcast join cannot
  * skew whatever the probe-side key distribution — head entities
  * ("Minnesota"-type keys, SURVEY.md §4) never make a reducer hot, which
  * is what BASELINE.json's skew-safe linking join asks for. Explicit key
  * salting measured slower than both this plan and AQE's skew-join split
  * on a head-skewed probe (PLANS.md round 17). Tiers 2
  * ([[alignFuzzy]]) and 3 ([[alignCosine]]) link what tier 1 leaves
  * unlinked.
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
    * ([[align]]) left unlinked:
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
    * inside every "...Formation" — the head keys a skewed unbounded-vocabulary
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
    * exactly the reference's dense matmul.
    *
    * Determinism: gram counts are small exact ints, so dot/norms are exact
    * in double and sqrt/mult/div are correctly rounded — sims are
    * bit-reproducible (and bit-equal to an engine repeating the same
    * arithmetic, which the gate oracle does). Ties break to the
    * lexical-min alias. Output schema equals [[align]]'s. */
  def alignCosine(aligned: DataFrame, alias: DataFrame,
                  minSim: Double = 0.8,
                  prebuiltDict: Option[DataFrame] = None): DataFrame = {
    val dict = prebuiltDict.getOrElse(cosineDict(alias))
    val scored = cosineUnlinked(aligned)
      .join(broadcast(dict), col("f_kind") === col("a_kind"))
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

  /** [[alignCosine]] for callers that still pass a `registerCached` hook.
    * Tier 3 persists nothing, so the hook is never called. Kept only for
    * the kgbench benchmark's `Staged.tiers`; delete it when kgbench runs
    * the engine's own chain (ROADMAP direction 1). */
  def alignCosine(aligned: DataFrame, alias: DataFrame, minSim: Double,
                  registerCached: DataFrame => Unit): DataFrame =
    alignCosine(aligned, alias, minSim)

  /** The still-unlinked surface forms with their [[bucketVector]] gram
    * embeddings — [[alignCosine]]'s probe side. */
  private def cosineUnlinked(aligned: DataFrame): DataFrame =
    aligned.filter(!col("obj_linked"))
      .select(col("obj_kind").as("f_kind"), col("obj_name").as("f_name"))
      .distinct()
      .withColumn("f_bks", gramBuckets(normName(col("f_name"))))
      .withColumn("f_vec", bucketVector(col("f_bks")))
      .drop("f_bks")

  /** The alias dictionary with its gram embeddings — [[alignCosine]]'s
    * build side; a long-lived [[StageChain]] caches it once per job. */
  private[kg] def cosineDict(alias: DataFrame): DataFrame =
    alias
      .select(col("kind").as("a_kind"), col("alias_norm"),
        col("canonical").as("a_canonical"))
      .withColumn("a_bks", gramBuckets(col("alias_norm")))
      .withColumn("a_vec", bucketVector(col("a_bks")))
      .drop("a_bks")
}
