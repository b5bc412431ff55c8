package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Enrichment ("hydration") joins (SURVEY.md J3).
  *
  * The reference hydrates per-triplet with async HTTP fan-out — geocode for
  * the subject Location, Macrostrat record lookup for the object
  * (reference: text2graph/schema.py:133-156, 339-376, 402-414,441-447) —
  * rate-limited to ~1 request / 1.5 s. Spark-side every probe becomes a
  * broadcast left join against the snapshot dims: null-keeping on miss (the
  * reference keeps the unhydrated entity, schema.py:142-144), first-hit
  * ordering pinned by row_number over the dim id (the reference takes
  * hit[0] of the API response, schema.py:141 — order-dependence we make
  * deterministic, SURVEY §7.4).
  *
  * The USGS-exclusive mineral fallback (schema.py:361-372) becomes a
  * coalesce with a literal formula map, and formula → element extraction
  * (P7) runs as a deterministic UDF over the joined formula.
  */
object Hydrator {

  /** Dedupe a dim on its normalized join key, first-hit by priority id.
    * When the input carries a `key_tier` column (the strat alias tiers:
    * 0 = exact short name, 1 = exact long name, 2/3 = rank-suffix aliases),
    * the window orders by (tier, priority, key) so a derived alias key can
    * NEVER displace an exact name that normalizes to the same key — it only
    * fills keys no exact name owns. Without the column the order is the
    * plain (priority, key) the single-tier dims use. */
  private def firstHit(dim: DataFrame, key: String, prio: String): DataFrame = {
    val order =
      if (dim.columns.contains("key_tier")) Seq(col("key_tier"), col(prio), col(key))
      else Seq(col(prio), col(key))
    val w = Window.partitionBy(col("join_norm")).orderBy(order: _*)
    dim.withColumn("join_norm", Linker.normName(col(key)))
      .withColumn("fh_rn", row_number().over(w))
      .filter(col("fh_rn") === 1)
      .drop("fh_rn")
  }

  private val elementsUdf = udf((formula: String) =>
    if (formula == null) null else Chem.toElements(formula))

  /** Join-ready (first-hit-deduped, normalized-keyed) dimension tables.
    * Build once per job via [[prepare]] — the window dedup over the dims is
    * bootstrap work, not per-page work; callers on a hot path cache these.
    */
  final case class Prepared(
      stratKeyed: DataFrame, mineralKeyed: DataFrame, gaz: DataFrame,
      lithKeyed: DataFrame) {
    /** Apply `f` to each of the four keyed dims. */
    def map(f: DataFrame => DataFrame): Prepared =
      Prepared(f(stratKeyed), f(mineralKeyed), f(gaz), f(lithKeyed))
    def cached(): Prepared = map(_.cache())
    /** Release a [[cached]] snapshot — a long-lived owner must call this
      * when the consuming query stops, or the four dim caches outlive the
      * job. */
    def unpersist(): Unit = { map(_.unpersist(blocking = false)); () }
  }

  def prepare(dims: Dims.Snapshot): Prepared = {
    val spark = dims.stratDim.sparkSession
    import spark.implicits._
    // Strat lookup: exact=False in the reference (substring-ish REST
    // semantics, schema.py:133-141) — normalized equality against both the
    // short and the long name (a canonicalized "Shakopee Formation" must
    // land on the same record as "Shakopee"), first-hit by strat_name_id.
    val stratFields = dims.stratDim.select("strat_name", "strat_name_long",
      "rank", "strat_name_id", "concept_id", "bed", "mbr", "fm", "gp", "sgp",
      "b_age", "t_age", "b_period", "t_period", "c_interval", "t_units",
      "ref_id", "macrostrat_version")
    // Rank-suffix alias tier (the loose-match fidelity the REST probe's
    // substring semantics give the reference, macrostrat.py:87-115): each
    // record ALSO keys on its long name with a trailing rank word
    // contracted ("Shakopee Formation" → "Shakopee Fm") and expanded
    // ("X Fm" → "X Formation"), so abbreviated surface forms hydrate.
    // Pure expression work at bootstrap; identity variants dedup in
    // firstHit, where the key_tier column guarantees a derived alias key
    // can never displace an exact strat_name/strat_name_long key that
    // normalizes the same — ties within a tier stay first-hit by
    // strat_name_id.
    def suffixSwap(c: Column, pairs: Map[String, String]): Column =
      pairs.toSeq.sortBy(_._1).foldLeft(c) { case (acc, (from, to)) =>
        regexp_replace(acc, s"(?i)\\b$from$$", to)
      }
    val keyTiers = Seq(
      col("strat_name"),
      col("strat_name_long"),
      suffixSwap(col("strat_name_long"), Rdf.RankContraction),
      suffixSwap(col("strat_name_long"), Rdf.RankExpansion))
    val stratKeyed = firstHit(
      keyTiers.zipWithIndex.map { case (k, tier) =>
        stratFields.withColumn("strat_key", k).withColumn("key_tier", lit(tier))
      }.reduce(_.unionByName(_)),
      "strat_key", "strat_name_id")
      .drop("strat_key", "key_tier")
      .withColumnRenamed("macrostrat_version", "strat_macrostrat_version")

    // USGS-exclusive minerals are pre-merged into the mineral lookup as
    // fallback rows (mineral=null, formula from Mindat) so hydration pays
    // one mineral broadcast join instead of two; the reference's "only when
    // Macrostrat misses" ordering (schema.py:358-366) is preserved because
    // merge happens via anti-join on the normalized key — a pinned
    // broadcast like every other dim join.
    val macroMinerals = firstHit(
      dims.mineralDim.select("mineral", "mineral_id", "mineral_type",
        "formula", "url", "macrostrat_version"),
      "mineral", "mineral_id")
      .withColumnRenamed("url", "mineral_url")
      .withColumn("formula_source",
        when(col("formula").isNotNull, lit("Macrostrat")).otherwise(lit(null).cast("string")))
    val usgs = Chem.UsgsFormulas.toSeq.sorted
      .toDF("usgs_name", "usgs_formula")
      .withColumn("join_norm", Linker.normName(col("usgs_name")))
    val usgsOnly = usgs.join(broadcast(macroMinerals.select("join_norm")), Seq("join_norm"), "left_anti")
      .select(col("join_norm"),
        lit(null).cast("string").as("mineral"),
        lit(null).cast("long").as("mineral_id"),
        lit(null).cast("string").as("mineral_type"),
        col("usgs_formula").as("formula"),
        lit(null).cast("string").as("mineral_url"),
        lit(null).cast("int").as("macrostrat_version"),
        lit("Mindat").as("formula_source"))
    val mineralKeyed = macroMinerals
      .select("join_norm", "mineral", "mineral_id", "mineral_type",
        "formula", "mineral_url", "macrostrat_version", "formula_source")
      .unionByName(usgsOnly)
      .withColumnRenamed("macrostrat_version", "mineral_macrostrat_version")

    val gaz = firstHit(
      dims.gazetteerDim.select(col("name").as("gaz_name"), col("lat"), col("lon")),
      "gaz_name", "gaz_name")

    // Lithology lookup: exact=True in the reference (schema.py:74-77 —
    // single-name API match, no long-form alias), so the lith dim keys on
    // its one name column only; first-hit by lith_id mirrors hit[0].
    val lithKeyed = firstHit(
      dims.lithDim.select("lith", "lith_id", "lith_type", "lith_group",
        "lith_class", "macrostrat_version"),
      "lith", "lith_id")
      .withColumnRenamed("macrostrat_version", "lith_macrostrat_version")
    Prepared(stratKeyed, mineralKeyed, gaz, lithKeyed)
  }

  /** Hydrate canonicalized triples with strat, mineral, USGS-fallback and
    * gazetteer fields. Input needs: subj_name, predicate, obj_kind,
    * obj_final. Output adds nullable dim columns + subj_lat/subj_lon +
    * elements + requested_at provenance timestamp. The four dim joins are
    * pinned broadcasts: `Dims.snapshot` bounds every dim to dictionary size.
    *
    * `requestedAt` overrides the provenance timestamp SOURCE: by default
    * every row stamps `lit(jobStart)` (one job, one timestamp — the batch
    * pipeline's rule); a re-hydration pass over rows that already carry
    * their original run's timestamp (the canonicalization compaction)
    * passes the stored per-row column instead, so compacting never rewrites
    * the provenance history of rows an earlier run committed. */
  def hydratePrepared(triples: DataFrame, prepared: Prepared,
                      jobStart: java.sql.Timestamp,
                      requestedAt: Option[Column] = None): DataFrame = {
    val Prepared(stratKeyed, mineralKeyed, gaz, lithKeyed) = prepared

    val withStrat = triples
      .withColumn("obj_join", Linker.normName(col("obj_final")))
      .join(broadcast(stratKeyed.withColumnRenamed("join_norm", "strat_join")),
        col("obj_kind") === Model.ObjKind.Strat && col("obj_join") === col("strat_join"),
        "left")
      .drop("strat_join")

    val withMineral = withStrat
      .join(broadcast(mineralKeyed.withColumnRenamed("join_norm", "min_join")),
        col("obj_kind") === Model.ObjKind.Mineral && col("obj_join") === col("min_join"),
        "left")
      .drop("min_join")
      .withColumn("elements", elementsUdf(col("formula")))

    val withLith = withMineral
      .join(broadcast(lithKeyed.withColumnRenamed("join_norm", "lith_join")),
        col("obj_kind") === Model.ObjKind.Lith && col("obj_join") === col("lith_join"),
        "left")
      .drop("lith_join")

    val hydrated = withLith
      .withColumn("subj_join", Linker.normName(col("subj_name")))
      .join(broadcast(gaz.withColumnRenamed("join_norm", "gaz_join")),
        col("subj_join") === col("gaz_join"), "left")
      .drop("gaz_join", "gaz_name", "subj_join", "obj_join")
      .withColumnRenamed("lat", "subj_lat")
      .withColumnRenamed("lon", "subj_lon")
      .withColumn("requested_at", requestedAt.getOrElse(lit(jobStart)))

    // Flattened provenance chain, oldest → newest (SURVEY §1.1: the
    // reference's recursive Provenance.previous becomes an ordered array;
    // ids are content-derived, the timestamp is the job start — never a
    // per-row clock). Conditional hops null out and are compacted away.
    def prov(name: Column, urlC: Column, version: Column): Column =
      struct(name.as("source_name"), urlC.as("source_url"),
        version.as("source_version"), col("requested_at").as("requested"))
    // prompt-handler hop right after the model hop — the reference stores
    // the prompt version inside the ask-LLM provenance record
    // (text2graph/llm.py:302-311 additional_values.prompt); flattened here
    // as its own hop. Nulls out (and compacts away) on promptless runs.
    val promptVersionCol =
      if (hydrated.columns.contains("prompt_version")) col("prompt_version")
      else lit(null).cast("string")
    val provenance = array_compact(array(
      prov(lit("GraftTextExtractor"), col("url"), lit("html-text-v1")),
      prov(col("model_id"), col("url"), col("model_id")),
      when(promptVersionCol.isNotNull && promptVersionCol =!= "",
        prov(lit("PromptHandler"), col("url"), promptVersionCol)),
      when(col("strat_name").isNotNull,
        prov(lit("Macrostrat"),
          concat(lit(s"${Dims.BaseUrl}/defs/strat_names?strat_name_id="),
            col("strat_name_id")),
          col("strat_macrostrat_version").cast("string"))),
      when(col("mineral").isNotNull,
        prov(lit("Macrostrat"), col("mineral_url"),
          col("mineral_macrostrat_version").cast("string"))),
      // lithology hop (reference: schema.py:94-98 — provenance url is
      // /defs/lithologies?lith_id=<hit>)
      when(col("lith").isNotNull,
        prov(lit("Macrostrat"),
          concat(lit(s"${Dims.BaseUrl}/defs/lithologies?lith_id="), col("lith_id")),
          col("lith_macrostrat_version").cast("string"))),
      when(col("formula_source") === "Mindat",
        prov(lit("Mindat"), lit("https://api.mindat.org/"), lit("1.0"))),
      when(col("subj_lat").isNotNull,
        prov(lit("GeocodeAPI"), lit("gazetteer-snapshot"), lit("snapshot-1")))))

    hydrated.withColumn("provenance", provenance)
  }

  /** S7: GPS for stratigraphic units — centroid coordinates for the
    * hydrated unit, keyed by its long name (reference:
    * text2graph/geolocation/macrostrat.py — per-name REST lookup of unit
    * centroid lat/lng; Spark-side it is one more broadcast left join
    * against the strat-GPS snapshot dim, null-keeping on miss). */
  def stratGps(hydrated: DataFrame, dims: Dims.Snapshot): DataFrame =
    hydrated.join(
      broadcast(dims.stratGpsDim.withColumnRenamed("strat_name_long", "gps_name")),
      col("strat_name_long") === col("gps_name"), "left")
      .drop("gps_name")
}
