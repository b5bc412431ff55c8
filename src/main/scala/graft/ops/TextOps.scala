package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: language-ID, quality
  * scoring, token counting, document fingerprinting. All pure column
  * expressions (codegen'd, no UDFs) so they fuse into the page scan at
  * 10^12-row scale — a quality filter becomes part of the parquet scan's
  * predicate pipeline, not a separate pass.
  */
object TextOps {

  /** Rounding nudge: Spark's round() HALF_UPs the shortest decimal string
    * of a double while DuckDB rounds the binary value, so exact-half ratios
    * (e.g. 43/64-derived 0.64465) round differently. The epsilon pushes
    * both engines off the boundary identically; it is far below the 4th
    * decimal being reported. Applied on both the Spark and oracle side. */
  val RoundEps = 1e-9


  /** English function words for the n-gram/stopword heuristics. */
  val EnStopwords: Seq[String] = Seq("the", "a", "of", "is", "in", "and")

  private def stopwordCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit("\\b(" + EnStopwords.mkString("|") + ")\\b"), lit(0)))

  def wsTokenCount(textCol: Column): Column =
    size(filter(split(textCol, " "), t => t =!= ""))

  /** Language ID: stopword-density heuristic (an n-gram profile classifier
    * degenerates to this on a function-word dictionary). */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang").as("declared_lang"),
        stopwordCount(col("text")).as("n_stop"),
        wsTokenCount(col("text")).as("n_tok"))
      .withColumn("stop_ratio", round(col("n_stop") / col("n_tok") + RoundEps, 4))
      .withColumn("predicted_lang",
        when(col("stop_ratio") >= 0.05, lit("en")).otherwise(lit("und")))
      .select("doc_id", "declared_lang", "predicted_lang", "stop_ratio")

  /** Function-word profiles per language for the multi-language classifier
    * (the n-gram-profile method degenerates to function-word densities on
    * short dictionaries; words chosen non-overlapping across profiles
    * except genuinely shared ones like fr/es "la"). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> EnStopwords,
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "les", "et", "est", "dans", "la"),
    "es" -> Seq("el", "los", "las", "y", "es", "la"))

  /** Multi-language ID: per-profile function-word density, argmax above a
    * density floor of 0.05, earlier profile wins exact ties (fixed order =>
    * the same CASE chain is expressible verbatim in any SQL engine). */
  def langIdMulti(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang").as("declared_lang"),
      col("text"), wsTokenCount(col("text")).as("n_tok"))
    val withRatios = LangProfiles.foldLeft(base) { case (df, (lg, words)) =>
      df.withColumn(s"r_$lg",
        round(size(regexp_extract_all(col("text"),
          lit("\\b(" + words.mkString("|") + ")\\b"), lit(0))) / col("n_tok") + RoundEps, 4))
    }
    val langs = LangProfiles.map(_._1)
    val pred = langs.foldLeft(when(lit(false), lit(""))) { (acc, lg) =>
      val wins = langs.filter(_ != lg)
        .map(o => col(s"r_$lg") >= col(s"r_$o"))
        .foldLeft(col(s"r_$lg") >= 0.05)(_ && _)
      acc.when(wins, lit(lg))
    }.otherwise(lit("und"))
    withRatios.withColumn("predicted_lang", pred)
      .select(Seq(col("doc_id"), col("declared_lang"), col("predicted_lang")) ++
        langs.map(lg => col(s"r_$lg")): _*)
  }

  /** Quality scoring: length, mean token length, stopword ratio,
    * alpha ratio → weighted score in [0, 1]. */
  def quality(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        length(col("text")).as("n_chars"),
        wsTokenCount(col("text")).as("n_tok"),
        stopwordCount(col("text")).as("n_stop"),
        size(regexp_extract_all(col("text"), lit("[a-zA-Z]"), lit(0))).as("n_alpha"))
      .withColumn("mean_tok_len",
        round((col("n_chars") - col("n_tok") + 1) / col("n_tok") + RoundEps, 4))
      .withColumn("stop_ratio", round(col("n_stop") / col("n_tok") + RoundEps, 4))
      .withColumn("alpha_ratio", round(col("n_alpha") / col("n_chars") + RoundEps, 4))
      .withColumn("quality_score", round(
        least(col("n_tok") / 64.0, lit(1.0)) * 0.4 +
          col("alpha_ratio") * 0.4 +
          least(col("stop_ratio") * 5.0, lit(1.0)) * 0.2 + RoundEps, 4))
      .select("doc_id", "n_chars", "n_tok", "mean_tok_len", "stop_ratio",
        "alpha_ratio", "quality_score")

  /** One-pass composition of [[quality]] and [[langId]]'s prediction: both
    * derive from the same per-row counts, so computing them in one select
    * halves the regex scans a quality+language corpus gate pays (the
    * composed driver-gate query formerly ran both operators and joined 1:1
    * on doc_id). predicted_lang is langId's exact expression over the
    * identical rounded stop_ratio — rows are unchanged. */
  def qualityLang(docs: DataFrame): DataFrame =
    quality(docs).withColumn("predicted_lang",
      when(col("stop_ratio") >= 0.05, lit("en")).otherwise(lit("und")))

  /** Token counting: whitespace tokens, BPE-ish subword count (regex over
    * letter-runs/digit-runs/punct, run length ceil/4 as a subword proxy),
    * distinct tokens. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        wsTokenCount(col("text")).as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z]{1,4}|[0-9]{1,3}|[^a-zA-Z0-9 ]"), lit(0))).as("bpeish_tokens"),
        size(array_distinct(filter(split(col("text"), " "), t => t =!= ""))).as("distinct_tokens"))

  /** Document fingerprint: md5 over whitespace-normalized lowercase text —
    * the rolling-hash content signature used for shard-local dedup — plus
    * a 3-token shingle count. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fingerprint"),
        greatest(wsTokenCount(col("text")) - 2, lit(0)).as("n_shingles"))
}
