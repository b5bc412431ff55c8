package graft.kg

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lenient raw-output parsing → validated triples (SURVEY.md P3/P4/P5).
  *
  * Replicates the reference's tolerance exactly, per-row and never
  * fail-fast:
  *  - cleanup: strip, drop newlines and backslashes, truncate trailing
  *    garbage after the final '}' via the `\}[^}]*$` → `}` rewrite
  *    (reference: chtc/preprocess_extraction_direct.py:173-175,
  *    text2graph/llm.py:127-131),
  *  - a bare JSON list is re-wrapped as {"triplets": [...]}
  *    (reference: text2graph/llm.py:211-213),
  *  - invalid triplet elements are dropped individually, not fatally
  *    (reference: text2graph/llm.py:221-232),
  *  - a list-valued "location" is coerced to ", ".join
  *    (reference: text2graph/schema.py:389-393),
  *  - the object key is pipeline-specific: stratigraphic_name | mineral_name
  *    (reference: text2graph/prompt.py:54-138); both are accepted and set
  *    the `obj_kind` discriminator (SURVEY.md §1.1 — Spark has no sum types).
  *
  * Parsing runs in a typed mapPartitions with a per-JVM Jackson
  * ObjectMapper — same cost shape as `from_json` (per-row parse) but with
  * the reference's element-level salvage, which PERMISSIVE `from_json`
  * cannot express (a malformed array element nulls the enclosing array).
  */
object PostProcess {

  @transient private[kg] lazy val mapper = new ObjectMapper()

  private val TrailingGarbage = "\\}[^}]*$".r

  /** reference: chtc/preprocess_extraction_direct.py:173-175 */
  def clean(raw: String): String = {
    val s = raw.trim.replace("\n", "").replace("\\", "")
    TrailingGarbage.replaceAllIn(s, "}")
  }

  final case class ParsedTriplet(
      location: String, relationship: String, obj_name: String, obj_kind: String)

  private def textOrJoin(n: JsonNode): Option[String] = {
    if (n == null || n.isNull) None
    else if (n.isTextual) Some(n.asText)
    else if (n.isArray) {
      // reference: text2graph/schema.py:389-393 — list coerced to ", ".join
      val parts = (0 until n.size).map(i => n.get(i)).filter(_.isTextual).map(_.asText)
      if (parts.isEmpty) None else Some(parts.mkString(", "))
    } else None
  }

  /** Per-page parse outcome — the lineage discriminator (SURVEY B7; the
    * reference's failure bookkeeping re-adds failed documents as "NA"
    * placeholder rows, chtc/preprocess_extraction_direct.py:99-110, so
    * per-doc failure state survives into the store):
    *  - [[StatusOk]]: raw parsed to a triplet list — possibly empty, which
    *    is a LEGITIMATELY empty page, not a failure;
    *  - [[StatusInferFailed]]: empty raw — the TransportClient
    *    retry-exhaustion degradation (Inference.scala) or a client that
    *    produced nothing;
    *  - [[StatusParseFailed]]: non-empty raw that yields no triplet list
    *    even after the lenient cleanup — model output the pipeline cannot
    *    salvage. */
  val StatusOk = 0
  val StatusInferFailed = 1
  val StatusParseFailed = 2

  /** Stage label for a non-OK `parse_status` column — the infer/parse
    * discriminator, shared by the batch pipeline's failed-url set and the
    * streaming failure sink so the two can never disagree on labels.
    * Callers filter to non-OK rows first. */
  def failedStage(status: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(status === StatusInferFailed, "infer").otherwise("parse")

  final case class ParsedPage(parse_status: Int, triplets: Seq[ParsedTriplet])

  /** Lenient parse of one raw output, with the failure discriminator.
    * Single JSON parse per row — status and triplets come from the same
    * tree walk. */
  def parsePage(raw: String): ParsedPage = {
    if (raw == null || raw.trim.isEmpty) return ParsedPage(StatusInferFailed, Nil)
    // Parse as-is first (the API path does no cleanup, llm.py:209); only on
    // failure apply the vllm cleanup + trailing-garbage repair (the chtc
    // path) — applying the `\}[^}]*$` rewrite to a valid bare list would
    // corrupt its closing bracket.
    val root = {
      val direct = try Option(mapper.readTree(raw.trim)) catch { case _: Exception => None }
      direct.orElse {
        try Option(mapper.readTree(clean(raw))) catch { case _: Exception => None }
      }.orNull
    }
    if (root == null) return ParsedPage(StatusParseFailed, Nil)
    // bare list → wrap (reference: text2graph/llm.py:211-213)
    val triplets =
      if (root.isArray) root
      else if (root.has("triplets") && root.get("triplets").isArray) root.get("triplets")
      else return ParsedPage(StatusParseFailed, Nil)
    val parsed = (0 until triplets.size).flatMap { i =>
      val t = triplets.get(i)
      if (!t.isObject) None // element-level drop (llm.py:222-228)
      else {
        val loc = textOrJoin(t.get("location"))
        val rel = textOrJoin(t.get("relationship"))
        val strat = textOrJoin(t.get("stratigraphic_name"))
        val mineral = textOrJoin(t.get("mineral_name"))
        // third declared record type (schema.py:63-98); no reference prompt
        // handler emits it today, but the record/hydration route exists.
        val lith = textOrJoin(t.get("lithology_name"))
        (loc, rel) match {
          case (Some(l), Some(r)) if l.nonEmpty =>
            strat.filter(_.nonEmpty).map(s => ParsedTriplet(l, r, s, Model.ObjKind.Strat))
              .orElse(mineral.filter(_.nonEmpty).map(m => ParsedTriplet(l, r, m, Model.ObjKind.Mineral)))
              .orElse(lith.filter(_.nonEmpty).map(x => ParsedTriplet(l, r, x, Model.ObjKind.Lith)))
          case _ => None
        }
      }
    }
    ParsedPage(StatusOk, parsed)
  }

  /** Lenient parse of one raw output. Returns Nil on unparseable input
    * (the reference logs and returns an empty GraphOutput). */
  def parseOne(raw: String): Seq[ParsedTriplet] = parsePage(raw).triplets

  /** The parse stage keeps the raw frame's other columns. The UDF returns
    * the ParsedPage case class so the plan carries a named (parse_status,
    * triplets) struct — one JSON parse per row yields both the failure
    * discriminator and the triplet array. */
  private val parseUdf = udf((raw: String) => parsePage(raw))

  /** Pre-explode stage: raw frame + `parsed` triplet array + `parse_status`.
    * This is what the pipeline persists as its stage boundary — failure
    * bookkeeping (lineage infer/parse stages, Result.failedUrls) reads the
    * statuses while the triples path explodes `parsed`, off one cache. */
  def withParsed(raw: DataFrame): DataFrame =
    raw.withColumn("pp", parseUdf(col("raw")))
      .withColumn("parse_status", col("pp.parse_status"))
      .withColumn("parsed", col("pp.triplets"))
      .drop("pp")

  /** Explode a [[withParsed]] frame into validated per-triplet rows. */
  def explodeParsed(rawParsed: DataFrame): DataFrame = {
    val pv = if (rawParsed.columns.contains("prompt_version")) col("prompt_version")
             else lit("").as("prompt_version")
    rawParsed.withColumn("t", explode(col("parsed")))
      .select(col("url"), col("hashed_text"), col("model_id"), pv,
        col("t.location").as("subj_name"), col("t.relationship").as("predicate"),
        col("t.obj_name").as("obj_name"), col("t.obj_kind").as("obj_kind"))
  }
}
