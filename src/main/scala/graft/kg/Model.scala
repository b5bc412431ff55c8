package graft.kg

/** Typed stage boundaries of the KG-construction pipeline (SURVEY.md §1.1,
  * §3.4). Mirrors the reference's pydantic record tree
  * (reference: text2graph/schema.py:20-447) flattened for Spark:
  *  - the recursive `Provenance.previous` chain becomes an inline struct
  *    array ordered oldest-to-newest, built by Hydrator.hydratePrepared
  *    (schema.py:20-44),
  *  - the `Stratigraphy | Mineral` union object becomes a discriminator
  *    column `obj_kind` plus nullable per-kind fields (schema.py:417-429),
  *  - nondeterministic uuid4/now() identities become content hashes and a
  *    pipeline-start timestamp (schema.py:23,27 — determinism requirement).
  */
object Model {

  /** One dictionary hit inside a page text
    * (reference: text2graph/macrostrat.py:118-154). */
  final case class Mention(word: String, start: Int, end: Int)

  /** Raw model output per page — JSON string, shape of the reference's
    * `raw_llm_output` fixture (reference: tests/conftest.py:22-24).
    * `prompt_version` records which prompt handler(s) built the request —
    * the reference stores it in the ask-LLM provenance hop
    * (reference: text2graph/llm.py:302-311 additional_values.prompt).
    * `extract_ok` carries the extract stage's byte-identity check through
    * inference, so the pass's lineage reads all three page stages off one
    * persisted frame. */
  final case class RawExtraction(
      url: String,
      hashed_text: String,
      lang: String,
      raw: String,
      model_id: String,
      prompt_version: String,
      extract_ok: Boolean)

  /** RDF triple row — final graph materialization unit
    * (reference: text2graph/gkm/convert.py:30-78). `obj_is_literal`
    * distinguishes URIRef objects from Literals; `bnode` labels are
    * deterministic hashes, not rdflib's random ids (SURVEY G11). */
  final case class RdfTriple(
      url: String,
      subj: String,
      pred: String,
      obj: String,
      obj_is_literal: Boolean,
      lang: String,
      datatype: String)

  object ObjKind {
    val Strat = "strat"
    val Mineral = "mineral"
    // third declared reference record type (text2graph/schema.py:63-98
    // Lithology; macrostrat.py:45 EntityType.LITHOLOGY)
    val Lith = "lith"
  }
}
