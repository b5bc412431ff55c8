package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Conceptual port of the reference's golden-TTL tests
  * (reference: tests/test_gkm.py:107-117 against
  * tests/fixtures/test_triplet_to_rdf_{stratigraphy,mineral}.ttl):
  * the same two fixture triplets (Waldron Shale / Agrinierite) are run
  * through OUR align → canonicalize → hydrate → RDF chain and the
  * resulting graph must contain the reference fixtures' asserted atoms —
  * node ids, types, labels, rank edges, deposition, time span, byte-exact
  * WKT. (The reference compares by graph isomorphism because rdflib bnode
  * ids are random; our bnode labels are deterministic so set containment
  * on ground atoms is exact.)
  */
class GoldenTtlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rdf = {
    val dims = Dims.tiny(spark)
    val triples = Seq(
      ("https://t/waldron", "h1", "m", "Arkabulta and Franks Rd, MI",
        "is found near", "Waldron Shale", "strat"),
      ("https://t/agrinierite", "h2", "m", "Margnac Mine",
        "contains", "Agrinierite", "mineral"))
      .toDF("url", "hashed_text", "model_id", "subj_name", "predicate", "obj_name", "obj_kind")
    val aligned = Linker.align(triples, Linker.aliasDim(dims))
    val canonical = Canonicalizer(aligned)
    val hydrated = Hydrator.hydratePrepared(canonical, Hydrator.prepare(dims),
      java.sql.Timestamp.valueOf("2024-05-29 20:01:46"))
    Rdf.fromHydrated(hydrated, dims).collect()
      .map(t => (t.subj, t.pred, t.obj, t.obj_is_literal, t.lang)).toSet
  }

  private def has(s: String, p: String, o: String): Boolean =
    rdf.exists(t => t._1 == s && t._2 == p && t._3 == o && !t._4)
  private def hasLit(s: String, p: String, o: String, lang: String = ""): Boolean =
    rdf.exists(t => t._1 == s && t._2 == p && t._3 == o && t._4 && t._5 == lang)

  val W = s"${Rdf.MSL}WaldronShale"
  val A = s"${Rdf.XDD}Agrinierite"

  test("Waldron Shale: node id, rank type, label (fixture lines 13-14)") {
    assert(has(W, s"${Rdf.RDF_}type", s"${Rdf.GSGU}Formation"))
    assert(hasLit(W, s"${Rdf.RDFS_}label", "Waldron Shale", "en"))
  }

  test("Waldron Shale: isPartOf WayneGroup, WayneGroup a Group (fixture 23,40-41)") {
    assert(has(W, s"${Rdf.GSOC}isPartOf", s"${Rdf.MSL}WayneGroup"))
    assert(has(s"${Rdf.MSL}WayneGroup", s"${Rdf.RDF_}type", s"${Rdf.GSGU}Group"))
  }

  test("Waldron Shale: deposition during Silurian → gst:SilurianPeriod (fixture 24-27)") {
    val dep = rdf.find(t => t._1 == W && t._2 == s"${Rdf.GSOC}isParticipantIn").get._3
    assert(has(dep, s"${Rdf.RDF_}type", s"${Rdf.GSPR}Deposition"))
    assert(hasLit(dep, s"${Rdf.RDFS_}label", "Deposition during Silurian", "en"))
    assert(has(dep, s"${Rdf.GSOC}occupiesTimeDirectly", s"${Rdf.GST}SilurianPeriod"))
  }

  test("Waldron Shale: time span b_age=429.65 t_age=427.4 (fixture 28-36)") {
    val interval = rdf.find(t => t._1 == W &&
      t._2 == s"${Rdf.GSOC}occupiesTimeDirectly" && t._3.startsWith("_:")).get._3
    assert(has(interval, s"${Rdf.RDF_}type", s"${Rdf.GSOG}Geologic_Time_Interval"))
    assert(rdf.exists(t => t._2 == s"${Rdf.GSOC}hasDataValue" && t._3 == "427.4"))
    assert(rdf.exists(t => t._2 == s"${Rdf.GSOC}hasDataValue" && t._3 == "429.65"))
  }

  test("Waldron Shale: byte-exact WKT + EPSG node (fixture 18-21,38)") {
    assert(rdf.exists(t => t._2 == s"${Rdf.GSOC}hasDataValue" &&
      t._3 == "( POINT -90.146 34.685 )" && t._4))
    assert(rdf.exists(t => t._2 == s"${Rdf.GSOC}hasDataValue" &&
      t._3 == "Arkabulta and Franks Rd, MI" && t._5 == "en"))
    assert(has("https://epsg.io/4326", s"${Rdf.RDF_}type",
      s"${Rdf.GSOC}Geographic_Coordinate_System"))
  }

  test("Agrinierite: rock material types + 'None'-padded label (mineral fixture 10-12)") {
    assert(has(A, s"${Rdf.RDF_}type", s"${Rdf.GSOG}Rock_Material"))
    assert(has(A, s"${Rdf.RDF_}type", s"${Rdf.GSRM}Agrinierite"))
    // our dim carries mineral_type="uranium mineral"; the reference fixture
    // had None there — assert OUR pinned label content exactly
    assert(hasLit(A, s"${Rdf.RDFS_}label",
      "Agrinierite, uranium mineral, K2(Ca,Sr)[(UO2)3O3(OH)2]2·5H2O", "en"))
  }

  test("Agrinierite: Margnac Mine WKT lon-first (mineral fixture 14-18)") {
    assert(rdf.exists(t => t._2 == s"${Rdf.GSOC}hasDataValue" &&
      t._3 == "( POINT 1.30833 45.98611 )" && t._4))
  }

  test("A10 dedup key includes obj_is_literal: URI/literal with equal term text both survive") {
    val collide = Seq(
      Model.RdfTriple("u", "s", "p", "xdd:Gold", obj_is_literal = false, "", ""),
      Model.RdfTriple("u", "s", "p", "xdd:Gold", obj_is_literal = true, "", ""),
      // true duplicate of the literal — must collapse
      Model.RdfTriple("u", "s", "p", "xdd:Gold", obj_is_literal = true, "", ""))
    val out = Rdf.dedupTriples(spark.createDataset(collide)).collect()
    assert(out.length === 2)
    assert(out.count(_.obj_is_literal) === 1)
    assert(out.count(!_.obj_is_literal) === 1)
  }
}
