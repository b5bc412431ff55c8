package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Graph materialization: hydrated triples → RDF triples → Turtle
  * (SURVEY.md §2.6, G1-G11; reference: text2graph/gkm/).
  *
  * Differences from the reference, by design:
  *  - rdflib BNodes carry random ids and force isomorphism-only comparison
  *    (reference: tests/test_gkm.py:16-20); our blank-node labels are
  *    content hashes of (page url, triple key, feature, ordinal), so equal
  *    inputs give byte-equal graphs and plain set equality works
  *    (SURVEY G11),
  *  - feature dispatch is a flatMap over rows instead of an in-memory
  *    mutable Graph; each feature emits its triple batch independently and
  *    failures drop only that feature's contribution
  *    (reference: gkm/convert.py:69-77 try/except-continue per feature),
  *  - duplicate emissions collapse with dropDuplicates — rdflib Graph.add
  *    is set-semantics (SURVEY A10).
  */
object Rdf {

  // Namespaces (reference: text2graph/gkm/namespace.py:1-12)
  val GSOC = "https://w3id.org/gso/1.0/common/"
  val GSOG = "https://w3id.org/gso/geology/"
  val GSGU = "https://w3id.org/gso/geologicunit/"
  val GSPR = "https://w3id.org/gso/geologicprocess/"
  val GSRM = "https://w3id.org/gso/1.0/rockmaterial/"
  val GST = "https://w3id.org/gso/geologictime/"
  val PROV = "http://www.w3.org/ns/prov#"
  val PAV = "http://purl.org/pav/"
  val MSL = "https://macrostrat.org/lexicon/"
  val XDD = "https://xdd.wisc.edu/lexicon/"
  val RDF_ = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val RDFS_ = "http://www.w3.org/2000/01/rdf-schema#"
  val XSD = "http://www.w3.org/2001/XMLSchema#"

  val Prefixes: Seq[(String, String)] = Seq(
    "rdf" -> RDF_, "rdfs" -> RDFS_, "gsoc" -> GSOC, "gsog" -> GSOG,
    "gsgu" -> GSGU, "gsrm" -> GSRM, "gst" -> GST, "gspr" -> GSPR,
    "msl" -> MSL, "xdd" -> XDD, "prov" -> PROV, "pav" -> PAV,
    "xsd" -> XSD)

  // Rank machinery (reference: gkm/features/stratigraphy.py:29-61)
  val RankOrder = Map("Bed" -> 0, "Mbr" -> 1, "Fm" -> 2, "Gp" -> 3, "SGp" -> 4)
  val RankExpansion = Map("Bed" -> "Bed", "Mbr" -> "Member", "Fm" -> "Formation",
    "Gp" -> "Group", "SGp" -> "Supergroup")
  val RankContraction = RankExpansion.map(_.swap)
  val RankClass = Map("Bed" -> s"${GSGU}Bed", "Mbr" -> s"${GSGU}Member",
    "Fm" -> s"${GSGU}Formation", "Gp" -> s"${GSGU}Group",
    "SGp" -> s"${GSGU}Supergroup")

  /** Interval lookup (reference: gkm/features/stratigraphy.py:68-86) built
    * from the interval dim instead of module-load HTTP. */
  def intervalClass(period: String, intType: String): String =
    GST + EntityNames.intervalName(period) + EntityNames.pyTitle(intType).replace(" ", "")

  import Model.RdfTriple

  private def sha1hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Deterministic blank-node label (SURVEY G11). */
  def bnode(url: String, tripleKey: String, feature: String, ordinal: Int): String =
    "_:b" + sha1hex(s"$url|$tripleKey|$feature|$ordinal").take(16)

  private def uri(u: String) = (u, false, "", "")
  private def lit(v: String, lang: String = "", dt: String = "") = (v, true, lang, dt)

  /** One hydrated triple row → RDF triples. The row must carry the hydrated
    * schema produced by [[Hydrator.hydratePrepared]]. */
  def emitRow(r: Row, intervals: Map[String, String]): Seq[RdfTriple] = {
    def s(name: String): Option[String] =
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        Option(r.getAs[Any](name)).map(_.toString).filter(v => v.nonEmpty && v != "None")
      else None
    def d(name: String): Option[Double] =
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        Some(r.getAs[Number](name).doubleValue) else None

    val url = r.getAs[String]("url")
    val subjName = r.getAs[String]("subj_name")
    val predicate = r.getAs[String]("predicate")
    val objKind = r.getAs[String]("obj_kind")
    val objFinal = r.getAs[String]("obj_final")
    val tripleKey = s"$subjName|$predicate|$objFinal"
    val requested = s("requested_at").getOrElse("")
    val modelId = s("model_id").getOrElse("graft")

    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, (String, Boolean, String, String))]
    def add(subj: String, pred: String, obj: (String, Boolean, String, String)): Unit =
      out += ((subj, pred, obj))
    // Per-feature isolation (reference: gkm/convert.py:69-77 — each feature
    // is try/except-log-continue): a feature failing on odd data drops only
    // its own triples, never the row or the task. Emissions are buffered
    // and committed per feature.
    def feature(body: => Unit): Unit = {
      val mark = out.length
      try body
      catch { case _: Exception => out.remove(mark, out.length - mark) }
    }

    // G2: object node id
    val objectNode =
      if (objKind == Model.ObjKind.Strat) {
        val name = s("strat_name_long").orElse(s("strat_name")).getOrElse(objFinal)
        MSL + EntityNames.entityName(name)
      } else if (objKind == Model.ObjKind.Mineral)
        XDD + EntityNames.entityName(s("mineral").getOrElse(objFinal))
      else XDD + EntityNames.entityName(s("lith").getOrElse(objFinal))

    // Macrostrat provenance chain attached to hydrated nodes
    // (reference: gkm/features/general.py:19-54); only when dim fields hit.
    val hydratedFromDim =
      (objKind == Model.ObjKind.Strat && s("strat_name").isDefined) ||
      (objKind == Model.ObjKind.Mineral && s("mineral").isDefined) ||
      (objKind == Model.ObjKind.Lith && s("lith").isDefined)
    val macroEntity = MSL + "Macrostrat"
    val macroQuery = MSL + "MacrostratQuery"
    def addMacrostratProv(attributed: String): Unit = if (hydratedFromDim) {
      add(macroEntity, RDF_ + "type", uri(PROV + "entity"))
      add(macroEntity, PAV + "version",
        lit(s("macrostrat_version").getOrElse("2"), dt = XSD + "string"))
      add(macroQuery, RDF_ + "type", uri(PROV + "activity"))
      add(macroQuery, PROV + "used", uri(macroEntity))
      add(macroQuery, PROV + "requestedAt", lit(requested, dt = XSD + "dateTime"))
      add(attributed, PROV + "wasGeneratedBy", uri(macroQuery))
    }

    if (objKind == Model.ObjKind.Strat) {
      // G3: stratigraphic type cascade (stratigraphy.py:89-114)
      feature {
      val rankCls = s("rank").flatMap(RankClass.get)
        .orElse {
          s("strat_name").orElse(Some(objFinal)).flatMap { n =>
            val lastWord = EntityNames.pyTitle(n.split(" ").last)
            val key = if (lastWord.length > 3) RankContraction.get(lastWord) else Some(lastWord)
            key.flatMap(RankClass.get)
          }
        }
        .getOrElse(GSGU + "StratigraphicUnit")
      add(objectNode, RDF_ + "type", uri(rankCls))
      }

      // G4: label (stratigraphy.py:117-131)
      feature {
      val label = s("strat_name_long").orElse(s("strat_name")).getOrElse(objFinal)
      add(objectNode, RDFS_ + "label", lit(label, lang = "en"))
      }

      // G5: rank relations (stratigraphy.py:134-196)
      feature {
      for (selfRank <- s("rank").filter(RankOrder.contains)) {
        val selfOrd = RankOrder(selfRank)
        for (rk <- Seq("Bed", "Mbr", "Fm", "Gp", "SGp");
             relName <- s(rk.toLowerCase) if relName.nonEmpty) {
          val relOrd = RankOrder(rk)
          val relNode = MSL + (relName + RankExpansion(rk)).replace(" ", "")
          if (relOrd < selfOrd) {
            add(relNode, RDF_ + "type", uri(RankClass(rk)))
            add(relNode, GSOC + "isPartOf", uri(objectNode))
            addMacrostratProv(relNode)
          } else if (relOrd > selfOrd) {
            add(relNode, RDF_ + "type", uri(RankClass(rk)))
            add(objectNode, GSOC + "isPartOf", uri(relNode))
            addMacrostratProv(relNode)
          }
        }
      }

      }

      // G6: deposition age per unique period (stratigraphy.py:199-228)
      feature {
      val periods = Seq(s("t_period"), s("b_period")).flatten.distinct
      periods.zipWithIndex.foreach { case (p, i) =>
        intervals.get(EntityNames.intervalName(p)).foreach { cls =>
          val b = bnode(url, tripleKey, "deposition", i)
          add(b, RDF_ + "type", uri(GSPR + "Deposition"))
          add(b, RDFS_ + "label", lit(s"Deposition during $p", lang = "en"))
          add(b, GSOC + "occupiesTimeDirectly", uri(cls))
          add(objectNode, GSOC + "isParticipantIn", uri(b))
          addMacrostratProv(b)
        }
      }

      }

      // G7: time span (stratigraphy.py:231-271); 0.0 is falsy in Python —
      // the reference skips zero ages, so do we.
      feature {
      for (t <- d("t_age") if t != 0.0; b <- d("b_age") if b != 0.0) {
        val bi = bnode(url, tripleKey, "timespan", 0)
        val bl = bnode(url, tripleKey, "timespan", 1)
        val br = bnode(url, tripleKey, "timespan", 2)
        val be = bnode(url, tripleKey, "timespan", 3)
        val bs = bnode(url, tripleKey, "timespan", 4)
        add(bi, RDF_ + "type", uri(GSOG + "Geologic_Time_Interval"))
        add(bl, RDF_ + "type", uri(GSOC + "Time_Interval_Location"))
        add(br, RDF_ + "type", uri(GSOC + "Temporal_Range"))
        add(be, RDF_ + "type", uri(GSOC + "Time_Numeric_Value"))
        add(be, GSOC + "hasDataValue", lit(t.toString, dt = XSD + "double"))
        add(bs, RDF_ + "type", uri(GSOC + "Time_Numeric_Value"))
        add(bs, GSOC + "hasDataValue", lit(b.toString, dt = XSD + "double"))
        add(objectNode, GSOC + "occupiesTimeDirectly", uri(bi))
        add(bi, GSOC + "hasQuality", uri(bl))
        add(bl, GSOC + "hasValue", uri(br))
        add(br, GSOC + "hasEndValue", uri(be))
        add(br, GSOC + "hasStartValue", uri(bs))
        addMacrostratProv(bi)
      }
      }
    } else if (objKind == Model.ObjKind.Mineral) {
      // G8: mineral type (mineral.py:18-35)
      feature {
      add(objectNode, RDF_ + "type", uri(GSOG + "Rock_Material"))
      add(objectNode, RDF_ + "type",
        uri(GSRM + EntityNames.entityName(s("mineral").getOrElse(objFinal))))
      val label = Seq(
        s("mineral").getOrElse(objFinal),
        s("mineral_type").getOrElse("None"),
        s("formula").getOrElse("None")).mkString(", ")
      add(objectNode, RDFS_ + "label", lit(label, lang = "en"))
      addMacrostratProv(objectNode)
      }
    } else {
      // Lithology: the reference GKM has no lithology feature module, so
      // the graph contribution mirrors the mineral shape minus the GSRM
      // class: rock-material typing + "name, type, class" label.
      feature {
      add(objectNode, RDF_ + "type", uri(GSOG + "Rock_Material"))
      val label = Seq(
        s("lith").getOrElse(objFinal),
        s("lith_type").getOrElse("None"),
        s("lith_class").getOrElse("None")).mkString(", ")
      add(objectNode, RDFS_ + "label", lit(label, lang = "en"))
      addMacrostratProv(objectNode)
      }
    }

    // G9: spatial location (general.py:199-240)
    feature {
    val bLoc = bnode(url, tripleKey, "spatial", 0)
    val bVal = bnode(url, tripleKey, "spatial", 1)
    add(bLoc, RDF_ + "type", uri(GSOC + "SpatialLocation"))
    add(objectNode, GSOC + "hasQuality", uri(bLoc))
    add(bVal, RDF_ + "type", uri(GSOC + "SpatialValue"))
    add(bVal, GSOC + "hasDataValue", lit(subjName, lang = "en"))
    add(bLoc, GSOC + "hasValue", uri(bVal))
    for (lat <- d("subj_lat") if lat != 0.0; lon <- d("subj_lon") if lon != 0.0) {
      val wgs84 = "https://epsg.io/4326"
      val bWkt = bnode(url, tripleKey, "spatial", 2)
      add(bWkt, RDF_ + "type", uri(GSOC + "WKT_Value"))
      // byte-exact nonstandard WKT (general.py:231): "( POINT lon lat )"
      add(bWkt, GSOC + "hasDataValue", lit(s"( POINT ${fmtPy(lon)} ${fmtPy(lat)} )"))
      add(bWkt, GSOC + "hasReferenceSystem", uri(wgs84))
      add(bLoc, GSOC + "hasValue", uri(bWkt))
      add(wgs84, RDF_ + "type", uri(GSOC + "Geographic_Coordinate_System"))
      // geolocation provenance (general.py:57-92)
      val geoEntity = XDD + "GeocodeAPI"
      val geoQuery = XDD + "GeocodeAPIQuery"
      add(geoEntity, RDF_ + "type", uri(PROV + "entity"))
      add(geoEntity, PAV + "version", lit("snapshot-1", dt = XSD + "string"))
      add(geoQuery, RDF_ + "type", uri(PROV + "activity"))
      add(geoQuery, PROV + "used", uri(geoEntity))
      add(geoQuery, PROV + "requestedAt", lit(requested, dt = XSD + "dateTime"))
      add(bWkt, PROV + "wasGeneratedBy", uri(geoQuery))
    }
    }

    // G10: retrieval→model provenance chain (general.py:95-196), with the
    // xDD-specific hops mapped onto our pipeline's stages.
    feature {
    val preproc = XDD + "GraftTextExtractor"
    val corpus = XDD + "GraftCorpus"
    val modelEntity = XDD + EntityNames.entityName(modelId)
    val modelQuery = XDD + EntityNames.entityName(modelId) + "_query"
    add(preproc, RDF_ + "type", uri(PROV + "entity"))
    add(preproc, PAV + "version", lit("html-text-v1", dt = XSD + "string"))
    add(corpus, RDF_ + "type", uri(PROV + "entity"))
    add(corpus, RDFS_ + "label", lit("graft page corpus", lang = "en"))
    add(corpus, XDD + "docURL", lit(url, dt = XSD + "anyURI"))
    add(corpus, PROV + "used", uri(preproc))
    add(modelEntity, RDF_ + "type", uri(PROV + "entity"))
    add(modelEntity, PAV + "version", lit(modelId, dt = XSD + "string"))
    add(modelQuery, RDF_ + "type", uri(PROV + "activity"))
    add(modelQuery, PROV + "startedAtTime", lit(requested, dt = XSD + "dateTime"))
    add(modelQuery, PROV + "used", uri(modelEntity))
    add(modelQuery, PROV + "used", uri(corpus))
    add(objectNode, PROV + "wasGeneratedBy", uri(modelQuery))
    }

    out.toSeq.map { case (sj, p, (o, isLit, lg, dt)) =>
      RdfTriple(url, sj, p, o, isLit, lg, dt)
    }
  }

  /** Python repr of a float (general.py's f-string) — integral doubles
    * print as "45.0", not "45". */
  private def fmtPy(v: Double): String =
    if (v == v.floor && !v.isInfinite) s"${v.toLong}.0" else v.toString

  /** Hydrated DataFrame → deduplicated RDF triple Dataset (G1 + A10). */
  def fromHydrated(hydrated: DataFrame, dims: Dims.Snapshot): Dataset[RdfTriple] = {
    val spark = hydrated.sparkSession
    import spark.implicits._
    // Bounded driver collect: the interval vocabulary is geologic-time
    // nomenclature (Macrostrat ships ~1.2k intervals) — cap it so a
    // mis-wired dim can never turn this into an unbounded collect.
    val maxIntervals = 100 * 1000
    val intervalRows = dims.intervalDim.limit(maxIntervals + 1).collect()
    require(intervalRows.length <= maxIntervals,
      s"interval dim exceeds $maxIntervals rows — not an interval vocabulary")
    val intervals: Map[String, String] = intervalRows
      .map(r => EntityNames.intervalName(r.getAs[String]("name")) ->
        intervalClass(r.getAs[String]("name"), r.getAs[String]("int_type")))
      .toMap
    val bc = spark.sparkContext.broadcast(intervals)
    dedupTriples(hydrated.mapPartitions { it =>
      val iv = bc.value
      it.flatMap(r => emitRow(r, iv))
    })
  }

  /** A10: graph-level triple dedup. The key is the FULL term identity —
    * including `obj_is_literal`, so a URI and a literal with byte-equal
    * term text (e.g. `xdd:Gold` vs the string "xdd:Gold") never collapse
    * into one nondeterministically-chosen survivor. */
  def dedupTriples(triples: Dataset[RdfTriple]): Dataset[RdfTriple] =
    triples.dropDuplicates(
      "url", "subj", "pred", "obj", "obj_is_literal", "lang", "datatype")

  private def compactUri(u: String): String =
    Prefixes.collectFirst {
      case (p, ns) if u.startsWith(ns) &&
        u.substring(ns.length).matches("[A-Za-z0-9_.\\-]*") && u.length > ns.length =>
        s"$p:${u.substring(ns.length)}"
    }.getOrElse(s"<$u>")

  private def ttlTerm(v: String, isLit: Boolean, lang: String, dt: String): String =
    if (!isLit) { if (v.startsWith("_:")) v else compactUri(v) }
    else {
      val esc = v.replace("\\", "\\\\").replace("\"", "\\\"")
      if (lang.nonEmpty) s""""$esc"@$lang"""
      else if (dt.nonEmpty) s""""$esc"^^${compactUri(dt)}"""
      else s""""$esc""""
    }

  private val TtlHeader: String =
    Prefixes.map { case (p, ns) => s"@prefix $p: <$ns> ." }.mkString("\n")

  /** One serialized TTL line for an RDF triple row. */
  def ttlLine(t: RdfTriple): String =
    s"${ttlTerm(t.subj, isLit = false, "", "")} ${ttlTerm(t.pred, isLit = false, "", "")} ${ttlTerm(t.obj, t.obj_is_literal, t.lang, t.datatype)} ."

  /** Turtle serialization, one TTL document per page (S12/G1 `to_ttl`
    * shape: per-page concatenation). */
  def toTtl(rdf: Dataset[RdfTriple]): DataFrame = {
    val spark = rdf.sparkSession
    import spark.implicits._
    rdf.groupByKey(_.url)
      .mapGroups { (url, rows) =>
        val body = rows.map(ttlLine).toSeq.sorted.mkString("\n")
        (url, s"$TtlHeader\n\n$body\n")
      }
      .toDF("url", "ttl")
  }
}
