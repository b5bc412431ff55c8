package graft.kg

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned dimension-table snapshots (SURVEY.md S4-S7).
  *
  * The reference fetches these over HTTP per run (Macrostrat REST, geocode
  * APIs) and memoizes in-process (reference: text2graph/macrostrat.py:48-84,
  * geolocation/geocode.py:63-81). At 10^12-page scale per-row or per-process
  * HTTP is untenable and nondeterministic, so the engine consumes *snapshot*
  * dimension tables instead and every enrichment becomes a broadcast join
  * (SURVEY.md §4). In production these would be parquet/Iceberg snapshots;
  * here they are generated deterministically — pinned golden rows from the
  * reference's own tests plus seeded synthetic bulk sized to the reference's
  * dictionary counts (45,646 strat names / 6,387 minerals,
  * reference: tests/test_alignment.py:2,14).
  */
object Dims {

  val MacrostratVersion = 2
  val BaseUrl = "https://macrostrat.org/api"

  final case class StratRow(
      strat_name: String, strat_name_long: String, rank: String,
      strat_name_id: Long, concept_id: Long,
      bed: String, bed_id: Long, mbr: String, mbr_id: Long,
      fm: String, fm_id: Long, subgp: String, subgp_id: Long,
      gp: String, gp_id: Long, sgp: String, sgp_id: Long,
      b_age: Double, t_age: Double, b_period: String, t_period: String,
      c_interval: String, t_units: Long, ref_id: Long,
      macrostrat_version: Int)

  final case class MineralRow(
      mineral: String, mineral_id: Long, mineral_type: String,
      formula: String, formula_tags: String, url: String,
      hardness_min: Double, hardness_max: Double, crystal_form: String,
      mineral_color: String, lustre: String, macrostrat_version: Int)

  /** Lithology record (reference: text2graph/schema.py:63-98 Lithology —
    * name, lith_id, type, group, class, color, fill, t_units; hydrated from
    * /defs/lithologies with exact=True, first hit). */
  final case class LithRow(
      lith: String, lith_id: Long, lith_type: String, lith_group: String,
      lith_class: String, lith_color: String, lith_fill: Long, t_units: Long,
      macrostrat_version: Int)

  final case class IntervalRow(name: String, int_type: String)
  final case class GazetteerRow(name: String, lat: Double, lon: Double)
  final case class StratGpsRow(strat_name_long: String, clat: Double, clng: Double)

  private def strat(
      name: String, longName: String, rank: String, id: Long, concept: Long,
      fm: (String, Long) = ("", 0), gp: (String, Long) = ("", 0),
      mbr: (String, Long) = ("", 0),
      bAge: Double = 0, tAge: Double = 0, bPeriod: String = "", tPeriod: String = "",
      tUnits: Long = 1): StratRow =
    StratRow(name, longName, rank, id, concept, "", 0, mbr._1, mbr._2,
      fm._1, fm._2, "", 0, gp._1, gp._2, "", 0, bAge, tAge, bPeriod, tPeriod,
      "", tUnits, 1, MacrostratVersion)

  /** Pinned golden rows (exact values asserted by the reference's tests). */
  val pinnedStrat: Seq[StratRow] = Seq(
    // reference: tests/test_llm.py:7-32
    strat("Smithville", "Smithville Formation", "Fm", 5933, 3863,
      fm = ("Smithville", 5933), bAge = 471.2834, tAge = 465.5,
      bPeriod = "Ordovician", tPeriod = "Ordovician", tUnits = 1),
    // reference: tests/test_gkm.py:54-80
    strat("Waldron Shale", "Waldron Shale", "Fm", 4260, 4273,
      fm = ("Waldron Shale", 4260), gp = ("Wayne", 2700),
      bAge = 429.65, tAge = 427.4, bPeriod = "Silurian", tPeriod = "Silurian",
      tUnits = 9),
    // Remaining golden-set entities (SURVEY §7.2 step 2); ids synthetic but
    // deterministic, ages from public Macrostrat values for these units.
    strat("Shakopee", "Shakopee Formation", "Fm", 1278, 1279,
      fm = ("Shakopee", 1278), gp = ("Prairie du Chien", 1290),
      bAge = 479.0, tAge = 470.0, bPeriod = "Ordovician", tPeriod = "Ordovician"),
    strat("Roubidoux", "Roubidoux Formation", "Fm", 5871, 3842,
      fm = ("Roubidoux", 5871), bAge = 480.0, tAge = 475.0,
      bPeriod = "Ordovician", tPeriod = "Ordovician"),
    strat("Jefferson City", "Jefferson City Dolomite", "Fm", 5872, 3843,
      fm = ("Jefferson City", 5872), bAge = 475.0, tAge = 471.0,
      bPeriod = "Ordovician", tPeriod = "Ordovician"),
    strat("Cotter", "Cotter Dolomite", "Fm", 5873, 3844,
      fm = ("Cotter", 5873), bAge = 473.0, tAge = 470.0,
      bPeriod = "Ordovician", tPeriod = "Ordovician"),
    strat("Powell", "Powell Dolomite", "Fm", 5874, 3845,
      fm = ("Powell", 5874), bAge = 472.0, tAge = 469.0,
      bPeriod = "Ordovician", tPeriod = "Ordovician"),
    strat("Black Rock", "Black Rock Formation", "Fm", 5934, 3864,
      fm = ("Black Rock", 5934), bAge = 470.0, tAge = 466.0,
      bPeriod = "Ordovician", tPeriod = "Ordovician"),
    strat("Everton", "Everton Formation", "Fm", 5875, 3846,
      fm = ("Everton", 5875), bAge = 470.0, tAge = 465.0,
      bPeriod = "Ordovician", tPeriod = "Ordovician"),
    strat("Jasper", "Jasper Member", "Mbr", 5876, 3847,
      fm = ("Everton", 5875), mbr = ("Jasper", 5876),
      bAge = 469.0, tAge = 466.0, bPeriod = "Ordovician", tPeriod = "Ordovician"),
    strat("Sauk", "Sauk Sequence", "SGp", 5877, 3848,
      bAge = 539.0, tAge = 470.0, bPeriod = "Cambrian", tPeriod = "Ordovician"),
    strat("St. Peter", "St. Peter Sandstone", "Fm", 1280, 1281,
      fm = ("St. Peter", 1280), bAge = 470.0, tAge = 458.0,
      bPeriod = "Ordovician", tPeriod = "Ordovician"),
    strat("Abbey Head", "Abbey Head Bed", "Bed", 6001, 4001,
      bAge = 440.0, tAge = 439.0, bPeriod = "Silurian", tPeriod = "Silurian"))

  val pinnedMinerals: Seq[MineralRow] = Seq(
    // reference: tests/test_gkm.py:24-49
    MineralRow("Agrinierite", 58, "uranium mineral", "K2(Ca,Sr)[(UO2)3O3(OH)2]2·5H2O",
      "", s"$BaseUrl/defs/minerals?mineral_id=58", 2.5, 2.5, "orthorhombic",
      "orange", "vitreous", MacrostratVersion),
    MineralRow("gold", 101, "native element", "Au", "",
      s"$BaseUrl/defs/minerals?mineral_id=101", 2.5, 3.0, "cubic",
      "golden yellow", "metallic", MacrostratVersion),
    MineralRow("gallium", 102, "native element", "Ga", "",
      s"$BaseUrl/defs/minerals?mineral_id=102", 1.5, 1.5, "orthorhombic",
      "silver white", "metallic", MacrostratVersion))

  /** Interval dim across ALL interval types, mirroring the breadth of the
    * reference's INTERVAL_LOOKUP (text2graph/gkm/features/stratigraphy.py:
    * 68-86 builds one GST class per Macrostrat interval — eons, eras,
    * periods, sub-periods, epochs, ages — not just periods). The names are
    * public ICS/Macrostrat stratigraphy; a b_period like "Early Ordovician"
    * or "Mississippian" must map instead of silently dropping (G6). */
  val intervals: Seq[IntervalRow] = {
    val periods = Seq(
      "Quaternary", "Neogene", "Paleogene", "Cretaceous", "Jurassic",
      "Triassic", "Permian", "Carboniferous", "Devonian", "Silurian",
      "Ordovician", "Cambrian", "Ediacaran", "Cryogenian", "Tonian")
      .map(IntervalRow(_, "period"))
    val eras = Seq("Paleozoic", "Mesozoic", "Cenozoic",
      "Paleoproterozoic", "Mesoproterozoic", "Neoproterozoic")
      .map(IntervalRow(_, "era"))
    val eons = Seq("Phanerozoic", "Proterozoic", "Archean", "Hadean")
      .map(IntervalRow(_, "eon"))
    val subPeriods = Seq("Mississippian", "Pennsylvanian")
      .map(IntervalRow(_, "sub-period"))
    val epochs = (Seq("Ordovician", "Devonian", "Triassic", "Jurassic")
      .flatMap(p => Seq(s"Early $p", s"Middle $p", s"Late $p")) ++
      Seq("Early Cretaceous", "Late Cretaceous",
        "Llandovery", "Wenlock", "Ludlow", "Pridoli",
        "Paleocene", "Eocene", "Oligocene", "Miocene", "Pliocene",
        "Pleistocene", "Holocene"))
      .map(IntervalRow(_, "epoch"))
    val ages = Seq("Tremadocian", "Floian", "Hirnantian", "Rhuddanian",
      "Telychian", "Sheinwoodian", "Katian", "Sandbian")
      .map(IntervalRow(_, "age"))
    periods ++ eras ++ eons ++ subPeriods ++ epochs ++ ages
  }

  /** Pinned lithology rows — names/types/classes are public Macrostrat
    * /defs/lithologies vocabulary (ids synthetic but deterministic, like
    * the non-golden strat rows). Single-word names keep surface-variant
    * generation engine-portable in the oracle queries. */
  val pinnedLith: Seq[LithRow] = Seq(
    LithRow("sandstone", 10, "siliciclastic", "sands", "sedimentary", "#FFD500", 607, 100, MacrostratVersion),
    LithRow("shale", 1, "siliciclastic", "muds", "sedimentary", "#CCEBC5", 620, 200, MacrostratVersion),
    LithRow("limestone", 30, "carbonate", "", "sedimentary", "#4BB6E8", 627, 300, MacrostratVersion),
    LithRow("dolomite", 31, "carbonate", "", "sedimentary", "#8DD3C7", 642, 150, MacrostratVersion),
    LithRow("granite", 70, "plutonic", "", "igneous", "#E31A1C", 719, 50, MacrostratVersion),
    LithRow("basalt", 80, "volcanic", "", "igneous", "#B15928", 717, 60, MacrostratVersion),
    LithRow("chert", 40, "chemical", "", "sedimentary", "#FB9A99", 632, 40, MacrostratVersion),
    LithRow("siltstone", 11, "siliciclastic", "muds", "sedimentary", "#FDBF6F", 616, 80, MacrostratVersion),
    LithRow("gabbro", 71, "plutonic", "", "igneous", "#CAB2D6", 721, 20, MacrostratVersion),
    LithRow("schist", 90, "metamorphic", "", "metamorphic", "#6A3D9A", 702, 30, MacrostratVersion))

  /** Gazetteer fixture rows (FIXTURES.md §3). */
  val gazetteer: Seq[GazetteerRow] = Seq(
    GazetteerRow("Minnesota", 46.4419, -93.3655),
    GazetteerRow("Madison, WI", 43.074761, -89.3837613),
    GazetteerRow("Margnac Mine", 45.98611, 1.30833),
    GazetteerRow("Arkabulta and Franks Rd, MI", 34.685, -90.146),
    GazetteerRow("northern Arkansas", 36.2, -92.5),
    GazetteerRow("Wisconsin", 44.5, -89.5))

  val stratGps: Seq[StratGpsRow] = Seq(
    StratGpsRow("Smithville Formation", 36.05, -91.2),
    StratGpsRow("Shakopee Formation", 44.8, -93.5),
    StratGpsRow("Waldron Shale", 39.0, -85.8),
    StratGpsRow("St. Peter Sandstone", 44.0, -92.0))

  /** Deterministic synthetic bulk so dictionary-scale behavior (automaton
    * size, broadcast size, join fan-in) is exercised at the reference's
    * real cardinalities. Names are generated from a fixed wordlist cross
    * product — no RNG, fully reproducible. */
  private val W1 = Vector("Alder", "Basin", "Cedar", "Dover", "Elk", "Fox",
    "Granite", "Hollow", "Iron", "Juniper", "Kettle", "Larch", "Maple",
    "Norway", "Oak", "Pine", "Quarry", "River", "Spruce", "Tamarack",
    "Union", "Vista", "Willow", "Xenia", "York", "Zumbro")
  private val W2 = Vector("Creek", "Ridge", "Valley", "Hills", "Bluff",
    "Springs", "Lake", "Point", "Falls", "Hollow", "Gap", "Bend", "Knob",
    "Prairie", "Glen", "Mound", "Rapids", "Summit", "Cove", "Flats")
  private val Ranks = Vector("Fm", "Mbr", "Gp", "Bed")
  private val RankWord = Map("Fm" -> "Formation", "Mbr" -> "Member",
    "Gp" -> "Group", "Bed" -> "Bed")

  def syntheticStrat(n: Int): Seq[StratRow] = (0 until n).map(syntheticStratAt)

  private def syntheticStratAt(i: Int): StratRow = {
    val name = s"${W1(i % W1.size)} ${W2((i / W1.size) % W2.size)} ${i / (W1.size * W2.size)}"
    val rank = Ranks(i % Ranks.size)
    val period = intervals(i % 15).name
    strat(name, s"$name ${RankWord(rank)}", rank, 100000L + i, 200000L + i,
      bAge = 100.0 + (i % 400), tAge = 95.0 + (i % 400),
      bPeriod = period, tPeriod = period)
  }

  private val syms = Chem.ElementSymbols.toVector.sorted

  private[kg] def syntheticMineralAt(i: Int): MineralRow = {
    val name = s"${W1(i % W1.size).toLowerCase}ite ${i / W1.size}"
    MineralRow(name, 1000L + i, "synthetic",
      s"${syms(i % syms.size)}${syms((i * 7) % syms.size)}O2", "",
      s"$BaseUrl/defs/minerals?mineral_id=${1000 + i}",
      (i % 9) + 1.0, (i % 9) + 1.5, "cubic", "gray", "dull", MacrostratVersion)
  }

  /** Full dims at reference cardinality. Small enough to broadcast
    * (45k rows x ~200 B ≈ 9 MB); every join against a dim is a pinned
    * `broadcast(…)`, so no join depends on a dim's size statistics.
    */
  final case class Snapshot(
      stratDim: DataFrame, mineralDim: DataFrame, intervalDim: DataFrame,
      gazetteerDim: DataFrame, stratGpsDim: DataFrame, lithDim: DataFrame) {
    /** Apply `f` to each of the six dims. */
    def map(f: DataFrame => DataFrame): Snapshot =
      Snapshot(f(stratDim), f(mineralDim), f(intervalDim), f(gazetteerDim),
        f(stratGpsDim), f(lithDim))
    /** Cache every dim (a generated leaf rebuilds its rows on each scan
      * otherwise — snapshot tables are read-many by design). */
    def persisted(): Snapshot = map(_.cache())
  }

  /** The full dims, each generated in the one task that scans it: a
    * one-slice `spark.range` mapped through a per-index row function
    * (pinned rows first, then the synthetic row for `i - pinned.size`).
    * A `Seq.toDF()` would leave a `LocalRelation` holding every row in each
    * plan built on the dim, and the analyzer walks every element of it once
    * per new `Dataset`; a parallelized `Seq` would ship every row inside
    * each task over the dim (8.8 MiB for the strat dim), cached or not.
    * The one-slice range also reports a single partition, so the
    * first-hit windows of Hydrator.prepare over a dim plan no shuffle. */
  def snapshot(spark: SparkSession, bulkStrat: Int = 45646 - 13,
               bulkMinerals: Int = 6387 - 3): Snapshot = {
    import spark.implicits._
    def leaf[T: Encoder](n: Int)(rowAt: Int => T): DataFrame =
      spark.range(0, n, 1, 1).map(i => rowAt(i.toInt)).toDF()
    Snapshot(
      leaf(pinnedStrat.size + bulkStrat) { i =>
        if (i < pinnedStrat.size) pinnedStrat(i)
        else syntheticStratAt(i - pinnedStrat.size)
      },
      leaf(pinnedMinerals.size + bulkMinerals) { i =>
        if (i < pinnedMinerals.size) pinnedMinerals(i)
        else syntheticMineralAt(i - pinnedMinerals.size)
      },
      leaf(intervals.size)(intervals(_)),
      leaf(gazetteer.size)(gazetteer(_)),
      leaf(stratGps.size)(stratGps(_)),
      leaf(pinnedLith.size)(pinnedLith(_)))
  }

  /** Tiny snapshot for unit tests and the driver-gate oracle queries. */
  def tiny(spark: SparkSession): Snapshot = {
    import spark.implicits._
    Snapshot(pinnedStrat.toDF(), pinnedMinerals.toDF(), intervals.toDF(),
      gazetteer.toDF(), stratGps.toDF(), pinnedLith.toDF())
  }
}
