package kgbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. A failed check throws [[Checks.Mismatch]]; the run then
  * exits non-zero without printing a result. */
object Checks {
  final class Mismatch(msg: String) extends RuntimeException(msg)

  def require(ok: Boolean, what: => String): Unit =
    if (!ok) throw new Mismatch(what)

  /** Order-independent digest of a table: row count and the exact sum of
    * a 64-bit hash of every row, over all columns in name order. */
  def digest(df: DataFrame): String = {
    val cs = digestCols(df)
    digestOf(df.agg(cs.head, cs.tail: _*).collect().head)
  }

  /** The aggregate columns of [[digest]], to compute it with other
    * aggregates in one job. */
  def digestCols(df: DataFrame): Seq[org.apache.spark.sql.Column] = Seq(count(lit(1)),
    coalesce(sum(xxhash64(df.columns.sorted.toSeq.map(col): _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")))

  /** Format the [[digestCols]] values found in `r` from column `at` on. */
  def digestOf(r: org.apache.spark.sql.Row, at: Int = 0): String =
    s"${r.getLong(at)}:${r.getDecimal(at + 1).toBigInteger.toString(16)}"

  val SaukUrl = "https://fixtures.graft/sauk"

  /** The Sauk fixture page's (subject, predicate, object) triples, as an
    * aggregate over a triples table. */
  val saukCol: org.apache.spark.sql.Column = collect_set(when(col("url") === SaukUrl,
    struct(col("subj_name"), col("predicate"), col("obj_name"))))

  /** Precision and recall of the Sauk fixture page's triples against the
    * reference's golden set must both reach 0.95. */
  def saukGolden(got: Set[(String, String, String)]): Unit = {
    val want = graft.kg.Fixtures.SaukGoldenTriples
    val tp = got.intersect(want).size.toDouble
    val (p, r) = (if (got.isEmpty) 0.0 else tp / got.size, tp / want.size)
    require(p >= 0.95 && r >= 0.95, f"Sauk fixture P/R $p%.3f/$r%.3f below 0.95")
  }

  def saukTriples(r: org.apache.spark.sql.Row, at: Int): Set[(String, String, String)] =
    r.getSeq[org.apache.spark.sql.Row](at).map(t => (t.getString(0), t.getString(1), t.getString(2))).toSet

  /** Compare a value against the pinned expectation for (workload, key),
    * when one is pinned for this seed. */
  def pinned(expect: Map[String, String], key: String, got: String): Unit =
    expect.get(key).foreach { want =>
      require(want == got, s"$key: expected $want, got $got")
    }
}

/** Pinned outputs of each workload (and of the gate queries) at the
  * default seed. */
object Expected {
  val DefaultSeed = 1L

  def forRun(workload: String, seed: Long): Map[String, String] =
    if (seed != DefaultSeed) Map.empty else Pins.getOrElse(workload, Map.empty)

  val Pins: Map[String, Map[String, String]] = Map(
    "crawl-bulk" -> Map("digest" -> "931:-d4e444bc3fc50648d"),
    "dup-link" -> Map("digest" -> "307:29ed02c64af5d6178"),
    // row count and row-hash sum of each gate query over its seed-1 tables
    "gate" -> Map(
      "dedup_jaccard" -> "70:e29e00d2804df427",
      "dedup_minhash_lsh" -> "17632:-4b49234d4cedf5ea54",
      "dedup_embedding" -> "11617:-1144cb232a30b456dc",
      "kg_retrieval_hybrid_rel" -> "10:11a2cd8a85d5a04ed",
      "dedup_resolve" -> "223:1c7fa0807f26cd5b7",
      "sim_ivf_kmeans" -> "10:1c2e3c46ba4c4e1f",
      "dedup_simhash_near" -> "7582:1bd871ceac9e5a4ec4",
      "q_window_firsthit" -> "3:219805de7ea9305f",
      "q3_join_topk" -> "10:-15d95b276c36ba6b0"))
}
