package graft.kg

import graft.SparkSpec
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The full-size dictionaries stay off the per-operation path: plans over
  * the dims carry no row data for the analyzer to walk, and inference task
  * binaries carry a broadcast handle instead of the dictionaries. */
class PayloadSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dims = Dims.snapshot(spark)

  /** Rows of the largest `LocalRelation` in `df`'s analyzed plan. */
  private def largestLocalRelation(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case l: LocalRelation => l.data.size }
      .maxOption.getOrElse(0)

  test("full dims, alias table and hydration keys plan without row-carrying leaves") {
    val p = Hydrator.prepare(dims)
    val plans = Seq(
      "stratDim" -> dims.stratDim, "mineralDim" -> dims.mineralDim,
      "intervalDim" -> dims.intervalDim, "gazetteerDim" -> dims.gazetteerDim,
      "stratGpsDim" -> dims.stratGpsDim, "lithDim" -> dims.lithDim,
      "aliasDim" -> Linker.aliasDim(dims),
      "stratKeyed" -> p.stratKeyed, "mineralKeyed" -> p.mineralKeyed,
      "gaz" -> p.gaz, "lithKeyed" -> p.lithKeyed)
    // the largest literal table left is the 24-row USGS formula list
    plans.foreach { case (name, df) =>
      assert(largestLocalRelation(df) <= Chem.UsgsFormulas.size, name)
    }
    // the leaves still hold the reference-size dictionaries
    assert(dims.stratDim.count() === 45646)
    assert(dims.mineralDim.count() === 6387)
    // the USGS merge pins its broadcast
    val plan = p.mineralKeyed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"), plan)
  }

  test("a task over a full dim ships no dim rows") {
    val ser = SparkEnv.get.closureSerializer.newInstance()
    Seq("stratDim" -> dims.stratDim, "mineralDim" -> dims.mineralDim,
      "intervalDim" -> dims.intervalDim, "gazetteerDim" -> dims.gazetteerDim,
      "stratGpsDim" -> dims.stratGpsDim, "lithDim" -> dims.lithDim)
      .foreach { case (name, df) =>
        // what the DAGScheduler serializes into each task next to the
        // stage's binary: the task's partition of the scanned leaf
        df.queryExecution.toRdd.partitions.foreach { p =>
          val bytes = ser.serialize(p).limit()
          assert(bytes < 64 * 1024, s"$name: $bytes bytes")
        }
      }
    // generated executor-side, the rows are the pinned ones first, then
    // the synthetic bulk, in the order the dictionaries list them
    val strat = dims.stratDim.as[Dims.StratRow].collect().toSeq
    assert(strat === Dims.pinnedStrat ++ Dims.syntheticStrat(45646 - 13))
    val minerals = dims.mineralDim.as[Dims.MineralRow].collect().toSeq
    assert(minerals === Dims.pinnedMinerals ++ (0 until 6387 - 3).map(Dims.syntheticMineralAt))
    assert(dims.lithDim.as[Dims.LithRow].collect().toSeq === Dims.pinnedLith)
  }

  test("an inference task binary carries a broadcast handle, not the dictionaries") {
    val prompting = Inference.promptDictsFromDims(dims)
    val client = Inference.defaultClient(prompting.head._2,
      Dims.gazetteer.map(_.name).toArray, prompting(1)._2)
    val pages = Seq(("https://p.graft/1", "h1",
      "The Shakopee Formation overlies the St. Peter in Minnesota.", "en", true))
      .toDF("url", "hashed_text", "text", "lang", "extract_ok")
    val shipped = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.broadcast.Broadcast[_]]
    val raw = Inference.run(pages, client, 200, prompting, shipped += _)
    try {
      // what the DAGScheduler serializes into the task binary of any stage
      // whose lineage runs through the inference operator
      val bytes = SparkEnv.get.closureSerializer.newInstance()
        .serialize(raw.queryExecution.toRdd).limit()
      assert(bytes < 64 * 1024, s"$bytes bytes")
      assert(shipped.size === 1)
      val out = raw.collect()
      assert(out.map(_.url).toSeq === Seq("https://p.graft/1"))
      assert(out.head.raw.contains("Shakopee"))
    } finally shipped.foreach(_.unpersist(blocking = false))
  }
}
