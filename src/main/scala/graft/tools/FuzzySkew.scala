package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev main: measure the hot-gram skew of the tier-2 fuzzy-alignment
  * candidate join (graft.kg.Linker.alignFuzzy) on a head-skewed input — the
  * unbounded-vocabulary shape where most names share a high-frequency suffix
  * ("... Formation" ⇒ grams "for","orm","rma","ati","tio","ion" appear in
  * nearly every posting list) — with and without the IDF stop-gram cap.
  *
  * Reports, per mode: max dictionary-side postings per (kind, gram) key
  * (the size of the hottest shuffle key — the uncapped join pairs hot-gram
  * postings probe×build, so this is the skew amplifier), candidate-pair
  * volume, wall seconds, and link parity on the misspelling fixture.
  * args: [nUnlinked] [nDict] [cap] (defaults 2000, 2000, 100 — the
  * uncapped mode is quadratic in the hot-gram postings, ~8 suffix grams x
  * nUnlinked x nDict joined rows, so size the uncapped run accordingly;
  * the capped mode runs comfortably at 10x that).
  */
object FuzzySkew {
  def main(args: Array[String]): Unit = {
    val nUnlinked = args.headOption.map(_.toInt).getOrElse(2000)
    val nDict = args.drop(1).headOption.map(_.toInt).getOrElse(2000)
    val cap = args.drop(2).headOption.map(_.toInt).getOrElse(100)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.kg.{Linker, Model}

    // head-skewed dictionary: every alias ends in " formation"
    val alias = spark.range(nDict)
      .select(concat(lit("unit"), col("id"), lit(" formation")).as("alias_norm"))
      .withColumn("canonical", initcap(col("alias_norm")))
      .unionByName(Seq(("waldron shale", "Waldron Shale")).toDF("alias_norm", "canonical"))
      .withColumn("kind", lit(Model.ObjKind.Strat))
      .cache()
    alias.count()
    // unlinked surface forms: misspelled copies of a dictionary slice
    // ("unitN Formatoin" — transposed suffix, so tier-1 misses but the
    // name-stem grams still identify the right alias) + the Waldron fixture
    val aligned = spark.range(nUnlinked)
      .select(concat(lit("unit"), col("id"), lit(" Formatoin")).as("obj_name"))
      .unionByName(Seq("Waldron Shael").toDF("obj_name"))
      .withColumn("obj_kind", lit(Model.ObjKind.Strat))
      .withColumn("obj_canonical", col("obj_name"))
      .withColumn("obj_linked", lit(false))
      .cache()
    aligned.count()

    // the skew statistic both modes contend with: dictionary postings per gram
    val postings = alias
      .select(col("kind"), explode(Linker.charGrams(col("alias_norm"))).as("gram"))
      .groupBy("kind", "gram").count()
    val hot = postings.orderBy(desc("count")).limit(5)
      .collect().map(r => s"${r.getString(1)}:${r.getLong(2)}").mkString(" ")
    println(s"dict=$nDict unlinked=$nUnlinked cap=$cap | hottest dictionary grams (postings): $hot")

    // 4th arg "capped" skips the uncapped mode (quadratic in hot-gram
    // postings — unrunnable at the scales the capped mode handles)
    val modes: Seq[(String, Option[Int])] =
      if (args.drop(3).headOption.contains("capped")) Seq(s"cap=$cap" -> Some(cap))
      else Seq("uncapped" -> None, s"cap=$cap" -> Some(cap))
    for ((label, capOpt) <- modes) {
      val t0 = System.nanoTime()
      val out = Linker.alignFuzzy(aligned, alias, minJaccard = 0.5, stopGramMaxDf = capOpt)
      val linked = out.filter(col("obj_linked")).count()
      val secs = (System.nanoTime() - t0) / 1e9
      val waldron = out.filter(col("obj_name") === "Waldron Shael")
        .select("obj_canonical").collect().headOption.map(_.getString(0)).getOrElse("-")
      println(f"$label%-12s linked=$linked%-8d waldron=$waldron%-16s wall=$secs%.2f s")
    }
    spark.stop()
  }
}
