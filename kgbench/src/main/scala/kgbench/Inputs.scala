package kgbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generator. Every table is built in the benchmark's JVM from one
  * `SplittableRandom(seed)` stream and written as a single parquet file
  * before anything is timed; the engine only ever sees those files. The
  * same seed therefore gives byte-identical inputs.
  *
  * Pages carry the engine's input schema `(url, warc_ts, html, text, lang)`
  * with `html` rendered by `HtmlText.render`, so the extract stage's
  * `extract(html) == text` invariant holds. The six reference fixture
  * pages (`Pages.fixtures`) join every page workload.
  */
object Inputs {

  /** Gazetteer and dictionary names the generated text mentions. */
  val Locations = Vector("Minnesota", "Wisconsin", "northern Arkansas", "Madison, WI")
  val StratNames = Vector("Shakopee", "St. Peter", "Roubidoux", "Jefferson City",
    "Cotter", "Powell", "Black Rock", "Everton", "Jasper", "Smithville",
    "Waldron Shale", "Abbey Head", "Sauk")
  val Minerals = Vector("gold", "gallium", "Agrinierite")
  private val Relations = Vector("overlies", "underlies", "contains", "includes")
  /** The vocabulary of the engine's synthetic `documents` corpus. */
  private val CorpusWords = Vector("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "a", "the",
    "line", "sort", "window", "data", "column", "join", "small", "customer",
    "query", "order", "group", "filter", "big", "vector", "stream")
  private val Langs = Vector("en", "en", "en", "en", "zh", "es", "de", "fr")
  private val Syllables = Vector("ka", "lo", "mi", "ru", "te", "sa", "no",
    "vi", "pe", "da", "fo", "gu", "re", "zi", "ha", "bo", "ne", "tu", "li", "ma")
  private val Boilerplate = "Accept cookies to continue. This site uses cookies " +
    "for analytics and personalised content. Read our privacy notice and terms " +
    "of use. Subscribe to the newsletter for field trip updates. The Shakopee " +
    "Formation overlies the St. Peter in Minnesota. Copyright all rights reserved"

  final case class Page(url: String, ts: Long, text: String, lang: String)

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T = xs(r.nextInt(xs.size))

  private def geologySentence(r: SplittableRandom): String =
    if (r.nextInt(4) == 0)
      s"${pick(r, Minerals)} is found in ${pick(r, Locations)}."
    else
      s"The ${pick(r, StratNames)} Formation ${pick(r, Relations)} the " +
        s"${pick(r, StratNames)} in ${pick(r, Locations)}."

  /** A ~300-character document in the style of the engine's `documents`
    * corpus, with a geology sentence in half of them. */
  private def corpusDoc(r: SplittableRandom): String = {
    val words = Seq.fill(40 + r.nextInt(30))(pick(r, CorpusWords)).mkString(" ")
    if (r.nextBoolean()) words + " " + geologySentence(r) else words
  }

  private def pseudoWord(r: SplittableRandom): String =
    Seq.fill(2 + r.nextInt(2))(pick(r, Syllables)).mkString

  /** crawl-bulk: long pages amplified from a base corpus the way
    * `graft.Bench.scalingPages` does it — each base document's text
    * repeated `amp` times, the set replicated under distinct urls. */
  def crawlPages(seed: Long, baseDocs: Int, repl: Int, amp: Int): Seq[Page] = {
    val r = new SplittableRandom(seed)
    val docs = Vector.fill(baseDocs)((corpusDoc(r), pick(r, Langs)))
    for {
      rep <- 0 until repl
      (d, i) <- docs.zipWithIndex
    } yield Page(s"https://synthetic.graft/amp/$seed/$i/$rep", 1704067200L + i,
      Seq.fill(amp)(d._1).mkString(" "), d._2)
  }

  /** dup-link: short pages, every one naming at least one dictionary
    * entity and a location; `dupShare` of them are boilerplate
    * near-duplicates that all land in one MinHash bucket. */
  def shortPages(seed: Long, n: Int, dupShare: Double): Seq[Page] = {
    val r = new SplittableRandom(seed)
    (0 until n).map { i =>
      val text =
        if (r.nextDouble() < dupShare) Boilerplate + " " + pseudoWord(r)
        else {
          val filler = Seq.fill(25 + r.nextInt(20))(pseudoWord(r)).mkString(" ")
          val facts = Seq.fill(1 + r.nextInt(2))(geologySentence(r)).mkString(" ")
          filler + " " + facts
        }
      Page(s"https://crawl.graft/$seed/$i", 1704067200L + i, text, "en")
    }
  }

  /** Crawl segments for the incremental cycle: `segments` sets of short
    * pages under urls of their own, and one page of one seeded segment
    * carries [[FakeEndpoint.StuckMarker]], so its batch exhausts the
    * client's retries and is left to the re-drive. */
  def streamSegments(seed: Long, segments: Int, perSegment: Int): Seq[Seq[Page]] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val stuck = (r.nextInt(segments), r.nextInt(perSegment))
    (0 until segments).map { s =>
      shortPages(r.nextLong(), perSegment, 0.0).zipWithIndex.map { case (p, i) =>
        p.copy(url = s"https://stream.graft/$seed/$s/$i", ts = p.ts + s * perSegment,
          text = if ((s, i) == stuck) p.text + " " + FakeEndpoint.StuckMarker else p.text)
      }
    }
  }

  /** The gate queries' tables, in the schemas of the engine's synthetic
    * star schema: `documents` (with a `dupShare` of one-word-edited
    * copies), `embeddings` (64-d, clustered by `label`), and `customer`,
    * `orders` and `lineitem` at the 0.001 scale factor. */
  def gateTables(spark: SparkSession, seed: Long, docs: Int,
                 dupShare: Double): Map[String, DataFrame] = {
    import spark.implicits._
    val r = new SplittableRandom(seed ^ 0x6a7eL)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until docs).foreach { i =>
      texts += (if (i > 0 && r.nextDouble() < dupShare) {
        val w = texts(r.nextInt(i)).split(" ")
        w(r.nextInt(w.length)) = pick(r, CorpusWords)
        w.mkString(" ")
      } else Seq.fill(20 + r.nextInt(30))(pick(r, CorpusWords)).mkString(" "))
    }
    val documents = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, pick(r, Langs.distinct), s"src${r.nextInt(20)}", t.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    val centers = Vector.fill(10)(Array.fill(64)(r.nextDouble() * 2 - 1))
    val embeddings = (0 until docs).map { i =>
      val label = r.nextInt(10)
      (i.toLong, centers(label).map(c => (c * 0.2 + (r.nextDouble() - 0.5) * 0.1).toFloat), label)
    }.toDF("vec_id", "embedding", "label")
    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = (0 until 150).map { i =>
      (i.toLong, f"Customer#$i%09d", r.nextInt(25), math.rint(r.nextDouble() * 1099999 - 99999) / 100,
        pick(r, segments))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val day = 86400000L
    val t0 = 694224000000L // 1992-01-01T00:00:00Z
    val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until 1500).map { i =>
      (i.toLong, r.nextInt(150).toLong, pick(r, Vector("F", "O", "P")),
        math.rint(r.nextDouble() * 50000000) / 100, new java.sql.Timestamp(t0 + r.nextInt(2400) * day),
        pick(r, priorities))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority")
    val lineitem = (0 until 6000).map { i =>
      val qty = (1 + r.nextInt(50)).toDouble
      (r.nextInt(1500).toLong, r.nextInt(200).toLong, r.nextInt(10).toLong, 1 + r.nextInt(7), qty,
        math.rint(qty * (900 + r.nextDouble() * 1100) * 100) / 100, r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, pick(r, Vector("A", "N", "R")), pick(r, Vector("F", "O")),
        new java.sql.Timestamp(t0 + r.nextInt(2500) * day))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    Map("documents" -> documents, "embeddings" -> embeddings, "customer" -> customer,
      "orders" -> orders, "lineitem" -> lineitem)
  }

  def toDf(spark: SparkSession, pages: Seq[Page], withFixtures: Boolean): DataFrame = {
    import spark.implicits._
    val bulk = pages.map(p => (p.url, new java.sql.Timestamp(p.ts * 1000),
      graft.kg.HtmlText.render(p.text, p.lang), p.text, p.lang))
      .toDF("url", "warc_ts", "html", "text", "lang")
    if (withFixtures) graft.kg.Pages.fixtures(spark).unionByName(bulk) else bulk
  }

  /** Write a page table as exactly one parquet file at `file`. */
  def writeOne(spark: SparkSession, df: DataFrame, file: Path): Path = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".dir")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.createDirectories(file.getParent)
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    file
  }
}
