package graft.kg

import org.apache.spark.sql.SparkSession

/** spark-submit entrypoint for the batch KG-construction job
  * (BASELINE.json north_rule: "the whole job submits via spark-submit").
  *
  *   spark-submit --class graft.kg.Main <jar> \
  *     --pages <parquet dir | "synthetic:<sfDir>"> --out <dir> \
  *     [--partitions N] [--no-canonicalize] \
  *     [--dedup <minJaccard>] [--open-vocabulary] [--buckets lo-hi] \
  *     [--fuzzy <minJaccard> [--fuzzy-cap <df>]] [--cosine <minSim>]
  *
  * Maintenance modes (snapshot stores; run instead of a pipeline pass):
  *     --out <dir> --compact            global CC canonicalization rewrite
  *     --out <dir> --compact-dedup <minJaccard> --pages <src>
  *                                      global cross-shard dedup rewrite
  *                                      (corpus from --pages)
  *     --out <dir> --redrive --pages <src>
  *                                      re-drive the streaming failure log
  *     --out <dir> --rewrite            small-file compaction (file layout
  *                                      only; re-establishes url_bucket=N/)
  *     --out <dir> --expire <keepLast> [--grace-ms <ms>]
  *                                      retention sweep + orphan cleanup
  *                                      (files younger than the grace
  *                                      period survive; default 1 h)
  *
  * --out is a snapshot store: triples, lineage and the resume `done` set
  * publish in ONE atomic snapshot via graft.sources.SnapshotStore (Iceberg
  * commit semantics — snapshot isolation, optimistic concurrency, time
  * travel), through the same KgPipeline.commitStore layout the
  * maintenance modes write. Reruns with the same --out resume
  * incrementally (left-anti join against the committed `done` set).
  * --dedup runs the corpus duplicate gate before inference (LSH →
  * verified Jaccard → CC resolution; drops counted in lineage);
  * --open-vocabulary skips the driver small-graph probes (unbounded
  * entity/dedup spaces go straight to distributed CC) in a pipeline run
  * and in the --compact and --compact-dedup rewrites;
  * --buckets lo-hi (inclusive url-bucket range, 0-63) shards this run:
  * only pages in the shard's buckets process, and the resume anti-join
  * prunes the done-set scan to those bucket directories — a 64-shard
  * fleet covers the corpus with per-shard broadcast resume joins
  * (KgPipeline.Config.buckets scaladoc for the exact scope).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    val pagesSrc = opts.getOrElse("pages", "synthetic:/root/testdata/sf0.001")
    val outDir = opts.getOrElse("out",
      sys.error("--out <dir> is required"))
    val numPartitions = opts.get("partitions").map(_.toInt).getOrElse(32)
    // one Config for a pipeline run and every maintenance mode that reads it
    val cfg = KgPipeline.Config(
      numPartitions = numPartitions,
      canonicalize = !opts.contains("no-canonicalize"),
      canonLocalProbe = !opts.contains("open-vocabulary"),
      dedupMinJaccard = opts.get("dedup").map(_.toDouble),
      fuzzyAlignMinJaccard = opts.get("fuzzy").map(_.toDouble),
      fuzzyStopGramMaxDf = opts.get("fuzzy-cap").map(_.toInt),
      cosineAlignMinSim = opts.get("cosine").map(_.toDouble),
      buckets = opts.get("buckets").map { r =>
        // anchored regexes, not split: "5-" / "-5" / "a-b" all fall through
        // to the usage error instead of silently sharding to one bucket or
        // throwing a bare NumberFormatException
        val RangeRe = """(\d+)\s*-\s*(\d+)""".r
        val OneRe = """(\d+)""".r
        val (lo, hi) = r.trim match {
          case RangeRe(l, h) => (l.toInt, h.toInt)
          case OneRe(one) => (one.toInt, one.toInt)
          case _ => sys.error(s"--buckets expects lo-hi, got: $r")
        }
        require(lo >= 0 && hi < KgPipeline.UrlBuckets && lo <= hi,
          s"--buckets range must sit in 0-${KgPipeline.UrlBuckets - 1}")
        (lo to hi): Seq[Int]
      })

    val builder = SparkSession.builder()
      .appName("graft-kg-construct")
      .config("spark.sql.shuffle.partitions", numPartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit injects spark.master; only default it for bare JVM runs
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()

    // maintenance modes: operate on an existing snapshot store and exit
    if (opts.contains("compact")) {
      // rows whose canonical moved are RE-hydrated against the dims
      val v = graft.streaming.StreamingKg.compactCanonicalize(spark, outDir,
        Dims.snapshot(spark), cfg)
      println(v.map(v => s"[graft] compacted to snapshot v$v at $outDir")
        .getOrElse(s"[graft] nothing to compact at $outDir"))
      spark.stop(); return
    }
    if (opts.contains("compact-dedup")) {
      val corpus = loadPages(spark, pagesSrc)
      // competition must run over the FULL corpus the sharded runs consumed
      // (compactDedup scaladoc) — extract text when the source carries html
      val docs =
        if (corpus.columns.contains("text")) corpus.select("url", "text")
        else StageChain.extract(corpus).select("url", "text")
      val v = graft.streaming.StreamingKg.compactDedup(spark, outDir, docs,
        minJaccard = opts("compact-dedup").toDouble, cfg)
      println(v.map(v => s"[graft] dedup-compacted to snapshot v$v at $outDir")
        .getOrElse(s"[graft] nothing to compact at $outDir"))
      spark.stop(); return
    }
    if (opts.contains("redrive")) {
      // same bootstrap AND the same Config as a pipeline run:
      // redriveFailed's contract is micro-batch-identical per-page
      // semantics, so a tiered deployment passes its tiers here too —
      // silently re-driving with tier-1-only linking would commit triples
      // whose obj_canonical/obj_linked differ from the stream's
      val (dims, client) = bootstrap(spark)
      val v = graft.streaming.StreamingKg.redriveFailed(
        spark, outDir, loadPages(spark, pagesSrc), dims, client, cfg)
      println(v.map(v => s"[graft] re-drive committed snapshot v$v at $outDir")
        .getOrElse(s"[graft] no failure log to re-drive at $outDir"))
      spark.stop(); return
    }
    if (opts.contains("rewrite")) {
      val v = KgPipeline.compactStoreFiles(spark, outDir)
      println(v.map(v => s"[graft] rewrote file layout to snapshot v$v at $outDir")
        .getOrElse(s"[graft] nothing to rewrite at $outDir"))
      spark.stop(); return
    }
    if (opts.contains("expire")) {
      val (m, d) = graft.sources.SnapshotStore.expireSnapshots(
        spark, outDir, keepLast = opts("expire").toInt,
        graceMs = opts.getOrElse("grace-ms", "3600000").toLong)
      println(s"[graft] expired $m manifests, reclaimed $d data files at $outDir")
      spark.stop(); return
    }

    val pages = loadPages(spark, pagesSrc)
    val (dims, client) = bootstrap(spark)
    val v = KgPipeline.runAndCommitSnapshot(spark, pages, dims, client, outDir, cfg)
    println(s"[graft] committed snapshot v$v at $outDir")
    spark.stop()
  }

  /** Corpus loader shared by the run and maintenance modes. */
  private def loadPages(spark: SparkSession, src: String) =
    if (src.startsWith("synthetic:"))
      Pages.all(spark, src.stripPrefix("synthetic:"))
    else spark.read.parquet(src)

  /** Dim snapshot + default client, built ONCE per process (the run path
    * and --redrive share it; dims persist so the three dictionary collects
    * scan the snapshot plans once). */
  private def bootstrap(spark: SparkSession): (Dims.Snapshot, Inference.InferenceClient) = {
    val dims = Dims.snapshot(spark).persisted()
    val client = Inference.defaultClient(
      dims.stratDim.select("strat_name").collect().map(_.getString(0)),
      dims.gazetteerDim.select("name").collect().map(_.getString(0)),
      dims.mineralDim.select("mineral").collect().map(_.getString(0)))
    (dims, client)
  }

  /** Command line → option map: a valued flag maps to its value, a switch
    * to "1"; any other argument fails. */
  @annotation.tailrec
  private[kg] def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case "--pages" :: v :: rest => parse(rest, acc + ("pages" -> v))
      case "--out" :: v :: rest => parse(rest, acc + ("out" -> v))
      case "--partitions" :: v :: rest => parse(rest, acc + ("partitions" -> v))
      case "--no-canonicalize" :: rest => parse(rest, acc + ("no-canonicalize" -> "1"))
      case "--dedup" :: v :: rest => parse(rest, acc + ("dedup" -> v))
      case "--fuzzy" :: v :: rest => parse(rest, acc + ("fuzzy" -> v))
      case "--fuzzy-cap" :: v :: rest => parse(rest, acc + ("fuzzy-cap" -> v))
      case "--cosine" :: v :: rest => parse(rest, acc + ("cosine" -> v))
      case "--open-vocabulary" :: rest => parse(rest, acc + ("open-vocabulary" -> "1"))
      case "--compact" :: rest => parse(rest, acc + ("compact" -> "1"))
      case "--compact-dedup" :: v :: rest => parse(rest, acc + ("compact-dedup" -> v))
      case "--redrive" :: rest => parse(rest, acc + ("redrive" -> "1"))
      case "--rewrite" :: rest => parse(rest, acc + ("rewrite" -> "1"))
      case "--expire" :: v :: rest => parse(rest, acc + ("expire" -> v))
      case "--grace-ms" :: v :: rest => parse(rest, acc + ("grace-ms" -> v))
      case "--buckets" :: v :: rest => parse(rest, acc + ("buckets" -> v))
      case other :: _ => sys.error(s"unknown arg: $other")
    }
}
