package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat"), // near dup
    (3L, "completely different text about spark engines"),
    (4L, "spark engines text about different completely")) // same token set as 3
    .toDF("doc_id", "text")

  test("exact groups collapse identical texts") {
    val g = Dedup.exactGroups(docs).collect()
    assert(g.length === 1)
    assert(g.head.getAs[Long]("n_docs") === 2)
    assert(g.head.getAs[Long]("min_doc_id") === 0)
  }

  test("minhash: identical token sets share full signature") {
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> (0 until Dedup.MinhashK).map(i => r.getAs[String](s"h$i")))
      .toMap
    assert(sigs(0L) === sigs(1L))
    assert(sigs(3L) === sigs(4L)) // order-insensitive: same token set
    assert(sigs(0L) !== sigs(3L))
  }

  test("LSH candidates include near-dups, exclude unrelated") {
    val pairs = Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.contains((0L, 3L)))
  }

  test("simhash groups identical token distributions") {
    val g = Dedup.simhashGroups(docs).collect()
    // {0,1,2-near} and {3,4} — at minimum the exact pairs group
    val mins = g.map(_.getAs[Long]("min_doc_id")).toSet
    assert(mins.contains(0L))
    assert(mins.contains(3L))
  }

  test("jaccard: 8/10 shared distinct tokens for the near-dup pair") {
    val j = Dedup.jaccardAllPairs(docs, 0.0).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(j((0L, 1L)) === 1.0)
    assert(j((3L, 4L)) === 1.0)
    // docs 0,2: tokens {the,quick,brown,fox,jumps,over,lazy,dog|cat}: 7 of 9
    assert(math.abs(j((0L, 2L)) - 7.0 / 9.0) < 0.001)
  }

  test("n-gram jaccard is order-sensitive where token jaccard is not") {
    // docs 3 and 4 share the exact token SET but in reversed order:
    // token jaccard = 1.0, 3-gram shingle jaccard = 0 shared shingles
    val tokJ = Dedup.jaccardAllPairs(docs, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    val ngramJ = Dedup.jaccardNgram(docs, 3, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(tokJ((3L, 4L)) === 1.0)
    assert(!ngramJ.contains((3L, 4L))) // zero shared shingles -> no pair row
    assert(ngramJ((0L, 1L)) === 1.0)   // exact dup: identical shingles
    // shingle edge: doc shorter than n yields no shingles, no crash
    import spark.implicits._
    val short = Seq((0L, "one two")).toDF("doc_id", "text")
    assert(Dedup.jaccardNgram(short, 3, 0.0).collect().isEmpty)
  }

  test("candidate-restricted jaccard agrees with all-pairs on the candidate set") {
    val cands = Dedup.minhashCandidates(docs)
    val restricted = Dedup.jaccard(docs, cands, 0.0).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    val all = Dedup.jaccardAllPairs(docs, 0.0).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    val candSet = cands.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(restricted.keySet === candSet.intersect(all.keySet))
    restricted.foreach { case (k, v) => assert(v === all(k)) }
  }

  test("dedupe pipeline: candidates ⊇ verified, resolved docs = verified-pair docs, min-id keep") {
    val cands = Dedup.minhashCandidates(docs)
    val verified = Dedup.jaccard(docs, cands, 0.7)
    val resolved = Dedup.resolve(verified)

    val candSet = cands.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val verSet = verified.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(verSet.nonEmpty && verSet.subsetOf(candSet))

    val byDoc = resolved.collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))
      .toMap
    // every resolved doc appeared in a verified pair, and vice versa
    assert(byDoc.keySet === verSet.flatMap(p => Set(p._1, p._2)))
    // exact-dup pairs cluster with the min id as the single keeper
    assert(byDoc(0L)._1 === 0L && byDoc(1L)._1 === 0L)
    assert(byDoc(0L)._2 && !byDoc(1L)._2)
    assert(byDoc(3L)._1 === 3L && byDoc(4L)._1 === 3L && byDoc(3L)._2 && !byDoc(4L)._2)
  }

  test("simhash near-dup: exact pairs at hamming 0; equals brute force within pigeonhole bound") {
    val got = Dedup.simhashNearDup(docs, nBits = 32, nBlocks = 4, maxHamming = 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("hamming"))
      .toMap
    assert(got((0L, 1L)) === 0) // exact dup
    assert(got((3L, 4L)) === 0) // same token set
    // brute-force reference: every pair within hamming 3 must be found
    // (pigeonhole guarantees recall up to nBlocks-1)
    val fps = Dedup.simhashFp(docs, 32).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    val brute = (for {
      a <- fps.keys; b <- fps.keys if a < b
      h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 3
    } yield (a, b) -> h).toMap
    assert(got === brute)
  }

  test("resolve is transitive: A~B, B~C one cluster without an A~C edge") {
    import spark.implicits._
    val verified = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.resolve(verified).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))
      .toMap
    assert(got(10L) === ((10L, true)))
    assert(got(11L) === ((10L, false)))
    assert(got(12L) === ((10L, false)))
    assert(got(20L) === ((20L, true)))
    assert(got(21L) === ((20L, false)))
  }

  test("resolve localProbe=false: open-vocabulary path skips the driver probe, same clusters") {
    import spark.implicits._
    val verified = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val probed = Dedup.resolve(verified).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val open = Dedup.resolve(verified, localProbe = false)
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // distributed result (checkpointed min-label rounds), never a driver
    // LocalRelation => the small-graph collect did not run
    assert(open.queryExecution.optimizedPlan.collectLeaves()
      .forall(!_.isInstanceOf[LocalRelation]))
    assert(open.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet === probed)
  }

  test("bucket-local pair generation equals a bucket self-join on a hot bucket") {
    // round-7 internals change: candidate pairs come from the bucket-local
    // pair kernel (bucketPairs) instead of a bucket self-join. Pin the pair
    // arithmetic on a bucket of five identical docs (all bands collide):
    // exactly C(5,2) ordered pairs, each with doc_a < doc_b, none dropped,
    // none duplicated across the two bands.
    import spark.implicits._
    val five = (0L until 5L).map(i => (i, "same text in every doc")).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(five).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val expected = (for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)).toSet
    assert(pairs.length === expected.size) // distinct across bands
    assert(pairs.toSet === expected)
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("bucketPairs equals the a < b bucket self-join pair multiset (seeded property)") {
    // the pair kernel behind all four pair generators, pinned against its
    // definition over generated buckets keyed by one or by two columns:
    // each (a, b) with a < b exactly once per bucket, nothing else
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    // small value range so duplicate rows and negatives occur
    val bucket = Gen.frequency(
      1 -> Gen.const(List.empty[Long]),
      1 -> Gen.choose(-3L, 3L).map(List(_)),
      4 -> Gen.listOf(Gen.choose(-12L, 12L)))
    // no shrinking: every shrink step would run Spark jobs
    val prop = Prop.forAllNoShrink(Gen.nonEmptyListOf(bucket), Gen.oneOf(1, 2)) { (buckets, nKeys) =>
      // an empty bucket is one null row, which the kernel skips
      val rows = buckets.zipWithIndex.flatMap {
        case (Nil, g) => Seq((g, Option.empty[Long]))
        case (xs, g) => xs.map(x => (g, Option(x)))
      }
      // two columns (g % 3, g / 3): a kernel keying on either alone
      // would merge buckets and emit extra pairs
      val key = if (nKeys == 1) Seq(col("g")) else Seq(col("g") % 3, col("g").divide(3).cast("int"))
      val got = Dedup.bucketPairs(rows.toDF("g", "x"), key, col("x")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val naive = buckets.flatMap { xs =>
        val s = xs.distinct
        for (a <- s; b <- s if a < b) yield (a, b)
      }
      got.sorted == naive.sorted
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(20).withMaxSize(30).withWorkers(1)
      .withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("bucketPairs on a hot bucket: split blocks give the self-join set, one exchange, no join") {
    // one bucket of 2.5 x PairBlock distinct items (three blocks, the last
    // partial), a second copy of 50 of them and a null: every distinct
    // pair exactly once, a < b, as the naive bucket self-join finds it
    val n = Dedup.PairBlock * 5 / 2
    val items = (0 until n).map(i => Option((i * 37L) % n - 300)) // a permutation
    val df = (items ++ items.take(50) :+ None).map(x => (7, x)).toDF("g", "x")
    val pairs = Dedup.bucketPairs(df, Seq(col("g")), col("x"))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === n * (n - 1) / 2)
    assert(got.forall { case (a, b) => a < b })
    val naive = df.as("l").join(df.as("r"), col("l.g") === col("r.g") && col("l.x") < col("r.x"))
      .select(col("l.x"), col("r.x")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet === naive.toSet)
    // one exchange on the bucket feeds both windows and the aggregation,
    // so the subtree that makes the buckets runs once
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val plan = nodes(pairs.queryExecution.executedPlan)
    assert(plan.count(_.isInstanceOf[ShuffleExchangeLike]) === 1, plan.mkString("\n"))
    assert(!plan.exists(_.isInstanceOf[BaseJoinExec]), plan.mkString("\n"))
  }

  test("candidate-restricted jaccard drops zero-intersection candidates like the token join did") {
    // a candidate pair whose token sets are disjoint produced no row under
    // the former inner token join; the array_intersect form must preserve
    // that even at minJaccard = 0.0 (inter > 0 guard).
    import spark.implicits._
    val d = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    assert(Dedup.jaccard(d, cand, 0.0).collect().isEmpty)
  }

  test("simhash near-dup rejects block widths that would void the recall bound") {
    import spark.implicits._
    val d = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(d, nBits = 30, nBlocks = 4) // 30 % 4 != 0
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(d, nBits = 32, nBlocks = 4, maxHamming = 4)
    }
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = {
    // deterministic vectors: cluster c direction + small per-id wiggle
    val rows = for (id <- 0L until 40L) yield {
      val c = (id % 4).toInt
      val base = Array.fill(8)(0.0)
      base(c) = 1.0
      base((c + 4) % 8) = 0.1 + (id % 5) * 0.01
      (id, base.map(_.toFloat).toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<double>"))
  }

  test("brute top-k returns same-cluster vectors first") {
    val top = Similarity.bruteTopK(embs, 0, 5).collect()
    assert(top.length === 5)
    // query 0 is cluster 0; its top hits are ids ≡ 0 (mod 4)
    assert(top.map(_.getAs[Long]("vec_id")).forall(_ % 4 == 0))
    val sims = top.map(_.getAs[Double]("cos_sim"))
    assert(sims === sims.sorted.reverse)
  }

  test("ivf top-k equals brute-force when the right cluster is probed") {
    val brute = Similarity.bruteTopK(embs, 0, 5).collect()
      .map(_.getAs[Long]("vec_id")).toSeq
    val ivf = Similarity.ivfTopK(embs, 0, 5, nprobe = 2).collect()
      .map(_.getAs[Long]("vec_id")).toSeq
    assert(ivf === brute)
  }

  test("sampled centroid build preserves cluster assignment for probing") {
    // at 10^12 rows centroids come from a deterministic sample; on the
    // well-separated test clusters the probed top-k must be unchanged
    val full = Similarity.ivfTopK(embs, 0, 5, nprobe = 2).collect()
      .map(_.getAs[Long]("vec_id")).toSeq
    val sampledCentroids = Similarity.centroids(embs, samplePermille = 500)
    assert(sampledCentroids.count() === 4) // every cluster still present
    val labels = sampledCentroids.collect().map(_.getAs[Int]("label")).toSet
    assert(labels === Set(0, 1, 2, 3))
    assert(full.nonEmpty)
  }

  test("kmeans: deterministic Lloyd recovers the planted clusters") {
    val assign = Similarity.kmeans(embs, k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assign.size === 40)
    // planted structure: id % 4 decides the dominant axis; after 2 rounds
    // every member of a planted cluster shares one centroid
    (0 until 4).foreach { c =>
      val members = (0L until 40L).filter(_ % 4 == c).map(assign)
      assert(members.distinct.size === 1, s"cluster $c split: $members")
    }
    assert((0 until 4).map(c => assign(c.toLong)).distinct.size === 4)
    // deterministic: a second run is identical
    val again = Similarity.kmeans(embs, k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again === assign)
  }

  test("kmeans is partitioning-invariant: same assignment at any parallelism") {
    val base = Similarity.kmeans(embs, k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val repart = Similarity.kmeans(embs.repartition(7), k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // round-6 centroid pinning makes the Lloyd rounds reproducible under
    // any partial-aggregation order — the cross-engine (DuckDB) contract
    assert(repart === base)
  }

  test("kmeans init tolerates sparse/hashed vec_ids (k smallest, rank-labelled)") {
    val shifted = embs.withColumn("vec_id", col("vec_id") * 1000 + 123456789L)
    val assign = Similarity.kmeans(shifted, k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assign.size === 40)
    assert(assign.values.toSet.size === 4) // k real clusters, not silently empty
    (0 until 4).foreach { c =>
      val members = (0L until 40L).filter(_ % 4 == c)
        .map(i => assign(i * 1000 + 123456789L))
      assert(members.distinct.size === 1, s"cluster $c split: $members")
    }
  }

  test("sampled codebook training still recovers the planted clusters") {
    val cents = Similarity.kmeansCentroids(embs, k = 4, iters = 2,
      samplePermille = 500)
    val assign = Similarity.kmeansAssign(embs, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 4).foreach { c =>
      val members = (0L until 40L).filter(_ % 4 == c).map(assign)
      assert(members.distinct.size === 1, s"cluster $c split under sampling")
    }
  }

  test("ivf over trained codebook equals brute force when every cell is probed") {
    val brute = Similarity.bruteTopK(embs, 0, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val ivf = Similarity.ivfTopKKmeans(embs, 0, 10, nprobe = 4,
        kClusters = 4, iters = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(ivf.toSeq === brute.toSeq)
  }

  test("plan discipline: similarity/dedup gate queries never plan a cartesian") {
    // regression guard: the ONLY nested-loop joins these operators may plan
    // are broadcasts of bounded-by-construction tables (k centroids, the
    // 8-row hyperplane anchors, the 1-row query vector); an unbounded
    // CartesianProduct anywhere means a candidate equi-join key broke.
    val names = Seq("sim_kmeans", "sim_ivf_kmeans", "sim_cosine_topk",
      "sim_ivf_topk", "dedup_embedding", "dedup_minhash_lsh",
      "dedup_simhash_near", "dedup_resolve")
    names.foreach { n =>
      val df = graft.OpsQueries.queries(n)(spark, "/root/testdata/sf0.001")
      df.count() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$n planned a cartesian:\n" + plan.linesIterator.take(30).mkString("\n"))
    }
  }

  test("spread never executes its input: a shuffled frame comes back as is") {
    // asking a frame with an exchange for its partition count would run its
    // upstream stages under AQE, only for the repartition to discard them
    val grouped = Seq((1L, "a"), (2L, "b"), (1L, "c")).toDF("k", "v")
      .groupBy("k").agg(count(lit(1)).as("n"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "spread"))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("spread", "Tables.spread probe")
    try {
      val out = graft.Tables.spread(spark, grouped, "k")
      drainBus()
      assert(jobs.get === 0)
      assert(out eq grouped)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("LSH near-dup: buckets split sign-opposed clusters, verify stage exact") {
    // two antipodal clusters: +e0-ish and -e0-ish — hyperplane signs
    // separate them, so no cross-cluster candidate can survive
    val rows = for (id <- 0L until 24L) yield {
      val sign = if (id % 2 == 0) 1.0 else -1.0
      val v = Array.fill(8)(0.0)
      v(0) = sign
      v(1 + (id % 7).toInt) = 0.05 * sign
      (id, v.toSeq)
    }
    import spark.implicits._
    val e = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDup(e, numHyperplanes = 4, bands = 2, minCos = 0.9)
      .collect()
    assert(pairs.nonEmpty)
    // only same-sign (same-cluster) pairs
    assert(pairs.forall { r =>
      r.getAs[Long]("id_a") % 2 === r.getAs[Long]("id_b") % 2 })
    // verification stage is exact cosine
    assert(pairs.forall(_.getAs[Double]("cos_sim") >= 0.9))
  }

  test("LSH near-dup rejects hyperplane counts that do not split into equal bands") {
    // 8 / 3 would silently build 4 bands of 2 bits; 2 / 4 divides by zero
    intercept[IllegalArgumentException] {
      Similarity.lshNearDup(embs, numHyperplanes = 8, bands = 3, minCos = 0.9)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshNearDup(embs, numHyperplanes = 2, bands = 4, minCos = 0.9)
    }
  }

  test("kmeansAssign equals the crossJoin argmin over (dist, cluster), ties included (seeded)") {
    // array_min over the folded centroid array against its definition: a
    // k-way crossJoin + groupBy(vec_id) min of the (dist, cluster) struct.
    // Small integer coordinates and duplicated centroids force exact ties,
    // which both forms must break on the smaller cluster id.
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    val vec = Gen.listOfN(3, Gen.choose(-2, 2).map(_.toDouble))
    val cents = for {
      base <- Gen.nonEmptyListOf(vec)
      dups <- Gen.someOf(base)
    } yield base ++ dups
    // no shrinking: every shrink step would run Spark jobs
    val prop = Prop.forAllNoShrink(Gen.nonEmptyListOf(vec), cents) { (vs, cs) =>
      val e = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
      val c = cs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("cluster", "centroid")
      val dist = round(Similarity.dot(col("embedding"), col("embedding"))
        - lit(2.0) * Similarity.dot(col("embedding"), col("centroid"))
        + Similarity.dot(col("centroid"), col("centroid")), 6)
      val naive = e.crossJoin(c)
        .groupBy("vec_id").agg(min(struct(dist.as("dist"), col("cluster"))).as("m"))
        .select(col("vec_id"), col("m.cluster"), col("m.dist"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      rows(Similarity.kmeansAssign(e, c)) == rows(naive)
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(15).withMaxSize(12).withWorkers(1)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, res.status.toString)
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("as-of semantics: latest <=, exact-ts match, no-prior null, tie by tieCol") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L),  // after r1+r2 -> r2
      (2L, ts("2024-01-01 08:00:00"), 7L),  // exactly at r1 -> r1 (<=)
      (3L, ts("2024-01-01 07:00:00"), 7L),  // before any right -> null
      (4L, ts("2024-01-01 12:00:00"), 8L))  // other user, tie-broken right
      .toDF("event_id", "ts", "user_id")
    val right = Seq(
      (7L, ts("2024-01-01 08:00:00"), 100L, 1.0),
      (7L, ts("2024-01-01 09:00:00"), 101L, 2.0),
      (8L, ts("2024-01-01 11:00:00"), 103L, 9.0), // same ts, higher tie id
      (8L, ts("2024-01-01 11:00:00"), 102L, 5.0)) // min event_id wins
      .toDF("user_id", "ts", "event_id", "v")
    val got = AsOfJoin.leftAsOf(left, right, "user_id", "ts", "event_id", Seq("v"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)).toMap
    assert(got(1L) === Some(2.0))
    assert(got(2L) === Some(1.0))
    assert(got(3L) === None)
    assert(got(4L) === Some(5.0))
  }

  test("property: as-of equals brute force on seeded random events") {
    val rnd = new scala.util.Random(7)
    def randTs() = ts(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00")
    val left = (0 until 120).map(i => (i.toLong, randTs(), rnd.nextInt(5).toLong))
    val right = (0 until 80).map(i => (rnd.nextInt(5).toLong, randTs(), (1000 + i).toLong, rnd.nextInt(100).toDouble))
    val got = AsOfJoin.leftAsOf(
        left.toDF("event_id", "ts", "user_id"),
        right.toDF("user_id", "ts", "event_id", "v"),
        "user_id", "ts", "event_id", Seq("v"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)).toMap
    // brute force: min-event-id right row per (user, ts), then latest <= ts
    val dedupedRight = right.groupBy(r => (r._1, r._2)).values
      .map(_.minBy(_._3)).toSeq
    left.foreach { case (id, t, u) =>
      val want = dedupedRight.filter(r => r._1 == u && !r._2.after(t))
        .sortBy(_._2.getTime).lastOption.map(_._4)
      assert(got(id) === want, s"event $id")
    }
  }

  test("plan shape: one key shuffle + window, no range-exploded join") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), 7L)).toDF("event_id", "ts", "user_id")
    val right = Seq((7L, ts("2024-01-01 08:00:00"), 9L, 1.0)).toDF("user_id", "ts", "event_id", "v")
    val plan = AsOfJoin.leftAsOf(left, right, "user_id", "ts", "event_id", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan) // union+window, not a join operator
    assert(plan.contains("Window"), plan)
  }
}

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("bin-bucketed range join equals the exact predicate semantics") {
    val points = Seq(
      (1L, ts("2024-01-01 10:05:00"), 7L), // inside r1
      (2L, ts("2024-01-01 10:10:00"), 7L), // exactly at r1 end (inclusive)
      (3L, ts("2024-01-01 10:11:00"), 7L), // just outside
      (4L, ts("2024-01-01 10:05:00"), 8L)) // wrong user
      .toDF("pid", "ts", "user_id")
    val ranges = Seq(
      (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 7L),
      (11L, ts("2024-01-01 10:04:00"), ts("2024-01-01 10:06:00"), 7L))
      .toDF("rid", "w_start", "w_end", "user_id")
    val got = RangeJoin.pointsInRanges(points, ranges, "user_id",
        "ts", "w_start", "w_end", binSeconds = 300)
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L), (1L, 11L), (2L, 10L)))
  }

  test("property: bin-bucketed range join equals brute force on seeded data") {
    val rnd = new scala.util.Random(11)
    def randTs() = ts(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00")
    val points = (0 until 150).map(i => (i.toLong, randTs(), rnd.nextInt(4).toLong))
    val ranges = (0 until 60).map { i =>
      val start = randTs()
      (100L + i, start, new java.sql.Timestamp(start.getTime + (1 + rnd.nextInt(40)) * 60000L),
        rnd.nextInt(4).toLong)
    }
    val got = RangeJoin.pointsInRanges(
        points.toDF("pid", "ts", "user_id"),
        ranges.toDF("rid", "w_start", "w_end", "user_id"),
        "user_id", "ts", "w_start", "w_end", binSeconds = 300)
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (pid, t, pu) <- points
      (rid, s, e, ru) <- ranges
      if pu == ru && !t.before(s) && !t.after(e)
    } yield (pid, rid)).toSet
    assert(got === want)
  }

  test("fan-out guard: a bin width far below the range width fails fast, not OOM") {
    import spark.implicits._
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    val pts = Seq((1L, t("2024-01-01 00:00:30"), 7L)).toDF("user_id", "ts", "pt_id")
    val rng = Seq((1L, 9L, t("2024-01-01 00:00:00"), t("2024-01-02 00:00:00")))
      .toDF("user_id", "r_id", "w_start", "w_end") // 86400 one-second bins
    val e = intercept[Exception] {
      RangeJoin.pointsInRanges(pts, rng, "user_id", "ts", "w_start", "w_end",
        binSeconds = 1, maxBinsPerRange = 1000).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("range join fan-out")), e.getMessage)
    // and a sane configuration on the same data still answers
    val ok = RangeJoin.pointsInRanges(pts, rng, "user_id", "ts", "w_start", "w_end",
      binSeconds = 86400).collect()
    assert(ok.map(_.getAs[Long]("pt_id")).toSeq === Seq(7L))
  }

  test("plan: equi-join on (key, bin), no nested-loop/cartesian") {
    val points = Seq((1L, ts("2024-01-01 10:05:00"), 7L)).toDF("pid", "ts", "user_id")
    val ranges = Seq((10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 7L))
      .toDF("rid", "w_start", "w_end", "user_id")
    val plan = RangeJoin.pointsInRanges(points, ranges, "user_id",
        "ts", "w_start", "w_end", 300)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the cat is in the house and the dog is of note", "en"),
    (1L, "wort wort wort ohne stopp woerter hier", "de"))
    .toDF("doc_id", "text", "lang")

  test("langid: stopword density separates en from und") {
    val got = TextOps.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(got(0L) === "en")
    assert(got(1L) === "und")
  }

  test("multi-language id: argmax density picks the right profile") {
    val multi = Seq(
      (10L, "der Hund ist nicht in das Haus und der Garten", "de"),
      (11L, "le chat est dans la maison et le jardin est grand", "fr"),
      (12L, "el perro y el gato es en los jardines y las casas", "es"),
      (13L, "the cat is in the house and the dog is of note", "en"),
      (14L, "zzz qqq xxx yyy www vvv", "und"))
      .toDF("doc_id", "text", "lang")
    val got = TextOps.langIdMulti(multi).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(got(10L) === "de")
    assert(got(11L) === "fr")
    assert(got(12L) === "es")
    assert(got(13L) === "en")
    assert(got(14L) === "und")
  }

  test("token counts: whitespace vs distinct") {
    val r = TextOps.tokenCounts(docs).filter(col("doc_id") === 0).collect().head
    assert(r.getAs[Int]("ws_tokens") === 12)
    assert(r.getAs[Int]("distinct_tokens") === 9)
  }

  test("quality score bounded in [0,1]") {
    val scores = TextOps.quality(docs).collect().map(_.getAs[Double]("quality_score"))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("fingerprint is whitespace/case-insensitive") {
    val d2 = Seq((0L, "The  Cat"), (1L, "the cat")).toDF("doc_id", "text")
    val fps = TextOps.fingerprint(d2).collect().map(_.getAs[String]("fingerprint"))
    assert(fps(0) === fps(1))
  }

  test("qualityLang one-pass equals quality joined with langId") {
    // round-7 internals change: the composed quality+language gate runs in
    // one select; pin row equality against the two-operator join form.
    val joined = TextOps.quality(docs)
      .join(TextOps.langId(docs).select("doc_id", "predicted_lang"), "doc_id")
      .select("doc_id", "quality_score", "n_tok", "predicted_lang")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3))).toSet
    val onePass = TextOps.qualityLang(docs)
      .select("doc_id", "quality_score", "n_tok", "predicted_lang")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3))).toSet
    assert(onePass === joined)
  }

  test("qualityLang equals quality joined 1:1 with langId on generated texts (seeded property)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.rng.Seed
    // stopwords (also glued to punctuation or to each other, where \b
    // decides), other words in mixed case, punctuation, ragged spacing
    val token = Gen.frequency(
      3 -> Gen.oneOf(TextOps.EnStopwords),
      3 -> Gen.oneOf("cat", "The", "Wort", "formation", "Sauk", "x", "AND", "i18n"),
      2 -> Gen.oneOf(".", ",", "!", "--", "(", ")", "42"))
    val text = for {
      toks <- Gen.nonEmptyListOf(token)
      seps <- Gen.listOfN(toks.size, Gen.oneOf(" ", " ", "  ", "", ", "))
    } yield toks.head + toks.tail.zip(seps).map { case (t, sep) => sep + t }.mkString
    val cols = Seq("doc_id", "n_chars", "n_tok", "mean_tok_len", "stop_ratio",
      "alpha_ratio", "quality_score", "predicted_lang")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    // no shrinking: every shrink step would run Spark jobs
    val prop = Prop.forAllNoShrink(Gen.nonEmptyListOf(text)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") }
        .toDF("doc_id", "text", "lang")
      val joined = TextOps.quality(docs)
        .join(TextOps.langId(docs).select("doc_id", "predicted_lang"), "doc_id")
      rows(TextOps.qualityLang(docs)) == rows(joined)
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(20).withMaxSize(30).withWorkers(1)
      .withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("stub decode is deterministic and batch-shaped") {
    val media = Seq((0L, "hello world".getBytes("UTF-8")),
      (1L, Array.empty[Byte])).toDF("doc_id", "payload")
    val got = Multimodal.decode(media).collect().sortBy(_.doc_id)
    assert(got(0).width === 16 + 'h')
    assert(got(0).height === 16 + 'e')
    assert(got(0).frames === 1)
    assert(got(1).width === 16 && got(1).height === 16 && got(1).mean_byte === 0.0)
    // determinism
    val again = Multimodal.decode(media).collect().sortBy(_.doc_id)
    assert(got.toSeq === again.toSeq)
  }

  test("frame sampling: evenly spaced indices, bounded fan-out, distinct sigs") {
    // 5 "frames" (18k bytes), sample k=3 -> indices 0, 2, 4
    val big = Array.tabulate(18000)(i => (i % 251).toByte)
    val media = Seq((1L, big)).toDF("doc_id", "payload")
    val got = Multimodal.frameSample(media, k = 3).collect().sortBy(_.frame_idx)
    assert(got.map(_.frame_idx).toSeq === Seq(0, 2, 4))
    // different frame content -> different signatures; short last frame ok
    assert(got.map(_.frame_sig).distinct.length === 3)
    // determinism
    val again = Multimodal.frameSample(media, k = 3).collect().sortBy(_.frame_idx)
    assert(got.toSeq === again.toSeq)
  }

  test("features: aspect-preserving resize + fixed-dim embedding") {
    val media = Seq((1L, Array.tabulate(64)(_.toByte))).toDF("doc_id", "payload")
    val f = Multimodal.features(media, maxSide = 50, dim = 16).collect().head
    assert(f.embedding.length === 16)
    assert(f.embedding.forall(v => v >= 0.0f && v <= 1.0f))
    // aspect ratio preserved within rounding
    assert(math.max(f.resized_w, f.resized_h) <= 50)
    val ratio = f.width.toDouble / f.height
    val rratio = f.resized_w.toDouble / f.resized_h
    assert(math.abs(ratio - rratio) < 0.1)
  }

  test("byte metadata matches payload bytes") {
    val media = Seq((0L, "abc".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val r = Multimodal.byteMeta(media).collect().head
    assert(r.getAs[Int]("n_bytes") === 3)
    assert(r.getAs[String]("payload_sha") ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(r.getAs[Int]("first_byte") === 'a'.toInt)
  }
}
