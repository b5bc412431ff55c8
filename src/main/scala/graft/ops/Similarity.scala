package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: the brute-force path is the correctness baseline (one pass,
  * no shuffle besides the final top-k); the IVF paths are the 10^12-row
  * shape — a coarse quantizer splits the corpus into clusters, the query
  * probes only `nprobe` clusters, so the scan touches nprobe/k of the data.
  * Two quantizers: the corpus `label` column ([[ivfTopK]], zero training
  * cost when a partitioning label already exists) and a TRAINED
  * deterministic Lloyd's k-means codebook ([[kmeansCentroids]] /
  * [[ivfTopKKmeans]], engine-portable enough that the DuckDB gate oracle
  * reproduces the training rounds).
  *
  * Dot products and cosines are native codegen'd Catalyst expressions
  * (graft.plans.Expressions) — single primitive loops, no UDF, bit-identical
  * to the `zip_with`+`aggregate` HOF forms they replaced (parity-tested).
  */
object Similarity {

  /** Dot product as a Column — the native codegen'd Catalyst expression
    * (graft.plans.Expressions.DotProductExpr): one primitive loop in the
    * generated code, no intermediate zip array. Identical semantics and
    * fp-fold order to `aggregate(zip_with(a,b,*), 0d, +)` (parity-tested
    * in ExpressionsSpec), which remains below as the composed-HOF fallback
    * for engines without the extension. */
  def dot(a: Column, b: Column): Column =
    graft.plans.Expressions.dot_product(a, b)

  /** Composed higher-order-function form of [[dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Single-pass native cosine similarity (graft.plans.Expressions
    * .CosineSimExpr): one loop accumulating dot + both norms instead of
    * three array traversals. Bit-identical to
    * dot(a,b)/(norm(a)*norm(b)) — parity-tested in ExpressionsSpec — so
    * oracles and the cached-norm form interchange freely. */
  def cos(a: Column, b: Column): Column =
    graft.plans.Expressions.cosine_sim(a, b)

  /** Cosine top-k of `embeddings` vs the row with vec_id = queryId.
    * Output: (vec_id, cos_sim rounded) ordered desc. */
  def bruteTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q"))
    // spread ONLY the corpus side (the per-row cosine fan-out is the
    // compute); the 1-row query subtree reads the raw scan
    graft.Tables.spread(embeddings.sparkSession,
        embeddings.filter(col("vec_id") =!= queryId), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cos(col("embedding"), col("q")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(k)
  }

  /** Centroid table of the coarse quantizer: avg vector per cluster.
    * `samplePermille` < 1000 computes centroids from a deterministic
    * hash-keyed sample of the corpus — the 10^12-row path, where
    * posexploding every vector for an average is needless (centroid
    * estimates converge long before full coverage; the sample key is a
    * content hash so results are reproducible across runs/engines). */
  def centroids(embeddings: DataFrame, samplePermille: Int = 1000): DataFrame = {
    val base =
      if (samplePermille >= 1000) embeddings
      else embeddings.filter(pmod(xxhash64(col("vec_id")), lit(1000)) < samplePermille)
    val dim = base
      .select(posexplode(col("embedding")).as(Seq("pos", "v")), col("label"))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v")).as("c"))
    dim.groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), transform(col("pc"), x => x.getField("c")).as("centroid"))
  }

  /** IVF-style search: probe the `nprobe` closest centroids, scan only
    * their clusters, return top-k by cosine. */
  def ivfTopK(embeddings: DataFrame, queryId: Long, k: Int, nprobe: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q"))
    val probed = centroids(embeddings)
      .crossJoin(broadcast(q))
      .select(col("label"),
        round(cos(col("centroid"), col("q")), 4).as("c_sim"))
      .orderBy(desc("c_sim"), col("label"))
      .limit(nprobe)
      .select("label")
    embeddings.filter(col("vec_id") =!= queryId)
      .join(broadcast(probed), "label") // cluster pruning: only probed cells scanned
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cos(col("embedding"), col("q")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(k)
  }

  // --- deterministic k-means (trained IVF codebook) ------------------------

  /** Squared-L2 distance between two embedding columns, rounded to 6
    * decimals — the rounding pins cross-engine fp drift so argmin
    * assignments are reproducible in any engine (same rationale as the
    * cos_sim round(4) contract). */
  private def sqDist(e: Column, c: Column): Column =
    round(dot(e, e) - lit(2.0) * dot(e, c) + dot(c, c), 6)

  /** Nearest-centroid assignment: (vec_id, cluster, dist); argmin over
    * squared L2 with cluster-id tie-break (min over the (dist, cluster)
    * struct — lexicographic, deterministic). */
  def kmeansAssign(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    assignCarry(embeddings, centroids).select("vec_id", "cluster", "dist")

  /** Assignment kernel: the k-row centroid table is folded into ONE array
    * and the argmin is an array_min over per-centroid (dist, cluster)
    * structs — a NARROW map over the corpus. The former k-way crossJoin +
    * groupBy(vec_id) shuffled k rows per vector and re-merged them; this
    * shuffles nothing (the only exchange left is the 1-row centroid-array
    * broadcast, bounded by construction). min-struct semantics and the
    * rounded distance expression are identical, so assignments are
    * bit-equal (OpsSpec pins them). The embedding rides along so callers
    * (the Lloyd update, IVF scan) need no join-back to re-attach it. */
  private def assignCarry(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val centsArr = centroids
      .agg(sort_array(collect_list(struct(col("cluster"), col("centroid")))).as("cs"))
    embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centsArr))
      .select(col("vec_id"), col("embedding"),
        array_min(transform(col("cs"), c =>
          struct(sqDist(col("embedding"), c.getField("centroid")).as("dist"),
            c.getField("cluster").as("cluster")))).as("m"))
      .select(col("vec_id"), col("embedding"),
        col("m.cluster").as("cluster"), col("m.dist").as("dist"))
  }

  /** Deterministic Lloyd's k-means over the embedding column — a TRAINED
    * coarse quantizer for IVF instead of the `label` stand-in. Fully
    * deterministic and engine-portable (reproducible by the DuckDB oracle):
    * init = the embeddings of the k smallest vec_ids; `iters` full Lloyd
    * rounds; centroid components rounded to 6 decimals per round; empty
    * clusters simply vanish (standard Lloyd behavior). Expressed as a
    * DataFrame loop like the CC rounds — per-round localCheckpoint
    * truncates lineage so Catalyst never re-analyzes a growing plan; at
    * 10^12 rows the update is one posexplode shuffle keyed on
    * (cluster, pos), map-side combined, per round. */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int,
                      samplePermille: Int = 1000): DataFrame = {
    // Deterministic init: the k SMALLEST vec_ids (not `vec_id < k`, which
    // silently yields fewer/zero centroids when ids are sparse or hashed —
    // e.g. xxhash64-derived doc ids), cluster id = rank among those k.
    val e0 = embeddings.select(col("vec_id"), col("embedding"))
    val init = e0.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x, 6)).as("centroid"))
    val initRanked = init
      .withColumn("cluster", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1)
        .cast("int")) // k-row frame: the single-partition window is bounded
    // 10^12-row path: train the codebook on a deterministic hash-keyed
    // sample (same knob as [[centroids]]) — Lloyd converges long before
    // full coverage, and the per-round posexplode shuffle shrinks by the
    // sample ratio. Init points always stay in the training set; assignment
    // of the FULL corpus still uses every row.
    // the sampled training set is consumed twice per Lloyd round (assign +
    // centroid update) and its lineage carries the init sort/join/dedup —
    // materialize it ONCE so rounds never re-scan the full corpus
    val e =
      if (samplePermille >= 1000) e0
      else initRanked.select(col("vec_id")).join(e0, "vec_id")
        .unionByName(e0.filter(pmod(xxhash64(col("vec_id")), lit(1000)) < samplePermille))
        .dropDuplicates("vec_id")
        .localCheckpoint(true)
    var cents = initRanked.select("cluster", "centroid")
    for (i <- 1 to iters) {
      // assignCarry keeps the embedding on the assigned row, so the
      // centroid update needs no join-back against the corpus
      val assigned = assignCarry(e, cents)
      val dim = assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos").agg(round(avg(col("v")), 6).as("c"))
      cents = dim.groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cluster"), transform(col("pc"), x => x.getField("c")).as("centroid"))
      // Lineage truncation on an INTERVAL, not per round (the standard
      // iterative-training checkpoint knob): each eager localCheckpoint is
      // a driver action — a full scheduling round-trip per Lloyd round —
      // while the per-round plan only grows by one assign+agg layer. Short
      // trainings (the gates run iters = 2) now fuse into a single job;
      // deep trainings still truncate every KmeansCheckpointEvery rounds so
      // Catalyst never re-analyzes an unbounded plan. Values are
      // unchanged: the checkpoint sits AFTER the centroid aggregation, so
      // the aggregation's plan (and its fp fold order) is identical with
      // or without it.
      if (i % KmeansCheckpointEvery == 0 && i < iters) cents = cents.localCheckpoint(true)
    }
    cents
  }

  /** Lloyd rounds between lineage truncations in [[kmeansCentroids]]. */
  private val KmeansCheckpointEvery = 4

  /** Final k-means cluster assignment after `iters` Lloyd rounds. */
  def kmeans(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansAssign(embeddings, kmeansCentroids(embeddings, k, iters))
      .select("vec_id", "cluster")

  /** IVF search over the TRAINED k-means codebook: probe the `nprobe`
    * centroids nearest the query (squared L2), scan only their clusters,
    * return top-k by cosine — the same probe-then-scan pruning as
    * [[ivfTopK]] but with a real trained quantizer instead of the corpus
    * label column. */
  def ivfTopKKmeans(embeddings: DataFrame, queryId: Long, k: Int, nprobe: Int,
                    kClusters: Int, iters: Int): DataFrame = {
    // the trained codebook is consumed twice below (probe ranking + full
    // assignment) — materialize the k-row table once so the Lloyd subtree
    // is not replayed per consumer
    val cents = kmeansCentroids(embeddings, kClusters, iters).localCheckpoint(true)
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q"))
    val probed = cents.crossJoin(broadcast(q))
      .select(col("cluster"), sqDist(col("centroid"), col("q")).as("d"))
      .orderBy(col("d"), col("cluster"))
      .limit(nprobe)
      .select("cluster")
    assignCarry(embeddings, cents) // embedding carried: no corpus join-back
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(probed), "cluster") // cluster pruning: only probed cells scanned
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cluster"),
        round(cos(col("embedding"), col("q")), 4).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(k)
  }

  /** Embedding near-duplicate pairs via random-hyperplane LSH — the
    * 10^12-row shape: no all-pairs join anywhere in the plan.
    *
    *  1. signature: bit h = sign(v . hyperplane_h). Hyperplanes are the
    *     first `numHyperplanes` corpus vectors (deterministic and
    *     reproducible in any engine; a production run would use seeded
    *     Gaussian planes — only the anchor table changes).
    *  2. banding: the signature splits into `bands` equal bit-groups
    *     (`numHyperplanes` must divide evenly); vectors sharing ANY band's
    *     bit-pattern become candidates — the pairs of each
    *     (band, band_sig) bucket by Dedup.bucketPairs, exactly the
    *     MinHash-LSH trick.
    *  3. verify: exact cosine >= minCos on candidates only.
    *
    * The only crossJoin is against the broadcast `numHyperplanes`-row
    * anchor table (bounded by construction). */
  def lshNearDup(embeddings: DataFrame, numHyperplanes: Int, bands: Int,
                 minCos: Double): DataFrame = {
    require(numHyperplanes > 0 && bands > 0 && numHyperplanes % bands == 0,
      s"lshNearDup needs numHyperplanes > 0 divisible by bands, got ($numHyperplanes, $bands)")
    val rows = numHyperplanes / bands
    val e = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    // spread ONLY the signature side — the numHyperplanes dot products per
    // vector are the per-row compute worth parallelizing. The anchor
    // subtree (numHyperplanes rows) and the two verification attachment
    // sides become BROADCAST builds, where a pre-broadcast exchange is
    // pure overhead (round-7 plan audit: 3 of 4 spread exchanges fed an
    // 8-row aggregate or a broadcast build).
    val eSig = graft.Tables.spread(e.sparkSession, e, "vec_id")
    // Anchor table folded into ONE sorted array (h_id order — the order the
    // former array_sort(collect_list) established per group), broadcast as
    // a 1-row frame. Signatures are then a NARROW map per vector: for each
    // band present among the anchors, concat the sign-bits of that band's
    // anchors — no per-(vector, anchor) fan-out, no groupBy(vec_id, band)
    // exchange. Bit and band expressions are identical to the exploded
    // form, so signatures (and the candidate pair set) are unchanged.
    val anchorsArr = e.filter(col("vec_id") < numHyperplanes)
      .agg(sort_array(collect_list(
        struct(col("vec_id").as("h_id"), col("embedding").as("hyper")))).as("anch"))
    def bandOf(h: Column): Column = (h / rows).cast("int")
    val bandList = array_distinct(transform(col("anch"),
      a => bandOf(a.getField("h_id"))))
    val sigArr = transform(bandList, b =>
      struct(b.as("band"),
        array_join(transform(
          filter(col("anch"), x => bandOf(x.getField("h_id")) === b),
          x => when(dot(col("embedding"), x.getField("hyper")) >= 0, lit("1"))
            .otherwise(lit("0"))), "").as("band_sig")))
    val sigs = eSig.crossJoin(broadcast(anchorsArr))
      .select(col("vec_id"), explode(sigArr).as("bs"))
    // candidates from the shared pair kernel, not a signature self-join
    // (which evaluated the signature subtree once per side)
    Dedup.bucketPairs(sigs, Seq(col("bs.band"), col("bs.band_sig")), col("vec_id"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("nrm_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }
}
