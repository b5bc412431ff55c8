package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale corpus deduplication operators.
  *
  * Not present in the reference (its corpus is pre-deduplicated xDD
  * paragraphs) but mandatory for a training-data pipeline at 10^12-page
  * scale. All variants are expressed as declarative DataFrame transforms —
  * shuffles only on hash keys, no UDFs in the hot path, no driver-side
  * state:
  *
  *  - exact: one groupBy on a 128-bit content hash. Shuffle is the hash
  *    column only (project early, never the text).
  *  - MinHash + LSH: k independent min-hashes from seeded md5 over the
  *    token set, banded so that only same-band collisions pair — candidates
  *    are the pairs of each (band index, band hash) bucket, never an
  *    all-pairs comparison. At 10^12 docs the bucket exchange is the only
  *    shuffle, sized |docs| x bands.
  *  - SimHash: 16-bit majority fingerprint; equality groups find
  *    near-identical token distributions with a single groupBy.
  *  - n-gram Jaccard: verification stage for candidate pairs — array
  *    intersection per pair, restricted to candidates (or a bounded id
  *    range in the driver-gate query) to stay sub-quadratic.
  *
  * Every bucket-local pair generator (MinHash and SimHash candidates,
  * all-pairs Jaccard, Similarity.lshNearDup) goes through one kernel,
  * [[bucketPairs]], whose memory per key and per row is bounded by
  * [[PairBlock]] however hot a bucket gets.
  *
  * Hash parity note: md5 (not xxhash64) everywhere so the DuckDB oracle can
  * reproduce signatures byte-for-byte; at production scale xxhash64 halves
  * the hash cost — swap `sigExpr` only, semantics identical.
  */
object Dedup {

  val MinhashK = 8
  val Bands = 2 // 2 bands x 4 rows

  def tokens(textCol: Column): Column =
    array_distinct(filter(split(textCol, " "), t => t =!= ""))

  /** All ordered pairs (x, y) with x before y of a SORTED array column:
    * the within-block expansion of [[bucketPairs]]. */
  private def orderedPairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("a"), y.as("b")))))

  /** Most distinct items of one bucket that [[bucketPairs]] expands in one
    * block. A block pair's aggregation key then holds at most
    * 2 * PairBlock items and its generated row at most PairBlock^2 pairs
    * (65,536: about 2 MiB for long items), whatever the bucket size. */
  private[ops] val PairBlock = 256

  /** The pair kernel of every bucket-local pair generator: each pair
    * (a, b), a < b, of the distinct non-null `item`s that share a
    * `bucket`, once per bucket. Columns `a` and `b`.
    *
    * It replaces a bucket self-join, which evaluates the (often expensive)
    * bucket-producing subtree once per join side — Spark cannot reuse the
    * exchange because the two sides' projections differ (round-7 plan
    * audit: the simhash fingerprint subtree appeared 8x in
    * dedup_simhash_near's plan). Here one exchange on the bucket feeds two
    * windows and the aggregation, so the subtree runs once.
    *
    * Skew bound: a dense_rank over the bucket cuts it into blocks of at
    * most [[PairBlock]] distinct items, and each item is copied to every
    * (p, q) block pair, p <= q, that holds its block. One groupBy on
    * (bucket, p, q) collects at most 2 * PairBlock items per key; p = q
    * expands by [[orderedPairs]], p < q takes the two blocks' cross
    * product (every rank in p is below every rank in q). A hot bucket
    * never lands whole in one aggregation buffer or one generated row,
    * and the windows' row buffers spill. Work is O(pairs) as before. */
  private[ops] def bucketPairs(df: DataFrame, bucket: Seq[Column], item: Column): DataFrame = {
    val keys = bucket.indices.map(i => col(s"k$i"))
    val w = Window.partitionBy(keys: _*)
    // an item in block blk meets block o in key (least, greatest): it is
    // that key's left block when blk <= o, its right block when blk > o
    df.select(bucket.zipWithIndex.map { case (c, i) => c.as(s"k$i") } :+ item.as("x"): _*)
      .filter(col("x").isNotNull)
      .withColumn("blk", floor((dense_rank().over(w.orderBy(col("x"))) - 1) / PairBlock))
      .withColumn("top", max(col("blk")).over(w)) // a window cannot sit in a generator
      .withColumn("o", explode(sequence(lit(0L), col("top"))))
      .groupBy(keys :+ least(col("blk"), col("o")).as("p")
        :+ greatest(col("blk"), col("o")).as("q"): _*)
      .agg(sort_array(collect_set(when(col("blk") <= col("o"), col("x")))).as("l"),
        collect_set(when(col("blk") > col("o"), col("x"))).as("r"))
      .select(explode(when(col("p") === col("q"), orderedPairs(col("l")))
        .otherwise(flatten(transform(col("l"), a =>
          transform(col("r"), b => struct(a.as("a"), b.as("b"))))))).as("pr"))
      .select("pr.a", "pr.b")
  }

  /** Distinct word n-gram shingles (n consecutive tokens joined by one
    * space) — pure array expressions, codegen'd. Documents shorter than n
    * tokens yield no shingles (sequence would otherwise run descending). */
  def shingles(textCol: Column, n: Int): Column = {
    val toks = filter(split(textCol, " "), t => t =!= "")
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact duplicate groups: (text_hash, n_docs, min_doc_id). `minDocs = 1`
    * keeps singleton groups too (the gate query uses it so the oracle has a
    * non-vacuous row set on a dup-free corpus); the dedup default reports
    * only real duplicate groups. */
  def exactGroups(docs: DataFrame, minDocs: Long = 2): DataFrame =
    docs.select(md5(col("text")).as("text_hash"), col("doc_id"))
      .groupBy("text_hash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
      .filter(col("n_docs") >= minDocs)

  /** (doc_id, toks) with toks = the distinct-token array — the shared
    * tokenized form the dedup stages consume. Split out so composed
    * pipelines ([[dedupe]]) can tokenize the corpus text ONCE and feed
    * every stage, instead of re-running the split per stage subtree. */
  def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))

  /** Per-doc MinHash signature columns h0..h{k-1} over the token set. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesToks(docTokens(docs))

  /** [[minhashSignatures]] over a pre-tokenized (doc_id, toks) frame. */
  def minhashSignaturesToks(docsTok: DataFrame): DataFrame = {
    val tok = docsTok.select(col("doc_id"), explode(col("toks")).as("tok"))
    val aggs = (0 until MinhashK).map(i =>
      min(md5(concat(lit(s"$i|"), col("tok")))).as(s"h$i"))
    tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: docs sharing any band (doc_a < doc_b).
    *
    * One pass: the per-doc band hashes are emitted as an exploded array (the
    * signature aggregation runs ONCE — the former per-band unionAll + self-
    * join evaluated it 4x) and [[bucketPairs]] pairs the docs of each
    * (band, band_hash) bucket. Identical pair set; the bucket is the same
    * equi-key the join used, never all-pairs. */
  def minhashCandidates(docs: DataFrame): DataFrame =
    minhashCandidatesToks(docTokens(docs))

  /** [[minhashCandidates]] over a pre-tokenized (doc_id, toks) frame. */
  def minhashCandidatesToks(docsTok: DataFrame): DataFrame = {
    val sigs = minhashSignaturesToks(docsTok)
    val rows = MinhashK / Bands
    val bandCols = (0 until Bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"h$i"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("band_hash"))
    }
    bucketPairs(sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb")),
        Seq(col("bb.band"), col("bb.band_hash")), col("doc_id"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .distinct()
  }

  /** nBits-wide SimHash: bit i is the majority over tokens of (i-th hex
    * digit of md5(token) >= 8). Pure column expressions, fully codegen'd;
    * one shuffle on doc_id with map-side partial sums.
    *
    * Hot-path formulation: "hex digit >= 8" is exactly "high bit of the
    * nibble set", so instead of nBits substring + 8-way IN-list string
    * compares per token (measured 2.5-2.7 s at sf0.1, reproducibly — not
    * host noise), each 8-hex-digit word parses ONCE via conv() into a long
    * and every bit test is a shift+and. Bit-identical output to the
    * substring form (the DuckDB oracle still computes it that way). */
  def simhashFp(docs: DataFrame, nBits: Int): DataFrame = {
    require(nBits >= 1 && nBits <= 32, "md5 supplies 32 hex digits = 32 bits")
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val words = (nBits + 7) / 8
    val tokV = (0 until words).foldLeft(tok)((d, w) =>
      d.withColumn(s"v$w",
        conv(substring(col("h"), w * 8 + 1, 8), 16, 10).cast("long")))
    val bitSums = (0 until nBits).map { i =>
      val w = i / 8
      val shift = 4 * (7 - (i % 8)) + 3 // high bit of the i-th nibble
      sum(when(shiftright(col(s"v$w"), shift).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"s$i")
    }
    val summed = tokV.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until nBits).map(i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    summed.select(col("doc_id"), fp.as("simhash"))
  }

  /** 16-bit SimHash (equality-grouping variant). */
  def simhash(docs: DataFrame): DataFrame = simhashFp(docs, 16)

  /** SimHash NEAR-duplicates: pairs of 32-bit fingerprints within Hamming
    * distance 3. Pigeonhole banding — the fingerprint splits into 4 blocks
    * of 8 bits; any pair within Hamming 3 must agree exactly on at least
    * one block, so candidates are the pairs of each
    * (block index, block bits) bucket — never an all-pairs comparison —
    * and the exact Hamming check is bit_count(xor) on the candidates. */
  def simhashNearDup(docs: DataFrame): DataFrame = {
    val (nBits, nBlocks) = (32, 4)
    val maxHamming = nBlocks - 1 // the pigeonhole recall bound
    val blockBits = nBits / nBlocks
    val fp = simhashFp(docs, nBits)
    // One pass over the fingerprint aggregation (the former per-block
    // unionAll + self-join evaluated the fp subtree 2*nBlocks times —
    // round-7 plan audit: 8 copies in the physical plan): posexplode the
    // block values and let bucketPairs pair the docs of each
    // (block index, block bits) bucket, carrying the fingerprint along.
    val blockVals = array((0 until nBlocks).map(b =>
      shiftright(col("simhash"), b * blockBits)
        .bitwiseAND(lit((1L << blockBits) - 1))): _*)
    bucketPairs(fp.select(col("doc_id"), col("simhash"),
        posexplode(blockVals).as(Seq("blk", "blk_val"))),
        Seq(col("blk"), col("blk_val")), struct(col("doc_id"), col("simhash")))
      .distinct() // a doc pair is one (doc_id, simhash) struct pair
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash equality groups (near-identical token distributions). */
  def simhashGroups(docs: DataFrame): DataFrame =
    simhash(docs).groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
      .filter(col("n_docs") > 1)

  /** All-pairs Jaccard over the distinct element array `elems`: explode
    * it ONCE, pair the docs that share an element by [[bucketPairs]]
    * (bucket = element), and score the distinct pairs by [[jaccardToks]].
    * Spread only the explode side: the per-row tokenize/shingle and the
    * per-element fan-out are the compute worth parallelizing, while the
    * scoring sides become BROADCAST builds, where a pre-broadcast
    * repartition is pure overhead (round-7 plan audit, same pattern as
    * Similarity.lshNearDup). */
  private def allPairsJaccard(docs: DataFrame, elems: Column, minJaccard: Double): DataFrame = {
    val cands = bucketPairs(graft.Tables.spread(docs.sparkSession, docs, "doc_id")
        .select(col("doc_id"), explode(elems).as("tok")), Seq(col("tok")), col("doc_id"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .distinct()
    jaccardToks(docs.select(col("doc_id"), elems.as("toks")), cands, minJaccard)
  }

  /** Token-set Jaccard over ALL pairs of `docs` — the verification baseline
    * for BOUNDED inputs only (pair generation is O(pairs-per-token); at
    * corpus scale use [[jaccard]] with an LSH candidate set instead). */
  def jaccardAllPairs(docs: DataFrame, minJaccard: Double): DataFrame =
    allPairsJaccard(docs, tokens(col("text")), minJaccard)

  /** Word n-gram shingle Jaccard over all pairs — BOUNDED inputs only
    * (shingle sets are near-unique per document, so pair generation fans
    * out far less than token Jaccard, but the scale path is still
    * candidates-first like [[jaccard]]). */
  def jaccardNgram(docs: DataFrame, n: Int, minJaccard: Double): DataFrame =
    allPairsJaccard(docs, shingles(col("text"), n), minJaccard)

  /** Candidate-restricted token-set Jaccard — the 10^12-doc shape: token
    * intersections are computed ONLY for the supplied candidate pairs
    * (doc_a, doc_b), never all-pairs. Each side's distinct-token ARRAY is
    * attached by an equi-join on doc id and the intersection is
    * array_intersect — no token explode, no per-pair aggregation
    * pass; work is O(|candidates| x tokens-per-doc), as before, with two
    * joins instead of three plus a groupBy. Pairs with an empty
    * intersection are dropped exactly as the former inner token join
    * dropped them. */
  def jaccard(docs: DataFrame, candidates: DataFrame, minJaccard: Double): DataFrame =
    jaccardToks(docTokens(docs), candidates, minJaccard)

  /** [[jaccard]] over a pre-tokenized (doc_id, toks) frame. */
  def jaccardToks(docsTok: DataFrame, candidates: DataFrame, minJaccard: Double): DataFrame = {
    val (a, b) = (col("toks_a"), col("toks_b"))
    // The intersection size binds to a lambda variable, so array_intersect
    // runs once per evaluation: an aliased column would be inlined into
    // each filter pushed into the join condition (three calls per pair).
    // Null (no shared token) fails the threshold filter.
    val jaccard = aggregate(array(size(array_intersect(a, b))), lit(null).cast("double"),
      (_, inter) => when(inter > 0,
        round(inter / (size(a) + size(b) - inter) + TextOps.RoundEps, 4)))
    candidates.select("doc_a", "doc_b")
      .join(docsTok.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), "doc_a")
      .join(docsTok.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Duplicate-cluster resolution: connected components over verified
    * duplicate pairs (transitivity: if A~B and B~C, all three are one
    * cluster even when A~C was never verified). Output one row per doc
    * appearing in any pair: (doc_id, cluster_id = min doc id of the
    * cluster, keep = this doc is the cluster's min-id winner). Reuses the
    * engine's CC operator (graft.kg.Canonicalizer) — same min-label
    * propagation that canonicalizes entities, with its bounded driver
    * probe picking the local or the distributed path. */
  def resolve(verifiedPairs: DataFrame): DataFrame =
    graft.kg.Canonicalizer.connectedComponents(
      verifiedPairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("keep"))

  /** The composed end-to-end dedup pipeline: LSH candidates → candidate-
    * restricted Jaccard verification → cluster resolution ([[resolve]]:
    * a verified-pair set past the CC probe's bound clusters distributed). */
  def dedupe(docs: DataFrame, minJaccard: Double): DataFrame = {
    // <= 0 dedups every candidate pair; > 1 silently dedups nothing
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    // Tokenize the corpus text ONCE for the whole composition: the
    // signature stage and both verification sides consume the same
    // (doc_id, toks) frame — un-persisted it would be recomputed three
    // times (three full text scans at corpus scale). resolve() fully
    // materializes its result inside the call (the driver probe collects,
    // and the distributed rounds localCheckpoint), so releasing the cache
    // on return is safe.
    val docsTok = docTokens(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cands = minhashCandidatesToks(docsTok)
      resolve(jaccardToks(docsTok, cands, minJaccard))
    } finally docsTok.unpersist(false)
  }

  /** [[dedupe]] for the kgbench benchmark's `Staged.run`, which still
    * passes `cfg.canonLocalProbe`; the flag is ignored, every call probes.
    * Delete it when kgbench runs the engine's own chain (ROADMAP
    * direction 1). */
  def dedupe(docs: DataFrame, minJaccard: Double, ignoredProbe: Boolean): DataFrame =
    dedupe(docs, minJaccard)
}
