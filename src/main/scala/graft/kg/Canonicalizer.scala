package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Entity canonicalization via connected components over a candidate-pair
  * edge Dataset (BASELINE.json north_star; SURVEY.md §7.2 step 6).
  *
  * The reference's only canonicalization is the per-name alignment swap
  * (J2); connected components generalizes it: surface forms that link to
  * the same canonical, share a normalized form, or are aliased transitively
  * collapse into one cluster with a single deterministic canonical id.
  *
  * Algorithm: distributed min-label propagation expressed as DataFrame
  * joins — labels(v) := min(labels(v), min over neighbors) each round,
  * converging in O(graph diameter) rounds. Entity-alias graphs are star
  * shaped (surface form → normalized form → canonical), diameter <= 4, so
  * this outperforms the O(log^2 n)-round large-star/small-star scheme while
  * shuffling strictly less per round; every round localCheckpoints to
  * truncate lineage so Catalyst never re-analyzes a growing plan tree.
  * Driver holds only the convergence flag — no collected data.
  *
  * The entity space picks the path, with no user switch: a bounded driver
  * probe ([[MaxLocalNames]] names, then [[SmallGraphEdges]] edges) clusters
  * a space that fits in a driver union-find, and falls through to the
  * distributed rounds when it overflows. Both paths give the same output.
  *
  * Ids are xxhash64 of (kind, surface form) — content-derived, so results
  * are reproducible across runs and cluster sizes (no uuid4, SURVEY §7.4).
  */
object Canonicalizer {

  /** Below this edge count the component structure fits comfortably on the
    * driver and a local union-find replaces ~2 Spark jobs per propagation
    * round — the same small-side/large-side physical split Spark itself
    * applies to joins. Output is identical to the distributed path. */
  val SmallGraphEdges: Long = 2L * 1000 * 1000

  /** Connected components by min-label propagation.
    * @param edges0 (src:long, dst:long) undirected candidate pairs
    * @return (id, component) for every id appearing in an edge;
    *         component = min member id of the cluster. A bounded driver
    *         probe picks the path: an edge set of at most
    *         [[SmallGraphEdges]] clusters in a driver union-find, a larger
    *         one in [[distributedComponents]]' rounds. */
  def connectedComponents(edges0: DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    // RAW directed edges, persisted once: the probe reads them directly —
    // union-find is orientation- and duplicate-insensitive, so the
    // symmetrize + distinct exchange is needed only by the distributed
    // rounds, which build it from this cache when the probe overflows.
    // (The size threshold bounds raw edges rather than the deduped
    // symmetric set — either side of the boundary produces identical
    // output, just via a different path.)
    val e0 = edges0.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Single-job small-graph probe: limit(threshold+1).collect() — if the
    // result fits, we already hold the whole edge set and skip both the
    // count job and the distributed rounds entirely.
    val probe = e0.limit(SmallGraphEdges.toInt + 1).collect()
    val out =
      if (probe.length <= SmallGraphEdges) {
        // Driver union-find fast path: the min root is the min member id.
        import spark.implicits._
        val edges = probe.map(r => (r.getLong(0), r.getLong(1)))
        val uf = new MinRootUnionFind[Long]
        edges.foreach { case (a, b) => uf.union(a, b) }
        val ids = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
        ids.map(id => (id, uf.find(id))).toSeq.toDF("id", "component")
      } else distributedComponents(e0)
    e0.unpersist(false)
    out
  }

  /** The distributed rounds of [[connectedComponents]], with no driver
    * probe: the same (id, component) output for (src:long, dst:long) edges
    * without self-loops. The result is localCheckpointed, so it holds no
    * reference to `e0`. */
  private[graft] def distributedComponents(e0: DataFrame): DataFrame = {
    val sym = e0.select("src", "dst")
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)

    // Labels only decrease and are bounded below by the component minimum,
    // so the loop ends: one round per hop from a component's minimum to its
    // farthest member, plus the round that sees no label change.
    var converged = false
    while (!converged) {
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("component"))
      val next = labels.unionAll(msgs)
        .groupBy("id").agg(min("component").as("component"))
        .localCheckpoint(true)
      // converged iff no label strictly decreased this round
      val changed = next.as("n").join(labels.as("o"), "id")
        .filter(col("n.component") < col("o.component"))
        .limit(1).count()
      labels = next
      converged = changed == 0
    }
    sym.unpersist(false)
    labels
  }

  /** Below this distinct-surface-form count the whole entity space fits on
    * the driver — the common case for dictionary-scoped extraction even
    * over 10^12 pages (the dictionary bounds the space). Above it, the
    * fully distributed path runs. Both paths produce identical output. */
  val MaxLocalNames: Int = 500 * 1000

  /** Canonical-name table for the aligned triples: every distinct
    * (kind, surface form) gets a `canonical_name` — the lexicographically
    * smallest clustered surface form (deterministic tie-break).
    *
    * Edges: surface form — its normalized-form pseudo-node (normalization
    * identity), and alignment swaps surface — canonical. Pseudo-nodes never
    * become canonical names because canonical selection runs over real
    * surface forms only. */
  def canonicalize(aligned: DataFrame): DataFrame = {
    val spark = aligned.sparkSession
    import spark.implicits._

    // Single-job probe: ONE distinct+collect over (kind, name, canonical,
    // linked) yields both the surface-form set and the link pairs — the
    // probe is on the per-run serial path, so halving its job count
    // directly buys scaling efficiency (BASELINE.md serial-fraction
    // analysis). If the result fits the driver threshold, cluster locally
    // (union-find) instead of paying ~8 Spark job rounds for a
    // dictionary-sized graph. The normalized forms come from the same
    // Linker.normName expression the distributed path keys on, evaluated
    // on the probe's distinct rows only.
    val probe = aligned
      .select(col("obj_kind").as("kind"), col("obj_name").as("name"),
        col("obj_canonical").as("canonical"), col("obj_linked").as("linked"))
      .distinct().limit(MaxLocalNames + 1)
      .withColumn("name_norm", Linker.normName(col("name")))
      .withColumn("canonical_norm", Linker.normName(col("canonical")))
      .collect()

    if (probe.length <= MaxLocalNames) {
      val linkPairs = probe.filter(_.getBoolean(3))
      // every union stays within one kind, so the min root is the min name
      val uf = new MinRootUnionFind[(String, String)]
      import uf.{find, union}
      // real surface forms: extracted names AND their alignment canonicals,
      // each with its normalized form
      val normed = (probe.map(r => ((r.getString(0), r.getString(1)), r.getString(4))) ++
        probe.map(r => ((r.getString(0), r.getString(2)), r.getString(5)))).distinct
      val realNames = normed.map(_._1)
      normed.foreach { case ((kind, name), norm) =>
        union((kind, name), (kind, "\u0000norm:" + norm))
      }
      linkPairs.foreach { r =>
        union((r.getString(0), r.getString(1)), (r.getString(0), r.getString(2)))
      }
      // canonical per root: the smallest LINKED dictionary canonical in the
      // cluster if any (alignment swaps TO the dictionary entity — a
      // cluster holding a dictionary link must canonicalize to it, never to
      // a lexically-smaller unlinked surface form such as a tier-2-linked
      // misspelling); lexicographically smallest real surface form
      // otherwise.
      val canonOfRoot = scala.collection.mutable.HashMap.empty[(String, String), String]
      val linkedOfRoot = scala.collection.mutable.HashMap.empty[(String, String), String]
      linkPairs.foreach { r =>
        val c = r.getString(2)
        val root = find((r.getString(0), c))
        val cur = linkedOfRoot.get(root)
        if (cur.isEmpty || c < cur.get) linkedOfRoot(root) = c
      }
      realNames.foreach { v =>
        val root = find(v)
        val cur = canonOfRoot.get(root)
        if (cur.isEmpty || v._2 < cur.get) canonOfRoot(root) = v._2
      }
      realNames.map { v =>
        val root = find(v)
        (v._1, v._2, linkedOfRoot.getOrElse(root, canonOfRoot(root)))
      }.toSeq.toDF("kind", "name", "canonical_name")
    } else distributedCanonicalize(aligned)
  }

  /** Distributed path: CC over hashed vertex ids, taken when the name
    * probe overflows. Its [[connectedComponents]] call probes the edge set
    * in turn (the edge set can fit where the name set did not). */
  private[kg] def distributedCanonicalize(aligned: DataFrame): DataFrame = {
    def nid(kindCol: Column, nameCol: Column): Column = xxhash64(kindCol, nameCol)

    val names = aligned.select(col("obj_kind").as("kind"), col("obj_name").as("name"))
      .unionAll(aligned.select(col("obj_kind").as("kind"), col("obj_canonical").as("name")))
      .distinct()
      .withColumn("norm", Linker.normName(col("name")))

    val vertices = names
      .withColumn("id", nid(col("kind"), col("name")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val normEdges = vertices.select(
      col("id").as("src"),
      nid(col("kind"), concat(lit("\u0000norm:"), col("norm"))).as("dst"))
    val alignEdges = aligned
      .filter(col("obj_linked"))
      .select(nid(col("obj_kind"), col("obj_name")).as("src"),
              nid(col("obj_kind"), col("obj_canonical")).as("dst"))
      .distinct()

    val comp = connectedComponents(normEdges.unionAll(alignEdges))

    val withComp = vertices.join(comp, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
    // prefer-linked canonical selection (must mirror the local path): min
    // linked dictionary canonical per component if any, min real name else
    val linkedCanon = aligned.filter(col("obj_linked"))
      .select(col("obj_kind").as("kind"), col("obj_canonical").as("name"))
      .distinct()
      .withColumn("id", nid(col("kind"), col("name")))
      .join(withComp.select(col("id"), col("component")), Seq("id"))
      .groupBy(col("component"))
      .agg(min(col("name")).as("linked_canonical"))
    val canon = withComp.groupBy(col("component"))
      .agg(min(struct(col("name"))).as("c"))
      .join(linkedCanon, Seq("component"), "left")
      .select(col("component"),
        coalesce(col("linked_canonical"), col("c.name")).as("canonical_name"))
    // Materialize BEFORE releasing the vertices cache: the returned plan
    // references withComp (hence the vertices distinct over the full
    // aligned frame) three times — canon's groupBy, the linkedCanon join
    // and the final join — and the caller evaluates it lazily; an eager
    // unpersist under a lazy return would recompute the distinct per
    // consumer. localCheckpoint pins the (entity-space-bounded) result and
    // truncates the lineage, then the cache can go.
    val out = withComp.join(canon, "component")
      .select(col("kind"), col("name"), col("canonical_name"))
      .localCheckpoint(true)
    vertices.unpersist(false)
    out
  }

  /** Path-compressing union-find whose root is always the least member
    * under `Ordering[K]` — both driver-side clustering paths pick it as the
    * component id. A key never unioned is its own root. */
  private final class MinRootUnionFind[K](implicit ord: Ordering[K]) {
    private val parent = scala.collection.mutable.HashMap.empty[K, K]
    def find(x: K): K = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: K, b: K): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
  }

  /** Join the canonical table back onto aligned triples, adding
    * `obj_final` (the cluster-canonical name) and `entity_cluster_id`
    * (= xxhash64 of the canonical — content-derived, identical across the
    * local and distributed paths). */
  def apply(aligned: DataFrame): DataFrame = {
    val canon = canonicalize(aligned)
    // No explicit broadcast hint: the local path yields a LocalRelation
    // with known size stats (Catalyst broadcasts it without AQE); the
    // distributed path defers to AQE.
    aligned.join(
      canon.withColumnRenamed("kind", "c_kind").withColumnRenamed("name", "c_name"),
      col("obj_kind") === col("c_kind") && col("obj_canonical") === col("c_name"),
      "left")
      .withColumn("obj_final", coalesce(col("canonical_name"), col("obj_canonical")))
      .withColumn("entity_cluster_id", xxhash64(col("obj_kind"), col("obj_final")))
      .drop("c_kind", "c_name", "canonical_name")
  }

  /** [[apply]] for the kgbench benchmark's `Staged.run`, which still passes
    * `cfg.canonLocalProbe`; the flag is ignored, every call probes. Delete
    * it when kgbench runs the engine's own chain (ROADMAP direction 1). */
  def apply(aligned: DataFrame, ignoredProbe: Boolean): DataFrame = apply(aligned)
}
