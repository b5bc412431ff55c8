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
    * @param localProbe false => the edge set is known-unbounded (e.g.
    *        open-vocabulary dedup over a web corpus): skip the driver
    *        small-graph probe entirely and go straight to the distributed
    *        rounds — otherwise every job pays a wasted up-to-2M-row collect
    *        before the distributed path engages.
    * @return (id, component) for every id appearing in an edge;
    *         component = min member id of the cluster. */
  def connectedComponents(edges0: DataFrame, maxIter: Int = 20,
                          localProbe: Boolean = true): DataFrame = {
    val spark = edges0.sparkSession
    // RAW directed edges, persisted once: the probe reads them directly —
    // union-find is orientation- and duplicate-insensitive, so the
    // symmetrize + distinct exchange the old probe paid is needed only by
    // the DISTRIBUTED rounds and is built lazily below, from this cache,
    // only when the probe overflows. (The size threshold now bounds raw
    // edges rather than the deduped symmetric set — either side of the
    // boundary produces identical output, just via a different path.)
    val e0 = edges0.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    lazy val sym = e0
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Single-job small-graph probe: limit(threshold+1).collect() — if the
    // result fits, we already hold the whole edge set and skip both the
    // count job and the distributed rounds entirely.
    val probe =
      if (localProbe) e0.limit(SmallGraphEdges.toInt + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (localProbe && probe.length <= SmallGraphEdges) {
      // Driver union-find fast path (deterministic min-root).
      import spark.implicits._
      val edges = probe.map(r => (r.getLong(0), r.getLong(1)))
      e0.unpersist(false)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min id becomes the root → component = min member
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
        parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
      }
      val ids = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
      return ids.map(id => (id, find(id))).toSeq.toDF("id", "component")
    }

    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
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
      iter += 1
    }
    sym.unpersist(false)
    e0.unpersist(false)
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
  def canonicalize(aligned: DataFrame, localProbe: Boolean = true): DataFrame = {
    // Guard for known-unbounded entity spaces (open-vocabulary web
    // extraction): skip the driver probe entirely — every job would
    // otherwise pay a wasted up-to-500k-row collect before falling back.
    if (!localProbe) return distributedCanonicalize(aligned, localProbe = false)
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
      val parent = scala.collection.mutable.HashMap.empty[(String, String), (String, String)]
      def find(x: (String, String)): (String, String) = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      def union(a: (String, String), b: (String, String)): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(if (ra._2 <= rb._2) rb else ra) = if (ra._2 <= rb._2) ra else rb
      }
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
    } else distributedCanonicalize(aligned, localProbe = true)
  }

  /** Distributed path: CC over hashed vertex ids. `localProbe` passes on
    * to [[connectedComponents]]: an open-vocabulary run skips its edge
    * probe too, while a name-probe overflow still tries it (the edge set
    * can fit where the name set did not). */
  private def distributedCanonicalize(aligned: DataFrame, localProbe: Boolean): DataFrame = {
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

    val comp = connectedComponents(normEdges.unionAll(alignEdges), localProbe = localProbe)

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

  /** Join the canonical table back onto aligned triples, adding
    * `obj_final` (the cluster-canonical name) and `entity_cluster_id`
    * (= xxhash64 of the canonical — content-derived, identical across the
    * local and distributed paths). */
  def apply(aligned: DataFrame, localProbe: Boolean = true): DataFrame = {
    val canon = canonicalize(aligned, localProbe)
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
}
