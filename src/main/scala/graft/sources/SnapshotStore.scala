package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Snapshot-isolated multi-table store — the offline stand-in for the
  * Iceberg commit protocol the north rule's input table implies (no
  * Iceberg runtime ships in /opt/spark/jars, so the *semantics* are
  * implemented on plain parquet + atomic manifest publication):
  *
  *  - a snapshot is an immutable JSON manifest listing, per logical table,
  *    the exact data files visible in that version, plus string metadata
  *    (e.g. a stream's batch_id watermark);
  *  - writers stage parquet files under `stage/v<N>/<table>/`, then
  *    publish by writing the manifest to a temp name and RENAMING it to
  *    `snapshots/v<N>.json` — rename is the atomic primitive (fails if the
  *    destination exists), giving optimistic concurrency: a losing writer
  *    re-reads the head and retries at the next version;
  *  - readers resolve the highest committed version and read only its
  *    files — uncommitted staging data is invisible, so a writer crash
  *    between staging and publish leaves the table exactly at the prior
  *    snapshot (snapshot isolation), and a re-run converges to the same
  *    final state (exactly-once with deterministic stages);
  *  - old versions stay readable (time travel) until a retention sweep.
  *
  * Multiple logical tables commit in ONE manifest, so the triples table
  * and the resume `done` set move atomically — strictly stronger than the
  * reference's commit-data-then-mark-done two-step (chtc/db.py:56-66),
  * which can crash between the two writes. The protocol is one publish
  * ([[commit]]: append and replace tables, meta, partitioning, rewrite
  * validation), one read ([[read]], with manifest-level file pruning) and
  * one retention sweep ([[expireSnapshots]]).
  */
object SnapshotStore {

  final case class Snapshot(version: Int, tables: Map[String, Seq[String]],
      meta: Map[String, String] = Map.empty)

  /** Publish attempts before a commit gives up on a contended store. */
  private val CommitAttempts = 10

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapshotPath(dir: String, v: Int) =
    new Path(f"$dir/snapshots/v$v%05d.json")

  /** Highest committed version, 0 if none. */
  def currentVersion(spark: SparkSession, dir: String): Int = {
    val f = fs(spark, dir)
    val p = new Path(s"$dir/snapshots")
    if (!f.exists(p)) return 0
    f.listStatus(p).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max)
  }

  def readSnapshot(spark: SparkSession, dir: String, v: Int): Snapshot = {
    val f = fs(spark, dir)
    val in = f.open(snapshotPath(dir, v))
    try parse(in.readAllBytes(), v) finally in.close()
  }

  /** Read a logical table at a version (default: the head), keeping only
    * the data files whose PATH passes `keepFile` (all by default). Empty
    * DataFrames are not representable without a schema, so a table with
    * no surviving file returns None.
    *
    * `keepFile` is the manifest-level partition pruning a store written
    * with `commit(partitionBy = ...)` supports: staged files live under
    * Hive-style `col=value/` subdirectories, the manifest records the full
    * leaf paths, and a reader that can decide relevance from the path alone
    * (e.g. `url_bucket=7/`) skips the other files' IO entirely — the
    * manifest-driven file skipping an Iceberg partition transform gives.
    * Callers MUST keep files whose path carries no partition marker (an
    * unpartitioned append may hold any rows) and re-filter rows after the
    * read: pruning is an IO optimization, never the correctness filter.
    * KgPipeline.readBuckets is the KG store's bucket reader. */
  def read(spark: SparkSession, dir: String, table: String,
           version: Option[Int] = None,
           keepFile: String => Boolean = _ => true): Option[DataFrame] = {
    val v = version.getOrElse(currentVersion(spark, dir))
    if (v == 0) return None
    val files = readSnapshot(spark, dir, v).tables.getOrElse(table, Nil)
      .filter(keepFile)
    if (files.isEmpty) None else Some(spark.read.parquet(files: _*))
  }

  /** Number of data files the head manifest lists for `table` whose path
    * passes `keepFile` (all files by default) — the observable a pruning
    * test asserts on. */
  def fileCount(spark: SparkSession, dir: String, table: String,
                keepFile: String => Boolean = _ => true): Int = {
    val v = currentVersion(spark, dir)
    if (v == 0) 0
    else readSnapshot(spark, dir, v).tables.getOrElse(table, Nil)
      .count(keepFile)
  }

  /** Publish one snapshot and return its version. `append` tables add
    * their new files to the table's prior list; `replace` tables' new
    * files become its full content (compaction, a shrunk failure log);
    * tables in neither carry over. Both land in ONE atomic snapshot — the
    * streaming failure re-drive appends healed triples while it replaces
    * the failure log, and two commits would open a window where a crash
    * leaves triples without the log update. A table named in both maps is
    * an error. Readers of older versions still see the replaced files
    * (time travel) until [[expireSnapshots]].
    *
    * `partitionBy` (table → partition columns) stages that table's files
    * Hive-partitioned (`col=value/` subdirectories); the manifest records
    * the leaf paths, so [[read]]'s `keepFile` can skip whole partitions
    * from the path alone — the parquet stand-in for an Iceberg partition
    * transform.
    *
    * The prior snapshot's meta carries forward and new keys win, in both
    * modes: the streaming exactly-once check reads meta.batch_id from the
    * head, and a commit that dropped it (a compaction, or an appender
    * stamping only its own keys) would reset the watermark and re-admit
    * replayed micro-batches. The merge runs inside the retry loop against
    * the base each attempt actually commits over, so a racing append's
    * fresh batch_id is never clobbered by a stale copy.
    *
    * `requireVersion` is serializable-rewrite validation: the version the
    * caller READ before computing a replacement. If another writer commits
    * in between (a micro-batch appending to the very table being
    * rewritten), publishing would silently drop that append — the staged
    * data pins the stale file list, and the retry re-reads the version,
    * not the data. A head moved past `requireVersion` aborts with
    * ConcurrentModificationException, and the caller re-runs its
    * read-compute-replace cycle against the new head, as an Iceberg
    * rewrite does. The maintenance jobs (compactions, re-drive, file
    * rewrite) all pass it; None is last-writer-wins for quiesced stores. */
  def commit(spark: SparkSession, dir: String,
             append: Map[String, DataFrame],
             replace: Map[String, DataFrame] = Map.empty,
             meta: Map[String, String] = Map.empty,
             partitionBy: Map[String, Seq[String]] = Map.empty,
             requireVersion: Option[Int] = None): Int = {
    val both = append.keySet.intersect(replace.keySet)
    require(both.isEmpty, s"tables in both append and replace: $both")
    val f = fs(spark, dir)
    var attempt = 0
    while (attempt < CommitAttempts) {
      val base = currentVersion(spark, dir)
      requireVersion.foreach { rv =>
        if (base != rv) throw new java.util.ConcurrentModificationException(
          s"store $dir moved to v$base since the rewrite read v$rv — " +
            "re-run the read-compute-replace cycle against the new head")
      }
      val v = base + 1
      // stage: write each table's new files under a WRITER-UNIQUE directory.
      // Two racing writers both compute v = base+1; if they shared the stage
      // path, the loser's mode-overwrite would delete the winner's staged
      // files after the winner's manifest already referenced them. The token
      // (pid + thread + attempt) mirrors the manifest temp-file naming, so
      // staged file sets can never collide.
      val token = s"${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-$attempt"
      val staged = (append ++ replace).map { case (name, df) =>
        val stageDir = s"$dir/stage/v$v-$token/$name"
        val cols = partitionBy.getOrElse(name, Nil)
        (if (cols.isEmpty) df.write else df.write.partitionBy(cols: _*))
          .mode("overwrite").parquet(stageDir)
        // partitioned stages nest files under col=value/ subdirectories —
        // walk the tree so the manifest records every leaf
        name -> walk(f, new Path(stageDir))
          .collect { case s if s.isFile && s.getPath.getName.endsWith(".parquet") =>
            s.getPath.toString }
          .sorted
      }
      val prev = if (base == 0) Snapshot(0, Map.empty) else readSnapshot(spark, dir, base)
      val tables = (prev.tables.keySet ++ staged.keySet).map { t =>
        val carried = if (replace.contains(t)) Nil else prev.tables.getOrElse(t, Nil)
        t -> (carried ++ staged.getOrElse(t, Nil))
      }.toMap
      // publish: temp write + atomic rename; rename-to-existing fails =>
      // another writer won this version, retry against the new head
      val tmp = new Path(s"$dir/snapshots/.tmp-v$v-${Thread.currentThread().getId}.json")
      f.mkdirs(new Path(s"$dir/snapshots"))
      val out = f.create(tmp, true)
      try out.write(render(Snapshot(v, tables, prev.meta ++ meta))) finally out.close()
      if (f.rename(tmp, snapshotPath(dir, v))) return v
      f.delete(tmp, false)
      attempt += 1
    }
    throw new IllegalStateException(s"snapshot commit lost $CommitAttempts races in $dir")
  }

  /** Retention sweep (the expire-snapshots + orphan-file maintenance of
    * the Iceberg lifecycle): drop all snapshot manifests older than the
    * newest `keepLast`, then delete every staged data file that no RETAINED
    * snapshot references — this reclaims both expired-version data (e.g.
    * pre-compaction files) and orphaned staging from crashed or race-losing
    * writers. Retained versions stay fully readable; time travel shortens
    * to the retention window.
    *
    * `graceMs`: only files older than this are swept — in a live store a
    * concurrent writer's staged-but-not-yet-published files are legitimately
    * unreferenced, so the DEFAULT grace period (1 h, the Iceberg
    * orphan-cleanup convention) must comfortably exceed the longest commit;
    * pass 0 only when no writer can be in flight (tests, quiesced stores).
    * `nowMs` pins the cutoff clock (CLAUDE.md's no-wall-clock rule scopes
    * to data outputs; this maintenance cutoff is injectable so tests and
    * reproducible ops can pin it — the default reads the system clock).
    * Returns (manifests deleted, data files deleted). */
  def expireSnapshots(spark: SparkSession, dir: String, keepLast: Int = 2,
                      graceMs: Long = 60 * 60 * 1000L,
                      nowMs: Long = System.currentTimeMillis()): (Int, Int) = {
    require(keepLast >= 1, "must retain at least the head snapshot")
    // a negative grace puts the cutoff in the future: in-flight staging would go
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    val f = fs(spark, dir)
    val head = currentVersion(spark, dir)
    if (head == 0) return (0, 0)
    val oldestKept = math.max(1, head - keepLast + 1)
    // versions inside the window may already be gone (a previous sweep with
    // a smaller keepLast) — skip absent manifests instead of crashing
    val referenced = (oldestKept to head)
      .filter(v => f.exists(snapshotPath(dir, v)))
      .flatMap(v => readSnapshot(spark, dir, v).tables.values.flatten).toSet
    var mDel = 0
    (1 until oldestKept).foreach { v =>
      val p = snapshotPath(dir, v)
      if (f.exists(p) && f.delete(p, false)) mDel += 1
    }
    var dDel = 0
    val stage = new Path(s"$dir/stage")
    if (f.exists(stage)) {
      val cutoff = nowMs - graceMs
      // One walk records every stage entry BEFORE anything is deleted:
      // removing a dir's entries bumps its mtime to "now", so a
      // post-deletion mtime check would always fail the grace cutoff and
      // the emptied dirs would survive every sweep. The pre-sweep mtime is
      // the honest age signal.
      val (files, dirs) = walk(f, stage).partition(_.isFile)
      files.foreach { s =>
        if (!referenced.contains(s.getPath.toString) && s.getModificationTime < cutoff &&
            f.delete(s.getPath, false)) dDel += 1
      }
      // sweep now-empty stage directories: every commit attempt creates a
      // writer-unique stage/v<N>-<token> dir, so without this the empty
      // dirs accumulate forever. Same grace cutoff on the PRE-sweep mtime —
      // a concurrent writer's freshly-made (still empty) stage dir survives.
      // `walk` lists children before their parent, so an emptied parent is
      // seen empty in its turn.
      dirs.foreach { s =>
        if (s.getModificationTime < cutoff && f.exists(s.getPath) &&
            f.listStatus(s.getPath).isEmpty)
          f.delete(s.getPath, false)
      }
    }
    (mDel, dDel)
  }

  /** Every entry below `root`, each directory after its children. Plain
    * `listStatus` calls, not `listFiles(…, recursive = true)`: the latter
    * returns `LocatedFileStatus`es, which load permissions eagerly — on the
    * local FS without native Hadoop, one `ls -ld` fork per file and per
    * directory. */
  private def walk(f: FileSystem, root: Path): Seq[FileStatus] =
    f.listStatus(root).toSeq.flatMap { s =>
      if (s.isDirectory) walk(f, s.getPath) :+ s else Seq(s)
    }

  // ---- manifest codec ------------------------------------------------------

  private val mapper = new ObjectMapper()

  /** Keys in sorted order, so two renders of one snapshot are
    * byte-identical. */
  private[sources] def render(s: Snapshot): Array[Byte] = {
    val root = mapper.createObjectNode().put("version", s.version)
    val meta = root.putObject("meta")
    s.meta.toSeq.sorted.foreach { case (k, v) => meta.put(k, v) }
    val tables = root.putObject("tables")
    s.tables.toSeq.sortBy(_._1).foreach { case (t, files) =>
      files.foldLeft(tables.putArray(t))(_.add(_))
    }
    mapper.writeValueAsBytes(root)
  }

  /** The version comes from the file name; a manifest without `meta`
    * parses with an empty one. */
  private[sources] def parse(json: Array[Byte], v: Int): Snapshot = {
    val root = mapper.readTree(json)
    def fields(n: JsonNode) = n.properties.asScala.map(e => e.getKey -> e.getValue).toMap
    Snapshot(v,
      fields(root.path("tables")).map { case (t, files) => t -> files.asScala.map(_.asText).toSeq },
      fields(root.path("meta")).map { case (k, x) => k -> x.asText })
  }
}
