package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-isolated multi-table store — the offline stand-in for the
  * Iceberg commit protocol the north rule's input table implies (no
  * Iceberg runtime ships in /opt/spark/jars, so the *semantics* are
  * implemented on plain parquet + atomic manifest publication):
  *
  *  - a snapshot is an immutable JSON manifest listing, per logical table,
  *    the exact data files visible in that version;
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
  * which can crash between the two writes.
  */
object SnapshotStore {

  final case class Snapshot(version: Int, tables: Map[String, Seq[String]],
      meta: Map[String, String] = Map.empty)

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
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    parse(json, v)
  }

  /** Read a logical table at a version (default: latest). Empty DataFrames
    * are not representable without a schema, so reading an absent/empty
    * table returns None. */
  def read(spark: SparkSession, dir: String, table: String,
           version: Option[Int] = None): Option[DataFrame] = {
    val v = version.getOrElse(currentVersion(spark, dir))
    if (v == 0) return None
    val files = readSnapshot(spark, dir, v).tables.getOrElse(table, Nil)
    if (files.isEmpty) None else Some(spark.read.parquet(files: _*))
  }

  /** Read a logical table keeping only data files whose PATH passes
    * `keepFile` — the manifest-level partition pruning a store written with
    * `commit(partitionBy = ...)` supports: staged files live under
    * Hive-style `col=value/` subdirectories, the manifest records the full
    * leaf paths, and a reader that can decide relevance from the path alone
    * (e.g. `url_bucket=7/`) skips the other files' IO entirely — the same
    * manifest-driven file skipping an Iceberg partition transform gives.
    * Callers MUST keep files whose path carries no partition marker (a
    * pre-partitioning append has no `col=value/` segment and may hold any
    * rows) and re-filter rows after the read — pruning is an IO
    * optimization, never the correctness filter. A KG store stages every
    * url-keyed table partitioned (graft.kg.KgPipeline.commitStore), so
    * unmarked files there come only from stores written before that
    * layout; KgPipeline.readBuckets is its bucket reader. Returns None when
    * no file survives (then there are no matching rows at all). */
  def readPruned(spark: SparkSession, dir: String, table: String,
                 keepFile: String => Boolean,
                 version: Option[Int] = None): Option[DataFrame] = {
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

  /** Atomically commit new data for several logical tables (append
    * semantics: new files are added to each table's prior file list).
    * Returns the committed version. Retries on publish conflict.
    *
    * `partitionBy` (table → partition columns): stage that table's files
    * Hive-partitioned (`col=value/` subdirectories). The manifest records
    * the leaf paths, so [[readPruned]] can skip whole partitions from the
    * path alone — the parquet stand-in for an Iceberg partition transform
    * on the store's tables. Mixing partitioned appends into a table with
    * older flat files is fine: the manifest is just a file list, and
    * pruning readers keep unmarked paths. */
  def commit(spark: SparkSession, dir: String,
             tables: Map[String, DataFrame], maxRetries: Int = 10,
             meta: Map[String, String] = Map.empty,
             partitionBy: Map[String, Seq[String]] = Map.empty): Int =
    commitInternal(spark, dir, tables, maxRetries, meta,
      replaceTables = Set.empty, partitionBy)

  /** Replace-mode commit (compaction/rewrite): the new files BECOME the
    * named tables' full content; untouched tables carry over. Readers on
    * older versions still see the pre-compaction files (time travel).
    *
    * The prior snapshot's meta carries forward (new keys win): a compaction
    * must never erase watermarks other writers rely on — the streaming
    * commitBatchTables exactly-once check reads meta.batch_id from the head
    * snapshot, and a replace that dropped it would reset the watermark and
    * re-admit replayed micro-batches. The merge happens INSIDE the retry
    * loop against the base each attempt actually commits over, so a racing
    * append's fresh batch_id is never clobbered by a stale copy. */
  /** @param requireVersion serializable-rewrite validation: the version
    *        the caller READ before computing the replacement. A replace
    *        stages content derived from that read — if another writer
    *        commits in between (e.g. a streaming micro-batch appending to
    *        the very table being rewritten), blindly publishing would
    *        silently drop the concurrent append (the staged data pins the
    *        stale file list; the CAS retry re-reads the version but not
    *        the data). With requireVersion set, a head moved past it
    *        aborts with ConcurrentModificationException and the caller
    *        re-runs its read-compute-replace cycle against the new head —
    *        the same validation an Iceberg rewrite does. The maintenance
    *        jobs (compactions, re-drive, file rewrite) all pass it; None
    *        preserves the old last-writer-wins behavior for quiesced
    *        stores. */
  def commitReplace(spark: SparkSession, dir: String,
                    tables: Map[String, DataFrame], maxRetries: Int = 10,
                    meta: Map[String, String] = Map.empty,
                    partitionBy: Map[String, Seq[String]] = Map.empty,
                    requireVersion: Option[Int] = None): Int =
    commitInternal(spark, dir, tables, maxRetries, meta,
      replaceTables = tables.keySet, partitionBy, requireVersion)

  /** Mixed-mode commit: `append` tables add files to their prior list,
    * `replace` tables' new files become their full content — all in ONE
    * atomic snapshot. The shape a log-compacting job needs (e.g. the
    * streaming failure re-drive: healed triples APPEND while the shrunk
    * failure log REPLACES its accumulated rows — committing them separately
    * would open a window where a crash leaves triples without the log
    * update, exactly the torn state the snapshot store exists to prevent).
    * A table named in both maps is an error. */
  def commitMixed(spark: SparkSession, dir: String,
                  append: Map[String, DataFrame],
                  replace: Map[String, DataFrame], maxRetries: Int = 10,
                  meta: Map[String, String] = Map.empty,
                  partitionBy: Map[String, Seq[String]] = Map.empty,
                  requireVersion: Option[Int] = None): Int = {
    val both = append.keySet.intersect(replace.keySet)
    require(both.isEmpty, s"tables in both append and replace: $both")
    commitInternal(spark, dir, append ++ replace, maxRetries, meta,
      replaceTables = replace.keySet, partitionBy, requireVersion)
  }

  private def commitInternal(spark: SparkSession, dir: String,
             tables: Map[String, DataFrame], maxRetries: Int,
             meta: Map[String, String], replaceTables: Set[String],
             partitionBy: Map[String, Seq[String]] = Map.empty,
             requireVersion: Option[Int] = None): Int = {
    val f = fs(spark, dir)
    var attempt = 0
    while (attempt < maxRetries) {
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
      val staged: Map[String, Seq[String]] = tables.map { case (name, df) =>
        val stageDir = s"$dir/stage/v$v-$token/$name"
        val writer = partitionBy.get(name) match {
          case Some(cols) if cols.nonEmpty => df.write.partitionBy(cols: _*)
          case _ => df.write
        }
        writer.mode("overwrite").parquet(stageDir)
        // partitioned stages nest files under col=value/ subdirectories —
        // walk the tree so the manifest records every leaf
        name -> walk(f, new Path(stageDir))
          .collect { case s if s.isFile && s.getPath.getName.endsWith(".parquet") =>
            s.getPath.toString }
          .sorted
      }
      val prevSnap: Option[Snapshot] =
        if (base == 0) None else Some(readSnapshot(spark, dir, base))
      val prev: Map[String, Seq[String]] = prevSnap.map(_.tables).getOrElse(Map.empty)
      val merged = (prev.keySet ++ staged.keySet).map { t =>
        val carried =
          if (replaceTables.contains(t) && staged.contains(t)) Nil
          else prev.getOrElse(t, Nil)
        t -> (carried ++ staged.getOrElse(t, Nil))
      }.toMap
      // meta: prior snapshot's meta carries forward, new keys win — in BOTH
      // commit modes. Append commits must inherit too: a non-streaming
      // appender writing into a store also fed by commitBatchTables would
      // otherwise overwrite the head meta wholesale, dropping the batch_id
      // watermark and re-admitting replayed micro-batches (the exact
      // failure the replace-mode carry-forward guards against).
      val mergedMeta = prevSnap.map(_.meta).getOrElse(Map.empty) ++ meta
      // publish: temp write + atomic rename; rename-to-existing fails =>
      // another writer won this version, retry against the new head
      val tmp = new Path(s"$dir/snapshots/.tmp-v$v-${Thread.currentThread().getId}.json")
      f.mkdirs(new Path(s"$dir/snapshots"))
      val out = f.create(tmp, true)
      try out.write(render(Snapshot(v, merged, mergedMeta)).getBytes("UTF-8")) finally out.close()
      if (f.rename(tmp, snapshotPath(dir, v))) return v
      f.delete(tmp, false)
      attempt += 1
    }
    throw new IllegalStateException(s"snapshot commit lost $maxRetries races in $dir")
  }

  /** Small-file compaction (the `rewrite_data_files` of the Iceberg
    * maintenance lifecycle): every commit APPENDS at least one file per
    * touched table, so a long-lived store — a streaming sink committing
    * per micro-batch, a 64-shard fleet committing per shard run —
    * accumulates an unboundedly growing manifest file list, and scan
    * planning plus per-file open cost grow with it even when the DATA
    * volume is stable. This rewrites each named table's current content
    * into a fresh compact file set (optionally re-partitioned, e.g.
    * `url_bucket` so manifest pruning keeps working) and publishes it as
    * one replace-mode snapshot. Readers of older versions still see the
    * old files (time travel); [[expireSnapshots]] reclaims them later.
    * Pure file-layout maintenance: the row set is byte-identical, so it
    * composes with any schedule and needs no oracle of its own.
    * Returns the committed version, None when no named table has data. */
  def rewriteTables(spark: SparkSession, dir: String, tables: Seq[String],
                    coalesceTo: Int = 8,
                    stage: Map[String, DataFrame => (DataFrame, Seq[String])] = Map.empty): Option[Int] = {
    val readVersion = currentVersion(spark, dir)
    val present = tables.flatMap(t =>
      read(spark, dir, t, Some(readVersion).filter(_ > 0)).map(t -> _)).toMap
    if (present.isEmpty) return None
    // default staging: coalesce to a small bounded file count, no
    // partitioning. `stage` overrides per table with (staged frame,
    // partition columns) — the hook a caller uses to re-establish a
    // partition layout the file data alone cannot express (e.g. a bucket
    // recomputed from a key column, KgPipeline.compactStoreFiles).
    val staged = present.map { case (t, df) =>
      t -> stage.get(t).map(_(df))
        .getOrElse((df.coalesce(math.max(1, coalesceTo)), Seq.empty[String]))
    }
    Some(commitReplace(spark, dir, staged.view.mapValues(_._1).toMap,
      meta = Map("compaction" -> "rewrite"),
      partitionBy = staged.collect {
        case (t, (_, cols)) if cols.nonEmpty => t -> cols
      },
      requireVersion = Some(readVersion)))
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

  // ---- minimal deterministic JSON (no extra deps) -------------------------

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def render(s: Snapshot): String = {
    val tables = s.tables.toSeq.sortBy(_._1).map { case (t, files) =>
      s"${q(t)}: [${files.map(q).mkString(", ")}]"
    }.mkString(", ")
    val meta = s.meta.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${q(k)}: ${q(v)}"
    }.mkString(", ")
    s"""{"version": ${s.version}, "meta": {$meta}, "tables": {$tables}}"""
  }

  private def parse(json: String, v: Int): Snapshot = {
    // manifests are machine-written by render(); parse with the same
    // constrained shape (string lists keyed by table name)
    val tableRe = """"([^"]+)":\s*\[([^\]]*)\]""".r
    val fileRe = """"((?:[^"\\]|\\.)*)"""".r
    val body = json.substring(json.indexOf("\"tables\""))
    val tables = tableRe.findAllMatchIn(body).filterNot(_.group(1) == "tables")
      .map { m =>
        val files = fileRe.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq
        m.group(1) -> files
      }.toMap
    val meta = {
      val mi = json.indexOf("\"meta\"")
      if (mi < 0) Map.empty[String, String]
      else {
        val metaBody = json.substring(mi, json.indexOf("\"tables\""))
        val kvRe = """\"([^"]+)\":\s*\"((?:[^"\\]|\\.)*)\"""".r
        kvRe.findAllMatchIn(metaBody).filterNot(_.group(1) == "meta")
          .map(m => m.group(1) -> m.group(2)).toMap
      }
    }
    Snapshot(v, tables, meta)
  }
}
