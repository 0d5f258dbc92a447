package graft.tables

import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.column.statistics._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNull, LessThan, LessThanOrEqual, Literal, Or, StartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Snapshot-versioned Parquet table with an atomic file-system commit log —
 * the native replacement for the transactional-table capability the
 * reference outsources to Hudi/Iceberg/Delta (reference:
 * `hudi/hudi_scd_script.py:30-49`, `iceberg/iceberg_scd_script.py:34-37`,
 * `delta/delta_scd_script.py:37-43`; see SURVEY.md §7.2).
 *
 * Layout under `root`:
 * {{{
 *   _log/00000000000000000001.json   commit entries (version-ordered)
 *   _tmp/commit-<uuid>.json          in-flight commit payloads (ignored by readers)
 *   data/<uuid>/part-*.parquet       immutable data directories
 * }}}
 *
 * Each commit entry records the **explicit list of live parquet files with
 * per-file, per-column min/max statistics** (O(files) metadata, never
 * O(rows) — SURVEY.md §4.3), the table schema, and the action. Stats are
 * harvested from the parquet footers of just-written files on the driver —
 * footer reads only, no data scan — and enable file-level data skipping on
 * [[scan]] (the reference formats' data-skipping behavior behind the
 * Athena "80 KB scanned" point lookups, `image/hudi_cow_query.png`).
 *
 * Commit protocol (local FS): the full entry is written to `_tmp/`, then
 * *hard-linked* into its `_log/<version>.json` slot — `link(2)` fails
 * atomically with EEXIST if the slot is taken, and the destination appears
 * with its complete content in one syscall. A losing concurrent writer gets
 * [[SnapshotTable.ConcurrentCommitException]] (the local stand-in for the
 * reference's DynamoDB optimistic lock, `hudi/hudi_scd_script.py:41-48`).
 * On non-local filesystems the claim is `fs.create(dest, overwrite=false)`
 * (atomic slot claim on HDFS-compatible stores). Readers only ever see
 * fully-committed file lists, so overwrite/createOrReplace is atomic
 * (`iceberg/iceberg_scd_script.py:37` semantics), and orphaned data dirs
 * from failed writes are invisible and GC-able.
 *
 * Snapshot resolution: every operation resolves the table state ONCE,
 * as one immutable [[SnapshotTable.Snapshot]], and answers everything —
 * schema, files, DVs, deltas, properties — from it. Writers use the
 * strict head ([[latest]]): a torn newest slot fails the write rather
 * than letting it build on an older version. Read-only APIs use the
 * torn-tolerant head ([[readable]]), which falls back past a torn newest
 * slot. History — time travel, the change feed, restore, tags, vacuum —
 * uses [[snapshotAt]].
 *
 * Scale notes (100 TB target):
 *  - `append` commits only the new files — no rewrite, O(1) data moved.
 *  - `upsert`/`merge` (graft.ops) rewrite only *touched* files
 *    (copy-on-write at file granularity, like Delta's two-job MERGE,
 *    SURVEY.md §3.2) and carry the untouched file list forward.
 *  - All data movement happens in executors; the driver handles commit
 *    metadata only (footer stats are O(new files) per commit).
 */
class SnapshotTable private (
    val spark: SparkSession,
    val root: String,
    /** `Some(branch)` when this handle addresses a named branch: commits
     *  go to the branch's own log under `_refs/branch/<name>/_log` while
     *  data files share the main table's `data/` dir (zero-copy fork,
     *  Iceberg branch semantics). `None` = the main table. */
    val branchName: Option[String] = None) {

  import SnapshotTable._

  private val rootPath = new Path(root)
  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()
  private def fs: FileSystem = rootPath.getFileSystem(hadoopConf)
  private def logDir = branchName match {
    case None => new Path(rootPath, "_log")
    case Some(b) => new Path(rootPath, s"_refs/branch/$b/_log")
  }
  private def tmpDir = new Path(rootPath, "_tmp")
  private def dataDir = new Path(rootPath, "data")

  /** Registered view names to refresh on every commit (catalog sync,
   *  reference `hoodie.datasource.hive_sync.*`, `hudi/hudi_scd_script.py:35-40`). */
  @volatile private var syncedViews: List[String] = Nil

  // ---------------------------------------------------------------- commits

  /** Latest committed version, or -1 if the table is empty/uninitialized. */
  def currentVersion(): Long =
    probeLatest().getOrElse(listVersions().lastOption.getOrElse(-1L))

  // ----------------------------------------------------- latest-version hint
  // The read hot path must not pay an O(#commits) log LIST per snapshot
  // resolution (on an object store a LIST is paginated and slow; a table
  // with 10⁵ commits would spend more time listing metadata than reading
  // data). Committers leave an ADVISORY hint with the version they just
  // published; readers existence-probe forward from it — O(1 +
  // commits-since-hint) point lookups instead of a directory listing.
  // The hint carries no authority: stale → probe forward finds the true
  // head (the retained tail is contiguous: CAS slots increment by one,
  // vacuum only expires from the oldest end, restore copies forward);
  // torn/garbage/ahead-of-truth/missing → fall back to the full listing.
  // Losing every hint write forever only costs performance, never
  // correctness.

  private def hintPath = new Path(logDir, "_latest_hint")

  /** Best-effort: failure to persist the hint must never fail a commit. */
  private def writeHint(v: Long): Unit =
    try {
      val out = fs.create(hintPath, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case NonFatal(_) => () }

  private def readHint(): Option[Long] =
    try {
      if (!fs.exists(hintPath)) None
      else {
        val in = fs.open(hintPath)
        val bytes = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
          out.toByteArray
        } finally in.close()
        new String(bytes, "UTF-8").trim.toLongOption.filter(_ >= 0)
      }
    } catch { case NonFatal(_) => None }

  /** Newest version via hint + forward probes; None → caller must list. */
  private def probeLatest(): Option[Long] =
    readHint().flatMap { h =>
      if (!fs.exists(slotPath(h))) None // ahead of truth or expired: re-list
      else {
        var v = h
        while (fs.exists(slotPath(v + 1))) v += 1
        Some(v)
      }
    }

  private def slotPath(v: Long) = new Path(logDir, f"$v%020d.json")

  private def listVersions(): Seq[Long] = {
    if (!fs.exists(logDir)) return Nil
    fs.listStatus(logDir).toSeq
      .map(_.getPath.getName)
      // strict match: crash-orphaned tmp/garbage names must never break
      // reads — incl. all-digit names beyond Long range (toLongOption)
      .filter(_.matches("\\d{1,20}\\.json"))
      .flatMap(_.stripSuffix(".json").toLongOption)
      .sorted
  }

  private[graft] def commitEntry(version: Long): CommitEntry = {
    val p = new Path(logDir, f"$version%020d.json")
    // parsed-entry cache, keyed by the slot file's identity (mtime+len —
    // the dvPosCache incarnation rule): a committed slot is immutable,
    // but the json4s parse of a large manifest is O(files) driver work
    // paid per scan build otherwise (~0.1 s/10³ files — at 10⁵-file
    // snapshots, seconds per query). The identity probe is ONE status
    // round trip; any probe failure (expired slot, racing vacuum)
    // bypasses the cache so failure semantics are exactly the uncached
    // path's — a deleted slot still resolves from its tag or throws.
    val slotId =
      try {
        val st = fs.getFileStatus(p)
        Some((st.getModificationTime, st.getLen))
      } catch { case NonFatal(_) => None }
    slotId match {
      case Some(id) =>
        SnapshotTable.commitEntryCached(logDir.toString, version, id,
          () => readCommitEntry(p, version))
      case None => readCommitEntry(p, version)
    }
  }

  private def readCommitEntry(p: Path, version: Long): CommitEntry = {
    val bytes =
      try {
        val in = fs.open(p)
        try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          out.toByteArray
        } finally in.close()
      } catch {
        // slot expired by vacuum but version pinned by a tag: resolve from
        // the tag's embedded entry copy (branch handles share main's tags
        // only for versions at/below the fork, which is exactly when the
        // slot can have been main-log-expired)
        case e: java.io.FileNotFoundException =>
          return tagEntryFor(version).getOrElse(throw e)
      }
    CommitEntry.fromJson(new String(bytes, "UTF-8"))
  }

  /** The strict head — the writers' resolver: a torn newest slot throws
   *  instead of letting a commit build on an older version. None for an
   *  empty table. */
  private[graft] def latest(): Option[Snapshot] = {
    val v = currentVersion()
    if (v < 0) None else Some(Snapshot(v, commitEntry(v)))
  }

  /** [[latest]] of a table that must not be empty. */
  private[graft] def head(): Snapshot = required(latest())

  /** The committed state at `version` — the history resolver (time
   *  travel, change feed, restore, tags, vacuum). */
  private[graft] def snapshotAt(version: Long): Snapshot =
    if (version < 0) required(None) else Snapshot(version, commitEntry(version))

  /** `s`, or the one empty-table failure every resolver shares. */
  private[graft] def required(s: Option[Snapshot]): Snapshot =
    s.getOrElse(throw new IllegalArgumentException(s"requirement failed: table $root is empty"))

  /**
   * The torn-tolerant head — the read-only APIs' resolver: the newest
   * version whose log entry parses. Tolerates a TORN newest entry only
   * (a concurrent non-local-FS writer has claimed the slot but not
   * finished writing content): readers fall back to version n-1 instead
   * of failing on partial JSON. Deeper corruption still throws — it is
   * data loss, not a race.
   */
  private[graft] def readable(): Option[Snapshot] = {
    // hint fast path: the newest version and (for the torn-head
    // fallback) its predecessor — the only two entries this method can
    // touch; the full listing is reserved for tables without a usable
    // hint. Vacuum retains one version past a torn head, so when v is
    // torn, v−1 is a retained readable entry exactly like in the
    // listing-based path.
    val versions: Seq[Long] = probeLatest() match {
      case Some(last) =>
        if (last >= 1 && fs.exists(slotPath(last - 1))) Seq(last - 1, last)
        else Seq(last)
      case None => listVersions()
    }
    if (versions.isEmpty) return None
    try Some(Snapshot(versions.last, commitEntry(versions.last)))
    catch {
      case NonFatal(e) if versions.size >= 2 =>
        val prev = versions(versions.size - 2)
        Some(Snapshot(prev, commitEntry(prev)))
    }
  }

  /** The commit-slot CAS implementation — filesystem-native by default;
   *  object-store deployments swap in a conditional-put/lock-service
   *  impl via [[withCommitLock]] per handle, or session-wide with
   *  `spark.graft.commitLock=<class>` (see [[CommitLock]] and
   *  [[SnapshotTable.sessionLock]]) — the configuration seam that
   *  covers tables resolved by the DSv2 catalog / SQL commands, where
   *  no caller holds the handle to call withCommitLock on. */
  @volatile private var commitLock: CommitLock = SnapshotTable.sessionLock(spark)

  /** Use `lock` as this table's commit CAS (e.g. a conditional-put
   *  implementation for S3/GCS). Returns this table. */
  def withCommitLock(lock: CommitLock): SnapshotTable = {
    commitLock = lock
    this
  }

  /** Atomically publish `entry` as version `version` — the CAS on the
   *  commit slot is delegated to the pluggable [[CommitLock]]. */
  private def writeCommit(version: Long, entryIn: CommitEntry): Unit = {
    val entry = entryIn.copy(ts = Some(System.currentTimeMillis()))
    fs.mkdirs(logDir)
    val dest = new Path(logDir, f"$version%020d.json")
    try graft.ext.PhaseLog.timed("cas")(
      commitLock.publish(fs, dest, tmpDir, entry.toJson.getBytes("UTF-8")))
    catch {
      case e: ConcurrentCommitException =>
        throw new ConcurrentCommitException(
          s"version $version of $root was committed concurrently", e)
    }
    writeHint(version)
    // branch commits must NOT republish the root-level symlink manifest:
    // external readers consume the PUBLISHED (main) state, and a branch's
    // audit-in-progress file list would leak out of the WAP fence
    if (branchName.isEmpty) publishSymlinkManifest(entry)
    refreshViews()
  }

  /**
   * Symlink-manifest publication (the artifact the reference generates so
   * external engines can consume the table, `delta/delta_scd_script.py:
   * 42-43,57-60` `generate symlink_format_manifest`): one live data-file
   * path per line at `_symlink_format_manifest/manifest`, rewritten on
   * every commit while table property `graft.symlink.manifest=true`, and
   * removed again once the property is unset. O(files) metadata written
   * by the committer only — no job.
   *
   * Semantics for external readers: the manifest is the READ-OPTIMIZED
   * view — base files only, like Hudi's `_ro` table. While MoR deltas are
   * pending ([[upsertDeferred]]), the base is behind the real-time view
   * by exactly those deltas; [[applyDeltas]] folds them in and republishes.
   * Publication is atomic (tmp file + rename), so a concurrent external
   * read never sees a torn list; under racing committers the file is
   * last-writer-wins and self-heals on the next commit.
   */
  private def publishSymlinkManifest(entry: CommitEntry): Unit = {
    val dir = new Path(rootPath, "_symlink_format_manifest")
    val dest = new Path(dir, "manifest")
    if (entry.dvFiles.exists(_.nonEmpty)) {
      // a path-list manifest cannot express positional deletes; an
      // external reader following it would resurrect DV-deleted rows.
      // Delta fails manifest generation on DV tables for the same
      // reason; the auto-publication path skips with a warning instead
      // of failing the commit. purgeDeletionVectors() restores it.
      if (entry.properties.exists(_.get("graft.symlink.manifest").contains("true")))
        Console.err.println(s"graft: symlink manifest for $root skipped — " +
          "deletion vectors present; purgeDeletionVectors() to re-enable")
      return
    }
    if (entry.properties.exists(_.get("graft.symlink.manifest").contains("true"))) {
      fs.mkdirs(dir)
      val tmp = new Path(dir, s".manifest-${UUID.randomUUID().toString.take(12)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(entry.files.map(_.path).mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, dest)) { // HDFS rename won't replace: retry once
        fs.delete(dest, false)
        if (!fs.rename(tmp, dest)) { fs.delete(tmp, false)
          throw new java.io.IOException(s"could not publish $dest") }
      }
    } else if (fs.exists(dest)) {
      fs.delete(dest, false) // property unset: stop advertising stale paths
    }
  }

  /** Force-publish the symlink manifest for the current snapshot regardless
   *  of the `graft.symlink.manifest` property — the one-shot form of the
   *  reference's `GENERATE symlink_format_manifest FOR TABLE`
   *  (`delta/delta_scd_script.py:42-43`). A later commit without the
   *  property removes the artifact again (a stale path list is worse than
   *  none for external readers). Returns the manifest file path. */
  def generateSymlinkManifest(): String = {
    val entry = required(readable()).entry
    publishSymlinkManifest(entry.copy(properties =
      Some(entry.properties.getOrElse(Map.empty) + ("graft.symlink.manifest" -> "true"))))
    new Path(rootPath, "_symlink_format_manifest/manifest").toString
  }

  private def refreshViews(): Unit =
    syncedViews.foreach(v => read().createOrReplaceTempView(v))

  // ----------------------------------------------------------------- writes

  /**
   * CHECK-constraint enforcement (Delta `ALTER TABLE … ADD CONSTRAINT`
   * semantics, expressed through table properties so the existing
   * SET TBLPROPERTIES surface — API and SQL — manages them): every
   * property `graft.constraint.<name> = <boolean SQL expr>` must hold for
   * every row written by any commit path. The check is embedded in the
   * write projection itself (a `raise_error` guard folded into the first
   * output column) — one pass, codegen'd, no separate validation job; a
   * violating row fails the write job, so NO commit happens and the
   * partial data dir is invisible to readers and vacuum-reclaimable.
   * NULL results pass, matching SQL CHECK semantics (use
   * `col IS NOT NULL` for NOT NULL enforcement).
   */
  /**
   * Identity columns (Delta `GENERATED {ALWAYS|BY DEFAULT} AS IDENTITY`
   * through table properties): `graft.identity.<col> = "start,step,
   * allowExplicit"`. NULL (= omitted — both the DSv2 writer and the
   * append alignment NULL-fill omitted columns) values are assigned
   * `basis + step · monotonically-increasing-row-id`: unique and
   * monotone per write, with GAPS (Delta's identity contract — ids are
   * never promised contiguous). The basis derives from the live
   * manifest's per-file stats for the column — the table's own bounds
   * ARE the high-water mark, so there is no extra transactional state
   * and no extra pass; a live file without usable stats for the column
   * degrades to one max/min scan. `GENERATED ALWAYS`
   * (allowExplicit=false) rejects explicit non-NULL values via the
   * CHECK raise_error mechanism; `BY DEFAULT` keeps them.
   *
   * Concurrency: identity-bearing appends never blind-rebase onto a new
   * head after losing the commit race — the basis was computed against
   * the old head, so re-committing the same files could duplicate ids.
   * The ConcurrentCommitException surfaces and the caller recomputes
   * against the fresh snapshot ([[appendRebaseSafe]] guard).
   */
  private def applyIdentityColumns(
      df: DataFrame,
      cur: Option[Snapshot],
      props: Map[String, String],
      strict: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, monotonically_increasing_id, raise_error, when}
    val ids = props.collect {
      case (k, v) if k.startsWith("graft.identity.") =>
        (k.stripPrefix("graft.identity."), v)
    }.toSeq.sortBy(_._1)
    if (ids.isEmpty) return df
    ids.foldLeft(df) { case (d, (c, spec)) =>
      val parts = spec.split(",")
      require(parts.length == 3, s"malformed identity spec for '$c': $spec")
      val (start, step, allow) = (parts(0).toLong, parts(1).toLong, parts(2).toBoolean)
      require(step != 0, s"identity column '$c': step must be non-zero")
      val basis = identityBasis(cur, cur.fold(c)(_.mapping.getOrElse(c, c)), start, step)
      val assigned = (lit(basis) + lit(step) * monotonically_increasing_id())
      d.schema.fields.find(_.name.equalsIgnoreCase(c)) match {
        case None => d.withColumn(c, assigned)
        case Some(f) =>
          val fill = assigned.cast(f.dataType)
          // `strict` only on USER INGEST (append/insert/overwrite):
          // internal rewrite paths — compact, CoW update/delete, merge,
          // MoR batches, Z-order — re-write rows that legitimately carry
          // their already-assigned ids, so there GENERATED ALWAYS must
          // keep non-NULL values (and still fill merge-inserted NULLs)
          d.withColumn(f.name,
            if (allow || !strict) coalesce(col(f.name), fill)
            else when(col(f.name).isNull, fill)
              .otherwise(raise_error(lit(
                s"identity column '${f.name}' is GENERATED ALWAYS — " +
                  "explicit values are not allowed; omit the column"))
                .cast(f.dataType)))
      }
    }
  }

  /** First value the next write may assign for identity column `c`
   *  (PHYSICAL stats name): one step past the table's own bound in the
   *  step's direction, never before `start`. Files whose stats are
   *  unusable for the column force one bound scan; files where the
   *  column is all-NULL or absent constrain nothing. */
  private def identityBasis(
      cur: Option[Snapshot], c: String, start: Long, step: Long): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    val snap = cur.getOrElse(return start)
    val entries = snap.files ++ snap.entry.deltaFiles.getOrElse(Nil)
    if (entries.isEmpty) return start
    def pick(s: ColStats) = if (step > 0) s.max else s.min
    val unusable = entries.exists(e => e.rows < 0 ||
      (e.rows > 0 && !e.stats.contains(c)))
    val edge: Option[Long] =
      if (unusable) {
        val row = view(snap).agg(
          (if (step > 0) max(col(c)) else min(col(c))).cast("long")).head()
        if (row.isNullAt(0)) None else Some(row.getLong(0))
      } else {
        val bounds = entries.flatMap(e => e.stats.get(c).flatMap(pick)).map(_.toLong)
        if (bounds.isEmpty) None
        else Some(if (step > 0) bounds.max else bounds.min)
      }
    edge match {
      case None => start
      case Some(v) =>
        if (step > 0) math.max(start, v + step) else math.min(start, v + step)
    }
  }

  /**
   * Generated columns (Delta `GENERATED ALWAYS AS` semantics through
   * table properties): every `graft.generated.<col> = <SQL expr>` is
   * computed in the write projection. A write that omits the column
   * gets the computed value (both the DSv2 writer and [[append]]'s
   * alignment NULL-fill omitted nullable columns before this point, so
   * NULL means "not provided"); a provided non-NULL value must agree
   * with the expression or the write fails via the same one-pass
   * `raise_error` mechanism as CHECK constraints — no commit happens,
   * no separate validation job. Runs BEFORE constraint enforcement so
   * constraints may reference generated columns.
   */
  private def applyGeneratedColumns(df: DataFrame, props: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, raise_error, when}
    val gens = props.collect {
      case (k, v) if k.startsWith("graft.generated.") =>
        (k.stripPrefix("graft.generated."), v)
    }.toSeq.sortBy(_._1)
    if (gens.isEmpty) return df
    gens.foldLeft(df) { case (d, (c, sql)) =>
      val computed = expr(sql)
      if (!d.columns.exists(_.equalsIgnoreCase(c))) d.withColumn(c, computed)
      else {
        val declared = d.schema.fields.find(_.name.equalsIgnoreCase(c)).get
        d.withColumn(declared.name,
          when(col(declared.name).isNull || (col(declared.name) <=> computed),
            computed.cast(declared.dataType))
            .otherwise(raise_error(lit(
              s"generated column '${declared.name}' value conflicts with its " +
                s"expression ($sql) — omit the column or write the computed value"))
              .cast(declared.dataType)))
      }
    }
  }

  private def enforceConstraints(df: DataFrame, props: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, raise_error, when}
    val checks = props.collect {
      case (k, v) if k.startsWith("graft.constraint.") =>
        (k.stripPrefix("graft.constraint."), v)
    }.toSeq.sortBy(_._1)
    if (checks.isEmpty) return df
    val head = df.schema.fields.head
    val guarded = checks.foldLeft(col(head.name)) { case (acc, (name, sql)) =>
      coalesce(
        when(!expr(sql),
          raise_error(lit(s"CHECK constraint '$name' violated: $sql"))
            .cast(head.dataType)),
        acc)
    }
    df.withColumn(head.name, guarded)
  }

  /** Write `df` into a fresh immutable data dir; return per-file entries
   *  with footer-harvested column stats.
   *
   *  Table property `graft.bloom.columns` (comma-separated names) turns on
   *  parquet bloom filters for those columns — row-group-level point-lookup
   *  skipping on high-cardinality columns whose min/max ranges are too wide
   *  for manifest stats pruning to bite (the reference formats expose the
   *  same knob: Hudi bloom indexes / `write.parquet.bloom-filter-enabled`
   *  in Iceberg). Sizing is adaptive by observed NDV unless
   *  `graft.bloom.ndv.<col>` pins the expected cardinality. Readers need
   *  no cooperation: Spark's parquet scan consults bloom filters during
   *  row-group filtering whenever a pushed equality predicate matches. */
  private def writeDataDir(dfIn: DataFrame,
      cur: Option[Snapshot],
      mappingOverride: Option[Map[String, String]] = None,
      strictIdentity: Boolean = false,
      bucketRouted: Option[(Int, Seq[String], Seq[String])] = None,
      timeSubs: Seq[String] = Nil): Seq[FileEntry] = {
    // the operation's snapshot serves the CHECK constraints, the bloom
    // options, and the column mapping
    val props = cur.fold(Map.empty[String, String])(_.properties)
    val mapping = mappingOverride.getOrElse(cur.fold(Map.empty[String, String])(_.mapping))
    val checked = enforceConstraints( // constraints are LOGICAL
      applyGeneratedColumns(
        applyIdentityColumns(dfIn, cur, props, strict = strictIdentity),
        props), props)
    // files always carry PHYSICAL names so every live file stays uniform
    // across renames (full-rewrite paths pass Some(Map.empty) to reset
    // physical = logical)
    val df = if (mapping.isEmpty) checked
      else checked.select(checked.columns.toSeq.map(c => org.apache.spark.sql
        .functions.col(c).as(mapping.getOrElse(c, c))): _*)
    val dir = new Path(dataDir, UUID.randomUUID().toString.take(12))
    // (logical name for the ndv property lookup, physical for the writer)
    val bloomCols = props.get("graft.bloom.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .flatMap { logical =>
        val phys = mapping.find(_._1.equalsIgnoreCase(logical)).map(_._2)
          .getOrElse(logical)
        // exact name first — a case-sibling column must not donate its
        // values to this column's bloom (the bloom PRUNES reads)
        SnapshotTable.pickName(df.schema.fieldNames, phys).map(logical -> _)
      }
    // hybrid routed layout (bucket + identity sub-partitions): the
    // writer's dynamic partitioning splits each routed task's output so
    // every file holds exactly ONE value per identity column. The split
    // runs on DUPLICATED throwaway columns — dir-encoded partition
    // columns are dropped from file bodies, and the real columns must
    // stay in the data (raw path reads never consult directory names).
    // Part numbering is per (task, dir), so a file's part number is
    // still its routing-task index = its bucket id. The scan later
    // re-derives each file's identity value from its exact stats
    // (single-valued column), so the dirs themselves carry no contract.
    // `timeSubs` drives the same per-value split for NON-bucketed
    // time-transform layouts (`PARTITIONED BY (months(ts))` alone): the
    // range shuffle applyCluster runs is only a best-effort period
    // split — AQE coalesces small shuffle partitions, so without the
    // writer-side split a small append lands periods together in one
    // file and the period-provability invariant (trunc(min) ==
    // trunc(max) per file) silently degrades to "nothing servable".
    val subParts: Seq[(String, Column)] = (bucketRouted match {
      case Some((_, _, subs)) => subs
      case None => timeSubs
    }) match {
      case subs if subs.nonEmpty =>
        subs.map { entry =>
          val logical = ClusterTransform.sourceColumns(entry).head
          val phys = mapping.find(_._1.equalsIgnoreCase(logical)).map(_._2)
            .getOrElse(logical)
          val p = SnapshotTable.pickName(df.schema.fieldNames, phys)
            .getOrElse(throw new IllegalStateException(
              s"routed write: sub-partition column $logical missing from frame"))
          // identity entries split on the raw column; time transforms on
          // the truncated time (the file then provably holds ONE period)
          val splitExpr = ClusterTransform.timeEntry(entry) match {
            case Some((unit, _)) => org.apache.spark.sql.functions.date_trunc(
              unit.stripSuffix("s").toUpperCase,
              org.apache.spark.sql.functions.col(p))
            case None => org.apache.spark.sql.functions.col(p)
          }
          (s"__gpart_$logical", splitExpr)
        }
      case _ => Nil
    }
    val toWrite = subParts.foldLeft(df) { case (d, (dup, e)) =>
      d.withColumn(dup, e)
    }
    var writer = toWrite.write.mode("overwrite")
    if (subParts.nonEmpty) writer = writer.partitionBy(subParts.map(_._1): _*)
    if (bloomCols.nonEmpty) {
      writer = writer.option("parquet.bloom.filter.adaptive.enabled", "true")
      val ndvByCol = props.collect {
        case (k, v) if k.toLowerCase.startsWith("graft.bloom.ndv.") =>
          k.substring("graft.bloom.ndv.".length).toLowerCase -> v
      }
      bloomCols.foreach { case (logical, phys) =>
        writer = writer.option(s"parquet.bloom.filter.enabled#$phys", "true")
        ndvByCol.get(logical.toLowerCase).foreach(ndv =>
          writer = writer.option(s"parquet.bloom.filter.expected.ndv#$phys", ndv))
      }
    }
    // Spark's default INT96 timestamps carry no parquet min/max stats and
    // would defeat data skipping on timestamp columns — write INT64 micros.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try graft.ext.PhaseLog.timed("write_job")(writer.parquet(dir.toString))
    finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    val conf = hadoopConf
    // Flatten dynamic sub-partition output into the write dir under
    // UNIQUE names. The writer emits the SAME part-file name under
    // every value dir of one job (part number = task index), and the
    // engine keys several invariants by file NAME — deletion-vector
    // sidecars, update-rewrite carry lists, purge's touched set — so a
    // name collision inside one commit silently cross-applies positions
    // between sibling files and collapses name-keyed maps (first
    // surfaced as an UPDATE dropping two of a bucket's three day files
    // from the commit). Identity tuples derive from file STATS, never
    // directory names, so the dirs carry nothing once the files move.
    if (subParts.nonEmpty) {
      var i = 0
      def flatten(d: Path): Unit =
        fs.listStatus(d).foreach { s =>
          if (s.isDirectory) flatten(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet")) {
            // keep the part-NNNNN token intact: the bucket stamp below
            // parses it (unanchored) as the routing-task index
            val target = new Path(dir, s"g$i-${s.getPath.getName}")
            require(fs.rename(s.getPath, target),
              s"flattening sub-partitioned write: rename failed for ${s.getPath}")
            i += 1
          }
        }
      fs.listStatus(dir).filter(_.isDirectory).foreach { s =>
        flatten(s.getPath)
        fs.delete(s.getPath, true)
      }
    }
    // footer stats come back keyed by the PHYSICAL names just written —
    // remap to logical so ALL commit metadata stays logically keyed
    val toLogical = mapping.map(_.swap)
    val entries = graft.ext.PhaseLog.timed("harvest")(readFooterStatsAll(
      fs.listStatus(dir).toSeq
        .filter(s => s.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName), conf,
      trustExact = true)) // our own writer: untruncated string bounds are verbatim
      .map(fe => if (toLogical.isEmpty) fe
        else fe.copy(stats = fe.stats.map { case (k, v) =>
          toLogical.getOrElse(k, k) -> v }))
      // zero-row part files carry no data and defeat stats pruning — drop
      // them from the manifest (rows == -1 means "stats unknown": keep)
      .filter(_.rows != 0L)
    // identity-routed bucket writes ([[applyCluster]]): the part number
    // IS the partition index IS the bucket transform value — record it
    // so the scan can group files by bucket (storage-partitioned join)
    // without re-deriving hashes from data. NOT when the bucket column
    // is an identity or generated column: those are (re)computed in this
    // method AFTER the routing shuffle, so rows routed on pre-assignment
    // values could land in the "wrong" file and a stamped id would lie —
    // the silent wrong-join-answer SPJ must never risk. Unstamped files
    // simply keep the layout unreported (shuffle plan, correct).
    val stamped = bucketRouted match {
      case Some((n, cols, _)) if !cols.exists(c => props.keys.exists(k =>
          k.equalsIgnoreCase(s"graft.identity.$c") ||
            k.equalsIgnoreCase(s"graft.generated.$c"))) =>
        val PartNum = "part-(\\d+)".r.unanchored
        entries.map { fe =>
          fe.copy(bucket = new Path(fe.path).getName match {
            case PartNum(i) => scala.util.Try(i.toInt).toOption.filter(_ < n)
            case _ => None
          })
        }
      case _ => entries
    }
    attachManifestBlooms(stamped, bloomCols, props)
  }

  /** Manifest-level bloom filters ([[FileBloom]]): with
   *  `graft.bloom.manifest=true`, harvest one filter per (new file,
   *  bloom column) in ONE distributed job over the just-written files —
   *  planner-side file skipping for point lookups, the Hudi bloom-index
   *  role on top of the row-group filters the writer already emitted.
   *  Cost: one extra scan of the indexed columns of the new files,
   *  commit-time only. Any harvest failure degrades to "no filter". */
  private def attachManifestBlooms(
      entries: Seq[FileEntry],
      bloomCols: Seq[(String, String)],
      props: Map[String, String]): Seq[FileEntry] = {
    if (bloomCols.isEmpty || entries.isEmpty ||
        !props.get("graft.bloom.manifest").contains("true")) return entries
    val maxBytes = props.get("graft.bloom.manifest.maxbytes")
      .flatMap(_.toLongOption).getOrElse(FileBloom.DefaultMaxBytes)
    val mBits = FileBloom.sizeBits(entries.map(_.rows).max, maxBytes)
    try {
      import org.apache.spark.sql.functions.{col, input_file_name}
      val shim = org.apache.spark.sql.graftshim.SparkInternals
      val aggs = bloomCols.map { case (logical, phys) =>
        shim.column(BloomBuild(shim.expr(col(phys)), mBits)
          .toAggregateExpression()).as(s"__bloom_$logical")
      }
      val rows = spark.read.parquet(entries.map(_.path): _*)
        .groupBy(input_file_name().as("__file"))
        .agg(aggs.head, aggs.tail: _*)
        .collect() // O(new files) rows, each O(mBits/8) — commit metadata
      // match by FILE NAME, not full path: input_file_name() returns a
      // URI-escaped string while FileStatus paths are unescaped, so a
      // root with a space/%/# would never full-path-match; part-file
      // names embed a per-job UUID, unique within this commit's dir
      val byName = rows.map { r =>
        new Path(r.getString(0)).getName ->
          bloomCols.zipWithIndex.map { case ((logical, _), i) =>
            logical -> r.getString(i + 1)
          }.toMap
      }.toMap
      entries.map { fe =>
        byName.get(new Path(fe.path).getName) match {
          case Some(m) => fe.copy(blooms = Some(m))
          case None => fe
        }
      }
    } catch {
      case NonFatal(e) =>
        // a failed harvest must not fail the commit: pruning just stays
        // min/max-only for these files
        Console.err.println(
          s"graft: manifest bloom harvest failed, committing without filters: $e")
        entries
    }
  }

  /** Full-replace (reference "bulk insert overwrite" S4/S7,
   *  `hudi/hudi_scd_script.py:66-70`, `delta/delta_scd_script.py:37-39`).
   *  The schema may change freely (full replace); table properties and
   *  the cluster spec carry forward. */
  def overwrite(df: DataFrame): SnapshotTable = {
    val prior = latest()
    val spec = prior.fold(Seq.empty[String])(_.clusterSpec)
    // full replace: write physical = logical and clear the column mapping
    // (renames are materialized), same lifecycle as the drop tombstones
    val files = writeDataDir(applyCluster(df, spec), prior, Some(Map.empty),
      strictIdentity = true, bucketRouted = routedBucket(df, spec),
      timeSubs = timeOnlySubs(df, spec))
    // a full replace leaves no file that could carry a dropped column's
    // old values — the drop-column tombstones have done their job
    val props = prior.flatMap(_.entry.properties)
      .map(_.filterNot(_._1.startsWith("graft.dropped."))).filter(_.nonEmpty)
    writeCommit(prior.fold(0L)(_.version + 1),
      CommitEntry("overwrite", df.schema.json, files, toOpt(spec), props))
    this
  }

  /** Overwrite WITHOUT re-applying the persisted cluster spec — for
   *  maintenance passes (e.g. [[graft.ext.ZOrder.optimize]]) that hand in
   *  data already laid out deliberately: the default overwrite would
   *  `repartitionByRange` on the table's `clusterBy` columns and silently
   *  destroy the layout just computed. Cluster spec and properties still
   *  carry forward in the commit metadata. `expectVersion` is the OCC
   *  guard for the caller's read-compute-commit sequence (the rewrite was
   *  derived from that snapshot); pending MoR deltas are rejected — this
   *  commit path would silently drop them. */
  private[graft] def overwritePreClustered(
      df: DataFrame, action: String = "overwrite",
      expectVersion: Option[Long] = None,
      rebaseDisjoint: Boolean = false): SnapshotTable = {
    val prior = computedAgainst(expectVersion, action, rebaseDisjoint)
    if (prior.exists(_.entry.deltaFiles.exists(_.nonEmpty)))
      throw new IllegalStateException(
        s"table $root has pending MoR deltas; call applyDeltas() before a maintenance rewrite")
    // full replace: physical = logical again, mapping cleared (see overwrite)
    val files = writeDataDir(df, prior, Some(Map.empty))
    // full replace: dropped-column tombstones are cleared (see overwrite)
    val props = prior.flatMap(_.entry.properties)
      .map(_.filterNot(_._1.startsWith("graft.dropped."))).filter(_.nonEmpty)
    // Z-ORDER's disjoint rebase (Delta's OPTIMIZE-vs-append rule): the
    // re-layout read the WHOLE v0 snapshot, so its sources are all of
    // v0's files; an interleaved blind append added files the rewrite
    // never read — carry them forward un-z-ordered (exactly the
    // z-order-then-append serial schedule). Only safe while physical =
    // logical everywhere: with a column mapping or dropped-column
    // tombstones in play, this commit REWRITES that metadata, which the
    // carried appended files were written under — conflict instead.
    val sources: Set[String] = prior.fold(Set.empty[String])(_.files.map(_.path).toSet)
    val rebaseOk = rebaseDisjoint &&
      prior.forall(p => p.mapping.isEmpty &&
        !p.properties.keys.exists(_.startsWith("graft.dropped.")))
    var baseV = prior.fold(-1L)(_.version)
    var carried: Seq[FileEntry] = Nil
    var attempts = 0
    // maintenance re-layout: same rows, so commit the PRIOR schema —
    // the re-laid frame round-tripped through a parquet read, whose
    // widened nullability must not loosen the table schema (see
    // replaceFiles' commitSchemaJson)
    val schemaJson = prior.fold(df.schema.json)(_.entry.schemaJson)
    while (true) {
      try {
        writeCommit(baseV + 1,
          CommitEntry(action, schemaJson, (carried ++ files).sortBy(_.path),
            prior.flatMap(_.entry.clusterBy), props,
            // a maintenance re-layout (the only caller) keeps the MoR
            // key/precombine TABLE config, like every replaceFiles
            // rewrite; deltas are guaranteed empty by the guard above
            morKeys = prior.flatMap(_.entry.morKeys),
            morPrecombine = prior.flatMap(_.entry.morPrecombine)))
        return this
      } catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          val head = readable()
          if (!rebaseOk || attempts >= 5 ||
              !head.exists(h => h.version > baseV &&
                prior.exists(p => maintenanceRebaseSafe(p.entry, h.entry, sources))))
            throw e
          SnapshotTable.occStats.rebases.incrementAndGet()
          baseV = head.get.version
          carried = head.get.files.filterNot(f => sources.contains(f.path))
      }
    }
    this
  }

  /** The snapshot a read-compute-commit operation computed against:
   *  `expectVersion` when given — a head that has moved past it is a
   *  conflict unless the caller may `rebase` — else the strict head. */
  private def computedAgainst(
      expectVersion: Option[Long], action: String, rebase: Boolean): Option[Snapshot] =
    expectVersion match {
      case None => latest()
      case Some(e) =>
        val v = currentVersion()
        if (e != v && !rebase) throw new ConcurrentCommitException(
          s"table $root advanced from version $e to $v since this $action was " +
            "computed; retry against the fresh snapshot")
        if (e < 0) None else Some(snapshotAt(e))
    }

  /** Append-only commit: carries prior files forward, adds the new ones.
   *  The incoming frame is aligned BY NAME to the committed schema —
   *  a frame missing a committed column, or retyping one, fails loudly
   *  instead of committing a schema that misreads prior files. With
   *  `mergeSchema=true`, NEW columns evolve the table schema (added as
   *  nullable; prior files read them as NULL — Delta/Hudi
   *  `mergeSchema`/`hoodie.schema.on.read` semantics). */
  def append(df: DataFrame, mergeSchema: Boolean = false): SnapshotTable =
    appendAs(df, "append", mergeSchema)

  /** Idempotent batch file ingest — Delta's `COPY INTO` surface: load
   *  the staging directory's data files into the table EXACTLY ONCE
   *  across any number of invocations. Already-loaded files are tracked
   *  by path in the [[SnapshotTable.CopyLoadedProp]] table property,
   *  updated ATOMICALLY with the data commit itself, so a retried job
   *  (scheduler re-run, restarted driver) never double-loads: a crash
   *  before the commit loads nothing, a crash after it leaves the file
   *  recorded and the re-run skips it. Listing is top-level; hidden
   *  files (`_`/`.` prefixes, the Hadoop convention) are excluded.
   *  The loaded registry costs O(total staged files) bytes of commit
   *  metadata — right-sized for the 10⁴-file staging areas COPY INTO
   *  serves; past that, page it into a sidecar log the way Delta's
   *  transaction log pages file actions.
   *  Returns (filesLoaded, rowsLoaded), both 0 on a no-op re-run. */
  def copyInto(stagingDir: String, format: String = "parquet"): (Int, Long) = {
    val snap = head()
    val dir = new org.apache.hadoop.fs.Path(stagingDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val listed = fs.listStatus(dir).toSeq
      .filter(_.isFile)
      .map(_.getPath.toString)
      .filterNot { p =>
        val n = p.substring(p.lastIndexOf('/') + 1)
        n.startsWith("_") || n.startsWith(".")
      }
      .sorted
    val loadedProp = snap.properties.getOrElse(CopyLoadedProp, "")
    val loaded = if (loadedProp.isEmpty) Set.empty[String] else loadedProp.split("\n").toSet
    val fresh = listed.filterNot(loaded)
    if (fresh.isEmpty) (0, 0L)
    else {
      // expectVersion pins the registry read: a commit landing between
      // reading `loaded` and committing here (another COPY INTO would
      // rewrite the registry; any commit could) surfaces as
      // ConcurrentCommitException instead of silently building on — and
      // possibly erasing — a stale registry (exactly-once would break)
      appendAs(spark.read.format(format).load(fresh: _*), "copy-into",
        expectVersion = Some(snap.version),
        extraProps = Map(
          CopyLoadedProp -> (loaded ++ fresh).toSeq.sorted.mkString("\n")))
      // with expectVersion set there is no rebase: OUR commit is exactly
      // v+1, so its file-list delta is precisely what this load wrote —
      // row counts from its harvested stats, no second scan, and no
      // contamination from interleaved commits
      val beforePaths = snap.files.map(_.path).toSet
      val rows = snapshotAt(snap.version + 1).files
        .filterNot(f => beforePaths.contains(f.path)).map(_.rows).sum
      (fresh.length, rows)
    }
  }

  /** Append with a caller-supplied action tag (streaming sinks record
   *  their micro-batch id here for idempotent redelivery). */
  private[graft] def appendAs(
      df: DataFrame, action: String, mergeSchema: Boolean = false,
      expectVersion: Option[Long] = None,
      extraProps: Map[String, String] = Map.empty): SnapshotTable = {
    val prior = latest()
    val v = prior.fold(-1L)(_.version)
    // expectVersion marks this append as NOT blind: the caller computed
    // `df` from a read of version `expectVersion` (read-compute-append),
    // so advancing past it is a real conflict — surface it and DISABLE
    // the rebase retry below (a rebase would commit stale-derived rows)
    expectVersion.filter(_ != v).foreach { e =>
      throw new ConcurrentCommitException(
        s"table $root advanced from version $e to $v since this $action was " +
          "computed; recompute against the fresh snapshot")
    }
    val (aligned, schema) = prior match {
      case None => (df, df.schema)
      case Some(p) => alignToCommitted(df, p.schema, mergeSchema)
    }
    prior.foreach { p =>
      val added = schema.fieldNames.filterNot(n => p.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
      if (added.nonEmpty) assertResurrectionSafe(p, added, s"append to $root (mergeSchema)")
    }
    val spec = prior.fold(Seq.empty[String])(_.clusterSpec)
    val files = writeDataDir(applyCluster(aligned, spec), prior, strictIdentity = true,
      bucketRouted = routedBucket(aligned, spec),
      timeSubs = timeOnlySubs(aligned, spec))
    // Optimistic-transaction retry (Delta's blind-append rule): an append
    // adds files and reads nothing, so losing the commit race to another
    // FILE-ONLY commit (append, upsert, compact, delete) is not a logical
    // conflict — re-base the already-written files onto the new head and
    // re-commit, carrying the HEAD's file list and deltas. Anything that
    // touched table METADATA (schema, properties incl. constraints,
    // cluster spec, column mapping, MoR config) invalidates what this
    // write was validated against, so those still surface the
    // ConcurrentCommitException to the caller.
    var base = prior
    var attempts = 0
    while (true) {
      try {
        val b = base.map(_.entry)
        writeCommit(base.fold(0L)(_.version + 1),
          CommitEntry(action, schema.json, b.map(_.files).getOrElse(Nil) ++ files,
            toOpt(spec),
            { val m = b.flatMap(_.properties).getOrElse(Map.empty) ++ extraProps
              if (m.isEmpty) None else Some(m) },
            deltaFiles = b.flatMap(_.deltaFiles),
            morKeys = b.flatMap(_.morKeys),
            morPrecombine = b.flatMap(_.morPrecombine),
            columnMapping = b.flatMap(_.columnMapping),
            dvFiles = b.flatMap(_.dvFiles)))
        return this
      } catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          // torn-tolerant head read: the winner's entry may still be
          // mid-write on HDFS-likes; readable() falls back to the newest
          // PARSEABLE entry, and the version guard rethrows
          // (conservative) if that fallback is not actually ahead of us
          val head = readable()
          if (expectVersion.isDefined || attempts >= 5 ||
              !head.exists(h => h.version > base.fold(-1L)(_.version) &&
                base.exists(b => appendRebaseSafe(b.entry, h.entry)))) throw e
          SnapshotTable.occStats.rebases.incrementAndGet()
          base = head
      }
    }
    this
  }

  /** True when re-basing a blind append from `base` onto `head` is
   *  conflict-free: the interleaved commit(s) changed FILES only — and
   *  the table assigns no identity values (an identity basis computed
   *  against the old head could collide with ids the interleaved commit
   *  assigned; see [[applyIdentityColumns]]). */
  private[tables] def appendRebaseSafe(base: CommitEntry, head: CommitEntry): Boolean =
    !base.properties.exists(_.keys.exists(_.startsWith("graft.identity."))) &&
      head.schemaJson == base.schemaJson &&
      head.properties == base.properties &&
      head.clusterBy == base.clusterBy &&
      head.columnMapping == base.columnMapping &&
      head.morKeys == base.morKeys &&
      head.morPrecombine == base.morPrecombine

  /** By-name alignment of an incoming frame against the committed schema;
   *  returns (aligned frame, schema to commit). See [[append]]. Missing
   *  NULLABLE columns are filled with NULL (Delta by-name write
   *  semantics — an [[addColumns]] DDL must not break producers built
   *  before it); missing NON-nullable columns still fail loudly, which
   *  keeps the accidental-column-drop guard for required fields. */
  private def alignToCommitted(
      df: DataFrame, committed: StructType, mergeSchema: Boolean): (DataFrame, StructType) = {
    val incoming = df.schema
    // EXACT name wins before the case-insensitive fallback: an incoming
    // frame carrying two columns that differ only in case (legal via the
    // DataFrame API under a case-sensitive session) must pair each
    // committed column with its exact spelling — first-match binding
    // wrote the SIBLING's values into the column. No exact match and
    // several case-variants is genuinely ambiguous: refuse loudly.
    def find(n: String): Option[StructField] = {
      val m = incoming.fields.filter(_.name.equalsIgnoreCase(n))
      if (m.lengthCompare(1) <= 0) m.headOption
      else m.find(_.name == n).orElse(throw new IllegalArgumentException(
        s"append to $root: incoming columns ${m.map(_.name).mkString(", ")} " +
          s"are ambiguous for committed column '$n'"))
    }
    val missing = committed.fields.filterNot(f => find(f.name).isDefined)
    val missingRequired = missing.filterNot(_.nullable)
    if (missingRequired.nonEmpty) throw new IllegalArgumentException(
      s"append to $root: incoming frame is missing required committed column(s) " +
        missingRequired.map(_.name).mkString(", ") +
        " — committing this schema would misread prior files")
    // producers still writing a pre-[[widenColumnType]] narrow type keep
    // working: a lossless up-cast aligns them (the type-widening contract);
    // anything else is a real mismatch
    val retyped = committed.fields.flatMap { f =>
      find(f.name).filter(g => g.dataType != f.dataType &&
          !Widening.isLossless(g.dataType, f.dataType))
        .map(g => s"${f.name} (committed ${f.dataType.simpleString}, incoming ${g.dataType.simpleString})")
    }
    if (retyped.nonEmpty) throw new IllegalArgumentException(
      s"append to $root: incompatible column type(s): ${retyped.mkString("; ")}")
    val extras = incoming.fields.filterNot(f =>
      committed.fields.exists(_.name.equalsIgnoreCase(f.name)))
    if (extras.nonEmpty && !mergeSchema) throw new IllegalArgumentException(
      s"append to $root: unknown column(s) ${extras.map(_.name).mkString(", ")} " +
        "— pass mergeSchema=true to evolve the table schema")
    val evolved = StructType(committed.fields ++ extras.map(_.copy(nullable = true)))
    val aligned = df.select(evolved.fields.map { f =>
      import org.apache.spark.sql.functions.{col => c, lit}
      find(f.name) match {
        case Some(g) if g.dataType != f.dataType => // lossless up-cast (widening)
          c(g.name).cast(f.dataType).as(f.name)
        case Some(g) => c(g.name).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name) // missing nullable: NULL fill
      }
    }.toSeq: _*)
    (aligned, evolved)
  }

  /** Persisted clustering spec ("partitioning"): every write
   *  range-repartitions rows on these expressions so per-file min/max
   *  stats are disjoint — partition pruning via data skipping, without
   *  the dir-per-value small-file explosion of hive-style layouts.
   *  Entries are either plain column names (identity) or Iceberg-style
   *  hidden-partitioning transforms ([[SnapshotTable.ClusterTransform]]):
   *  `years/months/days/hours(col)` range-cluster on the truncated time —
   *  the RAW column's per-file bounds turn narrow, so ordinary timestamp
   *  predicates prune files with no query rewrite (Iceberg's hidden
   *  partitioning promise); `bucket(n, col)` hash-groups rows for
   *  co-location and bounded file counts on high-cardinality keys. */
  def clusterSpec(): Seq[String] = readable().fold(Seq.empty[String])(_.clusterSpec)

  private def toOpt(spec: Seq[String]): Option[List[String]] =
    if (spec.isEmpty) None else Some(spec.toList)

  private def toOpt(entries: Seq[FileEntry])(implicit d: DummyImplicit): Option[Seq[FileEntry]] =
    if (entries.isEmpty) None else Some(entries)

  private def clusterApplicable(df: DataFrame, spec: Seq[String]): Boolean =
    spec.nonEmpty && spec.forall(s =>
      ClusterTransform.sourceColumns(s).forall(c =>
        df.columns.exists(_.equalsIgnoreCase(c))))

  /** The (numBuckets, bucket columns, identity sub-partition columns)
   *  when this write will take the identity-routed layout below —
   *  callers pass it to [[writeDataDir]] so each written file records
   *  its bucket id in the manifest (and, with sub-partition columns,
   *  splits per identity value). */
  private def routedBucket(df: DataFrame, spec: Seq[String])
      : Option[(Int, Seq[String], Seq[String])] =
    if (clusterApplicable(df, spec)) ClusterTransform.routedSpec(spec)
    else None

  /** Time-transform entries of a NON-bucketed applicable spec — passed
   *  to [[writeDataDir]] as writer-side sub-partition splits so every
   *  file provably holds one period even when AQE coalesces the range
   *  shuffle's small partitions. Identity/plain entries are NOT split:
   *  a plain spec doubles as a multi-column range-cluster key (possibly
   *  high-cardinality), while a time transform is an unambiguous
   *  low-cardinality period declaration. */
  private def timeOnlySubs(df: DataFrame, spec: Seq[String]): Seq[String] =
    if (clusterApplicable(df, spec) && ClusterTransform.routedSpec(spec).isEmpty)
      spec.filter(ClusterTransform.timeEntry(_).isDefined)
    else Nil

  private def applyCluster(
      df: DataFrame, spec: Seq[String], numFiles: Option[Int] = None): DataFrame = {
    if (!clusterApplicable(df, spec)) df
    else ClusterTransform.routedSpec(spec) match {
      // hybrid bucket+identity layout: route by bucket (partition index
      // = bucket id, as below); the per-identity-value file split
      // happens in [[writeDataDir]] via the writer's dynamic
      // partitioning. The local sort puts identity values first so each
      // task's file split is a run, then the bucket source for in-file
      // row-group bounds.
      case Some((n, cols, subs)) if subs.nonEmpty =>
        df.repartition(n, cols.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(
            (subs.map(ClusterTransform.expr) ++
              cols.map(org.apache.spark.sql.functions.col)): _*)
      case _ => ClusterTransform.bucketOnly(spec) match {
      // identity-routed bucket layout: `repartition(n, col)` assigns
      // partition index = pmod(murmur3(col, 42), n) — EXACTLY the bucket
      // transform's value (`hash()` is the same murmur3) — so every
      // output file holds ONE bucket and its part number IS its bucket
      // id. That single-bucket-per-file invariant is what lets the DSv2
      // scan report KeyGroupedPartitioning and Spark plan co-bucketed
      // joins with NO shuffle (storage-partitioned join). The bucket
      // count pins the layout, so numFiles does not apply; the local
      // sort on the SOURCE column keeps row-group bounds tight for
      // point-lookup pruning inside each bucket file.
      case Some((n, cols)) =>
        df.repartition(n, cols.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(cols.map(org.apache.spark.sql.functions.col): _*)
      // range shuffle gives disjoint per-FILE bounds (manifest pruning);
      // the local sort on top gives monotone per-ROW-GROUP bounds inside
      // each file, so a pruned point lookup reads one row group, not the
      // whole file — free at read time, one in-memory sort at write time.
      // `numFiles` (compact's bin-pack target) pins the partition count so
      // re-clustering cannot explode a small rewrite into
      // spark.sql.shuffle.partitions fragments
      case None => numFiles match {
        case Some(n) => df.repartitionByRange(n, spec.map(ClusterTransform.expr): _*)
          .sortWithinPartitions(spec.map(ClusterTransform.expr): _*)
        case None => df.repartitionByRange(spec.map(ClusterTransform.expr): _*)
          .sortWithinPartitions(spec.map(ClusterTransform.expr): _*)
      }
      }
    }
  }

  /** Action tag of the latest commit (None for an empty table). */
  def manifestAction(): Option[String] =
    readable().map(_.entry.action)

  /** Newest commit action satisfying `p`, scanning backwards with early
   *  exit — the streaming sinks' redelivery guard must find their own
   *  last stream commit THROUGH any interleaved maintenance commits
   *  (compact, applyDeltas, set-properties), not just at the head. */
  private[graft] def findRecentAction(p: String => Boolean): Option[String] =
    listVersions().reverseIterator
      .map(v => scala.util.Try(snapshotAt(v).entry.action).toOption)
      .collectFirst { case Some(a) if p(a) => a }

  /** Replace the live file set with `keep` (paths from the current manifest,
   *  stats carried forward) plus newly-written `df` files — the
   *  copy-on-write commit used by upsert/merge (graft.ops).
   *
   *  `expectVersion`: optimistic-concurrency guard for the caller's
   *  read-compute-commit sequence — the rewrite was computed against that
   *  snapshot, so if ANOTHER commit (e.g. an [[upsertDeferred]]) landed in
   *  between, committing would silently discard it (the CAS alone only
   *  detects same-slot collisions). Fails with
   *  [[SnapshotTable.ConcurrentCommitException]]; the caller retries from
   *  a fresh snapshot. */
  private[graft] def replaceFiles(
      keep: Seq[String], df: DataFrame, action: String,
      expectVersion: Option[Long] = None,
      numFiles: Option[Int] = None,
      addDvFiles: Seq[FileEntry] = Nil,
      clearDvFiles: Boolean = false,
      rebaseDisjoint: Boolean = false,
      rebasePredicate: Option[Column] = None,
      commitSchemaJson: Option[String] = None): SnapshotTable = {
    // the snapshot the caller COMPUTED against. Maintenance commits
    // (compact / purge-dv / compact-deltas) may find the head already
    // past it and try the disjoint-file rebase below, and row-level
    // rewrites carrying a key-bounds `rebasePredicate` the
    // disjoint-READ-SET rebase — the losing commit's slot CAS fails and
    // routes through the same safety checks
    val prior = computedAgainst(expectVersion, action,
      rebase = rebaseDisjoint || rebasePredicate.isDefined)
    // A row-level rewrite against the BASE while keyed deltas are pending
    // would silently resurrect overridden rows (the rewrite sees stale
    // values) — fold the deltas in first. The fold itself commits through
    // this path with the "compact-deltas" action, clearing the delta list.
    if (action != "compact-deltas" && prior.exists(_.entry.deltaFiles.exists(_.nonEmpty)))
      throw new IllegalStateException(
        s"table $root has pending MoR deltas; call applyDeltas() before merge/delete/compact")
    val priorByPath: Map[String, FileEntry] =
      prior.fold(Map.empty[String, FileEntry])(_.files.map(f => f.path -> f).toMap)
    val kept = keep.map(p => priorByPath.getOrElse(p, FileEntry(p, -1L, -1L, Map.empty)))
    // the files this operation READ and is replacing — the op's read set,
    // which interleaved commits must have left untouched for a rebase
    val sources: Set[String] =
      prior.fold(Set.empty[String])(_.files.map(_.path).toSet -- keep.toSet)
    val spec = prior.fold(Seq.empty[String])(_.clusterSpec)
    val files = writeDataDir(applyCluster(df, spec, numFiles), prior,
      bucketRouted = routedBucket(df, spec), timeSubs = timeOnlySubs(df, spec))
    // deletion vectors carry forward by default (rewritten files take new
    // names, so their stale DV rows are inert); a DV delete appends its
    // sidecar, a purge clears the list
    val dv = if (clearDvFiles) None
      else toOpt(prior.flatMap(_.entry.dvFiles).getOrElse(Nil) ++ addDvFiles)
    // Optimistic-transaction retry for MAINTENANCE rewrites (Delta's
    // disjoint-file conflict rule): a compaction/purge reads `sources`
    // and writes their replacement — losing the commit race to a commit
    // that did not touch those sources (a blind append being the steady
    // state: ingest beside scheduled maintenance) is not a logical
    // conflict. Rebase = carry the HEAD's file list minus our sources
    // (interleaved appends' files ride along untouched) and re-commit.
    // Anything else — metadata, a source file rewritten or removed, DV
    // or delta changes — still surfaces the conflict.
    var baseV = prior.fold(-1L)(_.version)
    var carried = kept
    var attempts = 0
    // Schema-preserving rewrites (delete/update/compact/recluster/
    // compact-deltas) commit the PRIOR schema verbatim: their frames
    // round-trip through parquet reads, which widen nullability (array
    // containsNull, field nullable flags) — committing `df.schema` would
    // let a maintenance pass silently loosen the table schema and make
    // the append path's type check refuse producers valid before it ran.
    val schemaJson = commitSchemaJson.getOrElse(df.schema.json)
    while (true) {
      try {
        writeCommit(baseV + 1,
          CommitEntry(action, schemaJson, (carried ++ files).sortBy(_.path),
            toOpt(spec),
            prior.flatMap(_.entry.properties),
            // MoR key/precombine config is TABLE state (Hudi's table
            // config), not per-delta state: a CoW rewrite or the fold
            // itself clears the deltas but keeps the config
            morKeys = prior.flatMap(_.entry.morKeys),
            morPrecombine = prior.flatMap(_.entry.morPrecombine),
            columnMapping = prior.flatMap(_.entry.columnMapping),
            dvFiles = dv))
        return this
      } catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          val head = readable()
          val safe = attempts < 5 && head.exists { h =>
            h.version > baseV && prior.exists { p =>
              if (rebaseDisjoint) maintenanceRebaseSafe(p.entry, h.entry, sources)
              else rebasePredicate.exists(rp =>
                rowRewriteRebaseSafe(p.entry, h.entry, sources, rp))
            }
          }
          if (!safe) throw e
          SnapshotTable.occStats.rebases.incrementAndGet()
          baseV = head.get.version
          carried = head.get.files.filterNot(f => sources.contains(f.path))
      }
    }
    this
  }

  /** True when re-basing a maintenance rewrite (computed against `base`,
   *  reading exactly `sources`) onto `head` is conflict-free: every
   *  interleaved commit left the read set, the table metadata, and the
   *  DV/delta overlays untouched — i.e. it only ADDED disjoint files
   *  (Delta's compaction-vs-append conflict rule). `deltaFiles` must be
   *  UNCHANGED, not merely empty: an interleaved `upsertDeferred`'s
   *  deltas would be silently cleared by the rebased commit. */
  private[tables] def maintenanceRebaseSafe(
      base: CommitEntry, head: CommitEntry, sources: Set[String]): Boolean =
    head.schemaJson == base.schemaJson &&
      head.properties == base.properties &&
      head.clusterBy == base.clusterBy &&
      head.columnMapping == base.columnMapping &&
      head.morKeys == base.morKeys &&
      head.morPrecombine == base.morPrecombine &&
      head.deltaFiles.getOrElse(Nil) == base.deltaFiles.getOrElse(Nil) &&
      head.dvFiles.getOrElse(Nil) == base.dvFiles.getOrElse(Nil) && {
        val live = head.files.map(_.path).toSet
        sources.forall(live.contains)
      }

  /** True when re-basing a ROW-LEVEL rewrite (UPDATE/DELETE/MERGE computed
   *  against `base`, whose matched/not-matched routing depends only on
   *  rows satisfying `predicate` — the op's key-bounds / WHERE read set)
   *  onto `head` is conflict-free. Delta's ConcurrentAppend-vs-
   *  ConcurrentDeleteRead distinction, done at file-stats granularity:
   *
   *   - every file the op READ AND REWROTE (`sources`) must still be
   *     live in head — an interleaved commit rewriting or deleting one
   *     is a ConcurrentDeleteRead-class conflict (our rewrite would
   *     resurrect its pre-image);
   *   - every file head ADDED relative to base, AND every base file head
   *     REMOVED, must be PROVABLY unable to contain a row matching
   *     `predicate` (the same conservative stats test the op's own
   *     pruning used): a disjoint-key append or a second merge over a
   *     disjoint key range rides along untouched, while anything that
   *     could have changed this op's matched / not-matched routing
   *     conflicts. Files without stats conflict. The REMOVED side matters
   *     when `sources` under-approximates the read set: an insert-only
   *     MERGE rewrites nothing (`sources` = ∅) but anti-joins the WHOLE
   *     target — an interleaved delete of a row matching its source keys
   *     must conflict (Delta's ConcurrentDeleteRead), or the rebased
   *     commit would skip an insert the delete-first serial order makes.
   *   - table metadata, DV sidecars, and MoR deltas must be unchanged
   *     (same rules as [[maintenanceRebaseSafe]]); identity-bearing
   *     tables never rebase — insert rows assigned identity values from
   *     base's high-water mark, which any interleaved write may have
   *     advanced (the [[append]] contract: identity never blind-rebases).
   */
  /** Schema equality up to NULLABILITY: CoW rewrites routinely relax
   *  nullable (CASE-routed outputs), which is read-compatible both ways;
   *  any field/type/metadata difference (evolution, widening, renames)
   *  still compares unequal → conflict. */
  private def sameLogicalSchema(a: CommitEntry, b: CommitEntry): Boolean = {
    def norm(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = norm(f.dataType), nullable = true)))
      case ArrayType(et, _) => ArrayType(norm(et), containsNull = true)
      case MapType(k, v, _) => MapType(norm(k), norm(v), valueContainsNull = true)
      case other => other
    }
    a.schemaJson == b.schemaJson || (try norm(a.schema) == norm(b.schema)
    catch { case NonFatal(_) => false })
  }

  private[tables] def rowRewriteRebaseSafe(
      base: CommitEntry, head: CommitEntry, sources: Set[String],
      predicate: Column): Boolean =
    sameLogicalSchema(head, base) &&
      head.properties == base.properties &&
      !base.properties.exists(_.keys.exists(_.startsWith("graft.identity."))) &&
      head.clusterBy == base.clusterBy &&
      head.columnMapping == base.columnMapping &&
      head.morKeys == base.morKeys &&
      head.morPrecombine == base.morPrecombine &&
      head.deltaFiles.getOrElse(Nil) == base.deltaFiles.getOrElse(Nil) &&
      head.dvFiles.getOrElse(Nil) == base.dvFiles.getOrElse(Nil) && {
        val live = head.files.map(_.path).toSet
        sources.forall(live.contains)
      } && {
        val baseFiles = base.files.map(_.path).toSet
        val live = head.files.map(_.path).toSet
        val added = head.files.filterNot(f => baseFiles.contains(f.path))
        // base files the interleaved commit(s) removed/rewrote — `sources`
        // is already required live above, so these are files OUTSIDE the
        // op's rewrite set whose rows it may nonetheless have READ (the
        // insert-only MERGE anti-join; sources=∅ there)
        val removed = base.files.filterNot(f =>
          live.contains(f.path) || sources.contains(f.path))
        val changed = added ++ removed
        changed.isEmpty || {
          val schema = head.schema
          val cs = Pruning.conjuncts(
            org.apache.spark.sql.graftshim.SparkInternals.expr(predicate))
          // a predicate with no stats-usable conjunct "may match" every
          // file — degrades to a conflict, never to a silent rebase
          changed.forall(f => !Pruning.mayMatchConjuncts(f, cs, schema))
        }
      }

  // ------------------------------------------------------------- properties

  /** User table properties of the current snapshot (TBLPROPERTIES,
   *  `delta/delta_scd_script.py:43`); carried forward by every commit. */
  def properties(): Map[String, String] =
    readable().fold(Map.empty[String, String])(_.properties)

  /** Merge `props` into the table properties (`ALTER TABLE … SET
   *  TBLPROPERTIES`): a metadata-only commit — same files, same schema.
   *  Adding a `graft.constraint.*` CHECK first validates the EXISTING
   *  rows (one scan, like Delta's ADD CONSTRAINT): committing a
   *  constraint the current data violates would poison every later
   *  rewrite that happens to touch a violating file. */
  def setProperties(props: Map[String, String]): SnapshotTable = {
    val snap = head()
    val existing = snap.properties
    val newChecks = props.collect {
      // only NEW or CHANGED constraints need validation — re-setting the
      // identical value (idempotent deploy scripts) must not re-scan
      case (k, sql) if k.startsWith("graft.constraint.") &&
        !existing.get(k).contains(sql) => (k, sql)
    }.toSeq
    if (newChecks.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      // one combined scan for all added constraints
      val anyViolated = newChecks
        .map { case (_, sql) => not(coalesce(expr(sql), lit(true))) } // NULL passes
        .reduce(_ || _)
      if (view(snap).filter(anyViolated).limit(1).count() > 0)
        throw new IllegalArgumentException(
          s"cannot add CHECK constraint(s) ${newChecks.map(_._1).mkString(", ")}: " +
            s"existing rows of $root violate " +
            newChecks.map { case (k, s) => s"$k ($s)" }.mkString(" or "))
    }
    val merged = existing ++ props
    writeCommit(snap.version + 1, snap.entry.copy(action = "set-properties",
      properties = if (merged.isEmpty) None else Some(merged)))
    this
  }

  /**
   * Cluster-spec evolution (Iceberg `ALTER TABLE … ADD/DROP PARTITION
   * FIELD` analogue, a headline Iceberg-over-Hive capability): a
   * METADATA-ONLY commit swapping the clustering spec. Existing files
   * are untouched and stay fully readable — pruning here is driven by
   * per-file STATS, never by path layout, so a table whose history
   * mixes specs needs no rewrite, no dual-plan reads, and no migration
   * job. New writes (append/overwrite/compact/merge rewrites) cluster
   * by the new spec from the next commit on; an `OPTIMIZE … ZORDER BY`
   * or plain `compact()` gradually re-clusters old data if wanted.
   * An empty spec clears clustering (`CLUSTER BY NONE`).
   */
  def setClusterSpec(spec: Seq[String]): SnapshotTable = {
    val snap = head()
    val schema = snap.schema
    spec.foreach { s =>
      ClusterTransform.sourceColumns(s).foreach { src =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(src)),
          s"cluster spec entry '$s' references unknown column '$src' " +
            s"(table columns: ${schema.fieldNames.mkString(", ")})")
      }
    }
    writeCommit(snap.version + 1, snap.entry.copy(action = "set-cluster", clusterBy = toOpt(spec)))
    this
  }

  /** Remove table properties (`ALTER TABLE … UNSET TBLPROPERTIES`). */
  def unsetProperties(keys: Seq[String]): SnapshotTable = {
    val snap = head()
    // graft.dropped.* tombstones are the column-resurrection guard, not
    // user metadata — removing one would let addColumns silently surface
    // stale pre-drop values from un-rewritten files
    val internal = keys.filter(_.toLowerCase.startsWith("graft.dropped."))
    require(internal.isEmpty,
      s"cannot unset engine-internal propert${if (internal.size == 1) "y" else "ies"} " +
        internal.mkString(", "))
    val remaining = snap.properties -- keys
    writeCommit(snap.version + 1, snap.entry.copy(action = "set-properties",
      properties = if (remaining.isEmpty) None else Some(remaining)))
    this
  }

  /** `ALTER TABLE … ADD COLUMNS` (Delta/Iceberg metadata-only schema
   *  evolution): a new commit with the widened schema and the SAME files —
   *  no data is touched; existing files read the added columns as NULL
   *  (the same mechanism as append-side `mergeSchema`). Added columns are
   *  forced nullable for exactly that reason. */
  def addColumns(cols: Seq[StructField]): SnapshotTable = {
    val snap = head()
    val committed = snap.schema
    val dup = cols.filter(c => committed.fieldNames.exists(_.equalsIgnoreCase(c.name)))
    require(dup.isEmpty,
      s"ALTER TABLE $root ADD COLUMNS: column(s) already exist: ${dup.map(_.name).mkString(", ")}")
    assertResurrectionSafe(snap, cols.map(_.name), s"ALTER TABLE $root ADD COLUMNS")
    val evolved = StructType(committed.fields ++ cols.map(_.copy(nullable = true)))
    writeCommit(snap.version + 1, snap.entry.copy(action = "add-columns", schemaJson = evolved.json))
    this
  }

  /** Resurrection guard shared by EVERY schema-widening path (ADD
   *  COLUMNS, `append(mergeSchema=true)`, MERGE WITH SCHEMA EVOLUTION):
   *  live files may still physically carry a [[dropColumns]]-dropped
   *  column, so re-introducing the name would read their STALE values
   *  instead of NULL. Throws until a full rewrite clears the tombstone. */
  private[graft] def assertResurrectionSafe(
      snap: Snapshot, names: Seq[String], context: String): Unit = {
    val props = snap.properties
    val hit = names.filter(n => props.contains(s"graft.dropped.${n.toLowerCase}"))
    require(hit.isEmpty,
      s"$context: column(s) ${hit.mkString(", ")} were previously dropped and " +
        "live files may still carry the old values (they would resurface " +
        "instead of reading NULL); overwrite or OPTIMIZE ZORDER the table " +
        "first to rewrite them")
    // live files also still carry a RENAMED column's physical name — a new
    // logical column claiming that name would read the renamed column's data
    val phys = snap.mapping.values.toSeq
    val clash = names.filter(n => phys.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"$context: column(s) ${clash.mkString(", ")} collide with the physical " +
        "name of a renamed column; overwrite or OPTIMIZE ZORDER the table " +
        "first to materialize the rename")
  }

  /** `ALTER TABLE … DROP COLUMNS` (metadata-only, the Delta-without-
   *  column-mapping semantics): a new commit with the narrowed schema and
   *  the SAME files — no data is touched, readers simply stop projecting
   *  the column (parquet ignores extra physical columns), and time travel
   *  to pre-drop versions still sees it. The dropped name is tombstoned
   *  in the table properties so [[addColumns]] refuses to re-add it while
   *  old files could resurrect stale values; a full rewrite
   *  ([[overwrite]] / ZORDER optimize) clears the tombstones. */
  def dropColumns(names: Seq[String]): SnapshotTable = {
    require(names.nonEmpty, "dropColumns needs at least one column")
    val snap = head()
    val e = snap.entry
    val committed = snap.schema
    val missing = names.filterNot(n => committed.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(missing.isEmpty,
      s"ALTER TABLE $root DROP COLUMNS: no such column(s): ${missing.mkString(", ")}")
    val remaining = committed.fields.filterNot(f => names.exists(_.equalsIgnoreCase(f.name)))
    require(remaining.nonEmpty, s"ALTER TABLE $root DROP COLUMNS: cannot drop every column")
    // a column referenced by the cluster spec (resolved through transforms
    // like days(ts)), the MoR upsert spec, or a CHECK constraint would
    // poison every later write — refuse the drop instead
    val specCols = e.clusterBy.getOrElse(Nil).flatMap(ClusterTransform.sourceColumns) ++
      e.morKeys.getOrElse(Nil) ++ e.morPrecombine.toList ++
      e.properties.getOrElse(Map.empty).get("graft.cdf.keys").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val inUse = names.filter(n =>
      (specCols ++ constraintColumns(e)).exists(_.equalsIgnoreCase(n)))
    require(inUse.isEmpty,
      s"ALTER TABLE $root DROP COLUMNS: ${inUse.mkString(", ")} referenced by " +
        "the cluster spec, MoR spec, the change-feed key, or a CHECK constraint")
    // tombstone the PHYSICAL name — that is what live files still carry
    // (equals the logical name unless the column was renamed)
    val tombs = names.map { n =>
      val exact = committed.fields.find(_.name.equalsIgnoreCase(n)).map(_.name).getOrElse(n)
      s"graft.dropped.${snap.mapping.getOrElse(exact, exact).toLowerCase}" -> snap.version.toString
    }.toMap
    val mapping2 = snap.mapping.filterNot { case (l, _) =>
      names.exists(_.equalsIgnoreCase(l)) }
    writeCommit(snap.version + 1, e.copy(action = "drop-columns",
      schemaJson = StructType(remaining).json,
      properties = Some(e.properties.getOrElse(Map.empty) ++ tombs),
      columnMapping = Some(mapping2).filter(_.nonEmpty)))
    this
  }

  /** `ALTER TABLE … RENAME COLUMN old TO new` — metadata-only, via
   *  name-mode column mapping (the Delta column-mapping design: Iceberg
   *  gets the same via field ids): data files keep their PHYSICAL column
   *  name forever; this commit records logical→physical, reads project
   *  back, writes keep emitting the physical name, and file stats /
   *  cluster spec / MoR spec / bloom properties are remapped in the same
   *  commit so pruning and upserts keep working. Any full rewrite
   *  ([[overwrite]] / OPTIMIZE ZORDER) materializes renames physically
   *  and clears the mapping. Columns referenced by a CHECK constraint
   *  are refused (the constraint's SQL text cannot be rewritten
   *  reliably — drop and re-add the constraint around the rename). */
  def renameColumn(oldName: String, newName: String): SnapshotTable = {
    val snap = head()
    require(newName.trim.nonEmpty && !newName.contains("."),
      s"ALTER TABLE $root RENAME COLUMN: invalid new name: '$newName'")
    val e = snap.entry
    val committed = snap.schema
    val field = committed.fields.find(_.name.equalsIgnoreCase(oldName)).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER TABLE $root RENAME COLUMN: no such column: $oldName"))
    require(!committed.fieldNames.exists(n =>
        n.equalsIgnoreCase(newName) && !n.equalsIgnoreCase(field.name)),
      s"ALTER TABLE $root RENAME COLUMN: column $newName already exists")
    require(newName != field.name,
      s"ALTER TABLE $root RENAME COLUMN: $newName is already the column's name")
    // tombstoned drops and renamed-away physical names both make the new
    // name unsafe while un-rewritten files still carry the old bytes —
    // EXCEPT this column's own physical name (renaming back is exactly
    // the safe round trip: the bytes ARE this column's)
    require(!e.properties.getOrElse(Map.empty)
        .contains(s"graft.dropped.${newName.toLowerCase}"),
      s"ALTER TABLE $root RENAME COLUMN: $newName was previously dropped and " +
        "live files may still carry the old values; overwrite or OPTIMIZE " +
        "ZORDER the table first to rewrite them")
    val otherPhys = (snap.mapping - field.name).values.toSeq
    require(!otherPhys.exists(_.equalsIgnoreCase(newName)),
      s"ALTER TABLE $root RENAME COLUMN: $newName collides with the physical " +
        "name of another renamed column; overwrite or OPTIMIZE ZORDER the " +
        "table first to materialize the rename")
    val constrained = constraintColumns(e)
    require(!constrained.exists(_.equalsIgnoreCase(field.name)),
      s"ALTER TABLE $root RENAME COLUMN: ${field.name} is referenced by a " +
        "CHECK constraint; drop the constraint, rename, and re-add it")
    def rn(n: String): String = if (n.equalsIgnoreCase(field.name)) newName else n
    def rnStats(files: Seq[FileEntry]): Seq[FileEntry] = files.map(fe =>
      fe.copy(stats = fe.stats.map { case (k, s) => rn(k) -> s },
        blooms = fe.blooms.map(_.map { case (k, b) => rn(k) -> b })))
    val physical = snap.mapping.getOrElse(field.name, field.name)
    // identity entries carry no information — dropping them keeps the
    // mapping empty (and every fast path untouched) for round-trip renames
    val mapping2 = ((snap.mapping - field.name) + (newName -> physical))
      .filter { case (l, p) => l != p }
    val schema2 = StructType(committed.fields.map(f =>
      if (f.name == field.name) f.copy(name = newName) else f))
    val props2 = e.properties.map(_.map {
      case ("graft.bloom.columns", cols) =>
        "graft.bloom.columns" -> cols.split(",").map(c => rn(c.trim)).mkString(",")
      case ("graft.cdf.keys", keys) => // the change feed's key follows too
        "graft.cdf.keys" -> keys.split(",").map(c => rn(c.trim)).mkString(",")
      case (k, value) if k.equalsIgnoreCase(s"graft.bloom.ndv.${field.name}") =>
        s"graft.bloom.ndv.${newName.toLowerCase}" -> value
      case kv => kv
    })
    writeCommit(snap.version + 1, e.copy(action = "rename-column",
      schemaJson = schema2.json,
      files = rnStats(e.files),
      deltaFiles = e.deltaFiles.map(rnStats),
      clusterBy = e.clusterBy.map(_.map(spec =>
        ClusterTransform.rename(spec, field.name, newName))),
      morKeys = e.morKeys.map(_.map(rn)),
      morPrecombine = e.morPrecombine.map(rn),
      properties = props2,
      columnMapping = Some(mapping2).filter(_.nonEmpty)))
    this
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE <wider>` — metadata-only type
   *  widening (Delta's type-widening table feature; Iceberg allows the
   *  same promotions): only the committed schema retypes, existing files
   *  keep the narrow physical type and Spark's parquet reader up-casts at
   *  scan time (int32→int64, float→double, int→double); new writes emit
   *  the wide type. Only LOSSLESS widenings are accepted — byte/short/int
   *  up the integral ladder to long, byte/short/int → double, float →
   *  double; long → double is refused (53-bit mantissa). File stats stay
   *  sound unchanged: integral stats are stored in the long domain and
   *  re-parse into the double domain losslessly, so pruning keeps
   *  working without a stats rewrite. */
  /** The widening checks of [[widenColumnType]] without the commit —
   *  multi-change ALTER statements pre-validate every change before the
   *  first one commits, so a doomed statement leaves no partial state. */
  private[graft] def validateWidening(name: String, newType: DataType): Unit =
    widenedField(head(), name, newType)

  /** The committed field `name` resolves to, once the widening to
   *  `newType` is checked lossless. */
  private def widenedField(snap: Snapshot, name: String, newType: DataType): StructField = {
    val field = snap.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER TABLE $root ALTER COLUMN: no such column: $name"))
    require(Widening.isLossless(field.dataType, newType),
      s"ALTER TABLE $root ALTER COLUMN ${field.name}: " +
        s"${field.dataType.simpleString} -> ${newType.simpleString} is not a " +
        "lossless widening (allowed: byte/short/int -> long, " +
        "byte/short/int -> double, float -> double)")
    field
  }

  def widenColumnType(name: String, newType: DataType): SnapshotTable = {
    val snap = head()
    val field = widenedField(snap, name, newType)
    val schema2 = StructType(snap.schema.fields.map(f =>
      if (f.name == field.name) f.copy(dataType = newType) else f))
    writeCommit(snap.version + 1, snap.entry.copy(action = "widen-type", schemaJson = schema2.json))
    this
  }

  /** Column names referenced by any `graft.constraint.*` CHECK expression
   *  (conservatively ALL table columns when one fails to parse). */
  private def constraintColumns(e: CommitEntry): Seq[String] = {
    val all = e.schema.fieldNames.toSeq
    e.properties.getOrElse(Map.empty).collect {
      case (k, sql) if k.startsWith("graft.constraint.") =>
        try spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        } catch { case NonFatal(_) => all } // unparseable: refuse conservatively
    }.flatten.toSeq
  }

  // ------------------------------------------------------------------ reads

  /** Latest committed snapshot — the REAL-TIME view: pending MoR deltas
   *  ([[upsertDeferred]]) are resolved against the base, latest version
   *  of each record key wins. Readers never observe partial writes
   *  (a torn newest log entry falls back to the prior version,
   *  [[readable]]). */
  def read(): DataFrame = view(required(readable()))

  /** READ-OPTIMIZED view: base files only, pending deltas ignored —
   *  Hudi's `_ro` table (`hudi/hudi_scd_script.py` reads the `_rt`
   *  counterpart; SURVEY.md §2.6). Identical to [[read]] when no deltas
   *  are pending. */
  def readBase(): DataFrame = {
    val snap = required(readable())
    // deletion vectors are BASE state (the rows are deleted, not
    // deferred), so the read-optimized view applies them too
    readFilesAs(snap, snap.files.map(_.path), snap.schema)
  }

  /** Anti-join `entry`'s deletion vectors out of a base-file scan `df`.
   *  `df` must be a (projection over a) parquet file relation — the
   *  `_metadata` struct resolves through projections but not joins. The
   *  DV side is small BY POLICY (rows above `graft.dv.maxFraction` of a
   *  file rewrite instead), so the anti-join is a broadcast hash join:
   *  the 100 TB base side never shuffles. Name-keyed, so a scan over any
   *  SUBSET of files is filtered correctly and rewritten files (new
   *  names) are never hit by stale DV rows. */
  private def dvRemove(snap: Snapshot, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val dvs = snap.entry.dvFiles.getOrElse(Nil)
    if (dvs.isEmpty) return df
    val dv = spark.read.schema(SnapshotTable.DvSchema).parquet(dvs.map(_.path): _*)
    df.withColumn(SnapshotTable.DvFileCol, col("_metadata.file_name"))
      .withColumn(SnapshotTable.DvPosCol, col("_metadata.row_index"))
      .join(broadcast(dv),
        Seq(SnapshotTable.DvFileCol, SnapshotTable.DvPosCol), "left_anti")
      .drop(SnapshotTable.DvFileCol, SnapshotTable.DvPosCol)
  }

  /** Read a subset of `snap`'s live files as `schema` — physical names
   *  mapped back to logical per its column mapping, its deletion vectors
   *  applied (a rewrite reading raw file bytes would resurrect DV-deleted
   *  rows). `schema` may be wider than the committed schema (MERGE WITH
   *  SCHEMA EVOLUTION); extra fields have no mapping entry and null-fill
   *  as usual. [[dvRemove]] is skipped for an empty file list (an empty
   *  scan is a LocalRelation with no `_metadata` to resolve). */
  private[graft] def readFilesAs(snap: Snapshot, paths: Seq[String],
      schema: StructType): DataFrame = {
    val df = dfOver(paths, schema, snap.mapping)
    if (paths.isEmpty) df else dvRemove(snap, df)
  }

  /** The real-time view of `snap`: its live files with deletion vectors
   *  and pending MoR deltas applied. */
  private[graft] def view(snap: Snapshot): DataFrame = mergedView(snap, snap.files)

  /** Base ∪ pending-delta assembly (the MoR read-time merge): base rows
   *  whose record key appears in a delta are replaced by the delta's
   *  latest version — one anti-join + one key-agg over the (small) delta
   *  set; the base side stays a plain pruned parquet scan. Keys whose
   *  winning delta row is a delete tombstone ([[deleteDeferred]]) are
   *  anti-joined away and contribute no replacement row. */
  private def mergedView(snap: Snapshot, baseFiles: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = readFilesAs(snap, baseFiles.map(_.path), snap.schema)
    val deltaEntries = snap.entry.deltaFiles.getOrElse(Nil)
    if (deltaEntries.isEmpty) return base
    val keys = snap.entry.morKeys.getOrElse(Nil)
    val winners = latestDeltaRows(deltaEntries, snap.schema, keys,
      snap.entry.morPrecombine.get, snap.mapping)
    base.join(winners.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(winners.filter(!col(SnapshotTable.DeleteMarker))
        .drop(SnapshotTable.DeleteMarker))
  }

  /** Latest version of each record key across the pending delta batches,
   *  with a `DeleteMarker` boolean column (true = the key's latest
   *  pending operation is a delete tombstone; upsert batches lack the
   *  physical column and read as false). Replay-equivalent to applying
   *  the batches as eager upserts/deletes in arrival order: within a
   *  batch the max precombine wins
   *  ([[graft.ops.Upsert.precombineLatest]]), across batches the later
   *  batch wins — `max_by` on (batch ordinal, precombine). */
  private def latestDeltaRows(
      deltaEntries: Seq[FileEntry],
      schema: StructType,
      keys: Seq[String],
      precombine: String,
      mapping: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions._
    // consecutive files sharing a data dir = one arrival batch
    val groups = scala.collection.mutable.ArrayBuffer[(String, List[String])]()
    deltaEntries.foreach { f =>
      val parent = new Path(f.path).getParent.toString
      if (groups.nonEmpty && groups.last._1 == parent)
        groups(groups.size - 1) = (parent, groups.last._2 :+ f.path)
      else groups += ((parent, List(f.path)))
    }
    // read with the marker column appended: tombstone batches carry it
    // as physical `true`, upsert batches null-fill → false
    val extSchema = StructType(schema.fields :+
      StructField(SnapshotTable.DeleteMarker, BooleanType, nullable = true))
    val parts = groups.toSeq.zipWithIndex.map { case ((_, paths), i) =>
      dfOver(paths, extSchema, mapping).withColumn("__delta_seq", lit(i))
    }
    val all = parts.reduce(_ unionByName _)
    val cols = schema.fieldNames.toSeq :+ SnapshotTable.DeleteMarker
    all.groupBy(keys.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*),
        struct(col("__delta_seq"), col(precombine))).as("__r"))
      .select(cols.map(c => col(s"__r.$c").as(c)): _*)
      .withColumn(SnapshotTable.DeleteMarker,
        coalesce(col(SnapshotTable.DeleteMarker), lit(false)))
  }

  /** Time travel (reference formats' snapshot isolation made explicit);
   *  deltas pending AT that version are resolved, like [[read]]. */
  def readVersion(version: Long): DataFrame = view(snapshotAt(version))

  /** The committed LOGICAL schema at `version` — the read/scan contract,
   *  straight from the manifest. One O(manifest) parse, NEVER a
   *  DataFrame: resolving a snapshot's schema must stay O(1) in data
   *  files (building the merged view for it pays a driver file-status
   *  per file — at 512 files that was ~0.9 s of planning per catalog
   *  query, and a 100 TB manifest would turn every loadTable into a
   *  full-listing stall). */
  def schemaAt(version: Long): StructType = snapshotAt(version).schema

  /** Newest version committed at or before `tsMillis` — the resolver
   *  behind timestamp-based time travel (`TIMESTAMP AS OF`, supported by
   *  all three reference formats; Delta/Iceberg semantics: the snapshot a
   *  reader at that wall-clock instant would have seen). Entries without
   *  a commit timestamp (pre-ts logs) are treated as arbitrarily old. */
  def versionAsOf(tsMillis: Long): Long = {
    val eligible = listVersions().filter { v =>
      try snapshotAt(v).entry.ts.forall(_ <= tsMillis)
      catch { case NonFatal(_) => false } // torn newest entry: not eligible
    }
    require(eligible.nonEmpty,
      s"table $root has no version committed at or before epoch-millis $tsMillis")
    eligible.last
  }

  /** Timestamp time travel: the snapshot as of wall-clock `ts`. */
  def readAsOf(ts: java.sql.Timestamp): DataFrame = readVersion(versionAsOf(ts.getTime))

  /** Newest contiguous run of versions committed at or after
   *  `cutoffMillis`, counted over the SAME version ordering [[vacuum]]'s
   *  `retainVersions` applies to (a torn or ts-less entry counts as
   *  in-window — conservative keep). The SQL VACUUM command derives its
   *  retained-version count here; deriving it from [[history]] would
   *  mis-align whenever history skips a torn entry vacuum still counts. */
  private[graft] def versionsSince(cutoffMillis: Long): Int =
    listVersions().reverse.takeWhile { v =>
      try snapshotAt(v).entry.ts.forall(_ >= cutoffMillis)
      catch { case NonFatal(_) => true }
    }.size

  private def dfOver(paths: Seq[String], schema: StructType,
      mapping: Map[String, String] = Map.empty): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (mapping.isEmpty) spark.read.schema(schema).parquet(paths: _*)
    else {
      // data files carry PHYSICAL names (stable across RENAME COLUMN):
      // read physically, project back to the logical names
      val phys = StructType(schema.fields.map(f =>
        f.copy(name = mapping.getOrElse(f.name, f.name))))
      spark.read.schema(phys).parquet(paths: _*)
        .select(schema.fields.toSeq.map(f => org.apache.spark.sql.functions
          .col(mapping.getOrElse(f.name, f.name)).as(f.name)): _*)
    }

  /** [[readFilesAs]] with per-row file lineage captured into `fileCol`
   *  (from `_metadata.file_path`, a URI string) BEFORE the DV anti-join —
   *  `input_file_name()` over the joined plan would come back empty.
   *  MERGE's touched-file discovery is the consumer. */
  private[graft] def readFilesWithLineage(
      snap: Snapshot, paths: Seq[String], schema: StructType, fileCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    if (paths.isEmpty) dfOver(paths, schema).withColumn(fileCol, lit(null).cast(StringType))
    else dvRemove(snap, dfOver(paths, schema, snap.mapping)
      .withColumn(fileCol, col("_metadata.file_path")))
  }

  /**
   * Stats-pruned scan: files whose per-column [min,max] cannot satisfy
   * `predicate` are dropped from the plan *before* Spark ever opens them —
   * file-level data skipping, the behavior behind the reference formats'
   * small-scan point lookups (BASELINE.md; `image/hudi_cow_query.png`).
   * Unsupported predicate shapes and files without stats are kept
   * (pruning is always conservative); the full predicate is still applied
   * by Catalyst (and pushed to the parquet reader) afterwards.
   */
  def scan(predicate: Column): DataFrame = {
    val snap = required(readable())
    // Base-file pruning stays sound under pending deltas: a pruned base
    // row either fails `predicate` post-merge anyway or is replaced by a
    // delta row, and the delta side is never pruned here.
    mergedView(snap, snap.prunedFiles(Some(predicate))).filter(predicate)
  }

  /** Files [[scan]] would read for `predicate` — exposed for tests/EXPLAIN. */
  def prunedManifest(predicate: Column): Seq[String] =
    readable().fold(Seq.empty[String])(_.prunedFiles(Some(predicate)).map(_.path))

  /** Current-snapshot file paths that may contain at least one of `keys`
   *  in `column` ([[Snapshot.keyProbedPaths]]). */
  private[graft] def keyProbedManifest(column: String, keys: Seq[Any]): Seq[String] =
    readable().fold(Seq.empty[String])(_.keyProbedPaths(column, keys))

  /** Raw read of only the files that may contain one of `keys` in
   *  `column` ([[keyProbedManifest]]) — the serve path of the persisted
   *  index tables (minhash band/signature, IVF assigned lists). The
   *  pruned file list is read DIRECTLY (`spark.read.parquet`), not
   *  through [[mergedView]], so this REFUSES — loudly, the geometry-pin
   *  discipline — any snapshot carrying state a raw file read would
   *  silently miss: DV sidecars or MoR deltas (a delete/update on the
   *  index table would keep serving the deleted rows) and column
   *  mapping (a renamed column would read under its stale physical
   *  name). Index tables are append-only by contract; this turns a
   *  contract violation into a refusal instead of a silent divergence
   *  from the flat serve. Zero keys read zero files. */
  private[graft] def keyProbedRead(column: String, keys: Seq[Any]): DataFrame = {
    // one snapshot resolution serves both the overlay check and the
    // prune — checking one version and pruning another would let a
    // commit landing in between slip an overlay past the refusal
    val snap = required(readable())
    val e = snap.entry
    require(e.dvFiles.forall(_.isEmpty) && e.deltaFiles.forall(_.isEmpty) &&
        e.columnMapping.forall(_.isEmpty),
      s"table $root carries row-level overlays (deletion vectors / MoR deltas) " +
        "or column mapping — a key-probed raw read serves data files directly " +
        "and would miss them; index tables are append-only by contract " +
        "(compact or rebuild the index table before serving)")
    val keep = snap.keyProbedPaths(column, keys).toSet
    if (keep.isEmpty) view(snap).limit(0)
    else {
      // metadata-served read: the manifest knows every surviving file's
      // exact length, so the relation builds with ZERO filesystem round
      // trips — `spark.read.parquet` re-stat'ed each path and, above 32
      // paths, launched a listing JOB per probe (two per indexed serve:
      // band + signature), pure plan-time overhead on the serve hot path
      val ents = e.files.filter(f => keep(f.path))
      org.apache.spark.sql.graftshim.SparkInternals.parquetOver(
        spark, new graft.sql.ManifestFileIndex(spark, ents), snap.schema)
    }
  }

  /** Catalyst-internal single value of `column` in file `f` — defined
   *  only when the file provably holds EXACTLY that value in every row
   *  (exact stats, min == max, zero nulls). This is how the hybrid
   *  routed layout's scan re-derives each file's identity-partition
   *  value with no manifest format change. Fixed-width types only:
   *  parquet footer STRING bounds may be truncated, and a truncated
   *  pair comparing equal would fabricate a tuple that two different
   *  values share — silent wrong SPJ answers; refusing strings keeps
   *  the derivation exact (the layout degrades to a shuffle plan). */
  private[graft] def fileSingleValue(
      f: FileEntry, column: String, schema: StructType): Option[Any] =
    for {
      field <- SnapshotTable.resolveField(schema, column)
      cs <- f.stats.get(field.name)
      if cs.nullCount.contains(0L) && f.rows > 0
      mn <- cs.min
      mx <- cs.max
      if mn == mx
      v <- field.dataType match {
        case ByteType => mn.toLongOption.map(_.toByte)
        case ShortType => mn.toLongOption.map(_.toShort)
        case IntegerType => mn.toLongOption.map(_.toInt)
        case LongType => mn.toLongOption
        case DateType => mn.toLongOption.map(_.toInt)
        case TimestampType | TimestampNTZType => mn.toLongOption
        case BooleanType => mn.toLongOption.map(_ != 0L).orElse(
          mn.toBooleanOption)
        // strings only under the writer-exact flag: footer bounds may be
        // TRUNCATED (a truncated pair comparing equal would fabricate a
        // tuple two different values share — silent wrong SPJ answers);
        // exact-flagged bounds are verbatim values from our own writer,
        // so min == max proves the single value (identity(string)
        // partition parity). Adopted/foreign files never carry the flag.
        case StringType if cs.exact.contains(true) =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(mn))
        case _ => None
      }
    } yield v

  /** Truncated-time single value of `column` in file `f` — defined when
   *  every row's `unit`-truncation provably equals it: exact stats,
   *  zero nulls, trunc(min) == trunc(max). UTC calendar arithmetic,
   *  matching the V2 time functions the scan reports
   *  ([[SnapshotTable.TimeTrunc]] serves both sides, so derivation and
   *  any runtime evaluation Spark performs agree by construction). A
   *  writer session in a non-UTC zone may split period boundaries
   *  differently — then a file can span two UTC periods and the layout
   *  simply un-reports (degradation, never a wrong tuple). Micros. */
  private[graft] def fileTruncValue(
      f: FileEntry, column: String, unit: String, schema: StructType): Option[Long] =
    for {
      field <- SnapshotTable.resolveField(schema, column)
      if field.dataType == TimestampType || field.dataType == TimestampNTZType
      cs <- f.stats.get(field.name)
      if cs.nullCount.contains(0L) && f.rows > 0
      mn <- cs.min
      mx <- cs.max
      lo <- mn.toLongOption
      hi <- mx.toLongOption
      tlo = SnapshotTable.TimeTrunc.truncMicros(lo, unit)
      if tlo == SnapshotTable.TimeTrunc.truncMicros(hi, unit)
    } yield tlo

  def schema: StructType = required(readable()).schema

  /** Live file list of the current snapshot (the "manifest" — the analogue
   *  of Delta's symlink_format_manifest, `delta/delta_scd_script.py:42-43`). */
  def manifest(): Seq[String] = manifestEntries().map(_.path)

  /** Full manifest incl. per-file row counts and column stats. */
  def manifestEntries(): Seq[FileEntry] = readable().fold(Seq.empty[FileEntry])(_.files)

  /** Iceberg `<table>.files`-style metadata relation: one row per live
   *  file of the current (or a pinned) snapshot — path, size, row count,
   *  per-column stats, and which columns carry manifest bloom filters.
   *  Pure commit metadata: no data file is opened. The SQL face is the
   *  `graft_table_files('<root>'[, version])` TVF. */
  def filesMetadata(version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    version.fold(required(readable()))(snapshotAt).files.map { f =>
      (f.path, f.rows, f.bytes,
        f.stats.map { case (c, s) =>
          c -> ColStatsRow(s.min.orNull, s.max.orNull, s.nullCount.getOrElse(-1L))
        },
        f.blooms.getOrElse(Map.empty).keys.toSeq.sorted,
        // identity-routed bucket id (-1 = unrouted file) — the SPJ
        // layout made observable per file
        f.bucket.map(_.toLong).getOrElse(-1L))
    }.toDF("path", "rows", "bytes", "stats", "bloom_columns", "bucket")
  }

  /**
   * Current snapshot with engine meta-columns — the native analogue of
   * Hudi's `_hoodie_commit_time`/`_hoodie_record_key` columns the
   * reference reads back (`hudi/hudi_scd_script.py:76`; SURVEY.md §1.5):
   *
   *  - `_commit_version`: version of the commit that first added the row's
   *    file (files carried forward by append/merge keep their original
   *    lineage; after log expiry the earliest retained version claims it);
   *  - `_commit_ts`: wall-clock commit timestamp of that version (NULL for
   *    pre-ts log entries).
   *
   * Implemented as a union of per-commit-generation scans with constant
   * meta columns — no per-row lookup, no join: the same files are read
   * exactly once, Catalyst folds the constants, and file pruning still
   * applies per branch.
   */
  def readWithMeta(): DataFrame = {
    val snap = required(readable())
    val (cur, entry) = (snap.version, snap.entry)
    if (entry.deltaFiles.exists(_.nonEmpty)) throw new IllegalStateException(
      s"table $root has pending MoR deltas (no per-row commit lineage yet); applyDeltas() first")
    val schema = snap.schema
    // first-version lineage: walk retained versions ascending, first
    // parseable entry naming a path claims it (O(versions · files) driver
    // metadata work, same order as one manifest read per version)
    val first = scala.collection.mutable.LinkedHashMap[String, (Long, Option[Long])]()
    listVersions().foreach { v =>
      try {
        val e = snapshotAt(v).entry
        e.files.foreach(f => if (!first.contains(f.path)) first(f.path) = (v, e.ts))
      } catch { case NonFatal(_) => () } // torn newest entry: no lineage from it
    }
    val live = entry.files.map(_.path)
    val groups = live.groupBy(p => first.getOrElse(p, (cur, entry.ts))).toSeq.sortBy(_._1._1)
    val parts = groups.map { case ((v, ts), paths) =>
      readFilesAs(snap, paths, schema) // name-keyed: per-branch subset ok
        .withColumn("_commit_version", org.apache.spark.sql.functions.lit(v))
        .withColumn("_commit_ts", ts match {
          case Some(m) => org.apache.spark.sql.functions.lit(new java.sql.Timestamp(m))
          case None => org.apache.spark.sql.functions.lit(null).cast(TimestampType)
        })
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      dfOver(Nil, schema)
        .withColumn("_commit_version", org.apache.spark.sql.functions.lit(cur))
        .withColumn("_commit_ts", org.apache.spark.sql.functions.lit(null).cast(TimestampType))
    }
  }

  /**
   * Incremental read (the formats' incremental-query mode, e.g. Hudi
   * `hoodie.datasource.query.type=incremental`): rows from files first
   * committed in versions (`fromVersion`, `toVersion`] — the inputs an
   * incremental ETL consumer needs to process commits it has not seen.
   * File-granularity: a copy-on-write rewrite re-surfaces the carried
   * rows of rewritten files too (a superset of the logically-changed
   * rows; dedup downstream by key if exact deltas are required).
   */
  def readIncremental(fromVersion: Long, toVersion: Long = Long.MaxValue): DataFrame = {
    val cur = required(readable())
    val to = math.min(toVersion, cur.version)
    // an empty (or inverted) window is a normal steady-state for streaming
    // consumers that are caught up (or started ahead of the table) — an
    // empty frame with the current schema, not a missing-log crash
    if (fromVersion >= to) return dfOver(Nil, cur.schema)
    // files present at `to` but not at `from` = first committed after
    // `from`; pending MoR delta files diff the same way, so deferred
    // upserts surface incrementally too (delete tombstones are filtered
    // out below — they are not representable as plain rows)
    val fromEntry =
      if (fromVersion < 0) None
      else try Some(snapshotAt(fromVersion).entry)
      catch {
        case NonFatal(e) => throw new IllegalStateException(
          s"incremental cursor $fromVersion of $root is no longer readable " +
            "(log entry expired by vacuum?) — the consumer must re-bootstrap " +
            "from a full snapshot", e)
      }
    val toSnap = if (to == cur.version) cur else snapshotAt(to)
    val toEntry = toSnap.entry
    // read with the schema of the version whose files are served: a later
    // overwrite may have retyped/renamed columns, and reading old files
    // through the CURRENT schema would misread them (wrong types /
    // all-null columns)
    val schema = toSnap.schema
    def newPaths(at: Seq[FileEntry], base: Option[Seq[FileEntry]]): Seq[String] = {
      val seen = base.map(_.map(_.path).toSet).getOrElse(Set.empty)
      at.map(_.path).filterNot(seen)
    }
    // rows the to-version has DV-deleted are not incremental data; filter
    // as of `toEntry` (name-keyed, so only the new files' rows are hit)
    val dataPart = readFilesAs(toSnap, newPaths(toEntry.files, fromEntry.map(_.files)),
      schema)
    val deltaPaths = newPaths(toEntry.deltaFiles.getOrElse(Nil),
      fromEntry.map(_.deltaFiles.getOrElse(Nil)))
    if (deltaPaths.isEmpty) dataPart
    else {
      // delta batches mix upsert rows with delete tombstones
      // ([[deleteDeferred]]'s marker column, absent from the logical
      // schema) — serve only the upsert rows: a tombstone has no
      // row-shaped representation in a plain incremental feed (consumers
      // needing deletes use [[readChanges]] / readChangeFeed)
      val extSchema = StructType(schema.fields :+
        StructField(SnapshotTable.DeleteMarker, BooleanType, nullable = true))
      val deltaPart = dfOver(deltaPaths, extSchema, toSnap.mapping)
        .filter(!org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.col(SnapshotTable.DeleteMarker),
          org.apache.spark.sql.functions.lit(false)))
        .drop(SnapshotTable.DeleteMarker)
      dataPart.unionByName(deltaPart)
    }
  }

  /**
   * Change data feed (Delta CDF / Hudi incremental-query-with-changes
   * analogue; `delta/delta_scd_script.py`'s format exposes this as
   * `readChangeFeed`): the ROW-level changes each version in
   * (`fromVersion`, `toVersion`] applied, tagged `_change_type`
   * (`insert` | `delete` | `update_preimage` | `update_postimage`) plus
   * `_commit_version` / `_commit_ts`. `fromVersion = -1` streams the
   * initial snapshot as inserts too.
   *
   * Row identity = `keyCols`, else the version's MoR record key, else
   * the `graft.cdf.keys` table property (comma-separated). With a key,
   * a copy-on-write rewrite's carried rows cancel in a keyed diff of
   * the touched files — updates pair into pre/postimage rows; keys are
   * assumed unique per snapshot (the keyed-upsert invariant the write
   * paths enforce). With no key, falls back to a multiset diff (EXCEPT
   * ALL both ways): exact inserts/deletes, updates surface as
   * delete+insert pairs.
   *
   * Scale: per version only the files ADDED or REMOVED by that commit
   * are read (O(changed files), the Delta CDF-from-log shape — never a
   * full-table diff); the keyed diff is one equi-join. Versions that
   * touch deferred (MoR) deltas diff the before/after MERGED views
   * restricted (semi-join) to the record keys present in the touched
   * files, so a deferred upsert surfaces its upserts and the later
   * fold-in compaction correctly reports NO logical change. Schema
   * evolution across the range aligns by name; columns a version never
   * had read as NULL.
   */
  def readChanges(fromVersion: Long, toVersion: Long = Long.MaxValue,
      keyCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion >= -1, s"fromVersion must be >= -1, got $fromVersion")
    val cur = required(readable())
    val to = math.min(toVersion, cur.version)
    def emptyFeed = dfOver(Nil, cur.schema)
      .withColumn("_change_type", lit(null).cast(StringType))
      .withColumn("_commit_version", lit(null).cast(LongType))
      .withColumn("_commit_ts", lit(null).cast(TimestampType))
    if (fromVersion >= to) return emptyFeed // caught-up consumer: empty, not an error
    def entryOf(v: Long): Snapshot =
      try snapshotAt(v)
      catch {
        case NonFatal(ex) => throw new IllegalStateException(
          s"change-feed version $v of $root is no longer readable (log " +
            "entry expired by vacuum?) — the consumer must re-bootstrap " +
            "from a full snapshot", ex)
      }
    // one metadata read per version: each iteration's entry is the next
    // iteration's predecessor
    var prev = if (fromVersion < 0) None else Some(entryOf(fromVersion))
    val perVersion = ((fromVersion + 1) to to).map { v =>
      val e = entryOf(v)
      val changes = versionChanges(prev, e, keyCols)
      prev = Some(e)
      changes
    }
    perVersion.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(emptyFeed)
  }

  /** Row-level diff of one commit against its predecessor (see
   *  [[readChanges]]). */
  private def versionChanges(prevOpt: Option[Snapshot],
      snap: Snapshot, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val (v, ce, schema) = (snap.version, snap.entry, snap.schema)
    val prevSchema = prevOpt.fold(schema)(_.schema)
    val keys: Seq[String] =
      if (keyCols.nonEmpty) keyCols
      else ce.morKeys.orElse(prevOpt.flatMap(_.entry.morKeys)).map(_.toSeq).getOrElse(
        ce.properties.flatMap(_.get("graft.cdf.keys"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil))
    val prevFiles = prevOpt.map(_.files).getOrElse(Nil)
    val prevPaths = prevFiles.map(_.path).toSet
    val curPaths = ce.files.map(_.path).toSet
    val removed = prevFiles.filterNot(f => curPaths(f.path))
    val added = ce.files.filterNot(f => prevPaths(f.path))
    val prevDelta = prevOpt.flatMap(_.entry.deltaFiles).getOrElse(Nil)
    val prevDeltaPaths = prevDelta.map(_.path).toSet
    val newDelta = ce.deltaFiles.getOrElse(Nil).filterNot(f => prevDeltaPaths(f.path))
    val curDeltaPaths = ce.deltaFiles.getOrElse(Nil).map(_.path).toSet
    val removedDelta = prevDelta.filterNot(f => curDeltaPaths(f.path))
    val deltasInvolved = newDelta.nonEmpty || removedDelta.nonEmpty
    // Deletion-vector changes: a DV commit adds no data file, so the
    // file-level diff alone would miss it. Carried files named by a NEW
    // sidecar enter BOTH diff sides — prev side read under prev's DVs,
    // cur side under cur's — so the newly-deleted rows surface as
    // `delete` and every carried row cancels. A purge commit (rewrite +
    // DV clear) cancels the same way with no special case.
    val prevDvPaths = prevOpt.flatMap(_.entry.dvFiles).getOrElse(Nil).map(_.path).toSet
    val newDv = ce.dvFiles.getOrElse(Nil).filterNot(f => prevDvPaths(f.path))
    val dvTouched: Seq[FileEntry] =
      if (newDv.isEmpty) Nil
      else {
        val names = spark.read.schema(SnapshotTable.DvSchema)
          .parquet(newDv.map(_.path): _*)
          .select(SnapshotTable.DvFileCol).distinct()
          .collect().map(_.getString(0)).toSet
        ce.files.filter(f => prevPaths(f.path) && names(new Path(f.path).getName))
      }
    val removedX = removed ++ dvTouched
    val addedX = added ++ dvTouched
    def readPrev(files: Seq[FileEntry]): DataFrame = prevOpt match {
      case Some(p) => readFilesAs(p, files.map(_.path), prevSchema)
      case None => dfOver(files.map(_.path), prevSchema)
    }
    def readCur(files: Seq[FileEntry]): DataFrame =
      readFilesAs(snap, files.map(_.path), schema)
    val diff =
      if (keys.isEmpty) {
        require(!deltasInvolved, // unreachable: MoR commits always carry morKeys
          s"version $v of $root touches MoR deltas but no record key is known")
        multisetDiff(alignTo(readPrev(removedX), schema), readCur(addedX))
      } else if (deltasInvolved) {
        // deferred-upsert or fold-in commit: diff the before/after MERGED
        // views, both restricted to the record keys the touched files
        // name — the fold-in compaction then cancels to zero changes
        val touchedKeys =
          (Seq(dfOver((newDelta ++ removedDelta).map(_.path), schema,
              snap.mapping)) ++
            Seq(alignTo(dfOver(removed.map(_.path), prevSchema,
                prevOpt.fold(Map.empty[String, String])(_.mapping)), schema),
              dfOver(added.map(_.path), schema, snap.mapping)))
            .map(_.select(keys.map(col): _*))
            .reduce(_ unionByName _).distinct()
        val old = prevOpt.map(view)
          .getOrElse(dfOver(Nil, prevSchema))
        keyedDiff(alignTo(old, schema).join(touchedKeys, keys, "left_semi"),
          view(snap).join(touchedKeys, keys, "left_semi"),
          keys, schema)
      } else {
        keyedDiff(alignTo(readPrev(removedX), schema), readCur(addedX),
          keys, schema)
      }
    diff
      .withColumn("_commit_version", lit(v))
      .withColumn("_commit_ts", ce.ts match {
        case Some(m) => lit(new java.sql.Timestamp(m))
        case None => lit(null).cast(TimestampType)
      })
  }

  /** Project `df` onto `schema` by name: missing columns become NULL,
   *  retyped columns cast (the read-side half of schema evolution). */
  private def alignTo(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    // case-INSENSITIVE match, like every other schema-evolution path — a
    // case-changing overwrite must not null out the column. EXACT name
    // wins first: with case-sibling columns present, a lowercased map
    // would bind BOTH fields to one source column (wrong values)
    val cols = df.columns
    def pick(n: String): Option[String] =
      if (cols.contains(n)) Some(n)
      else {
        val m = cols.filter(_.equalsIgnoreCase(n))
        if (m.length == 1) m.headOption else None
      }
    df.select(schema.fields.toSeq.map { f =>
      (pick(f.name) match {
        case Some(actual) => col(actual)
        case None => lit(null)
      }).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Keyed old/new diff → `_change_type`-tagged rows. Carried (bit-equal)
   *  rows cancel; updates emit a pre/postimage pair via one exploded
   *  array — a single full-outer equi-join, no second pass. */
  private def keyedDiff(old: DataFrame, neu: DataFrame, keys: Seq[String],
      schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    def rowStruct = struct(schema.fieldNames.toSeq.map(col): _*)
    val o = old.select(keys.map(col) :+ rowStruct.as("__pre"): _*)
    val n = neu.select(keys.map(col) :+ rowStruct.as("__post"): _*)
    val changeArr = ArrayType(StructType(Seq(
      StructField("ct", StringType, nullable = false),
      StructField("row", schema))))
    o.join(n, keys, "full_outer")
      .select(explode( // explode drops the null (unchanged-row) branch
        when(col("__post").isNull,
          array(struct(lit("delete").as("ct"), col("__pre").as("row"))))
        .when(col("__pre").isNull,
          array(struct(lit("insert").as("ct"), col("__post").as("row"))))
        .when(col("__pre") <=> col("__post"), lit(null).cast(changeArr))
        .otherwise(array(
          struct(lit("update_preimage").as("ct"), col("__pre").as("row")),
          struct(lit("update_postimage").as("ct"), col("__post").as("row"))))
      ).as("__c"))
      .select(schema.fieldNames.toSeq.map(f => col(s"__c.row.$f").as(f)) :+
        col("__c.ct").as("_change_type"): _*)
  }

  /** Key-less old/new diff: exact multiset semantics via EXCEPT ALL both
   *  ways (updates surface as delete+insert). */
  private def multisetDiff(old: DataFrame, neu: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    old.exceptAll(neu).withColumn("_change_type", lit("delete"))
      .unionByName(neu.exceptAll(old).withColumn("_change_type", lit("insert")))
  }

  /** One table-history entry (`DESCRIBE HISTORY` row). */
  final case class HistoryEntry(
      version: Long,
      action: String,
      ts: Option[java.sql.Timestamp],
      numFiles: Int,
      numDeltaFiles: Int)

  /** Commit history, newest first (Delta `DESCRIBE HISTORY` analogue).
   *  Unparseable (torn) entries are skipped. */
  def history(): Seq[HistoryEntry] =
    listVersions().reverse.flatMap { v =>
      try {
        val e = snapshotAt(v).entry
        Some(HistoryEntry(v, e.action, e.ts.map(new java.sql.Timestamp(_)),
          e.files.size, e.deltaFiles.map(_.size).getOrElse(0)))
      } catch { case NonFatal(_) => None }
    }

  /** Restore the table to the state of `version` (Delta `RESTORE TABLE`):
   *  a NEW commit that re-references the old version's files — no data is
   *  copied, history is preserved, and the restored-over commits remain
   *  time-travelable until [[vacuum]] expires them. */
  def restore(version: Long): SnapshotTable = {
    val cur = currentVersion()
    require(version >= 0 && version <= cur,
      s"cannot restore $root to version $version (current: $cur)")
    writeCommit(cur + 1, snapshotAt(version).entry.copy(action = s"restore-$version"))
    this
  }

  /** Register as a temp view, refreshed on every subsequent commit. */
  def registerView(name: String): SnapshotTable = {
    syncedViews = name :: syncedViews.filterNot(_ == name)
    read().createOrReplaceTempView(name)
    this
  }

  // ------------------------------------------------------------- operations

  /**
   * Row-level DELETE: files whose stats can't contain matching rows are
   * carried forward untouched; only files that may match are rewritten
   * with the complement predicate (copy-on-write at file granularity,
   * like MERGE). Returns the number of files rewritten. On a table with
   * pending MoR deltas the delete lands as a [[deleteDeferred]]
   * tombstone batch instead (Hudi MoR delete-log-block semantics) and
   * returns 0 — no base file is touched.
   */
  def delete(predicate: Column): Int = {
    val snap = head()
    val (v, entry) = (snap.version, snap.entry)
    // a table operating MoR (pending deltas) takes the tombstone path:
    // the CoW rewrite below would have to refuse (rewriting the BASE
    // under pending keyed deltas resurrects overridden rows), and Hudi
    // MoR semantics are precisely "deletes are log blocks". Zero files
    // rewritten; SQL DELETE FROM / DSv2 deleteWhere work unchanged on
    // MoR tables instead of demanding applyDeltas() first.
    if (entry.deltaFiles.exists(_.nonEmpty)) {
      deferDelete(snap, predicate, entry.morKeys.get, entry.morPrecombine.get, "delta-delete")
      return 0
    }
    val tschema = snap.schema
    val pred = org.apache.spark.sql.graftshim.SparkInternals.expr(predicate)
    val cs = Pruning.conjuncts(pred)
    val (touched, untouched) =
      entry.files.partition(f => Pruning.mayMatchConjuncts(f, cs, tschema))
    if (touched.isEmpty) return 0
    if (entry.properties.exists(_.get("graft.dv.enabled").contains("true")))
      return deleteWithVectors(snap, predicate, touched, untouched)
    val kept = readFilesAs(snap, touched.map(_.path), tschema)
      .filter(!predicate || predicate.isNull)
    replaceFiles(untouched.map(_.path), kept, "delete", expectVersion = Some(v),
      rebasePredicate = Some(predicate),
      commitSchemaJson = Some(entry.schemaJson))
    touched.size
  }

  /**
   * Deletion-vector DELETE (Delta DV / Iceberg positional-delete parity,
   * enabled by `graft.dv.enabled=true`): instead of rewriting every file
   * a deleted row lives in, the commit appends a small parquet SIDECAR of
   * (file name, row position) pairs — O(deleted rows) bytes written, not
   * O(touched file bytes). Readers anti-join the positions away
   * ([[dvRemove]], a broadcast join — the base side never shuffles).
   * Files where the deleted fraction exceeds `graft.dv.maxFraction`
   * (default 0.2) rewrite classically in the same commit: a DV is a
   * deferral, and deferring most of a file just taxes every later read.
   * [[purgeDeletionVectors]] (REORG … APPLY PURGE role) folds DVs back
   * into clean files. Returns the number of files rewritten (0 = pure
   * DV commit).
   */
  private def deleteWithVectors(
      snap: Snapshot, predicate: Column,
      touched: Seq[FileEntry], untouched: Seq[FileEntry]): Int = {
    import org.apache.spark.sql.functions._
    val (v, entry, tschema) = (snap.version, snap.entry, snap.schema)
    val maxFraction = entry.properties.getOrElse(Map.empty)
      .get("graft.dv.maxFraction").flatMap(_.toDoubleOption).getOrElse(0.2)
    // matched positions, EXCLUDING already-DV'd rows (re-deleting a
    // deleted row must not duplicate positions); lineage captured under
    // private names so dvRemove's own capture cannot collide.
    // Materialized ONCE: the per-file counts and the sidecar write both
    // consume it, and lazily each ran its own full scan+filter of the
    // touched files. Rows are (file, pos) of matched rows only — O(rows
    // this DELETE touches), bounded per file by graft.dv.maxFraction's
    // rewrite escape; blocks release before returning.
    val matchedPositions = dvRemove(snap,
        dfOver(touched.map(_.path), tschema, snap.mapping)
          .withColumn("__del_file", col("_metadata.file_name"))
          .withColumn("__del_pos", col("_metadata.row_index")))
      .filter(predicate)
      .select(col("__del_file").as(SnapshotTable.DvFileCol),
        col("__del_pos").as(SnapshotTable.DvPosCol))
      .localCheckpoint()
    try {
    // job 1: per-file deleted-row counts — O(touched files) driver rows
    val counts = matchedPositions
      .groupBy(SnapshotTable.DvFileCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return 0
    val byName = touched.map(f => new Path(f.path).getName -> f).toMap
    val (vectorized, rewrite) = counts.keys.toSeq.sorted.partition { name =>
      // unknown row counts cannot assess the fraction: rewrite (safe)
      byName.get(name).exists(f => f.rows > 0 && counts(name).toDouble / f.rows <= maxFraction)
    }
    // job 2: the sidecar — deleted positions of the vectorized files only
    val sidecar: Seq[FileEntry] =
      if (vectorized.isEmpty) Nil
      else {
        val dir = new Path(dataDir, UUID.randomUUID().toString.take(12) + "-dv")
        matchedPositions
          .filter(col(SnapshotTable.DvFileCol).isin(vectorized: _*))
          .coalesce(1)
          .write.parquet(dir.toString)
        readFooterStatsAll(fs.listStatus(dir).toSeq
          .filter(s => s.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName), hadoopConf)
          .filter(_.rows != 0L)
      }
    val rewriteFiles = rewrite.flatMap(byName.get)
    if (rewriteFiles.isEmpty) {
      // pure-DV commit: zero data files written or changed
      writeCommit(v + 1, entry.copy(action = "delete-dv", ts = None,
        dvFiles = toOpt(entry.dvFiles.getOrElse(Nil) ++ sidecar)))
      0
    } else {
      // mixed commit: high-fraction files rewrite with the complement
      // (and their own prior DV rows applied); the rest take the sidecar
      val kept = readFilesAs(snap, rewriteFiles.map(_.path), tschema)
        .filter(!predicate || predicate.isNull)
      val carry = untouched ++ touched.filterNot(f => rewrite.contains(new Path(f.path).getName))
      replaceFiles(carry.map(_.path), kept, "delete", expectVersion = Some(v),
        addDvFiles = sidecar, commitSchemaJson = Some(entry.schemaJson))
      rewriteFiles.size
    }
    } finally matchedPositions.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }

  /** The current snapshot's deletion-vector sidecar paths. */
  def dvManifest(): Seq[String] = readable().fold(Seq.empty[String])(_.dvPaths)

  /** Deleted (file name → sorted row positions) of `snap`,
   *  materialized on the driver — the scan-side mirror of [[dvRemove]]'s
   *  broadcast anti-join, same O(deleted rows) budget: DV volume is
   *  bounded by `graft.dv.maxFraction` per file (heavier deletes rewrite
   *  classically) and reclaimed by [[purgeDeletionVectors]]. The DSv2
   *  scan ships this map to its readers and drops the positions
   *  per file, which keeps the bucket layout reportable: a delete never
   *  moves a row between buckets, so KeyGroupedPartitioning (and the
   *  storage-partitioned joins it enables) survives pending DVs. */
  private[graft] def dvPositions(snap: Snapshot): Map[String, Array[Long]] = {
    val dvs = snap.dvPaths
    if (dvs.isEmpty) Map.empty
    else {
      // cache key carries the commit SLOT FILE's identity (mtime+length),
      // not just (logDir, version): a table dropped and recreated at the
      // same path re-reaches overlapping version numbers with a freshly
      // written slot file, and keying on the path alone would serve the
      // dead incarnation's DV map — silently wrong rows. The status probe
      // is one point lookup vs the O(deleted rows) Spark job it guards.
      // Probe FAILURE (slot vacuumed but version still resolvable via a
      // tag/checkpoint) bypasses the cache entirely — a sentinel key
      // would be shared by every incarnation whose probe fails, the
      // exact stale-DV class the slot identity exists to prevent; same
      // rule commitEntry applies.
      def load(): Map[String, Array[Long]] =
        spark.read.schema(SnapshotTable.DvSchema).parquet(dvs: _*)
          .collect()
          .groupBy(_.getString(0))
          .map { case (f, rows) =>
            f -> rows.map(_.getLong(1)).distinct.sorted
          }
      val slotId =
        try {
          val st = fs.getFileStatus(slotPath(snap.version))
          Some((st.getModificationTime, st.getLen))
        } catch { case NonFatal(_) => None }
      slotId match {
        case Some(id) =>
          SnapshotTable.dvPositionsCached(logDir.toString, snap.version, id, () => load())
        case None => load()
      }
    }
  }

  /**
   * Fold every deletion vector back into clean base files (Delta's
   * `REORG TABLE … APPLY (PURGE)` role): files named by any DV sidecar
   * rewrite without their deleted rows, every other file carries
   * forward, and the DV list clears — one commit, change-feed-neutral
   * (the same rows are live before and after). Returns the number of
   * files rewritten.
   */
  def purgeDeletionVectors(): Int = {
    val snap = head()
    val (v, entry) = (snap.version, snap.entry)
    val dvs = entry.dvFiles.getOrElse(Nil)
    if (dvs.isEmpty) return 0
    val tschema = snap.schema
    val names = spark.read.schema(SnapshotTable.DvSchema).parquet(dvs.map(_.path): _*)
      .select(SnapshotTable.DvFileCol).distinct()
      .collect().map(_.getString(0)).toSet // O(live DV'd files) driver rows
    val (touched, rest) = entry.files.partition(f => names(new Path(f.path).getName))
    val rewritten = readFilesAs(snap, touched.map(_.path), tschema)
    replaceFiles(rest.map(_.path), rewritten, "purge-dv",
      expectVersion = Some(v), clearDvFiles = true, rebaseDisjoint = true,
      commitSchemaJson = Some(entry.schemaJson))
    touched.size
  }

  /**
   * Predicate-scoped atomic overwrite — Delta's `replaceWhere` (the
   * idempotent-backfill primitive: re-materialize one day/partition of a
   * derived table in ONE commit, `overwriteWhere(col("dt") === d, df)`).
   * Semantics: delete every row matching `predicate`, insert `df`, as a
   * single atomic commit. Incoming rows must ALL satisfy the predicate
   * (Delta's replaceWhere constraint) — a row outside the declared scope
   * would clobber data no reader of the predicate expects to change;
   * violating writes fail before any file or commit is produced.
   *
   * File granularity mirrors [[delete]]: files whose stats prove they
   * cannot match carry forward untouched (stats and manifest blooms
   * intact); partially-matching files rewrite with the complement; `df`
   * lands as new files — all under one version. Refused while MoR
   * deltas are pending (fold them with [[applyDeltas]] first).
   */
  def overwriteWhere(predicate: Column, df: DataFrame): SnapshotTable = {
    val snap = head()
    val (v, entry) = (snap.version, snap.entry)
    val tschema = snap.schema
    val (aligned0, _) = alignToCommitted(df, tschema, mergeSchema = false)
    // scope guard folded into the write projection itself (the
    // enforceConstraints pattern): ONE pass — no separate validation job
    // recomputing the frame, and a non-deterministic frame cannot show
    // the validator one set of rows and the writer another. A violating
    // row fails the write job, so no commit happens and the partial data
    // dir stays invisible to readers (vacuum-reclaimable).
    val aligned = {
      import org.apache.spark.sql.functions.{coalesce, col, lit, raise_error, when}
      val head = aligned0.schema.fields.head
      aligned0.withColumn(head.name, coalesce(
        when(predicate.isNull || !predicate,
          raise_error(lit(s"overwriteWhere on $root: incoming rows must all " +
            "satisfy the replace predicate; found at least one that does not"))
            .cast(head.dataType)),
        col(head.name)))
    }
    val pred = org.apache.spark.sql.graftshim.SparkInternals.expr(predicate)
    val cs = Pruning.conjuncts(pred)
    val (touched, untouched) =
      entry.files.partition(f => Pruning.mayMatchConjuncts(f, cs, tschema))
    val survivors = readFilesAs(snap, touched.map(_.path), tschema)
      .filter(!predicate || predicate.isNull)
    replaceFiles(untouched.map(_.path), survivors.unionByName(aligned),
      "replace-where", expectVersion = Some(v),
      // survivors re-read from parquet keep prior values, but INCOMING
      // rows can carry NULLs into committed non-nullable columns
      // (alignToCommitted checks types, not nullability) — widen exactly
      // the columns the incoming frame declares nullable
      commitSchemaJson = Some(widenNullability(tschema,
        aligned0.schema.fields.filter(_.nullable).map(_.name.toLowerCase).toSet)))
    this
  }

  /** Prior-schema JSON with nullability widened on `cols` (lowercase
   *  names). Pure rewrites (delete/compact/recluster/purge-dv/
   *  compact-deltas) commit the prior schema VERBATIM — they cannot
   *  introduce values the prior schema excludes. UPDATE / update-dv /
   *  replaceWhere CAN: a SET expression producing NULL, or incoming
   *  replace-where rows with nullable fields, write NULLs into a column
   *  the committed schema declares non-nullable — the metadata would
   *  then lie, catalog scans would expose nullable=false attributes,
   *  and Catalyst folds `IS NULL` on a non-nullable attribute to false:
   *  silent wrong answers. Those paths widen exactly the columns whose
   *  new values may be NULL and keep the committed nullability of every
   *  other column intact (the point of the prior-schema rule: a parquet
   *  re-read reports EVERYTHING nullable and would erase the contract
   *  wholesale). */
  private def widenNullability(prior: StructType, cols: Set[String]): String =
    if (cols.isEmpty) prior.json
    else StructType(prior.fields.map(f =>
      if (!f.nullable && cols.contains(f.name.toLowerCase)) f.copy(nullable = true)
      else f).toSeq).json

  /** The assigned UPDATE columns whose new value can be NULL, resolved
   *  against an empty frame carrying the COMMITTED nullability (the
   *  table's parquet-backed frame reports every column nullable, which
   *  would widen indiscriminately). `UPDATE SET v = v + 1` over a
   *  non-nullable v stays non-nullable; `SET v = NULL` or a failable
   *  cast widens v. Falls back to widening all assigned columns if the
   *  probe cannot resolve — conservative, never a lying commit. */
  private def nullableAssigned(
      tschema: StructType, byName: Map[String, (StructField, Column)]): Set[String] =
    try {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tschema)
      empty.select(byName.toSeq.map { case (name, (field, nv)) =>
        nv.cast(field.dataType).as(name) }: _*)
        .schema.fields.filter(_.nullable).map(_.name.toLowerCase).toSet
    } catch { case NonFatal(_) => byName.keySet.map(_.toLowerCase) }

  /**
   * Row-level UPDATE (`UPDATE t SET … WHERE …`, the SQL surface all three
   * reference formats provide): copy-on-write at file granularity like
   * [[delete]]/merge — files whose stats cannot contain matching rows are
   * carried forward untouched; touched files are rewritten with the
   * assignments applied under `predicate` (CASE per assigned column,
   * pure codegen'd expressions, no driver data). Returns the number of
   * files rewritten. On a table with pending MoR deltas the update
   * lands as an [[upsertDeferred]] batch of the re-assigned matching
   * rows instead (MoR updates ARE upserts, Hudi semantics) and returns
   * 0 — no base file is touched; assignments to a record-key column are
   * rejected there (they would insert under the new key and strand the
   * old row).
   */
  def update(predicate: Column, set: Map[String, Column]): Int = {
    import org.apache.spark.sql.functions.{col => c, when}
    val snap = head()
    val (v, entry) = (snap.version, snap.entry)
    val tschema = snap.schema
    val byName = set.map { case (k, expr) =>
      val field = tschema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(s"UPDATE $root: column $k is not in the table schema"))
      field.name -> (field, expr)
    }
    if (entry.deltaFiles.exists(_.nonEmpty)) {
      val keys = entry.morKeys.get
      byName.keys.foreach(k => require(!keys.exists(_.equalsIgnoreCase(k)),
        s"UPDATE $root: cannot assign record-key column $k while MoR deltas " +
          "are pending (the upsert would land under the new key); applyDeltas() first"))
      val updated = view(snap).filter(predicate)
        .select(tschema.fields.toSeq.map { f =>
          byName.get(f.name) match {
            case Some((field, nv)) => nv.cast(field.dataType).as(f.name)
            case None => c(f.name)
          }
        }: _*)
      deferUpsert(snap, updated, keys, entry.morPrecombine.get, "delta-update")
      return 0
    }
    val pred = org.apache.spark.sql.graftshim.SparkInternals.expr(predicate)
    val cs = Pruning.conjuncts(pred)
    val (touched, untouched) =
      entry.files.partition(f => Pruning.mayMatchConjuncts(f, cs, tschema))
    if (touched.isEmpty) return 0
    if (entry.properties.exists(_.get("graft.dv.enabled").contains("true")))
      return updateWithVectors(snap, predicate, byName, touched, untouched)
    val cols = tschema.fields.toSeq.map { f =>
      byName.get(f.name) match {
        case Some((field, nv)) =>
          when(predicate, nv.cast(field.dataType)).otherwise(c(f.name)).as(f.name)
        case None => c(f.name)
      }
    }
    val rewritten = readFilesAs(snap, touched.map(_.path), tschema)
      .select(cols: _*)
    replaceFiles(untouched.map(_.path), rewritten, "update", expectVersion = Some(v),
      rebasePredicate = Some(predicate),
      commitSchemaJson = Some(widenNullability(tschema, nullableAssigned(tschema, byName))))
    touched.size
  }

  /**
   * Deletion-vector UPDATE (Delta's DV update model): the matched rows'
   * OLD positions land in a sidecar — their files carry forward
   * byte-identical — and the reassigned rows append as new files, all in
   * one commit: bytes written scale with the MATCHED rows, not with
   * every touched file. The same `graft.dv.maxFraction` policy applies —
   * a file where most rows match rewrites classically in the same
   * commit (deferring most of a file just taxes every later read).
   * Returns the number of files rewritten (0 = pure DV+append commit).
   */
  private def updateWithVectors(
      snap: Snapshot, predicate: Column,
      byName: Map[String, (StructField, Column)],
      touched: Seq[FileEntry], untouched: Seq[FileEntry]): Int = {
    import org.apache.spark.sql.functions._
    val (v, entry, tschema) = (snap.version, snap.entry, snap.schema)
    val maxFraction = entry.properties.getOrElse(Map.empty)
      .get("graft.dv.maxFraction").flatMap(_.toDoubleOption).getOrElse(0.2)
    // matched (file, pos) pairs materialized ONCE for the counts job and
    // the sidecar write (lazily each re-scanned the touched files) —
    // projected to the two position columns before pinning, O(matched
    // rows); the reassigned-row append below is its own full-row scan
    // regardless. Blocks release before returning.
    val matchedPositions = dvRemove(snap,
        dfOver(touched.map(_.path), tschema, snap.mapping)
          .withColumn("__upd_file", col("_metadata.file_name"))
          .withColumn("__upd_pos", col("_metadata.row_index")))
      .filter(predicate)
      .select(col("__upd_file"), col("__upd_pos"))
      .localCheckpoint()
    try {
    val counts = matchedPositions
      .groupBy(col("__upd_file")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return 0
    val byFileName = touched.map(f => new Path(f.path).getName -> f).toMap
    val (vectorized, rewrite) = counts.keys.toSeq.sorted.partition { name =>
      byFileName.get(name).exists(f =>
        f.rows > 0 && counts(name).toDouble / f.rows <= maxFraction)
    }
    val sidecar: Seq[FileEntry] =
      if (vectorized.isEmpty) Nil
      else {
        val dir = new Path(dataDir, UUID.randomUUID().toString.take(12) + "-dv")
        matchedPositions
          .filter(col("__upd_file").isin(vectorized: _*))
          .select(col("__upd_file").as(SnapshotTable.DvFileCol),
            col("__upd_pos").as(SnapshotTable.DvPosCol))
          .coalesce(1)
          .write.parquet(dir.toString)
        readFooterStatsAll(fs.listStatus(dir).toSeq
          .filter(s => s.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName), hadoopConf)
          .filter(_.rows != 0L)
      }
    // reassigned versions of the DV'd rows, appended as new files
    val assigned = tschema.fields.toSeq.map { f =>
      byName.get(f.name) match {
        case Some((field, nv)) => nv.cast(field.dataType).as(f.name)
        case None => col(f.name).as(f.name)
      }
    }
    val vectorizedFiles = vectorized.flatMap(byFileName.get)
    val updatedRows = readFilesAs(snap, vectorizedFiles.map(_.path), tschema)
      .filter(predicate).select(assigned: _*)
    val rewriteFiles = rewrite.flatMap(byFileName.get)
    // high-fraction files rewrite in place with the conditional CASE
    val caseCols = tschema.fields.toSeq.map { f =>
      byName.get(f.name) match {
        case Some((field, nv)) =>
          when(predicate, nv.cast(field.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }
    val rewrittenRows = readFilesAs(snap, rewriteFiles.map(_.path), tschema)
      .select(caseCols: _*)
    val carry = untouched ++ vectorizedFiles ++
      touched.filterNot(f => counts.contains(new Path(f.path).getName))
    replaceFiles(carry.map(_.path).distinct,
      updatedRows.unionByName(rewrittenRows),
      if (rewriteFiles.isEmpty) "update-dv" else "update",
      expectVersion = Some(v), addDvFiles = sidecar,
      commitSchemaJson = Some(widenNullability(tschema, nullableAssigned(tschema, byName))))
    rewriteFiles.size
    } finally matchedPositions.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }

  /**
   * Small-file compaction: bin-pack live files below `smallFileBytes`
   * into ~`targetFileBytes` outputs; files already at a healthy size are
   * carried forward untouched. Content is unchanged (same rows, one new
   * commit) — the standard maintenance pass after many small streaming
   * commits. Returns the number of files compacted.
   */
  def compact(
      targetFileBytes: Long = 128L * 1024 * 1024,
      smallFileBytes: Long = 32L * 1024 * 1024,
      scope: Option[Column] = None): Int = {
    val snap = head()
    val (v, entry) = (snap.version, snap.entry)
    val tschema = snap.schema
    // `scope` (OPTIMIZE … WHERE) bounds the rewrite to files whose stats
    // may match — maintenance over the hot partition of a 100 TB table
    // touches only its files, never the full manifest's
    val inScope: FileEntry => Boolean = scope match {
      case None => _ => true
      case Some(p) =>
        val expr = org.apache.spark.sql.graftshim.SparkInternals.expr(p)
        // this predicate never runs against data, so an unknown column
        // would silently degrade to match-all (full-table compaction) —
        // validate the references explicitly instead
        val fields = tschema.fieldNames.map(_.toLowerCase).toSet
        val unknown = Pruning.referencedColumns(expr)
          .filterNot(c => fields.contains(c.toLowerCase)).distinct
        require(unknown.isEmpty,
          s"compact scope references unknown column(s): ${unknown.mkString(", ")}")
        val cs = Pruning.conjuncts(expr)
        f => Pruning.mayMatchConjuncts(f, cs, tschema)
    }
    val (small, healthy) = entry.files.partition(f =>
      f.bytes >= 0 && f.bytes < smallFileBytes && inScope(f))
    if (small.size < 2) return 0
    val totalBytes = small.map(_.bytes).sum
    val outFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val packed = readFilesAs(snap, small.map(_.path), tschema)
      .coalesce(outFiles)
    replaceFiles(healthy.map(_.path), packed, "compact", expectVersion = Some(v),
      numFiles = Some(outFiles), rebaseDisjoint = true,
      commitSchemaJson = Some(entry.schemaJson))
    small.size
  }

  /**
   * Full clustered rewrite of the live file set into `numFiles` files
   * range-partitioned (and row-group-sorted) on `clusterBy` — the
   * maintenance pass that restores per-file range locality after many
   * appends whose key ranges overlap the existing files (the steady
   * state of an append-only index table under streaming ingest:
   * [[compact]] bin-packs by SIZE and so merges whatever partitions it
   * is handed, while a key-probed serve needs each probe key to land in
   * as few files as possible). Per-file blooms and manifest filters
   * rebuild through the normal write path; table properties (geometry
   * pins) carry forward; deletion vectors are applied into the rewrite
   * and cleared. Same rows, one new commit — concurrent appends rebase
   * on top via the disjoint-file maintenance rule (their files ride
   * along unclustered until the next pass). Returns the number of files
   * rewritten (0 when there is nothing to reorganize).
   */
  def recluster(clusterBy: Seq[String], numFiles: Int): Int = {
    require(clusterBy.nonEmpty, "recluster needs at least one cluster column")
    require(numFiles >= 1, s"recluster numFiles must be >= 1, got $numFiles")
    val snap = head()
    val (v, entry) = (snap.version, snap.entry)
    val tschema = snap.schema
    // entries may be plain columns OR transforms (bucket/time) — the
    // setClusterSpec vocabulary; only the SOURCE column must exist
    clusterBy.foreach { c =>
      ClusterTransform.sourceColumns(c).foreach { src =>
        require(tschema.fieldNames.exists(_.equalsIgnoreCase(src)),
          s"recluster entry '$c' references unknown column '$src' " +
            s"(columns: ${tschema.fieldNames.mkString(", ")})")
      }
    }
    // a recorded cluster spec means replaceFiles re-clusters the rewrite
    // by THAT spec — a divergent explicit spec would silently lose, so
    // refuse the ambiguity instead. With a recorded BUCKET spec this is
    // the SPJ MIGRATION path: `setClusterSpec(Seq("bucket(n, c)"))`
    // (metadata-only) followed by one recluster rewrites the whole live
    // set identity-routed, after which the scan reports the layout.
    val tableSpec = entry.clusterBy.getOrElse(Nil)
    require(tableSpec.isEmpty ||
        tableSpec.map(_.toLowerCase) == clusterBy.map(_.toLowerCase),
      s"table $root clusters by [${tableSpec.mkString(", ")}]; recluster " +
        s"called with [${clusterBy.mkString(", ")}] — use setClusterSpec first")
    // gate on EMPTY, not <2: a single-file table with a recorded
    // bucket(n>1) spec genuinely needs the routed rewrite (the SPJ
    // migration path above would otherwise silently no-op — the file
    // never gets its bucket stamp and the layout is never reported),
    // and a caller asking to split one oversized file into numFiles
    // range-clustered outputs asked for exactly that
    if (entry.files.isEmpty) return 0
    val all = readFilesAs(snap, entry.files.map(_.path), tschema)
    // with a recorded spec, replaceFiles' applyCluster(numFiles) does the
    // shuffle (identity-routed for single-bucket specs, range otherwise);
    // otherwise shape the frame here
    val packed =
      if (tableSpec.nonEmpty) all
      else all.repartitionByRange(numFiles,
          clusterBy.map(ClusterTransform.expr): _*)
        .sortWithinPartitions(clusterBy.map(ClusterTransform.expr): _*)
    replaceFiles(Nil, packed, "recluster", expectVersion = Some(v),
      numFiles = Some(numFiles), rebaseDisjoint = true, clearDvFiles = true,
      commitSchemaJson = Some(entry.schemaJson))
    entry.files.size
  }

  /**
   * Garbage collection: delete data files under the table root that are
   * not referenced by any retained commit, and (optionally) expire log
   * entries older than the latest `retainVersions`. Readers of retained
   * versions are unaffected; orphans from failed writes are reclaimed.
   *
   * `retainMillis` is the safety window for in-flight writers: a
   * concurrent commit first writes its data dir, then publishes the log
   * entry — its files are unreferenced in between, and reclaiming them
   * would leave a winning manifest pointing at deleted files. Files whose
   * modification time is inside the window are never touched (Delta's
   * `deletedFileRetentionDuration` semantics; pass 0 only when no writer
   * can be in flight). Returns the number of deleted data files.
   */
  def vacuum(
      retainVersions: Int = Int.MaxValue,
      retainMillis: Long = 24L * 3600 * 1000): Int = {
    // a branch handle's log covers only the branch lineage — computing a
    // live set from it would reclaim files main (or sibling branches)
    // still serve
    requireMainHandle("vacuum")
    val versions = listVersions()
    if (versions.isEmpty) return 0
    // a torn NEWEST entry (concurrent writer mid-commit — or a writer
    // that died mid-publish) is tolerated: its files are inside the
    // retainMillis mtime window. But it must NOT count toward
    // retainVersions: with retainVersions=1 and a permanently torn head,
    // counting it would expire the older GOOD entries and reclaim the
    // files of the last version readable() still falls back to.
    // The retention window extends one version past a torn head instead,
    // so the newest READABLE version is always retained. An unreadable
    // OLDER entry is real corruption and throws before anything deletes.
    val headTorn =
      try { snapshotAt(versions.last); false } catch { case NonFatal(_) => true }
    val keep = math.max(1, retainVersions) match {
      case k if headTorn && k < Int.MaxValue => k + 1
      case k => k
    }
    // Tag-referenced versions keep their FILES alive (the Iceberg
    // tagged-snapshot rule — a tag is precisely a promise that vacuum
    // retention decisions will not take this data away) but NOT their log
    // slots: slots expire uniformly from the oldest end so the retained
    // tail stays contiguous — probeLatest's invariant; a surviving island
    // slot plus a stale hint would resolve as a false head (split brain).
    // Tag reads resolve from the entry copy embedded in the ref payload
    // once the slot is gone ([[commitEntry]]'s fallback). Tags written
    // before entries were embedded are repaired in place here, while
    // their slot is still readable.
    def entryFiles(e: CommitEntry): Seq[String] =
      e.files.map(_.path) ++ e.deltaFiles.getOrElse(Nil).map(_.path) ++
        e.dvFiles.getOrElse(Nil).map(_.path)
    val tagLive: Set[String] = listTags().flatMap { case (name, v) =>
      try {
        val e = snapshotAt(v).entry // slot while present, embedded copy after
        if (versions.dropRight(keep).contains(v) &&
            tagEmbeddedEntry(tagBody(name)).isEmpty) {
          val payload =
            s"""{"version":$v,"ts":${System.currentTimeMillis()},"entry":${e.toJson}}"""
          val out = fs.create(tagPath(name), true)
          try out.write(payload.getBytes("UTF-8")) finally out.close()
        }
        entryFiles(e)
      } catch { case NonFatal(_) => Nil }
    }.toSet
    val live: Set[String] = versions.takeRight(keep).flatMap { v =>
      try entryFiles(snapshotAt(v).entry)
      catch {
        case NonFatal(e) if v == versions.last && headTorn => Nil
      }
    }.toSet ++ tagLive ++ branchLiveFiles() // unpublished branch state shares data/
    // Expire old log entries first so no reader can resolve dropped
    // files. Slot expiry honors the SAME retention window as data files
    // (Delta's log-retention rationale): a slot freed while a publisher
    // is between its head probe and its commit CAS would let that CAS
    // wrongly win BELOW the head — an in-flight writer only ever targets
    // a slot adjacent to a head it resolved moments ago, so slots
    // younger than retainMillis are never freed. Only the contiguous
    // PREFIX of old-enough slots is deleted, keeping the log island-free.
    val slotCutoff = System.currentTimeMillis() - math.max(0L, retainMillis)
    versions.dropRight(keep)
      .takeWhile { v =>
        try fs.getFileStatus(slotPath(v)).getModificationTime <= slotCutoff
        catch { case NonFatal(_) => true } // already gone: prefix continues
      }
      .foreach { v => fs.delete(slotPath(v), false) }
    // re-anchor the hint at the head: a hint pointing below the retained
    // window would force every subsequent read back onto the full listing
    writeHint(versions.last)
    var deleted = 0
    vacuumCandidates(live, retainMillis).foreach { p =>
      if (fs.delete(p, false)) deleted += 1
    }
    // Empty write-dir sweep honors the SAME retention window as files
    // and log slots: a concurrent writer's staging dir is EMPTY between
    // its mkdirs and the first task file landing, and sweeping it in
    // that window kills the write mid-flight (surfaced by the forked
    // fastForward-vs-vacuum race as `chmod: cannot access <dir>` from
    // the writer's own FS call — r15). A dir that just lost its last
    // expired file carries a fresh mtime and is reclaimed by the NEXT
    // vacuum past the window — eventual cleanup, never a torn write.
    if (fs.exists(dataDir)) {
      val dirCutoff = System.currentTimeMillis() - math.max(0L, retainMillis)
      fs.listStatus(dataDir).foreach { d =>
        if (d.getModificationTime < dirCutoff && fs.listStatus(d.getPath).isEmpty)
          fs.delete(d.getPath, true)
      }
    }
    deleted
  }

  /** Unreferenced-and-old data files `live` does not cover — the delete
   *  set vacuum acts on. */
  private def vacuumCandidates(live: Set[String], retainMillis: Long): Seq[Path] = {
    val cutoff = System.currentTimeMillis() - math.max(0L, retainMillis)
    if (!fs.exists(dataDir)) return Nil
    fs.listStatus(dataDir).toSeq.flatMap { d =>
      fs.listStatus(d.getPath).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .filter(f => !live.contains(f.getPath.toUri.getPath) &&
          f.getModificationTime < cutoff)
        .map(_.getPath)
    }
  }

  /** `VACUUM … DRY RUN` (Delta parity): the files [[vacuum]] WOULD
   *  reclaim under the same retention arguments — log entries included
   *  in the would-expire window still count toward `live`, and NOTHING
   *  is deleted or expired. */
  def vacuumDryRun(
      retainVersions: Int = Int.MaxValue,
      retainMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    requireMainHandle("vacuumDryRun")
    val versions = listVersions()
    if (versions.isEmpty) return Nil
    val headTorn =
      try { snapshotAt(versions.last); false } catch { case NonFatal(_) => true }
    val keep = math.max(1, retainVersions) match {
      case k if headTorn && k < Int.MaxValue => k + 1
      case k => k
    }
    // same liveness rule as [[vacuum]]: retained tail + tag-pinned
    // entries (resolved via slot or embedded copy) + branch state
    def entryFiles(e: CommitEntry): Seq[String] =
      e.files.map(_.path) ++ e.deltaFiles.getOrElse(Nil).map(_.path) ++
        e.dvFiles.getOrElse(Nil).map(_.path)
    val tagLive: Set[String] = listTags().flatMap { case (_, v) =>
      try entryFiles(snapshotAt(v).entry) catch { case NonFatal(_) => Nil }
    }.toSet
    val live: Set[String] =
      versions.takeRight(keep).flatMap { v =>
        try entryFiles(snapshotAt(v).entry)
        catch {
          case NonFatal(e) if v == versions.last && headTorn => Nil
        }
      }.toSet ++ tagLive ++ branchLiveFiles()
    vacuumCandidates(live, retainMillis).map(_.toUri.getPath)
  }

  /**
   * Overwrite with range-clustering on `clusterBy`: rows are
   * range-partitioned so each output file covers a disjoint key range,
   * which makes the per-file min/max stats maximally selective — a point
   * lookup on the cluster key then opens exactly one file ([[scan]]).
   * The engine-native equivalent of the formats' clustering/Z-order
   * maintenance for the 1-D case.
   */
  def overwriteClustered(df: DataFrame, clusterBy: Seq[String], numFiles: Int): SnapshotTable =
    overwrite(df.repartitionByRange(numFiles,
      clusterBy.map(c => org.apache.spark.sql.functions.col(c)): _*))

  /** Hudi-semantics keyed upsert — see [[graft.ops.Upsert]]. */
  def upsert(incoming: DataFrame, keys: Seq[String], precombine: String): SnapshotTable =
    graft.ops.Upsert(this, incoming, keys, precombine)

  /**
   * SHALLOW CLONE (Delta `CREATE TABLE … SHALLOW CLONE` semantics): a new
   * table at `newRoot` whose first commit re-references THIS table's
   * current live files — zero data copied, O(files) metadata. The clone
   * then evolves independently: its rewrites land under its own root, and
   * its [[vacuum]] cannot reclaim the source's files (vacuum only deletes
   * under the table's own `data/` dir). Deleting/vacuuming the SOURCE can
   * orphan the clone's referenced files — same caveat as Delta.
   */
  def shallowCloneTo(newRoot: String, asOfVersion: Option[Long] = None): SnapshotTable = {
    // version-pinned clone (`… SHALLOW CLONE t VERSION AS OF n`):
    // re-reference the files of that snapshot; vacuuming the source past
    // it can orphan them — same caveat as the current-version form
    val entry = asOfVersion.fold(required(readable()))(snapshotAt).entry
    require(entry.deltaFiles.forall(_.isEmpty),
      s"table $root has pending MoR deltas; applyDeltas() before cloning")
    val clone = new SnapshotTable(spark, newRoot)
    require(clone.currentVersion() < 0, s"clone target $newRoot is not empty")
    clone.writeCommit(0, entry.copy(action = s"clone-of:$root"))
    clone
  }

  // ------------------------------------------------------------ named refs
  // Tags and branches (Iceberg refs, `iceberg/iceberg_submit.sh` ships the
  // full Iceberg runtime whose catalog carries them): a TAG is an immutable
  // named pointer to a committed version — audit/repro handles that survive
  // vacuum retention decisions being made in version numbers. A BRANCH is a
  // mutable fork with its OWN commit log under `_refs/branch/<name>/_log`
  // sharing the main table's `data/` directory — writes land on the branch
  // in full isolation (main readers never see them), then [[fastForward]]
  // publishes the audited head back to main in ONE CAS commit: the
  // write-audit-publish (WAP) pattern. Zero data is copied at fork or
  // publish time — both are O(manifest) metadata writes, which is what
  // makes WAP viable on a 100 TB table.

  private def refsDir = new Path(rootPath, "_refs")
  private def tagsDir = new Path(refsDir, "tag")
  private def tagPath(name: String) = new Path(tagsDir, s"$name.json")

  /** Ref names become path components — keep them path-safe. All-digit
   *  names are rejected: `VERSION AS OF '2024'` parses as an integer
   *  version first, so such a tag could never be addressed through the
   *  SQL time-travel surface (or, worse, would silently shadow a real
   *  version number). */
  private def validateRefName(name: String): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*"),
      s"ref name '$name' must match [A-Za-z0-9][A-Za-z0-9_.-]*")
    require(!name.forall(_.isDigit),
      s"ref name '$name' is all digits — indistinguishable from a version number")
  }

  private def requireMainHandle(op: String): Unit =
    require(branchName.isEmpty,
      s"$op must run on the main table handle, not branch '${branchName.getOrElse("")}'")

  /**
   * Create an immutable tag pointing at `asOfVersion` (default: the
   * current head). Write-once: the ref file is claimed with
   * `create(overwrite=false)`, so two racing `createTag`s of one name
   * fail loudly rather than silently retargeting — retagging requires an
   * explicit [[dropTag]] first (Iceberg tag immutability).
   */
  def createTag(name: String, asOfVersion: Option[Long] = None): SnapshotTable = {
    requireMainHandle("createTag")
    validateRefName(name)
    // tag targets must be readable commits: fail here, not at read
    val snap = asOfVersion.fold(head())(snapshotAt)
    val (v, entry) = (snap.version, snap.entry)
    // tags and branches are separate namespaces, but `VERSION AS OF
    // '<name>'` resolves both — a name living in each would be ambiguous
    require(!hasBranch(name),
      s"a branch named '$name' exists on $root; tag and branch names share " +
        "the VERSION AS OF namespace and must not collide")
    fs.mkdirs(tagsDir)
    // The tag carries a COPY of the commit entry (entry key LAST so it can
    // be extracted without a JSON parser): a tag is a retention promise,
    // and honoring it by leaving the tagged log SLOT alive would break the
    // contiguity invariant probeLatest depends on (an expired-around
    // island slot + a stale hint could resolve as a false head — split
    // brain). Self-contained refs keep the main log uniformly expirable;
    // only file LIVENESS is tag-exempt in vacuum.
    val payload =
      s"""{"version":$v,"ts":${System.currentTimeMillis()},"entry":${entry.toJson}}"""
    // the ref file is claimed through the pluggable CommitLock — the same
    // atomic slot primitive commits use. A bare create(overwrite=false)
    // is a non-atomic exists-then-create on the local filesystem
    // (CommitLock.scala's own rationale), so two racing createTag calls
    // could both "win" and last-writer-wins the supposedly immutable ref
    try commitLock.publish(fs, tagPath(name), tmpDir, payload.getBytes("UTF-8"))
    catch {
      case e: ConcurrentCommitException => throw new IllegalArgumentException(
        s"tag '$name' already exists on $root (tags are immutable; dropTag first)", e)
    }
    this
  }

  /** Whether a tag exists — one existence probe, no ref listing (the
   *  time-travel resolution path must not pay O(tags) reads). */
  def hasTag(name: String): Boolean =
    name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*") && fs.exists(tagPath(name))

  /** Whether a branch exists — one existence probe. */
  def hasBranch(name: String): Boolean =
    name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*") &&
      fs.exists(new Path(refsDir, s"branch/$name/_log"))

  private def tagBody(name: String): String = {
    val p = tagPath(name)
    require(fs.exists(p), s"no tag '$name' on $root")
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
      bos.toString("UTF-8")
    } finally in.close()
  }

  /** The version a tag points at. */
  def tagVersion(name: String): Long = {
    validateRefName(name)
    val body = tagBody(name)
    "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"tag '$name' on $root is unreadable: $body"))
  }

  /** The commit entry embedded in a tag payload (entry is the LAST key,
   *  so extraction is a substring, no JSON parser). None for a payload
   *  without one. */
  private def tagEmbeddedEntry(body: String): Option[CommitEntry] = {
    val key = "\"entry\":"
    val t = body.trim
    val idx = t.indexOf(key)
    if (idx < 0) None
    else Some(CommitEntry.fromJson(t.substring(idx + key.length, t.length - 1)))
  }

  /** Resolve `version`'s entry from any tag that pinned it — the fallback
   *  [[commitEntry]] uses once vacuum has expired the log slot. O(tags)
   *  ref reads, paid only on the slot-miss path. */
  private def tagEntryFor(version: Long): Option[CommitEntry] = {
    if (!fs.exists(tagsDir)) return None
    fs.listStatus(tagsDir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .iterator
      .flatMap { f =>
        try {
          val body = tagBody(f.stripSuffix(".json"))
          if ("\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
                .exists(_.group(1).toLong == version)) tagEmbeddedEntry(body)
          else None
        } catch { case NonFatal(_) => None }
      }
      .nextOption()
  }

  /** Snapshot read at a tag — `VERSION AS OF '<tag>'` through the SQL
   *  surface resolves here. */
  def readTag(name: String): DataFrame = readVersion(tagVersion(name))

  /** All tags, (name, version), name-ordered. */
  def listTags(): Seq[(String, Long)] = {
    if (!fs.exists(tagsDir)) return Nil
    fs.listStatus(tagsDir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(f => f.stripSuffix(".json"))
      .sorted
      .map(n => n -> tagVersion(n))
  }

  def dropTag(name: String): Unit = {
    requireMainHandle("dropTag")
    validateRefName(name)
    require(fs.delete(tagPath(name), false), s"no tag '$name' on $root")
  }

  /**
   * Fork a branch at the current head: the head's commit entry is copied
   * into the branch log at the SAME version number (action records the
   * fork), so the branch handle is self-contained and its version
   * numbers stay aligned with main for the eventual [[fastForward]].
   * O(manifest) metadata, no data copied.
   */
  def createBranch(name: String): SnapshotTable = {
    requireMainHandle("createBranch")
    validateRefName(name)
    require(!hasTag(name),
      s"a tag named '$name' exists on $root; tag and branch names share " +
        "the VERSION AS OF namespace and must not collide")
    val snap = required(readable())
    val (v, entry) = (snap.version, snap.entry)
    require(entry.deltaFiles.forall(_.isEmpty),
      s"table $root has pending MoR deltas; applyDeltas() before branching")
    val b = new SnapshotTable(spark, root, Some(name))
    require(b.currentVersion() < 0, s"branch '$name' already exists on $root")
    b.writeCommit(v, entry.copy(action = s"branch-fork@$v"))
    b
  }

  /** Open an existing branch. */
  def branch(name: String): SnapshotTable = {
    requireMainHandle("branch")
    validateRefName(name)
    val b = new SnapshotTable(spark, root, Some(name))
    require(b.currentVersion() >= 0, s"no branch '$name' on $root")
    b
  }

  /** All branch names, ordered. */
  def listBranches(): Seq[String] = {
    val dir = new Path(refsDir, "branch")
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Delete a branch ref (log only — shared data files stay; any the
   *  branch alone referenced become unreferenced and are reclaimed by a
   *  later [[vacuum]] once past its retention window). */
  def dropBranch(name: String): Unit = {
    requireMainHandle("dropBranch")
    validateRefName(name)
    val dir = new Path(refsDir, s"branch/$name")
    require(fs.exists(dir), s"no branch '$name' on $root")
    fs.delete(dir, true)
  }

  /**
   * Publish a branch back to main — the WAP "publish" step. The branch
   * head's manifest lands on main as ONE squash commit in the slot right
   * after the fork point, so publication is atomic: the commit-slot CAS
   * itself proves main has not advanced since the fork (a true
   * fast-forward). If main did advance, the CAS loses and throws
   * [[SnapshotTable.ConcurrentCommitException]] — re-fork and replay, the
   * same contract Iceberg's `fast_forward` enforces via its
   * ancestor check. Zero data movement; audits run on the branch read
   * the exact files main will serve after publish.
   */
  def fastForward(name: String): SnapshotTable = {
    requireMainHandle("fastForward")
    val b = branch(name)
    val bs = b.readable().getOrElse(
      throw new IllegalStateException(s"branch '$name' on $root has no readable head"))
    val (bv, be) = (bs.version, bs.entry)
    require(be.deltaFiles.forall(_.isEmpty),
      s"branch '$name' has pending MoR deltas; applyDeltas() on the branch before publishing")
    val base = b.listVersions().headOption.getOrElse(
      throw new IllegalStateException(s"branch '$name' on $root has an empty log"))
    require(bv > base, s"branch '$name' has no commits past its fork point ($base); nothing to publish")
    // the slot CAS alone is not enough once vacuum may have EXPIRED old
    // slots: with main at v5 and slots 0..4 reclaimed, a stale branch
    // forked at v0 would find slot 1 free and "win" a commit BELOW the
    // head — a silently lost publish and a hole in the contiguous
    // retained tail. Probe the head first; the CAS then only has to
    // arbitrate the head==base → head==base+1 transition itself.
    val head = currentVersion()
    if (head != base) throw new ConcurrentCommitException(
      s"main of $root advanced since branch '$name' forked " +
        s"(fork base $base, head $head); re-fork and replay")
    writeCommit(base + 1, be.copy(action = s"publish-branch:$name@$bv"))
    this
  }

  /** Files referenced by any branch log — unpublished branch state lives
   *  in the shared `data/` dir and must survive a main-side [[vacuum]]. */
  private def branchLiveFiles(): Set[String] =
    listBranches().flatMap { name =>
      try {
        val b = new SnapshotTable(spark, root, Some(name))
        b.listVersions().flatMap { v =>
          try {
            val e = b.snapshotAt(v).entry
            e.files.map(_.path) ++ e.deltaFiles.getOrElse(Nil).map(_.path) ++
              e.dvFiles.getOrElse(Nil).map(_.path)
          } catch {
            // a torn branch entry's files are mid-write → inside the
            // retainMillis mtime window, safe from this vacuum pass
            case NonFatal(_) => Nil
          }
        }
      } catch {
        // branch dropped between the listing and the log read (concurrent
        // dropBranch): it contributes no liveness — its mid-delete files,
        // like torn entries, are covered by the retainMillis mtime window
        case NonFatal(_) => Nil
      }
    }.toSet

  // --------------------------------------------------------- merge-on-read

  /**
   * MERGE-ON-READ keyed upsert (Hudi MoR, the reference's
   * `hudi_contact_mor_rt` table, `hudi/hudi_scd_script.py:13-18`): the
   * incoming batch lands as DELTA files in O(batch) work — no base file
   * is rewritten — and is resolved against the base at read time
   * ([[read]] = the `_rt` view, [[readBase]] = `_ro`). The pain this
   * solves at 100 TB: frequent small upserts under copy-on-write rewrite
   * a full file per touched key per batch; deferred deltas amortize all
   * of that into one [[applyDeltas]] compaction.
   *
   * All pending deltas must share one (keys, precombine) spec; row-level
   * base rewrites (merge/delete/compact) are rejected while deltas are
   * pending — fold them in first.
   */
  def upsertDeferred(
      incoming: DataFrame,
      keys: Seq[String],
      precombine: String,
      action: String = "delta-upsert"): SnapshotTable = {
    require(keys.nonEmpty, "upsertDeferred needs at least one record-key column")
    deferUpsert(head(), incoming, keys, precombine, action)
  }

  private def deferUpsert(snap: Snapshot, incoming: DataFrame, keys: Seq[String],
      precombine: String, action: String): SnapshotTable =
    commitDeferred(snap, keys, precombine, action, "upsertDeferred")(
      alignToCommitted(incoming, snap.schema, mergeSchema = false)._1)

  /**
   * MoR deferred DELETE (Hudi delete log-block semantics — the
   * reference's MoR pipelines append delete blocks instead of rewriting
   * base files, `hudi/hudi_scd_script.py:13-18` table types): rows
   * matching `predicate` in the CURRENT real-time view are recorded as a
   * delete-tombstone delta batch — key columns plus a marker, O(matching
   * keys) written, NO base-file rewrite. The RT view ([[read]]/[[scan]])
   * anti-joins tombstoned keys away; a LATER [[upsertDeferred]] of the
   * same key resurrects it (batch order wins, exactly like eager
   * replay); [[applyDeltas]] folds tombstones into the base rewrite;
   * [[readChanges]] reports them as `delete` rows. Contrast [[delete]],
   * the CoW path that rewrites touched files immediately.
   *
   * Returns without committing when nothing matches (a no-op delete
   * must not pin `keys`/`precombine` on the table's MoR state).
   */
  def deleteDeferred(
      predicate: Column,
      keys: Seq[String],
      precombine: String,
      action: String = "delta-delete"): SnapshotTable = {
    require(keys.nonEmpty, "deleteDeferred needs at least one record-key column")
    deferDelete(head(), predicate, keys, precombine, action)
  }

  private def deferDelete(snap: Snapshot, predicate: Column, keys: Seq[String],
      precombine: String, action: String): SnapshotTable =
    commitDeferred(snap, keys, precombine, action, "deleteDeferred") {
      // resolve against the RT view so a delete composes with pending
      // upserts (deleting a key whose latest version exists only in a
      // delta batch must still tombstone it)
      val matching = view(snap).filter(predicate)
        .select(keys.map(org.apache.spark.sql.functions.col): _*).distinct()
      // full-width tombstone rows (payload nulls) + physical marker: one
      // uniform read schema covers upsert and tombstone batches
      alignTo(matching, snap.schema)
        .withColumn(SnapshotTable.DeleteMarker, org.apache.spark.sql.functions.lit(true))
    }

  /** Check `op`'s record key and precombine against `snap`, then write
   *  `batch` as one delta batch and commit it on top of `snap`. An empty
   *  batch (an UPDATE or delete whose predicate matched nothing) commits
   *  nothing: a junk version with an unchanged delta list would pollute
   *  history, advance streaming cursors for no logical change, and pin
   *  `keys`/`precombine` on the table's MoR state. */
  private def commitDeferred(snap: Snapshot, keys: Seq[String], precombine: String,
      action: String, op: String)(batch: => DataFrame): SnapshotTable = {
    val e = snap.entry
    (keys :+ precombine).foreach(k => require(
      snap.schema.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"$op: column $k is not in the table schema"))
    // config persists across folds/rewrites as table state; it only
    // PINS the keying while deltas are actually pending (mixing keyings
    // within one un-folded overlay is the unresolvable case) — with a
    // clean overlay a re-key simply updates the recorded config
    val pendingDeltas = e.deltaFiles.exists(_.nonEmpty)
    e.morKeys.foreach(prev => require(!pendingDeltas || prev == keys.toList,
      s"pending deltas keyed on $prev; applyDeltas() before switching to $keys"))
    e.morPrecombine.foreach(prev => require(!pendingDeltas || prev == precombine,
      s"pending deltas precombine on $prev; applyDeltas() before switching to $precombine"))
    val files = writeDataDir(batch, Some(snap))
    if (files.isEmpty) return this
    writeCommit(snap.version + 1, e.copy(action = action,
      deltaFiles = Some(e.deltaFiles.getOrElse(Nil) ++ files),
      morKeys = Some(keys.toList),
      morPrecombine = Some(precombine)))
    maybeAutoCompact(snap, e.deltaFiles.getOrElse(Nil).size + files.size)
    this
  }

  /**
   * Inline auto-compaction (Hudi `hoodie.compact.inline.max.delta.commits`
   * role, `hudi/hudi_scd_script.py:13-18` MoR table semantics): when
   * table property `graft.compact.maxDeltas = N` is set and a deferred
   * commit leaves MORE than N pending delta files, [[applyDeltas]] runs
   * inline as its own follow-up commit. Readers are indifferent — the RT
   * view is identical across the boundary and the change feed reports
   * compaction as no row-level change — so losing an auto-compaction
   * race to a concurrent writer is harmless: that writer's own deferred
   * commit re-evaluates the threshold.
   */
  private def maybeAutoCompact(prior: Snapshot, pendingDeltaFiles: Int): Unit = {
    val threshold = prior.properties.get("graft.compact.maxDeltas").flatMap(_.toIntOption)
    threshold.foreach { n =>
      if (pendingDeltaFiles > n) {
        try applyDeltas()
        catch { case _: ConcurrentCommitException => () }
      }
    }
  }

  /** Pending delta file list (empty when the table is pure CoW). */
  def deltaManifest(): Seq[String] = readable().fold(Seq.empty[String])(_.deltaPaths)

  /**
   * MoR compaction: fold all pending deltas into the base (one CoW
   * rewrite of just the files whose key range can overlap the deltas —
   * the overlap test runs on the delta files' FOOTER STATS, no job) and
   * clear the delta list. The superseded delta/base files stay on disk
   * for time travel until [[vacuum]]. Returns the number of base files
   * rewritten.
   */
  def applyDeltas(): Int = {
    val snap = head()
    val (v, entry) = (snap.version, snap.entry)
    val deltaEntries = entry.deltaFiles.getOrElse(Nil)
    if (deltaEntries.isEmpty) return 0
    val schema = snap.schema
    val keys = entry.morKeys.getOrElse(Nil)
    val latest = latestDeltaRows(deltaEntries, schema, keys,
      entry.morPrecombine.get, snap.mapping)
    val (touched, untouched) = deltaKeyRange(deltaEntries, keys, schema) match {
      case Some(p) =>
        val pe = org.apache.spark.sql.graftshim.SparkInternals.expr(p)
        val cs = Pruning.conjuncts(pe)
        entry.files.partition(f => Pruning.mayMatchConjuncts(f, cs, schema))
      case None => (entry.files, Nil)
    }
    val rewritten = readFilesAs(snap, touched.map(_.path), schema)
      .join(latest.select(keys.map(org.apache.spark.sql.functions.col): _*),
        keys, "left_anti")
      .unionByName(latest
        .filter(!org.apache.spark.sql.functions.col(SnapshotTable.DeleteMarker))
        .drop(SnapshotTable.DeleteMarker))
    // expectVersion: an upsertDeferred landing between the snapshot read
    // above and this commit must NOT be silently cleared from deltaFiles
    // (maintenanceRebaseSafe requires deltas UNCHANGED, so the disjoint
    // rebase only absorbs interleaved appends — which commute: the
    // rebased result equals the applyDeltas-then-append serial schedule)
    replaceFiles(untouched.map(_.path), rewritten, "compact-deltas",
      expectVersion = Some(v), rebaseDisjoint = true,
      commitSchemaJson = Some(entry.schemaJson))
    touched.size
  }

  /** Conjunctive per-key [min,max] range of the delta files, from footer
   *  stats alone — None (= every base file may overlap) when any delta
   *  file lacks stats or a key type has no stats domain. */
  private def deltaKeyRange(
      deltaEntries: Seq[FileEntry],
      keys: Seq[String],
      schema: StructType): Option[Column] = {
    import org.apache.spark.sql.functions.{col => c, lit => l}
    val preds = keys.map { k =>
      val field = schema.fields.find(_.name.equalsIgnoreCase(k)) match {
        case Some(f) => f
        case None => return None
      }
      val perFile = deltaEntries.map(f =>
        f.stats.get(field.name).flatMap(cs => for (mn <- cs.min; mx <- cs.max) yield (mn, mx)))
      if (perFile.isEmpty || perFile.exists(_.isEmpty)) return None
      val bs = perFile.flatten
      field.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          c(field.name) >= l(bs.map(_._1.toLong).min).cast(field.dataType) &&
            c(field.name) <= l(bs.map(_._2.toLong).max).cast(field.dataType)
        case FloatType | DoubleType =>
          c(field.name) >= l(bs.map(_._1.toDouble).min).cast(field.dataType) &&
            c(field.name) <= l(bs.map(_._2.toDouble).max).cast(field.dataType)
        case _: StringType =>
          // bounds min/max selected in CODE-POINT order (what parquet stats
          // and Pruning compare in) — Java String ordering is code-unit and
          // disagrees beyond the BMP, which would narrow the range wrongly
          val cpOrd: Ordering[String] =
            (a: String, b: String) => SnapshotTable.codePointCompare(a, b)
          c(field.name) >= l(bs.map(_._1).min(cpOrd)) &&
            c(field.name) <= l(bs.map(_._2).max(cpOrd))
        case _ => return None
      }
    }
    Some(preds.reduce(_ && _))
  }

  /** Upsert with a caller-supplied commit action tag (streaming sinks
   *  record their micro-batch id for idempotent redelivery). */
  private[graft] def upsertAs(
      incoming: DataFrame, keys: Seq[String], precombine: String, action: String): SnapshotTable =
    graft.ops.Upsert(this, incoming, keys, precombine, action)

  /** Delta/Iceberg-semantics MERGE INTO — see [[graft.ops.MergeInto]]. */
  def merge(source: DataFrame, condition: Column): graft.ops.MergeInto =
    new graft.ops.MergeInto(this, source, condition)

  /**
   * Apply a change feed ([[readChanges]] output — local or from another
   * table) to THIS table: the downstream-materialization consumer of
   * CDC, i.e. the reference ecosystem's "incremental query feeds the
   * next table" pattern (Hudi incremental pull → downstream upsert).
   *
   * Reduction first: preimages are dropped, then the LATEST change per
   * key (by `_commit_version`) wins — replaying a multi-version window
   * in one shot converges to the same state as version-by-version
   * application, and re-applying an overlapping window is idempotent.
   * The reduced set routes through one [[merge]]: `delete` rows delete
   * matched targets, everything else updates-by-name or inserts
   * (feed-only meta columns are ignored by name binding).
   */
  def applyChanges(feed: DataFrame, keys: Seq[String]): SnapshotTable = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "applyChanges needs at least one record-key column")
    val meta = Set("_change_type", "_commit_version", "_commit_ts")
    keys.foreach(k => require(feed.columns.exists(_.equalsIgnoreCase(k)),
      s"applyChanges: key column $k is not in the feed"))
    meta.foreach(m => require(feed.columns.contains(m),
      s"applyChanges: $m missing — is this a readChanges feed?"))
    val carried = feed.columns.toSeq.filterNot(c => meta(c)) :+ "_change_type"
    val latest = feed.filter(col("_change_type") =!= "update_preimage")
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(carried.map(col): _*), col("_commit_version")).as("__c"))
      .select(carried.map(c => col(s"__c.$c").as(c)): _*)
    merge(latest, keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _))
      .whenMatched(col("s._change_type") === "delete").delete()
      .whenMatched().updateAll()
      .whenNotMatched(col("s._change_type") =!= "delete").insertAll()
      .execute()
    this
  }
}

object SnapshotTable {

  class ConcurrentCommitException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** Process-wide OCC observability: one counter per SUCCESSFUL rebase
   *  retry (a commit that lost its slot CAS, verified the interleaved
   *  head commutes under its rule — blind-append / disjoint-maintenance /
   *  disjoint-read-set — and re-landed on the new base with zero
   *  recompute). Surfaced conflicts are counted by the caller (they see
   *  the exception); this counts what would otherwise be invisible.
   *  Diagnostics/benchmarks only — never consulted by commit logic. */
  object occStats {
    val rebases = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = rebases.set(0)
  }

  /** Table property holding the newline-joined, sorted list of staging
   *  file paths already ingested by [[SnapshotTable.copyInto]] — the
   *  exactly-once registry of Delta's COPY INTO, carried forward (and
   *  updated atomically with the data) by every commit. */
  val CopyLoadedProp = "graft.copyinto.loaded"

  /** Marker column of MoR delete-tombstone delta files
   *  ([[SnapshotTable.deleteDeferred]]): physical `true` in tombstone
   *  batches, absent (→ read as false) in upsert batches. Never appears
   *  in a table's logical schema or any read surface. */
  private[graft] val DeleteMarker = "__graft_delete"

  /** Deletion-vector sidecar schema: deleted positions keyed by base-file
   *  NAME (part-file names embed a per-job UUID — unique table-wide) and
   *  the parquet reader's within-file `_metadata.row_index`. */
  private[graft] val DvFileCol = "__dv_file"
  private[graft] val DvPosCol = "__dv_pos"
  private[graft] val DvSchema = StructType(Seq(
    StructField(DvFileCol, StringType, nullable = false),
    StructField(DvPosCol, LongType, nullable = false)))

  /** Cluster-spec transform grammar (see [[SnapshotTable.clusterSpec]]):
   *  `col`, `years(col)`, `months(col)`, `days(col)`, `hours(col)`,
   *  `bucket(n, col)`. Pure `Column` expressions — evaluated only while
   *  repartitioning a write; never stored per row. */
  /** UTC truncation of timestamp micros to a calendar period — one
   *  arithmetic shared by the hybrid layout's stats-derived tuples and
   *  the catalog's V2 time functions (`days(ts)` etc.), so the reported
   *  partitioning and any runtime evaluation agree by construction.
   *  `Math.floorDiv` keeps pre-epoch values on the correct side. */
  private[graft] object TimeTrunc {
    private val HourMicros = 3600000000L
    private val DayMicros = 86400000000L
    def truncMicros(micros: Long, unit: String): Long =
      unit.toLowerCase.stripSuffix("s") match {
        case "hour" => Math.floorDiv(micros, HourMicros) * HourMicros
        case "day" => Math.floorDiv(micros, DayMicros) * DayMicros
        case u @ ("month" | "year") =>
          val date = java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, DayMicros))
          val t = if (u == "month") date.withDayOfMonth(1) else date.withDayOfYear(1)
          t.toEpochDay * DayMicros
        case other =>
          throw new IllegalArgumentException(s"unsupported time unit: $other")
      }
  }

  private[graft] object ClusterTransform {
    import org.apache.spark.sql.functions._
    private val Bucket = """bucket\(\s*(\d+)\s*,\s*([^)]+?)\s*\)""".r
    private val Time = """(years|months|days|hours)\(\s*([^)]+?)\s*\)""".r

    private def splitCols(cs: String): Seq[String] =
      cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    /** The underlying column(s) a spec entry clusters on — one for
     *  identity/time entries, one or more for `bucket(n, a, b, …)`
     *  (composite bucket keys: the fact-table pattern keyed on e.g.
     *  (entity, day) where neither column alone is the join key). */
    def sourceColumns(spec: String): Seq[String] = spec match {
      case Bucket(_, cs) => splitCols(cs)
      case Time(_, c) => Seq(c)
      case plain => Seq(plain)
    }

    /** `spec` with column `from` renamed to `to` (RENAME COLUMN). */
    def rename(spec: String, from: String, to: String): String = spec match {
      case Bucket(n, cs) if splitCols(cs).exists(_.equalsIgnoreCase(from)) =>
        s"bucket($n, ${splitCols(cs).map(c =>
          if (c.equalsIgnoreCase(from)) to else c).mkString(", ")})"
      case Time(u, c) if c.equalsIgnoreCase(from) => s"$u($to)"
      case plain if plain.equalsIgnoreCase(from) => to
      case other => other
    }

    def expr(spec: String): Column = spec match {
      case Bucket(n, cs) =>
        val count = scala.util.Try(n.toInt).toOption.filter(_ > 0).getOrElse(
          throw new IllegalArgumentException(
            s"bucket count must be a positive 32-bit int in cluster spec: $spec"))
        // multi-column keys hash as ONE chained murmur3 (SQL `hash(a,b)`),
        // the same chain `repartition(n, a, b)` and the V2 bucket
        // function compute — all three layouts agree bit-for-bit
        pmod(hash(splitCols(cs).map(col): _*), lit(count))
      case Time(unit, c) => date_trunc(unit.stripSuffix("s").toUpperCase, col(c))
      case plain => col(plain)
    }

    /** Some((numBuckets, sourceColumns)) when the spec is EXACTLY one
     *  bucket transform (single- or multi-column key) — the layout
     *  eligible for identity-routed writes and storage-partitioned-join
     *  scan reporting. */
    def bucketOnly(spec: Seq[String]): Option[(Int, Seq[String])] =
      routedSpec(spec).collect { case (n, cs, subs) if subs.isEmpty => (n, cs) }

    /** Some((numBuckets, bucketCols, subEntries)) when the spec is ONE
     *  leading bucket transform followed by zero or more PLAIN identity
     *  columns or TIME transforms — the identity-routable layouts. With
     *  sub-entries (the Iceberg `bucket(n, entity), day` /
     *  `bucket(n, entity), days(ts)` fact-table patterns), writes
     *  additionally split each bucket's output so every file holds
     *  exactly ONE value per sub-entry (the raw column for identity,
     *  the truncated time for a transform); the scan then re-derives
     *  each file's (bucket, values…) tuple from its exact stats and
     *  reports a multi-key KeyGroupedPartitioning — composite-key joins
     *  with zero Exchange. (A SINGLE multi-column `bucket(n, a, b)`
     *  cannot serve SPJ on stock Spark: the planner's
     *  KeyGroupedPartitioning support gate requires one child reference
     *  per transform expression — the hybrid spec is the upstream-
     *  compatible encoding of a composite key.) */
    def routedSpec(spec: Seq[String]): Option[(Int, Seq[String], Seq[String])] =
      spec match {
        case Bucket(n, cs) +: rest if rest.forall {
            case Bucket(_, _) => false
            case _ => true
          } =>
          scala.util.Try(n.toInt).toOption.filter(_ > 0)
            .map(nb => (nb, splitCols(cs), rest.toSeq))
            .filter(_._2.nonEmpty)
        case _ => None
      }

    /** Some((unit, column)) when the entry is a time transform. */
    def timeEntry(spec: String): Option[(String, String)] = spec match {
      case Time(u, c) => Some((u, c))
      case _ => None
    }
  }

  /** Column min/max/nullCount of one parquet file, harvested from its
   *  footer. `min`/`max` are stringified in the column's natural domain
   *  (integral/timestamp/date → long, float/double → double, string →
   *  utf8); absent when the footer had no usable stats. */
  /** Per-file column bounds as committed. `exact` is set (to true) ONLY
   *  on STRING columns written by OUR OWN writer whose min/max round-
   *  tripped untruncated ([[truncateStatsMin]]/[[truncateStatsMax]] were
   *  identity in every chunk): such bounds are the verbatim column
   *  values, so consumers that structurally refuse strings because
   *  footer bounds may truncate ([[SnapshotTable!.fileSingleValue]], the
   *  TopN θ-rule, metadata MIN/MAX) can serve them — the Iceberg
   *  `identity(string)` partition-parity path. Never set on adopted/
   *  foreign files ([[convert]]): their footers may have been truncated
   *  by a writer we don't control, with no marker. Absent (None) in all
   *  pre-flag commit logs and for non-string columns, whose exactness is
   *  type-derived. */
  final case class ColStats(min: Option[String], max: Option[String], nullCount: Option[Long],
      exact: Option[Boolean] = None)

  /** Session-aware unique field resolution for every stats-trusting
   *  derivation (file pruning, key probes, TopN caps, metadata serves):
   *  under a case-sensitive session the EXACT name must exist; otherwise
   *  a UNIQUE case-insensitive match is required. With two columns
   *  differing only in case, first-match binding could prune files or
   *  serve aggregates off the WRONG column's stats — wrong rows; None
   *  degrades every caller to its conservative path (keep the file /
   *  keep the scan). */
  /** [[resolveField]]'s name-list twin: exact spelling first, then a
   *  UNIQUE case-insensitive match; ambiguity refuses. */
  private[graft] def pickName(names: Seq[String], n: String): Option[String] =
    if (names.contains(n)) Some(n)
    else {
      val m = names.filter(_.equalsIgnoreCase(n))
      if (m.length == 1) m.headOption else None
    }

  private[graft] def resolveField(
      schema: StructType, name: String): Option[StructField] = {
    val matches = schema.fields.filter(_.name.equalsIgnoreCase(name))
    if (matches.length == 1) {
      // fast path: unambiguous either way; a case-sensitive session still
      // requires the exact spelling before trusting the stats
      if (matches.head.name == name ||
          !org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis)
        matches.headOption
      else None
    } else matches.find(_.name == name).filter(_ =>
      org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis)
  }

  /** Row shape of [[SnapshotTable.filesMetadata]]'s per-column stats map
   *  (nulls for absent bounds, -1 for an unrecorded null count). */
  final case class ColStatsRow(min: String, max: String, null_count: Long)

  final case class FileEntry(path: String, rows: Long, bytes: Long, stats: Map[String, ColStats],
      blooms: Option[Map[String, String]] = None,
      bucket: Option[Int] = None,
      // writer-side modification time (epoch millis), recorded at footer
      // harvest so manifest-served scans can report the standard
      // `_metadata.file_modification_time` without a filesystem round
      // trip. Data files are immutable (any rewrite renames), so the
      // harvest-time value stays true for the file's whole life. Absent
      // in pre-mtime commit logs and for synthesized entries → readers
      // fall back to 0.
      mtime: Option[Long] = None) {
    /** Decoded manifest blooms, materialized once per entry — an IN-list
     *  probe hits one file's filter once per VALUE, and re-base64-ing a
     *  128 KiB filter per value would turn plan-time pruning into driver
     *  CPU. Not part of the serialized form. */
    @transient lazy val decodedBlooms: Map[String, (Int, Int, Array[Long])] =
      blooms.getOrElse(Map.empty).flatMap { case (c, enc) =>
        FileBloom.decode(enc).map(c -> _)
      }
  }

  /** A committed table state: live files (+stats) and schema, one JSON doc
   *  per version (json4s — bundled with Spark, no extra dependency).
   *  `properties` are user TBLPROPERTIES (`delta/delta_scd_script.py:43`),
   *  set via [[SnapshotTable.setProperties]] and carried forward by every
   *  commit path (overwrite/append/replaceFiles); absent in
   *  pre-properties logs. `ts` is the wall-clock commit time in epoch
   *  millis, stamped by `writeCommit` (drives the `_commit_ts`
   *  meta-column); absent in pre-ts logs. */
  /** Merge-on-read state carried by a commit: `deltaFiles` are pending
   *  keyed-upsert batches ([[SnapshotTable.upsertDeferred]]) in arrival
   *  order, resolved against the base at read time and folded in by
   *  [[SnapshotTable.applyDeltas]]; `morKeys`/`morPrecombine` pin the
   *  record key / precombine spec all pending deltas share. */
  private[graft] final case class CommitEntry(
      action: String,
      schemaJson: String,
      files: Seq[FileEntry],
      clusterBy: Option[List[String]] = None,
      properties: Option[Map[String, String]] = None,
      ts: Option[Long] = None,
      deltaFiles: Option[Seq[FileEntry]] = None,
      morKeys: Option[List[String]] = None,
      morPrecombine: Option[String] = None,
      // LOGICAL column name → PHYSICAL parquet name, populated by RENAME
      // COLUMN (Delta name-mode column mapping); identity entries omitted.
      // Every data file always carries physical names; stats keys and all
      // other commit metadata stay logical. Cleared by any full rewrite
      // (overwrite / OPTIMIZE ZORDER), which re-materializes physical =
      // logical.
      columnMapping: Option[Map[String, String]] = None,
      // Deletion-vector sidecars (Delta DV / Iceberg positional-delete
      // parity): small parquet files of (__dv_file, __dv_pos) rows naming
      // deleted positions in live base files BY FILE NAME. Name-keying
      // makes invalidation structural — any rewrite gives a file a new
      // name, so stale DV rows can never hit it. Readers anti-join them
      // away ([[SnapshotTable.dvRemove]]); cleared by full rewrites and
      // by [[SnapshotTable.purgeDeletionVectors]]. Absent in pre-DV logs.
      dvFiles: Option[Seq[FileEntry]] = None) {
    /** The committed schema, parsed once per entry (entries are cached
     *  across operations); not part of the serialized form. */
    @transient lazy val schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]

    /** The logical→physical column mapping (empty = identity). */
    def mapping: Map[String, String] = columnMapping.getOrElse(Map.empty)

    def toJson: String = {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      org.json4s.jackson.Serialization.write(this)
    }
  }

  /** One resolved table state: a committed `version` and its entry. Each
   *  operation resolves exactly one (see the class doc's resolution
   *  rule) and answers schema, files, overlays and layout from it, so no
   *  two facts an operation acts on can come from different versions. */
  private[graft] final case class Snapshot(version: Long, entry: CommitEntry) {
    def schema: StructType = entry.schema
    def mapping: Map[String, String] = entry.mapping
    def files: Seq[FileEntry] = entry.files
    def properties: Map[String, String] = entry.properties.getOrElse(Map.empty)
    def clusterSpec: Seq[String] = entry.clusterBy.getOrElse(Nil)
    def dvPaths: Seq[String] = entry.dvFiles.getOrElse(Nil).map(_.path)
    def deltaPaths: Seq[String] = entry.deltaFiles.getOrElse(Nil).map(_.path)

    /** Stats-pruned live files (all of them when `predicate` is empty) —
     *  what [[SnapshotTable.scan]] reads and the DSv2 catalog scan hands
     *  Spark's native parquet reader. */
    def prunedFiles(predicate: Option[Column]): Seq[FileEntry] = predicate match {
      case None => files
      case Some(p) =>
        val cs = Pruning.conjuncts(org.apache.spark.sql.graftshim.SparkInternals.expr(p))
        files.filter(f => Pruning.mayMatchConjuncts(f, cs, schema))
    }

    /** Paths among `among` (default: every live file) that may contain at
     *  least one of `keys` in `column` — the Hudi bloom-index "tagging"
     *  step (`hoodie.index.type=BLOOM`) that keyed MERGE discovery uses
     *  to touch only key-hit files. Per key, the stats-domain value and
     *  the two bloom hash passes compute once ([[Pruning.prepKeyProbes]]);
     *  each file then pays a range check plus a filter probe per key with
     *  early exit on the first possible hit. Strictly sharper than one
     *  global [min(keys), max(keys)] overlap test: scattered keys prune
     *  the gap files too, and manifest blooms prune files whose key range
     *  fully overlaps (interleaved clustering). Conservative everywhere —
     *  files without stats or filters always stay. */
    def keyProbedPaths(column: String, keys: Seq[Any],
        among: Seq[FileEntry] = files): Seq[String] = {
      // ZERO keys match zero files — without this, the empty set falls
      // into the conservative no-usable-probes branch below and returns
      // every file, turning a no-collision probe (the steady state of an
      // all-novel ingest batch) into a whole-index scan per call
      if (keys.isEmpty) return Nil
      val probes = resolveField(schema, column)
        .map(f => Pruning.prepKeyProbes(keys, f.dataType)).getOrElse(Nil)
      if (probes.isEmpty) among.map(_.path)
      else among
        .filter(f => Pruning.fileMayContainAnyKey(f, column, probes, schema))
        .map(_.path)
    }

    /** Some((numBuckets, key columns, sub-partition entries)) when this
     *  snapshot is a CLEAN identity-routed bucket layout: the cluster
     *  spec is one leading bucket transform (single- or composite-key)
     *  and EVERY live file records a valid bucket id (written through the
     *  routed write path) with a known size, and no MoR deltas ride the
     *  commit. This is the precondition for the DSv2 scan to report
     *  KeyGroupedPartitioning (storage-partitioned join); any file
     *  predating the layout — or a pending delta overlay, whose keyed
     *  merge is not a per-file operation — degrades to an unreported
     *  scan (a shuffle plan, never a wrong answer). Deletion vectors do
     *  NOT un-report the layout: the DSv2 scan applies DV positions per
     *  file inside its readers ([[SnapshotTable.dvPositions]]), and a
     *  delete never moves a row between buckets, so the grouping stays
     *  exact — a long-lived bucketed fact table keeps its shuffle-free
     *  joins while carrying DVs (Iceberg's positional-delete + SPJ
     *  behavior). */
    def bucketLayout: Option[(Int, Seq[String], Seq[String])] =
      ClusterTransform.routedSpec(clusterSpec).filter { case (n, _, _) =>
        files.nonEmpty &&
          files.forall(f => f.bytes > 0 && f.bucket.exists(b => b >= 0 && b < n)) &&
          entry.deltaFiles.forall(_.isEmpty)
      }
  }

  private[graft] object CommitEntry {
    def fromJson(s: String): CommitEntry = {
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      org.json4s.jackson.Serialization.read[CommitEntry](s)
    }
  }

  /** [[readFooterStats]] over a file listing, fanned out on a bounded
   *  thread pool: each footer read is an independent metadata round trip
   *  (on an object store, a network GET), and a commit that just wrote N
   *  part files would otherwise serialize N of them on the driver —
   *  measured at ~30% of q41's merge-commit wall clock. Order of the
   *  input listing is preserved. */
  private[tables] def readFooterStatsAll(
      files: Seq[org.apache.hadoop.fs.FileStatus],
      conf: Configuration,
      trustExact: Boolean = false): Seq[FileEntry] = {
    if (files.lengthCompare(2) < 0)
      files.map(s =>
        readFooterStats(s.getPath, s.getLen, conf, trustExact, s.getModificationTime))
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.traverse(files)(s =>
          Future(readFooterStats(s.getPath, s.getLen, conf, trustExact,
            s.getModificationTime))),
        Duration.Inf)
    }
  }

  /** Footer-only stats harvest — no row is read. Any failure degrades to
   *  "no stats" (pruning stays conservative). `trustExact` marks string
   *  bounds that round-tripped untruncated as exact ([[ColStats.exact]])
   *  — pass true ONLY when OUR writer produced these footers. */
  private[tables] def readFooterStats(p: Path, len: Long, conf: Configuration,
      trustExact: Boolean = false, mtime: Long = 0L): FileEntry = {
    val path = p.toUri.getPath
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val acc = scala.collection.mutable.Map[String, ColStats]()
        val unusable = scala.collection.mutable.Set[String]()
        for (b <- blocks; cc <- b.getColumns.asScala) {
          val parts = cc.getPath.toArray
          if (parts.length == 1) { // top-level primitives only
            val name = parts(0)
            val st = cc.getStatistics
            if (st == null || st.isEmpty || unusable.contains(name)) {
              unusable += name
              acc.remove(name)
            } else {
              statsToStrings(st) match {
                case Some((mn, mx)) =>
                  val prevOpt = acc.get(name)
                  val nulls = st.getNumNulls
                  // exact only for OUR writes, string columns, EVERY chunk
                  // untruncated (first chunk: no prev to consult)
                  val ex: Option[Boolean] =
                    if (!trustExact || !isStringStats(st)) None
                    else if (statsExact(st) &&
                      prevOpt.forall(_.exact.contains(true))) Some(true)
                    else None
                  acc(name) = prevOpt match {
                    case None => ColStats(mn, mx, if (nulls >= 0) Some(nulls) else None, ex)
                    case Some(prev) =>
                      ColStats(
                        mergeBound(prev.min, mn, st, takeMin = true),
                        mergeBound(prev.max, mx, st, takeMin = false),
                        for (a <- prev.nullCount; if nulls >= 0) yield a + nulls,
                        ex)
                  }
                case None =>
                  // null-only chunk: no bounds to merge, but nulls count
                  val nulls = st.getNumNulls
                  acc(name) = acc.get(name) match {
                    case Some(prev) => prev.copy(nullCount = for (a <- prev.nullCount; if nulls >= 0) yield a + nulls)
                    case None => ColStats(None, None, if (nulls >= 0) Some(nulls) else None)
                  }
              }
            }
          }
        }
        FileEntry(path, rows, len, acc.toMap,
          mtime = if (mtime > 0L) Some(mtime) else None)
      } finally reader.close()
    } catch {
      case NonFatal(_) => FileEntry(path, -1L, len, Map.empty,
        mtime = if (mtime > 0L) Some(mtime) else None)
    }
  }

  /** Stringified (min,max) in the column's natural domain; None when the
   *  chunk holds only nulls. */
  private def statsToStrings(st: Statistics[_]): Option[(Option[String], Option[String])] = {
    if (!st.hasNonNullValue) return None
    val prim = st.`type`()
    st match {
      case s: IntStatistics => Some((Some(s.getMin.toLong.toString), Some(s.getMax.toLong.toString)))
      case s: LongStatistics =>
        // Spark's value domain for TimestampType is ALWAYS micros, but a
        // foreign-written file (CONVERT adoption) may carry INT64-millis —
        // normalize at harvest so every downstream consumer (stats pruning,
        // metadata-only min/max) compares in one domain. NANOS stays raw:
        // Spark can only read it as LongType (nanosAsLong), whose literals
        // are raw nanos.
        val factor = prim.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
          case _ => 1L
        }
        Some((Some((s.getMin * factor).toString), Some((s.getMax * factor).toString)))
      case s: FloatStatistics => Some((Some(s.getMin.toDouble.toString), Some(s.getMax.toDouble.toString)))
      case s: DoubleStatistics => Some((Some(s.getMin.toString), Some(s.getMax.toString)))
      case s: BinaryStatistics
          if prim.getLogicalTypeAnnotation != null &&
            prim.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        // manifest bloat guard: a long text column must not ship its whole
        // min/max value into EVERY commit entry (self-contained snapshot
        // entries × files × long bounds = metadata that dwarfs the data
        // problem at 10⁵ files). Delta/Iceberg semantics: min truncates to
        // a prefix (still a valid lower bound), max truncates-and-
        // increments the last code point (still a valid upper bound);
        // an unincrementable max degrades to "no upper bound".
        Some((Some(truncateStatsMin(s.genericGetMin.toStringUsingUTF8)),
          truncateStatsMax(s.genericGetMax.toStringUsingUTF8)))
      case _ => Some((None, None))
    }
  }

  /** True iff this chunk's stringified bounds are the VERBATIM column
   *  values: a string chunk whose min and max both fit inside the
   *  truncation prefix (so [[truncateStatsMin]]/[[truncateStatsMax]]
   *  were identity), or any non-string chunk (numeric/temporal bounds
   *  never truncate). Callers gate the exact flag on our own writer
   *  having produced the footer — a foreign writer may have truncated
   *  the footer values themselves, invisibly. */
  private def statsExact(st: Statistics[_]): Boolean = st match {
    case s: BinaryStatistics
        if s.`type`().getLogicalTypeAnnotation != null &&
          s.`type`().getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
      val mn = s.genericGetMin.toStringUsingUTF8
      val mx = s.genericGetMax.toStringUsingUTF8
      mn.codePointCount(0, mn.length) <= StatsPrefixCodePoints &&
        mx.codePointCount(0, mx.length) <= StatsPrefixCodePoints
    case _ => true
  }

  private def isStringStats(st: Statistics[_]): Boolean = st match {
    case s: BinaryStatistics =>
      s.`type`().getLogicalTypeAnnotation != null &&
        s.`type`().getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
    case _ => false
  }

  /** Code points kept in a truncated string bound (Delta's 32). */
  private[tables] val StatsPrefixCodePoints = 32

  /** Lower bound after truncation: a prefix is always ≤ the value in
   *  unsigned-UTF-8 (code point) order, so plain truncation is sound. */
  private[tables] def truncateStatsMin(s: String): String =
    if (s.codePointCount(0, s.length) <= StatsPrefixCodePoints) s
    else s.substring(0, s.offsetByCodePoints(0, StatsPrefixCodePoints))

  /** Upper bound after truncation: prefix alone would UNDERSTATE the max
   *  (the real value continues past it), so the last prefix code point
   *  increments — skipping the surrogate gap, which unsigned UTF-8 order
   *  jumps over anyway. A prefix of all U+10FFFF cannot be incremented:
   *  the bound degrades to None ("upper bound unknown"), which pruning
   *  already treats conservatively. */
  private[tables] def truncateStatsMax(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= StatsPrefixCodePoints) return Some(s)
    val cps = s.codePoints().limit(StatsPrefixCodePoints).toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      var next = cps(i) + 1
      if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
      Some(new String(cps.take(i) :+ next, 0, i + 1))
    }
  }

  private def mergeBound(a: Option[String], b: Option[String], st: Statistics[_], takeMin: Boolean): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) =>
        val numeric = !st.isInstanceOf[BinaryStatistics]
        val cmp =
          if (numeric && !st.isInstanceOf[DoubleStatistics] && !st.isInstanceOf[FloatStatistics])
            java.lang.Long.compare(x.toLong, y.toLong)
          else if (numeric) java.lang.Double.compare(x.toDouble, y.toDouble)
          else codePointCompare(x, y)
        if ((cmp <= 0) == takeMin) Some(x) else Some(y)
      case _ => None // a chunk without bounds makes the file bound unknown
    }

  /**
   * Code-point string comparison. Parquet string min/max are ordered by
   * UNSIGNED UTF-8 bytes, which is code-point order — NOT Java
   * `String.compareTo`'s UTF-16 code-unit order: a supplementary-plane
   * character (emoji etc.) encodes as a surrogate pair (units
   * 0xD800-0xDFFF) that code-unit-compares BELOW chars in U+E000-U+FFFF
   * while its code point is above them. Comparing footer bounds in the
   * wrong order could falsely prune a file and drop matching rows.
   */
  private[tables] def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** True when `s` contains any UTF-16 surrogate unit (i.e. characters
   *  outside the BMP once decoded). Within surrogate-free strings,
   *  code-unit and code-point order agree. */
  private def hasSurrogate(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (Character.isSurrogate(s.charAt(i))) return true
      i += 1
    }
    false
  }

  /** Conservative file-level predicate evaluation over footer stats. */
  /** Lossless type-widening lattice, shared by `widenColumnType` (the
   *  DDL), `alignToCommitted` (narrow producers keep appending), and
   *  `MergeInto`'s schema evolution (a wider source column widens the
   *  target in the same commit). */
  private[graft] object Widening {
    private val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    def isLossless(from: DataType, to: DataType): Boolean = (from, to) match {
      case (a, b) if intRank.contains(a) && intRank.contains(b) =>
        intRank(a) < intRank(b)
      case (a, DoubleType) if intRank.get(a).exists(_ <= 3) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** RUNTIME (join-time) file pruning — the manifest side of dynamic
   *  partition pruning through the DSv2 scan: of `files`, keep those
   *  that may satisfy every bloom-probed IN set (one per column — the
   *  shape DPP pushes at execution: the broadcast side's distinct join
   *  keys) AND the generic residual predicate. Per IN set the key
   *  probes (stats-domain value + two bloom hash passes) compute ONCE
   *  ([[Pruning.prepKeyProbes]]); each file then pays per key a
   *  two-comparison range check and a filter probe, early-exiting on
   *  the first possible hit. Above `maxProbedKeys` the per-key pass
   *  would cost files × keys probes (at 100 TB: a million-entry
   *  manifest against a wide dim side), so the set degrades to its
   *  min/max ENVELOPE — one range-overlap check per file, still
   *  conservative. Conservative everywhere: files without stats or
   *  blooms, un-probe-able key types, unknown columns, and NULL keys
   *  (which never equi-join) all keep the file. Pruning here is an
   *  OPTIMIZATION only — a kept non-matching row is dropped by the
   *  join itself — so over-keeping is always correct. */
  private[graft] def pruneFilesRuntime(
      files: Seq[FileEntry],
      schema: StructType,
      inSets: Seq[(String, Seq[Any])],
      generic: Option[Column],
      maxProbedKeys: Int = 1 << 16): Seq[FileEntry] = {
    val genericCs = generic.map(p => Pruning.conjuncts(
      org.apache.spark.sql.graftshim.SparkInternals.expr(p)))
    // pre-resolve every probe once; per-file work below is probe-only.
    // The ENVELOPE always runs first — one comparison pair per file —
    // so a file outside [min(keys), max(keys)] never pays the per-key
    // pass at all (without this, every PRUNED file pays |keys| probes
    // with string-parsed bounds: the driver-side prune would cost more
    // than the scan it saves on banded key sets, the common DPP shape)
    // session-aware unique resolution (resolveField), NOT a first-match
    // find: with case-sibling columns a first case-insensitive match
    // could prune files by the WRONG column's stats — the same bind bug
    // fixed across every other stats-trusting derivation; None degrades
    // to no-pruning-by-this-column, which is always sound
    val probes: Seq[FileEntry => Boolean] = inSets.flatMap { case (name0, keys0) =>
      resolveField(schema, name0).map { field =>
        val keys = keys0.filter(_ != null).distinct
        if (keys.isEmpty) (_: FileEntry) => true
        else if (keys.size > maxProbedKeys)
          // oversized: envelope ONLY, prepped WITHOUT bloom hashes — the
          // per-key hash pass would cost |keys| xxhash rounds on the
          // driver for probes the envelope regime never consults
          Pruning.envelopeOnlyProbe(field.name, keys, field.dataType, schema)
        else {
          val ps = Pruning.prepKeyProbes(keys, field.dataType)
          if (ps.isEmpty) (_: FileEntry) => true
          else {
            val envelope = Pruning.envelopeProbe(field.name, ps, field.dataType, schema)
            (f: FileEntry) => envelope(f) &&
              Pruning.fileMayContainAnyKey(f, field.name, ps, schema)
          }
        }
      }
    }
    def keep(f: FileEntry): Boolean = probes.forall(_(f)) &&
      genericCs.forall(cs => Pruning.mayMatchConjuncts(f, cs, schema))
    // the per-file pass is pure probe evaluation over driver-resident
    // metadata (prepped probes + decoded blooms, no shared state) — at
    // the 10⁵–10⁶-file design point the sequential pass costs seconds of
    // single-threaded DPP-time, so wide manifests filter on the driver's
    // cores (ordered parallel stream: output order == input order).
    // Workers run under the CALLER's SQLConf: generic-conjunct stats
    // binding is case-sensitivity-aware, and a pool thread's own
    // SQLConf.get falls back to whatever session it inherited at
    // creation — absent or stale — which could resolve a case-sibling
    // column the caller's session would refuse
    if (files.lengthCompare(4096) < 0) files.filter(keep)
    else {
      val callerConf = org.apache.spark.sql.internal.SQLConf.get
      val arr = files.toArray
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        java.util.stream.IntStream.range(0, arr.length).parallel()
          .filter(i => org.apache.spark.sql.graftshim.SparkInternals
            .withConf(callerConf)(keep(arr(i))))
          .mapToObj(i => arr(i))
          .toArray(new Array[FileEntry](_)))
    }
  }

  private[tables] object Pruning {

    /** Pre-normalized conjuncts of `pred` — hoist this out of per-file
     *  loops so the expression rewrite runs once per manifest, not once
     *  per file. */
    def conjuncts(pred: Expression): Seq[Expression] = splitConjuncts(normalize(pred))

    def mayMatchConjuncts(f: FileEntry, cs: Seq[Expression], schema: StructType): Boolean =
      cs.forall(c => conjunctMayMatch(f, c, schema))

    def mayMatch(f: FileEntry, pred: Expression, schema: StructType): Boolean =
      mayMatchConjuncts(f, conjuncts(pred), schema)

    /** Pre-resolved probe form of one non-null key for
     *  [[fileMayContainAnyKey]]: the stats-domain value (min/max range
     *  check) and the two bloom hash passes, each computed ONCE per key
     *  instead of once per (file, key) — an IN-list of merge keys probed
     *  through [[conjunctMayMatch]] would re-derive both per file.
     *  `None` components degrade to "can't disprove", exactly like the
     *  per-literal paths they mirror. */
    final case class KeyProbe(
        sv: Option[Either[Long, Either[Double, String]]],
        hash: Option[(Long, Long)])

    def prepKeyProbes(keys: Seq[Any], dt: DataType): Seq[KeyProbe] =
      keys.filter(_ != null).map { v =>
        val sv = scala.util.Try(Literal(v)).toOption.flatMap(l => litValue(l, dt))
        val hash = FileBloom.catalystValue(v, dt).map(cv => FileBloom.hashes(cv, dt))
        KeyProbe(sv, hash)
      }

    /** May `f` contain at least one of `probes` in column `name`?
     *  Per-file work is one stats lookup + one (already-decoded) bloom
     *  lookup, then per key a two-comparison range check and a k-bit
     *  filter probe, early-exiting on the first possible hit. The
     *  per-key range check strictly sharpens the single global
     *  [min(keys), max(keys)] overlap test — a scattered key set also
     *  prunes the files living in the GAPS between its keys — and the
     *  bloom probe prunes files whose key range fully overlaps. */
    def fileMayContainAnyKey(
        f: FileEntry, name: String, probes: Seq[KeyProbe], schema: StructType): Boolean = {
      if (probes.isEmpty) return true
      val dtOpt = colType(name, schema)
      if (dtOpt.isEmpty) return true
      val dt = dtOpt.get
      val bnds = bounds(f, name, schema)
      val bloom = resolveField(schema, name)
        .flatMap(fl => f.decodedBlooms.get(fl.name))
      if (bnds.isEmpty && bloom.isEmpty) return true
      probes.exists { p =>
        val rangeOk = (for { (mn, mx) <- bnds; v <- p.sv }
          yield cmp(mn, v, dt) <= 0 && cmp(mx, v, dt) >= 0).getOrElse(true)
        rangeOk && (for { (k, m, bits) <- bloom; (h1, h2) <- p.hash }
          yield FileBloom.mightContainDecoded(k, m, bits, h1, h2)).getOrElse(true)
      }
    }

    /** O(1)-per-file degradation of [[fileMayContainAnyKey]] for
     *  oversized key sets: the set's min/max envelope computes ONCE
     *  (here, at probe-build time), and each file pays a single
     *  range-overlap check — [fileMin, fileMax] ∩ [min(keys), max(keys)]
     *  ≠ ∅. Keys whose stats-domain value can't derive (or a mixed
     *  domain, impossible for one typed column but checked anyway)
     *  degrade to keep-everything. */
    def envelopeProbe(
        name: String, probes: Seq[KeyProbe], dt: DataType,
        schema: StructType): FileEntry => Boolean =
      envelopeFromSvs(name, probes.map(_.sv), dt, schema)

    /** [[envelopeProbe]] straight from RAW key values — no [[KeyProbe]]
     *  prep, so no per-key bloom hashing: the oversized-IN regime only
     *  ever consults the envelope. Numbers take a direct stats-domain
     *  conversion (the DPP key columns in practice); everything else
     *  goes through the Literal path once per key. */
    def envelopeOnlyProbe(
        name: String, keys: Seq[Any], dt: DataType,
        schema: StructType): FileEntry => Boolean = {
      val integral = dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      val svs: Seq[Option[Either[Long, Either[Double, String]]]] = keys.map {
        case n: java.lang.Number if integral => Some(Left(n.longValue()))
        case v => scala.util.Try(Literal(v)).toOption.flatMap(l => litValue(l, dt))
      }
      envelopeFromSvs(name, svs, dt, schema)
    }

    private def envelopeFromSvs(
        name: String,
        svs: Seq[Option[Either[Long, Either[Double, String]]]],
        dt: DataType,
        schema: StructType): FileEntry => Boolean = {
      if (svs.exists(_.isEmpty)) return _ => true
      val vals = svs.flatten
      def sameDomain = vals.forall(v => (v, vals.head) match {
        case (Left(_), Left(_)) => true
        case (Right(Left(_)), Right(Left(_))) => true
        case (Right(Right(_)), Right(Right(_))) => true
        case _ => false
      })
      if (vals.isEmpty || !sameDomain) return _ => true
      def svCmp(a: Either[Long, Either[Double, String]],
          b: Either[Long, Either[Double, String]]): Int = (a, b) match {
        case (Left(x), Left(y)) => java.lang.Long.compare(x, y)
        case (Right(Left(x)), Right(Left(y))) => java.lang.Double.compare(x, y)
        case (Right(Right(x)), Right(Right(y))) => codePointCompare(x, y)
        case _ => 0 // unreachable: sameDomain checked above
      }
      val lo = vals.reduce((a, b) => if (svCmp(a, b) <= 0) a else b)
      val hi = vals.reduce((a, b) => if (svCmp(a, b) >= 0) a else b)
      (f: FileEntry) => bounds(f, name, schema).forall { case (mn, mx) =>
        cmp(mx, lo, dt) >= 0 && cmp(mn, hi, dt) <= 0
      }
    }

    /** Column names `pred` references (leaf attribute names) — scope
     *  predicates that never run against data (OPTIMIZE … WHERE) must
     *  validate these explicitly, or a typo degrades to match-all. */
    def referencedColumns(pred: Expression): Seq[String] = pred.collect {
      case u: UnresolvedAttribute => u.nameParts.last
      case a: AttributeReference => a.name
    }

    /** Column-DSL comparisons arrive as `UnresolvedFunction("=", …)` nodes
     *  (Spark 4 column-node conversion); rewrite the shapes we prune on
     *  into their Catalyst comparison nodes. */
    private def normalize(e: Expression): Expression = e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        val args = f.arguments.map(normalize)
        (f.nameParts.last.toLowerCase, args) match {
          case ("and", Seq(l, r)) => And(l, r)
          case ("or", Seq(l, r)) => Or(l, r)
          case ("=" | "==", Seq(l, r)) => EqualTo(l, r)
          case (">", Seq(l, r)) => GreaterThan(l, r)
          case (">=", Seq(l, r)) => GreaterThanOrEqual(l, r)
          case ("<", Seq(l, r)) => LessThan(l, r)
          case ("<=", Seq(l, r)) => LessThanOrEqual(l, r)
          case ("in", l +: rest) if rest.nonEmpty => In(l, rest)
          case ("isnull", Seq(l)) => IsNull(l)
          case ("isnotnull", Seq(l)) =>
            org.apache.spark.sql.catalyst.expressions.IsNotNull(l)
          case ("startswith", Seq(l, r)) => StartsWith(l, r)
          case _ => e
        }
      case And(l, r) => And(normalize(l), normalize(r))
      case Or(l, r) => Or(normalize(l), normalize(r))
      case other => other
    }

    private def splitConjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
      case other => Seq(other)
    }

    private def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }

    /** Manifest-bloom probe for `col = lit` ([[FileBloom]]): false ⇒ the
     *  file provably lacks the value (a bloom never lies about absence).
     *  True whenever no filter applies — missing/malformed filter, NULL
     *  literal, or a literal that can't represent exactly in the
     *  column's type. Probes the per-entry DECODED form. */
    private def bloomMayContain(
        f: FileEntry, nameE: Expression, l: Literal, schema: StructType): Boolean =
      (for {
        name <- attrName(nameE)
        field <- resolveField(schema, name)
        (k, m, bits) <- f.decodedBlooms.get(field.name)
        if l.value != null
        cv <- FileBloom.catalystValue(l.value, field.dataType)
      } yield {
        val (h1, h2) = FileBloom.hashes(cv, field.dataType)
        FileBloom.mightContainDecoded(k, m, bits, h1, h2)
      }).getOrElse(true)

    /** (statsDomainValue, isDouble) for a literal against column type `dt`. */
    private def litValue(l: Literal, dt: DataType): Option[Either[Long, Either[Double, String]]] = {
      if (l.value == null) return None
      (dt, l.dataType) match {
        case (ByteType | ShortType | IntegerType | LongType, _) =>
          l.value match {
            case v: java.lang.Number
                if Set[DataType](ByteType, ShortType, IntegerType, LongType).contains(l.dataType) =>
              Some(Left(v.longValue()))
            case v: java.lang.Number => Some(Right(Left(v.doubleValue()))) // fractional literal vs integral col
            case _ => None
          }
        case (FloatType | DoubleType, _) =>
          l.value match {
            case v: java.lang.Number => Some(Right(Left(v.doubleValue())))
            case _ => None
          }
        case (TimestampType | TimestampNTZType, TimestampType | TimestampNTZType) =>
          // literal may carry micros (internal) or an unconverted object
          import org.apache.spark.sql.catalyst.util.DateTimeUtils
          l.value match {
            case v: java.lang.Long => Some(Left(v))
            case v: java.time.Instant => Some(Left(DateTimeUtils.instantToMicros(v)))
            case v: java.sql.Timestamp => Some(Left(DateTimeUtils.fromJavaTimestamp(v)))
            case v: java.time.LocalDateTime => Some(Left(DateTimeUtils.localDateTimeToMicros(v)))
            case _ => None
          }
        case (DateType, DateType) =>
          import org.apache.spark.sql.catalyst.util.DateTimeUtils
          l.value match {
            case v: java.lang.Integer => Some(Left(v.longValue()))
            case v: java.time.LocalDate => Some(Left(DateTimeUtils.localDateToDays(v).toLong))
            case v: java.sql.Date => Some(Left(DateTimeUtils.fromJavaDate(v).toLong))
            case _ => None
          }
        case (_: StringType, _: StringType) => Some(Right(Right(l.value.toString)))
        case _ => None
      }
    }

    private def bounds(f: FileEntry, name: String, schema: StructType): Option[(String, String)] =
      for {
        field <- resolveField(schema, name)
        cs <- f.stats.get(field.name)
        mn <- cs.min
        mx <- cs.max
      } yield (mn, mx)

    private def colType(name: String, schema: StructType): Option[DataType] =
      resolveField(schema, name).map(_.dataType)

    /** cmp(fileBound, literal) in the right domain. */
    private def cmp(bound: String, v: Either[Long, Either[Double, String]], dt: DataType): Int = v match {
      case Left(l) => java.lang.Long.compare(bound.toLong, l)
      case Right(Left(d)) =>
        val b = dt match {
          case FloatType | DoubleType => bound.toDouble
          case _ => bound.toLong.toDouble
        }
        java.lang.Double.compare(b, d)
      case Right(Right(s)) => codePointCompare(bound, s) // parquet bounds are code-point ordered
    }

    private def conjunctMayMatch(f: FileEntry, e: Expression, schema: StructType): Boolean = {
      def check(nameE: Expression, lit: Literal)(test: (Int, Int) => Boolean): Boolean = {
        (for {
          name <- attrName(nameE)
          dt <- colType(name, schema)
          v <- litValue(lit, dt)
          (mn, mx) <- bounds(f, name, schema)
        } yield test(cmp(mn, v, dt), cmp(mx, v, dt))).getOrElse(true)
      }
      e match {
        // a disjunct may match if EITHER side may (no top-level split here:
        // splitConjuncts only splits ANDs, so OR arrives whole)
        case Or(l, r) =>
          conjunctMayMatch(f, l, schema) || conjunctMayMatch(f, r, schema)
        case EqualTo(a, l: Literal) =>
          check(a, l)((cMin, cMax) => cMin <= 0 && cMax >= 0) && bloomMayContain(f, a, l, schema)
        case EqualTo(l: Literal, a) =>
          check(a, l)((cMin, cMax) => cMin <= 0 && cMax >= 0) && bloomMayContain(f, a, l, schema)
        case GreaterThan(a, l: Literal) => check(a, l)((_, cMax) => cMax > 0)
        case GreaterThan(l: Literal, a) => check(a, l)((cMin, _) => cMin < 0) // lit > col ⇔ col < lit
        case GreaterThanOrEqual(a, l: Literal) => check(a, l)((_, cMax) => cMax >= 0)
        case GreaterThanOrEqual(l: Literal, a) => check(a, l)((cMin, _) => cMin <= 0)
        case LessThan(a, l: Literal) => check(a, l)((cMin, _) => cMin < 0)
        case LessThan(l: Literal, a) => check(a, l)((_, cMax) => cMax > 0)
        case LessThanOrEqual(a, l: Literal) => check(a, l)((cMin, _) => cMin <= 0)
        case LessThanOrEqual(l: Literal, a) => check(a, l)((_, cMax) => cMax >= 0)
        case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
          vs.exists { v =>
            val l = v.asInstanceOf[Literal]
            check(a, l)((cMin, cMax) => cMin <= 0 && cMax >= 0) &&
              bloomMayContain(f, a, l, schema)
          }
        case IsNull(a) =>
          (for {
            name <- attrName(a)
            field <- resolveField(schema, name)
            cs <- f.stats.get(field.name)
            n <- cs.nullCount
          } yield n > 0).getOrElse(true)
        // a file that is all-NULL in the column (nullCount == rows) cannot
        // satisfy IsNotNull — the sparse-column mirror of the IsNull case
        case org.apache.spark.sql.catalyst.expressions.IsNotNull(a) =>
          (for {
            name <- attrName(a)
            field <- resolveField(schema, name)
            cs <- f.stats.get(field.name)
            n <- cs.nullCount
            if f.rows >= 0
          } yield n < f.rows).getOrElse(true)
        // p-prefixed strings live in [p, next(p)) where next(p) increments
        // p's last non-maximal char — the file may match only if its
        // [min,max] intersects that range. The char-increment bound and
        // code-unit comparisons are only sound when no surrogate pairs are
        // involved (code-unit order == code-point order == parquet's
        // UTF-8-byte bound order there); any surrogate → keep the file.
        case StartsWith(a, l: Literal) if l.value != null =>
          (for {
            name <- attrName(a)
            dt <- colType(name, schema)
            if dt.isInstanceOf[StringType]
            (mn, mx) <- bounds(f, name, schema)
            if !hasSurrogate(mn) && !hasSurrogate(mx) && !hasSurrogate(l.value.toString)
          } yield {
            val p = l.value.toString
            val next: Option[String] = {
              val cs = p.toCharArray
              var i = cs.length - 1
              while (i >= 0 && cs(i) == '￿') i -= 1
              if (i < 0) None // p is all U+FFFF: no finite upper bound
              else Some(new String(cs, 0, i) + (cs(i) + 1).toChar)
            }
            mx.compareTo(p) >= 0 && next.forall(up => mn.compareTo(up) < 0)
          }).getOrElse(true)
        case _ => true // unsupported shape → cannot prune on it
      }
    }
  }

  /** Synthetic record-key meta-column (`_record_key` — Hudi's
   *  `_hoodie_record_key` composite shape `k1:v1,k2:v2`), derived from
   *  the key columns; pure map-side expression. */
  def withRecordKey(
      df: DataFrame, keys: Seq[String], out: String = "_record_key"): DataFrame = {
    import org.apache.spark.sql.functions._
    df.withColumn(out, concat_ws(",",
      keys.map(k => concat_ws(":", lit(k), col(k).cast("string"))): _*))
  }

  /** Open or initialize a table rooted at `root`. */
  /** Session-wide [[CommitLock]] override: `spark.graft.commitLock`
   *  names a no-arg CommitLock implementation class (or a Scala object,
   *  `...$` / bare object name both accepted) — the deployment seam for
   *  object stores where the filesystem CAS is not atomic, without
   *  per-handle `withCommitLock` wiring (the reference delegates this
   *  role to its DynamoDB lock manager via spark confs the same way).
   *  Misconfiguration fails LOUDLY at table construction: a silently
   *  ignored lock class would run unsafe commits forever. */
  private[graft] def sessionLock(spark: SparkSession): CommitLock =
    spark.conf.getOption("spark.graft.commitLock") match {
      case None => FileSystemCommitLock
      case Some(cls) =>
        try {
          // Scala-object form first: a bare object name ALSO resolves as
          // its static-forwarder mirror class, which has no usable ctor
          val viaObject =
            try Some(Class.forName(cls + "$").getField("MODULE$").get(null))
            catch { case _: ReflectiveOperationException => None }
          viaObject.getOrElse(
            Class.forName(cls).getDeclaredConstructor().newInstance())
            .asInstanceOf[CommitLock]
        } catch {
          case e: Exception => throw new IllegalArgumentException(
            s"spark.graft.commitLock=$cls is not instantiable as a " +
              "graft.tables.CommitLock (need a no-arg class or a Scala object)", e)
        }
    }

  def apply(spark: SparkSession, root: String): SnapshotTable =
    new SnapshotTable(spark, root)

  /** Create with an initial snapshot (createOrReplace,
   *  `iceberg/iceberg_scd_script.py:34-37`). */
  def create(spark: SparkSession, root: String, df: DataFrame): SnapshotTable =
    new SnapshotTable(spark, root).overwrite(df)

  /** Deletion-vector position maps, memoized per (commit log, version):
   *  a version's sidecar set is IMMUTABLE once its slot commits (CAS
   *  slots are never rewritten; purge/delete produce NEW versions), so
   *  the O(deleted rows) collect pays once per snapshot per JVM instead
   *  of once per scan build — every catalog query over a DV-carrying
   *  table otherwise re-runs the same small Spark job at PLAN time.
   *  Branch logs key separately (their version numbers overlap main's).
   *  Bounded LRU; eviction only re-pays the job. */
  /** Parsed commit entries, memoized per (log dir, version, slot
   *  identity) — same keying discipline as [[dvPosCache]]: the slot
   *  file's (mtime, length) distinguishes table incarnations at the
   *  same path, and a probe failure bypasses the cache entirely.
   *  Bounded LRU; eviction only re-pays one read+parse. */
  private val commitEntryCache =
    new java.util.LinkedHashMap[(String, Long, (Long, Long)), CommitEntry](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, (Long, Long)), CommitEntry]): Boolean =
        size() > 8
    }
  private[tables] def commitEntryCached(
      logDir: String, version: Long, slotId: (Long, Long),
      load: () => CommitEntry): CommitEntry = {
    val key = (logDir, version, slotId)
    val hit = commitEntryCache.synchronized(Option(commitEntryCache.get(key)))
    hit.getOrElse {
      val v = load()
      commitEntryCache.synchronized(commitEntryCache.put(key, v))
      v
    }
  }

  private val dvPosCache =
    new java.util.LinkedHashMap[(String, Long, (Long, Long)), Map[String, Array[Long]]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, (Long, Long)), Map[String, Array[Long]]]): Boolean =
        size() > 8
    }
  private[tables] def dvPositionsCached(
      logDir: String, version: Long, slotId: (Long, Long),
      load: () => Map[String, Array[Long]]): Map[String, Array[Long]] = {
    val key = (logDir, version, slotId)
    val hit = dvPosCache.synchronized(Option(dvPosCache.get(key)))
    hit.getOrElse {
      val v = load() // outside the lock: the load runs a Spark job
      dvPosCache.synchronized(dvPosCache.put(key, v))
      v
    }
  }

  /** Adopt an existing plain-parquet directory as a graft table IN PLACE
   *  (Delta `CONVERT TO DELTA` analogue, the migration path for a corpus
   *  that predates the engine): harvest footer stats from every data file
   *  and commit them as version 0 — no data is copied or moved, so a
   *  100 TB directory converts in O(files) footer reads. Restricted to
   *  unpartitioned layouts: Hive-style `key=value` dirs carry column
   *  values the files themselves lack, and converting them would silently
   *  drop those columns. Converted files live outside the table's `data/`
   *  dir and are never reclaimed by [[SnapshotTable!.vacuum]]; a later
   *  OPTIMIZE/overwrite rewrites them under management. */
  def convert(spark: SparkSession, root: String): SnapshotTable = {
    val t = new SnapshotTable(spark, root)
    require(t.currentVersion() < 0, s"$root is already a graft table")
    val rootPath = new Path(root)
    val conf = spark.sessionState.newHadoopConf()
    val fs = rootPath.getFileSystem(conf)
    val listing = fs.listStatus(rootPath).toSeq
    // only metadata dirs (underscore/dot-prefixed, which Spark's reader
    // skips too) may exist: a Hive-style key=value dir carries column
    // values the files lack, and ANY other subdir holds data files this
    // flat conversion would silently omit from the manifest
    val subDirs = listing.filter(s =>
      s.isDirectory && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    require(subDirs.isEmpty, {
      val d = subDirs.head.getPath.getName
      if (d.contains("="))
        s"$root looks Hive-partitioned ($d); CONVERT supports unpartitioned parquet layouts only"
      else
        s"$root contains subdirectory $d whose files a flat conversion would drop; " +
          "CONVERT supports single-level parquet layouts only"
    })
    val files = listing
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    require(files.nonEmpty, s"no parquet files directly under $root")
    val schema = spark.read.parquet(root).schema
    val entries = readFooterStatsAll(files, conf)
      .filter(_.rows != 0L)
    t.writeCommit(0, CommitEntry("convert", schema.json, entries))
    t
  }

  /** Create an empty table with a declared schema (DDL CREATE TABLE path;
   *  commits a zero-file snapshot so readers see an empty relation). */
  def createEmpty(
      spark: SparkSession,
      root: String,
      schema: StructType,
      clusterBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): SnapshotTable = {
    val t = new SnapshotTable(spark, root)
    // pin version 0: two racing CREATEs then collide on one CAS slot and
    // the loser fails loudly, instead of the second silently replacing
    // the first (or an existing table) with an empty snapshot
    require(t.currentVersion() < 0, s"table $root already exists")
    t.writeCommit(0,
      CommitEntry("create", schema.json, Nil,
        if (clusterBy.isEmpty) None else Some(clusterBy.toList),
        if (properties.isEmpty) None else Some(properties)))
    t
  }
}
