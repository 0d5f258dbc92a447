package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.PhaseLog
import graft.tables.SnapshotTable
import graft.tables.SnapshotTable.Snapshot

/**
 * MERGE INTO for native snapshot tables — the one genuine capability hole
 * in vanilla Spark 4 that the reference fills with format jars
 * (`delta/delta_scd_script.py:88-95`, `iceberg/iceberg_scd_script.py:75-82`;
 * SURVEY.md §7.3). Semantics follow Delta/Iceberg:
 *
 *  - clauses are evaluated in declaration order, first match wins;
 *  - `WHEN MATCHED [AND cond] THEN UPDATE SET col=expr,…` partial update,
 *    `UPDATE SET *` full-row by-name update (extra source columns ignored,
 *    `delta/delta_scd_script.py:77,84,95`), or `DELETE`;
 *  - `WHEN NOT MATCHED [AND cond] THEN INSERT *` / `INSERT (…) VALUES (…)`;
 *  - target rows matching **more than one** source row under an
 *    update/delete clause raise [[MergeCardinalityException]] (Delta's
 *    cardinality check);
 *  - unmatched target rows pass through untouched.
 *
 * Physical strategy (Delta's two-job copy-on-write, SURVEY.md §3.2,
 * designed for the 100 TB case):
 *
 *  1. *Touched-file discovery*: inner-join `target ⋈ source` on the merge
 *     condition, collecting only the distinct target **file names** — a
 *     narrow scan (join keys + file name) whose equi-part Catalyst plans as
 *     a broadcast/shuffled hash join with pushdown.
 *  2. *Rewrite*: full-outer-join only the touched files' rows against the
 *     source, route every row through the clause chain with pure `Column`
 *     expressions (whole-stage-codegen'd CASE WHEN — no UDFs), write the
 *     rewritten files, and commit `untouched ++ rewritten` atomically.
 *
 * Driver-side work is commit metadata only; no row ever passes through the
 * driver.
 */
final class MergeInto(
    table: SnapshotTable,
    source: DataFrame,
    condition: Column) {

  import MergeInto._

  private var clauses: Vector[Clause] = Vector.empty
  private var cardinalityCheck = true
  private var actionTag = "merge"
  private var schemaEvolution = false

  /** Alias used for the target side in `condition` / clause expressions. */
  def whenMatched(): ClauseBuilder = new ClauseBuilder(this, Matched, None)
  def whenMatched(cond: Column): ClauseBuilder = new ClauseBuilder(this, Matched, Some(cond))
  def whenNotMatched(): ClauseBuilder = new ClauseBuilder(this, NotMatched, None)
  def whenNotMatched(cond: Column): ClauseBuilder = new ClauseBuilder(this, NotMatched, Some(cond))
  def whenNotMatchedBySource(): ClauseBuilder = new ClauseBuilder(this, NotMatchedBySource, None)
  def whenNotMatchedBySource(cond: Column): ClauseBuilder = new ClauseBuilder(this, NotMatchedBySource, Some(cond))

  /** Disable the multi-match cardinality job (saves one pass when the
   *  caller can prove source keys are unique). */
  def withoutCardinalityCheck(): MergeInto = { cardinalityCheck = false; this }

  /** `MERGE WITH SCHEMA EVOLUTION` (Delta/Spark-4 semantics): source
   *  columns absent from the target are appended to the table schema as
   *  nullable fields in the same commit. `UPDATE SET *` / `INSERT *` then
   *  carry them; untouched files and non-matching rows read them as NULL
   *  (the [[graft.tables.SnapshotTable.addColumns]] mechanism — explicit
   *  parquet schema null-fills missing columns). A source column whose
   *  type is a LOSSLESS widening of the target's (int→long, float→double,
   *  …) widens the target column in the same commit (Delta's merge type
   *  widening; untouched files keep the narrow physical type and upcast
   *  at scan, the [[graft.tables.SnapshotTable.widenColumnType]]
   *  contract); a source type that casts up losslessly to the target
   *  needs no schema change; any other type drift — a NARROWING like
   *  long→int or double→long — is rejected loudly rather than silently
   *  truncated. */
  def withSchemaEvolution(): MergeInto = { schemaEvolution = true; this }

  /** Commit-log action tag for this merge (default "merge"). Streaming
   *  sinks pass `stream-<batchId>` so a redelivered micro-batch can be
   *  recognized and skipped (exactly-once upsert, [[graft.streaming.StreamIngest]]). */
  def withAction(tag: String): MergeInto = { actionTag = tag; this }

  private[ops] def add(c: Clause): MergeInto = { clauses = clauses :+ c; this }

  def execute(): SnapshotTable = {
    require(clauses.nonEmpty, "MERGE needs at least one WHEN clause")
    // Materialize the source ONCE (Delta's merge does the same): the plan
    // is consumed up to four times (key-bounds agg, key-probe distinct
    // collect, touched-file discovery join, rewrite join), and a staged
    // source is typically the
    // output of its own join/window pipeline — recomputing it per
    // consumer triples that cost, and a non-deterministic source could
    // even change between discovery and rewrite. Blocks are released
    // before returning.
    val srcMat = PhaseLog.timed("source_stage")(source.localCheckpoint())
    try executeWith(srcMat)
    finally srcMat.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }

  private def executeWith(source: DataFrame): SnapshotTable = {
    val spark = table.spark
    // ONE snapshot serves the whole merge: schema, file list, target
    // read, discovery pruning and the touched-file reads all come from
    // it, and its version is the read-compute-commit OCC guard — a
    // commit landing before the replaceFiles below fails the merge
    // loudly (ConcurrentCommitException) instead of being discarded
    val snap = table.head()
    val committedSchema = snap.schema
    // WITH SCHEMA EVOLUTION: the output schema is the committed schema plus
    // any NEW source columns (case-insensitive match, forced nullable —
    // untouched files must read them as NULL). Touched files are read with
    // the widened schema directly (explicit parquet schema null-fills), so
    // `t.<new>` resolves to NULL and the clause chain needs no special case.
    val targetSchema =
      if (!schemaEvolution) committedSchema
      else {
        val srcFields = source.schema.fields
        val added = srcFields
          .filterNot(f => committedSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        // untouched files carried forward may still physically hold a
        // DROP COLUMNS-tombstoned name — re-widening would resurrect it
        table.assertResurrectionSafe(snap, added.map(_.name),
          "MERGE WITH SCHEMA EVOLUTION")
        // existing columns: a strictly wider lossless source type widens
        // the target column; an up-castable narrower source needs no
        // change (lockSchema casts it); anything else is a rejected
        // narrowing — silent truncation is never schema "evolution"
        val widened = committedSchema.fields.map { f =>
          srcFields.find(_.name.equalsIgnoreCase(f.name)) match {
            case Some(sf) if sf.dataType == f.dataType => f
            case Some(sf)
                if SnapshotTable.Widening.isLossless(f.dataType, sf.dataType) =>
              f.copy(dataType = sf.dataType)
            case Some(sf)
                if SnapshotTable.Widening.isLossless(sf.dataType, f.dataType) => f
            case Some(sf) => throw new IllegalArgumentException(
              s"MERGE WITH SCHEMA EVOLUTION: source column ${sf.name} of type " +
                s"${sf.dataType.simpleString} cannot evolve target type " +
                s"${f.dataType.simpleString} — not a lossless widening " +
                "(allowed: byte/short/int -> long, byte/short/int -> double, " +
                "float -> double)")
            case None => f
          }
        }
        org.apache.spark.sql.types.StructType(
          widened ++ added.map(_.copy(nullable = true)))
      }
    val targetCols = targetSchema.fields.map(_.name).toSeq
    val allFiles = snap.files.map(_.path)
    val targetAll = table.view(snap)
    val srcExists = source.withColumn(S_EXISTS, lit(true)).alias("s")

    // Route each joined row to the index of the first applicable clause;
    // -1 = keep target row as-is; -2 = drop (no-op insert / delete).
    def firstClause(kind: ClauseKind, base: Column, default: Int): Column = {
      val applicable = clauses.zipWithIndex.filter(_._1.kind == kind)
      applicable.foldRight(lit(default)) { case ((cl, idx), elseCol) =>
        when(cl.condition.map(base && _).getOrElse(base), lit(idx)).otherwise(elseCol)
      }
    }
    def lockSchema(df: DataFrame): DataFrame =
      df.select(targetSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

    val needsTargetRewrite = clauses.exists(c => c.kind != NotMatched)
    if (!needsTargetRewrite) {
      // Insert-only MERGE: no target row ever changes, so no file is
      // rewritten — but matched source rows must still be excluded, or keys
      // already present would be re-inserted. Left-anti join source against
      // the FULL target on the merge condition (shuffle hash join on the
      // equi-keys; the table side is never collected), then route the
      // unmatched rows through the NOT MATCHED clause chain.
      val t = targetAll.alias("t")
      val unmatched = srcExists.join(t, condition, "left_anti")
      val withAction = unmatched
        .withColumn(ACTION, firstClause(NotMatched, lit(true), DROP))
        .filter(col(ACTION) =!= DROP)
      // source columns matched case-INsensitively, like Spark's resolver
      // (and like the schema-evolution block above) — a case mismatch
      // must not silently insert NULL
      val sourceCols = source.columns.map(_.toLowerCase).toSet
      def insCol(name: String): Column =
        clauses.zipWithIndex.filter(_._1.kind == NotMatched)
          .foldLeft(lit(null): Column) { case (acc, (cl, idx)) =>
            val v = cl.action match {
              case InsertAll =>
                if (sourceCols.contains(name.toLowerCase)) col(s"s.$name") else lit(null)
              case InsertValues(vals) => MergeInto.ciGet(vals, name).getOrElse(lit(null))
              case _ => acc
            }
            when(col(ACTION) === idx, v).otherwise(acc)
          }.as(name)
      val inserts = lockSchema(withAction.select(targetCols.map(insCol): _*))
      // only the key-bounds rebase guard is needed here (no candidate
      // files): an interleaved commit whose files provably hold none of
      // our keys cannot change which source rows are "not matched", so
      // the insert commit rebases
      val (_, insBounds) = discoveryCandidates(snap, source, condition, pruneFiles = false)
      return table.replaceFiles(allFiles, inserts, actionTag,
        expectVersion = Some(snap.version), rebasePredicate = insBounds)
    }

    // ---- job 1: touched-file discovery, fused with the cardinality
    // check (one target scan + join instead of two). Per (file, target
    // row) match counts aggregate to per-file max multiplicity; >1 source
    // row hitting one target row under an update clause is ambiguous →
    // error (Delta semantics).
    // Delta semantics: multiple source rows matching one target row is an
    // error UNLESS the only matched clause is a single UNconditional
    // DELETE (then every copy deletes — no ambiguity). A conditional
    // delete IS ambiguous (copies can route differently), and a merge
    // with matched clauses that can fall through to KEEP would silently
    // duplicate the kept row.
    val matchedClauses = clauses.filter(_.kind == Matched)
    val needsCardinality = cardinalityCheck && matchedClauses.nonEmpty &&
      !(matchedClauses.size == 1 && matchedClauses.head.action == DeleteAction &&
        matchedClauses.head.condition.isEmpty)
    val (touched, rebaseBounds): (Seq[String], Option[Column]) =
      if (clauses.exists(_.kind == NotMatchedBySource)) {
        // Target rows with NO source match may need updating/deleting, and
        // they can live in any file — every live file is touched (Delta
        // behaves the same for notMatchedBySource). Cardinality still
        // needs its own narrow pass in this branch.
        if (needsCardinality) {
          val t = targetAll.withColumn(T_UID, monotonically_increasing_id()).alias("t")
          val dups = t.join(srcExists, condition, "inner")
            .groupBy(col(T_UID)).count().filter(col("count") > 1).limit(1).count()
          if (dups > 0) throw new MergeCardinalityException(
            "MERGE: a target row matched multiple source rows under a clause that is not a single unconditional DELETE")
        }
        // bySource clauses read EVERY target row (any interleaved commit
        // could change their routing) — never rebase, always conflict
        (allFiles, None)
      } else {
        // Stats-prune the discovery scan: for equi-key conditions, target
        // files whose [min,max] key range cannot overlap the source's key
        // bounds can be skipped before the join even plans — a small
        // staged batch merged into a huge clustered table only opens the
        // overlapping files (for a sub-`ProbeMaxKeys` source the bounds,
        // keys and candidate files all derive from ONE bounded driver
        // collect; bigger sources pay one tiny agg job).
        val ((candidateFiles, bounds), smallTotal) =
          discoveryCandidatesSized(snap, source, condition)
        // set when discovery proved the source fits the driver key budget
        // AND its estimated bytes fit BroadcastMaxBytes. The row bound
        // alone is not enough: ProbeMaxKeys rows of a WIDE source (blob
        // columns) could exceed broadcast/driver memory where the shuffle
        // join worked, so rows × schema default width must also fit
        // (an estimate, not exact — the budget leaves a wide margin under
        // Spark's 8 GB broadcast cap).
        val sourceRowWidth = math.max(1L,
          source.schema.fields.map(_.dataType.defaultSize.toLong).sum)
        val sourceKnownSmall =
          smallTotal.exists(_ * sourceRowWidth <= BroadcastMaxBytes)
        // lineage captured inside the table read: on a DV-bearing table
        // the scan carries an anti-join, under which input_file_name()
        // would come back empty and discovery would touch nothing
        val tFiles = table.readFilesWithLineage(snap, candidateFiles, targetSchema, T_FILE)
          .withColumn(T_UID, monotonically_increasing_id())
          .alias("t")
        // a proven-small source broadcasts: the touched-file discovery
        // join then never shuffles the candidate files' rows (guide-§3.1
        // shape — the key set already fit on the driver, so the broadcast
        // relation is bounded by the same budget)
        val joined = tFiles.join(
          if (sourceKnownSmall) broadcast(srcExists) else srcExists,
          condition, "inner")
        val perFile =
          if (needsCardinality)
            joined.groupBy(col(T_FILE), col(T_UID)).agg(count(lit(1)).as("__c"))
              .groupBy(col(T_FILE)).agg(max(col("__c")).as("__maxc"))
          else joined.select(col(T_FILE)).distinct()
            .withColumn("__maxc", lit(1L))
        val rows = PhaseLog.timed("index")(perFile.collect())
        if (needsCardinality && rows.exists(_.getAs[Long]("__maxc") > 1))
          throw new MergeCardinalityException(
            "MERGE: a target row matched multiple source rows under a clause that is not a single unconditional DELETE")
        val hit = rows.map(r => decodeReadPath(r.getString(0))).toSet
        (allFiles.filter(hit.contains), bounds)
      }
    val untouched = allFiles.diff(touched)

    // ---- job 2: rewrite touched rows ∪ route unmatched source inserts.
    val touchedDf =
      if (touched.isEmpty) {
        // No matched targets: still need the insert path over an empty target.
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], targetSchema)
      } else table.readFilesAs(snap, touched, targetSchema)

    // With NO matched clause (bySource-only merges), matched target rows
    // default to KEEP — but the outer join emits one copy per matching
    // source row, so a dup-key source would duplicate them. Tag rows so
    // the kept copy can be dedup'd after routing.
    val dedupeKeeps = matchedClauses.isEmpty
    val t = (if (dedupeKeeps) touchedDf.withColumn(T_UID, monotonically_increasing_id())
             else touchedDf)
      .withColumn(T_EXISTS, lit(true)).alias("t")

    val matched = col(T_EXISTS).isNotNull && col(S_EXISTS).isNotNull
    val sourceOnly = col(T_EXISTS).isNull && col(S_EXISTS).isNotNull

    val action =
      when(matched, firstClause(Matched, lit(true), KEEP))
        .when(sourceOnly, firstClause(NotMatched, lit(true), DROP))
        .otherwise(firstClause(NotMatchedBySource, lit(true), KEEP))

    def routeTarget(joined: DataFrame): DataFrame = {
      val routed = joined.withColumn(ACTION, action)
        .filter(col(ACTION) =!= DROP)
        .filter(!clauses.zipWithIndex
          .filter(_._1.action == DeleteAction)
          .map { case (_, i) => col(ACTION) === i }
          .foldLeft(lit(false))(_ || _))
      if (!dedupeKeeps) routed
      else {
        // kept copies of one target row are identical on every projected
        // (target) column — keep exactly one per T_UID. Insert-routed
        // rows carry NULL T_UID: ranking them on the raw key would hash
        // every insert into ONE window partition
        // (a single-reducer funnel for insert-heavy bySource-only
        // merges), while a filter/union split of matched vs unmatched
        // would execute the full-outer-join subtree twice. Instead give
        // each insert row a unique NEGATIVE surrogate key (target UIDs
        // are non-negative monotonically_increasing_id values, so the
        // spaces are disjoint) — one window pass, one join,
        // hash-distributed.
        val surrogate = monotonically_increasing_id() + lit(Long.MinValue)
        routed
          .withColumn("__keep_key", coalesce(col(T_UID), surrogate))
          .withColumn("__keep_rn",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("__keep_key")).orderBy(col("__keep_key"))))
          .filter(col("__keep_rn") === 1)
          .drop("__keep_rn", "__keep_key")
      }
    }

    // case-insensitive matching throughout — see insert-only path note
    val sourceCols = source.columns.map(_.toLowerCase).toSet
    def outCol(name: String): Column = {
      val fromTarget = col(s"t.$name")
      clauses.zipWithIndex.foldLeft(fromTarget) { case (acc, (cl, idx)) =>
        val value: Option[Column] = cl.action match {
          case UpdateAll =>
            Some(if (sourceCols.contains(name.toLowerCase)) col(s"s.$name") else fromTarget)
          case UpdateSet(set) =>
            Some(MergeInto.ciGet(set, name).getOrElse(fromTarget))
          case InsertAll =>
            Some(if (sourceCols.contains(name.toLowerCase)) col(s"s.$name") else lit(null))
          case InsertValues(vals) =>
            Some(MergeInto.ciGet(vals, name).getOrElse(lit(null)))
          case DeleteAction => None // rows already filtered out
        }
        value.map(v => when(col(ACTION) === idx, v).otherwise(acc)).getOrElse(acc)
      }.as(name)
    }

    // no broadcast hint here: Spark's BroadcastHashJoin cannot build
    // either side of a FULL OUTER join (the hint would only log a
    // planner warning per commit) — the rewrite join stays a shuffle
    // join over the touched files' rows, which AQE right-sizes
    val result = lockSchema(routeTarget(t.join(srcExists, condition, "full_outer"))
      .select(targetCols.map(outCol): _*))
    table.replaceFiles(untouched, result, actionTag,
      expectVersion = Some(snap.version), rebasePredicate = rebaseBounds)
  }
}

object MergeInto {
  private[ops] val T_EXISTS = "__t_exists"
  private[ops] val S_EXISTS = "__s_exists"
  private[ops] val T_FILE = "__t_file"
  private[ops] val T_UID = "__t_uid"
  private[ops] val ACTION = "__action"
  private[ops] val KEEP = -1
  private[ops] val DROP = -2

  /** Driver key budget of merge discovery: a source of at most this many
   *  rows is collected for its key stats, and at most this many distinct
   *  keys probe the manifest ([[keyProbedCandidates]]). Scalar keys, so
   *  ≲ a few MB on the driver. */
  private[ops] val ProbeMaxKeys = 100000

  /** Estimated source bytes under which the discovery join broadcasts
   *  a source already proven to fit [[ProbeMaxKeys]]. */
  private[ops] val BroadcastMaxBytes = 256L * 1024 * 1024

  /**
   * Files of `snap` that can possibly contain a source match, per the
   * condition's `t.<col> = s.<col>` / `<=>` equi pairs and the source's
   * key bounds (min/max per key, one agg job). Null-safe pairs only
   * qualify when the source has no null keys (a null source key matches
   * null target keys, which min/max pruning cannot see). Falls back to
   * all files when no usable pair exists; `pruneFiles = false` skips the
   * candidates (returned empty) for callers that need only the bounds.
   *
   * Also returns the key-bounds predicate itself (None when no usable
   * pair exists or the source is empty): the conjunction under which a
   * target file provably holds no source match — reused as the
   * disjoint-read-set rebase guard ([[graft.tables.SnapshotTable]]
   * `rowRewriteRebaseSafe`), so the commit-race safety test and this
   * op's own pruning share one definition of "file this merge read".
   */
  private[ops] def discoveryCandidates(
      snap: Snapshot,
      source: DataFrame,
      condition: Column,
      pruneFiles: Boolean = true): (Seq[String], Option[Column]) =
    discoveryCandidatesSized(snap, source, condition, pruneFiles = pruneFiles)._1

  /** [[discoveryCandidates]] plus `Some(rowCount)` when the source proved
   *  SMALL (≤ `maxKeys` rows) — the caller's cue that broadcasting the
   *  source side of the discovery join is safe (the key set already sat
   *  on the driver). `maxKeys` is [[ProbeMaxKeys]] except in tests that
   *  force the agg path. */
  private[ops] def discoveryCandidatesSized(
      snap: Snapshot,
      source: DataFrame,
      condition: Column,
      maxKeys: Int = ProbeMaxKeys,
      pruneFiles: Boolean = true): ((Seq[String], Option[Column]), Option[Long])
    = PhaseLog.timed("discovery") {
    val pairs = equiPairs(org.apache.spark.sql.graftshim.SparkInternals.expr(condition))
    def everyFile = if (pruneFiles) snap.files.map(_.path) else Nil
    if (pairs.isEmpty) return ((everyFile, None), None)
    // ---- small-source fast path: ONE bounded collect of the key columns
    // replaces the min/max/ndv agg job AND the key-probe distinct-collect
    // job (the reference's steady state is a ~10³-row staged batch merged
    // repeatedly — for it, discovery was measured ≈ the write job itself).
    // Driver budget is the SAME as the existing key probe's: ≤ maxKeys
    // scalar key rows (a few MB). A source over the cap pays one cheap
    // executeTake probe (stops at maxKeys+1 rows) and falls back to the
    // agg path unchanged.
    smallSourceStats(source, pairs, maxKeys) match {
      case Some((total, stats)) =>
        if (total == 0) return ((everyFile, None), Some(0L))
        val bounds = boundsOf(pairs, total, i => (stats(i).mn, stats(i).mx, stats(i).nonNull))
        val probe = pairs.zipWithIndex.collectFirst {
          case ((t, _, nullSafe), i)
              if (!nullSafe || stats(i).nonNull == total) && stats(i).keys.nonEmpty =>
            (t, stats(i).keys)
        }
        return ((candidates(snap, bounds, probe, pruneFiles), bounds), Some(total))
      case None => () // over the cap or non-orderable key type: agg path
    }
    val aggs = pairs.zipWithIndex.flatMap { case ((_, s, _), i) =>
      Seq(min(col(s)).as(s"__mn$i"), max(col(s)).as(s"__mx$i"), count(col(s)).as(s"__cnt$i"),
        approx_count_distinct(col(s)).as(s"__ndv$i"))
    } :+ count(lit(1)).as("__total")
    val row = source.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getAs[Long]("__total")
    if (total == 0) return ((everyFile, None), None) // empty source: nothing to prune against
    val bounds = boundsOf(pairs, total, i => (row.get(row.fieldIndex(s"__mn$i")),
      row.get(row.fieldIndex(s"__mx$i")), row.getAs[Long](s"__cnt$i")))
    ((candidates(snap, bounds, keyProbe(source, row, total, pairs, maxKeys), pruneFiles),
      bounds), None)
  }

  /** The source-key bounds predicate over the target columns: per equi
   *  pair (`i` → min, max, non-null count), `t.col` within [min, max] —
   *  skipped for an all-null key or a null-safe pair with null keys. */
  private def boundsOf(pairs: Seq[(String, String, Boolean)], total: Long,
      stat: Int => (Any, Any, Long)): Option[Column] =
    pairs.zipWithIndex.flatMap { case ((t, _, nullSafe), i) =>
      val (mn, mx, nonNull) = stat(i)
      if (mn == null || mx == null || (nullSafe && nonNull < total)) None
      else Some(col(t) >= lit(mn) && col(t) <= lit(mx))
    }.reduceOption(_ && _)

  /** Bounds → stats-pruned → key-probed candidates over the pinned
   *  snapshot's files: the files whose stats may hold a row within
   *  `bounds`, refined by `probe` (a target column and the distinct
   *  source keys to probe it with) when one is usable. `probe` is only
   *  evaluated when some file survives the bounds. */
  private def candidates(snap: Snapshot, bounds: Option[Column],
      probe: => Option[(String, Seq[Any])], pruneFiles: Boolean): Seq[String] = {
    val ranged = if (pruneFiles) snap.prunedFiles(bounds) else Nil
    if (ranged.isEmpty) Nil
    else probe match {
      case Some((t, keys)) => snap.keyProbedPaths(t, keys, among = ranged)
      case None => ranged.map(_.path)
    }
  }

  /** Per-pair driver-side source-key stats: non-null count, exact
   *  distinct keys, and min/max under SPARK's ordering. */
  private final case class KeyStats(
      nonNull: Long, keys: Seq[Any], mn: Any, mx: Any)

  /** Collect the source's key columns when they fit the driver budget
   *  (≤ maxKeys rows) and every key type is one whose driver-side
   *  ordering provably matches Spark's ([[graft.DriverOrdering]] — the
   *  min/max derived here must bound exactly what `min(col)`/`max(col)`
   *  would). Float/double keys are excluded: Spark equates -0.0 and 0.0
   *  where a driver collect keeps the sign bit, so a driver-derived key
   *  set could unsoundly prune SQL-equal matches. None = fall back to
   *  the distributed agg. */
  private def smallSourceStats(
      source: DataFrame,
      pairs: Seq[(String, String, Boolean)],
      maxKeys: Int): Option[(Long, Seq[KeyStats])] = {
    val projected =
      try source.select(pairs.map(p => col(p._2)): _*)
      catch { case scala.util.control.NonFatal(_) => return None }
    val types = projected.schema.fields.map(_.dataType)
    if (!types.forall(graft.DriverOrdering.orderable)) return None
    val rows = projected.limit(maxKeys + 1).collect()
    if (rows.length > maxKeys) return None
    val stats = pairs.indices.map { i =>
      val dt = types(i)
      var mn: Any = null
      var mx: Any = null
      var nonNull = 0L
      val distinct = scala.collection.mutable.HashSet[Any]()
      rows.foreach { r =>
        val v = r.get(i)
        if (v != null) {
          nonNull += 1
          distinct += v
          if (mn == null || graft.DriverOrdering.lt(dt, v, mn)) mn = v
          if (mx == null || graft.DriverOrdering.lt(dt, mx, v)) mx = v
        }
      }
      KeyStats(nonNull, distinct.toSeq, mn, mx)
    }
    Some((rows.length.toLong, stats))
  }

  /** The key probe of the agg path — the Hudi bloom-index tagging role
   *  (`hoodie.index.type=BLOOM`). The global [min(source), max(source)]
   *  envelope degrades to no pruning the moment a source batch holds one
   *  low and one high key; probing each file with the source's DISTINCT
   *  keys prunes the gap files by stats range and, where the table
   *  carries manifest blooms ([[graft.tables.FileBloom]]), files whose
   *  key range fully overlaps (interleaved clustering). Only offered when
   *  the source's approximate key cardinality fits `maxKeys`
   *  ([[ProbeMaxKeys]] — a bounded driver collect; keys are scalar, so
   *  ≲ a few MB), which is also when pruning pays: a source touching
   *  millions of distinct keys touches most files anyway. Skipped for
   *  null-safe pairs with null keys (`<=>` can match NULL, which no key
   *  probe represents); conservative on any miss. */
  private def keyProbe(
      source: DataFrame,
      row: org.apache.spark.sql.Row,
      total: Long,
      pairs: Seq[(String, String, Boolean)],
      maxKeys: Int): Option[(String, Seq[Any])] =
    pairs.zipWithIndex.find { case ((_, _, nullSafe), i) =>
      val nonNull = row.getAs[Long](s"__cnt$i")
      (!nullSafe || nonNull == total) && row.getAs[Long](s"__ndv$i") <= maxKeys
    }.flatMap { case ((t, s, _), _) =>
      // exact key set, re-capped: approx_count_distinct may undercount
      val keys = source.select(col(s)).na.drop().distinct()
        .limit(maxKeys + 1).collect().map(_.get(0)).toSeq
      if (keys.isEmpty || keys.length > maxKeys) None else Some((t, keys))
    }

  /** (targetCol, sourceCol, isNullSafe) equi pairs under the `t`/`s`
   *  aliases, from the top-level conjuncts of the merge condition. */
  private def equiPairs(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[(String, String, Boolean)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    def side(x: org.apache.spark.sql.catalyst.expressions.Expression): Option[(String, String)] = x match {
      case u: UnresolvedAttribute if u.nameParts.length >= 2 =>
        Some((u.nameParts.head.toLowerCase, u.nameParts.tail.mkString(".")))
      case _ => None
    }
    def pair(l: org.apache.spark.sql.catalyst.expressions.Expression,
        r: org.apache.spark.sql.catalyst.expressions.Expression,
        nullSafe: Boolean): Seq[(String, String, Boolean)] =
      (side(l), side(r)) match {
        case (Some(("t", tc)), Some(("s", sc))) => Seq((tc, sc, nullSafe))
        case (Some(("s", sc)), Some(("t", tc))) => Seq((tc, sc, nullSafe))
        case _ => Nil
      }
    e match {
      case f: UnresolvedFunction =>
        (f.nameParts.last.toLowerCase, f.arguments) match {
          case ("and", Seq(l, r)) => equiPairs(l) ++ equiPairs(r)
          case ("=" | "==", Seq(l, r)) => pair(l, r, nullSafe = false)
          case ("<=>", Seq(l, r)) => pair(l, r, nullSafe = true)
          case _ => Nil
        }
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => equiPairs(l) ++ equiPairs(r)
      case org.apache.spark.sql.catalyst.expressions.EqualTo(l, r) => pair(l, r, nullSafe = false)
      case org.apache.spark.sql.catalyst.expressions.EqualNullSafe(l, r) => pair(l, r, nullSafe = true)
      case _ => Nil
    }
  }

  /** `input_file_name()` yields a percent-encoded URI string; the manifest
   *  stores plain decoded paths (`Path.toUri.getPath`). Decode ONLY the
   *  read side — decoding both corrupts table roots containing literal
   *  `%xx` or `+` (they would be decoded a second time). */
  private[ops] def decodeReadPath(p: String): String =
    try new java.net.URI(p).getPath
    catch { // not URI-parseable (e.g. raw space): strip any scheme verbatim
      case _: Exception => p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?", "")
    }

  class MergeCardinalityException(msg: String) extends RuntimeException(msg)

  sealed trait ClauseKind
  case object Matched extends ClauseKind
  case object NotMatched extends ClauseKind
  case object NotMatchedBySource extends ClauseKind

  sealed trait MergeAction
  case object UpdateAll extends MergeAction
  final case class UpdateSet(set: Map[String, Column]) extends MergeAction
  case object InsertAll extends MergeAction
  final case class InsertValues(values: Map[String, Column]) extends MergeAction
  case object DeleteAction extends MergeAction

  final case class Clause(kind: ClauseKind, condition: Option[Column], action: MergeAction)

  /** Case-insensitive lookup for user-supplied assignment maps. */
  private[ops] def ciGet(m: Map[String, Column], name: String): Option[Column] =
    m.get(name).orElse(m.collectFirst {
      case (k, v) if k.equalsIgnoreCase(name) => v
    })

  final class ClauseBuilder(m: MergeInto, kind: ClauseKind, cond: Option[Column]) {
    // kind/action combinations are validated here, like Delta's builder:
    // whenNotMatched().delete() or whenNotMatchedBySource().insertAll()
    // would otherwise execute with garbage semantics
    private def checkKind(ok: Boolean, what: String): Unit =
      require(ok, s"$what is not valid for $kind clauses")
    /** `UPDATE SET *` — full-row by-name (`iceberg/iceberg_scd_script.py:80`). */
    def updateAll(): MergeInto = {
      checkKind(kind == Matched, "updateAll (needs source columns)")
      m.add(Clause(kind, cond, UpdateAll))
    }
    /** `UPDATE SET col = expr, …` partial (`delta/delta_scd_script.py:93-94`). */
    def update(set: Map[String, Column]): MergeInto = {
      checkKind(kind != NotMatched, "update")
      m.add(Clause(kind, cond, UpdateSet(set)))
    }
    def delete(): MergeInto = {
      checkKind(kind != NotMatched, "delete")
      m.add(Clause(kind, cond, DeleteAction))
    }
    /** `INSERT *` by-name (`delta/delta_scd_script.py:95`). */
    def insertAll(): MergeInto = {
      checkKind(kind == NotMatched, "insertAll")
      m.add(Clause(kind, cond, InsertAll))
    }
    def insert(values: Map[String, Column]): MergeInto = {
      checkKind(kind == NotMatched, "insert")
      m.add(Clause(kind, cond, InsertValues(values)))
    }
  }
}
