package graft.sql

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftshim.SparkInternals
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

import graft.tables.SnapshotTable

/**
 * SQL surface for the table-maintenance operations the reference drives
 * through its formats' SQL extensions — Delta's `VACUUM` / `OPTIMIZE …
 * ZORDER BY` / `DESCRIBE HISTORY` / `RESTORE TABLE` / `GENERATE
 * symlink_format_manifest` dialect (`delta/delta_scd_script.py:42-43`,
 * `delta/delta_submit.sh:27-28` loads the extension jar that parses
 * these; SURVEY.md §2.1 S10, §7.3). Vanilla Spark rejects every statement
 * below at the parser, so — like the reference's extension jars — the
 * engine injects a delegating parser: the fixed statement shapes are
 * recognized here, everything else goes to Spark's own parser untouched.
 *
 * The target table resolves at RUN time (registry contents may change
 * between parse and execution): a bare name through [[GraftCatalog]], a
 * qualified `catalog.ns….name` through a registered [[GraftTableCatalog]].
 *
 * Grammar (case-insensitive, optional trailing `;`):
 * {{{
 *   VACUUM t [RETAIN <n> HOURS]
 *   OPTIMIZE t [WHERE <pred>] [ZORDER BY (c1, c2, …)]   (WHERE: compaction scope)
 *   OPTIMIZE t FULL                       (full rewrite by the recorded cluster spec)
 *   DESCRIBE HISTORY t
 *   DESCRIBE DETAIL t
 *   RESTORE [TABLE] t TO VERSION AS OF <v>
 *   RESTORE [TABLE] t TO TIMESTAMP AS OF '<ts>'
 *   RESTORE [TABLE] t TO TAG '<name>'
 *   GENERATE symlink_format_manifest FOR TABLE t
 *   CONVERT TO GRAFT [parquet.]`<path>`
 *   CREATE TABLE tgt SHALLOW CLONE src [VERSION AS OF <v>] [LOCATION '<path>']
 *   ALTER TABLE t CLUSTER BY (spec…) | NONE
 *   ALTER TABLE t CREATE TAG name [AS OF VERSION <v>] / DROP TAG name
 *   ALTER TABLE t CREATE BRANCH name / DROP BRANCH name / FAST FORWARD BRANCH name
 *   DESCRIBE REFS t
 * }}}
 *
 * Known dialect ambiguity (shared with Delta, whose grammar this mirrors):
 * for a table literally named `history`, vanilla `DESCRIBE history <col>`
 * (describe-column) parses as DESCRIBE HISTORY here. Rename the table or
 * use `DESCRIBE TABLE history <col>`.
 */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseMaintenance(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  // `t`, `ns.t`, `` `quoted name`.t `` … — one identifier, dots between parts
  private val Ident = "((?:`[^`]+`|[\\w$]+)(?:\\.(?:`[^`]+`|[\\w$]+))*)"

  private def cmd(body: String): Pattern =
    Pattern.compile("^\\s*" + body + "\\s*;?\\s*$",
      Pattern.CASE_INSENSITIVE | Pattern.DOTALL)

  private val VacuumStmt =
    cmd(s"VACUUM\\s+$Ident(?:\\s+RETAIN\\s+(\\d+(?:\\.\\d+)?)\\s+HOURS)?" +
      "(?:\\s+(DRY\\s+RUN))?")
  // the tail (WHERE / ZORDER BY) is split by [[parseOptimizeTail]] —
  // a regex split would find "ZORDER BY" inside a string literal
  private val OptimizeStmt = cmd(s"OPTIMIZE\\s+$Ident(?:\\s+(.+))?")
  private val HistoryStmt = cmd(s"(?:DESCRIBE|DESC)\\s+HISTORY\\s+$Ident")
  // Delta dialect: fold deletion vectors back into clean files
  private val ReorgPurgeStmt =
    cmd(s"REORG\\s+TABLE\\s+$Ident\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)")
  private val DetailStmt = cmd(s"(?:DESCRIBE|DESC)\\s+DETAIL\\s+$Ident")
  // Delta dialect: idempotent batch file ingest from a staging directory
  private val CopyIntoStmt =
    cmd(s"COPY\\s+INTO\\s+$Ident\\s+FROM\\s+'([^']+)'" +
      "(?:\\s+FILEFORMAT\\s*=\\s*([A-Za-z]+))?")
  private val RestoreVersionStmt =
    cmd(s"RESTORE\\s+(?:TABLE\\s+)?$Ident\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)")
  private val RestoreTimestampStmt =
    cmd(s"RESTORE\\s+(?:TABLE\\s+)?$Ident\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'")
  // named refs (Iceberg tags/branches/WAP surface): ref names accept a
  // bare path-safe identifier or the same single-quoted — the alternation
  // keeps the quotes PAIRED (`'name` / `name'` must not parse)
  private val RefName = "(?:'([A-Za-z0-9][A-Za-z0-9_.-]*)'|([A-Za-z0-9][A-Za-z0-9_.-]*))"
  private val RestoreTagStmt =
    cmd(s"RESTORE\\s+(?:TABLE\\s+)?$Ident\\s+TO\\s+TAG\\s+$RefName")
  private val GenerateStmt =
    cmd(s"GENERATE\\s+symlink_format_manifest\\s+FOR\\s+TABLE\\s+$Ident")
  private val ConvertStmt =
    cmd("CONVERT\\s+TO\\s+GRAFT\\s+(?:parquet\\s*\\.\\s*)?(`[^`]+`|'[^']+')")
  // cluster-spec evolution (Iceberg ALTER TABLE … PARTITION FIELD role):
  // vanilla Spark has no ALTER TABLE … CLUSTER BY, so the whole statement
  // is ours — CLUSTER BY NONE clears the spec. The greedy (.*) runs to
  // the LAST closing paren so transform entries like days(ts) and
  // bucket(4, id) survive; [[splitSpecEntries]] then splits on
  // depth-0 commas only.
  private val AlterClusterStmt =
    cmd(s"ALTER\\s+TABLE\\s+$Ident\\s+CLUSTER\\s+BY\\s+(?:(NONE)|\\((.*)\\))")

  /** Split a cluster-spec column list on commas OUTSIDE parentheses, so
   *  `days(ts), bucket(4, id)` yields two entries, not three. */
  private[sql] def splitSpecEntries(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }
  private val CreateTagStmt =
    cmd(s"ALTER\\s+TABLE\\s+$Ident\\s+CREATE\\s+TAG\\s+$RefName" +
      "(?:\\s+AS\\s+OF\\s+VERSION\\s+(\\d+))?")
  private val DropTagStmt = cmd(s"ALTER\\s+TABLE\\s+$Ident\\s+DROP\\s+TAG\\s+$RefName")
  private val CreateBranchStmt =
    cmd(s"ALTER\\s+TABLE\\s+$Ident\\s+CREATE\\s+BRANCH\\s+$RefName")
  private val DropBranchStmt =
    cmd(s"ALTER\\s+TABLE\\s+$Ident\\s+DROP\\s+BRANCH\\s+$RefName")
  private val FastForwardStmt =
    cmd(s"ALTER\\s+TABLE\\s+$Ident\\s+FAST\\s+FORWARD\\s+BRANCH\\s+$RefName")
  private val ShowRefsStmt = cmd(s"(?:DESCRIBE|DESC)\\s+REFS\\s+$Ident")

  // plain CREATE TABLE never matches — SHALLOW CLONE is required
  private val ShallowCloneStmt =
    cmd(s"CREATE\\s+TABLE\\s+$Ident\\s+SHALLOW\\s+CLONE\\s+$Ident" +
      "(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?" +
      "(?:\\s+LOCATION\\s+'([^']+)')?")

  private[sql] def parseMaintenance(sqlText: String): Option[LogicalPlan] = {
    def m(p: Pattern) = Option(p.matcher(sqlText)).filter(_.matches())
    m(VacuumStmt).map { r =>
      GraftVacuumCommand(identParts(r.group(1)),
        Option(r.group(2)).map(_.toDouble), dryRun = r.group(3) != null)
    }.orElse(m(HistoryStmt).map(r => GraftDescribeHistoryCommand(identParts(r.group(1)))))
      .orElse(m(DetailStmt).map(r => GraftDescribeDetailCommand(identParts(r.group(1)))))
      .orElse(m(OptimizeStmt).map { r =>
        val tail = Option(r.group(2)).getOrElse("")
        // Delta's liquid-clustering `OPTIMIZE t FULL`: full clustered
        // rewrite by the RECORDED spec (the SPJ migration / maintenance
        // pass), vs the default small-file compaction
        if (tail.trim.equalsIgnoreCase("FULL"))
          GraftOptimizeCommand(identParts(r.group(1)), Nil, None, full = true)
        else {
          val (where, cols) = parseOptimizeTail(tail)
          GraftOptimizeCommand(identParts(r.group(1)), cols, where)
        }
      })
      .orElse(m(RestoreVersionStmt).map(r =>
        GraftRestoreCommand(identParts(r.group(1)), Some(r.group(2).toLong), None)))
      .orElse(m(RestoreTimestampStmt).map(r =>
        GraftRestoreCommand(identParts(r.group(1)), None, Some(r.group(2)))))
      .orElse(m(RestoreTagStmt).map(r =>
        GraftRestoreCommand(identParts(r.group(1)), None, None, Some(refNameOf(r)))))
      .orElse(m(ReorgPurgeStmt).map(r => GraftReorgPurgeCommand(identParts(r.group(1)))))
      .orElse(m(CopyIntoStmt).map(r => GraftCopyIntoCommand(identParts(r.group(1)),
        r.group(2), Option(r.group(3)).map(_.toLowerCase).getOrElse("parquet"))))
      .orElse(m(GenerateStmt).map(r => GraftGenerateManifestCommand(identParts(r.group(1)))))
      .orElse(m(ConvertStmt).map(r =>
        GraftConvertCommand(r.group(1).substring(1, r.group(1).length - 1))))
      .orElse(m(ShallowCloneStmt).map(r =>
        GraftShallowCloneCommand(identParts(r.group(1)), identParts(r.group(2)),
          Option(r.group(3)).map(_.toLong), Option(r.group(4)))))
      .orElse(m(AlterClusterStmt).map { r =>
        // group 2 captures NONE, group 3 the parenthesized column list
        val spec = if (r.group(3) == null) Nil else splitSpecEntries(r.group(3))
        GraftAlterClusterCommand(identParts(r.group(1)), spec)
      })
      .orElse(m(CreateTagStmt).map(r => GraftRefCommand(identParts(r.group(1)),
        "create-tag", refNameOf(r), Option(r.group(4)).map(_.toLong))))
      .orElse(m(DropTagStmt).map(r =>
        GraftRefCommand(identParts(r.group(1)), "drop-tag", refNameOf(r))))
      .orElse(m(CreateBranchStmt).map(r =>
        GraftRefCommand(identParts(r.group(1)), "create-branch", refNameOf(r))))
      .orElse(m(DropBranchStmt).map(r =>
        GraftRefCommand(identParts(r.group(1)), "drop-branch", refNameOf(r))))
      .orElse(m(FastForwardStmt).map(r =>
        GraftRefCommand(identParts(r.group(1)), "fast-forward", refNameOf(r))))
      .orElse(m(ShowRefsStmt).map(r => GraftDescribeRefsCommand(identParts(r.group(1)))))
  }

  /** [[RefName]] captures the quoted form in group 2 and the bare form in
   *  group 3 (group 1 is always the table identifier). */
  private def refNameOf(r: java.util.regex.Matcher): String =
    Option(r.group(2)).getOrElse(r.group(3))

  /** Split an OPTIMIZE statement tail into (WHERE predicate, ZORDER BY
   *  columns). The ZORDER BY keyword is located OUTSIDE single-quoted
   *  string literals only, so a predicate like `note = 'a ZORDER BY b'`
   *  stays a predicate. */
  private[sql] def parseOptimizeTail(tail: String): (Option[String], Seq[String]) = {
    val zAt = indexOfUnquoted(tail, "(?i)\\bZORDER\\s+BY\\b")
    val (wherePart, zPart) = zAt match {
      case Some(i) => (tail.substring(0, i).trim, Some(tail.substring(i).trim))
      case None => (tail.trim, None)
    }
    val where =
      if (wherePart.isEmpty) None
      else {
        val m = Pattern.compile("(?is)^WHERE\\s+(.+)$").matcher(wherePart)
        if (!m.matches()) throw new IllegalArgumentException(
          s"cannot parse OPTIMIZE clause: '$wherePart' " +
            "(expected [WHERE <pred>] [ZORDER BY (c1, …)])")
        Some(m.group(1).trim)
      }
    val cols = zPart.toSeq.flatMap { z =>
      val m = Pattern.compile("(?is)^ZORDER\\s+BY\\s+(.+)$").matcher(z)
      require(m.matches(), s"cannot parse ZORDER clause: '$z'")
      m.group(1).trim.stripPrefix("(").stripSuffix(")").split(",").toSeq
        .map(c => stripQuotes(c.trim)).filter(_.nonEmpty)
    }
    (where, cols)
  }

  /** First match of `regex` in `s` outside quoted regions: single- and
   *  double-quoted string literals and backtick-quoted identifiers are
   *  all opaque (Spark SQL accepts all three), so
   *  `OPTIMIZE t WHERE note = "x ZORDER BY y"` never splits inside the
   *  literal. Doubled-quote escapes ('' / "") toggle twice and fall out
   *  naturally; backslash escapes (\' / \" / \\, honored by Spark's
   *  default non-ANSI string literals) skip the next char so an escaped
   *  quote does not close the region; quote characters inside a
   *  differently-quoted region do not open a new region. */
  private def indexOfUnquoted(s: String, regex: String): Option[Int] = {
    val inQuote = new Array[Boolean](math.max(s.length, 1))
    var q: Char = 0 // 0 = outside; otherwise the active quote char
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (q != 0 && q != '`' && c == '\\' && i + 1 < s.length) {
        // escaped char inside a string literal: both chars stay quoted
        // (backticked identifiers have no escapes in Spark SQL)
        inQuote(i) = true; inQuote(i + 1) = true
        i += 2
      } else {
        if (q == 0 && (c == '\'' || c == '"' || c == '`')) q = c
        else if (c == q) q = 0
        inQuote(i) = q != 0
        i += 1
      }
    }
    val m = Pattern.compile(regex).matcher(s)
    while (m.find()) if (!inQuote(m.start)) return Some(m.start)
    None
  }

  private def stripQuotes(part: String): String =
    if (part.length >= 2 && part.head == '`' && part.last == '`')
      part.substring(1, part.length - 1)
    else part

  private[sql] def identParts(ident: String): Seq[String] =
    "`[^`]+`|[^.]+".r.findAllIn(ident).map(stripQuotes).toSeq

  /** The snapshot table behind a maintenance-statement identifier: a bare
   *  name through the [[GraftCatalog]] registry, a qualified name through
   *  the named catalog when it is a [[GraftTableCatalog]]. */
  private[sql] def resolveTable(spark: SparkSession, parts: Seq[String]): SnapshotTable =
    parts match {
      case Seq(name) =>
        GraftCatalog.get(name).getOrElse(throw new IllegalArgumentException(
          s"$name is not a GraftCatalog-registered snapshot table"))
      case _ =>
        spark.sessionState.catalogManager.catalog(parts.head) match {
          case g: GraftTableCatalog =>
            g.loadTable(Identifier.of(parts.tail.init.toArray, parts.last)) match {
              case t: GraftTable => t.table
              case other => throw new IllegalArgumentException(
                s"${parts.mkString(".")} resolved to unexpected table $other")
            }
          case other => throw new IllegalArgumentException(
            s"catalog ${parts.head} is not a GraftTableCatalog " +
              s"(got ${other.getClass.getSimpleName}); " +
              "maintenance SQL targets graft tables only")
        }
    }

  private[sql] def notNull(name: String, tpe: DataType): Attribute =
    AttributeReference(name, tpe, nullable = false)()
}

/** `DESCRIBE HISTORY t` → [[SnapshotTable.history]] as rows (Delta's
 *  command of the same name; newest first). */
case class GraftDescribeHistoryCommand(parts: Seq[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    notNull("version", LongType), notNull("operation", StringType),
    AttributeReference("timestamp", TimestampType)(),
    notNull("num_files", IntegerType), notNull("num_delta_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] =
    resolveTable(spark, parts).history().map(h =>
      Row(h.version, h.action, h.ts.orNull, h.numFiles, h.numDeltaFiles))
}

/** `DESCRIBE DETAIL t` — one row of table-level facts (Delta's command of
 *  the same name): location, current version, live file count and bytes,
 *  pending MoR delta files, cluster spec, and properties. O(1) manifest
 *  metadata, no scan. */
case class GraftDescribeDetailCommand(parts: Seq[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    notNull("location", StringType), notNull("version", LongType),
    notNull("num_files", IntegerType), notNull("size_bytes", LongType),
    notNull("num_delta_files", IntegerType),
    notNull("cluster_by", StringType), notNull("properties", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = resolveTable(spark, parts)
    // ONE snapshot read serves every column — per-accessor calls would
    // re-list the log repeatedly and could mix two versions' facts if a
    // commit landed in between
    t.readable() match {
      case None => Seq(Row(t.root, -1L, 0, 0L, 0, "", ""))
      case Some(snap) =>
        val e = snap.entry
        Seq(Row(t.root, snap.version, e.files.size,
          e.files.map(f => math.max(0L, f.bytes)).sum,
          e.deltaFiles.map(_.size).getOrElse(0),
          e.clusterBy.getOrElse(Nil).mkString(","),
          e.properties.getOrElse(Map.empty).toSeq.sortBy(_._1)
            .map { case (k, va) => s"$k=$va" }.mkString(", ")))
    }
  }
}

/**
 * `VACUUM t [RETAIN n HOURS]` → [[SnapshotTable.vacuum]]. The retention
 * window (default 168 h — Delta's `deletedFileRetentionDuration` default)
 * bounds BOTH effects: versions committed inside the window stay
 * time-travelable (their log entries and files are never touched), and
 * younger-than-window unreferenced files are left for in-flight writers.
 */
case class GraftVacuumCommand(
    parts: Seq[String], retainHours: Option[Double], dryRun: Boolean = false)
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] =
    Seq(notNull("path", StringType), notNull("deleted_files", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = resolveTable(spark, parts)
    val retainMillis = (retainHours.getOrElse(168.0) * 3600 * 1000).toLong
    val cutoff = System.currentTimeMillis() - retainMillis
    // the newest contiguous run of commits inside the window (current
    // version always retained); torn/pre-ts log entries count as in-window
    val keep = math.max(1, t.versionsSince(cutoff))
    if (dryRun) {
      // Delta DRY RUN semantics: list what WOULD be reclaimed, touch nothing
      val would = t.vacuumDryRun(retainVersions = keep, retainMillis = retainMillis)
      would.map(p => Row(p, would.size.toLong))
    } else {
      val deleted = t.vacuum(retainVersions = keep, retainMillis = retainMillis)
      Seq(Row(t.root, deleted.toLong))
    }
  }
}

/**
 * `OPTIMIZE t` → small-file compaction ([[SnapshotTable.compact]]);
 * `OPTIMIZE t ZORDER BY (…)` → one-commit z-clustered rewrite
 * ([[graft.ext.ZOrder.optimize]], output file count sized to ~128 MiB
 * targets from live-manifest byte stats — no data scan to plan).
 */
case class GraftOptimizeCommand(
    parts: Seq[String], zorderBy: Seq[String], where: Option[String] = None,
    full: Boolean = false)
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    notNull("path", StringType), notNull("operation", StringType),
    notNull("rewritten_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = resolveTable(spark, parts)
    if (full) {
      // `OPTIMIZE t FULL` (Delta liquid-clustering parity): full
      // clustered rewrite by the table's RECORDED spec — the SQL face of
      // [[SnapshotTable.recluster]], i.e. the in-place SPJ migration
      // after `ALTER TABLE … CLUSTER BY (bucket(n, c))` and the
      // restore-the-file-floor maintenance pass for clustered tables
      val spec = t.clusterSpec()
      require(spec.nonEmpty,
        s"OPTIMIZE FULL needs a cluster spec on ${t.root}: run " +
          "ALTER TABLE … CLUSTER BY (…) first")
      val entries = t.manifestEntries()
      val totalBytes = entries.map(_.bytes).filter(_ > 0).sum
      val target = 128L * 1024 * 1024
      val nFiles = math.max(1, math.ceil(totalBytes.toDouble / target).toInt)
      val n = t.recluster(spec, nFiles)
      return Seq(Row(t.root, s"recluster(${spec.mkString(",")})", n))
    }
    if (zorderBy.isEmpty) {
      // WHERE bounds the compaction to stats-matching files (Delta's
      // partition-scoped OPTIMIZE): the hot slice rewrites, nothing else
      val scope = where.map(w => SparkInternals.column(
        spark.sessionState.sqlParser.parseExpression(w)))
      val n = t.compact(scope = scope)
      Seq(Row(t.root, where.map(w => s"compact where $w").getOrElse("compact"), n))
    } else {
      require(where.isEmpty,
        "OPTIMIZE … WHERE … ZORDER BY is not supported: z-ordering rewrites " +
          "a consistent clustering across the whole snapshot")
      val entries = t.manifestEntries()
      val totalBytes = entries.map(_.bytes).filter(_ > 0).sum
      val target = 128L * 1024 * 1024
      val nFiles = math.max(1, math.ceil(totalBytes.toDouble / target).toInt)
      graft.ext.ZOrder.optimize(t, zorderBy, nFiles)
      Seq(Row(t.root, s"zorder(${zorderBy.mkString(",")})", entries.size))
    }
  }
}

/** `REORG TABLE t APPLY (PURGE)` →
 *  [[graft.tables.SnapshotTable.purgeDeletionVectors]]: every DV-named
 *  file rewrites without its deleted rows and the vector list clears —
 *  Delta's REORG … APPLY (PURGE), the pass that re-enables external
 *  consumers (symlink manifest, DSv2 catalog scans) on a DV table. */
case class GraftReorgPurgeCommand(parts: Seq[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    notNull("path", StringType), notNull("operation", StringType),
    notNull("rewritten_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = resolveTable(spark, parts)
    Seq(Row(t.root, "purge-dv", t.purgeDeletionVectors()))
  }
}

/** `COPY INTO t FROM '<dir>' [FILEFORMAT = <fmt>]` →
 *  [[graft.tables.SnapshotTable.copyInto]]: Delta's idempotent batch
 *  ingest — staging files load exactly once, the loaded-file registry
 *  committing atomically with the data; re-running the statement is a
 *  recorded no-op (num_files/num_rows = 0). */
case class GraftCopyIntoCommand(parts: Seq[String], dir: String, format: String)
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    notNull("path", StringType), notNull("num_files", IntegerType),
    notNull("num_rows", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = resolveTable(spark, parts)
    val (nf, nr) = t.copyInto(dir, format)
    Seq(Row(t.root, nf, nr))
  }
}

/** `ALTER TABLE t CLUSTER BY (spec, …)` / `CLUSTER BY NONE` →
 *  [[SnapshotTable.setClusterSpec]]: metadata-only cluster-spec
 *  evolution — existing files untouched (stats-based pruning needs no
 *  layout migration), new writes cluster by the new spec. */
case class GraftAlterClusterCommand(parts: Seq[String], spec: Seq[String])
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    notNull("path", StringType), notNull("cluster_by", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = resolveTable(spark, parts)
    t.setClusterSpec(spec)
    Seq(Row(t.root, spec.mkString(",")))
  }
}

/** `RESTORE [TABLE] t TO VERSION|TIMESTAMP AS OF …` / `TO TAG '<name>'` →
 *  [[SnapshotTable.restore]] (a new commit re-referencing the old files —
 *  Delta `RESTORE TABLE` semantics, nothing is copied or lost; the TAG
 *  form is the named-ref rollback, always resolvable because tagged
 *  versions are vacuum-exempt). */
case class GraftRestoreCommand(
    parts: Seq[String], version: Option[Long], timestamp: Option[String],
    tag: Option[String] = None)
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    notNull("path", StringType), notNull("restored_version", LongType),
    notNull("new_version", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = resolveTable(spark, parts)
    val v = version.orElse(tag.map(t.tagVersion)).getOrElse {
      val lit = timestamp.get.trim
      val millis =
        try {
          if (lit.contains(" ") || lit.contains("T")) {
            val norm = lit.replace("T", " ")
            // seconds are optional in the dialect: 'yyyy-MM-dd HH:mm'
            val full = if (norm.count(_ == ':') == 1) norm + ":00" else norm
            java.sql.Timestamp.valueOf(full).getTime
          } else java.sql.Date.valueOf(lit).getTime
        } catch {
          case e: IllegalArgumentException => throw new IllegalArgumentException(
            s"RESTORE … TO TIMESTAMP AS OF '$lit': expected " +
              "'yyyy-MM-dd[ HH:mm[:ss[.f…]]]'", e)
        }
      t.versionAsOf(millis)
    }
    t.restore(v)
    Seq(Row(t.root, v, t.currentVersion()))
  }
}

/** `CONVERT TO GRAFT [parquet.]'<path>'` — adopt an existing plain-parquet
 *  directory in place ([[SnapshotTable.convert]]; Delta `CONVERT TO DELTA`
 *  syntax shape, backtick or single-quoted path). */
case class GraftConvertCommand(path: String) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] =
    Seq(notNull("path", StringType), notNull("num_files", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = SnapshotTable.convert(spark, path)
    Seq(Row(t.root, t.manifest().size))
  }
}

/** `GENERATE symlink_format_manifest FOR TABLE t` — the reference's
 *  literal statement (`delta/delta_scd_script.py:42-43`) →
 *  [[SnapshotTable.generateSymlinkManifest]]. */
case class GraftGenerateManifestCommand(parts: Seq[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(notNull("manifest_path", StringType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(resolveTable(spark, parts).generateSymlinkManifest()))
}

/** Named-ref admin (Iceberg tags/branches/WAP surface):
 *  `ALTER TABLE t CREATE TAG name [AS OF VERSION n]` / `DROP TAG` /
 *  `CREATE BRANCH` / `DROP BRANCH` / `FAST FORWARD BRANCH` → the
 *  [[SnapshotTable]] ref API. One command class, `op`-dispatched — the
 *  five statements share (table, ref name) shape and a one-row result. */
case class GraftRefCommand(
    parts: Seq[String], op: String, refName: String, version: Option[Long] = None)
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    notNull("path", StringType), notNull("ref", StringType),
    notNull("version", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = resolveTable(spark, parts)
    val v: Long = op match {
      case "create-tag" =>
        t.createTag(refName, version); t.tagVersion(refName)
      case "drop-tag" =>
        val was = t.tagVersion(refName); t.dropTag(refName); was
      case "create-branch" => t.createBranch(refName).currentVersion()
      case "drop-branch" =>
        val was = t.branch(refName).currentVersion(); t.dropBranch(refName); was
      case "fast-forward" => t.fastForward(refName).currentVersion()
      case other => throw new IllegalStateException(s"unknown ref op $other")
    }
    Seq(Row(t.root, refName, v))
  }
}

/** `DESCRIBE REFS t` — every named ref (Iceberg `refs` metadata-table
 *  role): (name, type, version) rows, tags then branches, name-ordered. */
case class GraftDescribeRefsCommand(parts: Seq[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    notNull("name", StringType), notNull("type", StringType),
    notNull("version", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val t = resolveTable(spark, parts)
    t.listTags().map { case (n, v) => Row(n, "tag", v) } ++
      t.listBranches().map(n => Row(n, "branch", t.branch(n).currentVersion()))
  }
}

/** `CREATE TABLE tgt SHALLOW CLONE src [VERSION AS OF n] [LOCATION 'p']`
 *  (Delta's statement) → [[SnapshotTable.shallowCloneTo]]: zero-copy
 *  file re-reference, the clone evolves independently. A bare target
 *  name registers in the session [[GraftCatalog]] and needs an explicit
 *  LOCATION; a catalog-qualified target derives its warehouse root (and
 *  is immediately loadable through the DSv2 catalog). */
case class GraftShallowCloneCommand(
    target: Seq[String],
    source: Seq[String],
    version: Option[Long],
    location: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(notNull("root", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val src = resolveTable(spark, source)
    val root = location.getOrElse {
      if (target.size == 1) throw new IllegalArgumentException(
        "CREATE TABLE … SHALLOW CLONE: a session-registry target needs LOCATION '<path>'")
      else spark.sessionState.catalogManager.catalog(target.head) match {
        case g: GraftTableCatalog => g.rootForParts(target.tail)
        case other => throw new IllegalArgumentException(
          s"catalog ${target.head} is not a GraftTableCatalog " +
            s"(got ${other.getClass.getSimpleName})")
      }
    }
    val clone = src.shallowCloneTo(root, version)
    if (target.size == 1) GraftCatalog.register(target.head, clone)
    Seq(Row(clone.root))
  }
}
