package graft.sql

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftshim.SparkInternals
import org.apache.spark.sql.{Column, Row, SparkSession, SparkSessionExtensions}

import graft.ops.MergeInto
import graft.tables.SnapshotTable

/**
 * SQL surface for MERGE INTO on native snapshot tables: vanilla Spark 4
 * parses `MERGE INTO … WHEN MATCHED …` into [[MergeIntoTable]] but cannot
 * plan it for parquet-backed relations ("MERGE INTO TABLE is not
 * supported temporarily") — the hole the reference fills with the
 * Delta/Iceberg extension jars (`delta/delta_submit.sh:27-28`,
 * `iceberg/iceberg_submit.sh:28`; SURVEY.md §3.2, §7.3).
 *
 * [[GraftExtensions]] injects a resolution rule that rewrites
 * `MergeIntoTable` whose target is a [[GraftCatalog]]-registered table
 * into a runnable command dispatching to [[graft.ops.MergeInto]], so the
 * reference's literal SQL (`iceberg/iceberg_scd_script.py:75-82`,
 * `delta/delta_scd_script.py:88-95`) runs unmodified modulo table names:
 *
 * {{{
 *   val spark = SparkSession.builder()
 *     .withExtensions(new GraftExtensions)  // or spark.sql.extensions=graft.sql.GraftExtensions
 *     ...
 *   GraftCatalog.register("contact", table)
 *   spark.sql("MERGE INTO contact target USING staged source ON ... WHEN MATCHED THEN UPDATE SET *")
 * }}}
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** A metadata-TVF table argument: a filesystem root verbatim, or a
   *  catalog-qualified `<cat>.<ns…>.<name>` when `<cat>` resolves to a
   *  configured [[GraftTableCatalog]] — the SQL metadata surfaces
   *  (`graft_table_changes` / `graft_table_files`) then address tables
   *  exactly like the rest of SQL does, registry-resolved external
   *  tables included. Anything containing '/' is always a path, and a
   *  dotted name whose head is NOT a configured graft catalog is tried
   *  as a path (relative dotted dirs keep working) — but once the head
   *  names a real graft catalog, a missing table surfaces as
   *  NoSuchTableException: silently retrying a typo'd name as a bogus
   *  relative path would bury the actual error. */
  private def resolveTableRef(ref: String): SnapshotTable = {
    val spark = SparkSession.active
    val parts = ref.split('.')
    if (!ref.contains('/') && parts.length >= 2) {
      SparkInternals.catalogPlugin(spark, parts.head) match {
        case Some(cat: GraftTableCatalog) =>
          return cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
            parts.tail.init, parts.last)) match {
            case g: GraftTable => g.table
            case rt: GraftRtTable => rt.table
            case other => throw new IllegalArgumentException(
              s"$ref resolved to unexpected table $other")
          }
        case _ => ()
      }
    }
    SnapshotTable(spark, ref)
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => ResolveGraftMerge)
    // Delta-dialect maintenance statements (VACUUM / OPTIMIZE / DESCRIBE
    // HISTORY / RESTORE / GENERATE) — see [[GraftSqlParser]]
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // answer unfiltered count(*)/min/max from manifest stats, no scan
    ext.injectOptimizerRule(_ => MetadataOnlyAgg)
    // date_trunc / date-cast filters → sargable ranges, so the idiomatic
    // time predicates reach parquet skipping and manifest pruning
    ext.injectOptimizerRule(_ => SargableTimePredicates)
    // `SELECT … FROM graft_table_changes('<root-or-catalog-name>', from[, to])`
    // — the SQL face of [[SnapshotTable.readChanges]] (Delta's
    // `table_changes` TVF); the first argument is a path or a
    // catalog-qualified name ([[resolveTableRef]])
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_table_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GraftExtensions].getName, "graft_table_changes"),
      (args: Seq[Expression]) => {
        def arg(i: Int, what: String): Any = {
          val e = args(i)
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_table_changes: $what must be a literal, got $e")
          e.eval()
        }
        if (args.size < 2 || args.size > 3) throw new IllegalArgumentException(
          "graft_table_changes(tableRoot, fromVersion[, toVersion]) takes 2 or 3 arguments")
        val root = String.valueOf(arg(0, "tableRoot"))
        def asLong(v: Any, what: String): Long = v match {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"graft_table_changes: $what must be an integer, got $other")
        }
        val from = asLong(arg(1, "fromVersion"), "fromVersion")
        val to = if (args.size == 3) asLong(arg(2, "toVersion"), "toVersion")
          else Long.MaxValue
        SparkInternals.logicalPlan(resolveTableRef(root).readChanges(from, to))
      }))
    // `SELECT … FROM graft_table_files('<root>'[, version])` — the SQL
    // face of [[SnapshotTable.filesMetadata]] (Iceberg's `<table>.files`
    // metadata-table role): live files with stats, from commit metadata
    // only
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_table_files"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GraftExtensions].getName, "graft_table_files"),
      (args: Seq[Expression]) => {
        if (args.isEmpty || args.size > 2) throw new IllegalArgumentException(
          "graft_table_files(tableRoot[, version]) takes 1 or 2 arguments")
        def arg(i: Int, what: String): Any = {
          val e = args(i)
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_table_files: $what must be a literal, got $e")
          e.eval()
        }
        val root = String.valueOf(arg(0, "tableRoot"))
        val version = if (args.size == 2) arg(1, "version") match {
          case n: Number => Some(n.longValue())
          case other => throw new IllegalArgumentException(
            s"graft_table_files: version must be an integer, got $other")
        } else None
        SparkInternals.logicalPlan(resolveTableRef(root).filesMetadata(version))
      }))
    // `SELECT … FROM graft_scan_stats('<root>'[, '<predicate sql>'])` —
    // pruning OBSERVABILITY (VERDICT r12 #8): EXPLAIN shows
    // `dynamicpruning` and pushed TopN, but not how many manifest files
    // a predicate actually prunes. This TVF replays the scan's own
    // stats+bloom pruning ([[SnapshotTable.Snapshot.prunedFiles]] — the same
    // code path `build()` runs) against the current snapshot and
    // reports one summary row: files/rows/bytes total vs kept. A user
    // can paste their WHERE clause (or the IN-list a DPP run would
    // deliver) and see the prune without reading a byte of data.
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_scan_stats"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GraftExtensions].getName, "graft_scan_stats"),
      (args: Seq[Expression]) => {
        if (args.isEmpty || args.size > 2) throw new IllegalArgumentException(
          "graft_scan_stats(tableRoot[, predicateSql]) takes 1 or 2 arguments")
        def arg(i: Int, what: String): Any = {
          val e = args(i)
          if (!e.foldable) throw new IllegalArgumentException(
            s"graft_scan_stats: $what must be a literal, got $e")
          e.eval()
        }
        val root = String.valueOf(arg(0, "tableRoot"))
        val predSql = if (args.size == 2) Some(String.valueOf(arg(1, "predicateSql")))
          else None
        val t = resolveTableRef(root)
        val snap = t.readable().getOrElse(throw new IllegalArgumentException(
          s"graft_scan_stats: table $root is empty"))
        val all = snap.files
        // Replay the predicate EXACTLY as the executed scan would see
        // it: OPTIMIZE it against the table's frame, so literal casts
        // fold and the injected [[SargableTimePredicates]] rewrite runs
        // (the analyzer alone leaves `id = CAST(42 AS BIGINT)` unfolded,
        // which the pruner cannot read; and without the rewrite the TVF
        // would report "nothing pruned" for the very date_trunc /
        // date-cast / year() spellings the real query now prunes on).
        // Any shape that does not survive as a Filter (folded-away
        // condition, a plan the optimizer restructured, analysis
        // failure) falls back to the raw expression, whose pruning
        // degrades conservatively like before.
        val pred = predSql.map { sql =>
          val raw = org.apache.spark.sql.functions.expr(sql)
          try {
            t.view(snap).filter(raw).queryExecution.optimizedPlan match {
              case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
                SparkInternals.column(f.condition)
              case _ => raw
            }
          } catch { case scala.util.control.NonFatal(_) => raw }
        }
        val kept = snap.prunedFiles(pred).map(_.path).toSet
        val keptE = all.filter(f => kept.contains(f.path))
        val spark = t.spark
        import spark.implicits._
        // adopted files with unreadable footers carry rows == -1; summing
        // the sentinel would understate totals by 1 per file, so they are
        // excluded from the row sums and surfaced in their own column
        val unknown = all.count(_.rows < 0).toLong
        val df = Seq((snap.version, all.size.toLong, keptE.size.toLong,
            all.map(_.rows).filter(_ >= 0).sum,
            keptE.map(_.rows).filter(_ >= 0).sum,
            all.map(_.bytes).sum, keptE.map(_.bytes).sum,
            unknown, predSql.getOrElse("")))
          .toDF("version", "files_total", "files_kept", "rows_total",
            "rows_kept", "bytes_total", "bytes_kept", "files_unknown_rows",
            "predicate")
        SparkInternals.logicalPlan(df)
      }))
    // Pure-SQL face of the ext expression family — spark.sql users get
    // the same codegen'd kernels as the Column API
    registerExtFunctions(ext)
    // SQL face of the sampling family (graft.ext.Sampling) — TVFs over a
    // resolvable table/view name, graft_table_changes-style
    registerSamplingTableFunctions(ext)
  }

  /**
   * Table-valued SQL forms of the [[graft.ext.Sampling]] operators. Each
   * takes the name of a resolvable table or view (temp view, catalog
   * identifier like `graft.db.t`) as its first literal argument and
   * returns the operator's output relation:
   *
   *  - `graft_cap_per_group('t', groupCol, orderCols, n)` — orderCols is
   *    comma-separated column names, each optionally prefixed `-` for
   *    descending; include a unique id for a total (deterministic) order
   *  - `graft_budget_per_group('t', groupCol, scoreCol, weightCol,
   *    idCol, budget[, buckets])`
   *  - `graft_gumbel_topk('t', idCol, scoreCol, k[, temperature])`
   *  - `graft_epoch_shuffle('t', idCol, epoch[, salt])`
   *
   * Column/size arguments must be literals — they parameterize the plan
   * itself, exactly like the ext scalar functions' seeds.
   */
  private def registerSamplingTableFunctions(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    import org.apache.spark.sql.functions.col

    def lit(args: Seq[Expression], i: Int, name: String): Any = {
      val e = args(i)
      if (!e.foldable) throw new IllegalArgumentException(
        s"$name: argument ${i + 1} must be a literal, got $e")
      e.eval()
    }
    def str(args: Seq[Expression], i: Int, name: String): String =
      lit(args, i, name) match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be a string literal, got $other")
      }
    def num(args: Seq[Expression], i: Int, name: String,
        default: Option[Long] = None): Long =
      if (i >= args.size) default.getOrElse(throw new IllegalArgumentException(
        s"$name: missing argument ${i + 1}"))
      else lit(args, i, name) match {
        case n: Number => n.longValue()
        case other => throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be numeric, got $other")
      }
    def dbl(args: Seq[Expression], i: Int, name: String, default: Double): Double =
      if (i >= args.size) default
      else lit(args, i, name) match {
        case n: Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be numeric, got $other")
      }
    def registerTvf(name: String, minArity: Int, maxArity: Int,
        builder: Seq[Expression] => org.apache.spark.sql.DataFrame): Unit =
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (args: Seq[Expression]) => {
          if (args.size < minArity || args.size > maxArity)
            throw new IllegalArgumentException(
              s"$name takes $minArity to $maxArity arguments, got ${args.size}")
          SparkInternals.logicalPlan(builder(args))
        }))
    def input(args: Seq[Expression], name: String): org.apache.spark.sql.DataFrame =
      SparkSession.active.table(str(args, 0, name))

    registerTvf("graft_cap_per_group", 4, 4, args => {
      val name = "graft_cap_per_group"
      val order = str(args, 2, name).split(",").map(_.trim).filter(_.nonEmpty)
        .map(c => if (c.startsWith("-")) col(c.stripPrefix("-").trim).desc
          else col(c).asc).toSeq
      require(order.nonEmpty, s"$name: orderCols must name at least one column")
      graft.ext.Sampling.capPerGroup(input(args, name), str(args, 1, name),
        order, num(args, 3, name).toInt)
    })
    registerTvf("graft_budget_per_group", 6, 7, args => {
      val name = "graft_budget_per_group"
      graft.ext.Sampling.budgetPerGroup(input(args, name),
        groupCol = str(args, 1, name), scoreCol = str(args, 2, name),
        weightCol = str(args, 3, name), idCol = str(args, 4, name),
        budget = num(args, 5, name),
        buckets = num(args, 6, name, Some(1024L)).toInt)
    })
    registerTvf("graft_gumbel_topk", 4, 5, args => {
      val name = "graft_gumbel_topk"
      graft.ext.Sampling.gumbelTopK(input(args, name),
        idCol = str(args, 1, name), scoreCol = str(args, 2, name),
        k = num(args, 3, name).toInt,
        temperature = dbl(args, 4, name, 1.0))
    })
    registerTvf("graft_epoch_shuffle", 3, 4, args => {
      val name = "graft_epoch_shuffle"
      graft.ext.Sampling.epochShuffle(input(args, name),
        idCol = str(args, 1, name), epoch = num(args, 2, name),
        salt = num(args, 3, name, Some(graft.ext.Sampling.DefaultSalt)))
    })
  }

  /** Register the native ext expressions (fingerprints, shingles,
   *  similarity, sketches, text-quality kernels) and the composite
   *  text-analysis functions as SQL functions, so the SQL-first user has
   *  the whole ext library. Size/seed arguments must be literals — they
   *  parameterize the expression itself. Arity is validated as an exact
   *  range (extra trailing arguments are an error, not silently
   *  ignored), and numeric literals are bounds-checked before narrowing
   *  to Int. */
  private def registerExtFunctions(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

    def litNum(args: Seq[Expression], i: Int, name: String,
        default: Option[Long] = None): Long =
      if (i >= args.size) default.getOrElse(throw new IllegalArgumentException(
        s"$name: missing argument ${i + 1}"))
      else {
        val e = args(i)
        if (!e.foldable) throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be a literal")
        e.eval() match {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"$name: argument ${i + 1} must be numeric, got $other")
        }
      }
    // a Long literal silently truncated by .toInt would turn e.g. a
    // 5_000_000_000 sketch capacity into a wrong (even negative) value
    def litInt(args: Seq[Expression], i: Int, name: String,
        default: Option[Long] = None): Int = {
      val v = litNum(args, i, name, default)
      if (v < Int.MinValue || v > Int.MaxValue) throw new IllegalArgumentException(
        s"$name: argument ${i + 1} value $v is out of Int range")
      v.toInt
    }
    def litStr(args: Seq[Expression], i: Int, name: String): String = {
      val e = args(i)
      if (!e.foldable) throw new IllegalArgumentException(
        s"$name: argument ${i + 1} must be a literal")
      e.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be a string literal, got $other")
      }
    }
    def register(name: String, minArity: Int, maxArity: Int,
        builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (args: Seq[Expression]) => {
          if (args.size < minArity || args.size > maxArity) {
            val want = if (minArity == maxArity) s"exactly $minArity"
              else if (maxArity == Int.MaxValue) s"at least $minArity"
              else s"$minArity to $maxArity"
            throw new IllegalArgumentException(
              s"$name takes $want argument(s), got ${args.size}")
          }
          builder(args)
        }))
    // composite functions: build the Column-API tree over the parsed
    // child expression — SQL users get the identical Catalyst nodes
    import org.apache.spark.sql.graftshim.SparkInternals.{column => asCol, expr => asExpr}
    import graft.ext.TextAnalysis
    def registerText(name: String, f: Column => Column): Unit =
      register(name, 1, 1, args => asExpr(f(asCol(args.head))))

    register("fingerprint64", 1, 1, args => graft.ext.Fingerprint64(args.head))
    register("simhash64", 1, 1, args => graft.ext.SimHash64(args.head))
    register("hashed_shingles", 2, 3, args => graft.ext.HashedShingles(args.head,
      litInt(args, 1, "hashed_shingles"),
      litNum(args, 2, "hashed_shingles", Some(graft.ext.TextHash.DefaultSeed))))
    register("positional_gram_hashes", 2, 3, args => graft.ext.PositionalGramHashes(args.head,
      litInt(args, 1, "positional_gram_hashes"),
      litNum(args, 2, "positional_gram_hashes", Some(graft.ext.TextHash.DefaultSeed))))
    register("minhash_signature", 1, 3, args => graft.ext.MinHashSignature(args.head,
      litInt(args, 1, "minhash_signature", Some(64L)),
      litNum(args, 2, "minhash_signature", Some(graft.ext.TextHash.DefaultSeed))))
    register("cosine_similarity", 2, 2,
      args => graft.ext.CosineSimilarity(args(0), args(1)))
    register("int8_codes", 1, 1, args => graft.ext.Int8Codes(args.head))
    register("int8_cosine", 2, 2,
      args => graft.ext.Int8Cosine(args(0), args(1)))
    register("sorted_intersect_count", 2, 2,
      args => graft.ext.SortedIntersectCount(args(0), args(1)))
    register("hyperplane_bucket", 1, 3, args => graft.ext.HyperplaneBucket(args.head,
      litInt(args, 1, "hyperplane_bucket", Some(16L)),
      litNum(args, 2, "hyperplane_bucket", Some(graft.ext.TextHash.DefaultSeed))))
    register("punct_count", 1, 1, args => graft.ext.PunctCount(args.head))
    register("space_token_count", 1, 1, args => graft.ext.SpaceTokenCount(args.head))
    // stopword_hits(text, 'w1', 'w2', …): the word list parameterizes the
    // kernel's byte table, so each word must be a string literal
    register("stopword_hits", 2, Int.MaxValue, args => graft.ext.StopwordHits(args.head,
      args.indices.drop(1).map(i => litStr(args, i, "stopword_hits"))))
    // bare AggregateFunction: the analyzer wraps it in AggregateExpression
    register("kmv_distinct", 1, 2, args => graft.ext.KmvDistinct(args.head,
      litInt(args, 1, "kmv_distinct", Some(4096L))))
    register("approx_top_items", 1, 3, args => graft.ext.ApproxTopItems(args.head,
      litInt(args, 1, "approx_top_items", Some(4096L)),
      litInt(args, 2, "approx_top_items", Some(10L))))
    // persistable sketch states (store / rollup / serve — the
    // pre-aggregated-cube flow, q95)
    register("kmv_state", 1, 2, args => graft.ext.KmvState(args.head,
      litInt(args, 1, "kmv_state", Some(4096L))))
    register("kmv_merge", 1, 2, args => graft.ext.KmvMergeDistinct(args.head,
      litInt(args, 1, "kmv_merge", Some(4096L))))
    register("kmv_merge_state", 1, 2, args => graft.ext.KmvMergeState(args.head,
      litInt(args, 1, "kmv_merge_state", Some(4096L))))
    register("top_items_state", 1, 2, args => graft.ext.TopItemsState(args.head,
      litInt(args, 1, "top_items_state", Some(4096L))))
    register("top_items_merge", 1, 3, args => graft.ext.TopItemsMerge(args.head,
      litInt(args, 1, "top_items_merge", Some(4096L)),
      litInt(args, 2, "top_items_merge", Some(10L))))
    // quantile sketch family: quantile_sketch(x, q[, k]) mirrors
    // percentile(x, q)'s argument order
    def litDouble(args: Seq[Expression], i: Int, name: String): Double = {
      if (i >= args.size) throw new IllegalArgumentException(
        s"$name: missing argument ${i + 1}")
      val e = args(i)
      if (!e.foldable) throw new IllegalArgumentException(
        s"$name: argument ${i + 1} must be a literal")
      e.eval() match {
        case n: Number => n.doubleValue()
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case other => throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be numeric, got $other")
      }
    }
    register("quantile_sketch", 2, 3, args => graft.ext.QuantileSketchAgg(args.head,
      litInt(args, 2, "quantile_sketch", Some(4096L)),
      litDouble(args, 1, "quantile_sketch")))
    register("quantile_state", 1, 2, args => graft.ext.QuantileState(args.head,
      litInt(args, 1, "quantile_state", Some(4096L))))
    register("quantile_merge", 2, 3, args => graft.ext.QuantileMergeQuantile(args.head,
      litInt(args, 2, "quantile_merge", Some(4096L)),
      litDouble(args, 1, "quantile_merge")))
    register("quantile_merge_state", 1, 2, args => graft.ext.QuantileMergeState(args.head,
      litInt(args, 1, "quantile_merge_state", Some(4096L))))
    // multi-quantile faces: the q list arrives as a foldable array literal
    def litDoubleArray(args: Seq[Expression], i: Int, name: String): Seq[Double] = {
      if (i >= args.size) throw new IllegalArgumentException(
        s"$name: missing argument ${i + 1}")
      val e = args(i)
      if (!e.foldable) throw new IllegalArgumentException(
        s"$name: argument ${i + 1} must be an array literal")
      e.eval() match {
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          a.toObjectArray(org.apache.spark.sql.types.DoubleType).toSeq.map {
            case n: Number => n.doubleValue()
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case other => throw new IllegalArgumentException(
              s"$name: non-numeric quantile $other")
          }
        case other => throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be an array literal, got $other")
      }
    }
    register("quantile_sketch_multi", 2, 3, args => graft.ext.QuantileSketchMultiAgg(
      args.head,
      litInt(args, 2, "quantile_sketch_multi", Some(4096L)),
      litDoubleArray(args, 1, "quantile_sketch_multi")))
    register("quantile_merge_multi", 2, 3, args => graft.ext.QuantileMergeMulti(
      args.head,
      litInt(args, 2, "quantile_merge_multi", Some(4096L)),
      litDoubleArray(args, 1, "quantile_merge_multi")))
    // text-analysis composites (SURVEY §7.5 north star, one per
    // TextAnalysis entry point)
    registerText("token_count", TextAnalysis.tokenCount)
    registerText("bpe_token_count", TextAnalysis.bpeTokenCount)
    registerText("avg_token_length", TextAnalysis.avgTokenLength)
    registerText("punct_ratio", TextAnalysis.punctRatio)
    registerText("quality_score", TextAnalysis.qualityScore)
    registerText("lang_id", TextAnalysis.langId)
    registerText("normalize_text", TextAnalysis.normalize)
    registerText("scrub_pii", TextAnalysis.scrubPii)
    register("stopword_ratio", 1, Int.MaxValue, args => asExpr(
      if (args.size == 1) TextAnalysis.stopwordRatio(asCol(args.head))
      else TextAnalysis.stopwordRatio(asCol(args.head),
        args.indices.drop(1).map(i => litStr(args, i, "stopword_ratio")))))
    register("repetition_ratio", 1, 2, args => asExpr(
      TextAnalysis.repetitionRatio(asCol(args.head),
        litInt(args, 1, "repetition_ratio", Some(3L)))))
    register("chunk_tokens", 3, 3, args => asExpr(
      TextAnalysis.chunks(asCol(args.head),
        litInt(args, 1, "chunk_tokens"), litInt(args, 2, "chunk_tokens"))))
    register("random_projection", 2, 3, args => asExpr(
      graft.ext.Similarity.randomProjection(asCol(args.head),
        litInt(args, 1, "random_projection"),
        litNum(args, 2, "random_projection", Some(graft.ext.Sampling.DefaultSalt)))))
  }
}

object ResolveGraftMerge extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case m: MergeIntoTable if m.childrenResolved =>
      targetSnapshot(m.targetTable) match {
        case Some(table) => GraftMergeCommand(table, m)
        case None => m
      }
    // `UPDATE t SET … WHERE …` — vanilla Spark parses it but cannot plan
    // it for parquet-backed relations (the same hole as MERGE, filled by
    // the Delta/Iceberg extension jars in the reference); dispatch to the
    // table layer's touched-file CoW rewrite (SnapshotTable.update).
    case u: UpdateTable if u.childrenResolved =>
      targetSnapshot(u.table) match {
        case Some(table) => GraftUpdateCommand(table, u)
        case None => u
      }
    // `DELETE FROM t WHERE …` — the DSv2 relation path only plans through
    // SupportsDelete when the condition converts to pushable v1 Filters;
    // this covers registered views and arbitrary row-level predicates via
    // the table layer's touched-file CoW rewrite (SnapshotTable.delete).
    case d: DeleteFromTable if d.childrenResolved =>
      targetSnapshot(d.table) match {
        case Some(table) => GraftDeleteCommand(table, d)
        case None => d
      }
  }

  /** The snapshot table behind the MERGE target: a [[GraftCatalog]]
   *  registered view name, or a [[GraftTableCatalog]] DSv2 relation. */
  private def targetSnapshot(plan: LogicalPlan): Option[SnapshotTable] = plan match {
    case SubqueryAlias(_, child) => targetSnapshot(child)
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table match {
        case g: GraftTable => Some(g.table)
        case _ => None
      }
    case v: View => GraftCatalog.get(v.desc.identifier.table)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
      GraftCatalog.get(u.multipartIdentifier.last)
    case p if p.children.size == 1 => targetSnapshot(p.children.head)
    case _ => None
  }
}

/**
 * Runnable translation of a parsed+resolved [[MergeIntoTable]] onto
 * [[graft.ops.MergeInto]]. Expressions are re-anchored onto the API's
 * `t`/`s` aliases: resolved attributes by side membership, unresolved
 * ones by their SQL alias prefix.
 */
case class GraftMergeCommand(table: SnapshotTable, merge: MergeIntoTable)
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val sourceDf = SparkInternals.ofRows(spark, stripTopAlias(merge.sourceTable))
    val tAttrs = AttributeSet(merge.targetTable.output)
    val sAttrs = AttributeSet(merge.sourceTable.output)
    val tAlias = topAlias(merge.targetTable)
    val sAlias = topAlias(merge.sourceTable)

    def reAnchor(e: Expression): Column = SparkInternals.column(e.transform {
      case a: Attribute if tAttrs.contains(a) => UnresolvedAttribute(Seq("t", a.name))
      case a: Attribute if sAttrs.contains(a) => UnresolvedAttribute(Seq("s", a.name))
      case u: UnresolvedAttribute if u.nameParts.length > 1 && tAlias.contains(u.nameParts.head) =>
        UnresolvedAttribute("t" +: u.nameParts.tail)
      case u: UnresolvedAttribute if u.nameParts.length > 1 && sAlias.contains(u.nameParts.head) =>
        UnresolvedAttribute("s" +: u.nameParts.tail)
    })

    def keyName(key: Expression): String = key match {
      // UnresolvedAttribute IS an Attribute — match it first, else a
      // qualified key like `target.checksum` would keep its qualifier
      case u: UnresolvedAttribute => u.nameParts.last
      case attr: Attribute => attr.name
      case other => throw new IllegalArgumentException(
        s"unsupported assignment key: $other")
    }

    def assignmentMap(assignments: Seq[Assignment]): Map[String, Column] =
      assignments.map(a => keyName(a.key) -> reAnchor(a.value)).toMap

    // Spark's analyzer expands `UPDATE SET *` / `INSERT *` into explicit
    // per-column assignments against the PRE-evolution target schema before
    // this command is built, which would drop the evolved columns. UPDATE
    // keeps its provenance (`UpdateAction.fromStar`); INSERT does not, so a
    // star is recognized by its expansion shape — every committed target
    // column assigned from the same-named source attribute. (A hand-written
    // clause of exactly that shape is semantically identical to a star for
    // the committed schema, so upgrading it only matters — and is the
    // expected reading — under WITH SCHEMA EVOLUTION.)
    val committedCols = table.schema.fieldNames.map(_.toLowerCase).toSet
    def starShaped(assigns: Seq[Assignment]): Boolean =
      assigns.map(a => keyName(a.key).toLowerCase).toSet == committedCols &&
        assigns.forall { a =>
          a.value match {
            case attr: Attribute if !(attr.isInstanceOf[UnresolvedAttribute]) =>
              sAttrs.contains(attr) && attr.name.equalsIgnoreCase(keyName(a.key))
            case _ => false
          }
        }

    var m: MergeInto = table.merge(sourceDf, reAnchor(merge.mergeCondition))
    // `MERGE WITH SCHEMA EVOLUTION INTO …` (Spark 4 parser flag)
    if (merge.withSchemaEvolution) m = m.withSchemaEvolution()

    def applyAction(kind: String, action: MergeAction): Unit = {
      val cond = action.condition.map(reAnchor)
      (kind, action) match {
        case ("matched", UpdateStarAction(_)) =>
          m = cond.map(m.whenMatched).getOrElse(m.whenMatched()).updateAll()
        case ("matched", UpdateAction(_, assigns, fromStar))
            if merge.withSchemaEvolution && (fromStar || starShaped(assigns)) =>
          m = cond.map(m.whenMatched).getOrElse(m.whenMatched()).updateAll()
        case ("matched", UpdateAction(_, assigns, _)) =>
          m = cond.map(m.whenMatched).getOrElse(m.whenMatched()).update(assignmentMap(assigns))
        case ("matched", DeleteAction(_)) =>
          m = cond.map(m.whenMatched).getOrElse(m.whenMatched()).delete()
        case ("notMatched", InsertStarAction(_)) =>
          m = cond.map(m.whenNotMatched).getOrElse(m.whenNotMatched()).insertAll()
        case ("notMatched", InsertAction(_, assigns))
            if merge.withSchemaEvolution && starShaped(assigns) =>
          m = cond.map(m.whenNotMatched).getOrElse(m.whenNotMatched()).insertAll()
        case ("notMatched", InsertAction(_, assigns)) =>
          m = cond.map(m.whenNotMatched).getOrElse(m.whenNotMatched()).insert(assignmentMap(assigns))
        case ("notMatchedBySource", UpdateAction(_, assigns, _)) =>
          m = cond.map(m.whenNotMatchedBySource).getOrElse(m.whenNotMatchedBySource())
            .update(assignmentMap(assigns))
        case ("notMatchedBySource", DeleteAction(_)) =>
          m = cond.map(m.whenNotMatchedBySource).getOrElse(m.whenNotMatchedBySource()).delete()
        case (k, other) => throw new IllegalArgumentException(
          s"unsupported MERGE action for $k: $other")
      }
    }

    merge.matchedActions.foreach(applyAction("matched", _))
    merge.notMatchedActions.foreach(applyAction("notMatched", _))
    merge.notMatchedBySourceActions.foreach(applyAction("notMatchedBySource", _))
    m.execute()
    Nil
  }

  private def topAlias(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(ident, _) => Some(ident.name)
    case _ => None
  }

  /** Drop the outer SQL alias so the API's own `s` alias binds cleanly. */
  private def stripTopAlias(plan: LogicalPlan): LogicalPlan = plan match {
    case SubqueryAlias(_, child) => child
    case other => other
  }
}

/** Re-anchoring shared by the UPDATE and DELETE commands: conditions and
 *  assignment values run against the table's own frame, so attributes must
 *  lose their statement-side qualifiers — but ONLY qualifiers naming the
 *  target. A foreign qualifier (`staged.id` pasted from a MERGE) is a bug
 *  in the statement and must fail loudly, never silently resolve to a
 *  same-named target column. Struct paths under a target qualifier
 *  (`t.meta.field`) keep their field path. */
private[sql] object TargetAnchor {

  /** The target's alias (`UPDATE t AS x …`) or bare table name — the only
   *  qualifiers a statement may use for target columns. */
  def targetNames(plan: LogicalPlan): Set[String] = plan match {
    case SubqueryAlias(ident, child) => targetNames(child) + ident.name.toLowerCase
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.identifier.map(_.name.toLowerCase).toSet
    case v: View => Set(v.desc.identifier.table.toLowerCase)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
      Set(u.multipartIdentifier.last.toLowerCase)
    case p if p.children.size == 1 => targetNames(p.children.head)
    case _ => Set.empty
  }

  def reAnchor(
      e: Expression,
      names: Set[String],
      fields: Set[String],
      stmt: String): Column = SparkInternals.column(e.transform {
    case u: UnresolvedAttribute =>
      val parts = u.nameParts
      val stripped =
        if (parts.length >= 2 && names.contains(parts.head.toLowerCase)) parts.tail
        else if (parts.length >= 3 && names.contains(parts(1).toLowerCase)) parts.drop(2)
        else parts
      if (fields.contains(stripped.head.toLowerCase)) UnresolvedAttribute(stripped)
      else throw new IllegalArgumentException(
        s"$stmt references ${parts.mkString(".")}: only target columns " +
          "(optionally qualified by the target table/alias) are allowed")
    case a: Attribute => UnresolvedAttribute(Seq(a.name))
  })
}

/**
 * Runnable translation of a parsed+resolved [[UpdateTable]] onto
 * [[SnapshotTable.update]] (touched-file copy-on-write rewrite).
 * Assignment values and the condition may reference target columns only
 * (subqueries in UPDATE are not supported); attributes are re-anchored
 * onto the table's own frame via [[TargetAnchor]].
 */
case class GraftUpdateCommand(table: SnapshotTable, update: UpdateTable)
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val targetNames = TargetAnchor.targetNames(update.table)
    val fields = table.schema.fieldNames.map(_.toLowerCase).toSet
    def reAnchor(e: Expression): Column =
      TargetAnchor.reAnchor(e, targetNames, fields, "UPDATE")
    // struct-typed column names of the target: a key path through one of
    // these is a struct-FIELD update (unsupported) and must never be
    // silently resolved to a same-named top-level column
    val structCols: Set[String] = table.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
        f.name.toLowerCase
    }.toSet
    val assigns = update.assignments.map { a =>
      val name = a.key match {
        case u: UnresolvedAttribute if u.nameParts.length == 1 => u.nameParts.head
        // qualified key: the name part directly before the column must be
        // the target table/alias (covers t.col and db.t.col) and must NOT
        // name a struct column (that would be a struct path, not a
        // qualifier); at most one extra leading part (the database)
        case u: UnresolvedAttribute if u.nameParts.length >= 2 && u.nameParts.length <= 3 &&
            targetNames.contains(u.nameParts.init.last.toLowerCase) &&
            !structCols.contains(u.nameParts.init.last.toLowerCase) => u.nameParts.last
        case u: UnresolvedAttribute => throw new IllegalArgumentException(
          s"unsupported UPDATE assignment key ${u.nameParts.mkString(".")}: " +
            "only target columns (optionally qualified by the target table/alias) " +
            "can be assigned; struct-field updates are not supported")
        case attr: Attribute => attr.name
        case other => throw new IllegalArgumentException(
          s"unsupported UPDATE assignment key: $other")
      }
      name -> reAnchor(a.value)
    }.toMap
    val cond = update.condition.map(reAnchor)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    table.update(cond, assigns)
    Nil
  }
}

/** Runnable translation of a parsed+resolved [[DeleteFromTable]] onto
 *  [[SnapshotTable.delete]] (touched-file copy-on-write rewrite). The
 *  condition may reference target columns only (subqueries are not
 *  supported); attributes are re-anchored via [[TargetAnchor]] — a
 *  foreign qualifier fails instead of silently deleting rows. */
case class GraftDeleteCommand(table: SnapshotTable, delete: DeleteFromTable)
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val cond = TargetAnchor.reAnchor(delete.condition,
      TargetAnchor.targetNames(delete.table),
      table.schema.fieldNames.map(_.toLowerCase).toSet, "DELETE")
    table.delete(cond)
    Nil
  }
}
