package graft.sql

import graft.SparkSpec
import graft.tables.SnapshotTable

/** The Delta-dialect maintenance SQL surface ([[GraftSqlParser]]):
 *  VACUUM / OPTIMIZE [ZORDER BY] / DESCRIBE HISTORY / RESTORE /
 *  GENERATE symlink_format_manifest, plus delegate fallthrough. */
class MaintenanceSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshRegistered(name: String): SnapshotTable = {
    val t = SnapshotTable.create(spark, tmpDir("sqlmaint"),
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "payload"))
    GraftCatalog.register(name, t)
  }

  test("REORG TABLE APPLY (PURGE) folds deletion vectors via SQL") {
    val t = SnapshotTable.create(spark, tmpDir("sqlreorg"),
      spark.range(0, 100).toDF("id").withColumn("payload", org.apache.spark.sql.functions.lit("x")))
    GraftCatalog.register("maint_reorg", t)
    t.setProperties(Map("graft.dv.enabled" -> "true"))
    t.delete(org.apache.spark.sql.functions.col("id") === 7)
    assert(t.dvManifest().nonEmpty)
    val r = spark.sql("REORG TABLE maint_reorg APPLY (PURGE)").collect().head
    assert(r.getString(1) === "purge-dv" && r.getInt(2) > 0)
    assert(t.dvManifest().isEmpty)
    assert(t.read().count() === 99)
    // idempotent; malformed forms fall through to Spark's parser
    assert(spark.sql("REORG TABLE maint_reorg APPLY (PURGE)").collect().head.getInt(2) === 0)
    intercept[Exception](spark.sql("REORG TABLE maint_reorg APPLY PURGE").collect())
  }

  test("COPY INTO loads staging files exactly once across re-runs") {
    import org.apache.spark.sql.functions.col
    val t = freshRegistered("maint_copy")
    val staging = tmpDir("copy_staging")
    // two staged files (separate writes → separate names)
    Seq((10, "s1")).toDF("id", "payload").coalesce(1)
      .write.mode("append").parquet(staging)
    Seq((11, "s2")).toDF("id", "payload").coalesce(1)
      .write.mode("append").parquet(staging)
    val r1 = spark.sql(s"COPY INTO maint_copy FROM '$staging'").collect().head
    assert(r1.getInt(1) === 2 && r1.getLong(2) === 2L)
    assert(t.read().count() === 5)
    // re-run: recorded no-op — nothing double-loads
    val r2 = spark.sql(s"COPY INTO maint_copy FROM '$staging'").collect().head
    assert(r2.getInt(1) === 0 && r2.getLong(2) === 0L)
    assert(t.read().count() === 5)
    // a NEW staged file loads alone on the next run
    Seq((12, "s3")).toDF("id", "payload").coalesce(1)
      .write.mode("append").parquet(staging)
    val r3 = spark.sql(s"COPY INTO maint_copy FROM '$staging'").collect().head
    assert(r3.getInt(1) === 1 && r3.getLong(2) === 1L)
    assert(t.read().filter(col("id") >= 10).count() === 3)
    // the registry survives unrelated commits (properties carry forward)
    t.append(Seq((20, "x")).toDF("id", "payload"))
    assert(spark.sql(s"COPY INTO maint_copy FROM '$staging'").collect().head.getInt(1) === 0)
    // hidden/_ files (parquet _SUCCESS markers) were never counted as data
    assert(t.read().count() === 7)
  }

  test("DESCRIBE HISTORY lists commits newest first") {
    val t = freshRegistered("maint_hist")
    t.append(Seq((4, "d")).toDF("id", "payload"))
    val rows = spark.sql("DESCRIBE HISTORY maint_hist").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 0L))
    assert(rows.map(_.getString(1)).toSeq === Seq("append", "overwrite"))
    assert(rows.forall(!_.isNullAt(2))) // every commit is ts-stamped
    assert(rows.head.getInt(3) > 0)
  }

  test("DESCRIBE DETAIL reports table-level facts from the manifest") {
    val t = freshRegistered("maint_det")
    t.setProperties(Map("graft.note" -> "x"))
    val r = spark.sql("DESCRIBE DETAIL maint_det").collect().head
    assert(r.getString(0) === t.root)
    assert(r.getLong(1) === t.currentVersion())
    assert(r.getInt(2) === t.manifest().size)
    assert(r.getLong(3) > 0L)
    assert(r.getInt(4) === 0)
    assert(r.getString(6).contains("graft.note=x"))
  }

  test("VACUUM RETAIN 0 HOURS expires old versions and reclaims their files") {
    val t = freshRegistered("maint_vac")
    val beforeFiles = t.manifest().toSet
    t.overwrite(Seq((9, "z")).toDF("id", "payload"))
    Thread.sleep(20) // commit ts strictly inside the zero-hour window
    // DRY RUN first: lists exactly the files real vacuum would reclaim,
    // deletes and expires NOTHING
    val would = spark.sql("VACUUM maint_vac RETAIN 0 HOURS DRY RUN").collect()
      .map(_.getString(0)).toSet
    assert(would === beforeFiles, s"dry run must list v0's files: $would")
    assert(beforeFiles.forall(p => new java.io.File(p).exists()),
      "dry run must not delete")
    assert(t.currentVersion() === 1)
    val out = spark.sql("VACUUM maint_vac RETAIN 0 HOURS").collect().head
    assert(out.getString(0) === t.root)
    assert(out.getLong(1) >= 1, "v0's files must be reclaimed")
    // current version intact; the overwritten version is gone
    assert(t.read().as[(Int, String)].collect().toSet === Set((9, "z")))
    val dead = beforeFiles.map(p => new java.io.File(p)).filter(_.exists())
    assert(dead.isEmpty, s"expected v0 data deleted, still present: $dead")
    intercept[Exception](t.readVersion(0).collect())
  }

  test("OPTIMIZE bin-packs small files without changing content") {
    val t = freshRegistered("maint_opt")
    t.append(Seq((4, "d"), (5, "e")).toDF("id", "payload"))
    t.append(Seq((6, "f")).toDF("id", "payload"))
    val before = t.read().as[(Int, String)].collect().toSet
    val filesBefore = t.manifest().size
    val out = spark.sql("OPTIMIZE maint_opt").collect().head
    assert(out.getString(1) === "compact")
    assert(out.getInt(2) === filesBefore) // every test file is "small"
    assert(t.manifest().size < filesBefore)
    assert(t.read().as[(Int, String)].collect().toSet === before)
  }

  test("OPTIMIZE WHERE compacts only stats-matching files") {
    val t = SnapshotTable.create(spark, tmpDir("sqlmaint_scope"),
      Seq((1, "a")).toDF("id", "payload"))
    GraftCatalog.register("maint_scope", t)
    t.append(Seq((2, "b")).toDF("id", "payload"))     // small, id=2
    t.append(Seq((100, "x")).toDF("id", "payload"))   // small, id=100
    t.append(Seq((101, "y")).toDF("id", "payload"))   // small, id=101
    val before = t.read().as[(Int, String)].collect().toSet
    val out = spark.sql("OPTIMIZE maint_scope WHERE id >= 100").collect().head
    // only the two id>=100 files rewrite; id=1 and id=2 files untouched
    assert(out.getString(1) === "compact where id >= 100")
    assert(out.getInt(2) === 2)
    assert(t.read().as[(Int, String)].collect().toSet === before)
    assert(t.manifest().size === 3)
    // WHERE + ZORDER BY is rejected loudly
    val e = intercept[Exception](
      spark.sql("OPTIMIZE maint_scope WHERE id >= 100 ZORDER BY (id, payload)"))
    assert(e.getMessage.contains("not supported"))
    // a typo'd scope column fails loudly instead of compacting everything
    val typo = intercept[Exception](
      spark.sql("OPTIMIZE maint_scope WHERE idd >= 100").collect())
    assert(typo.getMessage.contains("unknown column"))
    // 'ZORDER BY' inside a string literal stays part of the predicate
    val quoted = spark.sql(
      "OPTIMIZE maint_scope WHERE payload = 'a ZORDER BY b'").collect().head
    assert(quoted.getString(1).contains("compact where"))
    assert(quoted.getInt(2) === 0) // nothing matches; nothing rewritten
    // …and so do double-quoted literals and backtick-quoted identifiers
    // (Spark SQL accepts all three quoting forms)
    val dquoted = spark.sql(
      """OPTIMIZE maint_scope WHERE payload = "a ZORDER BY b"""").collect().head
    assert(dquoted.getString(1).contains("compact where"))
    assert(dquoted.getInt(2) === 0)
    val bquoted = spark.sql(
      "OPTIMIZE maint_scope WHERE `payload` = 'x'").collect().head
    assert(bquoted.getString(1).contains("compact where"))
    assert(bquoted.getInt(2) === 0)
    // a backslash-escaped quote does NOT close the literal (Spark's
    // default string-literal escaping) — the scanner must not split on
    // the ZORDER BY that follows it inside the string
    val escq = spark.sql(
      "OPTIMIZE maint_scope WHERE payload = 'it\\'s ZORDER BY b'").collect().head
    assert(escq.getString(1).contains("compact where"))
    assert(escq.getInt(2) === 0)
    val escd = spark.sql(
      "OPTIMIZE maint_scope WHERE payload = \"a \\\" ZORDER BY b\"").collect().head
    assert(escd.getString(1).contains("compact where"))
    assert(escd.getInt(2) === 0)
  }

  test("OPTIMIZE ZORDER BY rewrites one z-clustered commit") {
    val t = SnapshotTable.create(spark, tmpDir("sqlmaint"),
      (1 to 40).map(i => (i, i * 7 % 40)).toDF("x", "y"))
    GraftCatalog.register("maint_zo", t)
    val before = t.read().as[(Int, Int)].collect().toSet
    spark.sql("OPTIMIZE maint_zo ZORDER BY (x, y)")
    assert(t.read().as[(Int, Int)].collect().toSet === before)
    assert(t.history().head.action === "optimize-zorder")
  }

  test("RESTORE TABLE TO VERSION AS OF re-references old files in a new commit") {
    val t = freshRegistered("maint_rest")
    val v0 = t.read().as[(Int, String)].collect().toSet
    t.overwrite(Seq((9, "z")).toDF("id", "payload"))
    val out = spark.sql("RESTORE TABLE maint_rest TO VERSION AS OF 0").collect().head
    assert(out.getLong(1) === 0L)
    assert(out.getLong(2) === 2L) // restore is commit v2, nothing erased
    assert(t.read().as[(Int, String)].collect().toSet === v0)
    assert(t.readVersion(1).as[(Int, String)].collect().toSet === Set((9, "z")))
  }

  test("RESTORE TO TIMESTAMP AS OF resolves through versionAsOf") {
    val t = freshRegistered("maint_restts")
    val v0 = t.read().as[(Int, String)].collect().toSet
    val afterV0 = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20)
    t.overwrite(Seq((9, "z")).toDF("id", "payload"))
    spark.sql(s"RESTORE maint_restts TO TIMESTAMP AS OF '$afterV0'")
    assert(t.read().as[(Int, String)].collect().toSet === v0)
  }

  test("GENERATE symlink_format_manifest publishes the current file list") {
    val t = freshRegistered("maint_gen")
    val path =
      spark.sql("GENERATE symlink_format_manifest FOR TABLE maint_gen")
        .collect().head.getString(0)
    val published = scala.io.Source.fromFile(path).getLines().toSeq
    assert(published.toSet === t.manifest().toSet)
  }

  test("maintenance SQL resolves qualified names through the graft catalog") {
    spark.sql("CREATE TABLE graft.maintns.sqlt (id INT, payload STRING) USING parquet")
    spark.sql("INSERT INTO graft.maintns.sqlt VALUES (1, 'a'), (2, 'b')")
    val rows = spark.sql("DESCRIBE HISTORY graft.maintns.sqlt").collect()
    assert(rows.nonEmpty && rows.last.getString(1) === "create")
  }

  test("CREATE TABLE … SHALLOW CLONE: registry target with LOCATION") {
    val t = freshRegistered("clone_src")
    t.append(Seq((4, "d")).toDF("id", "payload"))
    val dst = tmpDir("sqlclone")
    val root = spark.sql(
      s"CREATE TABLE clone_tgt SHALLOW CLONE clone_src LOCATION '$dst'")
      .collect().head.getString(0)
    assert(root === dst)
    // clone is registered and readable; content matches the source
    assert(spark.sql("SELECT count(*) FROM clone_tgt").collect().head.getLong(0) === 4L)
    // clone evolves independently of the source
    GraftCatalog.get("clone_tgt").get.append(Seq((5, "e")).toDF("id", "payload"))
    assert(GraftCatalog.get("clone_tgt").get.read().count() === 5L)
    assert(t.read().count() === 4L)
    // a bare-name target without LOCATION fails loudly
    val e = intercept[Exception](
      spark.sql("CREATE TABLE clone_nowhere SHALLOW CLONE clone_src").collect())
    assert(e.getMessage.contains("LOCATION"))
  }

  test("CREATE TABLE … SHALLOW CLONE: version-pinned, catalog-qualified target") {
    val t = freshRegistered("clone_vsrc")          // v0: 3 rows
    t.append(Seq((4, "d")).toDF("id", "payload"))  // v1: 4 rows
    spark.sql(
      "CREATE TABLE graft.clonens.pinned SHALLOW CLONE clone_vsrc VERSION AS OF 0")
    // the DSv2 catalog loads the clone directly at the pinned snapshot
    assert(spark.sql("SELECT count(*) FROM graft.clonens.pinned")
      .collect().head.getLong(0) === 3L)
  }

  test("non-maintenance SQL falls through to the vanilla parser") {
    assert(spark.sql("SELECT 1 + 1 AS two").collect().head.getInt(0) === 2)
    // vanilla DESCRIBE of a table that happens to exist still works
    freshRegistered("maint_fall")
    assert(spark.sql("DESCRIBE maint_fall").collect().nonEmpty)
  }

  test("CONVERT TO GRAFT adopts a plain parquet dir in place") {
    val dir = tmpDir("convsrc")
    (1 to 500).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val out = spark.sql(s"CONVERT TO GRAFT parquet.`$dir`").collect().head
    assert(out.getInt(1) === 3)
    val t = SnapshotTable(spark, dir)
    assert(t.currentVersion() === 0L)
    assert(t.history().head.action === "convert")
    assert(t.read().count() === 500)
    // footer stats were harvested: a point lookup prunes to ≤ live files
    assert(t.scan(org.apache.spark.sql.functions.col("id") === 77).count() === 1)
    // the table is writable after conversion (new files under data/)
    t.append(Seq((501, "x")).toDF("id", "payload"))
    assert(t.read().count() === 501)
    // double-convert and partitioned layouts are refused
    intercept[IllegalArgumentException](SnapshotTable.convert(spark, dir))
    val part = tmpDir("convpart")
    Seq((1, "a"), (2, "b")).toDF("id", "p").write
      .partitionBy("p").mode("overwrite").parquet(part)
    intercept[IllegalArgumentException](SnapshotTable.convert(spark, part))
    // nested non-partition subdirs would be silently dropped — refused too
    val nested = tmpDir("convnest")
    Seq((1, "a")).toDF("id", "p").write.mode("overwrite").parquet(nested)
    Seq((2, "b")).toDF("id", "p").write.mode("overwrite").parquet(s"$nested/batch_1")
    val e = intercept[IllegalArgumentException](SnapshotTable.convert(spark, nested))
    assert(e.getMessage.contains("batch_1"))
  }

  test("CONVERT normalizes TIMESTAMP_MILLIS footer stats to micros") {
    val dir = tmpDir("convmillis")
    val tsKey = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(tsKey, "TIMESTAMP_MILLIS")
    try {
      (1 to 100).map(i =>
          (i, java.sql.Timestamp.valueOf(f"2024-05-${i % 28 + 1}%02d 08:00:00")))
        .toDF("id", "ts").repartition(2).write.mode("overwrite").parquet(dir)
    } finally spark.conf.unset(tsKey)
    val t = SnapshotTable.convert(spark, dir)
    // un-normalized millis bounds would compare 1000x below micros
    // literals and falsely prune every file
    val cutoff = java.sql.Timestamp.valueOf("2024-05-28 08:00:00")
    val scanned = t.scan(org.apache.spark.sql.functions.col("ts") === cutoff).count()
    assert(scanned > 0 &&
      scanned === t.read().filter(org.apache.spark.sql.functions.col("ts") === cutoff).count())
  }

  test("graft_table_files TVF lists live files with stats from commit metadata") {
    import org.apache.spark.sql.functions.col
    val t = SnapshotTable.create(spark, tmpDir("sqlfiles"),
      Seq((1, "a"), (2, "b")).toDF("id", "payload"))
    val beforeAppend = t.manifest().toSet
    t.append(Seq((9, "z")).toDF("id", "payload"))
    val rows = spark.sql(
      s"SELECT path, rows, bytes, stats, bloom_columns FROM graft_table_files('${t.root}')")
      .collect()
    assert(rows.length === t.manifestEntries().size)
    assert(rows.map(_.getString(0)).toSet === t.manifest().toSet)
    assert(rows.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0))
    // per-column stats carry the id bounds the pruner uses
    val statsOfAppend = rows.find(r => !beforeAppend.contains(r.getString(0))).get
      .getMap[String, org.apache.spark.sql.Row](3)
    assert(statsOfAppend("id").getString(0) === "9")
    assert(statsOfAppend("id").getString(1) === "9")
    // version arg pins the pre-append snapshot
    assert(spark.sql(s"SELECT * FROM graft_table_files('${t.root}', 0)").count()
      === t.filesMetadata(Some(0L)).count())
    assert(spark.sql(s"SELECT * FROM graft_table_files('${t.root}', 0)").count()
      < rows.length)
    // no blooms configured → empty bloom_columns everywhere
    assert(rows.forall(_.getSeq[String](4).isEmpty))
    val dfApi = t.filesMetadata().orderBy(col("path")).collect()
    assert(dfApi.map(_.getString(0)).toSet === t.manifest().toSet)
    // unrouted files report bucket -1; an identity-routed bucket layout
    // surfaces its per-file ids (the SPJ layout made observable)
    assert(spark.sql(s"SELECT bucket FROM graft_table_files('${t.root}')")
      .as[Long].collect().forall(_ === -1L))
    val bt = SnapshotTable.create(spark, tmpDir("sqlfiles_b"),
      spark.range(0, 200).toDF("id").limit(1))
    bt.setClusterSpec(Seq("bucket(4, id)"))
    bt.overwrite(spark.range(0, 200).toDF("id"))
    val buckets = spark.sql(
      s"SELECT DISTINCT bucket FROM graft_table_files('${bt.root}')")
      .as[Long].collect()
    assert(buckets.nonEmpty && buckets.forall(b => b >= 0 && b < 4), buckets.toSeq)
  }

  test("graft_table_changes TVF surfaces the change feed in SQL") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = SnapshotTable.create(spark, tmpDir("sqlcdf"),
      Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.setProperties(Map("graft.cdf.keys" -> "id"))              // v1
    t.update(col("id") === 2, Map("v" -> lit("B")))             // v2
    val rows = spark.sql(
      s"SELECT id, v, _change_type, _commit_version FROM graft_table_changes('${t.root}', 1, 2)")
      .as[(Int, String, String, Long)].collect().toSet
    assert(rows === Set((2, "b", "update_preimage", 2L), (2, "B", "update_postimage", 2L)))
    // composes like any relation: filter + count
    assert(spark.sql(
      s"SELECT count(*) FROM graft_table_changes('${t.root}', -1) WHERE _change_type = 'insert'")
      .as[Long].head() === 2L)
    // non-literal args are rejected loudly
    val err = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_table_changes('${t.root}', id)").collect())
    assert(err.getMessage != null)
  }

  test("maintenance SQL on an unregistered name fails loudly") {
    val e = intercept[Exception](spark.sql("DESCRIBE HISTORY no_such_maint_table"))
    assert(e.getMessage.contains("no_such_maint_table"))
  }

  test("ALTER TABLE CLUSTER BY: metadata-only spec evolution") {
    import org.apache.spark.sql.functions.col
    val t = SnapshotTable.create(spark, tmpDir("sqlmaint"),
      (1 to 400).map(i => (i, i * 2, s"p$i")).toDF("id", "n", "payload"))
    GraftCatalog.register("maint_clu", t)
    assert(t.clusterSpec() === Nil)
    val filesBefore = t.manifest().toSet

    val out = spark.sql("ALTER TABLE maint_clu CLUSTER BY (id)").collect().head
    assert(out.getString(1) === "id")
    assert(t.clusterSpec() === Seq("id"))
    // metadata-only: same files, no rewrite
    assert(t.manifest().toSet === filesBefore)
    assert(spark.sql("DESCRIBE DETAIL maint_clu").collect().head.getString(5) === "id")

    // new writes range-cluster by the evolved spec: per-file id bounds
    // of the appended files are disjoint. (Tiny fixture: stop AQE folding
    // the range partitions into one file — at real scale the advisory
    // size IS the desired file sizing.)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesceKey, "false")
    try t.append((401 to 1200).map(i => (i, i * 2, s"p$i")).toDF("id", "n", "payload")
      .repartition(4))
    finally spark.conf.unset(coalesceKey)
    val newEntries = t.manifestEntries().filterNot(e => filesBefore.contains(e.path))
    assert(newEntries.size > 1)
    val bounds = newEntries.flatMap(_.stats.get("id"))
      .map(cs => (cs.min.get.toLong, cs.max.get.toLong)).sortBy(_._1)
    assert(bounds.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi <= lo
      case _ => true
    }, s"appended files must be range-clustered on id: $bounds")
    // old unclustered files still read fine alongside (mixed-spec history)
    assert(t.read().count() === 1200)
    assert(t.scan(col("id") === 7).count() === 1)

    // CLUSTER BY NONE clears; unknown column rejected
    spark.sql("ALTER TABLE maint_clu CLUSTER BY NONE")
    assert(t.clusterSpec() === Nil)
    val bad = intercept[IllegalArgumentException](
      spark.sql("ALTER TABLE maint_clu CLUSTER BY (days(no_such))"))
    assert(bad.getMessage.contains("no_such"))
  }

  test("OPTIMIZE FULL reclusters by the recorded spec (SQL SPJ migration)") {
    val df = spark.range(0, 400).selectExpr("id", "id * 3 AS v")
    val t = SnapshotTable.create(spark, tmpDir("sqlmaint_full"), df.limit(1))
    t.overwrite(df.repartition(5))
    GraftCatalog.register("maint_full", t)
    // no spec yet: OPTIMIZE FULL refuses with direction
    val e = intercept[Exception](spark.sql("OPTIMIZE maint_full FULL"))
    assert(e.getMessage.contains("CLUSTER BY"), e.getMessage)
    // the in-place SPJ migration, all in SQL: flip the spec
    // (metadata-only), then one full rewrite makes the layout eligible
    spark.sql("ALTER TABLE maint_full CLUSTER BY (bucket(4, id))")
    assert(t.head().bucketLayout.isEmpty)
    val out = spark.sql("OPTIMIZE maint_full FULL").collect()
    assert(out.head.getString(1).startsWith("recluster(bucket(4, id)"))
    assert(out.head.getInt(2) === 5)
    assert(t.head().bucketLayout === Some((4, Seq("id"), Nil)))
    assert(t.read().count() === 400)
  }

  test("OPTIMIZE FULL migrates an existing table to a HYBRID SPJ layout in SQL") {
    // the in-place composite-key migration: flip the spec to
    // bucket + identity (metadata-only), then one full rewrite routes
    // the live set — every file gains a bucket id AND holds exactly one
    // day value, so the multi-key layout reports
    val df = spark.range(0, 600)
      .selectExpr("id % 100 AS ent", "CAST(id % 3 AS INT) AS day", "id * 3 AS v")
    val t = SnapshotTable.create(spark, tmpDir("sqlmaint_hyb"), df.limit(1))
    t.overwrite(df.repartition(5))
    GraftCatalog.register("maint_hyb", t)
    spark.sql("ALTER TABLE maint_hyb CLUSTER BY (bucket(4, ent), day)")
    assert(t.head().bucketLayout.isEmpty)
    spark.sql("OPTIMIZE maint_hyb FULL")
    assert(t.head().bucketLayout
      === Some((4, Seq("ent"), Seq("day"))))
    // every live file single-valued on day (the tuple the scan derives)
    val schema = t.schema
    val entry = t.commitEntry(t.currentVersion())
    assert(entry.files.nonEmpty && entry.files.forall(f =>
      t.fileSingleValue(f, "day", schema).isDefined),
      "a post-migration file is not provably single-day")
    assert(t.read().count() === 600)
  }

  test("ALTER TABLE CLUSTER BY parses transform specs with nested parens") {
    val t = SnapshotTable.create(spark, tmpDir("sqlmaint"),
      (1 to 50).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-03-${i % 28 + 1}%02d 10:00:00")))
        .toDF("id", "ts"))
    GraftCatalog.register("maint_clu2", t)
    // days(ts) and bucket(4, id) both contain parens; bucket also a comma
    spark.sql("ALTER TABLE maint_clu2 CLUSTER BY (days(ts), bucket(4, id))")
    assert(t.clusterSpec() === Seq("days(ts)", "bucket(4, id)"))
    t.append(Seq((51L, java.sql.Timestamp.valueOf("2024-03-05 11:00:00")))
      .toDF("id", "ts"))
    assert(t.read().count() === 51)
  }

  test("tag/branch admin SQL and DESCRIBE REFS cover the WAP cycle") {
    val t = freshRegistered("maint_refs")
    spark.sql("ALTER TABLE maint_refs CREATE TAG baseline")
    t.append(Seq((4, "d")).toDF("id", "payload"))
    spark.sql("ALTER TABLE maint_refs CREATE TAG 'v1' AS OF VERSION 1")
    val br = spark.sql("ALTER TABLE maint_refs CREATE BRANCH audit").collect().head
    assert(br.getString(1) === "audit" && br.getLong(2) === 1L)
    // write on the branch through the API; main must not move
    t.branch("audit").append(Seq((5, "e")).toDF("id", "payload"))
    assert(t.read().count() === 4)
    val refs = spark.sql("DESCRIBE REFS maint_refs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs === Seq(("baseline", "tag", 0L), ("v1", "tag", 1L),
      ("audit", "branch", 2L)))
    val ff = spark.sql("ALTER TABLE maint_refs FAST FORWARD BRANCH audit")
      .collect().head
    assert(ff.getLong(2) === 2L)
    assert(t.read().count() === 5)
    spark.sql("ALTER TABLE maint_refs DROP BRANCH audit")
    spark.sql("ALTER TABLE maint_refs DROP TAG baseline")
    assert(spark.sql("DESCRIBE REFS maint_refs").collect().length === 1)
  }

  test("RESTORE TO TAG rolls back to the tagged version") {
    val t = freshRegistered("maint_rtag")
    spark.sql("ALTER TABLE maint_rtag CREATE TAG good")
    t.overwrite(Seq((9, "z")).toDF("id", "payload"))
    assert(t.read().count() === 1)
    val r = spark.sql("RESTORE TABLE maint_rtag TO TAG 'good'").collect().head
    assert(r.getLong(1) === 0L && r.getLong(2) === 2L)
    assert(t.read().count() === 3)
    intercept[Exception](spark.sql("RESTORE TABLE maint_rtag TO TAG 'nope'").collect())
    // quotes must be PAIRED — mismatched forms fall through to Spark's
    // parser and fail, rather than silently parsing as a tag name
    intercept[Exception](spark.sql("RESTORE TABLE maint_rtag TO TAG 'good").collect())
    intercept[Exception](spark.sql("RESTORE TABLE maint_rtag TO TAG good'").collect())
    // the bare unquoted form is accepted (same RefName rule as other refs)
    val r2 = spark.sql("RESTORE TABLE maint_rtag TO TAG good").collect().head
    assert(r2.getLong(1) === 0L)
  }

  test("VERSION AS OF resolves tags and branch heads through the DSv2 catalog") {
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS graft.db.reft")
    Seq((1, "a"), (2, "b")).toDF("id", "v").writeTo("graft.db.reft").createOrReplace()
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftTableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "reft")) match {
      case g: GraftTable => g.table
    }
    t.createTag("first")
    Seq((3, "c")).toDF("id", "v").writeTo("graft.db.reft").append()
    t.createBranch("wip").append(Seq((4, "d"), (5, "e")).toDF("id", "v"))
    assert(spark.sql("SELECT * FROM graft.db.reft VERSION AS OF 'first'").count() === 2)
    assert(spark.sql("SELECT * FROM graft.db.reft VERSION AS OF 'wip'").count() === 5)
    assert(spark.table("graft.db.reft").count() === 3) // main untouched
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft.db.reft VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("not an integer version, tag, or branch"))
    assert(spark.sql("SELECT * FROM graft.db.reft VERSION AS OF 1")
      .where(col("id") === 3).count() === 0)
  }

  test("graft_scan_stats TVF reports the manifest prune a predicate buys") {
    import org.apache.spark.sql.functions.col
    val t = SnapshotTable.create(spark, tmpDir("scanstats"),
      spark.range(0, 4000).toDF("id")
        .withColumn("v", col("id") * 3)
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"))
    // no predicate: everything kept, totals agree with the manifest
    val base = spark.sql(s"SELECT * FROM graft_scan_stats('${t.root}')").head()
    assert(base.getAs[Long]("files_total") === 8L)
    assert(base.getAs[Long]("files_kept") === 8L)
    assert(base.getAs[Long]("rows_total") === 4000L)
    // every file here has a harvested row count; unknown-count files
    // (adopted, unreadable footer) are excluded from the sums and
    // surfaced in this column instead of subtracting a -1 sentinel
    assert(base.getAs[Long]("files_unknown_rows") === 0L)
    // a point predicate prunes to the one covering range file — the
    // same stats pruning the DSv2 scan's build() runs
    val pt = spark.sql(
      s"SELECT * FROM graft_scan_stats('${t.root}', 'id = 42')").head()
    assert(pt.getAs[Long]("files_kept") === 1L,
      s"point predicate kept ${pt.getAs[Long]("files_kept")} files")
    assert(pt.getAs[Long]("rows_kept") > 0L &&
      pt.getAs[Long]("rows_kept") < pt.getAs[Long]("rows_total") / 4)
    assert(pt.getAs[Long]("bytes_kept") < pt.getAs[Long]("bytes_total"))
    // the DPP shape: paste the IN-list a runtime filter would deliver
    val in = spark.sql(
      s"SELECT * FROM graft_scan_stats('${t.root}', 'id IN (10, 20, 3999)')").head()
    assert(in.getAs[Long]("files_kept") === 2L)
  }
}
