package graft.tables

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  test("createEmpty refuses an existing root instead of truncating it") {
    val root = tmpDir("tbl_ce")
    SnapshotTable.create(spark, root, Seq((1, "a")).toDF("id", "v"))
    val e = intercept[Exception](SnapshotTable.createEmpty(spark, root,
      new org.apache.spark.sql.types.StructType().add("x", "int")))
    assert(e.getMessage.contains("already exists"))
    // the original table is untouched
    assert(SnapshotTable(spark, root).read().count() === 1)
  }

  test("runtime prune: oversized key sets degrade to the min/max envelope, never unsound") {
    val root = tmpDir("tbl_rtp")
    val t = SnapshotTable.create(spark, root,
      spark.range(0, 8000).toDF("id").withColumn("v", col("id") * 2)
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"))
    val v = t.currentVersion()
    val files = t.snapshotAt(v).files
    assert(files.size === 8)
    val schema = t.read().schema
    def prune(keys: Seq[Long], cap: Int) =
      SnapshotTable.pruneFilesRuntime(files, schema,
        Seq(("id", keys.map(x => x: Any))), None, maxProbedKeys = cap)
    // a contiguous band: both regimes keep exactly the covering file
    val band = (100L to 140L)
    val sharp = prune(band, 1 << 16)
    val env = prune(band, 8) // force the envelope regime
    assert(sharp.size === 1)
    assert(env.size === 1)
    assert(sharp.forall(env.contains), "envelope must be a superset of the per-key pass")
    // scattered endpoints: per-key pruning drops the gap files; the
    // envelope spans the gap and keeps them — conservative, never wrong
    val scattered = Seq(5L, 7995L)
    assert(prune(scattered, 1 << 16).size === 2)
    assert(prune(scattered, 1).size === files.size)
    // null keys never probe (equi-joins drop them); all-null = no pruning
    assert(SnapshotTable.pruneFilesRuntime(files, schema,
      Seq(("id", Seq(null))), None).size === files.size)
    // unknown column: keep everything
    assert(SnapshotTable.pruneFilesRuntime(files, schema,
      Seq(("nope", Seq(1L: Any))), None).size === files.size)
  }

  test("schemaAt matches the merged view's schema (the catalog face's contract)") {
    // the DSv2 catalog resolves its schema from the manifest (one parse,
    // never a DataFrame — planning must stay O(1) in file count); this
    // pins that the manifest schema IS what the read surface serves,
    // including after the evolutions that could plausibly diverge
    val root = tmpDir("tbl_sa")
    val t = SnapshotTable.create(spark, root,
      Seq((1L, "a", 2.0)).toDF("id", "v", "w"))
    def check(): Unit = {
      val v = t.currentVersion()
      val m = t.schemaAt(v)
      val r = t.readVersion(v).schema
      assert(m.fields.map(f => (f.name, f.dataType)).toSeq ===
        r.fields.map(f => (f.name, f.dataType)).toSeq,
        s"manifest $m vs merged view $r")
    }
    check()
    t.renameColumn("v", "vv"); check() // column mapping
    t.addColumns(Seq(org.apache.spark.sql.types.StructField(
      "x", org.apache.spark.sql.types.IntegerType))); check()
    t.dropColumns(Seq("w")); check()
  }

  test("TopN file capping discounts deletion-vector rows from live counts") {
    val root = tmpDir("tbl_tdv")
    val t = SnapshotTable.create(spark, root,
      spark.range(0, 4000).toDF("id").withColumn("v", col("id") * 2)
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"))
    t.setProperties(Map("graft.dv.enabled" -> "true"))
    // delete MOST of the lowest file's rows: the θ walk must keep
    // walking into the second file to cover n, instead of trusting the
    // first file's inflated manifest count
    t.delete(col("id") < 490)
    // serve through SQL so the cap runs in the real pushdown path
    spark.sql(s"DROP TABLE IF EXISTS graft.db.tdv")
    spark.sql(s"CREATE TABLE graft.db.tdv USING graft LOCATION '$root'")
    import spark.implicits._
    val got = spark.sql("SELECT id FROM graft.db.tdv ORDER BY id LIMIT 20")
      .as[Long].collect().toSeq
    assert(got === (490L until 510L), s"TopN over DV'd files returned $got")
    spark.sql("DROP TABLE graft.db.tdv")
  }

  test("unsetProperties cannot remove drop-column tombstones") {
    val t = SnapshotTable.create(spark, tmpDir("tbl_tomb"),
      Seq((1, "a", 5)).toDF("id", "v", "x"))
    t.dropColumns(Seq("x"))
    val e = intercept[Exception](t.unsetProperties(Seq("graft.dropped.x")))
    assert(e.getMessage.contains("engine-internal"))
    // resurrection stays blocked
    val e2 = intercept[Exception](t.addColumns(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.IntegerType))))
    assert(e2.getMessage.toLowerCase.contains("drop"))
  }

  test("compact converges on a clustered table (bin-pack survives re-clustering)") {
    val t = SnapshotTable(spark, tmpDir("tbl_cc"))
    t.overwriteClustered((1 to 50).map(i => (i, s"v$i")).toDF("id", "v"),
      clusterBy = Seq("id"), numFiles = 1)
    (51 to 54).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    val before = t.manifest().size
    assert(t.compact() > 0)
    // all small files packed into ONE range-clustered file, not exploded
    // into spark.sql.shuffle.partitions fragments
    assert(t.manifest().size < before, s"${t.manifest().size} !< $before")
    assert(t.manifest().size <= 2)
    assert(t.compact() === 0) // fixpoint: a second OPTIMIZE finds nothing
    assert(t.read().count() === 54)
  }

  test("MoR delta key range is code-point ordered (supplementary-plane keys)") {
    // U+E000 (one UTF-16 unit) vs U+10000 (surrogate pair): Java code-unit
    // order disagrees with the code-point order parquet stats use — a
    // wrongly-narrowed range would skip the base file holding U+E000 and
    // leave two rows for that key after compaction
    val kA = ""
    val kB = new String(Character.toChars(0x10000))
    val t = SnapshotTable.create(spark, tmpDir("tbl_cp"),
      Seq((kA, "old", 0L), (kB, "old", 0L)).toDF("k", "v", "ts"))
    t.upsertDeferred(Seq((kA, "new", 1L)).toDF("k", "v", "ts"),
      keys = Seq("k"), precombine = "ts")
    t.upsertDeferred(Seq((kB, "new", 1L)).toDF("k", "v", "ts"),
      keys = Seq("k"), precombine = "ts")
    t.applyDeltas()
    val got = t.read().select("k", "v").as[(String, String)].collect()
    assert(got.length === 2, s"expected 2 rows, got ${got.toSeq}")
    assert(got.toMap === Map(kA -> "new", kB -> "new"))
  }

  test("create / read round-trip") {
    val t = SnapshotTable.create(spark, tmpDir("tbl"),
      Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(t.read().count() === 2)
    assert(t.currentVersion() === 0)
    assert(t.schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("overwrite is atomic and versioned; time travel reads old snapshots") {
    val t = SnapshotTable.create(spark, tmpDir("tbl"),
      Seq((1, "a")).toDF("id", "v"))
    t.overwrite(Seq((2, "b"), (3, "c")).toDF("id", "v"))
    assert(t.currentVersion() === 1)
    assert(t.read().as[(Int, String)].collect().toSet === Set((2, "b"), (3, "c")))
    assert(t.readVersion(0).as[(Int, String)].collect().toSet === Set((1, "a")))
  }

  test("append carries prior files forward without rewrite") {
    val t = SnapshotTable.create(spark, tmpDir("tbl"),
      Seq((1, "a")).toDF("id", "v"))
    val filesBefore = t.manifest()
    t.append(Seq((2, "b")).toDF("id", "v"))
    assert(t.read().count() === 2)
    // prior files are reused verbatim — O(1) append
    assert(filesBefore.forall(t.manifest().contains))
    assert(t.manifest().size > filesBefore.size)
  }

  test("registered view refreshes on commit (catalog sync)") {
    val t = SnapshotTable.create(spark, tmpDir("tbl"),
      Seq((1, "a")).toDF("id", "v"))
    t.registerView("sync_test")
    assert(spark.table("sync_test").count() === 1)
    t.append(Seq((2, "b")).toDF("id", "v"))
    assert(spark.table("sync_test").count() === 2)
  }

  test("manifest is O(files) commit metadata, readable as parquet list") {
    val t = SnapshotTable.create(spark, tmpDir("tbl"),
      spark.range(100).withColumn("v", col("id") * 2))
    val m = t.manifest()
    assert(m.nonEmpty && m.forall(_.endsWith(".parquet")))
    assert(spark.read.parquet(m: _*).count() === 100)
  }

  test("concurrent writers: version slot is exclusive; overwrites surface the race") {
    val root = tmpDir("tbl")
    val t = SnapshotTable.create(spark, root, Seq((1, "a")).toDF("id", "v"))
    // Deterministic interleaving (no thread-scheduling luck): just before
    // the instrumented handle's commit publish, a competing handle takes
    // the same version slot. Overwrite REPLACES what the loser read, so
    // (unlike blind appends, which re-base) the lost race must surface.
    // CAS-slot exclusivity is additionally proven cross-process in
    // OccRaceSpec.
    val winner = SnapshotTable(spark, root)
    val loser = SnapshotTable(spark, root)
    var sabotaged = false
    loser.withCommitLock(new CommitLock {
      override def publish(fs: org.apache.hadoop.fs.FileSystem,
          dest: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
          payload: Array[Byte]): Unit = {
        if (!sabotaged) { sabotaged = true
          winner.overwrite(Seq((10, "w")).toDF("id", "v")) }
        FileSystemCommitLock.publish(fs, dest, tmp, payload)
      }
    })
    intercept[SnapshotTable.ConcurrentCommitException](
      loser.overwrite(Seq((20, "l")).toDF("id", "v")))
    assert(sabotaged)
    assert(t.read().as[(Int, String)].collect().toSet === Set((10, "w")))
    // the loser retries against the fresh head and wins cleanly
    loser.overwrite(Seq((20, "l")).toDF("id", "v"))
    assert(t.read().as[(Int, String)].collect().toSet === Set((20, "l")))
  }

  test("garbage and in-flight tmp files never break reads") {
    val root = tmpDir("tbl")
    val t = SnapshotTable.create(spark, root, Seq((1, "a")).toDF("id", "v"))
    // crash-orphaned junk directly in _log plus an in-flight tmp elsewhere
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_log", ".tmp-deadbeef.json"), "{not json")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_log", "_SUCCESS"), "")
    assert(t.currentVersion() === 0)
    assert(t.read().count() === 1)
  }

  test("clustered writes sort rows within each file (row-group skipping)") {
    import org.apache.spark.sql.types._
    val t = SnapshotTable.createEmpty(spark, tmpDir("clsort"),
      StructType(Seq(StructField("id", LongType), StructField("v", LongType))),
      clusterBy = Seq("id"))
    // deliberately shuffled input: only the within-partition sort in
    // applyCluster can make file rows monotone
    t.append(spark.range(0, 10000).toDF("id").withColumn("v", col("id") * 2)
      .orderBy(xxhash64(col("id"))))
    val ids = spark.read.parquet(t.manifest().head).select("id").as[Long].collect()
    assert(ids.length > 1)
    assert(ids.sameElements(ids.sorted),
      "rows inside a clustered file must be sorted on the cluster key")
  }

  test("per-file stats recorded; scan prunes files the predicate excludes") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    // three commits → three disjoint id-range files
    t.overwrite(spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2))
    t.append(spark.range(100, 200).toDF("id").withColumn("v", col("id") * 2))
    t.append(spark.range(200, 300).toDF("id").withColumn("v", col("id") * 2))
    val entries = t.manifestEntries()
    assert(entries.forall(_.stats.contains("id")))
    assert(entries.map(_.rows).sum === 300)

    // point lookup touches exactly one file
    assert(t.prunedManifest(col("id") === 150).size === 1)
    assert(t.scan(col("id") === 150).count() === 1)
    // range predicate keeps only the overlapping files (4 of 12: each
    // commit wrote 4 partition files covering 25 ids each)
    assert(t.prunedManifest(col("id") >= 150 && col("id") < 250).size ===
      entries.count(e => { val s = e.stats("id"); s.max.get.toLong >= 150 && s.min.get.toLong < 250 }))
    assert(t.prunedManifest(col("id") >= 150 && col("id") < 250).size < entries.size / 2)
    assert(t.scan(col("id") >= 150 && col("id") < 250).count() === 100)
    // no file can match → empty scan without touching parquet
    assert(t.prunedManifest(col("id") === 9999).isEmpty)
    assert(t.scan(col("id") === 9999).count() === 0)
    // unsupported predicate shapes stay conservative
    assert(t.prunedManifest(col("id") % 7 === 0).size === entries.size)
  }

  test("OR and string-prefix predicates prune files") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    t.overwrite(spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2))
    t.append(spark.range(100, 200).toDF("id").withColumn("v", col("id") * 2))
    t.append(spark.range(200, 300).toDF("id").withColumn("v", col("id") * 2))
    val all = t.manifest().size
    // OR of two point keys keeps only the two covering files
    val orKept = t.prunedManifest(col("id") === 5 || col("id") === 250).size
    assert(orKept <= all / 3, s"OR kept $orKept of $all files")
    assert(t.scan(col("id") === 5 || col("id") === 250).count() === 2)
    // OR with an unprunable side stays conservative (all files kept)
    assert(t.prunedManifest(col("id") === 5 || col("id") % 7 === 0).size === all)

    val s = SnapshotTable(spark, tmpDir("tbl"))
    s.overwrite(Seq(("apple", 1), ("apricot", 2)).toDF("w", "n"))
    s.append(Seq(("melon", 3), ("peach", 4)).toDF("w", "n"))
    // one file per 1-row partition: the two ap-files stay, melon/peach go
    assert(s.prunedManifest(col("w").startsWith("ap")).size ===
      s.manifest().size - 2)
    assert(s.prunedManifest(col("w").startsWith("zz")).isEmpty)
    assert(s.scan(col("w").startsWith("ap")).count() === 2)
    // prefix range upper bound is exclusive-correct: "me" keeps the melon
    // file even though "me" < "melon" and no string equals the prefix
    assert(s.scan(col("w").startsWith("me")).count() === 1)
  }

  test("string and timestamp stats prune too") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    t.overwrite(Seq(("apple", 1), ("banana", 2)).toDF("s", "n"))
    t.append(Seq(("melon", 3), ("peach", 4)).toDF("s", "n"))
    assert(t.prunedManifest(col("s") === "zebra").isEmpty)
    assert(t.prunedManifest(col("s") === "banana").size === 1)
    assert(t.scan(col("s") > "m").count() === 2)

    val ts = SnapshotTable(spark, tmpDir("tbl"))
    val mk = (d: String) => java.sql.Timestamp.valueOf(d)
    ts.overwrite(Seq((mk("2024-01-01 00:00:00"), 1)).toDF("ts", "n"))
    ts.append(Seq((mk("2024-06-01 00:00:00"), 2)).toDF("ts", "n"))
    assert(ts.prunedManifest(col("ts") >= lit(mk("2024-03-01 00:00:00"))).size === 1)
    assert(ts.scan(col("ts") >= lit(mk("2024-03-01 00:00:00"))).count() === 1)
  }

  test("IsNull / IsNotNull prune on null counts") {
    val t = SnapshotTable(spark, tmpDir("nulls"))
    // file A: m never null; file B: m always null
    t.overwrite(Seq((1, Some(10)), (2, Some(20))).toDF("id", "m").coalesce(1))
    t.append(Seq((3, Option.empty[Int]), (4, Option.empty[Int])).toDF("id", "m").coalesce(1))
    val all = t.manifest().size
    assert(t.prunedManifest(col("m").isNull).size < all)
    assert(t.prunedManifest(col("m").isNotNull).size < all)
    assert(t.scan(col("m").isNull).count() === 2)
    assert(t.scan(col("m").isNotNull).count() === 2)
  }

  test("schema evolution: appended files missing a new column read as null") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    // widened batch adds a column; with mergeSchema the commit schema is
    // the widened schema and prior files read the new column as NULL
    t.append(Seq((2, "b", 7.5)).toDF("id", "v", "score"), mergeSchema = true)
    val got = t.read().select("id", "v", "score")
      .as[(Int, String, Option[Double])].collect().toSet
    assert(got === Set((1, "a", None), (2, "b", Some(7.5))))
  }

  test("append schema guard: missing / retyped / unknown columns fail loudly") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    // missing REQUIRED (non-nullable) column: would commit garbage
    val eMissing = intercept[IllegalArgumentException](
      t.append(Seq("b").toDF("v"))) // id is non-nullable
    assert(eMissing.getMessage.contains("missing required committed column"))
    // missing NULLABLE column: Delta by-name semantics — NULL fill, so a
    // producer built before an addColumns DDL keeps working
    t.append(Seq(7).toDF("id"))
    assert(t.read().filter(col("id") === 7).select("v").as[Option[String]].head() === None)
    // retyped column
    val eRetyped = intercept[IllegalArgumentException](
      t.append(Seq(("2", "b")).toDF("id", "v")))
    assert(eRetyped.getMessage.contains("incompatible column type"))
    // new column without opting into evolution
    val eExtra = intercept[IllegalArgumentException](
      t.append(Seq((2, "b", 1.0)).toDF("id", "v", "extra")))
    assert(eExtra.getMessage.contains("mergeSchema"))
    // column order is aligned by name, not position
    t.append(Seq(("z", 9)).toDF("v", "id"))
    assert(t.read().filter(col("id") =!= 7).as[(Int, String)].collect().toSet ===
      Set((1, "a"), (9, "z")))
  }

  test("table properties: set, carried forward by commits, unset") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    assert(t.properties() === Map.empty)
    t.setProperties(Map("owner" -> "graft", "classification" -> "parquet"))
    assert(t.properties() === Map("owner" -> "graft", "classification" -> "parquet"))
    // metadata-only commit: same data, new version
    assert(t.read().count() === 1)
    // properties ride every subsequent commit path
    t.append(Seq((2, "b")).toDF("id", "v"))
    assert(t.properties()("owner") === "graft")
    t.overwrite(Seq((3, "c")).toDF("id", "v"))
    assert(t.properties()("owner") === "graft")
    t.merge(Seq((3, "d")).toDF("id", "v"), col("t.id") === col("s.id"))
      .whenMatched().updateAll().execute()
    assert(t.properties()("owner") === "graft")
    t.unsetProperties(Seq("classification"))
    assert(t.properties() === Map("owner" -> "graft"))
  }

  test("torn newest commit: readers fall back to the prior version") {
    // under the catalog warehouse, so the SQL face resolves the same
    // table; the cluster spec makes clusterSpec() and DESCRIBE's
    // partitioning observable
    val root = spark.conf.get("spark.sql.catalog.graft.warehouse") + "/db/torn_head"
    val t = SnapshotTable.createEmpty(spark, root,
      new org.apache.spark.sql.types.StructType().add("id", "int").add("v", "string"),
      clusterBy = Seq("id"))
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // simulate a non-local-FS writer that claimed slot 2 but whose content
    // write is still in flight: truncated JSON in the newest slot
    val full = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "_log", f"${1L}%020d.json"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_log", f"${2L}%020d.json"),
      full.substring(0, full.length / 2))
    // readers see version 1, not an exception
    assert(t.read().as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
    assert(t.manifest().nonEmpty)
    assert(t.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(t.scan(col("id") === 1).count() === 1)
    // every read-only API serves version 1, not only the ones above
    val v1 = t.snapshotAt(1)
    val pruned = t.prunedManifest(col("id") === 1)
    assert(pruned.nonEmpty && pruned === v1.prunedFiles(Some(col("id") === 1)).map(_.path))
    val probed = t.keyProbedManifest("id", Seq(1))
    assert(probed.nonEmpty && probed === v1.keyProbedPaths("id", Seq(1)))
    assert(t.clusterSpec() === Seq("id"))
    assert(t.filesMetadata().select("path").as[String].collect().toSeq === v1.files.map(_.path))
    // the SQL face resolves the same fallback: DESCRIBE reports the
    // partitioning, SELECT the rows
    val desc = spark.sql("DESCRIBE TABLE graft.db.torn_head")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("# Partition Information"), desc)
    assert(spark.sql("SELECT id, v FROM graft.db.torn_head").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
  }

  test("compact bin-packs small files, content unchanged, healthy files kept") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    // 5 tiny commits → ≥5 small files
    (0 until 5).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    val before = t.read().as[(Int, String)].collect().toSet
    val filesBefore = t.manifest().size
    val compacted = t.compact(targetFileBytes = 1024 * 1024, smallFileBytes = 1024 * 1024)
    assert(compacted === filesBefore)
    assert(t.manifest().size < filesBefore)
    assert(t.read().as[(Int, String)].collect().toSet === before)
    assert(t.manifestAction().contains("compact"))
    // compaction output keeps stats (pruning still possible)
    assert(t.manifestEntries().forall(_.stats.nonEmpty))
  }

  test("maintenance rewrites preserve the committed schema exactly") {
    // a compact/delete/recluster round-trips rows through a parquet READ,
    // whose schema widens nullability (array containsNull, field
    // nullable) — committing the read frame's schema would silently
    // loosen the table schema, and the append path's type check would
    // then refuse producers that were valid before the maintenance ran
    // (first seen as a streamed signature append failing against a
    // reclustered minhash index)
    def tight = spark.range(0, 20)
      .select(col("id"), array(col("id"), col("id") + 1).as("arr"))
    val t = SnapshotTable(spark, tmpDir("tbl_schema"))
    (0 until 4).foreach(_ => t.append(tight))
    val schema0 = t.schema.json
    assert(schema0.contains("\"containsNull\":false"), schema0)
    t.compact(targetFileBytes = 1024 * 1024, smallFileBytes = 1024 * 1024)
    assert(t.schema.json === schema0, "compact widened the schema")
    t.delete(col("id") === 3L)
    assert(t.schema.json === schema0, "delete widened the schema")
    t.recluster(Seq("id"), 2)
    assert(t.schema.json === schema0, "recluster widened the schema")
    // the regression: a producer with the original tight schema must
    // still append after the maintenance passes
    t.append(tight.filter(col("id") >= 18))
    assert(t.schema.json === schema0)
  }

  test("recluster: range layout restored, DVs folded in, content unchanged") {
    val t = SnapshotTable(spark, tmpDir("tbl_recluster"))
    // every append covers the FULL id range — the append-bloated index
    // shape where a point probe must open one file per append
    (0 until 5).foreach(i => t.append(
      spark.range(0, 100).select(col("id"), lit(i).as("batch")).coalesce(1)))
    t.setProperties(Map("graft.dv.enabled" -> "true"))
    t.delete(col("id") % 10 === 7) // lands as a DV sidecar
    assert(t.commitEntry(t.currentVersion()).dvFiles.exists(_.nonEmpty))
    val before = t.read().as[(Long, Int)].collect().toSet
    val probedBefore = t.keyProbedManifest("id", Seq(42L)).size
    assert(probedBefore === 5, s"expected one file per append, got $probedBefore")
    val rewritten = t.recluster(Seq("id"), 4)
    assert(rewritten === 5)
    assert(t.manifest().size <= 4)
    assert(t.manifestAction().contains("recluster"))
    // DVs applied into the rewrite and cleared
    assert(t.commitEntry(t.currentVersion()).dvFiles.forall(_.isEmpty))
    assert(t.read().as[(Long, Int)].collect().toSet === before)
    // disjoint per-file ranges: a point probe now opens exactly one file
    assert(t.keyProbedManifest("id", Seq(42L)).size === 1)
    // guards: unknown column, and a spec conflicting with the recorded one
    val e = intercept[IllegalArgumentException](t.recluster(Seq("nope"), 2))
    assert(e.getMessage.contains("unknown column"), e.getMessage)
    t.setClusterSpec(Seq("batch"))
    val e2 = intercept[IllegalArgumentException](t.recluster(Seq("id"), 2))
    assert(e2.getMessage.contains("setClusterSpec"), e2.getMessage)
    // with a RECORDED spec, recluster routes the shuffle through
    // replaceFiles' applyCluster(numFiles) — same content, same layout
    val before2 = t.read().as[(Long, Int)].collect().toSet
    assert(t.recluster(Seq("batch"), 2) > 0)
    assert(t.read().as[(Long, Int)].collect().toSet === before2)
  }

  test("bucket cluster spec routes identity: one bucket per file, ids in manifest") {
    // repartition(n, col)'s partition index IS pmod(hash(col), n) — the
    // bucket transform value — so every routed file holds exactly one
    // bucket and records its id; that invariant is what the DSv2 scan's
    // KeyGroupedPartitioning report (storage-partitioned join) rests on
    val df = spark.range(0, 2000).select(col("id"), (col("id") * 2).as("v"))
    val t = SnapshotTable.create(spark, tmpDir("tbl_bucket"), df.limit(1))
    t.setClusterSpec(Seq("bucket(8, id)"))
    t.overwrite(df)
    val entry = t.commitEntry(t.currentVersion())
    assert(entry.files.nonEmpty && entry.files.forall(_.bucket.isDefined),
      s"unstamped files: ${entry.files.map(f => f.path -> f.bucket)}")
    entry.files.foreach { f =>
      val got = spark.read.parquet(f.path)
        .select(pmod(hash(col("id")), lit(8))).distinct().as[Int].collect().toSeq
      assert(got === Seq(f.bucket.get),
        s"file ${f.path} stamped ${f.bucket} but holds buckets $got")
    }
    assert(t.head().bucketLayout === Some((8, Seq("id"), Nil)))
    // appends route too — the layout survives growth
    t.append(spark.range(2000, 2100).select(col("id"), (col("id") * 2).as("v")))
    assert(t.head().bucketLayout === Some((8, Seq("id"), Nil)))
    assert(t.read().count() === 2100)
    // compaction rewrites through the same routed path — the layout
    // (and SPJ eligibility) survives maintenance
    val compacted = t.compact(targetFileBytes = 1024 * 1024,
      smallFileBytes = 1024 * 1024)
    assert(compacted > 0)
    assert(t.head().bucketLayout === Some((8, Seq("id"), Nil)))
    assert(t.commitEntry(t.currentVersion()).files.forall(_.bucket.isDefined))
    // a DV overlay no longer un-reports the layout: the DSv2 scan
    // applies sidecar positions per file (a delete never moves a row
    // between buckets), so SPJ eligibility survives row-level deletes —
    // the steady state of a long-lived bucketed fact table
    t.setProperties(Map("graft.dv.enabled" -> "true"))
    t.delete(col("id") === 42L)
    assert(t.dvManifest().nonEmpty, "delete did not land as a deletion vector")
    assert(t.head().bucketLayout === Some((8, Seq("id"), Nil)))
  }

  test("bucket layout survives upsert, CoW delete and compaction (durable SPJ)") {
    // every row-level rewrite routes its output through the same
    // identity-routed path and carries untouched files' bucket ids
    // forward, so a bucketed table stays storage-partitioned-join
    // eligible through its whole DML lifecycle — the layout is an
    // investment, not something the first upsert silently destroys
    val df = spark.range(0, 1000)
      .select(col("id"), lit("v0").as("v"), lit(0L).as("ver"))
    val t = SnapshotTable.create(spark, tmpDir("tbl_spj_dml"), df.limit(1))
    t.setClusterSpec(Seq("bucket(4, id)"))
    t.overwrite(df)
    assert(t.head().bucketLayout === Some((4, Seq("id"), Nil)))
    t.upsert(spark.range(100, 200)
      .select(col("id"), lit("v1").as("v"), lit(1L).as("ver")),
      Seq("id"), "ver")
    assert(t.head().bucketLayout === Some((4, Seq("id"), Nil)),
      "upsert destroyed the layout")
    t.delete(col("id") % 10 === 3)
    assert(t.head().bucketLayout === Some((4, Seq("id"), Nil)),
      "CoW delete destroyed the layout")
    t.compact(targetFileBytes = 1024 * 1024, smallFileBytes = 1024 * 1024)
    assert(t.head().bucketLayout === Some((4, Seq("id"), Nil)),
      "compaction destroyed the layout")
    // content stayed right through it all
    assert(t.read().count() === 900)
    assert(t.read().filter(col("id") === 150L).select("v").as[String].head() === "v1")
  }

  test("SPJ migration: setClusterSpec(bucket) + one recluster routes an existing table") {
    // the 100 TB adoption path: a table that predates the bucket layout
    // flips its spec metadata-only, then ONE clustered rewrite makes it
    // storage-partitioned-join eligible — no export/reimport
    val df = spark.range(0, 500).select(col("id"), (col("id") * 7).as("v"))
    val t = SnapshotTable.create(spark, tmpDir("tbl_spj_mig"), df.limit(1))
    t.overwrite(df.repartition(5))
    t.append(df.filter(col("id") < 50).repartition(2))
    assert(t.head().bucketLayout.isEmpty)
    t.setClusterSpec(Seq("bucket(4, id)")) // metadata-only: still ineligible
    assert(t.head().bucketLayout.isEmpty)
    val before = t.read().as[(Long, Long)].collect().toSeq.sorted
    assert(t.recluster(Seq("bucket(4, id)"), 4) > 0)
    assert(t.head().bucketLayout === Some((4, Seq("id"), Nil)))
    assert(t.read().as[(Long, Long)].collect().toSeq.sorted === before)
    // every migrated file single-bucket
    t.commitEntry(t.currentVersion()).files.foreach { f =>
      val got = spark.read.parquet(f.path)
        .select(pmod(hash(col("id")), lit(4))).distinct().as[Int].collect().toSeq
      assert(got === Seq(f.bucket.get))
    }
  }

  test("bucket stamping refused when the bucket column is generated") {
    // generated/identity columns are (re)computed AFTER the routing
    // shuffle, so a row routed on its pre-assignment value could sit in
    // a file whose stamped bucket id lies — the silent wrong-join-answer
    // SPJ must never risk; such writes stay unstamped and the layout
    // unreported (shuffle plan, correct)
    val df = spark.range(0, 100).select(col("id"), (col("id") % 5).as("k"))
    val t = SnapshotTable.create(spark, tmpDir("tbl_idgate"), df.limit(1))
    t.setClusterSpec(Seq("bucket(4, k)"))
    t.overwrite(df)
    assert(t.head().bucketLayout.isDefined)
    t.setProperties(Map("graft.generated.k" -> "id % 5"))
    t.append(spark.range(100, 200).select(col("id"), (col("id") % 5).as("k")))
    val entry = t.commitEntry(t.currentVersion())
    assert(entry.files.exists(_.bucket.isEmpty),
      "generated-column write was stamped")
    assert(t.head().bucketLayout.isEmpty,
      "poisoned layout still reported")
  }

  test("vacuum reclaims unreferenced files and expires old versions") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    t.overwrite(Seq((2, "b")).toDF("id", "v")) // v0's files now unreferenced by v1
    val deadFiles = t.readVersion(0) // still readable pre-vacuum
    assert(deadFiles.count() === 1)
    val deleted = t.vacuum(retainVersions = 1, retainMillis = 0)
    assert(deleted >= 1)
    // latest still intact; v0 gone
    assert(t.read().as[(Int, String)].collect().toSet === Set((2, "b")))
    intercept[Exception](t.readVersion(0).count())
  }

  test("commit CAS is pluggable behind the CommitLock seam") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    // a delegating lock observes every commit
    var calls = 0
    t.withCommitLock(new CommitLock {
      override def publish(fs: org.apache.hadoop.fs.FileSystem,
          dest: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
          payload: Array[Byte]): Unit = {
        calls += 1
        FileSystemCommitLock.publish(fs, dest, tmp, payload)
      }
    })
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    assert(calls === 2)
    // a lock reporting a lost race surfaces as ConcurrentCommitException
    // and leaves the committed state untouched
    t.withCommitLock(new CommitLock {
      override def publish(fs: org.apache.hadoop.fs.FileSystem,
          dest: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
          payload: Array[Byte]): Unit =
        throw new SnapshotTable.ConcurrentCommitException("slot taken")
    })
    intercept[SnapshotTable.ConcurrentCommitException](
      t.append(Seq((3, "c")).toDF("id", "v")))
    assert(t.currentVersion() === 1)
    t.withCommitLock(FileSystemCommitLock)
    assert(t.read().as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
  }

  test("identity-bearing appends never blind-rebase after losing the race") {
    // the basis is computed against the base head; re-committing the same
    // files onto a new head could duplicate ids — the rebase guard must
    // refuse even a files-only interleaved commit
    val base = SnapshotTable.CommitEntry("append", "{}", Nil,
      properties = Some(Map("graft.identity.id" -> "0,1,false")))
    val headFilesOnly = base.copy(action = "append")
    val t = SnapshotTable(spark, tmpDir("tbl"))
    assert(!t.appendRebaseSafe(base, headFilesOnly),
      "identity tables must surface the conflict instead of rebasing")
    // without identity properties the same shape rebases fine
    val plain = base.copy(properties = None)
    assert(t.appendRebaseSafe(plain, plain.copy(action = "append")))
  }

  test("string stats truncate to bounded prefixes that stay sound for pruning") {
    // helpers: min is a plain prefix; max increments the last code point
    assert(SnapshotTable.truncateStatsMin("short") === "short")
    assert(SnapshotTable.truncateStatsMin("a" * 100) === "a" * 32)
    assert(SnapshotTable.truncateStatsMax("short") === Some("short"))
    assert(SnapshotTable.truncateStatsMax("a" * 100) === Some("a" * 31 + "b"))
    // surrogate gap skipped: U+D7FF increments to U+E000, never into D800–DFFF
    assert(SnapshotTable.truncateStatsMax("a" * 31 + "퟿" + "tail") ===
      Some("a" * 31 + ""))
    // unincrementable prefix (all U+10FFFF) degrades to no-upper-bound
    val maxCp = new String(Character.toChars(0x10FFFF))
    assert(SnapshotTable.truncateStatsMax(maxCp * 33) === None)
    // integration: long text values never ship whole into the manifest
    val long1 = "alpha " + ("x" * 500)
    val long2 = "omega " + ("y" * 500)
    val t = SnapshotTable.create(spark, tmpDir("tbl"),
      Seq((1, long1), (2, long2)).toDF("id", "txt").repartition(2, col("id")))
    val st = t.manifestEntries().flatMap(_.stats.get("txt"))
    assert(st.nonEmpty)
    st.foreach { cs =>
      assert(cs.min.forall(_.length <= 33), s"min not truncated: ${cs.min}")
      assert(cs.max.forall(_.length <= 33), s"max not truncated: ${cs.max}")
    }
    // pruning on the truncated bounds still finds every real value
    assert(t.scan(col("txt") === long1).count() === 1)
    assert(t.scan(col("txt") === long2).count() === 1)
    // and still prunes what is provably out of bounds
    assert(t.scan(col("txt") === "zzzz").count() === 0)
  }

  test("latest-version hint: written per commit, advisory under any damage") {
    val root = tmpDir("tbl")
    val t = SnapshotTable.create(spark, root, Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    val hint = java.nio.file.Paths.get(root, "_log", "_latest_hint")
    assert(java.nio.file.Files.readString(hint).trim === "1", "hint tracks head")
    // stale hint (writer crashed before updating it): probe walks forward
    java.nio.file.Files.writeString(hint, "0")
    assert(t.currentVersion() === 1)
    assert(t.read().count() === 2)
    // hint ahead of truth: falls back to the listing
    java.nio.file.Files.writeString(hint, "99")
    assert(t.currentVersion() === 1)
    // garbage hint: falls back to the listing
    java.nio.file.Files.writeString(hint, "not a number")
    assert(t.currentVersion() === 1)
    // deleted hint: falls back, and the next commit restores it
    java.nio.file.Files.delete(hint)
    assert(t.currentVersion() === 1)
    t.append(Seq((3, "c")).toDF("id", "v"))
    assert(java.nio.file.Files.readString(hint).trim === "2")
    // vacuum expiry re-anchors the hint at the retained head
    java.nio.file.Files.writeString(hint, "0")
    t.vacuum(retainVersions = 1, retainMillis = 0)
    assert(java.nio.file.Files.readString(hint).trim === "2",
      "hint below the retained window would force full listings forever")
    assert(t.read().as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("vacuum with a torn newest entry retains the last readable version") {
    // a writer died mid-publish: the newest log entry is permanently
    // torn. vacuum(retainVersions=1) must NOT count the torn head toward
    // the retention window — doing so would expire the older GOOD entry
    // and reclaim the very files readable() still falls back to.
    val root = tmpDir("tbl")
    val t = SnapshotTable(spark, root)
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    t.overwrite(Seq((2, "b")).toDF("id", "v"))
    val logDir = java.nio.file.Paths.get(root, "_log")
    val entries = java.nio.file.Files.list(logDir)
      .filter(_.toString.endsWith(".json")).sorted().toArray
    val newest = entries.last.asInstanceOf[java.nio.file.Path]
    java.nio.file.Files.writeString(newest, "{ torn json") // crash artifact
    t.vacuum(retainVersions = 1, retainMillis = 0)
    // v0 (the readable fallback behind the torn v1) survives: its log
    // entry is retained and its data files are intact (the torn head's
    // own orphaned data may legitimately be reclaimed at retainMillis=0)
    assert(java.nio.file.Files.exists(entries.head.asInstanceOf[java.nio.file.Path]),
      "vacuum expired the log entry of the last readable version")
    assert(t.read().as[(Int, String)].collect().toSet === Set((1, "a")))
  }

  test("vacuum retention window protects in-flight writers' files") {
    val root = tmpDir("tbl")
    val t = SnapshotTable(spark, root)
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    t.overwrite(Seq((2, "b")).toDF("id", "v"))
    // an in-flight writer has written its data dir but not yet committed:
    // an unreferenced parquet file, freshly modified
    val inflight = java.nio.file.Paths.get(root, "data", "inflight-dir")
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.writeString(inflight.resolve("part-0.parquet"), "pending")
    // default retention window (24h): nothing fresh is reclaimed —
    // neither the in-flight file nor v0's just-unreferenced files
    assert(t.vacuum(retainVersions = 1) === 0)
    assert(java.nio.file.Files.exists(inflight.resolve("part-0.parquet")))
    // with the window forced to 0 the unreferenced files go
    assert(t.vacuum(retainVersions = 1, retainMillis = 0) >= 1)
    assert(!java.nio.file.Files.exists(inflight.resolve("part-0.parquet")))
  }

  test("vacuum's empty-dir sweep honors the retention window (in-flight mkdirs)") {
    // a concurrent writer's staging dir is EMPTY between its mkdirs and
    // the first task file landing — sweeping it in that window killed
    // the write mid-flight (the forked fastForward-vs-vacuum race
    // surfaced it as `chmod: cannot access <dir>` from the writer's own
    // FS call). The sweep must honor retainMillis like everything else.
    val root = tmpDir("tbl_vds")
    val t = SnapshotTable(spark, root)
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    val staging = java.nio.file.Paths.get(root, "data", "just-created-empty")
    java.nio.file.Files.createDirectories(staging)
    // inside the window: the empty dir survives
    assert(t.vacuum(retainVersions = 1, retainMillis = 3600000L) === 0)
    assert(java.nio.file.Files.isDirectory(staging))
    // past the window (forced to 0, dir mtime strictly older by then):
    // the sweep reclaims it
    Thread.sleep(5)
    t.vacuum(retainVersions = 1, retainMillis = 0L)
    assert(!java.nio.file.Files.exists(staging))
  }

  test("clustered overwrite gives one-file point lookups") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    t.overwriteClustered(
      spark.range(0, 10000).toDF("id").withColumn("v", col("id") * 2),
      clusterBy = Seq("id"), numFiles = 10)
    assert(t.manifest().size === 10)
    assert(t.prunedManifest(col("id") === 7777).size === 1)
    assert(t.scan(col("id") === 7777).count() === 1)
  }

  test("merge-on-read: graft.compact.maxDeltas auto-compacts inline at the threshold") {
    val t = SnapshotTable(spark, tmpDir("mor_auto"))
    t.overwrite(spark.range(0, 100).toDF("id")
      .withColumn("v", lit("base")).withColumn("ts", lit(0L)))
    t.setProperties(Map("graft.compact.maxDeltas" -> "2"))
    // single-row batches → exactly one delta file per deferred commit
    t.upsertDeferred(Seq((5L, "d1", 1L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")
    assert(t.deltaManifest().size === 1) // 1 <= 2: no compaction yet
    t.upsertDeferred(Seq((6L, "d2", 1L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")
    assert(t.deltaManifest().size === 2) // 2 <= 2: still pending
    assert(t.manifestAction().contains("delta-upsert"))
    val rtBefore = t.read().as[(Long, String, Long)].collect().toSet
    val vBefore = t.currentVersion()
    // third batch crosses the threshold → applyDeltas runs inline as a
    // follow-up commit
    t.upsertDeferred(Seq((200L, "d3", 1L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")
    assert(t.manifestAction().contains("compact-deltas"))
    assert(t.deltaManifest().isEmpty)
    assert(t.currentVersion() === vBefore + 2) // deferred commit + compaction
    // read results identical across the auto-compaction boundary
    val expected = rtBefore + ((200L, "d3", 1L))
    assert(t.read().as[(Long, String, Long)].collect().toSet === expected)
    assert(t.readBase().as[(Long, String, Long)].collect().toSet === expected)
    // the change feed reports the compaction commit as NO row-level
    // change (the q55 invariant): only the deferred upsert's own row
    // appears across the two-version window
    val changes = t.readChanges(vBefore, keyCols = Seq("id"))
      .select(col("id").cast("long"), col("_change_type"), col("_commit_version").cast("long"))
      .as[(Long, String, Long)].collect().toSeq
    assert(changes.filter(_._3 === vBefore + 2).isEmpty,
      s"compaction must report no changes, got $changes")
    assert(changes.map(c => (c._1, c._2)) === Seq((200L, "insert")))
    // a deferred DELETE also re-evaluates the threshold
    t.deleteDeferred(col("id") === 5L, keys = Seq("id"), precombine = "ts")
    t.deleteDeferred(col("id") === 6L, keys = Seq("id"), precombine = "ts")
    assert(t.deltaManifest().size === 2)
    t.deleteDeferred(col("id") === 200L, keys = Seq("id"), precombine = "ts")
    assert(t.deltaManifest().isEmpty)
    assert(t.manifestAction().contains("compact-deltas"))
    assert(t.read().count() === 98) // 100 base + 1 insert - 3 deletes
    assert(t.read().filter(col("id").isin(5L, 6L, 200L)).count() === 0)
  }

  test("merge-on-read: deferred upserts resolve at read time; applyDeltas compacts") {
    val t = SnapshotTable(spark, tmpDir("mor"))
    t.overwrite(spark.range(0, 100).toDF("id")
      .withColumn("v", lit("base")).withColumn("ts", lit(0L)))
    val baseFiles = t.manifest()
    t.upsertDeferred(Seq((5L, "d1", 1L), (200L, "new", 1L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")
    // delta landed WITHOUT touching any base file — O(batch) write
    assert(t.manifest() === baseFiles)
    assert(t.deltaManifest().nonEmpty)
    assert(t.manifestAction().contains("delta-upsert"))
    // real-time view: override + new key visible; read-optimized view stale
    assert(t.read().count() === 101)
    assert(t.read().filter(col("id") === 5).select("v").as[String].head() === "d1")
    assert(t.readBase().filter(col("id") === 5).select("v").as[String].head() === "base")
    assert(t.readBase().count() === 100)
    // scan (stats-pruned path) also serves the merged view
    assert(t.scan(col("id") === 200).count() === 1)
    assert(t.scan(col("id") === 5).select("v").as[String].head() === "d1")

    // replay semantics: a LATER batch wins ties; precombine wins within one
    t.upsertDeferred(Seq((5L, "d2", 1L), (5L, "d2-stale", 0L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")
    assert(t.read().filter(col("id") === 5).select("v").as[String].head() === "d2")

    // base rewrites are rejected while deltas are pending
    intercept[IllegalStateException](
      t.merge(Seq((1L, "x", 9L)).toDF("id", "v", "ts"), col("t.id") === col("s.id"))
        .whenMatched().updateAll().execute())

    // compaction folds deltas into the base and clears them
    val before = t.read().as[(Long, String, Long)].collect().toSet
    assert(t.applyDeltas() >= 1)
    assert(t.deltaManifest().isEmpty)
    assert(t.manifestAction().contains("compact-deltas"))
    assert(t.read().as[(Long, String, Long)].collect().toSet === before)
    assert(t.readBase().as[(Long, String, Long)].collect().toSet === before)
    // superseded delta/base files reclaimable afterwards
    assert(t.vacuum(retainVersions = 1, retainMillis = 0) >= 1)
    assert(t.read().as[(Long, String, Long)].collect().toSet === before)

    // MoR key/precombine config is TABLE state (Hudi table-config role):
    // the fold cleared the deltas but KEPT the config...
    val cfg = t.commitEntry(t.currentVersion())
    assert(cfg.morKeys === Some(List("id")))
    assert(cfg.morPrecombine === Some("ts"))
    // ...a CoW rewrite keeps it too...
    t.delete(col("id") === 99L)
    val cfg2 = t.commitEntry(t.currentVersion())
    assert(cfg2.morKeys === Some(List("id")) && cfg2.morPrecombine === Some("ts"))
    // ...and it only PINS the keying while deltas are pending: with a
    // clean overlay a re-key updates the config; with a pending one the
    // mismatch still fails loudly
    t.upsertDeferred(Seq((3L, "v2", 9L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")
    intercept[IllegalArgumentException](
      t.upsertDeferred(Seq(("x", 1L)).toDF("v", "ts"),
        keys = Seq("v"), precombine = "ts"))
    t.applyDeltas()
    t.upsertDeferred(Seq(("d2x", 10L)).toDF("v", "ts").withColumn("id", lit(5L)),
      keys = Seq("v"), precombine = "ts") // clean overlay: re-key allowed
    assert(t.commitEntry(t.currentVersion()).morKeys === Some(List("v")))
  }

  test("merge-on-read: many small delta batches stay correct and compact away") {
    val t = SnapshotTable(spark, tmpDir("mor_many"))
    t.overwrite(spark.range(0, 50).toDF("id")
      .withColumn("v", lit("base")).withColumn("ts", lit(0L)))
    // 12 micro-batches, each overriding one key with a rising precombine
    (1 to 12).foreach { i =>
      t.upsertDeferred(Seq(((i % 5).toLong, s"b$i", i.toLong)).toDF("id", "v", "ts"),
        keys = Seq("id"), precombine = "ts")
    }
    // keys 0..4 end on their LAST batch's value; base files never rewritten
    def expectFor(id: Long): String =
      "b" + (1 to 12).filter(_ % 5 == id).max
    val got = t.read().filter(col("id") < 5)
      .select("id", "v").as[(Long, String)].collect().toMap
    (0L to 4L).foreach(id => assert(got(id) === expectFor(id), s"id=$id"))
    assert(t.read().count() === 50)
    assert(t.deltaManifest().size >= 12)
    // one compaction folds all 12 batches
    assert(t.applyDeltas() >= 1)
    assert(t.deltaManifest().isEmpty)
    val after = t.read().filter(col("id") < 5)
      .select("id", "v").as[(Long, String)].collect().toMap
    (0L to 4L).foreach(id => assert(after(id) === expectFor(id), s"post-compact id=$id"))
  }

  test("merge-on-read: deferred deletes tombstone, resurrect, and fold in") {
    val t = SnapshotTable(spark, tmpDir("mor_del"))
    t.overwrite(spark.range(0, 100).toDF("id")
      .withColumn("v", lit("base")).withColumn("ts", lit(0L)))
    val baseFiles = t.manifest()
    // delete lands as a tombstone batch — O(matching keys), no base rewrite
    t.deleteDeferred(col("id") < 10, keys = Seq("id"), precombine = "ts")
    assert(t.manifest() === baseFiles)
    assert(t.deltaManifest().nonEmpty)
    assert(t.manifestAction().contains("delta-delete"))
    // RT view drops the keys; RO view still has them; scan agrees
    assert(t.read().count() === 90)
    assert(t.readBase().count() === 100)
    assert(t.scan(col("id") === 5).count() === 0)
    assert(t.scan(col("id") === 50).count() === 1)
    // delete composes with pending upserts: delete a delta-only key
    t.upsertDeferred(Seq((200L, "new", 1L)).toDF("id", "v", "ts"), Seq("id"), "ts")
    assert(t.read().count() === 91)
    t.deleteDeferred(col("id") === 200, Seq("id"), "ts")
    assert(t.read().count() === 90)
    // a LATER upsert of a tombstoned key resurrects it (batch order wins)
    t.upsertDeferred(Seq((5L, "back", 9L)).toDF("id", "v", "ts"), Seq("id"), "ts")
    assert(t.read().filter(col("id") === 5).select("v").as[String].head() === "back")
    assert(t.read().count() === 91)
    // no-op delete: no commit, MoR state untouched
    val vBefore = t.currentVersion()
    t.deleteDeferred(col("id") === 99999, Seq("id"), "ts")
    assert(t.currentVersion() === vBefore)
    // time travel sees the pre-delete state
    assert(t.readVersion(0).count() === 100)
    // compaction folds tombstones into the base rewrite
    val before = t.read().as[(Long, String, Long)].collect().toSet
    assert(t.applyDeltas() >= 1)
    assert(t.deltaManifest().isEmpty)
    assert(t.read().as[(Long, String, Long)].collect().toSet === before)
    assert(t.readBase().as[(Long, String, Long)].collect().toSet === before)
    assert(t.read().count() === 91)
    // marker never leaks into any read surface
    Seq(t.read(), t.readBase(), t.readVersion(1)).foreach(df =>
      assert(!df.columns.exists(_.contains("delete")), df.columns.mkString(",")))
  }

  test("incremental read serves deferred upserts but never delete tombstones") {
    val t = SnapshotTable(spark, tmpDir("mor_inc"))
    t.overwrite(Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L)).toDF("id", "v", "ts"))
    t.upsertDeferred(Seq((2L, "b2", 1L)).toDF("id", "v", "ts"), Seq("id"), "ts") // v1
    t.deleteDeferred(col("id") === 1, Seq("id"), "ts")                           // v2
    // the upsert batch surfaces; the tombstone batch must NOT surface as
    // phantom all-null-payload rows (a delete has no row shape in a
    // plain incremental feed — readChanges carries it instead)
    val inc = t.readIncremental(0).as[(Long, String, Long)].collect().toSet
    assert(inc === Set((2L, "b2", 1L)))
    assert(t.readIncremental(1).count() === 0)
    assert(t.readIncremental(0).columns.toSeq === Seq("id", "v", "ts"))
  }

  test("MoR-routed update with no matching rows commits nothing") {
    val t = SnapshotTable(spark, tmpDir("mor_upd_noop"))
    t.overwrite(Seq((1L, "a", 0L)).toDF("id", "v", "ts"))
    t.upsertDeferred(Seq((1L, "d1", 1L)).toDF("id", "v", "ts"), Seq("id"), "ts")
    val vBefore = t.currentVersion()
    val deltasBefore = t.deltaManifest()
    assert(t.update(col("id") === 99999, Map("v" -> lit("x"))) === 0)
    assert(t.currentVersion() === vBefore, "junk version committed for a no-op update")
    assert(t.deltaManifest() === deltasBefore)
  }

  test("update/delete on a delta-bearing table land as deferred batches") {
    val t = SnapshotTable(spark, tmpDir("mor_upd"))
    t.overwrite(spark.range(0, 10).toDF("id")
      .withColumn("v", lit("base")).withColumn("ts", lit(0L)))
    t.upsertDeferred(Seq((3L, "d1", 1L)).toDF("id", "v", "ts"), Seq("id"), "ts")
    val baseFiles = t.manifest()
    // MoR update = deferred upsert of the re-assigned matching rows
    assert(t.update(col("id") <= 4, Map("v" -> lit("upd"))) === 0)
    assert(t.manifest() === baseFiles, "base was rewritten")
    assert(t.manifestAction().contains("delta-update"))
    val got = t.read().select("id", "v").as[(Long, String)].collect().toMap
    (0L to 4L).foreach(id => assert(got(id) === "upd", s"id=$id"))
    (5L to 9L).foreach(id => assert(got(id) === "base", s"id=$id"))
    // assigning a record-key column is rejected while deltas are pending
    val e = intercept[IllegalArgumentException](
      t.update(lit(true), Map("id" -> lit(99L))))
    assert(e.getMessage.contains("record-key"))
    // MoR delete = tombstone batch through the same dispatch
    assert(t.delete(col("id") === 7) === 0)
    assert(t.manifest() === baseFiles)
    assert(t.read().count() === 9)
    // fold-in agrees with the RT view
    val before = t.read().as[(Long, String, Long)].collect().toSet
    t.applyDeltas()
    assert(t.read().as[(Long, String, Long)].collect().toSet === before)
  }

  test("deferred upserts and deletes work under a column mapping (rename)") {
    val t = SnapshotTable(spark, tmpDir("mor_map"))
    t.overwrite(Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L)).toDF("id", "v", "ts"))
    t.renameColumn("v", "val") // files keep the physical name `v`
    t.upsertDeferred(Seq((2L, "b2", 1L)).toDF("id", "val", "ts"), Seq("id"), "ts")
    t.deleteDeferred(col("id") === 1, Seq("id"), "ts")
    assert(t.read().as[(Long, String, Long)].collect().toSet ===
      Set((2L, "b2", 1L), (3L, "c", 0L)))
    t.applyDeltas()
    assert(t.read().as[(Long, String, Long)].collect().toSet ===
      Set((2L, "b2", 1L), (3L, "c", 0L)))
    assert(t.read().columns.toSeq === Seq("id", "val", "ts"))
  }

  test("change feed reports deferred deletes as delete rows") {
    val t = SnapshotTable(spark, tmpDir("mor_del_cdf"))
    t.overwrite(Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L)).toDF("id", "v", "ts"))
    t.deleteDeferred(col("id") <= 2, keys = Seq("id"), precombine = "ts")
    val feed = t.readChanges(0)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(feed === Set((1L, "delete", 1L), (2L, "delete", 1L)))
    // fold-in compaction reports no further change
    t.applyDeltas()
    assert(t.readChanges(1).count() === 0)
  }

  test("applyChanges materializes a change feed into a downstream mirror") {
    // source evolves through CoW update, delete, and MoR deferred batches
    val src = SnapshotTable(spark, tmpDir("cdc_src"))
    src.overwrite((1L to 20L).map(i => (i, s"v$i", 0L)).toDF("id", "v", "ts"))
    val mirror = SnapshotTable(spark, tmpDir("cdc_mir"))
    mirror.overwrite(src.readVersion(0)) // bootstrap from the v0 snapshot
    src.update(col("id") % 5 === 0, Map("v" -> lit("upd")))       // v1
    src.delete(col("id") % 7 === 3)                               // v2
    src.upsertDeferred(Seq((100L, "new", 1L)).toDF("id", "v", "ts"),
      Seq("id"), "ts")                                            // v3
    src.deleteDeferred(col("id") === 1, Seq("id"), "ts")          // v4
    // replay the whole window in one application
    mirror.applyChanges(src.readChanges(0, keyCols = Seq("id")), Seq("id"))
    def snap(t: SnapshotTable) = t.read().as[(Long, String, Long)].collect().toSet
    assert(snap(mirror) === snap(src), "mirror diverged from source")
    // idempotent: re-applying the same window changes nothing
    mirror.applyChanges(src.readChanges(0, keyCols = Seq("id")), Seq("id"))
    assert(snap(mirror) === snap(src))
    // incremental catch-up: new source commits, apply only the tail window
    val v = src.currentVersion()
    src.update(col("id") === 2, Map("v" -> lit("late")))
    src.delete(col("id") === 4)
    mirror.applyChanges(src.readChanges(v, keyCols = Seq("id")), Seq("id"))
    assert(snap(mirror) === snap(src), "incremental catch-up diverged")
    // a key deleted then re-inserted inside one window converges to insert
    val v2 = src.currentVersion()
    src.delete(col("id") === 6) // lands as a tombstone (deltas pending)
    src.upsertDeferred(Seq((6L, "reborn", 9L)).toDF("id", "v", "ts"), Seq("id"), "ts")
    mirror.applyChanges(src.readChanges(v2, keyCols = Seq("id")), Seq("id"))
    assert(snap(mirror) === snap(src), "delete+reinsert window diverged")
    // OVERLAPPING windows (not just identical ones): a consumer that
    // re-reads from an old cursor replays already-applied changes mixed
    // with new ones — the latest-change-per-key reduction must converge
    val v3 = src.currentVersion()
    src.update(col("id") === 8, Map("v" -> lit("w1")))
    mirror.applyChanges(src.readChanges(v3, keyCols = Seq("id")), Seq("id"))
    src.update(col("id") === 8, Map("v" -> lit("w2")))
    src.delete(col("id") === 9)
    // window (v3, head] overlaps the (v3, v3+1] already applied above
    mirror.applyChanges(src.readChanges(v3, keyCols = Seq("id")), Seq("id"))
    assert(snap(mirror) === snap(src), "overlapping replay windows diverged")
  }

  test("meta-columns: _commit_version/_commit_ts trace file lineage") {
    val t = SnapshotTable(spark, tmpDir("meta"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    val m = t.readWithMeta()
    assert(m.columns.takeRight(2).toSeq === Seq("_commit_version", "_commit_ts"))
    assert(m.select("id", "_commit_version").as[(Int, Long)].collect().toSet ===
      Set((1, 0L), (2, 1L)))
    assert(m.filter(col("_commit_ts").isNull).count() === 0)
    // carried-forward files keep their ORIGINAL commit lineage across a merge
    t.merge(Seq((2, "b2")).toDF("id", "v"), col("t.id") === col("s.id"))
      .whenMatched().updateAll().execute()
    val afterMerge = t.readWithMeta()
      .select("id", "_commit_version").as[(Int, Long)].collect().toSet
    assert(afterMerge.contains((1, 0L))) // untouched file: still version 0
    assert(afterMerge.contains((2, 2L))) // rewritten row: the merge commit
    // record-key helper (Hudi _hoodie_record_key shape)
    val rk = SnapshotTable.withRecordKey(t.read(), Seq("id", "v"))
      .filter(col("id") === 1).select("_record_key").as[String].head()
    assert(rk === "id:1,v:a")
  }

  test("history lists commits newest-first; restore re-references old files") {
    val t = SnapshotTable(spark, tmpDir("hist"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    t.delete(col("id") === 1)
    val h = t.history()
    assert(h.map(_.version) === Seq(2L, 1L, 0L))
    assert(h.map(_.action) === Seq("delete", "append", "overwrite"))
    assert(h.forall(_.ts.isDefined))
    // restore to pre-delete state: new commit, no data copied
    val filesAtV1 = t.readVersion(1).inputFiles.toSet
    t.restore(1)
    assert(t.currentVersion() === 3)
    assert(t.read().as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
    assert(t.read().inputFiles.toSet === filesAtV1) // re-referenced, not rewritten
    assert(t.manifestAction().contains("restore-1"))
    // the restored-over delete remains time-travelable
    assert(t.readVersion(2).as[(Int, String)].collect().toSet === Set((2, "b")))
  }

  test("incremental read returns only files committed after the cursor") {
    val t = SnapshotTable(spark, tmpDir("incr"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))   // v0
    t.append(Seq((2, "b")).toDF("id", "v"))      // v1
    t.append(Seq((3, "c")).toDF("id", "v"))      // v2
    // consumer saw v0: the increment is exactly the appended rows
    assert(t.readIncremental(0).as[(Int, String)].collect().toSet ===
      Set((2, "b"), (3, "c")))
    assert(t.readIncremental(1).as[(Int, String)].collect().toSet === Set((3, "c")))
    assert(t.readIncremental(2).count() === 0)
    // bounded window (v0, v1]
    assert(t.readIncremental(0, 1).as[(Int, String)].collect().toSet === Set((2, "b")))
    // fromVersion < 0 = everything
    assert(t.readIncremental(-1).count() === 3)
    // a CoW merge re-surfaces the rewritten file's rows
    t.merge(Seq((3, "c2")).toDF("id", "v"), col("t.id") === col("s.id"))
      .whenMatched().updateAll().execute()  // v3
    assert(t.readIncremental(2).as[(Int, String)].collect().toSet === Set((3, "c2")))
  }

  test("incremental read surfaces pending MoR delta batches") {
    val t = SnapshotTable(spark, tmpDir("incr_mor"))
    t.overwrite(Seq((1, "a", 0L)).toDF("id", "v", "ts"))          // v0
    t.upsertDeferred(Seq((1, "a2", 1L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")                        // v1 (delta)
    t.upsertDeferred(Seq((2, "b", 1L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")                        // v2 (delta)
    // consumer saw v0: both deferred batches are the increment
    assert(t.readIncremental(0).as[(Int, String, Long)].collect().toSet ===
      Set((1, "a2", 1L), (2, "b", 1L)))
    // consumer saw v1: only the second batch
    assert(t.readIncremental(1).as[(Int, String, Long)].collect().toSet ===
      Set((2, "b", 1L)))
  }

  test("CHECK constraints: violating writes fail, no commit happens") {
    val t = SnapshotTable(spark, tmpDir("constraints"))
    t.overwrite(Seq((1, 10.0)).toDF("id", "bal"))
    t.setProperties(Map(
      "graft.constraint.positive_bal" -> "bal >= 0",
      "graft.constraint.id_not_null" -> "id IS NOT NULL"))
    val v = t.currentVersion()
    // violating append: write job fails, version unchanged, data invisible
    val e = intercept[Exception](t.append(Seq((2, -5.0)).toDF("id", "bal")))
    assert(e.getMessage != null)
    assert(t.currentVersion() === v)
    assert(t.read().count() === 1)
    // valid append passes; constraint rides the property machinery
    t.append(Seq((2, 5.0)).toDF("id", "bal"))
    assert(t.read().count() === 2)
    // a merge producing a violating row fails too (same write chokepoint)
    intercept[Exception] {
      t.merge(Seq((2, -1.0)).toDF("id", "bal"), col("t.id") === col("s.id"))
        .whenMatched().updateAll().execute()
    }
    assert(t.read().filter(col("bal") < 0).count() === 0)
    // dropping the constraint re-permits the write
    t.unsetProperties(Seq("graft.constraint.positive_bal"))
    t.append(Seq((3, -7.0)).toDF("id", "bal"))
    assert(t.read().count() === 3)
    // re-adding it now fails: EXISTING rows violate (Delta ADD CONSTRAINT
    // scans) — otherwise any later rewrite touching that file would abort
    val eAdd = intercept[IllegalArgumentException](
      t.setProperties(Map("graft.constraint.positive_bal" -> "bal >= 0")))
    assert(eAdd.getMessage.contains("existing rows"))
  }

  test("shallow clone: zero-copy, then diverges independently") {
    val t = SnapshotTable(spark, tmpDir("clone_src"))
    t.overwrite(spark.range(0, 100).toDF("id").withColumn("v", lit("src")))
    val c = t.shallowCloneTo(tmpDir("clone_dst"))
    // same files, no data copied
    assert(c.manifest() === t.manifest())
    assert(c.read().count() === 100)
    assert(c.manifestAction().exists(_.startsWith("clone-of:")))
    // clone evolves independently; source untouched
    c.update(col("id") < 10, Map("v" -> lit("cloned")))
    assert(c.read().filter(col("v") === "cloned").count() === 10)
    assert(t.read().filter(col("v") === "cloned").count() === 0)
    // the clone's rewrite landed under its own root; untouched files are
    // still shared with the source
    assert(c.manifest().exists(!t.manifest().contains(_)))
    assert(c.manifest().exists(t.manifest().contains))
    // clone vacuum only reclaims under its own data dir — source intact
    c.overwrite(Seq((1L, "x")).toDF("id", "v"))
    c.vacuum(retainVersions = 1, retainMillis = 0)
    assert(t.read().count() === 100)
    // guards: non-empty target, pending deltas
    intercept[IllegalArgumentException](t.shallowCloneTo(c.root))
  }

  test("ADD COLUMNS: metadata-only evolution; old files read NULL, writes fill in") {
    import org.apache.spark.sql.types.{DoubleType, StructField}
    val t = SnapshotTable(spark, tmpDir("addcol"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    val filesBefore = t.manifest()
    t.addColumns(Seq(StructField("score", DoubleType)))
    assert(t.manifest() === filesBefore) // no data touched
    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "score"))
    assert(t.read().select("id", "v", "score")
      .as[(Int, String, Option[Double])].collect().toSet === Set((1, "a", None)))
    // subsequent writes carry the new column; aligned by name
    t.append(Seq((2, "b", 7.5)).toDF("id", "v", "score"))
    assert(t.read().as[(Int, String, Option[Double])].collect().toSet ===
      Set((1, "a", None), (2, "b", Some(7.5))))
    // a producer built BEFORE the DDL (no score column) keeps working
    t.append(Seq((3, "c")).toDF("id", "v"))
    assert(t.read().filter(col("id") === 3)
      .select("score").as[Option[Double]].head() === None)
    // time travel still reads the old schema
    assert(t.readVersion(0).schema.fieldNames.toSeq === Seq("id", "v"))
    // duplicate add fails loudly
    intercept[IllegalArgumentException](
      t.addColumns(Seq(StructField("SCORE", DoubleType))))
  }

  test("timestamp time travel: versionAsOf/readAsOf resolve wall-clock instants") {
    val t = SnapshotTable(spark, tmpDir("asof"))
    t.overwrite(Seq((1, "a")).toDF("id", "v")) // v0
    Thread.sleep(20) // commit timestamps are millis; force distinct instants
    t.overwrite(Seq((2, "b")).toDF("id", "v")) // v1
    val h = t.history() // newest first
    val ts0 = h.last.ts.get
    val ts1 = h.head.ts.get
    assert(ts1.getTime > ts0.getTime)
    assert(t.versionAsOf(ts0.getTime) === 0)
    assert(t.readAsOf(ts0).as[(Int, String)].collect().toSet === Set((1, "a")))
    // an instant strictly between the commits still sees v0
    assert(t.versionAsOf(ts1.getTime - 1) === 0)
    // "now" sees the latest
    assert(t.readAsOf(new java.sql.Timestamp(System.currentTimeMillis()))
      .as[(Int, String)].collect().toSet === Set((2, "b")))
    // before the first commit: no snapshot existed
    intercept[IllegalArgumentException](t.versionAsOf(ts0.getTime - 3600000))
  }

  test("symlink manifest: published on every commit while enabled") {
    val root = tmpDir("symlink")
    val t = SnapshotTable.create(spark, root, Seq((1, "a")).toDF("id", "v"))
    val mf = java.nio.file.Paths.get(root, "_symlink_format_manifest", "manifest")
    assert(!java.nio.file.Files.exists(mf)) // off by default
    def lines(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(mf).asScala.filter(_.nonEmpty).toSet
    }
    // enabling is itself a commit → the artifact appears immediately
    t.setProperties(Map("graft.symlink.manifest" -> "true"))
    assert(lines() === t.manifest().toSet)
    t.overwrite(Seq((2, "b"), (3, "c")).toDF("id", "v"))
    assert(lines() === t.manifest().toSet)
    t.merge(Seq((3, "c2")).toDF("id", "v"), col("t.id") === col("s.id"))
      .whenMatched().updateAll().execute()
    assert(lines() === t.manifest().toSet)
    (4 to 6).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    t.compact(targetFileBytes = 1024 * 1024, smallFileBytes = 1024 * 1024)
    assert(lines() === t.manifest().toSet)
  }

  test("row-level UPDATE rewrites only files that may match") {
    val t = SnapshotTable(spark, tmpDir("upd"))
    t.overwrite(spark.range(0, 100).toDF("id").withColumn("v", lit("old")))
    t.append(spark.range(100, 200).toDF("id").withColumn("v", lit("old")))
    val before = t.manifest().toSet
    val touched = t.prunedManifest(col("id") === 150).size
    val rewritten = t.update(col("id") === 150, Map("v" -> lit("new")))
    assert(rewritten === touched && touched >= 1)
    // untouched files carried forward verbatim
    assert((before intersect t.manifest().toSet).size === before.size - touched)
    assert(t.read().filter(col("v") === "new").select("id").as[Long].collect().toSeq
      === Seq(150L))
    assert(t.read().count() === 200)
    assert(t.manifestAction().contains("update"))
    // assignment may derive from existing columns
    t.update(col("id") < 10, Map("v" -> concat(lit("x"), col("id").cast("string"))))
    assert(t.read().filter(col("id") === 5).select("v").as[String].head() === "x5")
    // stats prove no file can match → no commit at all
    val ver = t.currentVersion()
    assert(t.update(col("id") === 99999, Map("v" -> lit("z"))) === 0)
    assert(t.currentVersion() === ver)
    // unknown assignment column fails loudly
    intercept[IllegalArgumentException](t.update(lit(true), Map("nope" -> lit(1))))
  }

  test("read-compute-commit OCC: replaceFiles rejects a stale snapshot") {
    val t = SnapshotTable(spark, tmpDir("occ"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    val v = t.currentVersion()
    t.append(Seq((2, "b")).toDF("id", "v")) // a commit lands in between
    // a rewrite computed against version v must NOT commit over it —
    // silently clearing the interleaved commit would lose it (the
    // applyDeltas/merge/delete read-compute-commit race)
    intercept[SnapshotTable.ConcurrentCommitException] {
      t.replaceFiles(Nil, Seq((9, "z")).toDF("id", "v"), "merge",
        expectVersion = Some(v))
    }
    assert(t.read().count() === 2) // nothing was lost
  }

  test("incremental read: empty/inverted windows are empty, expired cursors explain") {
    val t = SnapshotTable(spark, tmpDir("incr_edge"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    // caught-up and ahead-of-table cursors: empty frame, current schema
    assert(t.readIncremental(0).count() === 0)
    assert(t.readIncremental(5).count() === 0)
    assert(t.readIncremental(5).schema.fieldNames.toSeq === Seq("id", "v"))
    // vacuum-expired cursor: clear re-bootstrap error, not FileNotFound
    t.overwrite(Seq((2, "b")).toDF("id", "v"))
    t.overwrite(Seq((3, "c")).toDF("id", "v"))
    t.vacuum(retainVersions = 1, retainMillis = 0)
    val e = intercept[IllegalStateException](t.readIncremental(0, 2))
    assert(e.getMessage.contains("re-bootstrap"))
  }

  test("symlink manifest is removed when the property is unset") {
    val root = tmpDir("symlink_unset")
    val t = SnapshotTable.create(spark, root, Seq((1, "a")).toDF("id", "v"))
    t.setProperties(Map("graft.symlink.manifest" -> "true"))
    val mf = java.nio.file.Paths.get(root, "_symlink_format_manifest", "manifest")
    assert(java.nio.file.Files.exists(mf))
    t.unsetProperties(Seq("graft.symlink.manifest"))
    assert(!java.nio.file.Files.exists(mf), "stale manifest still advertised")
  }

  test("incremental read serves files with the schema of their own version") {
    val t = SnapshotTable(spark, tmpDir("incr_schema"))
    t.overwrite(Seq((1, "a")).toDF("id", "v")) // v0: v string
    t.append(Seq((2, "b")).toDF("id", "v"))    // v1
    t.overwrite(Seq((3, 7.5)).toDF("id", "v")) // v2: v RETYPED to double
    // the (v0, v1] window must read v1's files with v1's schema — the
    // current schema would misread them (all-null / wrong-typed column)
    assert(t.readIncremental(0, 1).as[(Int, String)].collect().toSet === Set((2, "b")))
    assert(t.readIncremental(1, 2).as[(Int, Double)].collect().toSet === Set((3, 7.5)))
  }

  test("change feed: keyed CDF tags inserts/updates/deletes, carried rows cancel") {
    val t = SnapshotTable.create(spark, tmpDir("cdf"),
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"))
    t.update(col("id") === 2, Map("v" -> lit("B")))   // v1
    t.delete(col("id") === 3)                         // v2
    t.append(Seq((5, "e")).toDF("id", "v"))           // v3

    def feed(from: Long, to: Long) =
      t.readChanges(from, to, keyCols = Seq("id"))
        .select($"id", $"v", $"_change_type", $"_commit_version")
        .as[(Int, String, String, Long)].collect().toSet

    // the update's CoW rewrite carried rows of the same file — they cancel
    assert(feed(0, 1) === Set((2, "b", "update_preimage", 1L),
      (2, "B", "update_postimage", 1L)))
    assert(feed(1, 2) === Set((3, "c", "delete", 2L)))
    assert(feed(2, 3) === Set((5, "e", "insert", 3L)))
    // fromVersion = -1 streams the initial snapshot as inserts too
    val v0 = t.readChanges(-1, 0, keyCols = Seq("id"))
    assert(v0.select($"_change_type").distinct().as[String].collect().toSeq
      === Seq("insert"))
    assert(v0.count() === 4)
    // caught-up window is empty, same columns
    assert(t.readChanges(3).count() === 0)
    // _commit_ts is stamped from the commit entry
    assert(t.readChanges(0, 1, keyCols = Seq("id"))
      .filter($"_commit_ts".isNotNull).count() === 2)
  }

  test("change feed: key-less multiset diff; graft.cdf.keys property as default") {
    val t = SnapshotTable.create(spark, tmpDir("cdf2"),
      Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.overwrite(Seq((1, "a"), (2, "B"), (3, "c")).toDF("id", "v")) // v1
    // no key: updates surface as delete+insert
    val raw = t.readChanges(0, 1)
      .select($"id", $"v", $"_change_type").as[(Int, String, String)].collect().toSet
    assert(raw === Set((2, "b", "delete"), (2, "B", "insert"), (3, "c", "insert")))
    // explicit keyCols pair the same commit into pre/postimage
    val keyed = t.readChanges(0, 1, keyCols = Seq("id"))
      .select($"id", $"v", $"_change_type").as[(Int, String, String)].collect().toSet
    assert(keyed === Set((2, "b", "update_preimage"), (2, "B", "update_postimage"),
      (3, "c", "insert")))
    // the table property supplies the key when keyCols is not passed
    t.setProperties(Map("graft.cdf.keys" -> "id"))            // v2: metadata-only
    assert(t.readChanges(1, 2).count() === 0)
    t.overwrite(Seq((1, "a"), (2, "B2"), (3, "c")).toDF("id", "v")) // v3
    val byProp = t.readChanges(2, 3)
      .select($"id", $"v", $"_change_type").as[(Int, String, String)].collect().toSet
    assert(byProp === Set((2, "B", "update_preimage"), (2, "B2", "update_postimage")))
  }

  test("change feed: deferred upserts surface; fold-in compaction is silent") {
    val t = SnapshotTable.create(spark, tmpDir("cdf3"),
      Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("id", "v", "ts"))
    t.upsertDeferred(Seq((2L, "B", 1L), (3L, "c", 1L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")            // v1: MoR delta batch
    val d = t.readChanges(0, 1)
      .select($"id", $"v", $"_change_type").as[(Long, String, String)].collect().toSet
    assert(d === Set((2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
      (3L, "c", "insert")))
    t.applyDeltas()                                   // v2: fold-in, no logical change
    assert(t.readChanges(1, 2).count() === 0)
  }

  test("change feed: schema evolution across the range aligns by name") {
    val t = SnapshotTable.create(spark, tmpDir("cdf4"),
      Seq((1, "a")).toDF("id", "v"))
    t.addColumns(new org.apache.spark.sql.types.StructType()
      .add("extra", org.apache.spark.sql.types.StringType)) // v1: metadata-only
    t.append(Seq((2, "b", "x")).toDF("id", "v", "extra"))   // v2
    val rows = t.readChanges(-1, 2, keyCols = Seq("id"))
      .select($"id", $"v", $"extra", $"_change_type", $"_commit_version")
      .as[(Int, String, Option[String], String, Long)].collect().toSet
    assert(rows === Set((1, "a", None, "insert", 0L), (2, "b", Some("x"), "insert", 2L)))
  }

  test("rename column: metadata-only mapping; reads, writes, pruning all follow") {
    val t = SnapshotTable.create(spark, tmpDir("ren"),
      spark.range(0, 400).toDF("id").withColumn("v", concat(lit("p"), col("id")))
        .repartitionByRange(4, col("id")))
    val filesBefore = t.manifest()
    t.renameColumn("id", "key")                       // v1: metadata-only
    assert(t.manifest() === filesBefore)              // no file rewritten
    assert(t.schema.fieldNames.toSeq === Seq("key", "v"))
    assert(t.read().filter($"key" === 7).select($"v").as[String].head() === "p7")
    // stats were remapped with the name: pruning on the renamed key works
    assert(t.prunedManifest($"key" === 103).size === 1)
    assert(t.scan($"key" === 103).count() === 1)
    // writes keep emitting the PHYSICAL name so live files stay uniform
    t.append(Seq((1000L, "new")).toDF("key", "v"))    // v2
    val newFile = t.manifest().diff(filesBefore)
    assert(newFile.nonEmpty &&
      spark.read.parquet(newFile: _*).schema.fieldNames.toSeq === Seq("id", "v"))
    assert(t.read().filter($"key" === 1000).count() === 1)
    // row-level ops through the mapping
    t.update($"key" === 7, Map("v" -> lit("P7")))     // v3
    assert(t.scan($"key" === 7).select($"v").as[String].head() === "P7")
    t.delete($"key" === 8)                            // v4
    assert(t.read().filter($"key" === 8).count() === 0)
    // time travel sees each version's own names
    assert(t.readVersion(0).schema.fieldNames.toSeq === Seq("id", "v"))
    // chained rename composes (key → pk still maps to physical id)
    t.renameColumn("key", "pk")                       // v5
    assert(t.read().filter($"pk" === 7).select($"v").as[String].head() === "P7")
    // a full rewrite materializes the rename and clears the mapping
    t.overwrite(t.read())                             // v6
    assert(spark.read.parquet(t.manifest(): _*).schema.fieldNames.toSeq
      === Seq("pk", "v"))
    // ... after which re-using the old physical name is safe again
    t.addColumns(Seq(org.apache.spark.sql.types.StructField(
      "id", org.apache.spark.sql.types.LongType)))
    assert(t.schema.fieldNames.toSeq === Seq("pk", "v", "id"))
  }

  test("rename column guards: collisions, constraints, physical-name reuse") {
    val t = SnapshotTable.create(spark, tmpDir("ren2"),
      Seq((1L, "a", 10.0)).toDF("id", "v", "price"))
    intercept[IllegalArgumentException](t.renameColumn("id", "v"))
    intercept[IllegalArgumentException](t.renameColumn("nope", "x"))
    t.setProperties(Map("graft.constraint.pos" -> "price >= 0"))
    intercept[IllegalArgumentException](t.renameColumn("price", "cost"))
    t.renameColumn("v", "payload")
    // the physical name "v" is still carried by live files — re-adding it
    // would resurrect payload's bytes under a new logical column
    intercept[IllegalArgumentException](t.addColumns(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType))))
    // renaming ANOTHER column onto the physical name is just as unsafe
    t.addColumns(Seq(org.apache.spark.sql.types.StructField("extra",
      org.apache.spark.sql.types.StringType)))
    intercept[IllegalArgumentException](t.renameColumn("extra", "v"))
    // round-trip rename back to the original name empties the mapping
    t.renameColumn("payload", "v")
    assert(t.read().select($"v").as[String].head() === "a")
    val newFile = { t.append(Seq((2L, "b", 1.0, "e")).toDF("id", "v", "price", "extra")); t }
    assert(t.scan($"v" === "b").count() === 1)
  }

  test("rename column: MoR deltas, upserts, and the change feed follow the mapping") {
    val t = SnapshotTable.create(spark, tmpDir("ren3"),
      Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("id", "v", "ts"))
    t.upsertDeferred(Seq((2L, "B", 1L)).toDF("id", "v", "ts"),
      keys = Seq("id"), precombine = "ts")            // v1: pending delta
    t.renameColumn("id", "key")                       // v2: remaps morKeys too
    assert(t.read().orderBy($"key").select($"v").as[String].collect().toSeq
      === Seq("a", "B"))
    // deferred upserts keep working under the new key name
    t.upsertDeferred(Seq((3L, "c", 2L)).toDF("key", "v", "ts"),
      keys = Seq("key"), precombine = "ts")           // v3
    assert(t.read().count() === 3)
    t.applyDeltas()                                   // v4: fold-in
    assert(t.readChanges(3, 4).count() === 0)         // compaction is silent
    // CDF across the rename window aligns by the current logical names
    val d = t.readChanges(2, 3)
      .select($"key", $"v", $"_change_type").as[(Long, String, String)].collect().toSet
    assert(d === Set((3L, "c", "insert")))
  }

  test("type widening: metadata-only, old files up-cast, pruning stays sound") {
    val t = SnapshotTable.create(spark, tmpDir("widen"),
      spark.range(0, 200).select(col("id").cast("int").as("id"),
          (col("id") / 4).cast("float").as("score"))
        .repartitionByRange(4, col("id")))
    val filesBefore = t.manifest()
    t.widenColumnType("id", org.apache.spark.sql.types.LongType)
    t.widenColumnType("score", org.apache.spark.sql.types.DoubleType)
    assert(t.manifest() === filesBefore) // no data rewritten
    assert(t.schema("id").dataType === org.apache.spark.sql.types.LongType)
    // narrow files read through the wide schema, values intact
    assert(t.read().filter($"id" === 7L).select($"score").as[Double].head() === 1.75)
    // stats pruning on the widened column still opens one file
    assert(t.prunedManifest($"id" === 103L).size === 1)
    assert(t.scan($"id" === 103L).count() === 1)
    // new writes land wide; values beyond int range round-trip
    t.append(Seq((9999999999L, 0.5)).toDF("id", "score"))
    assert(t.scan($"id" === 9999999999L).count() === 1)
    // lossy retypes are refused
    intercept[IllegalArgumentException](
      t.widenColumnType("id", org.apache.spark.sql.types.DoubleType))
    intercept[IllegalArgumentException](
      t.widenColumnType("id", org.apache.spark.sql.types.IntegerType))
    intercept[IllegalArgumentException](
      t.widenColumnType("score", org.apache.spark.sql.types.FloatType))
    // widening composes with a rename (mapping + wide type both apply)
    t.renameColumn("score", "quality")
    assert(t.read().filter($"id" === 7L).select($"quality").as[Double].head() === 1.75)
  }

  test("rename/drop follow the change-feed key; widened appends up-cast") {
    val t = SnapshotTable.create(spark, tmpDir("rev"),
      Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.setProperties(Map("graft.cdf.keys" -> "id"))
    t.renameColumn("id", "key") // must remap graft.cdf.keys with it
    t.update(col("key") === 2, Map("v" -> lit("B")))
    val d = t.readChanges(2, 3).select($"key", $"v", $"_change_type")
      .as[(Int, String, String)].collect().toSet
    assert(d === Set((2, "b", "update_preimage"), (2, "B", "update_postimage")))
    // dropping the CDF key column is refused, like MoR/cluster/constraint cols
    intercept[IllegalArgumentException](t.dropColumns(Seq("key")))
    // a widened table keeps accepting the original narrow producers
    val t2 = SnapshotTable.create(spark, tmpDir("rev2"),
      Seq((1, 1.5f)).toDF("id", "score"))
    t2.widenColumnType("score", org.apache.spark.sql.types.DoubleType)
    t2.append(Seq((2, 2.5f)).toDF("id", "score")) // float producer: up-cast
    assert(t2.read().orderBy($"id").select($"score").as[Double].collect().toSeq
      === Seq(1.5, 2.5))
    // case-only rename is a rename, not a collision
    t2.renameColumn("id", "ID")
    assert(t2.schema.fieldNames.toSeq === Seq("ID", "score"))
    assert(t2.read().count() === 2)
  }

  test("merge carries forward stats of untouched files (pruning still works)") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    t.overwrite(spark.range(0, 100).toDF("id").withColumn("v", lit("old")))
    t.append(spark.range(100, 200).toDF("id").withColumn("v", lit("old")))
    t.merge(Seq((150L, "new")).toDF("id", "v"), col("t.id") === col("s.id"))
      .whenMatched().updateAll()
      .execute()
    // untouched file [0,100) kept its stats → point lookup in it prunes to 1
    assert(t.prunedManifest(col("id") === 50).size === 1)
    assert(t.scan(col("id") === 50).count() === 1)
  }

  test("overwriteWhere replaces exactly the predicate scope in one commit") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    t.overwrite(spark.range(0, 100).toDF("id").withColumn("v", lit("old")))
    t.append(spark.range(100, 200).toDF("id").withColumn("v", lit("old")))
    val untouchedFiles = t.prunedManifest(col("id") < 100).toSet
    val vBefore = t.currentVersion()

    // re-materialize the [100, 200) slice with fewer, different rows
    t.overwriteWhere(col("id") >= 100,
      Seq((150L, "new"), (199L, "new")).toDF("id", "v"))
    assert(t.currentVersion() === vBefore + 1, "one atomic commit")
    val rows = t.read().as[(Long, String)].collect()
    assert(rows.count(_._2 == "old") === 100) // [0,100) untouched
    assert(rows.filter(_._2 == "new").map(_._1).sorted.toSeq === Seq(150L, 199L))
    assert(rows.length === 102)
    // the out-of-scope file carried forward untouched (same physical file)
    assert(untouchedFiles.subsetOf(t.manifest().toSet))

    // incoming rows outside the predicate fail the WRITE JOB (raise_error
    // guard in the write projection — single pass) before any commit
    val bad = intercept[Exception](
      t.overwriteWhere(col("id") >= 100, Seq((5L, "rogue")).toDF("id", "v")))
    val chain = Iterator.iterate(bad: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.contains("satisfy"), s"unexpected failure: $chain")
    assert(t.currentVersion() === vBefore + 1, "failed write must not commit")
    assert(t.read().count() === 102)
  }

  test("racing blind appends auto-retry onto file-only heads (no lost rows)") {
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    val root = tmpDir("appendretry")
    SnapshotTable.create(spark, root, Seq((0, "seed")).toDF("id", "v"))
    val n = 4
    val barrier = new CyclicBarrier(n)
    val pool = Executors.newFixedThreadPool(n)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to n).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val t = SnapshotTable(spark, root)
            barrier.await(60, TimeUnit.SECONDS)
            t.append(Seq((i, s"w$i")).toDF("id", "v"))
          } catch { case e: Throwable => errs.add(e) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS))
    assert(errs.isEmpty,
      s"losing appends must re-base and succeed, got: ${errs.toArray.mkString("; ")}")
    val t = SnapshotTable(spark, root)
    // every writer landed as its own commit, nobody's files were dropped
    assert(t.currentVersion() === n.toLong)
    assert(t.read().count() === (n + 1).toLong)
    assert(t.read().select("id").as[Int].collect().toSet === (0 to n).toSet)
  }

  test("PhaseLog attributes a keyed upsert's commit path") {
    import graft.ext.PhaseLog
    val t = SnapshotTable.create(spark, tmpDir("phases"),
      spark.range(0, 1000).selectExpr("id", "CAST(id AS STRING) AS v", "0L AS ver"))
    val (_, timed) = PhaseLog.capture(t.upsert(spark.range(0, 100)
      .selectExpr("id", "'new' AS v", "1L AS ver"), Seq("id"), "ver"))
    val phases = timed.groupMapReduce(_._1)(_._2)(_ + _)
    // the upsert's commit path decomposes into exactly these seams —
    // each must record non-zero wall so the multi_writer bench's
    // phase_coverage is attribution, not an empty map summing to zero
    for (p <- Seq("source_stage", "discovery", "index", "write_job",
        "harvest", "cas"))
      assert(phases.get(p).exists(_ > 0), s"phase $p missing from $phases")
    // outside a capture commits record nothing: the next capture starts empty
    t.append(spark.range(1000, 1010).selectExpr("id", "'x' AS v", "2L AS ver"))
    assert(PhaseLog.capture(())._2.isEmpty)
    // a phase that throws still records its time (failed attempts count)
    val (_, failed) = PhaseLog.capture(intercept[IllegalStateException](
      PhaseLog.timed("cas")(throw new IllegalStateException("lost the slot"))))
    assert(failed.map(_._1) === Seq("cas"))
  }

  test("file stat derivations refuse ambiguous case-insensitive columns") {
    // with two columns differing only in case, first-match binding could
    // key a row-affecting serve off the WRONG column's stats — the
    // resolution must refuse (None) so the query keeps the ordinary scan
    val t = SnapshotTable(spark, tmpDir("tbl_amb"))
    t.overwrite(Seq((1L, 2L)).toDF("id", "v"))
    import org.apache.spark.sql.types.{LongType, StructType, TimestampType}
    val cs = SnapshotTable.ColStats(Some("7"), Some("7"), Some(0L))
    val fe = SnapshotTable.FileEntry("f.parquet", 10L, 100L,
      Map("ID" -> cs, "id" -> cs))
    val amb = new StructType().add("ID", LongType).add("id", LongType)
    assert(t.fileSingleValue(fe, "id", amb).isEmpty,
      "ambiguous column resolved against first case-insensitive match")
    val ambTs = new StructType().add("TS", TimestampType).add("ts", TimestampType)
    val feTs = SnapshotTable.FileEntry("f.parquet", 10L, 100L,
      Map("TS" -> cs, "ts" -> cs))
    assert(t.fileTruncValue(feTs, "ts", "DAY", ambTs).isEmpty)
    // a UNIQUE case-insensitive match still serves (session default is
    // case-insensitive): requesting "Id" binds to the only "id" field
    val uniq = new StructType().add("id", LongType)
    val feU = SnapshotTable.FileEntry("f.parquet", 10L, 100L, Map("id" -> cs))
    assert(t.fileSingleValue(feU, "Id", uniq).contains(7L))
    // under a case-sensitive session the exact name must exist
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      assert(t.fileSingleValue(feU, "Id", uniq).isEmpty,
        "case-sensitive session bound a differently-cased column")
      assert(t.fileSingleValue(feU, "id", uniq).contains(7L))
      // exact match wins even when an ambiguous sibling exists
      assert(t.fileSingleValue(fe, "id", amb).contains(7L))
    } finally spark.conf.set("spark.sql.caseSensitive", "false")
  }

  test("append re-base is refused across metadata changes") {
    val t = SnapshotTable(spark, tmpDir("tbl"))
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    val base = t.commitEntry(t.currentVersion())
    // file-only interleavings are safe
    assert(t.appendRebaseSafe(base, base.copy(files = Nil)))
    assert(t.appendRebaseSafe(base, base.copy(action = "compact")))
    // any metadata delta is a real conflict
    assert(!t.appendRebaseSafe(base,
      base.copy(properties = Some(Map("graft.constraint.c" -> "id > 0")))))
    assert(!t.appendRebaseSafe(base, base.copy(clusterBy = Some(List("id")))))
    assert(!t.appendRebaseSafe(base,
      base.copy(columnMapping = Some(Map("v" -> "p_v")))))
    assert(!t.appendRebaseSafe(base, base.copy(morKeys = Some(List("id")))))
    assert(!t.appendRebaseSafe(base,
      base.copy(schemaJson = base.schemaJson.replace("\"id\"", "\"id2\""))))
  }

  test("pushed-LIMIT cap keeps files with unknown row counts") {
    import graft.sql.GraftScanBuilder
    def fe(p: String, rows: Long) =
      SnapshotTable.FileEntry(p, rows, 1000L, Map.empty)
    val files = Seq(fe("a.parquet", 500L), fe("b.parquet", -1L), fe("c.parquet", 500L))
    // the unknown-count file may hold any number of rows: it must be
    // KEPT (correctness) but contribute nothing toward the bound
    val capped = GraftScanBuilder.limitCap(files, Map.empty, 600)
    assert(capped.map(_.path) === Seq("a.parquet", "b.parquet", "c.parquet"),
      s"unknown-rowcount file dropped from the LIMIT cap: ${capped.map(_.path)}")
    // a bound the first known file already covers stops before the
    // unknown file — capping still prunes when it provably can
    assert(GraftScanBuilder.limitCap(files, Map.empty, 400)
      .map(_.path) === Seq("a.parquet"))
    // DV-deleted rows still subtract from known counts
    assert(GraftScanBuilder.limitCap(files, Map("a.parquet" -> 200L), 400)
      .map(_.path) === Seq("a.parquet", "b.parquet", "c.parquet"))
  }

  test("DV position cache is keyed per table incarnation, not just (path, version)") {
    val root = tmpDir("tbl_dvinc")
    def build(deleteKey: Long): Unit = {
      val t = SnapshotTable.create(spark, root,
        spark.range(0, 100).toDF("id").repartition(1))
      t.setProperties(Map("graft.dv.enabled" -> "true"))
      t.delete(col("id") === deleteKey)
      assert(t.dvManifest().nonEmpty, "delete did not land as a deletion vector")
    }
    def served(): Seq[Long] = {
      spark.sql("DROP TABLE IF EXISTS graft.db.dvinc")
      spark.sql(s"CREATE TABLE graft.db.dvinc USING graft LOCATION '$root'")
      val got = spark.sql("SELECT id FROM graft.db.dvinc").as[Long].collect().toSeq.sorted
      spark.sql("DROP TABLE graft.db.dvinc") // external: unregisters only
      got
    }
    build(5L)
    assert(!served().contains(5L))
    // drop the incarnation BEHIND the catalog's back and rebuild at the
    // same path to the same version count with a different DV set — the
    // plan-time DV cache must not serve the dead incarnation's map
    val dir = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    Thread.sleep(15) // distinct slot mtime even on a coarse-grained FS
    build(7L)
    val got2 = served()
    assert(got2.contains(5L) && !got2.contains(7L),
      s"stale DV map served for the new incarnation: missing 5 or resurrecting 7 in $got2")
  }
}
