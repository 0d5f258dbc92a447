package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.tables.SnapshotTable

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable() = SnapshotTable.create(spark, tmpDir("merge"),
    Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "name", "qty"))

  test("MERGE updateAll + insertAll (Iceberg full-row shape)") {
    val t = freshTable()
    val src = Seq((2, "B", 200), (4, "d", 40)).toDF("id", "name", "qty")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    val got = t.read().as[(Int, String, Int)].collect().toSet
    assert(got === Set((1, "a", 10), (2, "B", 200), (3, "c", 30), (4, "d", 40)))
  }

  test("multi-match under a conditional DELETE errors; unconditional passes") {
    // Delta's rule: the multiple-match relaxation applies ONLY to a
    // single UNconditional delete — conditional routing is ambiguous
    val t = freshTable()
    val src = Seq((2, "x", 1), (2, "y", 2)).toDF("id", "name", "qty")
    intercept[MergeInto.MergeCardinalityException] {
      t.merge(src, col("t.id") === col("s.id"))
        .whenMatched(col("s.qty") > 100).delete()
        .execute()
    }
    // unconditional delete-only: every copy deletes, no ambiguity
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().delete()
      .execute()
    assert(t.read().select("id").as[Int].collect().toSet === Set(1, 3))
  }

  test("bySource-only MERGE with a dup-key source never duplicates kept rows") {
    val t = freshTable()
    // id=2 matches TWO source rows; with no matched clause it must be
    // carried exactly once; id=1/3 are unmatched-by-source → deleted
    val src = Seq((2, "x", 1), (2, "y", 2)).toDF("id", "name", "qty")
    t.merge(src, col("t.id") === col("s.id"))
      .whenNotMatchedBySource().delete()
      .execute()
    val got = t.read().as[(Int, String, Int)].collect().toSeq
    assert(got === Seq((2, "b", 20)), s"got $got")
  }

  test("bySource-only MERGE dedups kept rows without dropping any insert") {
    val t = freshTable()
    // id=2 matches two source rows (kept ONCE); ids 7/8/9 are new and
    // must ALL insert — the dedup window ranks them under unique
    // surrogate keys (a NULL-key ranking would both funnel them into one
    // partition and be the only candidate to miscount them)
    val src = Seq((2, "x", 1), (2, "y", 2), (7, "g", 7), (8, "h", 8), (9, "i", 9))
      .toDF("id", "name", "qty")
    t.merge(src, col("t.id") === col("s.id"))
      .whenNotMatched().insertAll()
      .whenNotMatchedBySource().delete()
      .execute()
    val got = t.read().as[(Int, String, Int)].collect().toSet
    assert(got === Set((2, "b", 20), (7, "g", 7), (8, "h", 8), (9, "i", 9)), s"got $got")
  }

  test("invalid kind/action combinations fail at build time") {
    val t = freshTable()
    val src = Seq((9, "z", 1)).toDF("id", "name", "qty")
    val m = t.merge(src, col("t.id") === col("s.id"))
    intercept[IllegalArgumentException](m.whenNotMatched().delete())
    intercept[IllegalArgumentException](m.whenNotMatched().updateAll())
    intercept[IllegalArgumentException](m.whenNotMatchedBySource().insertAll())
    intercept[IllegalArgumentException](m.whenNotMatchedBySource().updateAll())
  }

  test("updateAll/insertAll match source columns case-insensitively") {
    val t = freshTable()
    val src = Seq((2, "B", 200), (4, "d", 40)).toDF("ID", "NAME", "QTY")
    t.merge(src, col("t.id") === col("s.ID"))
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    val got = t.read().as[(Int, String, Int)].collect().toSet
    assert(got === Set((1, "a", 10), (2, "B", 200), (3, "c", 30), (4, "d", 40)))
  }

  test("upsert keeps a real row when every precombine value is NULL") {
    val t = SnapshotTable.create(spark, tmpDir("merge_pcnull"),
      Seq((1, "a", Some(1L))).toDF("id", "v", "ts"))
    // key 2: both rows carry NULL ts — one of them must survive intact
    // (a bare max_by would collapse the group to an all-NULL row)
    t.upsert(Seq((2, "b1", None: Option[Long]), (2, "b2", None: Option[Long]))
      .toDF("id", "v", "ts"), keys = Seq("id"), precombine = "ts")
    val got = t.read().as[(Int, String, Option[Long])].collect()
      .map { case (id, v, ts) => id -> (v, ts) }.toMap.apply(2)
    assert(got._1.startsWith("b"), s"got $got")
    // mixed: non-null precombine must beat null
    t.upsert(Seq((2, "null-ts", None: Option[Long]), (2, "real", Some(9L)))
      .toDF("id", "v", "ts"), keys = Seq("id"), precombine = "ts")
    assert(t.read().filter(col("id") === 2).select("v").as[String].head() === "real")
  }

  test("MERGE partial update with clause condition (Delta shape)") {
    val t = freshTable()
    val src = Seq((1, "ignored", 999), (3, "ignored", 31)).toDF("id", "name", "qty")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched(col("s.qty") > 100).update(Map("qty" -> col("s.qty")))
      .execute()
    val got = t.read().as[(Int, String, Int)].collect().toSet
    // id=1 matched+cond → qty updated, name kept; id=3 matched but cond false → untouched
    assert(got === Set((1, "a", 999), (2, "b", 20), (3, "c", 30)))
  }

  test("MERGE withSchemaEvolution appends new source columns as nullable") {
    val t = freshTable()
    // source carries `origin`, absent from the target
    val src = Seq((2, "B", 200, "eu"), (4, "d", 40, "us"))
      .toDF("id", "name", "qty", "origin")
    t.merge(src, col("t.id") === col("s.id"))
      .withSchemaEvolution()
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(t.schema.fieldNames.toSeq === Seq("id", "name", "qty", "origin"))
    assert(t.schema("origin").nullable)
    val got = t.read().as[(Int, String, Int, Option[String])].collect().toSet
    // untouched rows (1, 3) read the evolved column as NULL — including
    // id=1, which lives in a kept file never rewritten by this merge
    assert(got === Set(
      (1, "a", 10, None), (2, "B", 200, Some("eu")),
      (3, "c", 30, None), (4, "d", 40, Some("us"))))
    // and the next merge WITHOUT evolution still sees the widened schema
    t.merge(Seq((1, "apac")).toDF("id", "origin"), col("t.id") === col("s.id"))
      .whenMatched().update(Map("origin" -> col("s.origin")))
      .execute()
    assert(t.read().filter($"id" === 1).select("origin").as[String].head() === "apac")
  }

  test("MERGE withSchemaEvolution widens an existing column to a wider lossless type") {
    // target qty is INT; source supplies LONG values past Int range
    val t = SnapshotTable.create(spark, tmpDir("merge_widen"),
      Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "name", "qty"))
    val src = Seq((2, "B", 5000000000L), (4, "d", 6000000000L))
      .toDF("id", "name", "qty")
    t.merge(src, col("t.id") === col("s.id"))
      .withSchemaEvolution()
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(t.schema("qty").dataType ===
      org.apache.spark.sql.types.LongType)
    val got = t.read().as[(Int, String, Long)].collect().toSet
    // untouched rows (1, 3) upcast from the narrow physical files at scan
    assert(got === Set(
      (1, "a", 10L), (2, "B", 5000000000L), (3, "c", 30L), (4, "d", 6000000000L)))
    // a narrower source after the widening needs no schema change: it
    // casts up into the widened column
    t.merge(Seq((1, 99)).toDF("id", "qty"), col("t.id") === col("s.id"))
      .withSchemaEvolution()
      .whenMatched().update(Map("qty" -> col("s.qty")))
      .execute()
    assert(t.schema("qty").dataType === org.apache.spark.sql.types.LongType)
    assert(t.read().filter($"id" === 1).select("qty").as[Long].head() === 99L)
  }

  test("MERGE withSchemaEvolution rejects a narrowing instead of truncating") {
    val t = SnapshotTable.create(spark, tmpDir("merge_narrow"),
      Seq((1, 10L)).toDF("id", "qty")) // qty LONG
    val src = Seq((1, 1.5)).toDF("id", "qty") // DOUBLE: long->double is lossy BOTH ways
    val e = intercept[IllegalArgumentException] {
      t.merge(src, col("t.id") === col("s.id"))
        .withSchemaEvolution()
        .whenMatched().updateAll()
        .execute()
    }
    assert(e.getMessage.contains("not a lossless widening"))
    assert(t.schema("qty").dataType === org.apache.spark.sql.types.LongType)
    assert(t.read().as[(Int, Long)].collect().toSet === Set((1, 10L))) // untouched
  }

  test("MERGE without schema evolution ignores extra source columns") {
    val t = freshTable()
    val src = Seq((2, "B", 200, "eu")).toDF("id", "name", "qty", "origin")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().updateAll()
      .execute()
    assert(t.schema.fieldNames.toSeq === Seq("id", "name", "qty"))
    assert(t.read().filter($"id" === 2).as[(Int, String, Int)].head() === ((2, "B", 200)))
  }

  test("MERGE delete clause") {
    val t = freshTable()
    val src = Seq(Tuple1(2)).toDF("id")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().delete()
      .execute()
    assert(t.read().select("id").as[Int].collect().toSet === Set(1, 3))
  }

  test("first-matching-clause wins") {
    val t = freshTable()
    val src = Seq((1, "x", 101)).toDF("id", "name", "qty")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched(col("s.qty") > 100).update(Map("name" -> lit("first")))
      .whenMatched().update(Map("name" -> lit("second")))
      .execute()
    assert(t.read().filter($"id" === 1).select("name").as[String].head() === "first")
  }

  test("NULL merge key never matches → insert (Delta NULL-mergeKey trick)") {
    val t = freshTable()
    val src = Seq((Option.empty[Int], "n", 77), (Some(2), "B", 22))
      .toDF("mergeKey", "name", "qty")
      .withColumn("id", lit(99))
    t.merge(src, col("t.id") === col("s.mergeKey"))
      .whenMatched().update(Map("qty" -> col("s.qty")))
      .whenNotMatched().insert(Map("id" -> col("s.id"), "name" -> col("s.name"), "qty" -> col("s.qty")))
      .execute()
    val got = t.read().as[(Int, String, Int)].collect().toSet
    assert(got === Set((1, "a", 10), (2, "b", 22), (3, "c", 30), (99, "n", 77)))
  }

  test("cardinality violation: two source rows match one target row") {
    val t = freshTable()
    val src = Seq((2, "x", 1), (2, "y", 2)).toDF("id", "name", "qty")
    intercept[MergeInto.MergeCardinalityException] {
      t.merge(src, col("t.id") === col("s.id"))
        .whenMatched().updateAll()
        .execute()
    }
  }

  test("one source row expiring many target rows is allowed") {
    val t = SnapshotTable.create(spark, tmpDir("merge"),
      Seq((1, 1, "v1"), (1, 0, "v0"), (2, 1, "v1")).toDF("id", "cur", "v"))
    val src = Seq(Tuple1(1)).toDF("id")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().update(Map("cur" -> lit(0)))
      .execute()
    assert(t.read().filter($"cur" === 1).select("id").as[Int].collect().toSet === Set(2))
  }

  test("untouched files survive merge verbatim (copy-on-write at file level)") {
    val t = SnapshotTable(spark, tmpDir("merge"))
    // two separate commits → distinct files; merge touches only the second
    t.overwrite(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((100, "z")).toDF("id", "v"))
    val before = t.manifest()
    val src = Seq((100, "Z")).toDF("id", "v")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().updateAll()
      .execute()
    val after = t.manifest()
    // the file holding id=1 must be carried forward unchanged
    assert(before.intersect(after).nonEmpty)
    assert(t.read().as[(Int, String)].collect().toSet === Set((1, "a"), (100, "Z")))
  }

  test("key-probe discovery prunes the gap files a global range cannot") {
    val t = SnapshotTable(spark, tmpDir("merge"))
    // three commits → three files with disjoint key ranges
    t.overwrite((0 to 99).map(i => (i, "lo")).toDF("id", "v"))
    val m1 = t.manifest()
    t.append((100 to 199).map(i => (i, "mid")).toDF("id", "v"))
    val m2 = t.manifest()
    t.append((200 to 299).map(i => (i, "hi")).toDF("id", "v"))
    val midFile = m2.diff(m1)
    // one low + one high key: the global [5, 250] envelope covers every
    // file, but no source key lives in the middle file's [100, 199]
    val src = Seq((5, "LO"), (250, "HI")).toDF("id", "v")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().updateAll()
      .execute()
    assert(midFile.forall(t.manifest().contains),
      "gap file was rewritten — per-key range probe did not prune it")
    assert(t.read().filter($"id".isin(5, 150, 250)).as[(Int, String)]
      .collect().toSet === Set((5, "LO"), (150, "mid"), (250, "HI")))
  }

  test("key-probe discovery prunes via manifest blooms when ranges fully overlap") {
    val t = SnapshotTable(spark, tmpDir("merge"))
    t.overwrite(Seq((-1, "seed")).toDF("id", "v")) // properties need a live table
    t.setProperties(Map("graft.bloom.columns" -> "id", "graft.bloom.manifest" -> "true"))
    // evens and odds: [0,198] and [1,199] overlap almost entirely, so no
    // range test can separate them — only the bloom knows file 2 lacks 4
    t.overwrite((0 to 198 by 2).map(i => (i, "even")).toDF("id", "v")
      .repartition(1))
    val evenFiles = t.manifest()
    t.append((1 to 199 by 2).map(i => (i, "odd")).toDF("id", "v")
      .repartition(1))
    val oddFiles = t.manifest().diff(evenFiles)
    val src = Seq((4, "EVEN")).toDF("id", "v")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().updateAll()
      .execute()
    assert(oddFiles.forall(t.manifest().contains),
      "odd-keys file was rewritten — bloom probe did not prune it")
    assert(evenFiles.forall(f => !t.manifest().contains(f)),
      "even-keys file should have been rewritten")
    assert(t.read().filter($"id".isin(3, 4)).as[(Int, String)]
      .collect().toSet === Set((3, "odd"), (4, "EVEN")))
    // a key in NO file: discovery candidates collapse to zero, the merge
    // degrades to pure insert, and every live file survives verbatim
    val before = t.manifest()
    t.merge(Seq((5000, "NEW")).toDF("id", "v"), col("t.id") === col("s.id"))
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    assert(before.forall(t.manifest().contains))
    assert(t.read().filter($"id" === 5000).count() === 1)
  }

  test("insert-only MERGE skips source rows whose keys already exist") {
    val t = freshTable()
    // ids 1,2 exist → must NOT be duplicated; 5 is new → inserted once
    val src = Seq((1, "dup", 11), (2, "dup", 22), (5, "e", 50)).toDF("id", "name", "qty")
    val before = t.manifest()
    t.merge(src, col("t.id") === col("s.id"))
      .whenNotMatched().insertAll()
      .execute()
    val got = t.read().as[(Int, String, Int)].collect().toSet
    assert(got === Set((1, "a", 10), (2, "b", 20), (3, "c", 30), (5, "e", 50)))
    // no target file rewritten — insert-only keeps every live file
    assert(before.forall(t.manifest().contains))
  }

  test("insert-only MERGE honors the clause condition") {
    val t = freshTable()
    val src = Seq((5, "e", 50), (6, "f", 5)).toDF("id", "name", "qty")
    t.merge(src, col("t.id") === col("s.id"))
      .whenNotMatched(col("s.qty") >= 10).insertAll()
      .execute()
    assert(t.read().select("id").as[Int].collect().toSet === Set(1, 2, 3, 5))
  }

  test("whenNotMatchedBySource updates rows in files the source never touches") {
    val t = SnapshotTable(spark, tmpDir("merge"))
    // two commits → two files; the source only matches the second file
    t.overwrite(Seq((1, "a", 1)).toDF("id", "v", "cur"))
    t.append(Seq((2, "b", 1)).toDF("id", "v", "cur"))
    val src = Seq(Tuple1(2)).toDF("id")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().update(Map("v" -> lit("B")))
      .whenNotMatchedBySource().update(Map("cur" -> lit(0)))
      .execute()
    val got = t.read().as[(Int, String, Int)].collect().toSet
    // id=1 lives in an untouched-by-source file but must still be expired
    assert(got === Set((1, "a", 0), (2, "B", 1)))
  }

  test("whenNotMatchedBySource delete") {
    val t = freshTable()
    val src = Seq(Tuple1(2)).toDF("id")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().updateAll()
      .whenNotMatchedBySource().delete()
      .execute()
    assert(t.read().select("id").as[Int].collect().toSet === Set(2))
  }

  test("discovery scan prunes to files overlapping the source key range") {
    val t = SnapshotTable(spark, tmpDir("merge"))
    t.overwrite(spark.range(0, 1000).toDF("id").withColumn("v", lit("a")).repartitionByRange(1, col("id")))
    t.append(spark.range(1000, 2000).toDF("id").withColumn("v", lit("a")).repartitionByRange(1, col("id")))
    t.append(spark.range(2000, 3000).toDF("id").withColumn("v", lit("a")).repartitionByRange(1, col("id")))
    assert(t.manifest().size === 3)
    val src = Seq((1500L, "B"), (1600L, "B")).toDF("id", "v")
    // the staged keys live entirely in the middle file
    val (candidates, bounds) = MergeInto.discoveryCandidates(
      t.head(), src, col("t.id") === col("s.id"))
    assert(candidates.size === 1, s"got ${candidates.size} candidates")
    assert(bounds.isDefined, "equi-key merge must expose a rebase bounds predicate")
    // and the merge itself stays correct
    t.merge(src, col("t.id") === col("s.id")).whenMatched().updateAll().execute()
    assert(t.read().filter(col("v") === "B").count() === 2)
    assert(t.read().count() === 3000)
    // null-safe condition with null source keys disables pruning (a null
    // key can match null target keys anywhere)
    val nullSrc = Seq((Some(1500L), "x"), (Option.empty[Long], "y")).toDF("id", "v")
    val (c2, b2) = MergeInto.discoveryCandidates(
      t.head(), nullSrc, col("t.id") <=> col("s.id"))
    assert(c2.size === t.manifest().size)
    assert(b2.isEmpty, "null-keyed null-safe source must not offer a rebase predicate")
  }

  test("small-source discovery fast path matches the agg path exactly") {
    // three files with disjoint ranges + a string key column whose
    // ordering must follow UTF8String (binary) order, not Java UTF-16:
    // "￿" > "𐀀" (U+10000) in UTF-16 code units but < in
    // code points / UTF-8 bytes — a wrong driver-side max would UNDER-
    // bound the source and unsoundly prune a matching file
    val t = SnapshotTable(spark, tmpDir("merge"))
    t.overwrite((0 to 99).map(i => (i.toLong, f"k$i%03d", "lo")).toDF("id", "s", "v"))
    t.append((100 to 199).map(i => (i.toLong, f"k$i%03d", "mid")).toDF("id", "s", "v"))
    t.append((200 to 299).map(i => (i.toLong, f"k$i%03d", "hi")).toDF("id", "s", "v"))
    val src = Seq((5L, "k005", "LO"), (250L, "k250", "HI"),
      (260L, "𐀀", "SUPP"), (261L, "￿", "BMP"))
      .toDF("id", "s", "v")
    val cond = col("t.id") === col("s.id") && col("t.s") === col("s.s")
    // fast path (source under the key budget) vs agg path (budget forced
    // under the row count, which also caps the key probe)
    val ((cFast, bFast), smallF) = MergeInto.discoveryCandidatesSized(t.head(), src, cond)
    assert(smallF === Some(4L), "4-row source must take the driver fast path")
    val ((cAgg3, bAgg), smallA) =
      MergeInto.discoveryCandidatesSized(t.head(), src, cond, maxKeys = 3)
    assert(smallA.isEmpty, "over-budget source must take the agg path")
    // candidate sets agree up to the key-probe refinement the tiny cap
    // disabled: fast-path candidates are a subset of the agg path's
    // range-pruned set and still cover every real match
    assert(cFast.toSet.subsetOf(cAgg3.toSet))
    // bounds predicates must select the same target rows (same min/max,
    // incl. the UTF8-ordered string max)
    assert(bFast.isDefined && bAgg.isDefined)
    assert(t.read().filter(bFast.get).count() === t.read().filter(bAgg.get).count(),
      "fast-path and agg-path bounds select different target rows")
    // end-to-end: the merge through the fast path lands the right rows
    t.merge(src, cond).whenMatched().updateAll().whenNotMatched().insertAll()
      .execute()
    assert(t.read().filter($"id".isin(5L, 250L, 150L)).as[(Long, String, String)]
      .collect().toSet ===
      Set((5L, "k005", "LO"), (250L, "k250", "HI"), (150L, "k150", "mid")))
    assert(t.read().filter($"s".isin("𐀀", "￿")).count() === 2,
      "supplementary/BMP-keyed source rows must have been inserted")
  }

  test("upsert: precombine keeps max-ts row per key; updates + inserts") {
    val t = SnapshotTable.create(spark, tmpDir("ups"),
      Seq((1, "old", 100L), (2, "keep", 100L)).toDF("id", "v", "ts"))
    val incoming = Seq(
      (1, "newer", 300L), (1, "stale", 200L), // same key twice → precombine
      (3, "insert", 300L)).toDF("id", "v", "ts")
    t.upsert(incoming, keys = Seq("id"), precombine = "ts")
    val got = t.read().as[(Int, String, Long)].collect().toSet
    assert(got === Set((1, "newer", 300L), (2, "keep", 100L), (3, "insert", 300L)))
  }

  test("rewrite routes every clause family to the expected rows") {
    // one rewrite plan (full outer join of the touched files against the
    // source) for every routing class: matched conditional delete,
    // matched update under a non-equi conjunct, unmatched-target keep,
    // conditional insert, and bySource update/delete with a dup-key
    // source (matched target rows kept exactly once)
    def build(dir: String) = SnapshotTable.create(spark, tmpDir(dir),
      Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40), (5, "e", 50))
        .toDF("id", "name", "qty"))
    def rows(t: SnapshotTable) =
      t.read().as[(Int, String, Int)].collect().toSeq.sortBy(r => (r._1, r._2))
    val src = Seq((2, "B", 200), (3, "C", 5), (7, "g", 70), (8, "h", 80))
      .toDF("id", "name", "qty")
    val t1 = build("mclauses")
    t1.merge(src, col("t.id") === col("s.id") && col("t.qty") < 35)
      .whenMatched(col("s.qty") < 10).delete()
      .whenMatched().updateAll()
      .whenNotMatched(col("s.qty") > 75).insertAll()
      .execute()
    assert(rows(t1) === Seq((1, "a", 10), (2, "B", 200), (4, "d", 40),
      (5, "e", 50), (8, "h", 80)))
    val dupSrc = src.unionByName(Seq((2, "B2", 201)).toDF("id", "name", "qty"))
    val t2 = build("mbysource")
    t2.merge(dupSrc, col("t.id") === col("s.id"))
      .whenNotMatchedBySource(col("t.qty") > 45).delete()
      .whenNotMatchedBySource().update(Map("name" -> upper(col("t.name"))))
      .whenNotMatched().insertAll()
      .execute()
    assert(rows(t2) === Seq((1, "A", 10), (2, "b", 20), (3, "c", 30),
      (4, "D", 40), (7, "g", 70), (8, "h", 80)))
  }

  test("NULL merge key inserts exactly once") {
    val t = SnapshotTable.create(spark, tmpDir("mnull"),
      Seq((Some(1), "a"), (Some(2), "b")).toDF("id", "v"))
    val src = Seq((Option.empty[Int], "n"), (Some(2), "B"), (Some(9), "i"))
      .toDF("id", "v")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()
    val got = t.read().as[(Option[Int], String)].collect().toSet
    assert(got === Set((Some(1), "a"), (Some(2), "B"), (Some(9), "i"), (None, "n")))
  }

  test("double merge keys fall back to the agg path (-0.0 = 0.0 soundness)") {
    // DriverOrdering excludes Float/Double: a driver-collected -0.0 key
    // disagrees with Spark's normalized grouping about SQL-equal zeros,
    // so the small-source fast path must refuse and the merge must still
    // find the 0.0-keyed target row from a -0.0-keyed source
    val t = SnapshotTable.create(spark, tmpDir("mneg0"),
      Seq((0.0, "zero"), (5.5, "five")).toDF("k", "v"))
    val cond = col("t.k") === col("s.k")
    val src = Seq((-0.0, "ZERO")).toDF("k", "v")
    val (_, small) = MergeInto.discoveryCandidatesSized(t.head(), src, cond)
    assert(small.isEmpty, "double-keyed source must not take the driver fast path")
    t.merge(src, cond).whenMatched().updateAll().execute()
    assert(t.read().filter(col("v") === "ZERO").count() === 1L,
      "-0.0 source key must update the 0.0-keyed target row")
  }
}
