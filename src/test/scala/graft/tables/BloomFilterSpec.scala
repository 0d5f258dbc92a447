package graft.tables

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.SparkSpec

/** Parquet bloom filters behind the `graft.bloom.columns` table property
 *  (row-group point-lookup skipping for high-cardinality columns). */
class BloomFilterSpec extends SparkSpec {
  import spark.implicits._

  private def bloomOffsets(file: String): Map[String, Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try {
      reader.getFooter.getBlocks.asScala.head.getColumns.asScala
        .map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
    } finally reader.close()
  }

  test("graft.bloom.columns writes bloom filters for exactly those columns") {
    val t = SnapshotTable.create(spark, tmpDir("bloom"),
      (1 to 5000).map(i => (s"key$i", i, s"p$i")).toDF("k", "n", "payload"))
    t.setProperties(Map("graft.bloom.columns" -> "k, n"))
    t.overwrite((1 to 5000).map(i => (s"key$i", i, s"p$i")).toDF("k", "n", "payload"))
    val offsets = bloomOffsets(t.manifest().head)
    assert(offsets("k") >= 0, "k must carry a bloom filter")
    assert(offsets("n") >= 0, "n must carry a bloom filter")
    assert(offsets("payload") === -1L, "payload must not carry one")
    // reads stay correct with pushed equality predicates over bloom columns
    assert(t.scan(org.apache.spark.sql.functions.col("k") === "key4321")
      .select("n").as[Int].collect().toSeq === Seq(4321))
  }

  test("without the property no bloom filters are written") {
    val t = SnapshotTable.create(spark, tmpDir("bloom"),
      (1 to 100).map(i => (s"key$i", i)).toDF("k", "n"))
    assert(bloomOffsets(t.manifest().head).values.forall(_ === -1L))
  }

  test("graft.bloom.manifest: planner-side file skipping on point lookups") {
    import org.apache.spark.sql.functions.col
    val t = SnapshotTable.create(spark, tmpDir("mbloom"),
      Seq(("seed", 0)).toDF("k", "n"))
    t.setProperties(Map(
      "graft.bloom.columns" -> "k", "graft.bloom.manifest" -> "true"))
    // hash-distributed keys: every file's [min,max] spans the whole key
    // space, so min/max stats CANNOT prune — exactly the workload the
    // manifest bloom exists for
    t.overwrite((1 to 4000).map(i => (s"key$i", i)).toDF("k", "n")
      .repartition(4, col("k")))
    val entries = t.manifestEntries()
    assert(entries.size === 4)
    assert(entries.forall(_.blooms.exists(_.contains("k"))),
      "every file must carry a manifest bloom for k")

    // a fresh handle re-parses the manifest JSON — filters must round-trip
    val t2 = SnapshotTable(spark, t.root)
    val v = t2.currentVersion()
    val hit = t2.snapshotAt(v).prunedFiles(Some(col("k") === "key123"))
    assert(hit.size < entries.size, "bloom must skip files min/max cannot")
    assert(t2.scan(col("k") === "key123").select("n").as[Int].collect().toSeq === Seq(123))

    // absent key: (deterministic data ⇒ deterministic result) nearly all
    // files are bloom-negative; correctness regardless
    val miss = t2.snapshotAt(v).prunedFiles(Some(col("k") === "no_such_key"))
    assert(miss.size <= 1, s"expected ≤1 false-positive file, got ${miss.size}")
    assert(t2.scan(col("k") === "no_such_key").count() === 0)

    // IN lists probe per value
    val inFiles = t2.snapshotAt(v).prunedFiles(
      Some(col("k").isin("key123", "key456")))
    assert(inFiles.size < entries.size)
    assert(t2.scan(col("k").isin("key123", "key456")).count() === 2)

    // appended files get filters too; untouched entries keep theirs
    t2.append(Seq(("fresh1", 9001), ("fresh2", 9002)).toDF("k", "n"))
    val after = t2.manifestEntries()
    assert(after.size >= 5) // 4 original files + the appended file(s)
    assert(after.forall(_.blooms.exists(_.contains("k"))))
    val freshHit = t2.head().prunedFiles(Some(col("k") === "fresh1"))
    assert(freshHit.size <= 2, "old files must be bloom-skipped for a fresh key")
    assert(t2.scan(col("k") === "fresh1").count() === 1)
  }

  test("manifest blooms: int keys, wider literal domains, no-filter columns") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = SnapshotTable.create(spark, tmpDir("mbloom_i"),
      Seq((0L, "seed")).toDF("id", "v"))
    t.setProperties(Map(
      "graft.bloom.columns" -> "id", "graft.bloom.manifest" -> "true"))
    t.overwrite((1L to 4000L).map(i => (i * 7919L % 65536L, s"v$i")).toDF("id", "v")
      .repartition(4, col("id")))
    val v = t.currentVersion()
    // an Int literal against the Long column must hash in the Long domain
    val one = t.snapshotAt(v).prunedFiles(Some(col("id") === lit(7919)))
    assert(one.size < 4)
    assert(t.scan(col("id") === lit(7919)).count() >= 1)
    // a fractional literal can't represent exactly: bloom must NOT prune
    assert(t.snapshotAt(v).prunedFiles(Some(col("id") === lit(0.5))).nonEmpty ||
      t.scan(col("id") === lit(0.5)).count() === 0)
    // no filter on v: equality on it keeps all files (stats may prune, so
    // just check correctness)
    assert(t.scan(col("v") === "v1").count() === 1)
  }

  test("FileBloom codec and probe invariants") {
    val bits = new Array[Long](128) // m = 8192
    val (h1, h2) = FileBloom.hashes(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello"),
      org.apache.spark.sql.types.StringType)
    FileBloom.add(bits, FileBloom.DefaultK, h1, h2)
    val enc = FileBloom.encode(bits, FileBloom.DefaultK)
    assert(FileBloom.decode(enc).exists { case (k, m, w) =>
      k === FileBloom.DefaultK && m === 8192 && w.toSeq === bits.toSeq })
    assert(FileBloom.mightContain(enc, h1, h2))
    val (a1, a2) = FileBloom.hashes(
      org.apache.spark.unsafe.types.UTF8String.fromString("absent"),
      org.apache.spark.sql.types.StringType)
    assert(!FileBloom.mightContain(enc, a1, a2))
    // malformed filters never prune
    assert(FileBloom.mightContain("garbage", a1, a2))
    assert(FileBloom.mightContain("1:64:AAA?", a1, a2))
    // a bit count that is not a whole number of words must be REJECTED
    // (probing its last partial word would walk off the array), i.e.
    // treated as "no filter", never a crash
    val nineBytes = java.util.Base64.getEncoder.encodeToString(new Array[Byte](9))
    assert(FileBloom.decode(s"7:72:$nineBytes").isEmpty)
    assert(FileBloom.mightContain(s"7:72:$nineBytes", a1, a2))
    // sizing: clamped, power of two
    assert(FileBloom.sizeBits(0) === 8192)
    assert(FileBloom.sizeBits(100000) === 1 << 20)
    assert(FileBloom.sizeBits(1000000000L) === FileBloom.DefaultMaxBytes * 8)
    // a non-power-of-two cap ROUNDS DOWN — maxbytes is a hard ceiling
    assert(FileBloom.sizeBits(1000000000L, maxBytes = 100000) === 524288)
    assert(524288 <= 100000L * 8)
  }

  test("bloomSizedFiles keeps per-file filters at the FP design point") {
    // the floor wins while rows fit; past the design point (maxBytes·8 /
    // BitsPerKey rows per file) the file count grows with the corpus —
    // a fixed file count would saturate every capped filter and the
    // false-positive files a selective probe reads would scale with data
    val rowsPerFile = FileBloom.DefaultMaxBytes * 8 / FileBloom.BitsPerKey
    assert(FileBloom.bloomSizedFiles(16, 1000) === 16)
    assert(FileBloom.bloomSizedFiles(16, rowsPerFile * 40) === 40)
    assert(FileBloom.bloomSizedFiles(64, rowsPerFile * 40) === 64)
    assert(FileBloom.bloomSizedFiles(1, 0) === 1)
    // a tighter cap means fewer rows per file, more files
    assert(FileBloom.bloomSizedFiles(1, 100000, maxBytes = 1024)
      > FileBloom.bloomSizedFiles(1, 100000))
  }

  test("unknown or malformed bloom column names are ignored, not fatal") {
    val t = SnapshotTable.create(spark, tmpDir("bloom"),
      (1 to 100).map(i => (s"key$i", i)).toDF("k", "n"))
    t.setProperties(Map("graft.bloom.columns" -> "no_such, , K"))
    t.append((101 to 200).map(i => (s"key$i", i)).toDF("k", "n"))
    // case-insensitive resolution: K → k; no_such silently skipped
    val offsets = bloomOffsets(t.manifest().last) // newest appended file
    assert(offsets("k") >= 0)
  }
}
