package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the red barn"),
    (2L, "the quick brown fox jumps over the lazy dog near the red house"), // near-dup of 1
    (3L, "completely different text about spark catalyst optimizer rules engine"),
    (4L, "the quick brown fox jumps over the lazy dog near the red barn"), // exact dup of 1
    (5L, "unrelated words forming another separate document body entirely here now"))
    .toDF("id", "text")

  // ------------------------------------------------------------ expressions

  test("fingerprint64: deterministic, order-sensitive") {
    val r = docs.select(col("id"), functions.fingerprint64(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(r(1L) === r(4L)) // identical text → identical fingerprint
    assert(r(1L) !== r(2L))
    val swapped = Seq((1L, "b a"), (2L, "a b")).toDF("id", "text")
      .select(functions.fingerprint64(col("text"))).as[Long].collect()
    assert(swapped(0) !== swapped(1))
  }

  test("simhash64: near-dup texts land within small hamming distance") {
    val h = docs.select(col("id"),
      functions.simhash64(TextAnalysis.tokens(col("text"))).as("sh"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(4L)) === 0)
    assert(ham(h(1L), h(2L)) <= 12, s"near-dup hamming ${ham(h(1L), h(2L))}")
    assert(ham(h(1L), h(3L)) > 12, s"unrelated hamming ${ham(h(1L), h(3L))}")
  }

  test("minhash signature-agreement estimates jaccard") {
    val sigs = docs.select(col("id"),
      functions.minhashSignature(TextAnalysis.shingles(col("text"), 3), 256).as("sig"))
      .as[(Long, Array[Long])].collect().toMap
    def est(a: Array[Long], b: Array[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.length
    assert(est(sigs(1L), sigs(4L)) === 1.0)
    val nearEst = est(sigs(1L), sigs(2L)) // true jaccard = 9/13 ≈ 0.69
    assert(nearEst > 0.4 && nearEst < 0.95, s"got $nearEst")
    assert(est(sigs(1L), sigs(3L)) < 0.2)
  }

  test("cosineSimilarity computes in double precision") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f)),
      (Array(3.0f, 4.0f), Array(4.0f, 3.0f)))
      .toDF("a", "b")
      .select(functions.cosineSimilarity(col("a"), col("b")).as("c"))
    val r = df.as[Double].collect()
    assert(math.abs(r(0) - 0.0) < 1e-12)
    assert(math.abs(r(1) - 1.0) < 1e-12)
    assert(math.abs(r(2) - 24.0 / 25.0) < 1e-12)
  }

  test("int8 quantization: codes bounded, identical vectors exact, error bounded") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("id", "vec")
    val codes = vecs.select(col("id"), functions.int8Codes(col("vec")).as("c"))
      .as[(Long, Array[Byte])].collect().toMap
    assert(codes.values.forall(c => c.length === 64 &&
      c.forall(b => b >= -127 && b <= 127)))
    // max-magnitude component always hits ±127 (symmetric scale contract)
    assert(codes.values.forall(_.exists(b => math.abs(b.toInt) === 127)))
    // identical vectors → identical codes → int8 cosine exactly 1.0
    val self = vecs.select(functions.int8Cosine(
      functions.int8Codes(col("vec")), functions.int8Codes(col("vec"))))
      .as[Double].collect()
    // sqrt(na)*sqrt(nb) rounds once per factor, so identical codes score
    // 1.0 only to within one ulp — the oracle replays the same IEEE ops
    assert(self.forall(v => math.abs(v - 1.0) < 1e-12))
    // quantized cosine tracks exact cosine within the SQ8 error envelope
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(
        functions.cosineSimilarity(col("a.vec"), col("b.vec")).as("exact"),
        functions.int8Cosine(functions.int8Codes(col("a.vec")),
          functions.int8Codes(col("b.vec"))).as("q"))
      .as[(Double, Double)].collect()
    assert(pairs.forall { case (e, q) => math.abs(e - q) < 0.02 })
    // zero vector → all-zero codes → cosine 0.0, no division by zero
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(functions.int8Cosine(functions.int8Codes(col("a")),
        functions.int8Codes(col("b")))).as[Double].head()
    assert(z === 0.0)
    // dimension mismatch fails loudly
    val e = intercept[Exception](Seq((Array(1.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(functions.int8Cosine(functions.int8Codes(col("a")),
        functions.int8Codes(col("b")))).collect())
    assert(e.getMessage.contains("dimension mismatch"))
  }

  test("ivfProbeQuantized: planted copy shares a list and ranks first even at nProbe=1") {
    val rnd = new scala.util.Random(17)
    val base = (0L until 60L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
    val planted = base.map { case (i, v) => (i + 1000L, v) }
    val all = (base ++ planted).toDF("id", "vec")
    val index = Similarity.ivfBuildQuantized(all, "id", "vec", nlist = 8)
    // the stored lists carry codes only — no float payload survives
    assert(index.assigned.columns.toSeq === Seq("list", "n_id", "n_codes"))
    // identical vectors assign to the same nearest centroid with
    // certainty, so even single-list probing must surface the copy at
    // rank 1 with int8 cosine ≈ 1.0
    val got = Similarity.ivfProbeQuantized(index,
        all.filter(col("id") < 5), "id", "vec", k = 1, nProbe = 1)
      .select("q_id", "n_id", "qcos").as[(Long, Long, Double)].collect()
    assert(got.length === 5)
    assert(got.forall { case (q, n, c) => n === q + 1000L && math.abs(c - 1.0) < 1e-12 })
  }

  test("quantizedTopK finds the planted nearest neighbor first") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 30L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
    val planted = base.map { case (i, v) => (i + 1000L, v) } // identical copies
    val all = (base ++ planted).toDF("id", "vec")
    val got = Similarity.quantizedTopK(all, all.filter(col("id") < 5), "id", "vec", k = 1)
      .select("q_id", "n_id", "qcos").as[(Long, Long, Double)].collect()
    assert(got.length === 5)
    assert(got.forall { case (q, n, c) => n === q + 1000L && math.abs(c - 1.0) < 1e-12 })
  }

  test("kernel guards: cosine dims, zero norms, LSH/shingle parameters") {
    // mixed embedding dimensions fail loudly, not truncate-and-guess
    val mixed = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f, 0.0f))).toDF("a", "b")
    val e = intercept[Exception](
      mixed.select(functions.cosineSimilarity(col("a"), col("b"))).collect())
    assert(e.getMessage.contains("dimension mismatch"))
    // zero-norm vectors score 0.0, not NaN (NaN fails every threshold silently)
    val zero = Seq((Array(0.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
      .select(functions.cosineSimilarity(col("a"), col("b"))).as[Double].head()
    assert(zero === 0.0)
    // parameter validation happens at analysis time
    intercept[Exception](docs.select(functions.hashedShingles(col("text"), 0)).collect())
    intercept[Exception](docs.select(functions.minhashSignature(
      TextAnalysis.tokens(col("text")), numHashes = 0)).collect())
    intercept[Exception](Seq((1L, Array(1.0f))).toDF("id", "v")
      .select(functions.hyperplaneBucket(col("v"), planes = 65)).collect())
  }

  // ------------------------------------------------------------------ dedup

  test("exact dedup keeps min tie-break and counts copies") {
    val r = Dedup.exact(docs, Seq("text"), "id")
      .filter(col("copies") > 1)
      .select(col("keep_id"), col("copies")).as[(Long, Long)].collect()
    assert(r.toSeq === Seq((1L, 2L)))
  }

  test("jaccardPairs finds exact and near duplicates, skips unrelated") {
    val pairs = Dedup.jaccardPairs(docs, "id", "text", n = 3, minSim = 0.5)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhashPairs recovers the same near-dup pairs via LSH banding") {
    val pairs = Dedup.minhashPairs(docs, "id", "text", minEst = 0.4)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incremental minhash: batch matches the index and itself, never index×index") {
    // corpus index: docs 1-3; batch: 11 = copy of corpus 1, 12 = copy of
    // 11 (within-batch dup of a corpus-linked doc), 13 = fresh, 14 = copy
    // of 13 (clean within-batch dup), plus corpus 1≡4 which must NOT
    // resurface (no index self-join)
    val corpus = docs.filter(col("id") <= 4)
    val index = Dedup.minhashSignatures(corpus, "id", "text").localCheckpoint()
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the red barn"),
      (12L, "the quick brown fox jumps over the lazy dog near the red barn"),
      (13L, "entirely novel sentences describing incremental ingest pipelines today"),
      (14L, "entirely novel sentences describing incremental ingest pipelines today"))
      .toDF("id", "text")
    val pairs = Dedup.minhashPairsIncremental(index, batch, "id", "text", minEst = 0.4)
      .select(col("id_a"), col("id_b"), col("in_corpus"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(pairs.contains((11L, 1L, true)))
    assert(pairs.contains((11L, 4L, true)))
    assert(pairs.contains((12L, 1L, true)))
    assert(pairs.contains((11L, 12L, false)))
    assert(pairs.contains((13L, 14L, false)))
    // id_a is ALWAYS a batch doc: corpus-internal pairs never mined
    assert(pairs.forall(_._1 >= 11L), s"corpus self-pair leaked: $pairs")
    assert(!pairs.exists(p => p._2 == 3L), "unrelated corpus doc matched")

    // end-to-end: corpus-linked component (11,12) drops whole; clean
    // component (13,14) keeps its minimum; nothing else is touched
    val survivors = Dedup.dedupIncremental(index, batch, "id", "text", minEst = 0.4)
      .select("id").as[Long].collect().toSet
    assert(survivors === Set(13L), s"got $survivors")
    Dedup.release(index)
  }

  test("indexed incremental serve equals the flat form and prunes index files") {
    // flat serve streams the WHOLE signature index through the band join
    // per batch; the indexed form key-probes the persisted band/sig
    // tables (range stats + per-file blooms) and must return exactly the
    // same pairs — pruning is file-skipping, never a semantics change
    val corpus = graft.tools.ScaleCorpus.documents(spark, 400)
      .select(col("doc_id").as("id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_serve")
    val (bandT, sigT) = Dedup.buildMinhashIndexTables(spark,
      s"$tmp/bands", s"$tmp/sigs", corpus, "id", "text", filesPerTable = 32)
    val batch = corpus.filter(col("id").isin(10L, 250L))
      .select((col("id") + 1000L).as("id"), col("text"))
      .unionByName(Seq(
        (2001L, "zqa1 zqb1 zqc1 zqd1 zqe1"),
        (2002L, "zqa2 zqb2 zqc2 zqd2 zqe2")).toDF("id", "text"))
    val flat = Dedup.minhashPairsIncremental(
        Dedup.minhashSignatures(corpus, "id", "text"), batch, "id", "text")
      .select("id_a", "id_b", "est_jaccard", "in_corpus")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val indexed = Dedup.minhashPairsIncrementalIndexed(
        bandT, sigT, batch, "id", "text")
      .select("id_a", "id_b", "est_jaccard", "in_corpus")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(indexed === flat)
    assert(flat.exists(_._4), "no corpus hit — fixture lost its planted copies")
    assert(flat.contains((1010L, 10L, 1.0, true)) &&
      flat.contains((1250L, 250L, 1.0, true)), s"planted copies missing: $flat")
    // the band probe reads a strict subset of the 32 clustered files:
    // only the two copies' band keys are present in the index, so most
    // files fail both the range check and the bloom probe
    val keys = Dedup.minhashBandIndex(batch, "id", "text")
      .select("bandhash").distinct().as[Long].collect().toSeq
    val probed = bandT.keyProbedManifest("bandhash", keys)
    assert(probed.size < bandT.manifest().size,
      s"no pruning: ${probed.size} of ${bandT.manifest().size} files probed")
    // ZERO keys prune to ZERO files — an all-novel batch (no corpus
    // collisions) must not degrade to a full index scan per serve call
    assert(bandT.keyProbedManifest("bandhash", Nil) === Nil)
    // the index pins its signature geometry: probing with mismatched
    // bands would band-hash different slices and silently find nothing
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairsIncrementalIndexed(bandT, sigT, batch, "id", "text",
        bands = 8)
    }
    assert(e.getMessage.contains("bands"), e.getMessage)
  }

  test("indexed serve refuses an index table carrying row-level overlays") {
    // the key-probed serve reads pruned data files RAW (no mergedView), so
    // a DV/MoR/column-mapping overlay on an index table — a violation of
    // the append-only contract — must refuse loudly instead of silently
    // serving deleted/stale rows that diverge from the flat serve
    val corpus = graft.tools.ScaleCorpus.documents(spark, 100)
      .select(col("doc_id").as("id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_ovl")
    val (bandT, sigT) = Dedup.buildMinhashIndexTables(spark,
      s"$tmp/bands", s"$tmp/sigs", corpus, "id", "text", filesPerTable = 8)
    val batch = corpus.filter(col("id") === 10L)
      .select((col("id") + 1000L).as("id"), col("text"))
    // sanity: the clean tables serve fine
    assert(Dedup.minhashPairsIncrementalIndexed(bandT, sigT, batch, "id", "text")
      .collect().nonEmpty)
    // a DV delete on the band table leaves a sidecar the raw read would miss
    bandT.setProperties(Map("graft.dv.enabled" -> "true"))
    bandT.delete(col("doc") === 50L) // returns 0: pure-DV commit rewrites nothing
    assert(bandT.commitEntry(bandT.currentVersion()).dvFiles.exists(_.nonEmpty),
      "delete did not take the DV path — overlay fixture broken")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairsIncrementalIndexed(bandT, sigT, batch, "id", "text")
    }
    assert(e.getMessage.contains("overlays"), e.getMessage)
  }

  test("index append + compaction: serve stays flat-identical, files restored") {
    // the full indexed lifecycle: build on part of the corpus, extend with
    // minhashIndexAppend batches (geometry derived from the PINS, not the
    // call site), recluster — at every stage the indexed serve must equal
    // the flat serve over the same accumulated corpus, and compaction must
    // undo the append-driven file growth without touching the pins
    val all = graft.tools.ScaleCorpus.documents(spark, 400)
      .select(col("doc_id").as("id"), col("text")).localCheckpoint()
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_life")
    val (bandT, sigT) = Dedup.buildMinhashIndexTables(spark,
      s"$tmp/bands", s"$tmp/sigs", all.filter(col("id") < 200),
      "id", "text", filesPerTable = 8)
    val files0 = bandT.manifest().size
    Dedup.minhashIndexAppend(bandT, sigT,
      all.filter(col("id") >= 200 && col("id") < 300), "id", "text")
    Dedup.minhashIndexAppend(bandT, sigT,
      all.filter(col("id") >= 300), "id", "text")
    assert(bandT.manifest().size > files0, "appends added no files")
    // copy of id 250 lives in an APPENDED slice — finding it proves the
    // appended rows serve (and were signed under the pinned geometry)
    val batch = all.filter(col("id").isin(10L, 250L))
      .select((col("id") + 1000L).as("id"), col("text"))
      .unionByName(Seq((2001L, "zqa1 zqb1 zqc1 zqd1 zqe1")).toDF("id", "text"))
    def flatPairs = Dedup.minhashPairsIncremental(
        Dedup.minhashSignatures(all, "id", "text"), batch, "id", "text")
      .select("id_a", "id_b", "est_jaccard", "in_corpus")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    def indexedPairs = Dedup.minhashPairsIncrementalIndexed(
        bandT, sigT, batch, "id", "text")
      .select("id_a", "id_b", "est_jaccard", "in_corpus")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val expected = flatPairs
    assert(expected.contains((1250L, 250L, 1.0, true)),
      "appended-slice copy not mined by the flat form — fixture broken")
    assert(indexedPairs === expected)
    val (bandRw, sigRw) = Dedup.compactMinhashIndex(bandT, sigT, filesPerTable = 8)
    assert(bandRw > 0 && sigRw > 0, s"compaction rewrote nothing: $bandRw/$sigRw")
    assert(bandT.manifest().size === 8,
      s"recluster did not restore the file floor: ${bandT.manifest().size}")
    assert(indexedPairs === expected, "serve diverged after compaction")
    // pins carried forward: the geometry refusal still fires
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairsIncrementalIndexed(bandT, sigT, batch, "id", "text",
        bands = 8)
    }
    assert(e.getMessage.contains("bands"), e.getMessage)
    // and the compacted files still prune: a one-copy batch probes a
    // strict subset
    val keys = Dedup.minhashBandIndex(batch.filter(col("id") === 1010L),
      "id", "text").select("bandhash").distinct().as[Long].collect().toSeq
    assert(bandT.keyProbedManifest("bandhash", keys).size < 8)
    Dedup.release(all)
  }

  test("minhashIndexAppend signs under the PINNED geometry, not defaults") {
    // index built at numHashes=32/bands=8: an append that signed at the
    // library defaults (64/16) would produce 64-wide signatures the
    // serve's width guard rejects — a planted copy of an APPENDED doc
    // confirming at est 1.0 proves the append read the pins
    val docs = graft.tools.ScaleCorpus.documents(spark, 60)
      .select(col("doc_id").as("id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_geo")
    val (bandT, sigT) = Dedup.buildMinhashIndexTables(spark,
      s"$tmp/bands", s"$tmp/sigs", docs.filter(col("id") < 40),
      "id", "text", numHashes = 32, bands = 8, filesPerTable = 4)
    Dedup.minhashIndexAppend(bandT, sigT, docs.filter(col("id") >= 40),
      "id", "text")
    val batch = docs.filter(col("id") === 50L)
      .select((col("id") + 1000L).as("id"), col("text"))
    val got = Dedup.minhashPairsIncrementalIndexed(bandT, sigT, batch,
        "id", "text", numHashes = 32, bands = 8)
      .select("id_a", "id_b", "est_jaccard", "in_corpus")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(got.contains((1050L, 50L, 1.0, true)), s"got $got")
    // a plain table pins nothing — refuse deriving geometry from it
    val plain = graft.tables.SnapshotTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_idx_plain").toString,
      docs.limit(1))
    val e = intercept[IllegalArgumentException] {
      Dedup.indexGeometryOf(plain)
    }
    assert(e.getMessage.contains("pins no minhash"), e.getMessage)
  }

  test("incremental dedup over an empty index equals batch-mode dedup") {
    // with nothing in the corpus, "drop corpus-linked components" never
    // fires and both operators reduce to min-id-per-component — the
    // incremental path must agree with dedupNearDuplicates exactly
    val empty = Dedup.minhashSignatures(docs.limit(0), "id", "text")
    val inc = Dedup.dedupIncremental(empty, docs, "id", "text", minEst = 0.4)
      .select("id").as[Long].collect().toSet
    val batchMode = Dedup.dedupNearDuplicates(docs, "id", "text", minEst = 0.4)
      .select("id").as[Long].collect().toSet
    assert(inc === batchMode, s"incremental $inc vs batch $batchMode")
  }

  test("incremental minhash: signature width mismatch fails loudly") {
    val index = Dedup.minhashSignatures(docs, "id", "text", numHashes = 32)
    val batch = Seq((11L, "the quick brown fox jumps over the lazy dog near the red barn"))
      .toDF("id", "text")
    val e = intercept[Exception] {
      Dedup.minhashPairsIncremental(index, batch, "id", "text", numHashes = 64)
        .collect()
    }
    assert(e.getMessage.contains("numHashes"), e.getMessage)
  }

  test("simhashPairs: pigeonhole candidates + exact hamming filter") {
    val pairs = Dedup.simhashPairs(docs, "id", "text", maxHamming = 3)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical → hamming 0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashPairs: wider chunk banding returns identical pairs") {
    // chunks=8 → C(8,5)=56 keys/doc of 40 effective bits; the candidate
    // cover is still lossless for hamming <= 3, so results must match
    val narrow = Dedup.simhashPairs(docs, "id", "text", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet
    val wide = Dedup.simhashPairs(docs, "id", "text", maxHamming = 3, chunks = 8)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet
    assert(wide === narrow)
    intercept[IllegalArgumentException](
      Dedup.simhashPairs(docs, "id", "text", maxHamming = 4, chunks = 4))
  }

  test("simhashPairsFromSignatures equals the text path on precomputed signatures") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val viaText = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, chunks = 4)
      .as[(Long, Long, Int)].collect().toSet
    val sigs = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), functions.simhash64(TextAnalysis.tokens(col("text"))).as("sh"))
    val viaSigs = Dedup.simhashPairsFromSignatures(sigs, "doc_id", "sh",
        maxHamming = 3, chunks = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(viaSigs === viaText)
    // NULL signatures are dropped, not quadratic-bucketed
    val withNull = sigs.unionByName(
      Seq((999999L, Option.empty[Long])).toDF("doc_id", "sh"))
    val guarded = Dedup.simhashPairsFromSignatures(withNull, "doc_id", "sh", 3, 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(guarded === viaText)
  }

  test("embeddingPairs finds planted near-identical vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Array(1.01f, 2.0f, 3.0f, 4.0f)), // near-dup of 1
      (3L, Array(-4.0f, 3.0f, -2.0f, 1.0f))).toDF("id", "vec")
    val pairs = Dedup.embeddingPairsFixed(vecs, "id", "vec", minCos = 0.99, planes = 4,
      seeds = Seq(42L, 4242L))
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("SpaceSaving estimator regime: deterministic eviction and merge") {
    // over capacity, the evicted victim under tied counts must be the
    // lexicographically smallest item — not HashSet iteration order —
    // and merges must replay entries in sorted-item order, so two
    // buffers with identical CONTENT behave identically regardless of
    // the insertion order that built their hash maps
    def build(items: Seq[String]): SpaceSaving.Buffer = {
      val b = new SpaceSaving.Buffer(16)
      items.foreach(b.add(_, 1L, 0L))
      b
    }
    val items = (0 until 16).map(i => f"w$i%02d")
    val fwd = build(items)
    val rev = build(items.reverse)
    fwd.add("zz", 1L, 0L)
    rev.add("zz", 1L, 0L)
    assert(fwd.top(16) === rev.top(16))
    assert(!fwd.counts.containsKey("w00"), "victim was not the smallest tied item")
    assert(fwd.counts.containsKey("w15"))
    // merge determinism: same content, different build order, same result
    val extra = (0 until 16).map(i => f"x$i%02d")
    val m1 = build(items); m1.mergeFrom(build(extra))
    val m2 = build(items.reverse); m2.mergeFrom(build(extra.reverse))
    assert(m1.top(32) === m2.top(32))
  }

  test("autoLshParams: planes track corpus size, seeds restore recall") {
    // small corpora keep the 8-plane default (256 buckets covers them)
    assert(Similarity.autoLshParams(1000)._1 === 8)
    assert(Similarity.autoLshParams(0)._1 === 8)
    // 10^9 rows / 1024-row target buckets -> ceil(log2(n/target)) = 20
    val (p9, s9) = Similarity.autoLshParams(1000000000L)
    assert(p9 === math.ceil(math.log(1e9 / 1024) / math.log(2)).toInt)
    // expected occupancy bounded by design: n / 2^planes <= target
    assert(1e9 / math.pow(2, p9) <= 1024)
    // seeds follow the amplification formula at the design point
    val q = math.pow(1.0 - math.acos(0.95) / math.Pi, p9)
    assert(s9.length === math.ceil(math.log(1 - 0.90) / math.log(1 - q)).toInt)
    // the modeled recall actually clears the target
    assert(1.0 - math.pow(1.0 - q, s9.length) >= 0.90)
    // monotone: 100x the corpus never shrinks the plane count
    assert(Similarity.autoLshParams(100000000000L)._1 >= p9)
    // clamps: planes <= 30, seeds <= 64, deterministic seed derivation
    assert(Similarity.autoLshParams(Long.MaxValue)._1 <= 30)
    assert(Similarity.autoLshParams(Long.MaxValue, 1, 0.999, 0.999999)._2.length <= 64)
    assert(Similarity.autoLshParams(1000000000L) === Similarity.autoLshParams(1000000000L))
    intercept[IllegalArgumentException](Similarity.autoLshParams(-1))
    intercept[IllegalArgumentException](Similarity.autoLshParams(10, 1, 1.0))
    intercept[IllegalArgumentException](Similarity.autoLshParams(10, 1, 0.9, 1.0))
  }

  test("auto-sized LSH bounds bucket occupancy on a large synthetic corpus") {
    // 200k pseudo-random 16-dim vectors: fixed 8 planes would average
    // ~780 rows/bucket; the auto sizing must keep buckets near the target
    val n = 200000L
    val target = 256L
    val (planes, seeds) = Similarity.autoLshParams(n, target)
    assert(planes === 10) // ceil(log2(200000/256))
    val vecs = spark.range(0, n).toDF("id")
      .withColumn("vec", expr(
        "transform(sequence(0, 15), i -> cast(pmod(xxhash64(id, i), 1000) / 500.0 - 1.0 as float))"))
    val occ = vecs
      .select(functions.hyperplaneBucket(col("vec"), planes, seeds.head).as("b"))
      .groupBy("b").count()
      .agg(avg("count").as("avgOcc"), max("count").as("maxOcc"),
        count(lit(1)).as("nBuckets"))
      .as[(Double, Long, Long)].head()
    val (avgOcc, maxOcc, nBuckets) = occ
    // expected occupancy n/2^planes ≈ 195; hyperplane buckets are uneven
    // but must stay within small multiples of the design target — the
    // point is O(target²) per-bucket join work, not 8-plane quadratic
    assert(avgOcc <= 4.0 * target, s"avg occupancy $avgOcc vs target $target")
    assert(maxOcc <= 64L * target, s"max occupancy $maxOcc vs target $target")
    assert(nBuckets > 100, s"only $nBuckets buckets used")
  }

  test("ivfTopK: full probing equals brute force; partial probing finds cluster neighbors") {
    // three well-separated direction clusters, 4 vectors each
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val vecs = (0 until 12).map { i =>
      val c = base(i % 3)
      (i.toLong, c.zipWithIndex.map { case (x, j) => x + (if (j == 3) 0.01f * i else 0f) })
    }.toDF("id", "vec")
    val probes = vecs.filter(col("id") < 3)
    val exact = Similarity.bruteForceTopK(vecs, probes, "id", "vec", k = 3)
      .select(col("q_id"), col("n_id"), col("rank")).as[(Long, Long, Int)].collect().toSet
    // nProbe = nlist → every inverted list probed → exhaustive = exact
    val full = Similarity.ivfTopK(vecs, probes, "id", "vec", k = 3,
      nlist = 4, nProbe = 4, sampleN = 100)
    assert(full.select(col("q_id"), col("n_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet === exact)
    // single-probe search still finds same-cluster neighbors
    val partial = Similarity.ivfTopK(vecs, probes, "id", "vec", k = 3,
      nlist = 3, nProbe = 1, sampleN = 100)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect()
    assert(partial.nonEmpty)
    partial.foreach { case (q, n) =>
      assert(q % 3 === n % 3, s"probe $q matched cross-cluster neighbor $n")
    }
  }

  test("IVF index round-trips through snapshot tables; ivfAssign extends it") {
    import graft.tables.SnapshotTable
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val vecs = (0 until 12).map { i =>
      val c = base(i % 3)
      (i.toLong, c.zipWithIndex.map { case (x, j) => x + (if (j == 3) 0.01f * i else 0f) })
    }.toDF("id", "vec")
    val probes = vecs.filter(col("id") < 3)
    val idx = Similarity.ivfBuild(vecs, "id", "vec", nlist = 4, sampleN = 100)
    // persist both frames, read back, probe — no retraining
    val centT = SnapshotTable.create(spark, tmpDir("ivf_cent"), idx.centroids)
    val asgT = SnapshotTable.create(spark, tmpDir("ivf_asg"), idx.assigned)
    val stored = Similarity.IvfIndex(centT.read(), asgT.read())
    val exact = Similarity.bruteForceTopK(vecs, probes, "id", "vec", k = 3)
      .select(col("q_id"), col("n_id"), col("rank")).as[(Long, Long, Int)].collect().toSet
    // every list probed → exhaustive → equals brute force
    val full = Similarity.ivfProbe(stored, probes, "id", "vec", k = 3, nProbe = 4)
      .select(col("q_id"), col("n_id"), col("rank")).as[(Long, Long, Int)].collect().toSet
    assert(full === exact)
    // incremental add under the FIXED quantizer: a new vector lands in
    // its nearest list and becomes findable without a rebuild
    val extra = Seq((100L, Array(0.99f, 0f, 0f, 0.02f))).toDF("id", "vec")
    asgT.append(Similarity.ivfAssign(centT.read(), extra, "id", "vec"))
    val grown = Similarity.IvfIndex(centT.read(), asgT.read())
    val hits = Similarity.ivfProbe(grown, probes.filter(col("id") === 0), "id", "vec",
        k = 12, nProbe = 4)
      .select(col("n_id")).as[Long].collect().toSet
    assert(hits.contains(100L), s"appended vector not found: $hits")
  }

  test("IVF index tables: pinned build, file-pruned probe, append served, mismatch refused") {
    import graft.tables.SnapshotTable
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val vecs = (0 until 48).map { i =>
      val c = base(i % 3)
      (i.toLong, c.zipWithIndex.map { case (x, j) => x + (if (j == 3) 0.005f * i else 0f) })
    }.toDF("id", "vec")
    val probes = vecs.filter(col("id") < 3)
    // build on the EVEN half, append the ODD half under the stored quantizer
    val t = Similarity.buildIvfIndexTables(spark,
      tmpDir("ivft_cent"), tmpDir("ivft_asg"),
      vecs.filter(col("id") % 2 === 0), "id", "vec",
      nlist = 4, sampleN = 100, filesPerTable = 4)
    assert(t.centroids.properties().get("graft.ivf.nlist") === Some("4"))
    assert(t.centroids.properties().get("graft.ivf.fingerprint")
      === t.assigned.properties().get("graft.ivf.fingerprint"))
    Similarity.ivfAppendTo(t, vecs.filter(col("id") % 2 === 1), "id", "vec")
    // the indexed probe equals the in-memory probe over the SAME stored
    // frames — pruning is conservative file skipping only
    val stored = Similarity.IvfIndex(t.centroids.read(), t.assigned.read())
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("q_id"), col("n_id"), col("rank")).as[(Long, Long, Int)].collect().toSet
    val full = rows(Similarity.ivfProbeIndexed(t, probes, "id", "vec", k = 3, nProbe = 4))
    assert(full === rows(Similarity.ivfProbe(stored, probes, "id", "vec", k = 3, nProbe = 4)))
    // exhaustive probing over build+append = brute force over the union
    assert(full === rows(Similarity.bruteForceTopK(vecs, probes, "id", "vec", k = 3)))
    // file pruning is STRICT for a one-list probe: the assigned table is
    // range-clustered on `list`, so a single probed list opens a proper
    // subset of its files
    // probe a list that HOLDS rows (k-means can leave a centroid empty,
    // and an empty list correctly prunes to zero files)
    val listIds = Seq[Any](t.assigned.read().select("list").head().get(0))
    val pruned = t.assigned.keyProbedManifest("list", listIds)
    assert(pruned.nonEmpty && pruned.size < t.assigned.manifest().size,
      s"expected a strict file subset for one list, got ${pruned.size} of ${t.assigned.manifest().size}")
    // a centroid table paired with ANOTHER build's assignments is refused:
    // rows assigned under one quantizer served under another lose recall
    // silently, so the fingerprint pins make it loud
    val t2 = Similarity.buildIvfIndexTables(spark,
      tmpDir("ivft_cent2"), tmpDir("ivft_asg2"),
      vecs.filter(col("id") % 2 === 0), "id", "vec",
      nlist = 2, sampleN = 100, filesPerTable = 2)
    val mixed = Similarity.IvfIndexTables(t.centroids, t2.assigned)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfProbeIndexed(mixed, probes, "id", "vec")
    }
    assert(e.getMessage.contains("quantizer"), e.getMessage)
    // a centroid table whose rows drifted from its own pin is refused too
    t2.centroids.overwrite(t.centroids.read())
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfProbeIndexed(
        Similarity.IvfIndexTables(t2.centroids, t2.assigned), probes, "id", "vec")
    }
    assert(e2.getMessage.contains("fingerprint"), e2.getMessage)
  }

  test("IVF compaction: probe identical, append files folded, pins survive") {
    // many small streamed appends scatter each list across one file per
    // batch; ivfCompactIndex reclusters the assigned table back to the
    // file floor without changing a single served neighbor
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val vecs = (0 until 60).map { i =>
      val c = base(i % 3)
      (i.toLong, c.zipWithIndex.map { case (x, j) => x + (if (j == 3) 0.005f * i else 0f) })
    }.toDF("id", "vec")
    val probes = vecs.filter(col("id") < 3)
    val t = Similarity.buildIvfIndexTables(spark,
      tmpDir("ivfc_cent"), tmpDir("ivfc_asg"),
      vecs.filter(col("id") < 30), "id", "vec",
      nlist = 4, sampleN = 100, filesPerTable = 4)
    (0 until 5).foreach { b =>
      Similarity.ivfAppendTo(t,
        vecs.filter(col("id") >= 30 + b * 6 && col("id") < 36 + b * 6),
        "id", "vec")
    }
    val filesBefore = t.assigned.manifest().size
    assert(filesBefore > 4, s"appends added no files: $filesBefore")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("q_id"), col("n_id"), col("rank")).as[(Long, Long, Int)].collect().toSet
    val before = rows(Similarity.ivfProbeIndexed(t, probes, "id", "vec", k = 3, nProbe = 4))
    val rewritten = Similarity.ivfCompactIndex(t, filesPerTable = 4)
    assert(rewritten === filesBefore, s"expected $filesBefore rewritten, got $rewritten")
    assert(t.assigned.manifest().size <= 4,
      s"recluster did not restore the floor: ${t.assigned.manifest().size}")
    assert(rows(Similarity.ivfProbeIndexed(t, probes, "id", "vec", k = 3, nProbe = 4))
      === before, "probe diverged after compaction")
    // exhaustive probe still equals brute force over build+appends
    assert(before === rows(Similarity.bruteForceTopK(vecs, probes, "id", "vec", k = 3)))
    // fingerprint pins carried through the rewrite
    assert(t.assigned.properties().get("graft.ivf.fingerprint")
      === t.centroids.properties().get("graft.ivf.fingerprint"))
    // and the key-probed serve still accepts the compacted table (no
    // overlays introduced by the rewrite)
    val listIds = Seq[Any](t.assigned.read().select("list").head().get(0))
    assert(t.assigned.keyProbedManifest("list", listIds).size
      < t.assigned.manifest().size)
  }

  test("SQ8 IVF tables: append under the stored quantizer, pruned probe exact") {
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val vecs = (0 until 48).map { i =>
      val c = base(i % 3)
      (i.toLong, c.zipWithIndex.map { case (x, j) => x + (if (j == 3) 0.005f * i else 0f) })
    }.toDF("id", "vec")
    val probes = vecs.filter(col("id") < 3)
    val t = Similarity.buildIvfIndexTablesSq8(spark,
      tmpDir("ivfq_cent"), tmpDir("ivfq_asg"),
      vecs.filter(col("id") % 2 === 0), "id", "vec",
      nlist = 4, sampleN = 100, filesPerTable = 4)
    Similarity.ivfAppendToSq8(t, vecs.filter(col("id") % 2 === 1), "id", "vec")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("q_id"), col("n_id"), col("rank")).as[(Long, Long, Int)].collect().toSet
    // pruned table serve ≡ in-memory quantized probe over the same frames
    val stored = Similarity.IvfIndexSq8(t.centroids.read(), t.assigned.read())
    val full = rows(Similarity.ivfProbeIndexedSq8(t, probes, "id", "vec", k = 3, nProbe = 4))
    assert(full === rows(Similarity.ivfProbeQuantized(stored, probes, "id", "vec", k = 3, nProbe = 4)))
    // exhaustive over build+append ≡ brute-force SQ8 over the union
    assert(full === rows(Similarity.quantizedTopK(vecs, probes, "id", "vec", k = 3)))
  }

  test("PQ IVF tables: codebook-pinned build, append, pruned ADC + refined probes") {
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val vecs = (0 until 48).map { i =>
      val c = base(i % 3)
      (i.toLong, c.zipWithIndex.map { case (x, j) => x + (if (j == 3) 0.005f * i else 0f) })
    }.toDF("id", "vec")
    val probes = vecs.filter(col("id") < 3)
    val t = Similarity.buildIvfIndexTablesPq(spark,
      tmpDir("ivfp_cent"), tmpDir("ivfp_book"), tmpDir("ivfp_asg"),
      vecs.filter(col("id") % 2 === 0), "id", "vec",
      nlist = 4, m = 2, ksub = 8, sampleN = 100, filesPerTable = 4)
    // all three tables agree on BOTH quantizer pins
    val pq = t.codebooks.properties().get("graft.ivf.pq.fingerprint")
    assert(pq.isDefined)
    assert(t.centroids.properties().get("graft.ivf.pq.fingerprint") === pq)
    assert(t.assigned.properties().get("graft.ivf.pq.fingerprint") === pq)
    Similarity.ivfAppendToPq(t, vecs.filter(col("id") % 2 === 1), "id", "vec")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("q_id"), col("n_id"), col("rank")).as[(Long, Long, Int)].collect().toSet
    // pruned ADC serve ≡ in-memory ADC probe over the same frames
    val stored = Similarity.IvfIndexPq(
      t.centroids.read(), t.codebooks.read(), t.assigned.read())
    assert(rows(Similarity.ivfProbeIndexedPq(t, probes, "id", "vec", k = 3, nProbe = 4))
      === rows(Similarity.ivfProbePq(stored, probes, "id", "vec", k = 3, nProbe = 4)))
    // refined probe from the tables: each probe's exact-cosine top-1 over
    // build+append must be a same-cluster neighbor (appended ids included)
    val ref = Similarity.ivfProbeIndexedPqRefined(t, vecs, probes, "id", "vec",
        k = 1, nProbe = 4, refine = 12)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect()
    assert(ref.length === 3)
    ref.foreach { case (q, n) =>
      assert(q % 3 === n % 3, s"refined top-1 for $q crossed clusters: $n")
    }
    assert(ref.exists { case (_, n) => n % 2 == 1 },
      "no appended (odd) vector ever surfaced — append not served")
    // a codebook table that drifted from its own pin is refused: stored
    // codes would silently mis-decode against the altered entries
    val t2 = Similarity.buildIvfIndexTablesPq(spark,
      tmpDir("ivfp_cent2"), tmpDir("ivfp_book2"), tmpDir("ivfp_asg2"),
      vecs.filter(col("id") % 2 === 0), "id", "vec",
      nlist = 4, m = 2, ksub = 4, sampleN = 100, filesPerTable = 2)
    t2.codebooks.overwrite(t.codebooks.read())
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfProbeIndexedPq(t2, probes, "id", "vec")
    }
    assert(e.getMessage.contains("fingerprint"), e.getMessage)
  }

  test("semDedupPairs: nlist=1 equals brute force; clustered recall on planted copies") {
    // semDedup pins a loser-id checkpoint its lazy result reads; clean it
    // up SYNCHRONOUSLY on exit so the async ContextCleaner doesn't mutate
    // pinned-block counts under the leak-regression guard below
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    try semDedupBody()
    finally spark.sparkContext.getPersistentRDDs
      .filter(e => !pinnedBefore.contains(e._1))
      .foreach(_._2.unpersist(blocking = true))
  }

  private def semDedupBody(): Unit = {
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    def jitter(i: Int): Array[Float] = {
      val c = base(i % 3)
      // jitter is LARGE on purpose: same-cluster originals stay similar
      // (≥ ~0.98 for neighbors) but never reach the 0.9999 dup bar, so
      // only planted identical copies count as semantic duplicates
      c.zipWithIndex.map { case (x, j) => x + (if (j == 3) 0.05f * i else 0f) }
    }
    val originals = (0 until 30).map(i => (i.toLong, jitter(i)))
    val corpus = originals.toDF("id", "vec")

    // nlist=1: one cluster → all-pairs → must equal exact brute force
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val dot = x.zip(y).map { case (a, b) => a.toDouble * b }.sum
      val nx = math.sqrt(x.map(a => a.toDouble * a).sum)
      val ny = math.sqrt(y.map(a => a.toDouble * a).sum)
      dot / (nx * ny)
    }
    val expected = (for {
      (ia, va) <- originals; (ib, vb) <- originals
      if ia < ib && cos(va, vb) >= 0.98
    } yield (ia, ib)).toSet
    val exhaustive = Dedup.semDedupPairs(corpus, "id", "vec", minCos = 0.98, nlist = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exhaustive === expected)
    assert(expected.nonEmpty, "fixture must contain near-duplicate pairs")

    // clustered: identical planted copies (id+100) share their
    // original's cluster by construction → recall 1 on planted pairs,
    // and semDedup keeps exactly the min-id representative per group
    val planted = originals.filter(_._1 < 6).map { case (i, v) => (i + 100L, v) }
    val doubled = corpus.unionByName(planted.toDF("id", "vec"))
    val pairs = Dedup.semDedupPairs(doubled, "id", "vec", minCos = 0.9999, nlist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 6).foreach { i =>
      assert(pairs.contains((i.toLong, i + 100L)), s"planted pair $i missing: $pairs")
    }
    val survivors = Dedup.semDedup(doubled, "id", "vec", minCos = 0.9999, nlist = 3)
      .select("id").as[Long].collect().toSet
    assert(survivors.intersect((100L until 106L).toSet).isEmpty,
      s"planted copies must be dropped: $survivors")
    assert((0L until 6L).toSet.subsetOf(survivors), "originals must survive")
  }

  test("pair mining pins only its result block (leak regression guard)") {
    // r2 leaked operator caches; r3's fix recomputed instead. The contract
    // now: after a pair miner returns, the ONLY surviving pinned block is
    // the (small) result checkpoint, and release() frees that too.
    // track NEW block ids, not counts: the shared context's ContextCleaner
    // unpersists earlier suites' GC'd checkpoints asynchronously, so a
    // count delta can read 0 when one block was added and an unrelated
    // one reclaimed concurrently (flaked exactly so under the full suite)
    def pinnedIds() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinnedIds()
    def added() = pinnedIds() -- before
    val jp = Dedup.jaccardPairs(docs, "id", "text")
    assert(added().size === 1, "jaccardPairs left intermediate blocks pinned")
    Dedup.release(jp)
    assert(added().isEmpty)
    val mp = Dedup.minhashPairs(docs, "id", "text")
    assert(added().size === 1, "minhashPairs left intermediate blocks pinned")
    Dedup.release(mp)
    assert(added().isEmpty)
    val survivors = Dedup.dedupNearDuplicates(docs, "id", "text")
    survivors.count()
    // one block: the loser-id set the lazy result reads
    assert(added().size === 1, "dedupNearDuplicates left intermediate blocks pinned")
  }

  test("connectedComponents groups transitively (both dispatch paths)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // small graph → driver-side union-find
    val driver = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(driver(1L) === 1L && driver(2L) === 1L && driver(3L) === 1L)
    assert(driver(10L) === 10L && driver(11L) === 10L)
    // driverMaxEdges=0 forces the distributed star-contraction loop: same labels
    val distributed = Dedup.connectedComponents(pairs, driverMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(distributed === driver)
  }

  test("connectedComponents handles a path graph deeper than the round budget") {
    // A 64-hop chain needs 64 passes under naive min-label propagation —
    // round-4's code silently returned wrong labels past maxIter=10.
    // Large-star/small-star contracts it in O(log n) rounds, and a genuine
    // non-convergence now throws instead of mislabeling.
    val n = 64
    val chain = (0L until n.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain, maxIter = 10, driverMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(labels.size === n + 1)
    assert(labels.values.forall(_ === 0L),
      s"chain must collapse to component 0, got ${labels.values.toSet}")
  }

  test("connectedComponents: both dispatch paths agree on self-pair-only nodes") {
    val pairs = Seq((1L, 2L), (7L, 7L)).toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, driverMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(driver === dist)
    assert(driver(7L) === 7L) // a self-loop node is its own component
  }

  test("connectedComponents: both paths agree on a 10^4-edge mixed graph") {
    // The bench pair graphs all fit the driver union-find; this is the
    // distributed path's at-depth identity gate — a 3000-hop chain (deep
    // structure), 100 stars of 50 spokes (wide structure), duplicate AND
    // reversed edges, plus self-pair singletons, >= 10^4 edges total.
    val chain = spark.range(0, 3000)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val chainRev = chain.select(col("id_b").as("id_a"), col("id_a").as("id_b"))
    val stars = spark.range(0, 5000).select(
      (lit(10000) + (col("id") % 100) * 100).as("id_a"),
      (lit(10000) + (col("id") % 100) * 100 + 1 + floor(col("id") / 100).cast("long")).as("id_b"))
    val selfs = spark.range(100000, 100021)
      .select(col("id").as("id_a"), col("id").as("id_b"))
    val pairs = chain.union(chainRev).union(stars).union(selfs).localCheckpoint()
    assert(pairs.count() >= 10000L)
    val driver = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toSet
    val dist = Dedup.connectedComponents(pairs, driverMaxEdges = 0)
      .as[(Long, Long)].collect().toSet
    assert(dist === driver, "distributed labels diverged from driver union-find")
    val labels = driver.toMap
    assert(labels.size === 3001 + 100 * 51 + 21)
    assert((0L to 3000L).forall(labels(_) == 0L), "chain must collapse to 0")
    assert((1 to 50).forall(k => labels(10500L + k) == 10500L), "star mislabeled")
    assert(labels(100020L) === 100020L, "self-pair singleton lost")
  }

  test("dense-duplicate MINED pairs: distributed closure survivors match the driver path") {
    // a corpus of 16-copy near-dup clusters mines a pair graph whose
    // edges exceed any per-cluster driver assumption; the end-to-end
    // survivors (min-id per component) must be identical on both paths
    // clusters must be lexically DISJOINT (distinct per-cluster vocab):
    // sharing all-but-one token would make cross-cluster pairs true
    // near-dups and the per-cluster label assertion meaningless
    val dense = (0L until 512L).map { id =>
      val c = id / 16
      (id, (0 until 12).map(j => s"w${c}x$j").mkString(" "))
    }.toDF("id", "text")
    val mined = Dedup.minhashPairs(dense, "id", "text", minEst = 0.5)
    val byDriver = Dedup.connectedComponents(mined).as[(Long, Long)].collect().toSet
    val byDist = Dedup.connectedComponents(mined, driverMaxEdges = 0)
      .as[(Long, Long)].collect().toSet
    assert(byDriver === byDist)
    // every cluster collapses to its min id
    val labels = byDriver.toMap
    assert(labels.nonEmpty)
    labels.foreach { case (id, comp) => assert(comp === (id / 16) * 16,
      s"doc $id labeled $comp, expected ${(id / 16) * 16}") }
  }

  test("ZOrder.optimize refuses pending MoR deltas and stale snapshots") {
    import graft.tables.SnapshotTable
    val t = SnapshotTable(spark, tmpDir("zopt_guard"))
    t.overwrite(Seq((1L, 2L, 0L)).toDF("x", "y", "ts"))
    t.upsertDeferred(Seq((1L, 3L, 1L)).toDF("x", "y", "ts"),
      keys = Seq("x"), precombine = "ts")
    // a maintenance rewrite would silently drop the pending delta
    intercept[IllegalStateException](ZOrder.optimize(t, Seq("x", "y"), numFiles = 2))
    t.applyDeltas()
    ZOrder.optimize(t, Seq("x", "y"), numFiles = 2) // clean table: fine
    assert(t.read().count() === 1)
  }

  test("connectedComponents throws on maxIter exhaustion instead of mislabeling") {
    val chain = (0L until 32L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1, driverMaxEdges = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dedupNearDuplicates keeps one representative per dup group") {
    val kept = Dedup.dedupNearDuplicates(docs, "id", "text", minEst = 0.4)
      .select(col("id")).as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 5L)) // 2 and 4 folded into 1's group
  }

  // ------------------------------------------------------------- similarity

  test("bruteForceTopK: exact neighbors, self excluded, rank order") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f))).toDF("id", "vec")
    val r = Similarity.bruteForceTopK(vecs, vecs.filter(col("id") === 1), "id", "vec", k = 2)
      .orderBy("rank").select(col("n_id")).as[Long].collect()
    assert(r.toSeq === Seq(2L, 3L)) // cos: 2≈0.994, 3=0, 4=-1
  }

  test("lshTopK finds identical vectors (recall on exact matches)") {
    val corpus = (1 to 50).map(i => (i.toLong, Array.tabulate(8)(j => (i * 31 + j * 7 % 13).toFloat)))
      .toDF("id", "vec")
    val probes = corpus.filter(col("id") <= 3)
    val r = Similarity.lshTopK(corpus, probes, "id", "vec", k = 1, planes = 6)
      .select(col("q_id"), col("n_id"), col("cos")).as[(Long, Long, Double)].collect()
    // every probe finds at least one candidate neighbor
    assert(r.map(_._1).toSet === Set(1L, 2L, 3L))
    assert(r.forall(_._3 <= 1.0 + 1e-12))
  }

  test("semanticContaminatedIds flags embedding-near docs n-grams cannot see") {
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)),       // benchmark direction → flagged
      (2L, Array(0.97f, 0.24f, 0f)), // cos ≈ 0.97 → flagged
      (3L, Array(0f, 1f, 0f)),       // orthogonal → clean
      (4L, Array(-1f, 0f, 0f))).toDF("id", "vec")
    val bench = Seq(Tuple1(Array(1f, 0f, 0f))).toDF("bvec")
    val got = Decontaminate
      .semanticContaminatedIds(corpus, "id", "vec", bench, "bvec", minCos = 0.95)
      .as[Long].collect().toSet
    assert(got === Set(1L, 2L))
    intercept[IllegalArgumentException] {
      Decontaminate.semanticContaminatedIds(corpus, "id", "vec", bench, "bvec", 0.0)
    }
  }

  test("semanticContaminatedIdsAuto: broadcast and LSH-bucketed regimes flag identical ids") {
    // the q98 fixture shape: benchmark = every 50th vector, corpus =
    // table ∪ ×2-scaled copies of the benchmark under shifted ids
    // (direction identical ⇒ same hyperplane buckets ⇒ structurally
    // recall-proof for the bucketed regime)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val bench = emb.filter(col("vec_id") % 50 === 0)
    val corpus = emb.unionByName(bench.select(
      (col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
    def run(cutover: Long): Set[Long] =
      Decontaminate.semanticContaminatedIdsAuto(
          corpus, "vec_id", "embedding", bench, "embedding", minCos = 0.95,
          broadcastMaxBenchRows = cutover)
        .as[Long].collect().toSet
    val viaBroadcast = run(cutover = Long.MaxValue / 2)
    val viaBuckets = run(cutover = 0) // force the LSH-bucketed regime
    assert(viaBroadcast.nonEmpty, "fixture planted no contamination")
    assert(viaBuckets === viaBroadcast,
      s"regimes disagree: broadcast-only=${viaBroadcast -- viaBuckets} " +
        s"buckets-only=${viaBuckets -- viaBroadcast}")
    // and the broadcast regime matches the exact kernel it claims to be
    val exact = Decontaminate.semanticContaminatedIds(
        corpus, "vec_id", "embedding", bench, "embedding", minCos = 0.95)
      .as[Long].collect().toSet
    assert(viaBroadcast === exact)
  }

  test("hardNegatives excludes the positive before ranking") {
    val vecs = Seq(
      (1L, Array(1f, 0f)),        // query
      (11L, Array(0.99f, 0.14f)), // its positive: most similar, must be excluded
      (2L, Array(0.9f, 0.43f)),   // the true hard negative
      (3L, Array(0f, 1f)),        // easy negative
      (4L, Array(-1f, 0f))).toDF("vec_id", "vec")
    val pairs = Seq((1L, 11L)).toDF("q_id", "pos_id")
    val got = Similarity.hardNegatives(vecs, pairs, "vec_id", "vec", k = 2)
      .select(col("q_id"), col("n_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSeq.sortBy(_._3)
    // the positive would have ranked first; with pre-rank exclusion the
    // hard negative tops the list and the easy one fills k=2
    assert(got.map(_._2) === Seq(2L, 3L))
    // a query with no row in pairs is simply not mined
    assert(Similarity.hardNegatives(vecs, pairs, "vec_id", "vec", k = 2)
      .select("q_id").distinct().count() === 1)
  }

  test("hardNegatives with several positives per query excludes all, duplicates none") {
    // two (q_id, pos_id) pairs for one query: ranking partitions by
    // q_id alone, so a per-pair row shape would let each positive
    // survive via the OTHER pair's rows and emit every candidate twice
    val vecs = Seq(
      (1L, Array(1f, 0f)),         // query
      (11L, Array(0.99f, 0.14f)),  // positive A — most similar
      (12L, Array(0.97f, 0.24f)),  // positive B — second most similar
      (2L, Array(0.9f, 0.43f)),    // the true hard negative
      (3L, Array(0f, 1f)),         // easy negative
      (4L, Array(-1f, 0f))).toDF("vec_id", "vec")
    val pairs = Seq((1L, 11L), (1L, 12L)).toDF("q_id", "pos_id")
    val got = Similarity.hardNegatives(vecs, pairs, "vec_id", "vec", k = 3)
      .select(col("q_id"), col("n_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSeq.sortBy(_._3)
    // both positives excluded, each candidate exactly once, ranks dense
    assert(got.map(_._2) === Seq(2L, 3L, 4L))
    assert(got.map(_._3) === Seq(1, 2, 3))
  }

  // ------------------------------------------------------------- multimodal

  test("multimodal: batched stub decode is deterministic with real schema") {
    val assets = Multimodal.asAssets(docs, "id", "text")
    val out = Multimodal.decodeImages(assets)
    assert(out.schema.fieldNames.toSeq ===
      Seq("asset_id", "width", "height", "channels", "features"))
    val rows = out.as[(Long, Int, Int, Int, Array[Float])].collect()
    assert(rows.length === 5)
    assert(rows.forall(_._5.length === 8))
    // identical payloads decode identically (ids 1 and 4)
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(1L)._5.toSeq === byId(4L)._5.toSeq)
    assert(byId(1L)._2 === byId(4L)._2)
    // re-run → identical output (determinism across jobs)
    val again = Multimodal.decodeImages(assets).as[(Long, Int, Int, Int, Array[Float])]
      .collect().map(r => r._1 -> r._5.toSeq).toMap
    assert(rows.forall(r => again(r._1) === r._5.toSeq))
  }

  test("multimodal: real PNG decode recovers planted dimensions, channels, and pixels") {
    // encode → decode roundtrip through the actual JDK codecs: solid
    // 5x7 gray-160 and 16x1 gray-31 images
    val png1 = Multimodal.encodePng(5, 7, 160)
    val png2 = Multimodal.encodePng(16, 1, 31)
    // PNG magic bytes prove a real encoder ran
    assert((png1(0) & 0xFF) === 0x89 && png1(1) === 'P'.toByte)
    val d1 = Multimodal.decodeImage(1L, png1).get
    assert((d1.width, d1.height, d1.channels) === ((5, 7, 3)))
    // solid gray 160 → all luminance mass in bin 160>>5 = 5
    assert(d1.features(5) === 1.0f)
    assert(d1.features.sum === 1.0f)
    val d2 = Multimodal.decodeImage(2L, png2).get
    assert((d2.width, d2.height) === ((16, 1)))
    assert(d2.features(0) === 1.0f) // 31>>5 = 0
    // decodeImages routes decodable payloads through the REAL decoder
    // and corrupt/undecodable ones through the stub — one row each
    val mixed = Seq(
      (10L, png1),
      (11L, "not an image at all".getBytes("UTF-8")),
      (12L, png1.take(8).toArray), // truncated header: ImageIO rejects
      (13L, null.asInstanceOf[Array[Byte]])).toDF("asset_id", "media")
    val out = Multimodal.decodeImages(mixed)
      .as[(Long, Int, Int, Int, Array[Float])].collect().map(r => r._1 -> r).toMap
    assert(out.size === 4)
    assert((out(10L)._2, out(10L)._3) === ((5, 7))) // real decode
    val stub11 = Multimodal.decodeStub(11L, "not an image at all".getBytes("UTF-8"))
    assert((out(11L)._2, out(11L)._3) === ((stub11.width, stub11.height)))
    assert(out(11L)._5.toSeq === stub11.features.toSeq)
    assert(out(12L)._2 === Multimodal.decodeStub(12L, png1.take(8).toArray).width)
    assert(out(13L)._2 === Multimodal.decodeStub(13L, null).width)
  }

  test("multimodal: dHash is scale- and brightness-invariant; image near-dup pairs mine banded") {
    // block-constant pattern: each of the 9x8 grid cells has one gray.
    // NONLINEAR in x (the q116 formula): a linear ramp has a constant
    // gradient, which dHashes to the degenerate all-ones signature
    def pattern(v: Int, u: Int)(x: Int, y: Int): Int =
      (v * (x + 3) + u * (y + 1) * (x + 1)) % 256
    def gray(x: Int, y: Int): Int = pattern(12345, 54321)(x, y)
    val small = Multimodal.encodePngPixels(9, 8, gray)
    // 10x upscale (each cell becomes a 10x10 block): area-averaging the
    // 90x80 image back onto the 9x8 grid recovers the exact cell grays,
    // so the hash is identical — the resize path is proven, not assumed
    val big = Multimodal.encodePngPixels(90, 80, (x, y) => gray(x / 10, y / 10))
    val hSmall = Multimodal.dHash(small).get
    assert(Multimodal.dHash(big).get === hSmall, "downsampled hash diverged")
    // dHash encodes GRADIENTS: a global brightness shift (no clipping)
    // leaves every comparison — hence the hash — unchanged
    val maxG = (0 until 9).flatMap(x => (0 until 8).map(y => gray(x, y))).max
    val shift = math.min(20, 255 - maxG)
    assert(shift > 0, "fixture grays leave no brightness headroom")
    val brighter = Multimodal.encodePngPixels(9, 8, (x, y) => gray(x, y) + shift)
    assert(Multimodal.dHash(brighter).get === hSmall, "brightness shift moved the hash")
    assert(Multimodal.dHash("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.dHash(null).isEmpty)
    // pair mining: a one-pixel perturbation flips at most two adjacent
    // gradient bits — banding must recover the pair; an unrelated
    // pattern and an undecodable payload must not pair with anything
    val perturbed = Multimodal.encodePngPixels(9, 8,
      (x, y) => if (x == 4 && y == 2) (gray(x, y) + 128) % 256 else gray(x, y))
    val other = Multimodal.encodePngPixels(9, 8, pattern(9876, 4321))
    val assets = Seq(
      (1L, small), (2L, perturbed), (3L, other),
      (4L, "junk payload".getBytes("UTF-8"))).toDF("asset_id", "media")
    val pairs = Dedup.imageNearDupPairs(assets)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 2),
      s"planted near-dup not recovered: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      s"unrelated/undecodable asset paired: $pairs")
  }

  test("multimodal: real WAV decode recovers planted rate, frames, and signal features") {
    // encode → decode roundtrip through the actual JDK sampled-audio
    // codecs: a ±200 square wave with half-period 3 over 60 frames
    val a = 200
    val samples = Array.tabulate(60)(t => (if ((t / 3) % 2 == 0) a else -a).toShort)
    val wav = Multimodal.encodeWav(8000, samples)
    // RIFF/WAVE magic proves a real encoder ran
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    val d = Multimodal.decodeAudio(1L, wav).get
    assert((d.sample_rate, d.channels, d.n_frames) === ((8000, 1, 60L)))
    assert(d.rms === a.toDouble)          // all |s| = a → RMS exactly a
    assert(d.zero_crossings === 59L / 3)  // sign flips at multiples of 3
    assert(d.peak === a)
    // a silent clip: rms 0, no crossings under the sign convention
    val silent = Multimodal.decodeAudio(2L, Multimodal.encodeWav(16000, new Array[Short](32))).get
    assert((silent.rms, silent.zero_crossings, silent.peak) === ((0.0, 0L, 0)))
    assert(silent.sample_rate === 16000)
    // batched pipeline: decodable rows go through the REAL decoder,
    // corrupt/null ones land on the zero-marked stub — one row each
    val mixed = Seq(
      (10L, wav),
      (11L, "not audio".getBytes("UTF-8")),
      (12L, wav.take(16).toArray),
      (13L, null.asInstanceOf[Array[Byte]])).toDF("asset_id", "media")
    val out = Multimodal.decodeAudios(mixed)
    assert(out.schema.fieldNames.toSeq === Seq("asset_id", "sample_rate",
      "channels", "n_frames", "rms", "zero_crossings", "peak"))
    val rows = out.as[(Long, Int, Int, Long, Double, Long, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(rows.size === 4)
    assert((rows(10L)._2, rows(10L)._4, rows(10L)._5) === ((8000, 60L, a.toDouble)))
    Seq(11L, 12L, 13L).foreach { id =>
      assert(rows(id)._2 === 0, s"asset $id should be the stub row")
      assert((rows(id)._4, rows(id)._5, rows(id)._7) === ((0L, 0.0, 0)))
    }
  }

  test("multimodal: real animated-GIF decode samples frames at stride") {
    // 5 solid frames, grays 16,80,144,208,240 → bins 0,2,4,6,7; stride 2
    // samples frames 0,2,4 → bins 0,4,7
    val gif = Multimodal.encodeGif(6, 4, Seq(16, 80, 144, 208, 240))
    assert(new String(gif.take(3), "US-ASCII") === "GIF") // real encoder ran
    val d = Multimodal.decodeVideo(1L, gif, everyN = 2).get
    assert((d.width, d.height, d.n_frames) === ((6, 4, 5)))
    assert(d.sampled_bins.toSeq === Seq(0, 4, 7))
    // stride 1 decodes every frame
    assert(Multimodal.decodeVideo(1L, gif, 1).get.sampled_bins.toSeq ===
      Seq(0, 2, 4, 6, 7))
    // batched pipeline: corrupt payloads land on the zero-marked stub
    val mixed = Seq(
      (10L, gif),
      (11L, "not a video".getBytes("UTF-8")),
      (12L, null.asInstanceOf[Array[Byte]])).toDF("asset_id", "media")
    val out = Multimodal.decodeVideos(mixed, everyN = 2)
    assert(out.schema.fieldNames.toSeq ===
      Seq("asset_id", "width", "height", "n_frames", "sampled_bins"))
    val rows = out.as[(Long, Int, Int, Int, Array[Int])]
      .collect().map(r => r._1 -> r).toMap
    assert((rows(10L)._2, rows(10L)._4, rows(10L)._5.toSeq) === ((6, 5, Seq(0, 4, 7))))
    Seq(11L, 12L).foreach { id =>
      assert((rows(id)._4, rows(id)._5.toSeq) === ((0, Seq())), s"asset $id")
    }
  }

  test("multimodal: frame sampling slices fixed-stride binary frames") {
    val df = Seq((1L, Array.tabulate(100)(_.toByte))).toDF("id", "media")
    val frames = df.select(Multimodal.frameSample(col("media"), frameBytes = 10, everyN = 2).as("f"))
      .select(size(col("f")).as("n"), col("f")).first()
    assert(frames.getInt(0) === 5) // frames at 0,20,40,60,80
    // trailing complete frame is kept: blocks at 0,30,60,90 all fit —
    // flooring by frameBytes*everyN would have dropped the one at 90
    val odd = df.select(size(Multimodal.frameSample(col("media"), 10, 3)).as("n"))
      .as[Int].head()
    assert(odd === 4)
    // empty docs under ANSI: ratio guards return 0 instead of throwing
    val ratios = Seq((1L, "")).toDF("id", "text")
      .select(TextAnalysis.punctRatio(col("text")).as("p"))
      .as[Double].head()
    assert(ratios === 0.0)
  }

  test("multimodal features feed similarity search (pipeline composition)") {
    // decode emits an embedding per asset; identical payloads (docs 1 and
    // 4) produce identical stub features, so ANN must rank them first —
    // the full binary-column → feature → similarity pipeline shape
    val feats = Multimodal.decodeImages(Multimodal.asAssets(docs, "id", "text"))
      .select(col("asset_id"), col("features"))
    val top = Similarity.bruteForceTopK(
      feats, feats.filter(col("asset_id") === 1), "asset_id", "features", k = 1)
      .select("q_id", "n_id", "cos").as[(Long, Long, Double)].head()
    assert(top._1 === 1L && top._2 === 4L, s"got $top")
    assert(math.abs(top._3 - 1.0) < 1e-9)
  }

  test("multimodal: resize target preserves aspect ratio, never upscales") {
    val df = Seq((4000, 3000), (300, 200), (100, 5000)).toDF("w", "h")
    val (tw, th) = Multimodal.resizeTarget(col("w"), col("h"), maxDim = 1000)
    val got = df.select(tw.as("tw"), th.as("th")).as[(Int, Int)].collect().toSeq
    assert(got(0) === ((1000, 750)))  // downscale, aspect kept
    assert(got(1) === ((300, 200)))   // already within bound: untouched
    assert(got(2) === ((20, 1000)))   // portrait bound on the long side
  }

  test("z-order clustering prunes on every clustered column") {
    import graft.tables.SnapshotTable
    // 2-D grid: x in [0,1000), y in [0,100) — independent dimensions
    val df = spark.range(0, 100000).toDF("i")
      .withColumn("x", col("i") % 1000)
      .withColumn("y", floor(col("i") / 1000).cast("long"))
      .drop("i")
    val t = SnapshotTable(spark, tmpDir("zorder"))
    t.overwrite(ZOrder.cluster(df, Seq("x", "y"), numFiles = 16))
    assert(t.manifest().size === 16)
    // a point filter on EITHER dimension must prune well below all files
    // <= 10 of 16, not a tighter bound: repartitionByRange's sampling
    // seed derives from the RDD id, so file boundaries shift with suite
    // ordering and the kept count flakes by one around z-cell edges
    // (a full-suite run read 9 where standalone reads 7-8)
    val xPruned = t.prunedManifest(col("x") === 123L).size
    val yPruned = t.prunedManifest(col("y") === 45L).size
    assert(xPruned <= 10, s"x filter kept $xPruned of 16 files")
    assert(yPruned <= 10, s"y filter kept $yPruned of 16 files")
    // correctness unchanged
    assert(t.scan(col("x") === 123L).count() === 100)
    assert(t.scan(col("y") === 45L).count() === 1000)
  }

  test("ZOrder.optimize rewrites an unclustered table into a prunable one") {
    import graft.tables.SnapshotTable
    val df = spark.range(0, 50000).toDF("i")
      .withColumn("x", col("i") % 500)
      .withColumn("y", floor(col("i") / 500).cast("long"))
      .drop("i")
      .repartition(8) // deliberately unclustered: every file spans all keys
    val t = SnapshotTable(spark, tmpDir("zopt"))
    t.overwrite(df)
    val before = t.prunedManifest(col("x") === 77L).size
    assert(before === t.manifest().size) // nothing prunable yet
    ZOrder.optimize(t, Seq("x", "y"), numFiles = 16)
    assert(t.manifestAction().contains("optimize-zorder"))
    // <= 10 of 16: see the sampling-seed note in the sibling test
    assert(t.prunedManifest(col("x") === 77L).size <= 10)
    assert(t.prunedManifest(col("y") === 33L).size <= 10)
    assert(t.scan(col("x") === 77L).count() === 100) // content unchanged
  }

  test("ZOrder.optimize preserves the z-layout on a cluster-spec'd table") {
    import graft.tables.SnapshotTable
    // table persisted with a 1-D clusterBy(x): a plain overwrite would
    // re-apply repartitionByRange(x) and destroy the z-curve's y-locality
    val df = spark.range(0, 50000).toDF("i")
      .withColumn("x", col("i") % 500)
      .withColumn("y", floor(col("i") / 500).cast("long"))
      .drop("i")
    val t = SnapshotTable.createEmpty(spark, tmpDir("zopt_clustered"),
      df.schema, clusterBy = Seq("x"))
    t.append(df)
    // 1-D x-clustering: y spans every file → y lookups read everything
    assert(t.prunedManifest(col("y") === 33L).size === t.manifest().size)
    ZOrder.optimize(t, Seq("x", "y"), numFiles = 16)
    val all = t.manifest().size
    val yKept = t.prunedManifest(col("y") === 33L).size
    assert(yKept <= all / 2, s"y filter kept $yKept of $all files — z-layout destroyed?")
    assert(t.clusterSpec() === Seq("x")) // spec metadata still carried forward
    assert(t.scan(col("y") === 33L).count() === 500) // content unchanged
  }

  // ------------------------------------------------------------------- text

  test("repetitionRatio flags looping text, passes diverse text") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),  // 6 trigrams, 1 distinct
      (2L, "each word here is completely distinct today"), // all distinct
      (3L, "ab"),                                       // shorter than n
      (4L, "")).toDF("id", "text")
    val r = df.select(col("id"), TextAnalysis.repetitionRatio(col("text"), 3).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r(1L) - (1.0 - 1.0 / 6)) < 1e-9, s"got ${r(1L)}")
    assert(r(2L) === 0.0)
    assert(r(3L) === 0.0)
    assert(r(4L) === 0.0)
  }

  test("counting kernels match the regex/lambda formulas they replaced") {
    // the q47 hot-path kernels (punctCount / stopwordHits /
    // spaceTokenCount) must be bit-identical to the expression forms
    // they replaced, across ASCII, multi-byte UTF-8, unicode
    // punctuation/numbers, NBSP, empty docs, and edge whitespace
    val fixtures = Seq(
      "hello, world! 42",
      "",
      "   ",                        // only spaces (empty tokens)
      "the and of to is the the",   // stopword-dense
      "héllo wörld«quoted»—dash",   // accented letters + unicode punct
      "你好。世界！",                 // CJK + fullwidth punctuation
      "Ⅻ ① ٣ digits",              // Nl / No / Nd unicode numbers
      "a\tb\nc\rd",                 // non-space whitespace (\s but not tokenizer split)
      "nbsp here",             // NBSP: punct for \s-default regex
      "trailing space ",
      " leading",
      "emoji 😀 and math ∑∞",       // supplementary plane + Sm symbols
      "the quick брown лиса")       // cyrillic letters
    val df = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val stops = TextAnalysis.langMarkers.head._2
    val stopsArr = array(stops.map(lit): _*)
    val rows = df.select(
      functions.punctCount(col("text")).as("pk"),
      length(regexp_replace(col("text"), "[\\p{L}\\p{N}\\s]", "")).as("pr"),
      functions.spaceTokenCount(col("text")).as("tk"),
      size(split(col("text"), " ")).as("tr"),
      functions.stopwordHits(col("text"), stops).as("sk"),
      size(filter(split(col("text"), " "), t => array_contains(stopsArr, t))).as("sr"),
      col("text"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) === r.getInt(1), s"punctCount mismatch on '${r.getString(6)}'")
      assert(r.getInt(2) === r.getInt(3), s"spaceTokenCount mismatch on '${r.getString(6)}'")
      assert(r.getInt(4) === r.getInt(5), s"stopwordHits mismatch on '${r.getString(6)}'")
    }
    // null text propagates null through all three kernels
    val nulls = Seq((1L, Option.empty[String])).toDF("id", "text")
      .select(functions.punctCount(col("text")),
        functions.spaceTokenCount(col("text")),
        functions.stopwordHits(col("text"), stops))
      .first()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1) && nulls.isNullAt(2))
  }

  test("bigramLogProb matches hand-computed add-one-smoothed scores") {
    // corpus: d1 "a b a b", d2 "a b", d3 "x" (no bigrams — drops out)
    // c2(a,b)=3, c2(b,a)=1; ctx(a)=3, ctx(b)=1; |V| = |{a,b,x}| = 3
    // P(b|a) = 4/6, P(a|b) = 2/4
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x")).toDF("id", "text")
    val got = TextAnalysis.bigramLogProb(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set(1L, 2L))
    val pba = math.log(4.0 / 6.0)
    val pab = math.log(2.0 / 4.0)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(2L) === r4(pba))
    assert(got(1L) === r4((2 * pba + pab) / 3))
    // sequence sensitivity: shuffled text scores below natural order even
    // when unigram frequencies are identical
    val corp = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the mat"),
      (3L, "the cat sat on the rug"), (4L, "mat the on sat cat the")).toDF("id", "text")
    val s = TextAnalysis.bigramLogProb(corp, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(4L) < s(1L), s"shuffled ${s(4L)} should score below natural ${s(1L)}")
  }

  test("bpeEncode runs exact greedy byte-level merges") {
    // merges build "hello" fully (id 259) and "world" partially
    // ([wor=261, l=108, d=100]); (a,a) tests leftmost-first no-overlap
    val merges = Seq("h" -> "e", "he" -> "l", "hel" -> "l", "hell" -> "o",
      "w" -> "o", "wo" -> "r", "a" -> "a")
    val df = Seq(
      (1L, "hello world"),
      (2L, "hello hello"),
      (3L, ""),
      (4L, "a  b"),    // empty middle word contributes no pieces
      (5L, "héllo"),   // é: two UTF-8 bytes; no merge applies → raw bytes
      (6L, "aaa")).toDF("id", "text")
    val got = df.select(col("id"), functions.bpeEncode(col("text"), merges).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(got(1L) === Seq(259, 261, 108, 100))
    assert(got(2L) === Seq(259, 259))
    assert(got(3L) === Seq())
    assert(got(4L) === Seq(97, 98))
    assert(got(5L) === Seq(104, 0xC3, 0xA9, 108, 108, 111))
    assert(got(6L) === Seq(262, 97)) // (a,a)=rank 6 merges leftmost pair only
    // null text → null; malformed merges fail at driver time
    val n = Seq((1L, Option.empty[String])).toDF("id", "text")
      .select(functions.bpeEncode(col("text"), merges)).first()
    assert(n.isNullAt(0))
    intercept[IllegalArgumentException](Bpe.compile(Seq("xy" -> "z")))
    intercept[IllegalArgumentException](Bpe.compile(Seq("a" -> "b", "a" -> "b")))
  }

  test("sketch states store, roll up, and merge back to the one-pass result") {
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("g", (col("id") % 3).cast("int"))
      .withColumn("v", concat(lit("tok"), col("id") % 700))
    // KMV: split → per-half states → merge == direct one-pass aggregate
    val direct = df.groupBy("g").agg(functions.kmvDistinct(col("v"), 1024).as("nd"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val s1 = df.filter(col("id") % 2 === 0).groupBy("g")
      .agg(functions.kmvState(col("v"), 1024).as("st"))
    val s2 = df.filter(col("id") % 2 === 1).groupBy("g")
      .agg(functions.kmvState(col("v"), 1024).as("st"))
    val merged = s1.unionByName(s2).groupBy("g")
      .agg(functions.kmvMerge(col("st"), 1024).as("nd"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(merged === direct)
    assert(direct.values.toSet === Set(700L)) // exact regime: true distinct count
    // two-level rollup: merge_state per group, then merge across groups,
    // equals the direct global answer
    val global = df.agg(functions.kmvDistinct(col("v"), 1024)).head().getLong(0)
    val rolled = s1.unionByName(s2)
      .groupBy("g").agg(functions.kmvMergeState(col("st"), 1024).as("st"))
      .agg(functions.kmvMerge(col("st"), 1024)).head().getLong(0)
    assert(rolled === global && global === 700L)
    // canonical state bytes: identical across partitionings
    val b1 = df.repartition(3).agg(functions.kmvState(col("v"), 1024))
      .head().getAs[Array[Byte]](0)
    val b2 = df.repartition(17).agg(functions.kmvState(col("v"), 1024))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(b1, b2))
    // ESTIMATOR regime (k far below distinct): the state is a pure
    // function of the input set, so split-store-merge equals direct
    // EXACTLY — same k-smallest hashes, same u_k, same estimate — even
    // when the count itself is approximate
    val big = spark.range(0, 60000).toDF("id")
      .withColumn("v", concat(lit("x"), col("id")))
    val dBig = big.agg(functions.kmvDistinct(col("v"), 256)).head().getLong(0)
    val mBig = big.filter(col("id") % 2 === 0)
      .agg(functions.kmvState(col("v"), 256).as("st"))
      .unionByName(big.filter(col("id") % 2 === 1)
        .agg(functions.kmvState(col("v"), 256).as("st")))
      .agg(functions.kmvMerge(col("st"), 256)).head().getLong(0)
    assert(mBig === dBig)
    assert(math.abs(dBig - 60000.0) / 60000.0 < 0.2) // ~1/sqrt(k-2) error
    // SpaceSaving: store halves → merge == direct, exact regime (err 0)
    val sk = df.withColumn("w", concat(lit("t"), floor(sqrt(col("id") % 100))))
    val dTop = sk.groupBy("g").agg(functions.approxTopItems(col("w"), 4096, 16).as("top"))
      .collect().map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(x =>
        (x.getString(0), x.getLong(1), x.getLong(2))).toSet).toMap
    val t1 = sk.filter(col("id") % 2 === 0).groupBy("g")
      .agg(functions.topItemsState(col("w"), 4096).as("st"))
    val t2 = sk.filter(col("id") % 2 === 1).groupBy("g")
      .agg(functions.topItemsState(col("w"), 4096).as("st"))
    val mTop = t1.unionByName(t2).groupBy("g")
      .agg(functions.topItemsMerge(col("st"), 4096, 16).as("top"))
      .collect().map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(x =>
        (x.getString(0), x.getLong(1), x.getLong(2))).toSet).toMap
    assert(mTop === dTop)
    assert(dTop.values.flatten.forall(_._3 === 0L)) // exact: no eviction error
  }

  test("kmvMerge fails loudly when served with a larger k than the stored states") {
    // a k=256 state holds only its 256 smallest hashes over 60k distinct
    // values; merged under k=4096 the buffer under-fills, hits the exact
    // branch, and would silently report ~256 — the state carries its
    // build-time k so the mismatch throws instead
    val big = spark.range(0, 60000).toDF("id")
      .withColumn("v", concat(lit("x"), col("id")))
    val st = big.agg(functions.kmvState(col("v"), 256).as("st"))
    val e = intercept[Exception] {
      st.agg(functions.kmvMerge(col("st"), 4096)).head()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("cannot serve a larger k")))
    // the safe direction — stored k ABOVE the serving k — merges fine:
    // the k-smallest of a 1024-hash state under k=256 is still the true
    // 256-smallest-distinct set, so the estimate matches a direct k=256 run
    val direct = big.agg(functions.kmvDistinct(col("v"), 256)).as[Long].head()
    val down = big.agg(functions.kmvState(col("v"), 1024).as("st"))
      .agg(functions.kmvMerge(col("st"), 256)).as[Long].head()
    assert(down === direct)
    // an UNSATURATED smaller-k state holds its input set exactly, so
    // serving it under a larger k is exact and allowed
    val small = spark.range(0, 50).toDF("id")
      .withColumn("v", concat(lit("y"), col("id")))
    val up = small.agg(functions.kmvState(col("v"), 256).as("st"))
      .agg(functions.kmvMerge(col("st"), 4096)).as[Long].head()
    assert(up === 50L)
    // foreign bytes are rejected loudly, never misparsed as a state
    val junk = Seq(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13))
      .toDF("st")
    val e2 = intercept[Exception] {
      junk.agg(functions.kmvMerge(col("st"), 256)).head()
    }
    def chain2(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain2(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("bad magic")))
  }

  test("pmiCollocations matches hand-computed log-space PMI and ordering") {
    // c2: (a,b)=3, (b,a)=2, (c,c)=6; N=11; cl: a=3,b=2,c=6; cr: b=3,a=2,c=6
    val df = Seq((1L, "a b a b a b"), (2L, "c c c c c c c")).toDF("id", "text")
    val got = TextAnalysis.pmiCollocations(df, "id", "text", minCount = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq === Seq(
      ("b", "a", 2L, r4(math.log(2) + math.log(11) - math.log(2) - math.log(2))),
      ("a", "b", 3L, r4(math.log(3) + math.log(11) - math.log(3) - math.log(3))),
      ("c", "c", 6L, r4(math.log(6) + math.log(11) - math.log(6) - math.log(6)))))
    // minCount floors rare pairs out entirely
    assert(TextAnalysis.pmiCollocations(df, "id", "text", minCount = 4, k = 10)
      .count() === 1)
  }

  test("session_window break-at-gap convention matches the q91 oracle replay") {
    // session_window's [ts, ts+gap] is closed on the right: an event at
    // EXACTLY the previous session end still merges; the first strictly
    // later event breaks. The q91 oracle encodes the same convention
    // (break on gap > 30 min) — pin the boundary case, which the fixture
    // data never exercises
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0),
      (1L, ts("2024-01-01 10:40:00"), 4.0), // exactly at 10:10+30m: MERGES
      (1L, ts("2024-01-01 11:10:00.000001"), 16.0), // 1 µs past the end: breaks
      (2L, ts("2024-01-01 09:00:00"), 8.0)).toDF("user_id", "ts", "value")
    val got = ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .select(col("user_id"), col("sw.start").as("st"), col("sw.end").as("en"),
        col("n"), col("v"))
      .orderBy("user_id", "st")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 11:10:00.0", 3L, 7.0),
      (1L, "2024-01-01 11:10:00.000001", "2024-01-01 11:40:00.000001", 1L, 16.0),
      (2L, "2024-01-01 09:00:00.0", "2024-01-01 09:30:00.0", 1L, 8.0)))
  }

  test("linearScore matches the explode+model-join replay exactly") {
    // the q88 kernel (binary search over sorted vocab hashes, one pass,
    // no shuffle) must equal the textbook formulation: explode tokens,
    // join the model table, mean the weights, add the bias. Dyadic
    // weights keep every partial sum exact, so equality is bitwise.
    val model = Map("the" -> 0.5, "and" -> -0.25, "héllo" -> 1.125,
      "" -> 0.0625, "missing" -> 8.0)
    val bias = -0.125
    val fixtures = Seq(
      "the and the and the",
      "no vocab tokens here",
      "",                        // one empty token — matches "" in vocab
      "a  b",                    // double space: empty middle token
      "héllo wörld héllo",       // multi-byte UTF-8 vocab hit
      "the")
    val df = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val fast = df.select(col("id"),
        TextAnalysis.linearScore(col("text"), model, bias).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val modelDf = model.toSeq.toDF("tok", "w")
    val slow = df.select(col("id"), explode(split(col("text"), " ")).as("tok"),
        size(split(col("text"), " ")).as("n"))
      .join(modelDf, Seq("tok"), "left")
      .groupBy("id").agg((lit(bias) +
        coalesce(sum("w"), lit(0.0)) / first("n")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    fixtures.indices.foreach { i =>
      assert(fast(i.toLong) === slow(i.toLong),
        s"linearScore mismatch on '${fixtures(i)}'")
    }
    // null text propagates null
    val n = Seq((1L, Option.empty[String])).toDF("id", "text")
      .select(TextAnalysis.linearScore(col("text"), model, bias)).first()
    assert(n.isNullAt(0))
    // empty vocabulary is rejected eagerly
    intercept[IllegalArgumentException] {
      functions.tokenWeightSum(col("text"), Map.empty[String, Double])
    }
  }

  test("bpe-ish token counting splits contractions, numbers, punctuation") {
    val df = Seq(
      (1L, "I'll pay $42.50 for it!"),
      (2L, "hello world"),
      (3L, "")).toDF("id", "text")
    val r = df.select(col("id"), TextAnalysis.bpeTokenCount(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    // I | 'll | pay | $ | 42 | . | 50 | for | it | !  → 10 segments
    assert(r(1L) === 10, s"got ${r(1L)}")
    assert(r(2L) === 2)
    assert(r(3L) === 0)
  }

  test("chunking: windows, stride overlap, clamped tail, single-chunk docs") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: 3 chunks @ c=4,s=3
      (2L, "a b c"),                                  // under the window: 1 chunk
      (3L, "x y z w")).toDF("id", "text")             // exactly the window: 1 chunk
    val got = TextAnalysis.chunkDocs(df, "id", "text", chunkTokens = 4, stride = 3)
      .as[(Long, Int, String)].collect().toSet
    assert(got === Set(
      (1L, 0, "t1 t2 t3 t4"), (1L, 1, "t4 t5 t6 t7"), (1L, 2, "t7 t8 t9 t10"),
      (2L, 0, "a b c"),
      (3L, 0, "x y z w")))
    // every token of every doc appears in at least one chunk (coverage)
    val covered = TextAnalysis.chunkDocs(df, "id", "text", 4, 3)
      .select(col("id"), explode(split(col("chunk_text"), " ")).as("tok"))
      .distinct().groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(covered === Map(1L -> 10L, 2L -> 3L, 3L -> 4L))
  }

  test("epochShuffle: stable order, contiguous positions, epochs decorrelate") {
    val ids = spark.range(0, 2000).toDF("id")
    val e1 = Sampling.epochShuffle(ids, "id", epoch = 1)
      .select("id", "pos").as[(Long, Long)].collect()
    // contiguous 0-based positions, every id exactly once
    assert(e1.map(_._2).sorted.toSeq === (0L until 2000L))
    assert(e1.map(_._1).toSet === (0L until 2000L).toSet)
    // layout-independence: a repartitioned input produces the SAME order
    val e1b = Sampling.epochShuffle(ids.repartition(13), "id", 1)
      .select("id", "pos").as[(Long, Long)].collect()
    assert(e1.toMap === e1b.toMap)
    // a different epoch produces a genuinely different permutation
    val e2 = Sampling.epochShuffle(ids, "id", epoch = 2)
      .select("id", "pos").as[(Long, Long)].collect().toMap
    val same = e1.count { case (id, p) => e2(id) == p }
    assert(same < 100, s"epochs 1 and 2 agree on $same/2000 positions")
    // the order is not the identity (it actually shuffles)
    val identity = e1.count { case (id, p) => id == p }
    assert(identity < 100, s"epoch order is near-identity ($identity/2000)")
  }

  test("deterministic sampling: rate-accurate, stable, salt-sensitive") {
    val ids = spark.range(0, 10000).toDF("id")
    val kept = Sampling.sample(ids, "id", 0.5).as[Long].collect().toSet
    // rate accuracy on 10k sequential ids
    assert(math.abs(kept.size - 5000) < 300, s"got ${kept.size}")
    // exact reproducibility run-to-run
    assert(Sampling.sample(ids, "id", 0.5).as[Long].collect().toSet === kept)
    // monotone rates: the 50% set contains the 10% set (same salt)
    val small = Sampling.sample(ids, "id", 0.1).as[Long].collect().toSet
    assert(small.subsetOf(kept))
    // a different salt selects a genuinely different set
    val other = Sampling.sample(ids, "id", 0.5, salt = 7L).as[Long].collect().toSet
    assert(other !== kept)
    // mixing: unlisted groups drop entirely, listed groups keep their rate
    val grouped = ids.withColumn("g",
      when(col("id") % 2 === 0, "a").otherwise("b"))
    val mixed = Sampling.mixByGroup(grouped, "id", "g", Map("a" -> 1.0))
    assert(mixed.select("g").distinct().as[String].collect().toSeq === Seq("a"))
    assert(mixed.count() === 5000)
  }

  test("assignSplits: deterministic, rate-accurate, exhaustive labeling") {
    val ids = spark.range(0, 10000).toDF("id")
    val splits = Sampling.assignSplits(ids, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = splits.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet === Set("train", "val", "test")) // every row labeled
    assert(counts.values.sum === 10000L)
    assert(math.abs(counts("train") - 8000L) < 300, s"got $counts")
    assert(math.abs(counts("val") - 1000L) < 150 && math.abs(counts("test") - 1000L) < 150)
    // stable run-to-run and disjoint from sample(): the 80% train set is
    // exactly the ids the same-salt 0.8-fraction sample keeps
    val train = splits.filter(col("split") === "train").select("id").as[Long].collect().toSet
    val sampled = Sampling.sample(ids, "id", 0.8).as[Long].collect().toSet
    assert(train === sampled)
    intercept[IllegalArgumentException](
      Sampling.assignSplits(ids, "id", Seq("a" -> 0.5, "b" -> 0.4)))
  }

  test("capPerGroup: two-phase top-k equals the single-window rank, any layout") {
    // skewed fixture: a hot group that would swamp one reducer, a cold one
    val rows = (0L until 1000L).map(i => (i, "hot", (i * 37 % 100).toDouble)) ++
      Seq((2000L, "cold", 5.0), (2001L, "cold", 3.0), (2002L, "cold", 9.0))
    val df = rows.toDF("id", "g", "score")
    // single-window reference (what the oracle computes)
    val expect = df.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("score").desc, col("id").asc)))
      .filter(col("rn") <= 5).select("id").as[Long].collect().toSet
    for (parts <- Seq(1, 7, 32)) {
      val got = Sampling.capPerGroup(df.repartition(parts),
          "g", Seq(col("score").desc, col("id").asc), n = 5)
        .select("id").as[Long].collect().toSet
      assert(got === expect, s"layout parts=$parts")
    }
    // the cold group (3 rows < cap) survives whole
    assert(expect.count(_ >= 2000L) === 3)
  }

  test("dsirWeights: target-like docs score positive, off-target negative") {
    val corpus = Seq(
      (1L, "alpha beta gamma alpha beta"),   // pure target vocabulary
      (2L, "zeta eta theta zeta eta"),       // pure off-target vocabulary
      (3L, "alpha beta zeta eta gamma"))     // mixed
      .toDF("id", "text")
    val target = Seq(
      (10L, "alpha beta gamma alpha"),
      (11L, "beta gamma alpha beta")).toDF("id", "text")
    val w = TextAnalysis.dsirWeights(corpus, target, "id", "text")
      .as[(Long, Double)].collect().toMap
    assert(w.keySet === Set(1L, 2L, 3L))
    assert(w(1L) > 0, s"target-like doc must score positive, got ${w(1L)}")
    assert(w(2L) < 0, s"off-target doc must score negative, got ${w(2L)}")
    assert(w(2L) < w(3L) && w(3L) < w(1L), s"mixed doc must rank between: $w")
    // layout invariance: same weights on a different partitioning
    val w7 = TextAnalysis.dsirWeights(corpus.repartition(7), target.repartition(3),
      "id", "text").as[(Long, Double)].collect().toMap
    assert(w7 === w)
  }

  test("budgetPerGroup fuzz: 25 seeded random instances equal the window-cumsum model") {
    val rnd = new scala.util.Random(20260814)
    for (trial <- 1 to 25) {
      val nGroups = 1 + rnd.nextInt(4)
      val rows = (0 until 40 + rnd.nextInt(160)).map { i =>
        (i.toLong, s"g${rnd.nextInt(nGroups)}",
          // coarse score grid forces cross-row ties; occasional zero weights
          // and a zero-score band hit the bucket-edge cases
          rnd.nextInt(20) / 20.0,
          if (rnd.nextInt(10) == 0) 0L else 1L + rnd.nextInt(50).toLong)
      }
      val df = rows.toDF("id", "g", "score", "w")
      val budget = 1L + rnd.nextInt(800).toLong
      val buckets = Seq(1, 4, 64, 1024)(rnd.nextInt(4))
      val expect = df.withColumn("cum",
          sum(col("w")).over(org.apache.spark.sql.expressions.Window
            .partitionBy("g").orderBy(col("score").desc, col("id").asc)
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .filter(col("cum") <= budget).select("id").as[Long].collect().toSet
      val got = Sampling.budgetPerGroup(df.repartition(1 + rnd.nextInt(8)),
          "g", "score", "w", "id", budget, buckets)
        .select("id").as[Long].collect().toSet
      assert(got === expect,
        s"trial $trial: budget=$budget buckets=$buckets rows=${rows.size}")
    }
  }

  test("gumbelTopK: deterministic weighted sampling, layout-invariant, score-sensitive") {
    val df = (0L until 500L).map(i => (i, if (i < 50) 5.0 else -5.0)).toDF("id", "w")
    val sel = Sampling.gumbelTopK(df, "id", "w", k = 60)
      .select("id").as[Long].collect().toSet
    assert(sel.size === 60)
    // exp(5)/exp(-5) ≈ 22000:1 — essentially all 50 high-weight ids selected
    assert((0L until 50L).toSet.subsetOf(sel), s"high-weight ids missing: $sel")
    // rebuild-stable: identical selection on a different partitioning
    val sel7 = Sampling.gumbelTopK(df.repartition(7), "id", "w", k = 60)
      .select("id").as[Long].collect().toSet
    assert(sel7 === sel)
    // high temperature flattens toward uniform: low-weight ids now appear
    val flat = Sampling.gumbelTopK(df, "id", "w", k = 60, temperature = 1000.0)
      .select("id").as[Long].collect().toSet
    assert(flat.count(_ >= 50L) > 20, s"flat draw still score-dominated: $flat")
  }

  test("budgetPerGroup: histogram two-phase equals the single-window cumsum, any layout") {
    // hot group with many rows and tied scores across the boundary, a
    // cold group that fits whole, and a group whose best row overflows
    val rows = (0L until 800L).map(i => (i, "hot", (i % 50) / 100.0, 10L + i % 7)) ++
      Seq((2000L, "cold", 0.9, 100L), (2001L, "cold", 0.8, 50L)) ++
      Seq((3000L, "fat", 0.99, 100000L), (3001L, "fat", 0.5, 10L)) ++
      // exclusive prefix exactly == budget: the zero-weight row still has
      // inclusive cumsum == budget and must be kept (oracle semantics)
      Seq((4000L, "zero", 0.9, 2000L), (4001L, "zero", 0.5, 0L),
        (4002L, "zero", 0.4, 1L))
    val df = rows.toDF("id", "g", "score", "w")
    val budget = 2000L
    // single-window reference — exactly what a SQL oracle computes
    val expect = df.withColumn("cum",
        sum(col("w")).over(org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("score").desc, col("id").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("cum") <= budget).select("id").as[Long].collect().toSet
    for ((parts, buckets) <- Seq((1, 1024), (7, 1024), (32, 16), (5, 1))) {
      val got = Sampling.budgetPerGroup(df.repartition(parts),
          "g", "score", "w", "id", budget, buckets)
        .select("id").as[Long].collect().toSet
      assert(got === expect, s"layout parts=$parts buckets=$buckets")
    }
    // cold group fits whole; fat group's oversized best blocks everything
    assert(expect.contains(2000L) && expect.contains(2001L))
    assert(!expect.exists(i => i >= 3000L && i < 4000L))
    // exact-budget edge: the zero-weight row at cum == budget is kept
    assert(expect.contains(4000L) && expect.contains(4001L) && !expect.contains(4002L))
    // output carries the original columns only (helpers dropped)
    assert(Sampling.budgetPerGroup(df, "g", "score", "w", "id", budget)
      .columns.toSeq === Seq("id", "g", "score", "w"))
  }

  test("packGreedy: first-fit bins, oversized rows, shard reset, layout-invariant") {
    val rows = Seq(
      // shard 0: plain fill then overflow
      (0L, 10L, 100), (0L, 11L, 100), (0L, 12L, 100),
      // shard 1: oversized row gets its own bin, neighbours unharmed
      (1L, 20L, 50), (1L, 21L, 300), (1L, 22L, 50), (1L, 23L, 200),
      // shard 2: exact-capacity fit stays in the bin (> not >=)
      (2L, 30L, 128), (2L, 31L, 128), (2L, 32L, 1))
      .toDF("shard", "id", "toks")
    val expect = Set(
      (0L, 10L, 0, 0), (0L, 11L, 0, 100), (0L, 12L, 1, 0),
      (1L, 20L, 0, 0), (1L, 21L, 1, 0), (1L, 22L, 2, 0), (1L, 23L, 2, 50),
      (2L, 30L, 0, 0), (2L, 31L, 0, 128), (2L, 32L, 1, 0))
    for (parts <- Seq(1, 5)) {
      val got = Packing.packGreedy(rows.repartition(parts),
          col("shard"), col("id"), col("toks"), capacity = 256)
        .select("shard", "id", "bin_id", "bin_offset")
        .as[(Long, Long, Int, Int)].collect().toSet
      assert(got === expect, s"layout parts=$parts")
    }
    // no bin except a single-oversized-row bin exceeds capacity
    val binTotals = Packing.packGreedy(rows, col("shard"), col("id"), col("toks"), 256)
      .groupBy("shard", "bin_id")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .as[(Long, Int, Long, Long)].collect()
    binTotals.foreach { case (s, b, tot, n) =>
      assert(tot <= 256 || n === 1L, s"bin ($s,$b) total $tot with $n rows")
    }
  }

  test("kmvDistinct: exact under k, bounded error over k, layout-invariant") {
    // exact regime: 1000 distinct ids (each seen 3x) with k=2048
    val dup = spark.range(0, 3000).selectExpr("id % 1000 AS v")
    assert(dup.agg(functions.kmvDistinct(col("v"), 2048)).as[Long].head() === 1000L)
    // estimator regime: 200k distinct, k=1024 → relative error ≈ 1/√k ≈ 3%
    val big = spark.range(0, 200000).toDF("v")
    val est = big.agg(functions.kmvDistinct(col("v"), 1024)).as[Long].head()
    assert(math.abs(est - 200000.0) / 200000.0 < 0.1, s"estimate $est")
    // partitioning-independent: partial/merge path gives the identical value
    for (parts <- Seq(1, 7, 32)) {
      val e = big.repartition(parts).agg(functions.kmvDistinct(col("v"), 1024))
        .as[Long].head()
      assert(e === est, s"layout parts=$parts")
    }
    // string inputs hash per-value: distinct strings counted exactly
    val strs = spark.range(0, 500).selectExpr("concat('tok_', id % 100) AS v")
    assert(strs.agg(functions.kmvDistinct(col("v"), 1024)).as[Long].head() === 100L)
    // grouped: sketches are per-group
    val grouped = spark.range(0, 1000)
      .selectExpr("id % 2 AS g", "id % 10 + (id % 2) * 100 AS v")
      .groupBy("g").agg(functions.kmvDistinct(col("v"), 64).as("nd"))
      .as[(Long, Long)].collect().toMap
    assert(grouped === Map(0L -> 5L, 1L -> 5L))
  }

  test("approxTopItems: exact under capacity, heavy hitters survive eviction") {
    // exact regime: known counts, deterministic (cnt desc, item asc) order
    val small = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++ Seq("d")
    val got = small.toDF("v").agg(functions.approxTopItems(col("v"), 64, 3))
      .as[Seq[(String, Long, Long)]].head()
    assert(got === Seq(("a", 5L, 0L), ("b", 3L, 0L), ("c", 3L, 0L)))
    // exact regime is layout-invariant (partial/merge = sum, no trims)
    val df = small.toDF("v")
    for (parts <- Seq(1, 8)) {
      assert(df.repartition(parts).agg(functions.approxTopItems(col("v"), 64, 3))
        .as[Seq[(String, Long, Long)]].head() === got, s"parts=$parts")
    }
    // eviction regime: an item with count > n/capacity is guaranteed kept,
    // and its reported count brackets the truth: cnt - err <= true <= cnt
    val n = 10000
    val rnd = new scala.util.Random(60L)
    val stream = (0 until n).map(i =>
      if (i % 3 == 0) "HEAVY" else s"t${rnd.nextInt(400)}")
    val top = stream.toDF("v").repartition(4)
      .agg(functions.approxTopItems(col("v"), 64, 5))
      .as[Seq[(String, Long, Long)]].head()
    val heavy = top.find(_._1 == "HEAVY")
    val trueCount = stream.count(_ == "HEAVY").toLong
    assert(heavy.isDefined, s"heavy hitter evicted: $top")
    val (_, cnt, err) = heavy.get
    assert(cnt >= trueCount && cnt - err <= trueCount, s"cnt=$cnt err=$err true=$trueCount")
  }

  test("quantileSketch: exact regime equals the percentile_disc rule, layout-invariant") {
    // reference: smallest v with cumulative count >= q*n (IEEE compare) —
    // the percentile_disc definition, replayed naively
    def disc(vs: Seq[Double], q: Double): Double = {
      val s = vs.sorted
      val target = q * s.size
      var cum = 0L
      s.find { _ => cum += 1; cum.toDouble >= target }.getOrElse(s.last)
    }
    val raw = (0 until 1000).map(i => (i % 5, (i * 7 % 997).toDouble))
    val df = raw.toDF("g", "v")
    val qs = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0)
    for (q <- qs; parts <- Seq(1, 7, 32)) {
      val got = df.repartition(parts).groupBy("g")
        .agg(functions.quantileSketch(col("v"), q, k = 4096).as("p"))
        .as[(Int, Double)].collect().toMap
      val want = raw.groupBy(_._1).map { case (g, xs) => g -> disc(xs.map(_._2), q) }
      assert(got === want, s"q=$q parts=$parts")
    }
    // duplicates: the disc rule returns an input value, ties respected
    val dup = Seq(1.0, 1.0, 1.0, 2.0, 9.0).toDF("v")
    assert(dup.agg(functions.quantileSketch(col("v"), 0.5, 64)).as[Double].head() === 1.0)
    // empty input → NULL, nulls skipped
    val withNulls = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    assert(withNulls.agg(functions.quantileSketch(col("v"), 1.0, 64)).as[Double].head() === 3.0)
    assert(spark.sql("SELECT quantile_sketch(cast(null as double), 0.5)")
      .head().isNullAt(0))
  }

  test("quantileSketch store-then-merge is bit-identical to the direct state (exact regime)") {
    val df = spark.range(0, 3000)
      .selectExpr("id % 4 AS g", "cast(id * 13 % 4093 AS double) AS v", "id % 3 AS batch")
    // STORE: one state per (group, batch) — three independent partials
    val states = df.groupBy("g", "batch")
      .agg(functions.quantileState(col("v"), k = 4096).as("st"))
    // ROLLUP: merge the batch states per group
    val merged = states.groupBy("g")
      .agg(functions.quantileMergeState(col("st"), k = 4096).as("st"))
      .as[(Long, Array[Byte])].collect().toMap
    // DIRECT: one pass over everything
    val direct = df.groupBy("g")
      .agg(functions.quantileState(col("v"), k = 4096).as("st"))
      .as[(Long, Array[Byte])].collect().toMap
    assert(merged.keySet === direct.keySet)
    merged.foreach { case (g, bytes) =>
      assert(java.util.Arrays.equals(bytes, direct(g)),
        s"group $g: store-then-merge bytes differ from direct")
    }
    // SERVE: quantile_merge over stored states equals the direct quantile
    val servedP50 = states.groupBy("g")
      .agg(functions.quantileMerge(col("st"), 0.5, k = 4096).as("p"))
      .as[(Long, Double)].collect().toMap
    val directP50 = df.groupBy("g")
      .agg(functions.quantileSketch(col("v"), 0.5, k = 4096).as("p"))
      .as[(Long, Double)].collect().toMap
    assert(servedP50 === directP50)
  }

  test("quantileSketch estimator regime: bounded rank error, k-bounded state") {
    val n = 100000
    // deterministic pseudo-uniform values in [0, 1): quantile q ≈ q
    val df = spark.range(0, n)
      .selectExpr("cast(pmod(hash(id) * 2654435761, 1048576) AS double) / 1048576 AS v")
      .repartition(8)
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val got = df.agg(
      functions.quantileSketch(col("v"), qs.head, k = 256).as("q0"),
      qs.tail.zipWithIndex.map { case (q, i) =>
        functions.quantileSketch(col("v"), q, k = 256).as(s"q${i + 1}") }: _*)
      .head()
    // true rank of the returned value must sit within 3% of the target
    // rank (KLL-style bound for k=256 is far tighter; 3% is the pinned
    // regression envelope, not the expected error)
    val vals = df.as[Double].collect().sorted
    qs.zipWithIndex.foreach { case (q, i) =>
      val v = got.getDouble(i)
      val rank = vals.count(_ <= v).toDouble / n
      assert(math.abs(rank - q) < 0.03, s"q=$q served=$v rank=$rank")
    }
    // the state stays k-bounded: far smaller than the 800 KB raw column
    val stBytes = df.agg(functions.quantileState(col("v"), k = 256))
      .as[Array[Byte]].head()
    assert(stBytes.length < 256 * 8 * 16, s"state ${stBytes.length} bytes")
  }

  test("quantileSketch estimator regime holds its rank-error envelope at depth (1M values)") {
    // the 100x bench scaling block measures the k-bounded profile's COST
    // at depth; this pins its ACCURACY there: an order of magnitude more
    // values than the 100k test above, same k, same 3% regression
    // envelope — KLL error grows only logarithmically in n, so the
    // envelope must hold unchanged
    val n = 1000000
    val df = spark.range(0, n)
      .selectExpr("cast(pmod(hash(id) * 2654435761, 1048576) AS double) / 1048576 AS v")
      .repartition(32)
    val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val served = df.agg(functions.quantileSketchMulti(col("v"), qs, 256).as("r"))
      .as[Seq[Double]].head()
    val vals = df.as[Double].collect().sorted
    qs.zip(served).foreach { case (q, v) =>
      val rank = vals.count(_ <= v).toDouble / n
      assert(math.abs(rank - q) < 0.03, s"q=$q served=$v rank=$rank")
    }
    // state stays k-bounded at depth: far under the 8 MB raw column
    val stBytes = df.agg(functions.quantileState(col("v"), k = 256))
      .as[Array[Byte]].head()
    assert(stBytes.length < 256 * 8 * 16, s"state ${stBytes.length} bytes")
  }

  test("quantile sketch estimator-regime STORE/MERGE keeps bounded rank error") {
    // the incremental-cube flow in the estimator regime: four batch
    // states at k=128 over 50k values, merged at serve time — the merge
    // must not compound compaction error past the regression envelope
    val n = 50000
    val df = spark.range(0, n)
      .selectExpr("id % 4 AS batch",
        "cast(pmod(hash(id) * 2654435761, 1048576) AS double) / 1048576 AS v")
      .repartition(8)
    val states = df.groupBy("batch")
      .agg(functions.quantileState(col("v"), k = 128).as("st"))
    val served = states
      .agg(functions.quantileMergeMulti(col("st"), Seq(0.25, 0.5, 0.9), k = 128))
      .as[Seq[Double]].head()
    val vals = df.as[(Long, Double)].collect().map(_._2).sorted
    Seq(0.25, 0.5, 0.9).zipWithIndex.foreach { case (q, i) =>
      val rank = vals.count(_ <= served(i)).toDouble / n
      assert(math.abs(rank - q) < 0.05, s"q=$q served=${served(i)} rank=$rank")
    }
  }

  test("quantileSketchMulti matches per-q quantileSketch in both regimes") {
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    for (k <- Seq(4096, 64)) { // exact regime, then estimator regime
      val df = spark.range(0, 1000)
        .selectExpr("id % 3 AS g", "cast(pmod(hash(id), 10007) AS double) AS v")
        .repartition(5)
      val multi = df.groupBy("g")
        .agg(functions.quantileSketchMulti(col("v"), qs, k).as("ps"))
        .as[(Long, Seq[Double])].collect().toMap
      val singles = qs.map(q => df.groupBy("g")
        .agg(functions.quantileSketch(col("v"), q, k).as("p"))
        .as[(Long, Double)].collect().toMap)
      multi.keySet.foreach { g =>
        qs.indices.foreach(i =>
          assert(multi(g)(i) === singles(i)(g), s"k=$k g=$g q=${qs(i)}"))
      }
    }
    // SQL face with an array literal; merge-multi over stored states
    spark.range(0, 90).selectExpr("cast(id AS double) AS v", "id % 3 AS g")
      .createOrReplaceTempView("qskm_vals")
    val viaSql = spark.sql(
      """SELECT g, quantile_sketch_multi(v, array(0.5D, 1.0D)) AS ps
        |FROM qskm_vals GROUP BY g ORDER BY g""".stripMargin)
      .as[(Long, Seq[Double])].collect().toSeq
    assert(viaSql.map(_._2(1)) === Seq(87.0, 88.0, 89.0)) // per-group max
    val merged = spark.sql(
      """SELECT g, quantile_merge_multi(st, array(0.5D, 1.0D)) AS ps FROM (
        |  SELECT g, quantile_state(v) AS st FROM qskm_vals GROUP BY g, v % 7)
        |GROUP BY g ORDER BY g""".stripMargin)
      .as[(Long, Seq[Double])].collect().toSeq
    assert(merged === viaSql)
  }

  test("quantile sketch SQL faces and loud foreign-bytes rejection") {
    spark.range(0, 100).selectExpr("cast(id AS double) AS v", "id % 2 AS g")
      .createOrReplaceTempView("qsk_vals")
    val viaSql = spark.sql(
      """SELECT g, quantile_sketch(v, 0.5) AS p50 FROM qsk_vals GROUP BY g ORDER BY g""")
      .as[(Long, Double)].collect().toSeq
    // 50 values/group (evens vs odds); disc rule → the 25th smallest
    assert(viaSql === Seq((0L, 48.0), (1L, 49.0)))
    // state → merge roundtrip through SQL
    spark.sql(
      """SELECT g, quantile_state(v, 512) AS st FROM qsk_vals GROUP BY g, v % 5""")
      .createOrReplaceTempView("qsk_states")
    val served = spark.sql(
      """SELECT g, quantile_merge(st, 0.5, 512) AS p50 FROM qsk_states GROUP BY g ORDER BY g""")
      .as[(Long, Double)].collect().toSeq
    assert(served === viaSql)
    // foreign bytes fail loudly, never misparse into a silent answer
    val e = intercept[Exception] {
      Seq(Array[Byte](1, 2, 3, 4, 5)).toDF("st")
        .agg(functions.quantileMerge(col("st"), 0.5)).collect()
    }
    assert(e.getMessage.contains("bad magic") ||
      Option(e.getCause).exists(_.getMessage.contains("bad magic")))
    // NaN q is rejected at analysis, not served as the group minimum
    val nan = intercept[Exception](
      spark.sql("SELECT quantile_sketch(1.0D, cast('NaN' AS DOUBLE))").collect())
    assert(nan.getMessage.toLowerCase.contains("must be in [0, 1]"))
  }

  test("duplicateNgramFraction: cross-doc spans counted, short docs score 0") {
    val corpus = Seq(
      (1L, "a b c d e"),   // trigrams: abc bcd cde
      (2L, "x a b c y"),   // shares "a b c" with doc 1 → 1 of 3 duplicated
      (3L, "p q"))         // shorter than n → 0.0
      .toDF("id", "text")
    val got = TextAnalysis.duplicateNgramFraction(corpus, "id", "text", n = 3)
      .as[(Long, Double)].collect().toMap
    assert(got === Map(1L -> 0.333333, 2L -> 0.333333, 3L -> 0.0))
    // a doc repeating its OWN span also counts as duplicated
    val self = Seq((1L, "a b c a b c")).toDF("id", "text") // 4 trigrams: abc bca cab abc
    val selfGot = TextAnalysis.duplicateNgramFraction(self, "id", "text", 3)
      .as[(Long, Double)].collect().toMap
    assert(selfGot === Map(1L -> 0.5)) // "a b c" twice of 4 grams
  }

  test("randomProjection == portable-hash model; JL distances roughly preserved") {
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 20L).map(i => i -> Array.fill(64)(rnd.nextFloat() * 2 - 1))
    val df = vecs.toDF("id", "v")
    val outDim = 16
    val got = df.select(col("id"),
        Similarity.randomProjection(col("v"), outDim).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    // driver-side model: identical arithmetic in plain Scala
    val (m, a, salt) = (Sampling.Modulus, Sampling.Mult, Sampling.DefaultSalt)
    def bucket(id: Long): Long = {
      val r1 = ((id % m) * a + salt) % m
      (r1 * a + salt) % m
    }
    def model(v: Array[Float]): Seq[Double] =
      (0 until outDim).map { j =>
        var acc = 0.0
        v.indices.foreach { i =>
          val s = if (bucket(j * Similarity.ProjIndexStride + i) < m / 2) 1.0 else -1.0
          acc += v(i).toDouble * s
        }
        acc * (1.0 / math.sqrt(outDim.toDouble))
      }
    vecs.foreach { case (id, v) =>
      assert(got(id) === model(v), s"projection mismatch for vec $id")
    }
    // JL sanity: relative pairwise-distance distortion stays bounded
    def dist(x: Seq[Double], y: Seq[Double]) =
      math.sqrt(x.zip(y).map { case (p, q) => (p - q) * (p - q) }.sum)
    val origs = vecs.toMap.view.mapValues(_.map(_.toDouble).toSeq).toMap
    val ratios = for {
      i <- 0L until 10L; k <- (i + 1) until 10L
    } yield dist(got(i), got(k)) / dist(origs(i), origs(k))
    assert(ratios.forall(r => r > 0.4 && r < 1.8),
      s"JL distortion out of range: ${ratios.min} .. ${ratios.max}")
    // a different salt projects differently
    val other = df.select(col("id"),
        Similarity.randomProjection(col("v"), outDim, salt = 99L).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(other(0L) !== got(0L))
  }

  test("qualityFilter: per-rule verdicts, fail bitmask, kept conjunction") {
    val base = "the quick brown fox jumps over seven lazy dogs and then walks " +
      "of beyond into green fields where birds sing while rivers flow under " +
      "bright morning light carrying fresh scents toward distant quiet hills"
    val corpus = Seq(
      (1L, base),                                     // clean → kept
      (2L, "the quick brown fox jumps over lazy dogs and cats"), // short
      (3L, ("the is " + (1 to 28).map(i => s"abcdefghijklm$i").mkString(" "))), // long words
      (4L, Seq.fill(20)("x y z").mkString(" ")),      // degenerate repetition
      (5L, base.replace("the ", "cat ").replace(" and ", " pig ").replace(" of ", " elk ").replace(" is ", " owl "))) // no stopwords
      .toDF("id", "text")
    // driver-side model of the five rules
    val stops = TextAnalysis.langMarkers.head._2.toSet
    def model(text: String): (Seq[Boolean], Int) = {
      val tk = text.split(" ").toSeq
      val n = tk.size
      val avg = (text.length - (n - 1)).toDouble / n
      val tri = tk.sliding(3).map(_.mkString(" ")).toSeq
      val rep = if (n - 2 > 0) 1.0 - tri.distinct.size.toDouble / (n - 2) else 0.0
      val rules = Seq(
        n >= 30 && n <= 100000,
        avg >= 3.0 && avg <= 10.0,
        tk.count(stops) >= 2,
        rep <= 0.05,
        tk.distinct.size.toDouble / n >= 0.35)
      (rules, rules.zipWithIndex.collect { case (false, i) => 1 << i }.sum)
    }
    val texts = corpus.as[(Long, String)].collect().toMap
    val got = TextAnalysis.qualityFilter(corpus, "id", "text")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Int, Boolean)]
      .collect().sortBy(_._1)
    got.foreach { case (id, r1, r2, r3, r4, r5, mask, kept) =>
      val (exp, expMask) = model(texts(id))
      assert(Seq(r1, r2, r3, r4, r5) === exp, s"doc $id rule verdicts")
      assert(mask === expMask, s"doc $id mask: got $mask expect $expMask")
      assert(kept === (expMask == 0), s"doc $id kept")
    }
    // the fixture planted one clean doc and four distinct failures
    assert(got.count(_._8) === 1)
    assert(got.find(_._1 == 2L).get._7 === 1, "short doc fails only length")
  }

  test("positionalGramHashes: cross-doc window agreement, order, short docs") {
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d"),   // shares windows shifted by one position
      (3L, "a b"),         // shorter than n → empty
      (4L, "a b c d e"))   // identical to 1 → identical hash sequence
      .toDF("id", "text")
    val got = df.select(col("id"), functions.positionalGramHashes(col("text"), 3).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L).size === 3 && got(3L).isEmpty)
    assert(got(1L) === got(4L), "same text must hash identically")
    // doc 2's window starting at token 1 is doc 1's window at token 0
    assert(got(2L)(1) === got(1L)(0))
    assert(got(2L)(2) === got(1L)(1))
    assert(got(2L)(0) !== got(1L)(0), "different windows must differ")
    // the multiset of hashes matches hashedShingles' distinct set
    val sh = df.filter(col("id") === 1).select(
      functions.hashedShingles(col("text"), 3)).as[Seq[Long]].head()
    assert(got(1L).toSet === sh.toSet)
  }

  test("removeDuplicatedSpans: canonical first occurrence survives, others cut") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),  // canonical owner of every duplicated gram
      (2L, "x y a b c d q r"),  // shares span "a b c d" → loses those 4 tokens
      (3L, "a b c d e f z z"),  // overlapping dup grams union → loses 6 tokens
      (4L, "tiny doc"))         // shorter than n → untouched
      .toDF("id", "text")
    val got = TextAnalysis.removeDuplicatedSpans(corpus, "id", "text", n = 4)
      .as[(Long, String, Long)].collect().map { case (i, t, r) => i -> ((t, r)) }.toMap
    assert(got === Map(
      1L -> ("a b c d e f g h", 0L),
      2L -> ("x y q r", 4L),
      3L -> ("z z", 6L),
      4L -> ("tiny doc", 0L)))
    // an exact duplicate document is erased entirely (span dedup subsumes
    // exact doc dedup); a WITHIN-doc repeat keeps only its first copy
    val hard = Seq(
      (1L, "p q r s t u"),
      (2L, "p q r s t u"),           // exact dup of 1 → empty
      (3L, "m n o p m n o p"))       // self-repeat of "m n o p"
      .toDF("id", "text")
    val got2 = TextAnalysis.removeDuplicatedSpans(hard, "id", "text", n = 4)
      .as[(Long, String, Long)].collect().map { case (i, t, r) => i -> ((t, r)) }.toMap
    assert(got2(1L) === (("p q r s t u", 0L)))
    assert(got2(2L) === (("", 6L)))
    assert(got2(3L) === (("m n o p", 4L)))
  }

  test("bm25TopK == driver-side reference model; absent terms score nothing") {
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple cherry cherry date"),
      (4L, "date egg fig"))
    val query = "apple cherry zebra" // zebra absent from the corpus
    val (k1, b) = (1.2, 0.75)
    // reference: the BM25 formula evaluated directly in Scala
    val docs = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.size).sum / n
    val terms = query.split(" ").distinct.toSeq
    val dfm = terms.map(t => t -> docs.count(_._2.contains(t))).toMap
    val expect = docs.toSeq.flatMap { case (id, tk) =>
      val s = terms.filter(dfm(_) > 0).map { t =>
        val tf = tk.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val idf = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
          idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * tk.size / avgdl))
        }
      }.sum
      if (s > 0) Some(id -> BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }.sortBy { case (id, s) => (-s, id) }
    val got = Search.bm25TopK(corpus.toDF("id", "text"), "id", "text", query, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(got === expect, s"got $got expect $expect")
    assert(!got.exists(_._1 == 4L), "doc 4 matches no term and must not appear")
    // k truncates the ranking deterministically
    val top1 = Search.bm25TopK(corpus.toDF("id", "text"), "id", "text", query, k = 1)
      .as[(Long, Double)].collect().toSeq
    assert(top1 === expect.take(1))
  }

  test("fimTransform: PSM reassembly is lossless; rate 0/1 behave; deterministic") {
    val docs = Seq((1L, "abcdefgh"), (2L, "xy"), (3L, "")).toDF("id", "text")
    val out = TextAnalysis.fimTransform(docs, "id", "text", rate = 1.0)
      .as[(Long, String, Boolean, String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    out.foreach { case (id, (fim, t)) =>
      assert(fim, s"id=$id not transformed at rate 1")
      // <PRE>p<SUF>s<MID>m reassembles to the original as p + m + s
      val m1 = t.indexOf("<SUF>"); val m2 = t.indexOf("<MID>")
      val (pre, suf, mid) = (t.substring(5, m1), t.substring(m1 + 5, m2),
        t.substring(m2 + 5))
      val orig = Map(1L -> "abcdefgh", 2L -> "xy", 3L -> "")(id)
      assert(pre + mid + suf === orig, s"id=$id lossless reassembly")
    }
    // rate 0: pure passthrough
    assert(TextAnalysis.fimTransform(docs, "id", "text", 0.0)
      .filter(col("fim")).count() === 0L)
    assert(TextAnalysis.fimTransform(docs, "id", "text", 0.0)
      .select("text_fim").as[String].collect().toSet === Set("abcdefgh", "xy", ""))
    // deterministic: identical output across invocations
    val a = TextAnalysis.fimTransform(docs, "id", "text", 0.5)
      .select("id", "text_fim").as[(Long, String)].collect().toSet
    val b = TextAnalysis.fimTransform(docs, "id", "text", 0.5)
      .select("id", "text_fim").as[(Long, String)].collect().toSet
    assert(a === b)
    intercept[IllegalArgumentException](
      TextAnalysis.fimTransform(docs, "id", "text", 1.5))
  }

  test("temperatureMix: T=1 proportional, T→large flattens, clamps at 1") {
    // groups: a×900, b×90, c×10 over ids 0..999
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("g", when(col("id") < 900, "a").when(col("id") < 990, "b")
        .otherwise("c"))
    // T=1: every group keeps ~ the same fraction target/total = 0.5
    val t1 = Sampling.temperatureMix(df, "id", "g", targetRows = 500L, temperature = 1.0)
    val byG = t1.groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hash selection is rate-accurate, not exact — wide tolerance
    assert(math.abs(byG("a") - 450L) < 60, byG.toString)
    // T large → near-uniform shares: the tiny group's rate clamps at 1
    // (keeps all 10 rows), the big group keeps far fewer than T=1 would
    val tBig = Sampling.temperatureMix(df, "id", "g", targetRows = 300L, temperature = 100.0)
    val byG2 = tBig.groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG2("c") === 10L, byG2.toString) // clamped: every row kept
    assert(byG2("a") < byG("a"), byG2.toString)
    // deterministic: same call, same exact selection
    assert(t1.select("id").as[Long].collect().toSet ===
      Sampling.temperatureMix(df, "id", "g", 500L, 1.0).select("id")
        .as[Long].collect().toSet)
    intercept[IllegalArgumentException](
      Sampling.temperatureMix(df, "id", "g", 500L, 0.0))
    intercept[IllegalArgumentException](
      Sampling.temperatureMix(df, "id", "g", 0L, 1.0))
  }

  test("overlapReport grades distinct-gram overlap; flag is its frac>0 case") {
    val docs = Seq(
      (1L, "a b c d e f"),     // 3-grams: abc bcd cde def
      (2L, "c d e x y z"),     // 3-grams: cde dex exy xyz
      (3L, "q r")).toDF("id", "text") // shorter than n: no grams
    val bench = Seq("a b c d e").toDF("text") // grams: abc bcd cde
    val got = Decontaminate.overlapReport(docs, "id", "text", bench, "text", n = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 3L, 4L, 0.75),
      (2L, 1L, 4L, 0.25),
      (3L, 0L, 0L, 0.0)))
  }

  test("dedupLines: cross-corpus line dedup keeps canonical first occurrences") {
    val docs = Seq(
      (1L, "a\nb\n\nc"),
      (2L, "b\nx\na"),
      (3L, "c\nc")).toDF("id", "text")
    val got = Dedup.dedupLines(docs, "id", "text")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    // doc1 keeps everything (all first occurrences; the empty line rides
    // along verbatim), doc2 keeps only its novel line, doc3 loses both
    // copies of c to doc1's canonical one — but stays as a row
    assert(got === Seq(
      (1L, "a\nb\n\nc", 0L),
      (2L, "x", 2L),
      (3L, "", 2L)))
    // within-document duplicates collapse onto the first position too
    assert(Dedup.dedupLines(Seq((9L, "p\np\nq")).toDF("id", "text"), "id", "text")
      .as[(Long, String, Long)].head() === ((9L, "p\nq", 1L)))
  }

  test("dedupLines == naive first-occurrence reference on seeded random corpora") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val docs = (0L until 12L).map { id =>
        val lines = Seq.fill(1 + rnd.nextInt(6))(
          if (rnd.nextInt(4) == 0) "" else "l" + rnd.nextInt(8))
        (id, lines.mkString("\n"))
      }
      // reference model: scan docs in (id, pos) order, keep a line's
      // first occurrence, keep every empty line
      val expect: Map[Long, (String, Long)] = {
        val seen = scala.collection.mutable.Set[String]()
        docs.map { case (id, text) =>
          val lines = text.split("\n", -1)
          val kept = lines.filter(l => l.isEmpty || seen.add(l))
          id -> ((kept.mkString("\n"), (lines.length - kept.length).toLong))
        }.toMap
      }
      val got = Dedup.dedupLines(docs.toDF("id", "text"), "id", "text")
        .as[(Long, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
      assert(got === expect, s"trial $trial: $docs")
    }
  }

  test("rrfFuse: rank-based fusion matches the hand-computed combination") {
    val lex = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val den = Seq((20L, 1), (40L, 2), (10L, 3)).toDF("id", "rank")
    val got = Search.rrfFuse(Seq(lex, den), "id", "rank", k = 4, kRrf = 60)
      .as[(Long, Double, Long)].collect().toSeq
    // doc 20: 1/62 + 1/61 beats doc 10: 1/61 + 1/63; singles by own rank.
    // Scores come back ROUNDED to 6 — the order is decided on them too
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._1) === Seq(20L, 10L, 40L, 30L))
    assert(got.map(_._2) === Seq(
      1.0 / 62 + 1.0 / 61, 1.0 / 61 + 1.0 / 63, 1.0 / 62, 1.0 / 63).map(r6))
    assert(got.map(_._3) === Seq(2L, 2L, 1L, 1L))
    // k truncates AFTER fusion, not per input list
    assert(Search.rrfFuse(Seq(lex, den), "id", "rank", k = 2)
      .as[(Long, Double, Long)].collect().map(_._1).toSeq === Seq(20L, 10L))
    intercept[IllegalArgumentException](Search.rrfFuse(Nil, "id", "rank", 3))
    intercept[IllegalArgumentException](Search.rrfFuse(Seq(lex), "id", "rank", 0))
  }

  test("incremental span removal: index hits cut, sequential == one batch run") {
    // an indexed span loses EVERY batch occurrence; fresh spans keep
    // their batch-canonical copy
    val corpus = Seq((1L, "a b c d e f")).toDF("id", "text")
    val idx = TextAnalysis.spanGramIndex(corpus, "id", "text", n = 4)
    val batch = Seq(
      (10L, "x a b c d y"),       // "a b c d" indexed → cut even as sole batch occurrence
      (11L, "p q r s t u"),
      (12L, "p q r s t u"))       // fresh dup of 11 → erased, 11 kept
      .toDF("id", "text")
    val got = TextAnalysis.removeDuplicatedSpansIncremental(batch, idx, "id", "text", 4)
      .as[(Long, String, Long)].collect().map { case (i, t, r) => i -> ((t, r)) }.toMap
    assert(got === Map(
      10L -> (("x y", 4L)),
      11L -> (("p q r s t u", 0L)),
      12L -> (("", 6L))))
    // empty index ≡ batch mode
    val empty = idx.filter(lit(false))
    val inc = TextAnalysis.removeDuplicatedSpansIncremental(batch, empty, "id", "text", 4)
      .as[(Long, String, Long)].collect().toSet
    val bat = TextAnalysis.removeDuplicatedSpans(batch, "id", "text", 4)
      .as[(Long, String, Long)].collect().toSet
    assert(inc === bat)
    // randomized model: ingesting (batch1, batch2) sequentially — corpus
    // ids below batch ids — equals ONE batch-mode run over everything
    val rnd = new scala.util.Random(20260813L)
    val vocab = Seq("aa", "bb", "cc", "dd", "ee")
    val docs = (0L until 40L).map { i =>
      i -> (1 to (5 + rnd.nextInt(10))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val (c1, c2) = docs.partition(_._1 < 20L)
    val full = TextAnalysis.removeDuplicatedSpans(docs.toDF("id", "text"), "id", "text", 3)
      .as[(Long, String, Long)].collect().toSet
    val idx1 = TextAnalysis.spanGramIndex(c1.toDF("id", "text"), "id", "text", 3)
    val seq1 = TextAnalysis.removeDuplicatedSpans(c1.toDF("id", "text"), "id", "text", 3)
      .as[(Long, String, Long)].collect().toSet
    val seq2 = TextAnalysis.removeDuplicatedSpansIncremental(
        c2.toDF("id", "text"), idx1, "id", "text", 3)
      .as[(Long, String, Long)].collect().toSet
    assert((seq1 ++ seq2) === full, "sequential ingest must equal one batch run")
  }

  test("persisted span-gram index pins its gram size; mismatched serve refused") {
    val corpus = Seq((1L, "a b c d e f")).toDF("id", "text")
    val batch = Seq((10L, "x a b c d y")).toDF("id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_span_idx").toString
    val t = TextAnalysis.buildSpanGramIndexTable(spark, root, corpus, "id", "text", n = 4)
    assert(t.properties().get(TextAnalysis.SpanGramNProp) === Some("4"))
    // geometry-validated serve from the table equals the DataFrame form
    val fromTable = TextAnalysis.removeDuplicatedSpansIncremental(
      t, batch, "id", "text", 4).as[(Long, String, Long)].collect().toSet
    val fromDf = TextAnalysis.removeDuplicatedSpansIncremental(
      batch, TextAnalysis.spanGramIndex(corpus, "id", "text", 4),
      "id", "text", 4).as[(Long, String, Long)].collect().toSet
    assert(fromTable === fromDf && fromTable === Set((10L, "x y", 4L)))
    // serving at n=3 would hash different windows and find NOTHING —
    // the pin turns that silent miss into a loud refusal
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.removeDuplicatedSpansIncremental(t, batch, "id", "text", 3)
    }
    assert(e.getMessage.contains("was built with n=4"), e.getMessage)
  }

  test("indexed span serve: flat-identical through append + compaction, prunes files") {
    // the key-probed span serve must return EXACTLY the flat serve's
    // cleaned text over the same accumulated gram set, at every
    // lifecycle stage (built on part of the corpus, appended to the
    // rest, reclustered) — pruning is conservative file skipping over a
    // pure-membership side
    val all = graft.tools.ScaleCorpus.documents(spark, 300)
      .select(col("doc_id").as("id"), col("text")).localCheckpoint()
    val corpus = all.filter(col("id") < 250)
    val batch = all.filter(col("id") >= 250)
    val root = java.nio.file.Files.createTempDirectory("graft_span_life").toString
    val t = TextAnalysis.buildSpanGramIndexTable(spark, root,
      all.filter(col("id") < 150), "id", "text", n = 10, filesPerTable = 8)
    val files0 = t.manifest().size
    TextAnalysis.spanGramIndexAppend(t,
      all.filter(col("id") >= 150 && col("id") < 250), "id", "text")
    assert(t.manifest().size > files0, "append added no files")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, String, Long)].collect().toSet
    val flat = rows(TextAnalysis.removeDuplicatedSpansIncremental(
      batch, TextAnalysis.spanGramIndex(corpus, "id", "text", 10),
      "id", "text", 10))
    assert(rows(TextAnalysis.removeDuplicatedSpansIncrementalIndexed(
      t, batch, "id", "text")) === flat, "indexed serve diverged post-append")
    val rewritten = TextAnalysis.compactSpanGramIndex(t, filesPerTable = 8)
    assert(rewritten > 0 && t.manifest().size === 8)
    assert(rows(TextAnalysis.removeDuplicatedSpansIncrementalIndexed(
      t, batch, "id", "text")) === flat, "indexed serve diverged post-compact")
    // appended grams really landed (a batch re-sending an appended-range
    // doc's text must lose its spans) and the pin survived compaction
    assert(t.properties().get(TextAnalysis.SpanGramNProp) === Some("10"))
    // the probe opens a strict subset for a tiny batch
    val tiny = all.filter(col("id") === 260)
    val keys = TextAnalysis.spanGramIndex(tiny, "id", "text", 10)
      .select("g").as[Long].collect().toSeq
    assert(keys.nonEmpty &&
      t.keyProbedManifest("g", keys).size < t.manifest().size)
    // an unpinned table refuses append/serve/compact derivation
    val plain = graft.tables.SnapshotTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_span_plain").toString,
      Seq(1L).toDF("g"))
    val e = intercept[IllegalArgumentException](TextAnalysis.spanGramNOf(plain))
    assert(e.getMessage.contains("pins no span-gram"), e.getMessage)
    graft.ext.Dedup.release(all)
  }

  test("unigramLogProb == driver-side model; tails rank as expected") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "zq xv wq jk pf yb"))   // vocabulary outlier → lowest score
      .toDF("id", "text")
    val docs = corpus.as[(Long, String)].collect().toMap
      .view.mapValues(_.split(" ").toSeq).toMap
    val tf = docs.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = tf.values.sum.toDouble
    val vs = tf.size.toDouble
    def model(tk: Seq[String]): Double = {
      val s = tk.map(t => math.log((tf(t) + 1.0) / (total + vs))).sum / tk.size
      BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = TextAnalysis.unigramLogProb(corpus, "id", "text")
      .as[(Long, Double)].collect().toMap
    docs.foreach { case (id, tk) =>
      assert(got(id) === model(tk), s"doc $id logprob")
    }
    assert(got(3L) < got(1L) && got(3L) < got(2L), "outlier must score lowest")
  }

  test("vocabulary: tf/df word counts with threshold") {
    val corpus = Seq(
      (1L, "a b a c"), (2L, "a b"), (3L, "c c c")).toDF("id", "text")
    val got = TextAnalysis.vocabulary(corpus, "id", "text", minCount = 2L)
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("a", 3L, 2L), ("b", 2L, 2L), ("c", 4L, 2L)))
  }

  test("packGreedy == sequential first-fit model (seeded random, any layout)") {
    val rnd = new scala.util.Random(20260813L)
    val rows = (0 until 400).map { i =>
      (rnd.nextInt(6).toLong, i.toLong, 1 + rnd.nextInt(200)) // some rows oversized vs cap 128
    }
    // driver-side reference: the sequential recurrence per shard in id order
    val expect = rows.groupBy(_._1).flatMap { case (shard, rs) =>
      var bin = 0; var fill = 0; var first = true
      rs.sortBy(_._2).map { case (_, id, toks) =>
        if (!first && fill + toks > 128) { bin += 1; fill = 0 }
        first = false
        val off = fill; fill += toks
        (shard, id, bin, off)
      }
    }.toSet
    val df = rows.toDF("shard", "id", "toks")
    for (parts <- Seq(1, 13)) {
      val got = Packing.packGreedy(df.repartition(parts),
          col("shard"), col("id"), col("toks"), capacity = 128)
        .select("shard", "id", "bin_id", "bin_offset")
        .as[(Long, Long, Int, Int)].collect().toSet
      assert(got === expect, s"layout parts=$parts")
    }
  }

  test("packSequences materializes bins: id-order join, shard flush, tail bin") {
    val rows = Seq(
      (0L, 10L, 100, "aa"), (0L, 11L, 100, "bb"), (0L, 12L, 100, "cc"),
      (1L, 20L, 300, "big"), (1L, 21L, 50, "dd"))
      .toDF("shard", "id", "toks", "text")
    val expect = Set(
      (0L, 0, 2, 200, "aa bb"), (0L, 1, 1, 100, "cc"),
      (1L, 0, 1, 300, "big"), (1L, 1, 1, 50, "dd"))
    for (parts <- Seq(1, 5)) {
      val got = Packing.packSequences(rows.repartition(parts),
          col("shard"), col("id"), col("toks"), col("text"), capacity = 256)
        .as[(Long, Int, Int, Int, String)].collect().toSet
      assert(got === expect, s"layout parts=$parts")
    }
    // agrees with packGreedy's assignment row-for-row
    val bins = Packing.packGreedy(rows, col("shard"), col("id"), col("toks"), 256)
      .groupBy("shard", "bin_id").count().as[(Long, Int, Long)].collect()
      .map { case (s, b, n) => ((s, b), n) }.toMap
    assert(bins === Map((0L, 0) -> 2L, (0L, 1) -> 1L, (1L, 0) -> 1L, (1L, 1) -> 1L))
  }

  test("pair miners exclude shingle-less and NULL-text docs (no false dups)") {
    // two distinct one-word docs share ZERO 3-gram shingles: their empty
    // signatures must not collide into a "perfect duplicate" pair
    val short = Seq((1L, "hello"), (2L, "goodbye"), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
    assert(Dedup.minhashPairs(short, "id", "text").count() === 0)
    assert(Dedup.simhashPairs(short, "id", "text").count() === 0)
    // dedupNearDuplicates must keep both short docs
    val kept = Dedup.dedupNearDuplicates(short.filter(col("id") < 3), "id", "text")
    assert(kept.count() === 2)
  }

  test("decontamination flags NULL-id rows too (null-safe join)") {
    val corpus = Seq(
      (java.lang.Long.valueOf(1L), "totally clean text here nothing shared at all ok"),
      (null.asInstanceOf[java.lang.Long], "the secret benchmark passage appears here today"))
      .toDF("id", "text")
    val bench = Seq("the secret benchmark passage appears here today".toString)
      .toDF("text")
    val flagged = Decontaminate.flag(corpus, "id", "text", bench, "text", n = 5)
      .select(col("id"), col("contaminated"))
      .collect().map(r => (Option(r.get(0)), r.getBoolean(1))).toSet
    assert(flagged === Set((Some(1L), false), (None, true)), s"got $flagged")
  }

  test("zorder cluster no-ops on empty frames and NaN probes don't crash IVF") {
    val empty = spark.range(0).selectExpr("id AS a", "id AS b")
    assert(ZOrder.cluster(empty, Seq("a", "b"), numFiles = 4).count() === 0)
    // a corrupt NaN embedding degrades to arbitrary probes, not a crash
    val vecs = (0 until 20).map(i => (i.toLong, Array(i.toFloat, 1.0f))) :+
      (99L, Array(Float.NaN, 1.0f))
    val df = vecs.toDF("vec_id", "embedding")
    val r = Similarity.ivfTopK(df, df.filter(col("vec_id") === 99), "vec_id",
      "embedding", k = 3, nlist = 4, nProbe = 4)
    assert(r.count() >= 0) // executed without throwing
  }

  test("capPerGroup == single-window model (seeded random with ties)") {
    val rnd = new scala.util.Random(8131L)
    // few distinct scores force ties → the doc-id tie-break must decide
    val rows = (0L until 500L).map(i => (i, s"g${rnd.nextInt(7)}", rnd.nextInt(4).toDouble))
    val df = rows.toDF("id", "g", "score")
    val expect = rows.groupBy(_._2).flatMap { case (_, rs) =>
      rs.sortBy { case (id, _, score) => (-score, id) }.take(8).map(_._1)
    }.toSet
    val got = Sampling.capPerGroup(df.repartition(11),
        "g", Seq(col("score").desc, col("id").asc), n = 8)
      .select("id").as[Long].collect().toSet
    assert(got === expect)
  }

  test("scrubPii redacts URLs, emails, IPv4s; normalize canonicalizes") {
    val rows = Seq(
      (1L, "mail a.b+c@x-site.co.uk or https://ex.com/p?q=1#f then 10.0.0.255 ok"),
      (2L, "versions like 1.2.3.4.5 are not IPs but 1.2.3.4 is"),
      (3L, "  Tabs\tand   RUNS  ")).toDF("id", "text")
    val got = rows.select(col("id"),
        TextAnalysis.normalize(TextAnalysis.scrubPii(col("text"))).as("t"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "mail <email> or <url> then <ip> ok")
    // 1.2.3.4.5: the \b-bounded IPv4 pattern matches its 1.2.3.4 prefix —
    // the standard RE2-compatible approximation (no lookahead available)
    assert(got(2L) === "versions like <ip>.5 are not ips but <ip> is")
    assert(got(3L) === "tabs and runs")
  }

  test("decontaminate: flags n-gram overlap with a benchmark, keeps the rest") {
    // benchmark shares a 5-gram with docs 1, 2, 4 (the quick-brown-fox
    // family) but not with 3 or 5; doc 6 is too short to shingle at n=5.
    val corpus = docs.unionByName(Seq((6L, "too short here")).toDF("id", "text"))
    val bench = Seq("quiz: the quick brown fox jumps over what").toDF("q")
    val flagged = Decontaminate.flag(corpus, "id", "text", bench, "q", n = 5)
      .select(col("id"), col("contaminated")).as[(Long, Boolean)].collect().toMap
    assert(flagged === Map(1L -> true, 2L -> true, 3L -> false,
      4L -> true, 5L -> false, 6L -> false))
    val ids = Decontaminate.contaminatedIds(corpus, "id", "text", bench, "q", n = 5)
      .as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 4L))
    // shuffled-join fallback agrees with the broadcast path
    val shuffled = Decontaminate.contaminatedIds(corpus, "id", "text", bench, "q",
      n = 5, broadcastBenchmark = false).as[Long].collect().sorted
    assert(shuffled === ids)
    // n wider than every doc → nothing flagged, every row still present
    val none = Decontaminate.flag(corpus, "id", "text", bench, "q", n = 50)
    assert(none.count() === 6)
    assert(none.filter(col("contaminated")).count() === 0)
    // re-flagging an already-flagged frame replaces the column cleanly
    val twice = Decontaminate.flag(flaggedFrame(corpus, bench), "id", "text",
      bench, "q", n = 5)
    assert(twice.filter(col("contaminated")).select(col("id")).as[Long]
      .collect().sorted === Array(1L, 2L, 4L))
  }

  private def flaggedFrame(corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame) =
    Decontaminate.flag(corpus, "id", "text", bench, "q", n = 5)

  test("text analysis: tokens, shingles, quality, langid") {
    val en = Seq((1L, "the cat and the dog is of to the barn and back again ok")).toDF("id", "text")
    val r = TextAnalysis.enrich(en).first()
    assert(r.getAs[Int]("n_tokens") === 14)
    assert(r.getAs[String]("lang_pred") === "en")
    assert(r.getAs[Double]("quality") > 0 && r.getAs[Double]("quality") <= 1.0)
    val und = Seq((1L, "zzz qqq www")).toDF("id", "text")
    assert(TextAnalysis.enrich(und).first().getAs[String]("lang_pred") === "und")
    val sh = docs.filter(col("id") === 1)
      .select(TextAnalysis.shingles(col("text"), 3).as("s"))
      .select(size(col("s"))).as[Int].head()
    assert(sh === 11) // 13 tokens → 11 trigrams, all distinct
  }

  test("indexed serve: over-row-budget fallback equals the hinted serve") {
    // the broadcast hints are gated on a COUNTED batch row budget, not
    // the distinct-band-key cap: with the budget passed as 0 every join
    // must take the un-hinted (planner/AQE-sized) path and return
    // exactly the same pairs — the 100 TB dup-heavy-batch safety valve
    val corpus = graft.tools.ScaleCorpus.documents(spark, 200)
      .select(col("doc_id").as("id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_gate")
    val (bandT, sigT) = Dedup.buildMinhashIndexTables(spark,
      s"$tmp/bands", s"$tmp/sigs", corpus, "id", "text", filesPerTable = 8)
    val batch = corpus.filter(col("id").isin(10L, 110L))
      .select((col("id") + 1000L).as("id"), col("text"))
      .unionByName(Seq((2001L, "zqa1 zqb1 zqc1 zqd1 zqe1")).toDF("id", "text"))
    def serve(broadcastMaxRows: Long) = Dedup.indexedPairs(
        bandT, sigT, batch, "id", "text", shingleSize = 3, numHashes = 64,
        bands = 16, minEst = 0.5, seed = TextHash.DefaultSeed,
        maxProbeKeys = 1 << 20, broadcastMaxRows = broadcastMaxRows)
      .select("id_a", "id_b", "est_jaccard", "in_corpus")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val hinted = serve(Dedup.BroadcastMaxRows)
    val unhinted = serve(0L)
    assert(hinted.nonEmpty && unhinted === hinted,
      "over-budget un-hinted serve diverged from the hinted serve")
  }

  test("multi-decomposition simhash mining equals the per-chunks miner") {
    // simhashPairsFromSignaturesMulti unions both decompositions' key
    // rows into ONE self-join (one shared exchange); each dec filter
    // must recover exactly the single miner's pair set
    val docs400 = graft.tools.ScaleCorpus.documents(spark, 400)
      .select(col("doc_id").as("id"), col("text"))
    val doubled = docs400.unionByName(
      docs400.select((col("id") + 100000L).as("id"), col("text")))
    val sigs = doubled
      .select(col("id"), functions.simhash64(TextAnalysis.tokens(col("text"))).as("sh"))
      .localCheckpoint()
    val multi = Dedup.simhashPairsFromSignaturesMulti(
      sigs, "id", "sh", maxHamming = 3, chunksList = Seq(4, 8))
    for ((chunks, dec) <- Seq((4, 0), (8, 1))) {
      val single = Dedup.simhashPairsFromSignatures(sigs, "id", "sh",
          maxHamming = 3, chunks = chunks)
        .select("id_a", "id_b", "hamming")
        .as[(Long, Long, Int)].collect().toSet
      val viaMulti = multi.filter(col("dec") === dec)
        .select("id_a", "id_b", "hamming")
        .as[(Long, Long, Int)].collect().toSet
      assert(single.nonEmpty, s"chunks=$chunks mined nothing — fixture broken")
      assert(viaMulti === single, s"multi dec=$dec diverged from chunks=$chunks")
    }
    Dedup.release(sigs)
  }

  test("dedup-from-pairs: fast path == distributed path, incl. NULL in_corpus") {
    // the driver union-find fast path and the distributed CC path must
    // pick the same survivors; NULL in_corpus rows (legal in a persisted
    // pair list) are dropped by BOTH (the distributed filter pair
    // excludes them on both sides)
    val batch = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val pairs = Seq(
      (1L, 100L, Some(true)),   // corpus match → dropped
      (2L, 3L, Some(false)),    // clean component {2,3} → keep 2
      (3L, 4L, Some(false)),    //   … extended to {2,3,4}
      (5L, 6L, Option.empty[Boolean]), // NULL: ignored by both paths
      (7L, 100L, Some(false))   // component {7,100}: 7 is the min → kept
    ).toDF("id_a", "id_b", "in_corpus").localCheckpoint()
    val fast = Dedup.dedupIncrementalFromPairs(pairs, batch, "id")
      .as[Long].collect().toSet
    val dist = Dedup.dedupIncrementalFromPairs(pairs, batch, "id",
        driverMaxEdges = 0)
      .as[Long].collect().toSet
    assert(fast === Set(2L, 5L, 6L, 7L), s"fast path got $fast")
    assert(dist === fast, s"distributed path diverged: $dist vs $fast")
  }

  test("driver and distributed paths agree on supplementary-plane string ids") {
    // U+10000 sorts BELOW U+FFFF in Java's UTF-16 compareTo but ABOVE it
    // in UTF8String binary order (what Spark's least/min compare); the
    // driver union-finds must use Spark's order so the keeper never
    // depends on which dispatch path ran
    val hi = "𐀀" // U+10000
    val lo = "￿"       // U+FFFF (UTF8-binary smaller)
    val pairs = Seq((hi, lo)).toDF("id_a", "id_b").localCheckpoint()
    val driver = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, driverMaxEdges = 0)
      .as[(String, String)].collect().toMap
    assert(driver === dist, "CC dispatch paths disagree on the component label")
    assert(driver(hi) === lo && driver(lo) === lo,
      s"component label must be the UTF8-binary minimum, got $driver")
    // and the dedup fast path keeps the same survivor as the CC path
    val batch = Seq(hi, lo).toDF("id")
    val dpairs = Seq((hi, lo, false)).toDF("id_a", "id_b", "in_corpus")
      .localCheckpoint()
    val fast = Dedup.dedupIncrementalFromPairs(dpairs, batch, "id")
      .as[String].collect().toSet
    val distD = Dedup.dedupIncrementalFromPairs(dpairs, batch, "id",
        driverMaxEdges = 0)
      .as[String].collect().toSet
    assert(fast === Set(lo) && distD === fast,
      s"dedup keeper diverged: fast=$fast distributed=$distD")
  }

  test("driver and distributed paths agree on double (-0.0/0.0) and binary ids") {
    // the driver union-finds only take id types DriverOrdering can order
    // like Spark: doubles (Spark equates -0.0 and 0.0 in keys, driver
    // equality does not) and binaries (no JVM ordering or value equality)
    // take the distributed path at any driverMaxEdges, so both dispatch
    // settings return identical labels and survivors
    import java.lang.Double.doubleToRawLongBits
    val dPairs = Seq((-0.0, 1.0), (0.0, 2.0)).toDF("id_a", "id_b").localCheckpoint()
    def dLabels(maxEdges: Long) = Dedup.connectedComponents(dPairs, driverMaxEdges = maxEdges)
      .as[(Double, Double)].collect()
      .map { case (i, c) => (doubleToRawLongBits(i), doubleToRawLongBits(c)) }.toSet
    val dDriver = dLabels(1L << 20)
    assert(dDriver === dLabels(0L), "double CC labels diverged between dispatch paths")
    assert(dDriver.map(_._2).size === 1, s"-0.0 and 0.0 must join one component: $dDriver")
    val dBatch = Seq(-0.0, 0.0, 1.0, 2.0, 3.0).toDF("id")
    val dIn = Seq((-0.0, 1.0, false), (0.0, 2.0, false), (3.0, 100.0, true))
      .toDF("id_a", "id_b", "in_corpus").localCheckpoint()
    def dSurvivors(maxEdges: Long) =
      Dedup.dedupIncrementalFromPairs(dIn, dBatch, "id", driverMaxEdges = maxEdges)
        .as[Double].collect().map(doubleToRawLongBits).toSet
    val dKept = dSurvivors(1L << 20)
    assert(dKept === dSurvivors(0L), "double survivors diverged between dispatch paths")
    assert(dKept === Set(doubleToRawLongBits(-0.0), doubleToRawLongBits(0.0)),
      s"only the zero-keyed component minimum rows survive, got $dKept")

    def b(x: Int): Array[Byte] = Array(x.toByte)
    val bPairs = Seq((b(1), b(2)), (b(2), b(3))).toDF("id_a", "id_b").localCheckpoint()
    def bLabels(maxEdges: Long) = Dedup.connectedComponents(bPairs, driverMaxEdges = maxEdges)
      .as[(Array[Byte], Array[Byte])].collect()
      .map { case (i, c) => (i.toSeq, c.toSeq) }.toSet
    val bDriver = bLabels(1L << 20)
    assert(bDriver === bLabels(0L), "binary CC labels diverged between dispatch paths")
    assert(bDriver === Set(1, 2, 3).map(i => (b(i).toSeq, b(1).toSeq)))
    val bBatch = Seq(b(1), b(2), b(3), b(9)).toDF("id")
    val bIn = Seq((b(1), b(2), false), (b(2), b(3), false), (b(9), b(100), true))
      .toDF("id_a", "id_b", "in_corpus").localCheckpoint()
    def bSurvivors(maxEdges: Long) =
      Dedup.dedupIncrementalFromPairs(bIn, bBatch, "id", driverMaxEdges = maxEdges)
        .as[Array[Byte]].collect().map(_.toSeq).toSet
    val bKept = bSurvivors(1L << 20)
    assert(bKept === bSurvivors(0L), "binary survivors diverged between dispatch paths")
    assert(bKept === Set(b(1).toSeq), s"only the component minimum survives, got $bKept")
  }
}
