package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Deduplication operators for LLM-data pipelines, every one designed as a
 * hash-partitioned equi-join — NEVER a cross join (SURVEY.md §4.3,
 * §7.5; the 100 TB bar):
 *
 *  - [[exact]]: hash-groupBy survivor selection — one shuffle on the key.
 *  - [[jaccardPairs]]: exact n-gram-Jaccard similarity join via an
 *    inverted index (explode shingles → self-equi-join on shingle →
 *    pair-count). Pair generation only touches docs sharing a shingle.
 *  - [[minhashPairs]]: MinHash+LSH banding — signatures (map-side),
 *    band-hash equi-join for candidates, signature-agreement estimate to
 *    confirm. Cost O(docs · bands) + O(colliding pairs).
 *  - [[minhashSignatures]] + [[minhashPairsIncremental]] +
 *    [[dedupIncremental]]: the INCREMENTAL form — a persistable
 *    signature index, batch-vs-index matching that never self-joins the
 *    corpus, and end-to-end batch filtering (steady-state ingest).
 *  - [[simhashPairs]]: SimHash + pigeonhole chunk equi-join + exact
 *    Hamming filter (`bit_count(a XOR b)`).
 *  - [[embeddingPairs]]: cosine near-dup via hyperplane-LSH bucket
 *    equi-join + exact cosine filter.
 *  - [[connectedComponents]]: iterative min-label propagation over the
 *    pair graph (bounded passes), for transitive dedup groups.
 */
object Dedup {

  /**
   * Exact-dedup SUMMARY: one row per `keys` group carrying the minimum
   * `tieBreak` value (`keep_<tieBreak>` — the survivor's id, not its full
   * row) and the number of copies; join back on the keys to materialize
   * surviving rows. One hash-aggregate shuffle on the key columns;
   * map-side partial aggregation applies.
   */
  def exact(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        min(col(tieBreak)).as("keep_" + tieBreak),
        count(lit(1)).as("copies"))

  /**
   * LINE-level (paragraph-level) exact dedup across the corpus — the
   * CCNet/Dolma granularity between [[exact]] (whole documents) and
   * [[TextAnalysis.removeDuplicatedSpans]] (token spans): every distinct
   * non-empty line keeps only its CANONICAL first occurrence (minimum
   * (doc id, position)), all other copies are cut, and each document
   * reassembles from its surviving lines in original order. Boilerplate
   * headers/footers repeated across a crawl disappear from every page
   * but one. Returns one row per input document:
   * `(id, text_dedup, n_removed)` — fully-deduplicated documents come
   * back with an empty string, not a dropped row.
   *
   * Empty lines never participate (they reassemble verbatim): deduping
   * them would collapse every blank separator in the corpus onto one
   * document's.
   *
   * Scale shape: ONE tokenize/explode pass over the corpus text, one
   * window shuffle on the 64-bit line hash (shuffles move longs, the
   * [[TextHash]] collision trade) that marks each hash group's
   * canonical row, and one per-document reassembly aggregate — no
   * cross join, no driver data, cost linear in corpus lines. Empty
   * lines take a per-(doc, pos) surrogate hash so each is its own
   * singleton group (always kept, and the window never sees one giant
   * all-empties partition).
   */
  def dedupLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy("id", "pos")
    docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line"))) // "" splits to [""]: every doc keeps >= 1 row
      .withColumn("h",
        when(length(col("line")) > 0, xxhash64(col("line")))
          .otherwise(xxhash64(lit("\u0000dedup-lines-empty"), col("id"), col("pos"))))
      .withColumn("keep", row_number().over(w) === 1)
      .groupBy("id")
      .agg(
        // collect_list skips NULLs, so non-kept lines vanish from the
        // reassembly but still count below
        array_join(
          transform(array_sort(collect_list(
            when(col("keep"), struct(col("pos"), col("line"))))),
            x => x("line")), sep).as("text_dedup"),
        count(when(!col("keep"), lit(1))).as("n_removed"))
      .select(col("id"), col("text_dedup"), col("n_removed"))
  }

  /** Spread a narrow input across the cluster before a CPU-heavy map
   *  stage: a single-file corpus otherwise shingles on ONE core while 31
   *  idle. The pre-shuffle moves only the raw input once; no-op when the
   *  source already has enough partitions (the 100 TB case). */
  private def widen(df: DataFrame): DataFrame = {
    // Metadata-only width heuristic — `df.rdd` would materialize every
    // upstream AQE stage just to read a partition count, and a raw file
    // count ignores bin-packing. Catalyst's own size estimate for the
    // whole frame (file bytes at v1 AND v2 scan leaves, propagated
    // through projections/filters/joins; unknown sources like
    // localCheckpointed RDDs default to huge) gives the safe decision in
    // both directions: a frame estimated SMALL is cheap to widen by the
    // same estimate, a frame estimated big or unknown is never
    // re-shuffled. Frames that are genuinely narrow but big (a
    // one-partition 100 GB source behind a broadcast join) are the
    // caller's call to pre-repartition — no metadata probe can see a
    // runtime partition count without executing the upstream stages.
    val sess = df.sparkSession
    val target = sess.sparkContext.defaultParallelism
    val maxPartBytes = math.max(1L, sess.sessionState.conf.filesMaxPartitionBytes)
    val estParts = df.queryExecution.optimizedPlan.stats.sizeInBytes / maxPartBytes
    if (estParts.max(BigInt(1)) * 2 <= BigInt(target)) df.repartition(target) else df
  }

  /**
   * Exact n-gram Jaccard similarity join with AllPairs-style prefix
   * filtering (Bayardo et al., WWW'07): order every doc's shingles by
   * ascending global document frequency (rarest first); two docs with
   * Jaccard ≥ t MUST share a shingle within each other's first
   * |A| − ⌈t·|A|⌉ + 1 shingles under that order, so the candidate join
   * indexes only those prefixes — the inverted index shrinks by ~t and,
   * more importantly, candidates form only on RARE shingles, collapsing
   * the quadratic blowup ubiquitous shingles would cause. Candidates are
   * then verified exactly with `array_intersect` on the full shingle
   * arrays. Lossless for the threshold; returns (id_a, id_b, jaccard)
   * with id_a < id_b, jaccard ≥ `minSim`.
   *
   * Shuffles: one agg on shingle (doc frequencies), one join + agg on doc
   * (sorted arrays), one equi-join on prefix shingles, one join on doc
   * for verification — all hash-partitioned, never a cross join.
   */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minSim: Double = 0.8,
      materialize: Boolean = true): DataFrame = {
    // materialize=false keeps the whole pipeline lazy (shared frames
    // recompute per consumer) — for plan inspection and for callers
    // embedding this in a larger lazy pipeline; the default materializes
    // shared frames once and releases them (see below).
    def ckpt(d: DataFrame): DataFrame = if (materialize) d.localCheckpoint() else d
    // The shingled frame feeds THREE consumers (doc frequencies, the
    // candidate self-join, and verification); left lazy, each one re-runs
    // the full shingle scan. Materialize it exactly once with an eager
    // localCheckpoint (MEMORY_AND_DISK, lineage truncated) and release the
    // blocks deterministically once the — much smaller — pair result has
    // materialized: no recompute, and no storage-memory leak for library
    // callers. The pin also fixes non-deterministic inputs (rand()/sample/
    // unordered limit): every branch sees the same materialization.
    //
    // Shingles are HASHED to 64 bits as they are built (hashedShingles
    // kernel: one pass over the UTF-8 bytes, no string allocation, sorted
    // distinct output): every downstream shuffle/sort/join/intersect moves
    // longs, not strings — at 100 TB the difference is the shuffle volume.
    // 64-bit collisions perturb a Jaccard value with probability
    // ~|shingles|²/2⁶⁴ per doc (negligible) — the standard hashed-
    // shingling trade (Broder '97).
    val docs = ckpt(widen(df).select(col(idCol).as("doc"),
      functions.hashedShingles(col(textCol), n).as("sh")))
    val ex = docs.select(col("doc"), explode(col("sh")).as("s"))
    val dfreq = ex.groupBy(col("s")).agg(count(lit(1)).as("freq"))

    // per-doc shingles sorted rare-first (global (freq, s) order), with
    // the Jaccard prefix length p = n_sh − ⌈t·n_sh⌉ + 1
    val ordered = ex.join(dfreq, "s")
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("freq"), col("s")))).as("ord"))
      .select(col("doc"),
        transform(col("ord"), x => x.getField("s")).as("sorted_sh"))
      .withColumn("n_sh", size(col("sorted_sh")))
      .withColumn("prefix",
        slice(col("sorted_sh"), lit(1),
          (col("n_sh") - ceil(col("n_sh") * minSim) + 1).cast("int")))

    // the prefix index feeds BOTH sides of the candidate self-join; left
    // lazy, each side would re-run the doc-frequency join + sort agg above
    val pref = ckpt(ordered.select(col("doc"), explode(col("prefix")).as("s")))
    val candidates = pref.alias("a")
      .join(pref.alias("b"),
        col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()

    // exact verification on the full shingle sets of candidate pairs only;
    // hashedShingles output is ALREADY sorted ascending, so the per-pair
    // intersect is a single codegen'd merge scan with no re-sort
    // (array_intersect hash-builds per row and falls out of codegen —
    // 20x slower on wide candidate sets)
    val sa = docs.select(col("doc").as("id_a"), col("sh").as("sh_a"))
    val sb = docs.select(col("doc").as("id_b"), col("sh").as("sh_b"))
    val out = candidates.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        functions.sortedIntersectCount(col("sh_a"), col("sh_b")).as("inter"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= minSim)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    if (!materialize) return out
    val result = out.localCheckpoint() // eager: pins the (small) pair list …
    release(docs) // … so the big intermediate frames can be dropped NOW
    release(pref)
    result
  }

  /**
   * MinHash + LSH near-dup pairs: `numHashes`-component signatures,
   * banded into `bands` groups of r = numHashes/bands rows; docs agreeing
   * on any full band are candidates (band-hash equi-join); candidate
   * pairs are confirmed by the signature-agreement estimate ≥ `minEst`.
   * Returns (id_a, id_b, est_jaccard). Never compares non-colliding docs.
   */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minEst: Double = 0.5,
      seed: Long = TextHash.DefaultSeed,
      materialize: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    def ckpt(d: DataFrame): DataFrame = if (materialize) d.localCheckpoint() else d
    // Signatures feed both the band self-join (twice) and candidate
    // confirmation — materialized once (eager localCheckpoint), released
    // as soon as the small pair result exists (see jaccardPairs). A
    // signature row is doc + numHashes longs, far smaller than the text.
    val sigs = ckpt(minhashSignatures(df, idCol, textCol, shingleSize, numHashes, seed))

    // band rows NOT checkpointed: both self-join sides re-derive the band
    // hashes map-side from the pinned signatures — cheaper than another
    // materialization job.
    val bandHashes = bandRows(sigs, bands, r)
    val a = bandHashes.alias("a")
    val b = bandHashes.alias("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") &&
          col("a.bandhash") === col("b.bandhash") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()

    // attach signatures only to surviving candidate pairs
    val sa = sigs.select(col("doc").as("id_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc").as("id_b"), col("sig").as("sig_b"))
    val out = candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("est_jaccard") >= minEst)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    if (!materialize) return out
    val result = out.localCheckpoint()
    release(sigs)
    result
  }

  /**
   * MinHash signatures as a standalone (doc, sig) frame — the
   * PERSISTABLE near-dup index behind [[minhashPairsIncremental]]: build
   * once over the corpus, store (e.g. in a snapshot table), and dedup
   * each incoming batch against it without ever re-mining corpus pairs.
   * Entirely map-side (no shuffle): shingling goes through the
   * no-allocation `hashedShingles` kernel; minhash permutes the
   * pre-hashed longs directly. Docs with NULL text or fewer than
   * `shingleSize` tokens have NO shingles: their signatures would be the
   * all-MaxValue constant, so every such doc would collide in every band
   * and be reported as a perfect duplicate of every other (and a NULL
   * key would quadratically self-join one band bucket). They cannot be
   * near-dups — dropped.
   *
   * Consumers comparing signatures MUST use the same (shingleSize,
   * numHashes, seed) the index was built with — under a different seed
   * the permutations differ and identical texts stop colliding.
   */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      seed: Long = TextHash.DefaultSeed): DataFrame =
    widen(df)
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        functions.hashedShingles(col(textCol), shingleSize).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("doc"),
        functions.minhashSignature(col("__sh"), numHashes, seed).as("sig"))

  /** Band rows (doc, band, bandhash) for LSH candidate joins — ids only;
   *  shuffling the numHashes-long signatures through a join would move
   *  ~numHashes·8 bytes per band row for nothing (candidates are rare). */
  private[graft] def bandRows(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    sigs.select(
      col("doc"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bidx => xxhash64(bidx, slice(col("sig"), bidx * r + 1, lit(r))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandhash")

  /** Signature-agreement Jaccard estimate (fraction of matching minhash
   *  slots), with a width guard that rides the scan: comparing against an
   *  index built with a different numHashes would otherwise silently
   *  under-estimate (zip_with null-pads the shorter array). */
  private def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column = {
    def guarded(s: Column) = when(size(s) === numHashes, s)
      .otherwise(raise_error(format_string(
        s"signature width %s does not match numHashes=$numHashes — was the " +
          "index built with different minhash parameters?", size(s))))
    aggregate(zip_with(guarded(sigA), guarded(sigB),
      (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / numHashes
  }

  /**
   * INCREMENTAL near-dup pair mining: match an incoming `batch` against
   * an existing signature index ([[minhashSignatures]] output, read back
   * from wherever it is stored) plus within the batch itself — the
   * steady-state shape of a production ingest pipeline, where the
   * corpus is orders of magnitude larger than each batch and re-mining
   * corpus×corpus pairs per batch ([[minhashPairs]] over the union)
   * would be quadratic over time.
   *
   * The index side is touched exactly once per call: a map-side band
   * explode into the candidate equi-join — it is NEVER self-joined, so
   * per-batch cost is O(index bands + batch²-collisions), independent
   * of corpus pair density. Returns (id_a, id_b, est_jaccard,
   * in_corpus): `id_a` is always a batch doc; `in_corpus` tells whether
   * `id_b` is an index doc (true) or an earlier batch doc (false,
   * id_a < id_b). Batch and index id spaces are assumed disjoint —
   * re-ingesting an id already in the index reports it as a perfect
   * corpus dup, which is usually what re-delivery handling wants.
   *
   * `shingleSize`/`numHashes`/`seed` MUST match the index build
   * (signature-width mismatches are caught by a scan-riding guard;
   * seed mismatches are not detectable — document the seed with the
   * stored index).
   */
  def minhashPairsIncremental(
      indexSigs: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minEst: Double = 0.5,
      seed: Long = TextHash.DefaultSeed,
      materialize: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    def ckpt(d: DataFrame): DataFrame = if (materialize) d.localCheckpoint() else d
    // batch signatures feed two candidate joins + confirmation; the
    // index is streamed through once, never pinned (it is the BIG side)
    val bsigs = ckpt(minhashSignatures(batch, idCol, textCol, shingleSize, numHashes, seed))
    val bBands = bandRows(bsigs, bands, r)
    val iBands = bandRows(indexSigs, bands, r)
    val cross = bBands.alias("a").join(iBands.alias("b"),
        col("a.band") === col("b.band") && col("a.bandhash") === col("b.bandhash"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
    val within = bBands.alias("a").join(bBands.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.bandhash") === col("b.bandhash") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
    val ba = bsigs.select(col("doc").as("id_a"), col("sig").as("sig_a"))
    val bb = bsigs.select(col("doc").as("id_b"), col("sig").as("sig_b"))
    val ib = indexSigs.select(col("doc").as("id_b"), col("sig").as("sig_b"))
    def confirm(cand: DataFrame, sigB: DataFrame, fromCorpus: Boolean) =
      cand.join(ba, "id_a").join(sigB, "id_b")
        .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
        .filter(col("est_jaccard") >= minEst)
        .select(col("id_a"), col("id_b"), col("est_jaccard"),
          lit(fromCorpus).as("in_corpus"))
    val out = confirm(cross, ib, fromCorpus = true)
      .unionByName(confirm(within, bb, fromCorpus = false))
    if (!materialize) return out
    val result = out.localCheckpoint()
    release(bsigs)
    result
  }

  /**
   * Incremental dedup end-to-end: the batch rows worth ingesting, given
   * the corpus signature index. A batch doc is dropped when it matches
   * the corpus (directly, or transitively through a within-batch
   * component any member of which matches the corpus — its content
   * already exists), or when it is a non-minimal member of a clean
   * within-batch component (first occurrence wins, [[dedupNearDuplicates]]
   * semantics). Survivors' [[minhashSignatures]] appended to the index
   * keep the cycle going. Lazy over the batch input; pins only the
   * (small) loser-id set.
   *
   * Survivor-only indexing caveat: a dropped doc's signatures are NOT
   * added, so a later doc near-dupping the DROPPED doc but not its
   * surviving representative can slip through (the A≈B≈C chain where
   * only A is indexed). Batch-mode [[dedupNearDuplicates]] over the
   * full corpus catches such chains; pipelines needing chain recall
   * can index every batch doc's signatures instead, trading index
   * growth for it.
   */
  def dedupIncremental(
      indexSigs: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      minEst: Double = 0.5): DataFrame =
    dedupIncrementalFromPairs(
      minhashPairsIncremental(indexSigs, batch, idCol, textCol, minEst = minEst),
      batch, idCol, releasePairs = true)

  /**
   * [[dedupIncremental]] over an already-mined pair list (the
   * [[minhashPairsIncremental]] output schema). Pipelines that audit or
   * persist the pair list — or, like the q66 declared query, consume it
   * alongside the survivor set — mine ONCE and feed both consumers
   * instead of paying the band join + confirmation twice. `releasePairs`
   * hands ownership of a checkpointed `pairs` to this call (released as
   * soon as the loser set is pinned); leave it false when the caller
   * still needs `pairs` afterwards.
   */
  def dedupIncrementalFromPairs(
      pairs: DataFrame,
      batch: DataFrame,
      idCol: String,
      releasePairs: Boolean = false,
      driverMaxEdges: Long = 1L << 20): DataFrame = {
    // ---- small-pair-list fast path: one bounded probe + one bounded
    // collect (the same 2^20-edge budget [[connectedComponents]] already
    // dispatches its driver union-find under) replaces the CC probe job,
    // the CC edge collect, and the loser-set materialization job with
    // its ~6 exchanges. The probe counts FIRST (`limit().count()`, the
    // connectedComponents dispatch discipline) so an over-budget list
    // never materializes ~1M rows on the driver just to be discarded;
    // callers pass checkpointed pair frames (the q66/q117 shape), so the
    // count-then-collect pair costs two cheap block scans, not two
    // mining passes. Semantics are identical by construction: the same
    // min-id union-find, contaminated components dropped whole, clean
    // components keep their minimum member. Over-budget pair lists take
    // the distributed path unchanged, and so do id types the driver
    // cannot order like Spark ([[fitsDriver]]).
    if (fitsDriver(pairs, driverMaxEdges)) {
      val collected = pairs.select(col("id_a"), col("id_b"), col("in_corpus"))
        .collect()
      val uf = new MinIdUnionFind(pairs.schema("id_a").dataType)
      val corpusMatched = scala.collection.mutable.HashSet[Any]()
      val members = scala.collection.mutable.HashSet[Any]()
      collected.foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        // NULL in_corpus rows are skipped — the distributed path's
        // filter(col)/filter(!col) pair drops them on both sides, and
        // the two dispatch paths must agree row for row
        if (row.isNullAt(2)) ()
        else if (row.getBoolean(2)) corpusMatched += a
        else {
          members += a; members += b
          uf.union(a, b)
        }
      }
      val contam = scala.collection.mutable.HashSet[Any]()
      corpusMatched.foreach(id => if (members.contains(id)) contam += uf.find(id))
      val losers = scala.collection.mutable.HashSet[Any]()
      losers ++= corpusMatched
      members.foreach { id =>
        val root = uf.find(id)
        if (contam.contains(root) || id != root) losers += id
      }
      if (releasePairs) release(pairs)
      if (losers.isEmpty) return batch
      val spark = batch.sparkSession
      val idField = batch.select(idCol).schema.head // resolver-consistent lookup
      import scala.jdk.CollectionConverters._
      val loserDf = spark.createDataFrame(
        losers.toSeq.map(org.apache.spark.sql.Row(_)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "id", idField.dataType, nullable = true))))
      // LocalRelation right side + explicit broadcast: the anti join
      // never shuffles the batch
      return batch.join(broadcast(loserDf),
        batch(idCol) === loserDf("id"), "left_anti")
    }
    val corpusMatched = pairs.filter(col("in_corpus"))
      .select(col("id_a").as("id")).distinct()
    val comps = connectedComponents(
      pairs.filter(!col("in_corpus")).select(col("id_a"), col("id_b")))
    // components with ANY corpus-matched member are dropped whole; clean
    // components keep their minimum id (= the component label)
    val contam = comps.join(corpusMatched, Seq("id"), "left_semi")
      .select(col("component")).distinct()
    val compLosers = comps.join(contam, Seq("component"), "left_semi")
      .select(col("id"))
      .unionByName(comps.join(contam, Seq("component"), "left_anti")
        .filter(col("id") =!= col("component")).select(col("id")))
    val losers = corpusMatched.unionByName(compLosers).distinct()
      .localCheckpoint() // small: duplicate ids only
    // comps' self-pair leg reads the caller's `pairs`, whose blocks only
    // `releasePairs` may drop
    if (releasePairs) { release(comps); release(pairs) }
    else releaseExcept(comps, pairs)
    batch.join(losers, batch(idCol) === losers("id"), "left_anti")
  }

  /** Persistable BANDED index rows (doc, band, bandhash) — the probe
   *  side of [[minhashPairsIncrementalIndexed]]. Store as a snapshot
   *  table RANGE-CLUSTERED on `bandhash` with manifest bloom filters
   *  (`graft.bloom.columns=bandhash`) so a batch's band keys prune the
   *  file list instead of scanning the whole index
   *  ([[buildMinhashIndexTables]] wires exactly that). */
  def minhashBandIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = TextHash.DefaultSeed): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    bandRows(minhashSignatures(df, idCol, textCol, shingleSize, numHashes, seed),
      bands, numHashes / bands)
  }

  /** The `graft.minhash.*` geometry a persisted index table pins. A
   *  build/serve parameter mismatch computes bandhashes over DIFFERENT
   *  signature slices, the band equi-join finds nothing, and every
   *  corpus duplicate silently "survives" — serves validate the pin
   *  ([[checkSignatureGeometry]]) before probing. `bands` is pinned only
   *  by tables that band ([[buildMinhashIndexTables]]). */
  private[graft] def signatureGeometryProps(
      shingleSize: Int = 3, numHashes: Int = 64,
      seed: Long = TextHash.DefaultSeed,
      bands: Option[Int] = None): Map[String, String] =
    scala.collection.immutable.ListMap(
      "graft.minhash.shingleSize" -> shingleSize.toString,
      "graft.minhash.numHashes" -> numHashes.toString) ++
      bands.map(b => "graft.minhash.bands" -> b.toString) +
      ("graft.minhash.seed" -> seed.toString)

  /** Refuse serving `what` (an index table) with geometry it was not
   *  built with; unpinned tables (predating the pin, or foreign) pass. */
  private[graft] def checkSignatureGeometry(
      t: graft.tables.SnapshotTable,
      shingleSize: Int = 3, numHashes: Int = 64,
      seed: Long = TextHash.DefaultSeed,
      bands: Option[Int] = None,
      what: String = "signature table"): Unit = {
    val props = t.properties()
    signatureGeometryProps(shingleSize, numHashes, seed, bands).foreach {
      case (k, v) => props.get(k).foreach(p => require(p == v,
        s"$what ${t.root} was built with ${k.stripPrefix("graft.minhash.")}=$p, " +
          s"serve called with $v"))
    }
  }

  /** Build the two snapshot tables the INDEXED serve probes: the banded
   *  index clustered+bloomed on `bandhash` and the signature table
   *  clustered+bloomed on `doc` — each file then carries tight
   *  min/max stats plus a bloom filter on its probe column, so
   *  [[minhashPairsIncrementalIndexed]]'s key-probed reads skip every
   *  file without a possible hit (the Hudi bloom-index tagging shape).
   *  Index tables are APPEND-ONLY by contract: extend them with
   *  `append` of range-sorted batch rows (new files keep tight stats;
   *  blooms are per-file, so appends never degrade existing pruning) or
   *  rebuild; the indexed serve reads their data files directly and
   *  REFUSES DV/delta/column-mapping overlays
   *  ([[graft.tables.SnapshotTable.keyProbedRead]]). */
  def buildMinhashIndexTables(
      spark: org.apache.spark.sql.SparkSession,
      bandRoot: String,
      sigRoot: String,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = TextHash.DefaultSeed,
      filesPerTable: Int = 16): (graft.tables.SnapshotTable, graft.tables.SnapshotTable) = {
    val sigs =
      minhashSignatures(corpus, idCol, textCol, shingleSize, numHashes, seed)
        .localCheckpoint() // one corpus scan feeds both tables
    val bandDf = bandRows(sigs, bands, numHashes / bands)
    // file counts scale with row counts so per-file blooms stay at
    // their FP design point under the manifest-size cap (the
    // bloomSizedFiles lesson: saturated blooms at a fixed file count
    // cost selective probes false-positive files that grow with scale)
    val sigRows = sigs.count()
    val fileCount: Map[String, Int] = Map(
      "bandhash" -> graft.tables.FileBloom.bloomSizedFiles(
        filesPerTable, sigRows * bands),
      "doc" -> graft.tables.FileBloom.bloomSizedFiles(filesPerTable, sigRows))
    def build(root: String, df: DataFrame, keyCol: String) = {
      val t = graft.tables.SnapshotTable.create(spark, root, df.limit(1))
        .setProperties(Map( // seed commit carries the bloom config
          "graft.bloom.columns" -> keyCol,
          "graft.bloom.manifest" -> "true") ++
          signatureGeometryProps(shingleSize, numHashes, seed, Some(bands)))
      t.overwrite(df.repartitionByRange(fileCount(keyCol), col(keyCol)))
      t
    }
    val bandTable = build(bandRoot, bandDf, "bandhash")
    val sigTable = build(sigRoot, sigs, "doc")
    release(sigs)
    (bandTable, sigTable)
  }

  /**
   * [[minhashPairsIncremental]] against a PERSISTED, file-pruned index
   * ([[buildMinhashIndexTables]]) — the serve path whose per-batch cost
   * scales with the batch's MATCHES, not the index size. The flat form
   * streams the whole signature index through the band join every call:
   * correct, but a 100 TB index pays a full scan per ingest batch. Here
   * the batch's band keys (|batch|·bands longs, driver-bounded) key-probe
   * the banded table's manifest — range stats plus per-file blooms — so
   * only files that may hold a colliding band are read; the candidates'
   * corpus ids then key-probe the signature table the same way for the
   * confirmation sigs. Both probes are conservative (files without
   * stats/filters always stay), so the result is EXACTLY
   * [[minhashPairsIncremental]]'s, spec-pinned.
   *
   * `maxProbeKeys` bounds both driver-side key sets (the
   * `MergeInto.ProbeMaxKeys` discipline); a batch over the bound fails
   * loudly — split the batch rather than silently degrading.
   */
  def minhashPairsIncrementalIndexed(
      bandTable: graft.tables.SnapshotTable,
      sigTable: graft.tables.SnapshotTable,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minEst: Double = 0.5,
      seed: Long = TextHash.DefaultSeed,
      maxProbeKeys: Int = 1 << 20): DataFrame =
    indexedPairs(bandTable, sigTable, batch, idCol, textCol, shingleSize,
      numHashes, bands, minEst, seed, maxProbeKeys, BroadcastMaxRows)

  /** Counted batch-row budget under which [[minhashPairsIncrementalIndexed]]
   *  broadcasts the batch side of its band and confirmation joins. */
  private[graft] val BroadcastMaxRows = 1L << 20

  /** [[minhashPairsIncrementalIndexed]] with its broadcast budget as an
   *  argument, so tests can force the un-hinted joins. */
  private[graft] def indexedPairs(
      bandTable: graft.tables.SnapshotTable, sigTable: graft.tables.SnapshotTable,
      batch: DataFrame, idCol: String, textCol: String, shingleSize: Int,
      numHashes: Int, bands: Int, minEst: Double, seed: Long,
      maxProbeKeys: Int, broadcastMaxRows: Long): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // refuse a geometry mismatch against what the index was BUILT with
    // ([[buildMinhashIndexTables]] pins it in the table properties): e.g.
    // bands=8 against a bands=16 index passes every divisibility check
    // but band-hashes different signature slices, so the equi-join finds
    // zero collisions and corpus duplicates silently survive
    for (t <- Seq(bandTable, sigTable))
      checkSignatureGeometry(t, shingleSize, numHashes, seed, Some(bands), "index table")
    val r = numHashes / bands
    // keyProbedRead refuses DV/delta/column-mapping overlays loudly —
    // the raw pruned-file read would silently miss them otherwise
    def prunedRead(t: graft.tables.SnapshotTable, column: String,
        keys: Array[Any]): DataFrame =
      t.keyProbedRead(column, keys.toSeq)
    def boundedKeys(df: DataFrame, column: String, what: String): Array[Any] =
      boundedKeysCounted(df, column, what)._1
    // distinct keys AND the total row count from ONE job: the broadcast
    // hints below need a COUNTED row bound, not the distinct-band-key
    // cap — a dup-heavy batch (the dedup use case) can carry millions of
    // rows over few distinct keys, and a forced broadcast of
    // batch_rows × bands band rows would OOM where the shuffle join
    // degrades gracefully. groupBy+count has the distinct's exact
    // shuffle shape, so the row bound costs no extra job. An over-cap
    // key set still refuses loudly before its (then partial) sum is read.
    def boundedKeysCounted(
        df: DataFrame, column: String, what: String): (Array[Any], Long) = {
      val rows = df.groupBy(col(column)).agg(count(lit(1)).as("__n"))
        .limit(maxProbeKeys + 1).collect()
      require(rows.length <= maxProbeKeys,
        s"$what key set exceeds maxProbeKeys=$maxProbeKeys — split the batch")
      (rows.map(_.get(0)), rows.map(_.getLong(1)).sum)
    }
    val bsigs = minhashSignatures(batch, idCol, textCol, shingleSize, numHashes, seed)
      .localCheckpoint()
    def maybeBroadcast(df: DataFrame, rows: Long): DataFrame =
      if (rows <= broadcastMaxRows) broadcast(df) else df
    // bBands derives from the PINNED signatures by a pure projection
    // (posexplode over sig slices) — recomputing it per consumer is
    // cheaper than the extra materialization job a second checkpoint
    // would spend (the serve path's cost is dominated by sequential job
    // count, not per-row work)
    val bBands = bandRows(bsigs, bands, r)
    val (bandKeys, bBandRows) =
      boundedKeysCounted(bBands, "bandhash", "batch band")
    // posexplode emits exactly `bands` band rows per signature row, so
    // the signature/confirmation relations are bBandRows / bands
    val batchRows = bBandRows / bands
    val idxBands = prunedRead(bandTable, "bandhash", bandKeys)
    // the batch side of every band join is row-counted above: under the
    // budget, broadcasting removes the exchange the planner would
    // otherwise put under both join sides (LogicalRDD carries no size
    // stats, so it would default to a shuffle join); over it, the joins
    // stay un-hinted and AQE right-sizes them
    val cross = maybeBroadcast(bBands.alias("a"), bBandRows).join(idxBands.alias("b"),
        col("a.band") === col("b.band") && col("a.bandhash") === col("b.bandhash"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
      .localCheckpoint() // small: actual band collisions only
    val idxSigs = prunedRead(sigTable, "doc",
      boundedKeys(cross, "id_b", "candidate corpus-id"))
    val within = maybeBroadcast(bBands.alias("a"), bBandRows).join(bBands.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.bandhash") === col("b.bandhash") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
    val ba = bsigs.select(col("doc").as("id_a"), col("sig").as("sig_a"))
    val bb = bsigs.select(col("doc").as("id_b"), col("sig").as("sig_b"))
    val ib = idxSigs.select(col("doc").as("id_b"), col("sig").as("sig_b"))
    // batch signatures are bounded by the same counted budget: broadcast
    // them into the confirmation joins; the corpus-side sigs (ib) ride
    // the matches and stay un-hinted — a dup-heavy batch can make them
    // large, and AQE right-sizes that join at runtime
    def confirm(cand: DataFrame, sigB: DataFrame, fromCorpus: Boolean) =
      cand.join(maybeBroadcast(ba, batchRows), "id_a")
        .join(if (fromCorpus) sigB else maybeBroadcast(sigB, batchRows), "id_b")
        .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
        .filter(col("est_jaccard") >= minEst)
        .select(col("id_a"), col("id_b"), col("est_jaccard"),
          lit(fromCorpus).as("in_corpus"))
    val result = confirm(cross, ib, fromCorpus = true)
      .unionByName(confirm(within, bb, fromCorpus = false))
      .localCheckpoint()
    release(bsigs); release(cross)
    result
  }

  /** The minhash geometry a persisted index pair was built at
   *  ([[buildMinhashIndexTables]] pins all four parameters in the table
   *  properties). Streaming/append callers derive their signing
   *  parameters FROM the table instead of trusting call-site defaults —
   *  the ivfAppendTo discipline; an unpinned table refuses loudly. */
  final case class MinhashGeometry(
      shingleSize: Int, numHashes: Int, bands: Int, seed: Long)

  def indexGeometryOf(t: graft.tables.SnapshotTable): MinhashGeometry = {
    val props = t.properties()
    def req(k: String): String = props.getOrElse(s"graft.minhash.$k",
      throw new IllegalArgumentException(
        s"requirement failed: table ${t.root} pins no minhash $k — not an " +
          "index table built by buildMinhashIndexTables"))
    MinhashGeometry(req("shingleSize").toInt, req("numHashes").toInt,
      req("bands").toInt, req("seed").toLong)
  }

  /**
   * Extend a persisted minhash index pair with `batch`'s rows — the
   * ingest half of the indexed-serve lifecycle ([[ivfAppendTo]]'s role
   * for the dedup family). Signatures are computed under the geometry
   * the tables PIN (never call-site parameters: a drifted caller would
   * band-hash different slices and poison the index silently); band and
   * signature rows land range-sorted on their probe columns so appended
   * files keep tight range stats and per-file blooms, and key-probed
   * serves keep pruning. Appends never degrade existing files' pruning
   * (blooms are per-file), but overlapping-range append files accumulate
   * — run [[compactMinhashIndex]] periodically to restore the
   * files-per-probe-key floor.
   *
   * `action` + the skip flags support streaming exactly-once: a sink
   * passes its `stream-<batchId>` tag and per-table redelivery skips
   * (each table's append is individually idempotent); the
   * `expect*Version` guards make the appends NOT blind when the rows
   * were computed against a pinned index snapshot.
   */
  def minhashIndexAppend(
      bandTable: graft.tables.SnapshotTable,
      sigTable: graft.tables.SnapshotTable,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      batchFiles: Int = 4,
      action: String = "append",
      expectBandVersion: Option[Long] = None,
      expectSigVersion: Option[Long] = None,
      skipBand: Boolean = false,
      skipSig: Boolean = false): Unit = {
    val g = indexGeometryOf(sigTable)
    require(indexGeometryOf(bandTable) == g,
      s"index tables ${bandTable.root} and ${sigTable.root} pin different " +
        "minhash geometry — not a pair built together")
    val sigs = minhashSignatures(batch, idCol, textCol,
      g.shingleSize, g.numHashes, g.seed).localCheckpoint()
    try {
      if (!skipBand)
        bandTable.appendAs(
          bandRows(sigs, g.bands, g.numHashes / g.bands)
            .repartitionByRange(batchFiles, col("bandhash")),
          action, expectVersion = expectBandVersion)
      if (!skipSig)
        sigTable.appendAs(sigs.repartitionByRange(batchFiles, col("doc")),
          action, expectVersion = expectSigVersion)
    } finally release(sigs)
  }

  /** Maintenance pass for a persisted minhash index pair: full clustered
   *  rewrite of each table on its probe column
   *  ([[graft.tables.SnapshotTable.recluster]]) — after many
   *  [[minhashIndexAppend]] batches the per-append files overlap the
   *  corpus files' key ranges, so a probe key that once pruned to one
   *  file opens one PER APPEND; reclustering restores disjoint per-file
   *  ranges (and rebuilds per-file + manifest blooms through the normal
   *  write path). Geometry pins carry forward — serves validate the
   *  compacted tables exactly as the originals; concurrent appends
   *  rebase on top via the disjoint-file rule. Returns files rewritten
   *  per table. */
  def compactMinhashIndex(
      bandTable: graft.tables.SnapshotTable,
      sigTable: graft.tables.SnapshotTable,
      filesPerTable: Int = 16): (Int, Int) = {
    require(indexGeometryOf(bandTable) == indexGeometryOf(sigTable),
      s"index tables ${bandTable.root} and ${sigTable.root} pin different " +
        "minhash geometry — not a pair built together")
    // filesPerTable is a floor: the rewrite re-applies the bloom sizing
    // rule at the table's CURRENT row count (manifest stats, no scan),
    // so a long-grown index compacts to un-saturated per-file blooms
    def sized(t: graft.tables.SnapshotTable): Int =
      graft.tables.FileBloom.bloomSizedFiles(filesPerTable,
        t.manifestEntries().map(_.rows).filter(_ > 0).sum)
    (bandTable.recluster(Seq("bandhash"), sized(bandTable)),
      sigTable.recluster(Seq("doc"), sized(sigTable)))
  }

  /**
   * SimHash near-dup pairs with Hamming distance ≤ `maxHamming`,
   * generalized pigeonhole banding (Manku et al., WWW'07): the 64-bit
   * simhash is cut into `chunks` equal slices; ≤ `maxHamming` differing
   * bits can dirty at most `maxHamming` slices, so any qualifying pair
   * agrees on some (chunks − maxHamming)-subset of slices. Each doc
   * indexes under every such subset (C(chunks, chunks−maxHamming) keys),
   * candidates come from a key equi-join, confirmed exactly by
   * `bit_count(a XOR b)`. Returns (id_a, id_b, hamming).
   *
   * 100 TB sizing: the default 4 chunks gives 16-bit match keys — fine
   * to ~10⁸ docs, but each key bucket grows linearly with corpus size and
   * the per-bucket self-join quadratically. Raising `chunks` widens the
   * effective key to (chunks − maxHamming)·(64/chunks) bits (e.g.
   * chunks=8, maxHamming=3 → 56 keys/doc of 40 bits), trading index rows
   * for collision-free buckets.
   */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      chunks: Int = 4): DataFrame = {
    // NULL-text docs hash to NULL and would share every pigeonhole key
    // (xxhash64 skips null children) — a quadratic bucket; drop them
    val hashed = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        functions.simhash64(TextAnalysis.tokens(col(textCol))).as("sh"))
    simhashPairsFromSignatures(hashed, "doc", "sh", maxHamming, chunks)
  }

  /** [[simhashPairs]] over PRECOMPUTED 64-bit simhash signatures — the
   *  entry point when one signature pass feeds several band geometries
   *  (q49's chunks=4 vs chunks=8 invariance harness) or when signatures
   *  are persisted for incremental dedup: tokenize+simhash is the
   *  dominant corpus scan, and recomputing it per decomposition doubles
   *  the whole job. NULL signatures are dropped (same quadratic-bucket
   *  guard as the text path). */
  def simhashPairsFromSignatures(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3,
      chunks: Int = 4): DataFrame = {
    val hashed = sigs
      .filter(col(sigCol).isNotNull)
      .select(col(idCol).as("doc"), col(sigCol).as("sh"))
    val keyed = pigeonholeKeyed(hashed, maxHamming, chunks)
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    a.join(b,
        col("a.combo") === col("b.combo") &&
          col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** One pigeonhole decomposition's banded key rows (doc, sh, combo,
   *  key): one 64-bit key per (chunks − maxHamming)-subset of slices,
   *  xxhash64 over (subset ordinal, slice values…). */
  private def pigeonholeKeyed(
      hashed: DataFrame, maxHamming: Int, chunks: Int): DataFrame = {
    require(chunks >= 2 && 64 % chunks == 0, "chunks must divide 64")
    require(maxHamming < chunks,
      s"$chunks-chunk pigeonhole supports maxHamming <= ${chunks - 1}")
    val w = 64 / chunks
    val mask = (1L << w) - 1
    val combos = (0 until chunks).combinations(chunks - maxHamming).toSeq
    hashed.select(col("doc"), col("sh"),
      posexplode(array(combos.zipWithIndex.map { case (idxs, ci) =>
        xxhash64((lit(ci) +: idxs.map(i =>
          shiftright(col("sh"), i * w).bitwiseAND(lit(mask)))): _*)
      }: _*)))
      .withColumnRenamed("pos", "combo")
      .withColumnRenamed("col", "key")
  }

  /**
   * [[simhashPairsFromSignatures]] under SEVERAL chunk decompositions in
   * ONE mining plan — the q26/q49 harness shape, where the same pinned
   * signatures are mined at chunks=4 AND chunks=8 to prove the banding
   * decomposition-invariant. Run separately, each decomposition pays its
   * own band exchange + join + distinct over the same signature frame;
   * here the per-decomposition key rows union (tagged `dec` = index into
   * `chunksList`) into ONE self-join whose two sides share ONE exchange
   * (identical subplans reuse), and one distinct (guide §2.4: two
   * operations keyed the same way share one exchange).
   *
   * Returns (dec, id_a, id_b, hamming). Per-decomposition equivalence is
   * structural: the join keys carry `dec`, so candidates never cross
   * decompositions, and dropDuplicates over (dec, id_a, id_b) is the
   * per-frame (id_a, id_b) dedup applied within each tag — filter on
   * `dec` to recover exactly [[simhashPairsFromSignatures]]'s output
   * (ExtSpec-pinned).
   */
  def simhashPairsFromSignaturesMulti(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      chunksList: Seq[Int]): DataFrame = {
    require(chunksList.nonEmpty, "chunksList must be non-empty")
    val hashed = sigs
      .filter(col(sigCol).isNotNull)
      .select(col(idCol).as("doc"), col(sigCol).as("sh"))
    val keyed = chunksList.zipWithIndex.map { case (chunks, di) =>
      pigeonholeKeyed(hashed, maxHamming, chunks).withColumn("dec", lit(di))
    }.reduce(_ unionByName _)
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    a.join(b,
        col("a.dec") === col("b.dec") &&
          col("a.combo") === col("b.combo") &&
          col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.dec").as("dec"), col("a.doc").as("id_a"),
        col("b.doc").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .dropDuplicates("dec", "id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("dec"), col("id_a"), col("id_b"), col("hamming"))
  }

  /**
   * Perceptual-hash IMAGE near-dup pairs — the multimodal
   * decode→dedup closure: [[Multimodal.dHash]] (9×8 luminance-gradient
   * difference hash) over the DECODED pixels of each asset, then the
   * 64-bit-signature pigeonhole machinery ([[simhashPairsFromSignatures]]
   * — banded chunk equi-join, id pairs dedup'd, Hamming verified;
   * never an all-pairs comparison). A slightly-perturbed image copy
   * (brightness jitter, single-region edit) moves only the gradient
   * bits its pixels touch, so copies sit within a small Hamming radius
   * of their original while unrelated images scatter across the 2⁶⁴
   * hash space.
   *
   * 100 TB shape: decode+hash is one linear mapPartitions pass (the
   * [[Multimodal.decodeImages]] batching), the candidate join is
   * equi-partitioned on chunk keys exactly like text simhash, and
   * undecodable payloads hash to NULL and are dropped — never stubbed
   * into a hash that could fake a duplicate.
   */
  def imageNearDupPairs(
      assets: DataFrame,
      maxHamming: Int = 3,
      chunks: Int = 4): DataFrame =
    simhashPairsFromSignatures(
      Multimodal.imageDHashes(assets), "asset_id", "dhash", maxHamming, chunks)

  /**
   * Embedding cosine near-dup pairs: hyperplane-LSH bucket equi-join for
   * candidates, exact cosine ≥ `minCos` filter. Buckets with few planes
   * keep recall high; at scale, multi-probe = union over several seeds.
   *
   * 100 TB sizing: a FIXED plane count is fixed-CARDINALITY (2^planes
   * buckets per seed) — at 10⁹ rows a handful of planes leaves ~4M
   * vectors per bucket and the bucket self-join goes quadratic (measured
   * superlinear, 10× scaling exponent 1.15, at 8 planes). So the default
   * entry point derives (planes, seeds) from the corpus row count via
   * [[Similarity.autoLshParams]] — planes to ⌈log₂(n / targetBucketRows)⌉
   * holding per-bucket load flat, seeds to a recall floor (mirrors
   * [[simhashPairs]]'s chunk-width scaling recipe; measured exponent
   * 0.49 at the same 10× point). Costs one `count()` action
   * (metadata-cheap over parquet scans). Pin an explicit geometry with
   * [[embeddingPairsFixed]] — a test/debug override, not the scale path.
   *
   * `targetBucketRows` defaults far below [[Similarity.lshTopKAuto]]'s
   * 1024 because the cost models differ: a probe pays O(bucketRows) per
   * lookup, but PAIR mining pays O(bucketRows²) per bucket — total
   * candidate pairs ≈ N·bucketRows/2 per seed. Halving the bucket
   * (one more plane) halves that work while the seeds needed for the
   * recall floor grow only logarithmically, so small buckets win until
   * the per-seed fixed cost (one corpus pass to hash + shuffle)
   * dominates — 64 sits near that knee across the measured range.
   */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double = 0.95,
      targetBucketRows: Long = 64,
      targetRecall: Double = 0.90,
      materialize: Boolean = true): DataFrame = {
    if (!materialize) {
      val (planes, seeds) =
        Similarity.autoLshParams(df.count(), targetBucketRows, minCos, targetRecall)
      return embeddingPairsFixed(df, idCol, vecCol, minCos, planes, seeds,
        materialize = false)
    }
    // pin the projected base FIRST, then size from the pinned count: the
    // upstream pipeline (which may itself be a join/filter chain, not a
    // bare scan) executes exactly once — counting the raw frame before
    // checkpointing it would run it twice
    val base = df.select(col(idCol).as("doc"), col(vecCol).as("v")).localCheckpoint()
    val (planes, seeds) =
      Similarity.autoLshParams(base.count(), targetBucketRows, minCos, targetRecall)
    pairsFromBase(base, minCos, planes, seeds)
  }

  /** [[embeddingPairs]] with an EXPLICIT (planes, seeds) geometry — the
   *  override for tests pinning a specific bucket layout (and for the
   *  bench's fixed-vs-auto scaling comparison). Not the default entry
   *  point: a fixed plane count saturates as the corpus grows (see
   *  [[embeddingPairs]]). */
  def embeddingPairsFixed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double,
      planes: Int,
      seeds: Seq[Long],
      materialize: Boolean = true): DataFrame = {
    if (!materialize)
      return pairsPlan(df.select(col(idCol).as("doc"), col(vecCol).as("v")),
        minCos, planes, seeds)
    pairsFromBase(
      df.select(col(idCol).as("doc"), col(vecCol).as("v")).localCheckpoint(),
      minCos, planes, seeds)
  }

  /** Mining over a PINNED (doc, v) base: every seed's bucketing pass
   *  reads the base's cached blocks — ONE corpus scan for all seeds,
   *  where a per-seed union over the raw input rescans the corpus once
   *  per seed (auto sizing reaches 64). An explode-based single pass
   *  measured SLOWER at bench scale: struct allocation in the hot
   *  projection plus ballooned post-explode size estimates. Blocks
   *  release once the — much smaller — pair list materializes (the
   *  jaccardPairs lifetime pattern). */
  private def pairsFromBase(
      base: DataFrame, minCos: Double, planes: Int, seeds: Seq[Long]): DataFrame = {
    val result = pairsPlan(base, minCos, planes, seeds).localCheckpoint()
    release(base)
    result
  }

  /** The lazy mining plan over a (doc, v) frame — also served raw for
   *  plan inspection (`materialize = false`).
   *
   *  Shuffle discipline (round 10, replacing round 9's id-only candidate
   *  shuffles): the exact-cosine confirmation runs INSIDE the banded
   *  self-join, so the candidate pair set — the only thing here that
   *  grows super-linearly (≈ N·bucketRows/2 per seed) — is never
   *  materialized OR shuffled at all: pairs stream out of the join
   *  straight into the codegen'd cosine filter, and only the (tiny)
   *  surviving pair set is deduped across seeds. The shuffle that
   *  remains is the keyed corpus itself, N·seeds rows with the vector
   *  aboard — LINEAR in the corpus, ~280 B/row at 64 dims.
   *
   *  History of this shape: carrying vectors through the candidate
   *  DISTINCT shuffle (candidates × vector width) OOMed the r8 10×
   *  bench; round 9's fix moved id-only candidates through distinct and
   *  re-joined vectors after — correct, but the r10 100× stress measured
   *  it at wall-clock exp 1.73: three shuffles of a 57 M-row candidate
   *  list (distinct + two vector joins) dwarf the 1.6 M-row keyed
   *  corpus shuffle this plan does instead. A cross-seed duplicate
   *  candidate now evaluates cosine once per colliding seed (~2× for
   *  true near-dups, ~1.003× for the random majority) — arithmetic,
   *  not shuffle, and dozens of times cheaper. */
  private def pairsPlan(
      base: DataFrame, minCos: Double, planes: Int, seeds: Seq[Long]): DataFrame = {
    val keyed = seeds.map { s =>
      base.select(col("doc"), col("v"), lit(s).as("seed"),
        functions.hyperplaneBucket(col("v"), planes, s).as("bucket"))
    }.reduce(_ unionByName _)
    val a = keyed.alias("a")
    val b = keyed.alias("b")
    a.join(b,
        col("a.seed") === col("b.seed") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .withColumn("cos", functions.cosineSimilarity(col("a.v"), col("b.v")))
      .filter(col("cos") >= minCos)
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"), col("cos"))
      // cosine is a deterministic function of the pair, so cross-seed
      // duplicates are exact-row duplicates: distinct over survivors
      .distinct()
  }

  /** Historical alias for [[embeddingPairs]] from when auto-sizing was
   *  the opt-in and a fixed 8-plane geometry the default; auto-sizing IS
   *  the default now. Kept so existing callers keep compiling. */
  def embeddingPairsAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double = 0.95,
      targetBucketRows: Long = 64,
      targetRecall: Double = 0.90): DataFrame =
    embeddingPairs(df, idCol, vecCol, minCos, targetBucketRows, targetRecall)

  /**
   * Connected components over an undirected pair list (id_a, id_b).
   * Returns (id, component) where component = min id reachable.
   *
   * Dispatch: near-dup pair graphs are tiny relative to the corpus (the
   * whole point of banding), so when the edge count is at most
   * `driverMaxEdges` the closure runs as a driver-side union-find —
   * O(E α(E)), one collect of id pairs, no iteration jobs. The dispatch
   * probe is `limit(driverMaxEdges + 1).count()` — it stops as soon as
   * the bound is exceeded instead of forcing the full pair plan. Larger
   * graphs take the distributed path: LARGE-STAR / SMALL-STAR alternation
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC'14), which converges in O(log n) rounds — NOT O(graph diameter)
   * like naive min-label propagation, so a 100 TB corpus with a long
   * duplicate chain still finishes in a handful of passes.
   *
   * Convergence is ENFORCED: if the edge set has not reached its star
   * fixpoint within `maxIter` rounds, the call throws instead of
   * returning silently-wrong labels (the default bounds any graph up to
   * ~2^25 nodes with a wide margin).
   *
   * The distributed path `localCheckpoint`s each round's edge set
   * (truncating lineage so the logical plan stays O(1) across rounds — an
   * unbounded plan is a driver/planner blowup on a deep 100 TB pair
   * graph) and releases the superseded round's checkpoint blocks once
   * nothing references them.
   *
   * Callers should pass a MATERIALIZED pair frame (as
   * [[dedupNearDuplicates]] does): a lazy frame re-runs its mining
   * pipeline once for the dispatch probe and again for the closure.
   */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 25,
      driverMaxEdges: Long = 1L << 20): DataFrame =
    if (fitsDriver(pairs, driverMaxEdges)) driverComponents(pairs)
    else propagateComponents(pairs, maxIter)

  /** Driver dispatch gate shared by [[connectedComponents]] and
   *  [[dedupIncrementalFromPairs]]: the id type must be
   *  [[graft.DriverOrdering.orderable]] and the pair list at most
   *  `driverMaxEdges` rows (the probe stops at `driverMaxEdges + 1`).
   *  Doubles fail the first test — Spark equates -0.0 and 0.0 in keys
   *  while driver equality does not — and so do binaries, which have
   *  neither JVM ordering nor value equality. */
  private def fitsDriver(pairs: DataFrame, driverMaxEdges: Long): Boolean =
    graft.DriverOrdering.orderable(pairs.schema("id_a").dataType) && {
      val max = math.max(0L, driverMaxEdges)
      pairs.limit(math.min(max + 1, Int.MaxValue.toLong).toInt).count() <= max
    }

  /** Driver-side union-find whose root is each set's minimum id under
   *  [[graft.DriverOrdering]] (UTF8String binary order for strings) — the
   *  label the distributed path computes with `least`/`min`, so which id
   *  labels a component never depends on the dispatch. Only for
   *  orderable id types ([[fitsDriver]]). */
  private final class MinIdUnionFind(idType: org.apache.spark.sql.types.DataType) {
    private val parent = scala.collection.mutable.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Any, b: Any): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (graft.DriverOrdering.lt(idType, ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
  }

  /** Driver-side union-find closure for small pair graphs of orderable
   *  ids. */
  private def driverComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val idField = pairs.schema("id_a")
    val edges = pairs.select(col("id_a"), col("id_b")).collect()
    val uf = new MinIdUnionFind(idField.dataType)
    edges.foreach(row => uf.union(row.get(0), row.get(1)))
    val ids = edges.flatMap(r => Seq(r.get(0), r.get(1))).distinct
    val labels = ids.map(id => org.apache.spark.sql.Row(id, uf.find(id)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(labels.toSeq, math.max(1, labels.length / 100000)),
      StructType(Seq(
        StructField("id", idField.dataType, nullable = true),
        StructField("component", idField.dataType, nullable = true))))
  }

  /**
   * Distributed large-star/small-star alternation (Kiveris et al.,
   * SoCC'14). Edges are kept oriented (u, v) with v < u — parent pointers
   * toward smaller ids. Each round:
   *
   *  - LARGE-STAR: every node u links its strictly-LARGER neighbors to
   *    m(u) = min(N(u) ∪ {u}) — long chains collapse geometrically;
   *  - SMALL-STAR: every node u re-links its smaller-or-equal neighbors
   *    (and itself) to its minimum neighbor — partial stars flatten.
   *
   * The fixpoint is a forest of depth-1 stars rooted at each component's
   * minimum id. Fixpoint detection compares (count, xxhash64 XOR-fold)
   * edge-set signatures between rounds — one scan of the (checkpointed)
   * edge set, no join; a false positive needs a 64-bit collision between
   * DIFFERENT edge sets of equal size (~2⁻⁶⁴, negligible). XOR, not sum:
   * the fold must not overflow under ANSI arithmetic, and edge sets are
   * distinct so cancellation cannot occur.
   *
   * Each round is two agg+join pairs hash-partitioned on the node id —
   * never a cross join, no driver data.
   */
  private def propagateComponents(pairs: DataFrame, maxIter: Int): DataFrame = {
    // nodes appearing ONLY in self-pairs (x, x) carry no edge but are
    // still their own component — kept aside so both dispatch paths
    // return identical label sets
    val selfOnly = pairs.filter(col("id_a") === col("id_b"))
      .select(col("id_a").as("id"), col("id_a").as("component"))
      .distinct()
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint() // eager: materializes + truncates lineage
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(u, v))").as("h")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: m(u) over the undirected neighborhood, emit (v, m(u))
      // for neighbors v > u (output stays oriented: v > u >= m(u))
      val nbrs = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val large = nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint() // feeds two consumers below; avoid recompute
      // small-star: per node u over its smaller neighbors, re-link them
      // (and u itself) to m(u) = the minimum neighbor
      val mins2 = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(mins2, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins2.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint()
      val nextSig = signature(small)
      release(edges) // superseded round: nothing references it anymore
      release(large)
      edges = small
      converged = nextSig == sig
      sig = nextSig
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter large-star/small-star rounds " +
        "— raise maxIter (rounds needed grow with log(nodes), so this indicates " +
        "an extraordinarily deep pair graph or a bug, not normal data)")
    // star fixpoint: every edge is (node, component root); roots label
    // themselves; self-pair-only nodes rejoin as their own singletons
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .union(selfOnly.join(
        edges.select(col("u").as("id")).union(edges.select(col("v").as("id"))),
        Seq("id"), "left_anti"))
      .distinct()
  }

  /**
   * Drop the executor blocks behind a `localCheckpoint`ed dataset. A local
   * checkpoint IS its persisted blocks (lineage is truncated, so they are
   * not recomputable) — only call once no live plan references the dataset.
   * The pair frames returned by [[jaccardPairs]]/[[minhashPairs]] and the
   * labels returned by [[connectedComponents]] are local checkpoints;
   * long-lived callers release them here when done.
   *
   * Reliability tradeoff (100 TB note): local-checkpoint blocks are
   * non-replicated, so losing an executor mid-operator fails the job
   * (instead of recomputing, as a cache would). Jobs needing
   * loss-tolerance should configure a reliable checkpoint dir and swap
   * `localCheckpoint()` for `checkpoint()`; for the bounded per-operator
   * lifetimes here, the restart cost is the documented tradeoff.
   */
  def release(ds: DataFrame): Unit = leafRdds(ds).foreach(_.unpersist(false))

  /** [[release]] `ds` except the blocks `keep` also reads. */
  private def releaseExcept(ds: DataFrame, keep: DataFrame): Unit = {
    val kept = leafRdds(keep).map(_.id).toSet
    leafRdds(ds).filterNot(r => kept(r.id)).foreach(_.unpersist(false))
  }

  private def leafRdds(ds: DataFrame) =
    ds.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /**
   * Near-dup dedup end-to-end: find pairs (MinHash), group transitively,
   * keep the minimum id per component. Returns the surviving rows —
   * lazy over the input, anti-joined against a materialized loser set
   * (the only block the result pins; its intermediates — pair list,
   * component labels — are released before returning).
   */
  def dedupNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minEst: Double = 0.5): DataFrame =
    keepMinIdSurvivors(df, idCol,
      minhashPairs(df, idCol, textCol, minEst = minEst))

  /** The shared dedup tail: duplicate pairs → connected components →
   *  drop every non-min-id member of each component via an anti-join
   *  against the (small) loser set. `pairs` must be checkpointed or
   *  cheap to recompute; it is released here. */
  private def keepMinIdSurvivors(
      df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("id") =!= col("component")).select(col("id"))
      .localCheckpoint() // small: the duplicate ids only
    release(comps)
    release(pairs)
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /**
   * SemDeDup pair mining (Abbas et al., "SemDeDup: Data-efficient
   * learning at web-scale through semantic deduplication", 2023):
   * cluster the embedding corpus with a k-means coarse quantizer, then
   * mine cosine-similar pairs WITHIN each cluster only. The clustered
   * variant of [[embeddingPairs]]: hyperplane LSH buckets by random
   * projections (data-independent), SemDeDup buckets by learned
   * centroids — near-identical embeddings land in the same cluster, and
   * the paper's observation is that semantic duplicates essentially
   * never cross clusters at reasonable k.
   *
   * Scale shape: centroid training is a bounded driver-side sample
   * ([[Similarity.trainCentroids]], the FAISS recipe), assignment is a
   * map-side projection (no shuffle), and pair mining is one `list`
   * equi-join — no candidate ever crosses clusters, so the quadratic
   * term is bounded by the largest cluster. Hold cluster size constant
   * as the corpus grows by scaling nlist ∝ n / targetClusterRows
   * (SemDeDup itself runs k = 11k clusters on LAION-440M);
   * [[semDedupPairsAuto]] wires that sizing in.
   */
  def semDedupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double = 0.95,
      nlist: Int = 16,
      iters: Int = 5,
      sampleN: Int = 10000): DataFrame = {
    val cents = Similarity.trainCentroids(df, idCol, vecCol, nlist, iters, sampleN)
    val base = df.select(col(idCol).as("doc"), col(vecCol).as("v"))
      .withColumn("list", element_at(functions.nearestLists(col("v"), cents, 1), 1))
    val a = base.alias("a")
    val b = base.alias("b")
    a.join(b, col("a.list") === col("b.list") && col("a.doc") < col("b.doc"))
      .withColumn("cos", functions.cosineSimilarity(col("a.v"), col("b.v")))
      .filter(col("cos") >= minCos)
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"), col("cos"))
  }

  /** [[semDedupPairs]] with nlist sized to hold clusters near
   *  `targetClusterRows` as the corpus grows — one `count()` action. */
  def semDedupPairsAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double = 0.95,
      targetClusterRows: Long = 4096): DataFrame = {
    val n = df.count()
    val nlist = math.max(1L, (n + targetClusterRows - 1) / targetClusterRows)
    require(nlist <= Int.MaxValue, s"nlist $nlist out of range")
    semDedupPairs(df, idCol, vecCol, minCos, nlist.toInt)
  }

  /** SemDeDup end-to-end: within-cluster cosine pairs → connected
   *  components → keep the min-id representative of every duplicate
   *  group (the paper keeps one exemplar per semantic cluster-duplicate
   *  set). Same anti-join-vs-small-loser-set shape as
   *  [[dedupNearDuplicates]]. */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double = 0.95,
      nlist: Int = 16): DataFrame =
    keepMinIdSurvivors(df, idCol,
      semDedupPairs(df, idCol, vecCol, minCos, nlist).localCheckpoint())
}
