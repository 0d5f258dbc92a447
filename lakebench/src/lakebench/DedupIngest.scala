package lakebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.ext.Dedup

/** Near-duplicate filtering on ingest: each batch is probed against a
 *  persisted MinHash index (bloom-pruned reads), deduplicated, and its
 *  survivors appended to the index. Shuffle-heavy compute in `ext`, with
 *  no MERGE and no SQL. */
object DedupIngest {
  val CorpusDocs = 4000
  val BatchDocs = 1000
  val IndexFiles = 16
  /** Batches every run measures at least (a fixed prefix): the same
   *  sample set in every run, and the batches the counts cover. */
  val Prefix = 5

  /** Batch `b`: half near-copies of distinct corpus documents, which must
   *  all be dropped, and half novel documents, which must all survive. */
  def batch(seed: Long, b: Int): (Seq[Row], Set[Long]) = {
    val rng = new SplittableRandom(Gen.mix(seed, 1000L + b))
    val sources = mutable.LinkedHashSet[Long]()
    while (sources.size < BatchDocs / 2) sources += rng.nextLong(CorpusDocs.toLong)
    val base = 1000000L * (b + 1)
    val copies = sources.toSeq.zipWithIndex.map { case (src, j) =>
      Row(base + 2 * j, Gen.nearCopy(seed, src, base + j))
    }
    val novel = (0 until BatchDocs / 2).map(j => base + 2 * j + 1)
    (copies ++ novel.map(id => Row(id, Gen.docWords(seed, id).mkString(" "))), novel.toSet)
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    import scala.jdk.CollectionConverters._
    val (bandT, sigT) = ctx.setup { (d, scale, _) =>
      Dedup.buildMinhashIndexTables(spark, s"$d/bands", s"$d/sigs",
        Gen.corpus(spark, seed, (CorpusDocs * scale).toInt), "id", "text", filesPerTable = IndexFiles)
    }.last
    var failed = 0L
    var attempted = 0L
    val pairCounts, logBytes, openMs = mutable.ArrayBuffer[Double]()

    def ingest(b: Int, counted: Boolean): Unit = {
      val (rows, novel) = batch(seed, b)
      val df = spark.createDataFrame(rows.asJava, Gen.DocSchema)
      attempted += 1
      try {
        val (pairs, survivors) = tracer.span("ext", "batch") {
          val (pairs, survivors) = tracer.span("ext", "dedup_serve") {
            val pairs = Dedup.minhashPairsIncrementalIndexed(bandT, sigT, df, "id", "text")
            (pairs, Dedup.dedupIncrementalFromPairs(pairs, df, "id"))
          }
          tracer.span("ext", "dedup_append")(Dedup.minhashIndexAppend(bandT, sigT, survivors, "id", "text"))
          (pairs, survivors)
        }
        val kept = survivors.select("id").collect().map(_.getLong(0)).toSet
        if (traced && counted) pairCounts += pairs.count()
        Dedup.release(pairs)
        if (kept != novel) {
          failed += 1
          System.err.println(s"[lakebench] batch $b: ${novel.diff(kept).size} novel docs dropped, " +
            s"${kept.diff(novel).size} planted copies kept")
        }
        if (traced) {
          val t0 = System.nanoTime()
          graft.tables.SnapshotTable(spark, sigT.root).manifestEntries()
          openMs += (System.nanoTime() - t0) / 1e6
          if (counted) Seq(bandT, sigT).foreach(t => logBytes += Ctx.slotBytes(t.root, t.currentVersion()))
        }
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[lakebench] batch $b failed: $e")
      }
    }

    ingest(0, counted = false) // warm-up: JIT and code generation, untimed
    val firstSpan = tracer.mark
    val measured = ctx.loop(minSteps = Prefix) { i =>
      ingest(i + 1, counted = i < Prefix)
      if (i == Prefix - 1) {
        ctx.measureStorage(Seq(bandT, sigT).map(t => Ctx.storedBytes(t.root)).sum,
          Seq(bandT, sigT).flatMap(_.manifestEntries()))
      }
    }
    val batches = tracer.of("batch").filter(_.id >= firstSpan)
    val serves = tracer.of("dedup_serve").filter(_.id >= firstSpan)
    val appends = tracer.of("dedup_append").filter(_.id >= firstSpan)
    val batchMs = batches.map(_.wallMs)

    val e2e = Map(
      "op_p50_ms" -> Stats.median(batchMs),
      "items_per_s" -> batches.size.toDouble * BatchDocs / measured,
      "commit_p50_ms" -> Stats.median(appends.map(_.wallMs)))
    ctx.detail("batch_ms") = Stats.summary(batchMs)
    ctx.detail("append_ms") = Stats.summary(appends.map(_.wallMs))
    ctx.detail("batch_docs") = BatchDocs

    val layers: Map[String, Double] = if (!traced) Map.empty else {
      val jobs = tracer.jobsBySpan()
      Layers.exec(serves ++ appends, jobs, Map("dedup_serve" -> Prefix, "dedup_append" -> Prefix)) ++ Map(
        "ext.dedup.serve_s" -> Stats.median(serves.map(_.wallMs / 1e3)),
        "ext.dedup.append_s" -> Stats.median(appends.map(_.wallMs / 1e3)),
        "ext.dedup.candidate_pairs" -> Stats.mean(pairCounts.toSeq),
        "ext.dedup.index_files" -> ctx.storageLayers("tables.live_files"),
        "tables.log_bytes_per_commit" -> Stats.median(logBytes.toSeq),
        "tables.open_ms" -> Stats.median(openMs.toSeq))
    }
    Outcome(attempted, failed, e2e, layers)
  }
}
